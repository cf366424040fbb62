"""Real audio round trip: the WAV codec, the staged-corpus decode
query, and the energy-envelope fingerprint's planted-twin semantics."""

import hashlib
import struct

import pytest

from spark_data_test_spark.operators import multimodal as mm


def _pcm(n_samples, seed=3):
    """Deterministic pseudo-random little-endian PCM16 buffer."""
    out = bytearray()
    x = seed
    for _ in range(n_samples):
        x = (x * 1103515245 + 12345) % (1 << 31)
        out += struct.pack("<h", (x & 0xFFFF) - 32768)
    return bytes(out)


def test_wav_roundtrip():
    pcm = _pcm(64)
    wav = mm.encode_wav_pcm16(8000, pcm)
    rate, channels, bits, data = mm.decode_wav(wav)
    assert (rate, channels, bits) == (8000, 1, 16)
    assert data == pcm


def test_wav_decoder_walks_chunks_in_any_order():
    # Hand-build a container with a junk chunk first, an ODD-sized
    # chunk (exercises word-alignment padding), and data BEFORE fmt.
    pcm = _pcm(5)
    fmt = struct.pack("<HHIIHH", 1, 1, 16000, 32000, 2, 16)
    body = (
        b"junk" + struct.pack("<I", 3) + b"abc" + b"\x00"  # odd size, padded
        + b"data" + struct.pack("<I", len(pcm)) + pcm
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    )
    wav = b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body
    rate, channels, bits, data = mm.decode_wav(wav)
    assert (rate, channels, bits) == (16000, 1, 16)
    assert data == pcm


def test_wav_decoder_rejects_malformed():
    with pytest.raises(ValueError):
        mm.decode_wav(b"OggS not a wav")
    with pytest.raises(ValueError):  # RIFF but no fmt/data chunks
        mm.decode_wav(b"RIFF" + struct.pack("<I", 4) + b"WAVE")
    # non-PCM format code
    fmt = struct.pack("<HHIIHH", 3, 1, 8000, 16000, 2, 16)
    body = (
        b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", 0)
    )
    with pytest.raises(ValueError):
        mm.decode_wav(b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body)


def _expected_pcm_hex(text):
    """The `_AUD_HEX_SQL` waveform truth: eight chained md5 digests."""
    return "".join(
        hashlib.md5((text + f"~a{i}").encode()).hexdigest() for i in range(8)
    )


def test_audio_decode_query(spark, sf_dir):
    """The distributed path: staged real WAVs -> manifest scan ->
    mapInPandas chunk-walking decode; decoded PCM must equal the
    planted chained-md5 truth, twins included (sample 1 zeroed)."""
    rows = mm.audio_decoded(spark, sf_dir).collect()
    docs = {
        r.doc_id: r.text
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    }
    planted = {d for d in docs if d % 17 == 0}
    assert len(rows) == len(docs) + len(planted)
    by_id = {r.doc_id: r for r in rows}
    for doc_id, text in docs.items():
        r = by_id[doc_id]
        assert (r.sample_rate, r.n_samples) == (mm._AUD_SR, mm._AUD_N)
        assert r.pcm_hex == _expected_pcm_hex(text)
    for doc_id in planted:
        twin = by_id[doc_id + mm._AUD_PLANT_OFFSET]
        assert twin.pcm_hex == "0000" + _expected_pcm_hex(docs[doc_id])[4:]


def test_audio_fingerprint_finds_every_twin(spark, sf_dir):
    """Every planted twin pair must surface (the perturbation touches
    only frame 0, so >= 7 of 8 band signatures survive and candidacy
    is guaranteed), with frames_diff <= 1."""
    pairs = {
        (r.doc_a, r.doc_b): r.frames_diff
        for r in mm.multimodal_audio_fingerprint(spark, sf_dir).collect()
    }
    docs = [
        r.doc_id
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
        if r.doc_id % 17 == 0
    ]
    assert docs
    for doc_id in docs:
        key = (doc_id, doc_id + mm._AUD_PLANT_OFFSET)
        assert key in pairs
        assert pairs[key] <= 1


def test_media_arrivals_stage_a_cold_root(spark, sf_dir, tmp_path):
    """A corpus nothing has staged yet (a fresh sf_dir maps to fresh
    media roots) lands its WAVs and manifest, and the stream decodes
    every announced clip: one per audio-corpus row with doc_id % 4 = 0."""
    import shutil

    from spark_data_test_spark.streaming.windows import streaming_media_arrivals

    cold = str(tmp_path / "sf")
    spark.read.parquet(f"{sf_dir}/documents.parquet").limit(40).write.parquet(
        f"{cold}/documents.parquet"
    )
    try:
        row = streaming_media_arrivals(spark, cold).first()
        want = sorted(
            r.doc_id
            for r in mm._audio_corpus(spark, cold).where("doc_id % 4 = 0").collect()
        )
        assert want
        assert (row.n_clips, row.first_doc, row.last_doc) == (
            len(want), want[0], want[-1]
        )
    finally:
        for kind in ("wav", "wav_arrivals"):
            shutil.rmtree(mm._media_root(kind, cold), ignore_errors=True)
