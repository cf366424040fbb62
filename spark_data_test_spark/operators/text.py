"""Text-analysis operators over the ``documents`` table (north-star).

Language-ID (stopword n-gram heuristic), quality scoring, token
counting, and document fingerprinting — all pure Catalyst expressions
(no UDFs), so they whole-stage-codegen and scale linearly with input
splits; at 100 TB these are embarrassingly parallel scan-side maps with
at most one hash aggregate.

Cross-engine portability: scoring uses replace-based substring counts
with integer ``div``; fingerprints use md5 (identical hex in Spark and
DuckDB); all divisions are single double ops on identical operands.
"""

import pyspark.sql.functions as F
from pyspark.sql import Window

from spark_data_test_spark.operators.relational import query, t

# stopword trigrams per language, space-framed so they match whole words
LANG_MARKERS = {
    "en": [" the ", " and ", " of "],
    "de": [" der ", " und ", " die "],
    "fr": [" le ", " et ", " la "],
    "es": [" el ", " y ", " los "],
}
_LANG_ORDER = ["en", "de", "fr", "es"]


def _count_sql(pat):
    """Occurrences of pat in the padded text, as an exact integer."""
    return (
        f"(length(padded) - length(replace(padded, '{pat}', ''))) // {len(pat)}"
    )


def _count_spark(pat):
    return F.expr(
        f"(length(padded) - length(replace(padded, '{pat}', ''))) div {len(pat)}"
    )


def _lang_scores_spark(df):
    padded = df.withColumn("padded", F.concat(F.lit(" "), F.col("text"), F.lit(" ")))
    for lang, pats in LANG_MARKERS.items():
        expr = None
        for p in pats:
            c = _count_spark(p)
            expr = c if expr is None else expr + c
        padded = padded.withColumn(f"s_{lang}", expr)
    return padded


_SCORE_SQL = {
    lang: " + ".join(_count_sql(p) for p in pats)
    for lang, pats in LANG_MARKERS.items()
}

_PRED_SQL = """
CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
     WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
     WHEN s_fr >= s_es THEN 'fr'
     ELSE 'es' END
"""


@query(
    "text_language_id",
    f"""
    WITH scored AS (
      SELECT doc_id, lang,
             {", ".join(f"({_SCORE_SQL[lang]}) AS s_{lang}" for lang in _LANG_ORDER)}
      FROM (SELECT doc_id, lang, ' ' || text || ' ' AS padded FROM documents))
    SELECT doc_id, lang AS labeled_lang, ({_PRED_SQL}) AS pred_lang
    FROM scored
    """,
)
def text_language_id(spark, sf_dir):
    """Language-ID by stopword-trigram voting with a fixed-priority
    argmax tie-break (en > de > fr > es). Runs `language_id`."""
    d = language_id(t(spark, sf_dir, "documents"))
    return d.select("doc_id", F.col("lang").alias("labeled_lang"), "pred_lang")


@query(
    "text_quality_score",
    """
    WITH feat AS (
      SELECT doc_id,
             length(text) AS n_chars_actual,
             (length(trim(text)) - length(replace(trim(text), ' ', ''))) + 1 AS n_words
      FROM documents)
    SELECT doc_id, n_chars_actual, n_words,
           (CAST(n_chars_actual - n_words + 1 AS DOUBLE) / n_words) AS avg_word_len,
           least(1.0, CAST(n_words AS DOUBLE) / 100.0) * 0.5
             + least(1.0, (CAST(n_chars_actual - n_words + 1 AS DOUBLE) / n_words) / 8.0) * 0.5
             AS quality
    FROM feat
    """,
)
def text_quality_score(spark, sf_dir):
    """Quality heuristics: word count, average word length, and a
    bounded composite score — identical arithmetic on both engines.
    Runs `quality_score`."""
    d = quality_score(t(spark, sf_dir, "documents"))
    return d.select(
        "doc_id",
        F.col("n_chars").alias("n_chars_actual"),
        "n_words",
        "avg_word_len",
        "quality",
    )


@query(
    "text_token_count",
    """
    SELECT doc_id,
           (length(trim(text)) - length(replace(trim(text), ' ', ''))) + 1
             AS ws_tokens,
           CAST((length(text) + 3) // 4 AS BIGINT) AS est_bpe_tokens
    FROM documents
    """,
)
def text_token_count(spark, sf_dir):
    """Token counting: whitespace tokens + a BPE-ish estimate
    (~4 chars/token, the common LLM rule of thumb). Runs
    `token_counts`."""
    d = token_counts(t(spark, sf_dir, "documents"))
    return d.select("doc_id", "ws_tokens", "est_bpe_tokens")


@query(
    "text_fingerprint",
    """
    WITH shingles AS (
      SELECT doc_id, substr(text, i, 8) AS sh
      FROM documents, unnest(generate_series(1, length(text) - 7, 4)) AS u(i)
      WHERE length(text) >= 8)
    SELECT doc_id,
           min(md5(sh || '#0')) AS fp0,
           min(md5(sh || '#1')) AS fp1,
           min(md5(sh || '#2')) AS fp2,
           min(md5(sh || '#3')) AS fp3
    FROM shingles GROUP BY doc_id
    """,
)
def text_fingerprint(spark, sf_dir):
    """Document fingerprinting: 4 MinHash values over strided char-8-gram
    shingles (the rolling-hash-sketch idea; md5 is the portable hash
    family, seeded by suffixing the seed index). Runs `fingerprint`,
    which takes each minimum in-row (`array_min`), so the query plans
    no shuffle; the oracle's explode + GROUP BY min is the independent
    formulation."""
    return fingerprint(t(spark, sf_dir, "documents"))


@query(
    "text_regex_tokens",
    """
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT) AS word_tokens,
           CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS number_tokens,
           CAST(len(regexp_extract_all(text, '[a-z]{6,}')) AS BIGINT) AS long_tokens
    FROM documents
    """,
)
def text_regex_tokens(spark, sf_dir):
    """Regex tokenization (BPE-ish pre-tokenizer classes): token counts
    by character-class pattern. Patterns stay in the common
    Java-regex/RE2 subset so both engines agree."""
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.expr("regexp_extract_all(text, '[a-z]+', 0)")).cast("long").alias("word_tokens"),
        F.size(F.expr("regexp_extract_all(text, '[0-9]+', 0)")).cast("long").alias("number_tokens"),
        F.size(F.expr("regexp_extract_all(text, '[a-z]{6,}', 0)")).cast("long").alias("long_tokens"),
    )


_TOP_BIGRAMS = 3


@query(
    "text_bigram_profile",
    f"""
    SELECT lang, bg, cnt FROM (
      SELECT lang, bg, cnt,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY cnt DESC, bg) AS rn
      FROM (
        SELECT lang, substr(text, i, 2) AS bg, COUNT(*) AS cnt
        FROM documents,
             unnest(generate_series(1, length(text) - 1)) AS u(i)
        WHERE substr(text, i, 2) NOT LIKE '% %'
        GROUP BY lang, substr(text, i, 2)))
    WHERE rn <= {_TOP_BIGRAMS}
    """,
)
def text_bigram_profile(spark, sf_dir):
    """Character-bigram language profile: the top space-free bigrams
    per language by corpus frequency — the classic n-gram language-
    model feature (langid-style detectors rank exactly these profiles).
    Shape: explode to (lang, bigram) with map-side partial counts into
    ONE shuffle, then a per-language window top-k; fully tie-broken by
    the bigram itself."""
    from pyspark.sql import Window

    d = t(spark, sf_dir, "documents")
    bigrams = d.select(
        "lang",
        F.explode(
            # explicit guard: Spark's sequence(1, n) DESCENDS when n < 1,
            # so a 0/1-char text would otherwise emit spurious short
            # "bigrams" (the oracle's empty generate_series never does) —
            # guarded at the source, same pattern as _BIGRAMS_EXPR, not
            # left to the post-filter
            F.expr(
                "CASE WHEN length(text) >= 2 THEN"
                " transform(sequence(1, length(text) - 1),"
                " i -> substring(text, i, 2)) ELSE array() END"
            )
        ).alias("bg"),
    ).where((F.length("bg") == 2) & ~F.col("bg").contains(" "))
    counts = bigrams.groupBy("lang", "bg").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("lang").orderBy(F.col("cnt").desc(), "bg")
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _TOP_BIGRAMS)
        .drop("rn")
    )


_DECON_L = 16  # contamination n-gram length (chars)
_DECON_STRIDE = 4  # corpus-side stride; eval side is EVERY offset
_DECON_EVAL = 20  # eval set: doc_id < 20


@query(
    "corpus_decontaminate",
    f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 300000 AS doc_id, 'eval leak: ' || text AS text
      FROM documents WHERE doc_id < {_DECON_EVAL}),
    csh AS (
      SELECT DISTINCT doc_id, substr(text, i, {_DECON_L}) AS sh
      FROM corpus,
           unnest(generate_series(1, length(text) - {_DECON_L - 1},
                                  {_DECON_STRIDE})) AS u(i)
      WHERE length(text) >= {_DECON_L} AND doc_id >= {_DECON_EVAL}),
    esh AS (
      SELECT DISTINCT substr(text, i, {_DECON_L}) AS sh, doc_id AS eval_id
      FROM documents,
           unnest(generate_series(1, length(text) - {_DECON_L - 1})) AS u(i)
      WHERE length(text) >= {_DECON_L} AND doc_id < {_DECON_EVAL})
    SELECT c.doc_id,
           COUNT(DISTINCT c.sh) AS n_shared_ngrams,
           COUNT(DISTINCT e.eval_id) AS n_eval_docs
    FROM csh c JOIN esh e ON e.sh = c.sh
    GROUP BY c.doc_id
    """,
)
def corpus_decontaminate(spark, sf_dir):
    """Benchmark decontamination: flag training documents sharing any
    16-char n-gram with the eval set (doc_id < 20), GPT-3/PaLM-style.

    The standard asymmetric shape: the SMALL eval side shingles at
    EVERY offset (so containment is caught regardless of alignment —
    the planted leaks prepend an 11-char prefix precisely to break
    stride alignment), the big corpus side at stride 4, and the match
    is a hash join of the corpus scan against the BROADCAST eval
    n-gram dictionary — at 100 TB this is one scan-side explode +
    broadcast join + per-doc aggregate, no shuffle of the corpus
    beyond the final per-doc count. Counting DISTINCT shared n-grams
    and distinct eval docs hit gives the triage signal the dedup
    decision needs (1 shared 16-gram = boilerplate; hundreds = a
    leaked document). Runs `decontaminate`."""
    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    planted = d.where(F.col("doc_id") < _DECON_EVAL).select(
        (F.col("doc_id") + 300000).alias("doc_id"),
        F.concat(F.lit("eval leak: "), F.col("text")).alias("text"),
    )
    corpus = d.unionByName(planted)
    return decontaminate(
        corpus.where(F.col("doc_id") >= _DECON_EVAL),
        d.where(F.col("doc_id") < _DECON_EVAL),
        n=_DECON_L,
        stride=_DECON_STRIDE,
    )


_VOCAB_TOPK = 50


@query(
    "text_vocabulary_topk",
    f"""
    WITH toks AS (
      SELECT doc_id, tok
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents)
      WHERE tok <> ''),
    stats AS (
      SELECT tok, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
      FROM toks GROUP BY tok)
    SELECT tok, tf, df FROM (
      SELECT tok, tf, df,
             ROW_NUMBER() OVER (ORDER BY df DESC, tf DESC, tok) AS rn
      FROM stats)
    WHERE rn <= {_VOCAB_TOPK}
    """,
)
def text_vocabulary_topk(spark, sf_dir):
    """Corpus vocabulary head: top-{_VOCAB_TOPK} tokens by document
    frequency (then term frequency, then the token itself — a total
    order, so the cut is deterministic). The tokenizer-training /
    stopword-mining primitive: one explode + one aggregate with
    map-side partial counts, then a driver-size top-k — no global
    sort of the vocabulary at any scale."""
    d = t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    ).where(F.col("tok") != "")
    stats = toks.groupBy("tok").agg(
        F.count(F.lit(1)).alias("tf"), F.countDistinct("doc_id").alias("df")
    )
    return (
        stats.orderBy(F.col("df").desc(), F.col("tf").desc(), "tok")
        .limit(_VOCAB_TOPK)
    )


_EMAIL_RE = r"[a-z0-9]+@[a-z]+\.[a-z]+"
_PHONE_RE = r"555-[0-9]{4}"

# word-bigram array from a `ws` token-array column; the size guard is
# load-bearing on arbitrary frames (sequence(1, -1) DESCENDS in Spark)
_BIGRAMS_EXPR = (
    "CASE WHEN size(ws) >= 2 THEN transform(sequence(1, size(ws) - 1),"
    " i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1)))"
    " ELSE array() END"
)


@query(
    "text_pii_scrub",
    f"""
    WITH corpus AS (
      SELECT doc_id,
             CASE WHEN doc_id % 11 = 0
                  THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                       || '@mail.com or call 555-'
                       || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                  ELSE text END AS text
      FROM documents),
    hits AS (
      SELECT doc_id,
             len(regexp_extract_all(text, '{_EMAIL_RE}')) AS n_emails,
             len(regexp_extract_all(text, '{_PHONE_RE}')) AS n_phones,
             regexp_replace(
               regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
               '{_PHONE_RE}', '<PHONE>', 'g') AS scrubbed
      FROM corpus)
    SELECT doc_id, CAST(n_emails AS BIGINT) AS n_emails,
           CAST(n_phones AS BIGINT) AS n_phones, scrubbed
    FROM hits WHERE n_emails + n_phones > 0
    """,
)
def text_pii_scrub(spark, sf_dir):
    """PII detection + redaction, the pre-training scrub pass: count
    and mask email/phone patterns, emitting only documents that
    contained any. Planted PII (every 11th doc gets a deterministic
    address + number appended) gives the operator ground truth on the
    synthetic corpus. Pure scan-side ``regexp_extract_all`` /
    ``regexp_replace`` — whole-stage codegen, zero shuffles before the
    filter, trivially linear at 100 TB. Patterns are deliberately
    dialect-portable (character classes + bounded quantifiers behave
    identically in Java regex and RE2). Runs `pii_scrub`."""
    d = t(spark, sf_dir, "documents")
    corpus = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 11 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@mail.com or call 555-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    hits = pii_scrub(corpus).select(
        "doc_id",
        F.col("n_email").alias("n_emails"),
        F.col("n_phone").alias("n_phones"),
        "scrubbed",
    )
    return hits.where(F.col("n_emails") + F.col("n_phones") > 0)


@query(
    "text_repetition_profile",
    """
    WITH words AS (
      SELECT doc_id, tok, row_number() OVER (PARTITION BY doc_id) AS seq
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents)
      WHERE tok <> ''),
    toks AS (SELECT doc_id, tok FROM words),
    tok_stats AS (
      SELECT doc_id, MAX(c) AS max_tok, SUM(c) AS n_toks
      FROM (SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2)
      GROUP BY doc_id),
    bgs AS (
      SELECT a.doc_id, a.tok || ' ' || b.tok AS bg
      FROM words a JOIN words b
        ON b.doc_id = a.doc_id AND b.seq = a.seq + 1),
    bg_stats AS (
      SELECT doc_id, MAX(c) AS max_bg, SUM(c) AS n_bgs
      FROM (SELECT doc_id, bg, COUNT(*) AS c FROM bgs GROUP BY 1, 2)
      GROUP BY doc_id)
    SELECT ts.doc_id,
           CAST(ROUND(1000000.0 * ts.max_tok / ts.n_toks) AS BIGINT)
             AS top_token_1e6,
           CAST(ROUND(1000000.0 * bs.max_bg / bs.n_bgs) AS BIGINT)
             AS top_bigram_1e6
    FROM tok_stats ts JOIN bg_stats bs ON bs.doc_id = ts.doc_id
    """,
)
def text_repetition_profile(spark, sf_dir):
    """Repetition filtering signals (Gopher/RefinedWeb-style quality
    rules): per document, the fraction of tokens taken by the most
    frequent token and the fraction of word-bigrams taken by the most
    frequent bigram, as exact 1e-6 integers. Highly repetitive docs
    (boilerplate, keyword stuffing, generation loops) spike both.
    Shape: ONE shuffle on doc_id (split/slide to bigrams inside the
    scan with higher-order array functions), then per-(doc, gram)
    counts whose partial aggregation rides the same partitioning —
    no window over raw tokens, no second scan. Docs with < 2 tokens
    have no bigram and drop out (inner join), mirroring the oracle.
    Runs `repetition_profile`."""
    return repetition_profile(t(spark, sf_dir, "documents"))


_TFIDF_K = 3


@query(
    "text_tfidf_topk",
    f"""
    WITH toks AS (
      SELECT doc_id, tok
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents)
      WHERE tok <> ''),
    tf AS (
      SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY doc_id, tok),
    df AS (
      SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok)
    SELECT doc_id, tok, tf, df, rank FROM (
      SELECT t.doc_id, t.tok, t.tf, d.df,
             ROW_NUMBER() OVER (
               PARTITION BY t.doc_id
               ORDER BY CAST(t.tf AS DOUBLE) / d.df DESC, t.tok) AS rank
      FROM tf t JOIN df d ON d.tok = t.tok)
    WHERE rank <= {_TFIDF_K}
    """,
)
def text_tfidf_topk(spark, sf_dir):
    """Distinctive terms per document: the top-{_TFIDF_K} tokens by
    tf/df — term frequency in the doc over document frequency in the
    corpus, the rank-equivalent of tf-idf with raw (reciprocal-df) idf.
    Logs are deliberately absent: ``ln`` is not bit-specified across
    runtimes, while the double division ``tf/df`` of two small integers
    is IEEE-exactly-rounded and identical in Spark and DuckDB, so the
    per-doc ordering (tie-broken by token) is bit-deterministic; the
    emitted columns themselves (tf, df, rank) are pure integers.

    Shape at 100 TB: per-(doc, token) counts shuffle once on the
    explode output with map-side partials; df aggregates FROM tf (no
    second corpus scan); the df join is token-keyed (AQE broadcasts it
    while the vocabulary head is small); the top-k window shuffles on
    doc_id. No global sorts, no re-tokenization. Runs `tfidf_topk`."""
    return tfidf_topk(t(spark, sf_dir, "documents"), k=_TFIDF_K)


# Trained-classifier coefficients in milli-units: (intercept, n_words,
# n_chars, n_digit_runs, n_stopwords). Integer so the score is exact.
_QM_WEIGHTS = (-2500, 40, -1, -120, 300)
_QM_KEEP_MILLI = 0  # keep when the linear score clears the margin


@query(
    "text_quality_model_score",
    f"""
    WITH model AS (
      SELECT * FROM (VALUES ({", ".join(map(str, _QM_WEIGHTS))}))
        AS m(w0, w_words, w_chars, w_digits, w_stop)),
    feat AS (
      SELECT doc_id,
             (length(trim(text)) - length(replace(trim(text), ' ', ''))) + 1
               AS n_words,
             length(text) AS n_chars,
             CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT)
               AS n_digit_runs,
             (length(' ' || text || ' ')
                - length(replace(' ' || text || ' ', ' the ', ''))) // 5
             + (length(' ' || text || ' ')
                - length(replace(' ' || text || ' ', ' and ', ''))) // 5
             + (length(' ' || text || ' ')
                - length(replace(' ' || text || ' ', ' of ', ''))) // 4
               AS n_stop
      FROM documents)
    SELECT f.doc_id, f.n_words, f.n_chars, f.n_digit_runs, f.n_stop,
           CAST(m.w0 + m.w_words * f.n_words + m.w_chars * f.n_chars
                + m.w_digits * f.n_digit_runs + m.w_stop * f.n_stop
                AS BIGINT) AS score_milli,
           CAST(CASE WHEN m.w0 + m.w_words * f.n_words
                          + m.w_chars * f.n_chars
                          + m.w_digits * f.n_digit_runs
                          + m.w_stop * f.n_stop >= {_QM_KEEP_MILLI}
                     THEN 1 ELSE 0 END AS BIGINT) AS keep
    FROM feat f CROSS JOIN model m
    """,
)
def text_quality_model_score(spark, sf_dir):
    """Model-based quality filtering — the fasttext-classifier pattern
    every LLM data pipeline runs: a trained linear model's coefficients
    arrive AS DATA (a one-row weights table, broadcast), each document
    is featurized scan-side, and the keep/drop decision is the sign of
    the linear score. The logistic link is monotone, so thresholding
    the sigmoid at p is thresholding the linear score at logit(p) —
    the sigmoid itself is never evaluated (``exp`` is not
    bit-specified across runtimes; the integer milli-score is exact).

    Shape at 100 TB: featurization is pure Catalyst string arithmetic
    inside whole-stage codegen; the model joins as a broadcast 1-row
    frame (swap in a real coefficient table without replanning); zero
    shuffles — embarrassingly parallel scan->score->filter."""
    model = F.broadcast(
        t(spark, sf_dir, "documents").sparkSession.createDataFrame(
            [_QM_WEIGHTS], "w0 long, w_words long, w_chars long, w_digits long, w_stop long"
        )
    )
    d = _lang_scores_spark(t(spark, sf_dir, "documents"))  # reuse padded col
    feat = d.select(
        "doc_id",
        (
            F.length(F.trim(F.col("text")))
            - F.length(F.replace(F.trim(F.col("text")), F.lit(" "), F.lit("")))
            + 1
        ).alias("n_words"),
        F.length("text").alias("n_chars"),
        F.size(F.expr("regexp_extract_all(text, '[0-9]+', 0)"))
        .cast("long")
        .alias("n_digit_runs"),
        (_count_spark(" the ") + _count_spark(" and ") + _count_spark(" of "))
        .cast("long")
        .alias("n_stop"),
    )
    z = (
        F.col("w0")
        + F.col("w_words") * F.col("n_words")
        + F.col("w_chars") * F.col("n_chars")
        + F.col("w_digits") * F.col("n_digit_runs")
        + F.col("w_stop") * F.col("n_stop")
    )
    return feat.crossJoin(model).select(
        "doc_id",
        "n_words",
        "n_chars",
        "n_digit_runs",
        "n_stop",
        z.cast("long").alias("score_milli"),
        F.when(z >= _QM_KEEP_MILLI, 1).otherwise(0).cast("long").alias("keep"),
    )


_FAM_K = 64  # corpus-profile head: top-K space-free bigrams


@query(
    "text_bigram_familiarity",
    f"""
    WITH bg AS (
      SELECT doc_id, substr(text, i, 2) AS bg
      FROM documents,
           unnest(generate_series(1, length(text) - 1)) AS u(i)
      WHERE substr(text, i, 2) NOT LIKE '% %'),
    profile AS (
      SELECT bg FROM (
        SELECT bg, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, bg) AS rn
        FROM bg GROUP BY bg)
      WHERE rn <= {_FAM_K}),
    scored AS (
      SELECT b.doc_id,
             COUNT(*) AS total_bigrams,
             CAST(SUM(CASE WHEN p.bg IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS matched_bigrams
      FROM bg b LEFT JOIN profile p ON p.bg = b.bg
      GROUP BY b.doc_id)
    SELECT doc_id, CAST(total_bigrams AS BIGINT) AS total_bigrams,
           matched_bigrams,
           CAST(matched_bigrams AS DOUBLE) / CAST(total_bigrams AS DOUBLE)
             AS familiarity
    FROM scored
    """,
)
def text_bigram_familiarity(spark, sf_dir):
    """Language-model-style familiarity scoring without the language
    model: what fraction of a document's character bigrams fall in the
    corpus's top-{_FAM_K} bigram head. Gibberish, foreign-language, and
    encoding-garbage documents score low — the same signal KenLM
    perplexity filters give a pretraining pipeline, reduced to exact
    integer counts (a true log-prob sum would ride ``ln``, which is not
    bit-specified across engines; the head-hit rate is ordinal-
    equivalent for filtering and bit-exact).

    Two-pass shape, both passes scale-safe: pass 1 builds the corpus
    profile (explode -> one map-side-combinable count -> global top-K
    window over the TINY distinct-bigram frame); pass 2 re-explodes and
    LEFT-joins the {_FAM_K}-row profile (broadcast) then aggregates per
    doc — one shuffle keyed by doc_id. The profile is self-trained on
    the same corpus; point it at a reference corpus by swapping the
    profile input."""
    d = t(spark, sf_dir, "documents")
    bg = d.select(
        "doc_id",
        F.explode(
            # guarded at the source (sequence(1, -1) DESCENDS in Spark;
            # see _BIGRAMS_EXPR), not left to the length-2 post-filter
            F.expr(
                "CASE WHEN length(text) >= 2 THEN"
                " transform(sequence(1, length(text) - 1),"
                " i -> substring(text, i, 2)) ELSE array() END"
            )
        ).alias("bg"),
    ).where((F.length("bg") == 2) & ~F.col("bg").contains(" "))
    w = Window.orderBy(F.col("cnt").desc(), "bg")
    profile = (
        bg.groupBy("bg")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _FAM_K)
        .select("bg", F.lit(1).alias("hit"))
    )
    scored = (
        bg.join(F.broadcast(profile), "bg", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("total_bigrams"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long").alias(
                "matched_bigrams"
            ),
        )
    )
    return scored.select(
        "doc_id",
        "total_bigrams",
        "matched_bigrams",
        (
            F.col("matched_bigrams").cast("double")
            / F.col("total_bigrams").cast("double")
        ).alias("familiarity"),
    )


_DECILES = 10
# Range-bucket width (2^shift milli-units) for the two-phase global
# rank: the linear score is bounded by the weight vector times per-doc
# feature caps, not by corpus size, so buckets stay in the hundreds at
# any sf while each bucket ranks in parallel.
_DECILE_BUCKET_SHIFT = 10


@query(
    "text_quality_deciles",
    f"""
    WITH scored AS (
      SELECT doc_id,
             m.w0 + m.w_words * f.n_words + m.w_chars * f.n_chars
               + m.w_digits * f.n_digit_runs + m.w_stop * f.n_stop
               AS score_milli
      FROM (
        SELECT doc_id,
               (length(trim(text)) - length(replace(trim(text), ' ', ''))) + 1
                 AS n_words,
               length(text) AS n_chars,
               CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT)
                 AS n_digit_runs,
               (length(' ' || text || ' ')
                  - length(replace(' ' || text || ' ', ' the ', ''))) // 5
               + (length(' ' || text || ' ')
                  - length(replace(' ' || text || ' ', ' and ', ''))) // 5
               + (length(' ' || text || ' ')
                  - length(replace(' ' || text || ' ', ' of ', ''))) // 4
                 AS n_stop
        FROM documents) f
      CROSS JOIN (SELECT * FROM (VALUES ({", ".join(map(str, _QM_WEIGHTS))}))
        AS m(w0, w_words, w_chars, w_digits, w_stop)) m),
    ranked AS (
      SELECT doc_id, score_milli,
             NTILE({_DECILES}) OVER (ORDER BY score_milli, doc_id) AS decile
      FROM scored)
    SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(score_milli) AS BIGINT) AS min_score_milli,
           CAST(MAX(score_milli) AS BIGINT) AS max_score_milli,
           CAST(SUM(CASE WHEN score_milli >= {_QM_KEEP_MILLI} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_keep
    FROM ranked GROUP BY decile
    """,
)
def text_quality_deciles(spark, sf_dir):
    """Classifier CALIBRATION report: corpus deciles by model score
    with per-decile score range and keep counts — how a pipeline picks
    (and defends) its quality threshold before committing a filter at
    full scale. Deciles come from the total order (score, doc_id) —
    the doc_id tie-break makes bucket boundaries bit-deterministic,
    which raw score ties would not be.

    The global rank is computed WITHOUT a single-partition sort window
    — the two-phase pattern `parts_abc_pareto` demonstrates: scores
    range-bucket by magnitude (arithmetic shift = floor division, so
    negatives order below positives; bucket count is bounded by the
    score RANGE — a few hundred buckets at any corpus size, since
    per-doc scores don't grow with sf), per-bucket counts make a tiny
    frame whose ascending prefix sums broadcast back, and each row's
    global rank = its bucket's prefix + an intra-bucket row_number
    (window partitioned BY BUCKET — parallel bounded partitions, no
    global sort). The ntile bucket assignment is then pure arithmetic
    on (rank, total): the first ``n % 10`` deciles take ``n div 10 +
    1`` rows, the rest ``n div 10`` — exactly SQL NTILE, so the DuckDB
    oracle's global NTILE window independently validates the
    decomposition. Featurization reuses the `text_quality_model_score`
    weights, so the two queries pin each other."""
    scored = (
        text_quality_model_score(spark, sf_dir)
        .select("doc_id", "score_milli")
        # A NULL score (NULL text) would get a NULL bucket and be
        # silently dropped by the equi-join below while the oracle's
        # NTILE still ranks it — fail loudly instead (scan-side
        # assert, no extra action), like pq_topk does for NULL codes.
        .withColumn(
            "score_milli",
            F.when(
                F.col("score_milli").isNull(),
                F.assert_true(
                    F.lit(False),
                    F.lit(
                        "text_quality_deciles: NULL score_milli (NULL"
                        " text?) — deciles are defined over non-null"
                        " scores only"
                    ),
                ).cast("long"),
            ).otherwise(F.col("score_milli")),
        )
        .withColumn("bkt", F.shiftright("score_milli", _DECILE_BUCKET_SHIFT))
    )
    bkt_counts = scored.groupBy("bkt").agg(F.count(F.lit(1)).alias("bn"))
    # tiny frame: one row per occupied score bucket; prefix = rows in
    # all strictly-lower buckets (ascending order). n_total rides the
    # same frame (full-frame window sum) so the corpus is scanned
    # twice total (counts + rank join), never a third time.
    w_all = Window.orderBy("bkt").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    bkt_prefix = bkt_counts.withColumn(
        "prefix",
        F.coalesce(
            F.sum("bn").over(
                Window.orderBy("bkt").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        ),
    ).withColumn("n_total", F.sum("bn").over(w_all)).select(
        "bkt", "prefix", "n_total"
    )
    w_intra = Window.partitionBy("bkt").orderBy("score_milli", "doc_id")
    ranked = scored.join(F.broadcast(bkt_prefix), "bkt").withColumn(
        "rn", F.col("prefix") + F.row_number().over(w_intra)
    )
    # SQL NTILE(k) over n rows: the first (n % k) tiles hold
    # (n div k + 1) rows, the remaining tiles (n div k); all operands
    # non-negative, so `div` truncation == floor.
    decile = F.expr(
        f"CASE WHEN rn <= (n_total % {_DECILES})"
        f" * ((n_total div {_DECILES}) + 1)"
        f" THEN (rn - 1) div ((n_total div {_DECILES}) + 1) + 1"
        f" ELSE (n_total % {_DECILES})"
        f" + (rn - 1 - (n_total % {_DECILES})"
        f" * ((n_total div {_DECILES}) + 1))"
        f" div (n_total div {_DECILES}) + 1 END"
    )
    return (
        ranked.withColumn("decile", decile.cast("int"))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("score_milli").alias("min_score_milli"),
            F.max("score_milli").alias("max_score_milli"),
            F.sum(
                F.when(F.col("score_milli") >= _QM_KEEP_MILLI, 1).otherwise(0)
            ).cast("long").alias("n_keep"),
        )
    )


@query(
    "text_langid_confusion",
    f"""
    WITH scored AS (
      SELECT doc_id, lang,
             {", ".join(f"({_SCORE_SQL[lang]}) AS s_{lang}" for lang in _LANG_ORDER)}
      FROM (SELECT doc_id, lang, ' ' || text || ' ' AS padded FROM documents)),
    pred AS (
      SELECT lang AS labeled_lang, ({_PRED_SQL}) AS pred_lang FROM scored)
    SELECT labeled_lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM pred GROUP BY labeled_lang, pred_lang
    """,
)
def text_langid_confusion(spark, sf_dir):
    """Classifier EVALUATION: the confusion matrix of the stopword
    language detector against the labeled ``lang`` column — the
    eval-harness primitive behind every model-quality dashboard
    (per-class precision/recall fall straight out of these counts).
    Reuses `text_language_id`'s scoring verbatim, so the two queries
    pin each other; the matrix is bounded by |languages|^2 regardless
    of corpus size, and the whole computation is one scan-side score
    plus one map-side-combinable count. Runs `language_id`."""
    d = language_id(t(spark, sf_dir, "documents"))
    return d.groupBy(F.col("lang").alias("labeled_lang"), "pred_lang").agg(
        F.count(F.lit(1)).alias("n_docs")
    )


@query(
    "text_ngram_novelty",
    """
    WITH sh AS (
      SELECT DISTINCT doc_id, substr(text, i, 8) AS sh
      FROM documents, unnest(generate_series(1, length(text) - 7, 4)) AS u(i)
      WHERE length(text) >= 8),
    first_seen AS (SELECT sh, MIN(doc_id) AS first_doc FROM sh GROUP BY sh)
    SELECT s.doc_id,
           COUNT(*) AS n_shingles,
           CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           CAST(ROUND(1000000.0 *
                SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
                / COUNT(*)) AS BIGINT) AS novelty_1e6
    FROM sh s JOIN first_seen f ON f.sh = s.sh
    GROUP BY s.doc_id
    ORDER BY s.doc_id
    """,
)
def text_ngram_novelty(spark, sf_dir):
    """Per-document NOVELTY scoring: the fraction of a doc's distinct
    char-8-gram shingles (the dedup family's stride-4 scheme,
    operators/dedup.py `SHINGLES_EXPR`) that the corpus had not seen in any
    earlier document (first_seen = min doc_id over the shingle) — the
    curation signal pipelines use to rank boilerplate-heavy or
    template-derived documents below genuinely new content when
    trimming to a token budget (high novelty = introduces new n-grams;
    near-zero = restates what earlier docs already contain). Plan
    shape: one narrow shingle explode, one hash aggregate per shingle
    (map-side combined min), a shingle-keyed join back (same key as
    the aggregate, so the exchange is reused), and a per-doc hash
    aggregate — no windows, no driver collection; every stage keys on
    hash-distributed columns, so the plan survives a 1000-executor
    corpus unchanged. The ratio is emitted as an integer micro-units
    column so the oracle hash compare is float-free. Runs
    `ngram_novelty`."""
    return ngram_novelty(t(spark, sf_dir, "documents")).orderBy("doc_id")


def ngram_novelty(docs, id_col="doc_id", text_col="text"):
    """Library operator: per-document NOVELTY scoring over an arbitrary
    ``(id, text)`` frame — the frame-level form of `text_ngram_novelty`
    (parity pinned in tests). The fraction of a doc's distinct
    char-8-gram shingles (the dedup family's stride-4 scheme) that no
    earlier document introduced, where "earlier" is the min ``id_col``
    owning the shingle — the curation signal that ranks
    boilerplate-heavy or template-derived documents below genuinely
    new content when trimming to a token budget. Returns
    ``(id, n_shingles, n_novel, novelty_1e6)``; docs shorter than the
    8-char shingle width carry no shingles and never appear.

    Plan shape (identical to the registered query): one narrow
    shingle explode, a per-shingle min aggregate (map-side combined),
    a per-first-doc count, and a DOCUMENT-cardinality join — the
    shingle relation is shuffled for the two aggregates only; no
    windows, no driver collection, survives a 1000-executor corpus
    unchanged. ``id_col`` must be orderable (the min defines
    first-seen); ties are impossible because ids are per-row."""
    iq = "`" + id_col.replace("`", "``") + "`"
    tq = "`" + text_col.replace("`", "``") + "`"
    sh = (
        docs.select(F.col(iq).alias("_id"), F.col(tq).alias("text"))
        .where(F.length("text") >= 8)
        .select(
            "_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, length(text) - 7, 4),"
                    " i -> substring(text, i, 8))"
                )
            ).alias("sh"),
        )
        .distinct()
    )
    # Two aggregates + a doc-level join instead of joining first_seen
    # back onto the full shingle set: a shingle is novel for exactly
    # the doc that owns its min id, so counting first_seen rows BY
    # first doc yields per-doc novel counts directly — the shingle
    # relation is shuffled for the two aggregates only, and the join
    # runs at document cardinality, not shingle cardinality.
    per_doc = sh.groupBy("_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    novel = (
        sh.groupBy("sh")
        .agg(F.min("_id").alias("_id"))
        .groupBy("_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_novel"))
    )
    return (
        per_doc.join(novel, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            "n_shingles",
            F.coalesce(F.col("n_novel"), F.lit(0).cast("long")).alias(
                "n_novel"
            ),
            F.expr(
                "cast(round(1000000.0 * coalesce(n_novel, 0) / n_shingles)"
                " as bigint)"
            ).alias("novelty_1e6"),
        )
    )


# ---------------------------------------------------------------------------
# Library surface: frame-level text-analysis APIs (round 8)
# ---------------------------------------------------------------------------


def language_id(docs):
    """Library operator: n-gram-marker language identification over an
    arbitrary frame with a ``text`` column. Returns the input columns
    plus ``pred_lang`` (one of en/de/fr/es — stopword-trigram voting
    with the fixed-priority argmax tie-break en > de > fr > es), the
    same pure-Catalyst expression tree the registered
    `text_language_id` query hash-matches against DuckDB. A NULL text
    gets a NULL ``pred_lang`` (it has no markers to vote with). No
    UDFs, no shuffles — a map-only projection."""
    scored = _lang_scores_spark(docs)
    pred = F.when(F.col("text").isNotNull(), F.expr(_PRED_SQL))
    return scored.withColumn("pred_lang", pred).drop(
        "padded", *[f"s_{lang}" for lang in _LANG_ORDER]
    )


def quality_score(docs):
    """Library operator: length/word-shape quality heuristics over an
    arbitrary frame with a ``text`` column. Returns the input columns
    plus ``n_chars``, ``n_words``, ``avg_word_len``, and a bounded
    composite ``quality`` in [0, 1] — the registered
    `text_quality_score` arithmetic (exact integer word counts from
    trimmed space counting; identical on any engine). A NULL text gets
    NULL in every added column (``least`` would skip the NULL operands
    and score it 1.0). Map-only."""
    n_chars = F.length("text")
    n_words = (
        F.length(F.trim(F.col("text")))
        - F.length(F.replace(F.trim(F.col("text")), F.lit(" "), F.lit("")))
        + 1
    )
    d = docs.withColumn("n_chars", n_chars).withColumn("n_words", n_words)
    avg_wl = (F.col("n_chars") - F.col("n_words") + 1).cast("double") / F.col(
        "n_words"
    )
    quality = F.when(
        F.col("text").isNotNull(),
        F.least(F.lit(1.0), F.col("n_words").cast("double") / 100.0) * 0.5
        + F.least(F.lit(1.0), avg_wl / 8.0) * 0.5,
    )
    return d.withColumn("avg_word_len", avg_wl).withColumn("quality", quality)


def token_counts(docs):
    """Library operator: whitespace token count plus the 4-chars-per-
    token BPE estimate over an arbitrary frame with a ``text`` column —
    the registered `text_token_count` arithmetic. Returns the input
    columns plus ``ws_tokens`` and ``est_bpe_tokens``. Map-only."""
    ws = (
        F.length(F.trim(F.col("text")))
        - F.length(F.replace(F.trim(F.col("text")), F.lit(" "), F.lit("")))
        + 1
    )
    return docs.withColumn("ws_tokens", ws).withColumn(
        "est_bpe_tokens", F.expr("CAST((length(text) + 3) div 4 AS BIGINT)")
    )


def decontaminate(corpus, eval_docs, n=16, stride=4):
    """Library operator: benchmark decontamination over arbitrary
    frames — flag every ``corpus`` document (``doc_id``, ``text``)
    sharing at least one ``n``-char character n-gram with any
    ``eval_docs`` document, GPT-3/PaLM-style. Returns
    ``(doc_id, n_shared_ngrams, n_eval_docs)`` for flagged docs only.

    The registered `corpus_decontaminate` shape, parameterized: the
    SMALL eval side shingles at EVERY offset (containment is caught
    regardless of alignment), the big corpus side at ``stride``, and
    the match is the corpus scan exploded against the BROADCAST eval
    n-gram dictionary — at 100 TB one scan-side explode + broadcast
    join + per-doc aggregate; the only corpus-proportional shuffle
    carries the matching slice. The corpus side is deliberately not
    pre-distinct'd (that would shuffle every shingle before the join;
    the final COUNT(DISTINCT ...) dedups instead). A ``stride`` above
    ``n - 1`` would skip characters entirely and can miss containment
    even with every-offset eval shingling, so it raises."""
    if not 1 <= stride <= n - 1:
        raise ValueError(
            f"stride must be in [1, {n - 1}] (= n - 1): a larger "
            "stride skips characters and can miss contained n-grams"
        )
    csh = corpus.where(F.length("text") >= n).select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, length(text) - {n - 1},"
                f" {int(stride)}), i -> substring(text, i, {int(n)}))"
            )
        ).alias("sh"),
    )
    esh = (
        eval_docs.where(F.length("text") >= n)
        .select(
            F.col("doc_id").alias("eval_id"),
            F.explode(
                F.expr(
                    f"transform(sequence(1, length(text) - {n - 1}),"
                    f" i -> substring(text, i, {int(n)}))"
                )
            ).alias("sh"),
        )
        .distinct()
    )
    return (
        csh.join(F.broadcast(esh), "sh")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("sh").alias("n_shared_ngrams"),
            F.countDistinct("eval_id").alias("n_eval_docs"),
        )
    )


def tfidf_topk(docs, k=5, id_col="doc_id", text_col="text"):
    """Library operator: top-``k`` distinctive terms per document by
    tf/df over whitespace tokens — the frame-level form of the
    registered `text_tfidf_topk` query (raw reciprocal-df idf: the
    rank-equivalent of tf-idf without the bit-unspecified ``ln``, so
    per-doc ordering is deterministic; ties break by token). Returns
    ``(id_col, tok, tf, df, rank)``.

    Shape at 100 TB: per-(doc, token) counts shuffle once on the
    explode output with map-side partials; df aggregates FROM tf (no
    second corpus scan); the df join is token-keyed; the top-k window
    shuffles on the doc id. No global sorts, no re-tokenization."""
    toks = docs.select(
        F.col(id_col).alias("_id"),
        F.explode(F.split(text_col, " ")).alias("tok"),
    ).where(F.col("tok") != "")
    tf = toks.groupBy("_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("_id").orderBy(
        (F.col("tf").cast("double") / F.col("df")).desc(), "tok"
    )
    return (
        tf.join(df, "tok")
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= F.lit(int(k)))
        .select(F.col("_id").alias(id_col), "tok", "tf", "df", "rank")
    )


def pii_scrub(docs, text_col="text", patterns=None):
    """Library operator: PII detection + redaction for arbitrary
    frames — the frame-level form of the registered `text_pii_scrub`
    query. ``patterns`` maps a label to a regex (defaults to the
    module's email/phone patterns); every input row comes back with
    one ``n_<label>`` count per pattern and a ``scrubbed`` column in
    which each match is replaced by ``<LABEL>``. All rows are
    returned; filter on the counts to keep only affected docs.

    Keep patterns in the dialect-portable subset (character classes +
    bounded quantifiers — identical semantics in Java regex and RE2).
    Pure scan-side regexp_extract_all / regexp_replace: whole-stage
    codegen, zero shuffles, trivially linear at 100 TB."""
    if patterns is None:
        patterns = {"email": _EMAIL_RE, "phone": _PHONE_RE}
    scrubbed = F.col(text_col)
    counts = []
    for label, pat in patterns.items():
        counts.append(
            F.size(F.regexp_extract_all(text_col, F.lit(pat), F.lit(0)))
            .cast("long")
            .alias(f"n_{label}")
        )
        scrubbed = F.regexp_replace(scrubbed, pat, f"<{label.upper()}>")
    return docs.select("*", *counts, scrubbed.alias("scrubbed"))


def repetition_profile(docs, id_col="doc_id", text_col="text"):
    """Library operator: repetition filtering signals
    (Gopher/RefinedWeb-style quality rules) for arbitrary frames — per
    document, the fraction of whitespace tokens taken by the most
    frequent token and the fraction of word-bigrams taken by the most
    frequent bigram, as exact 1e-6 integers. Highly repetitive docs
    (boilerplate, keyword stuffing, generation loops) spike both.
    Docs with < 2 tokens have no bigram and drop out (inner join).

    Shape at 100 TB: ONE shuffle on the doc id (bigrams are built
    inside the scan with higher-order array functions), per-(doc,
    gram) counts ride the same partitioning with partial aggregation —
    no window over raw tokens, no second scan."""
    ws = F.expr(f"filter(split({text_col}, ' '), w -> w <> '')")
    base = docs.select(F.col(id_col).alias("_id"), ws.alias("ws"))
    toks = base.select("_id", F.explode("ws").alias("g"))
    bgs = base.select("_id", F.explode(F.expr(_BIGRAMS_EXPR)).alias("g"))

    def stats(grams, maxc, total):
        return (
            grams.groupBy("_id", "g")
            .agg(F.count(F.lit(1)).alias("c"))
            .groupBy("_id")
            .agg(F.max("c").alias(maxc), F.sum("c").alias(total))
        )

    ts = stats(toks, "max_tok", "n_toks")
    bs = stats(bgs, "max_bg", "n_bgs")

    def ratio(a, b):
        return F.round(F.lit(1000000.0) * F.col(a) / F.col(b)).cast("long")

    return ts.join(bs, "_id").select(
        F.col("_id").alias(id_col),
        ratio("max_tok", "n_toks").alias("top_token_1e6"),
        ratio("max_bg", "n_bgs").alias("top_bigram_1e6"),
    )


def fingerprint(
    docs,
    n_hashes=4,
    shingle_len=8,
    stride=4,
    id_col="doc_id",
    text_col="text",
):
    """Library operator: document fingerprinting — ``n_hashes`` MinHash
    values over strided character shingles (the rolling-hash-sketch
    idea; md5 is the portable hash family, seeded by suffixing the
    seed index), the frame-level form of the registered
    `text_fingerprint`. Equal fingerprints <=> likely near-identical
    shingle sets, so the fp tuple is the cheap pre-key for clustering,
    sampling, and change detection on document stores.

    Plan shape: ENTIRELY in-row — the shingle array, the per-seed
    transforms, and the `array_min` reductions all run inside one
    codegen projection, so the operator adds ZERO shuffles (the
    oracle's explode + GROUP BY formulation would shuffle every
    shingle; this is the round-8 in-row minhash lesson applied).
    Documents shorter than ``shingle_len`` are dropped, matching the
    registered contract (they have no shingles; `sequence()` would
    DESCEND on a negative span, so the filter is also the source
    guard)."""
    if shingle_len < 1 or stride < 1 or n_hashes < 1:
        raise ValueError(
            "fingerprint: n_hashes, shingle_len, and stride must be >= 1"
        )
    tcol = "`" + text_col.replace("`", "``") + "`"
    icol = "`" + id_col.replace("`", "``") + "`"
    sh = (
        f"transform(sequence(1, length({tcol}) - {shingle_len - 1}, "
        f"{stride}), i -> substring({tcol}, i, {shingle_len}))"
    )
    return docs.where(F.expr(f"length({tcol}) >= {int(shingle_len)}")).select(
        F.col(icol),
        *[
            F.array_min(
                F.expr(f"transform({sh}, s -> md5(concat(s, '#{k}')))")
            ).alias(f"fp{k}")
            for k in range(int(n_hashes))
        ],
    )


def chunk_documents(
    docs, chunk_chars, overlap=0, id_col="doc_id", text_col="text"
):
    """Library operator: context-window chunking — slice each document
    into ``chunk_chars``-character pieces with ``overlap`` shared
    characters between consecutive chunks (the RAG/pretraining
    windowing primitive). This is the JVM-side formulation the
    registered `udtf_chunk_documents` names as its 100 TB path:
    ``posexplode(sequence(...))`` + ``substring`` run entirely inside
    whole-stage codegen — a generate over a scan, ZERO shuffles and no
    Python in the loop (the UDTF query exists as the
    Python-row-expansion equivalence check; this export is what a
    pipeline should call).

    Returns ``(id, chunk_id, chunk, n_chars)``; the last chunk may be
    short. NULL and empty documents emit no rows (the start-position
    ``sequence()`` is CASE-guarded — Spark's sequence DESCENDS on a
    negative span, the engine-wide source-guard discipline).
    ``overlap`` must satisfy ``0 <= overlap < chunk_chars`` so the
    stride stays positive and every character lands in at least one
    chunk.

    NOTE on tails: with ``overlap > 0`` the start sequence runs to the
    document's end, so a text whose final stride lands within the last
    ``overlap`` characters emits trailing chunk(s) of length <=
    ``overlap`` wholly contained in the previous chunk. This is
    deliberate — every start position is emitted, keeping ``chunk_id``
    dense and matching the registered UDTF's oracle-pinned semantics;
    filter ``n_chars > overlap`` downstream if fully-contained tails
    are unwanted."""
    n = int(chunk_chars)
    ov = int(overlap)
    if n < 1:
        raise ValueError("chunk_documents: chunk_chars must be >= 1")
    if ov < 0 or ov >= n:
        raise ValueError(
            "chunk_documents: overlap must satisfy 0 <= overlap < "
            f"chunk_chars, got {ov}"
        )
    stride = n - ov
    tcol = "`" + text_col.replace("`", "``") + "`"
    icol = "`" + id_col.replace("`", "``") + "`"
    starts = F.expr(
        f"CASE WHEN length({tcol}) >= 1 "
        f"THEN sequence(1, length({tcol}), {stride}) END"
    )
    chunk = F.expr(f"substring({tcol}, _start, {n})")
    return docs.select(
        F.col(icol).alias("__cd_id"),
        F.col(tcol),
        F.posexplode(starts).alias("chunk_id", "_start"),
    ).select(
        F.col("__cd_id").alias(id_col),
        F.col("chunk_id").cast("int").alias("chunk_id"),
        chunk.alias("chunk"),
        F.length(chunk).cast("int").alias("n_chars"),
    )
