"""Text-analysis operators for a training-data pipeline over `documents`.

Beyond the reference's own inventory (per the build brief): language-ID,
quality scoring, token counting, document fingerprinting — all pure column
expressions (JVM codegen, no UDF), so they cost one scan + one hash agg at
any scale.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import Window as W

from pdf_extractor_spark.operators.registry import load, register

# Same canonical normalization as the kernel / X2 (reference:
# sync_to_onedrive.py:201-216): lowercase + collapse whitespace.
def _norm(col):
    return F.trim(F.regexp_replace(F.lower(col), r"[ \t\n\r\f\x0B]+", " "))


_NORM_SQL = "trim(regexp_replace(lower(text), '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g'))"


# Deterministic quality score ln(1+len) * (1 - stopword_ratio), shared by
# text_quality, quality_signals_wide, dedup_keep_best, token_budget_select
# and quality_by_rank. Unrounded: callers round where their output does.
def _quality():
    words = F.size(F.split(F.trim("text"), r"[ \t\n\r\f\x0B]+"))
    stop_hits = F.regexp_count("text", F.lit(r"\b(data|table|row|value|query)\b"))
    return F.log(1 + F.length("text")) * (1 - stop_hits / words.cast("double"))


_QUALITY_SQL = """
      ln(1 + length(text))
      * (1 - len(regexp_extract_all(text, '\\b(data|table|row|value|query)\\b'))
             / CAST(len(regexp_split_to_array(trim(text), '[ \\t\\n\\r\\f\\x0B]+')) AS DOUBLE))
"""

# BPE-ish token classes: letter runs, digit runs, single punctuation marks.
_TOKEN_PAT = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


@register(
    "text_token_count",
    oracle=f"""
    SELECT lang,
           count(*) AS docs,
           CAST(sum(len(regexp_split_to_array(trim(text), '[ \\t\\n\\r\\f\\x0B]+'))) AS BIGINT) AS ws_tokens,
           CAST(sum(len(regexp_extract_all(text, '{_TOKEN_PAT}'))) AS BIGINT) AS bpe_tokens
    FROM documents
    WHERE length(trim(text)) > 0
    GROUP BY lang
    """,
    doc="Token counting per language: whitespace tokens + a BPE-ish regex "
    "class count. Both are regexp expressions inside whole-stage codegen; "
    "the agg is partial+final so the shuffle carries one row per lang.",
)
def text_token_count(spark, sf_dir):
    d = load(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    return d.groupBy("lang").agg(
        F.count("*").alias("docs"),
        F.sum(F.size(F.split(F.trim("text"), r"[ \t\n\r\f\x0B]+"))).alias("ws_tokens"),
        F.sum(F.regexp_count("text", F.lit(_TOKEN_PAT))).alias("bpe_tokens"),
    )


@register(
    "text_quality",
    oracle=f"""
    SELECT doc_id,
           length(text) AS chars,
           len(regexp_split_to_array(trim(text), '[ \\t\\n\\r\\f\\x0B]+')) AS words,
           len(regexp_extract_all(text, '\\b(data|table|row|value|query)\\b')) AS stop_hits,
           round({_QUALITY_SQL}, 4) AS quality
    FROM documents
    WHERE doc_id < 200 AND length(trim(text)) > 0
    """,
    doc="Quality scoring: length / stopword-ratio composite (the web-pipeline "
    "analog of the reference's data-quality gate, train.py:17-90). "
    "Deterministic closed-form score → reproducible filtering decisions.",
)
def text_quality(spark, sf_dir):
    d = (
        load(spark, sf_dir, "documents")
        .filter((F.col("doc_id") < 200) & (F.length(F.trim("text")) > 0))
    )
    return d.select(
        "doc_id",
        F.length("text").alias("chars"),
        F.size(F.split(F.trim("text"), r"[ \t\n\r\f\x0B]+")).alias("words"),
        F.regexp_count("text", F.lit(r"\b(data|table|row|value|query)\b")).alias(
            "stop_hits"
        ),
        F.round(_quality(), 4).alias("quality"),
    )


@register(
    "text_lang_id",
    oracle="""
    WITH hints(code, marker) AS (VALUES
      ('en', ' data '), ('en', ' table '), ('fr', ' colonne '), ('es', ' fila '),
      ('de', ' spalte '), ('en', ' query ')),
    hits AS (
      SELECT d.doc_id, h.code,
             sum((length(' ' || lower(d.text) || ' ')
                  - length(replace(' ' || lower(d.text) || ' ', h.marker, '')))
                 // length(h.marker)) AS n_hits  -- summed below; cast at output
      FROM documents d CROSS JOIN hints h
      WHERE d.doc_id < 150
      GROUP BY 1, 2
    )
    SELECT doc_id, code AS predicted_lang, CAST(n_hits AS BIGINT) AS n_hits FROM (
      SELECT doc_id, code, n_hits,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY n_hits DESC, code) AS rn
      FROM hits
    ) WHERE rn = 1
    """,
    doc="Language-ID by marker-token hits + argmax (n-gram-heuristic family). "
    "Occurrence count = (len - len(replace))/len(marker): pure codegen "
    "arithmetic, no regex. Hint table is a broadcast dim; argmax = "
    "row_number()=1 with deterministic tie-break.",
)
def text_lang_id(spark, sf_dir):
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    hints = spark.createDataFrame(
        [("en", " data "), ("en", " table "), ("fr", " colonne "), ("es", " fila "),
         ("de", " spalte "), ("en", " query ")],
        ["code", "marker"],
    )
    padded = F.concat(F.lit(" "), F.lower("text"), F.lit(" "))
    n_hits = F.floor(
        (F.length(padded) - F.length(F.replace(padded, F.col("marker"), F.lit(""))))
        / F.length("marker")
    )
    hits = (
        d.crossJoin(F.broadcast(hints))
        .groupBy("doc_id", "code")
        .agg(F.sum(n_hits).alias("n_hits"))
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("n_hits"), F.asc("code"))
    return (
        hits.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("code").alias("predicted_lang"), "n_hits")
    )


@register(
    "text_fingerprint",
    oracle=f"""
    SELECT doc_id,
           substr(md5({_NORM_SQL}), 1, 16) AS fp,
           length({_NORM_SQL}) AS norm_len
    FROM documents WHERE doc_id < 100
    """,
    doc="Document fingerprinting: md5 over the canonical normalized text "
    "(prefix-16). The content-address used by exact dedup; a rolling-hash "
    "variant lives in dedup.py.",
)
def text_fingerprint(spark, sf_dir):
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    n = _norm(F.col("text"))
    return d.select(
        "doc_id",
        F.substring(F.md5(n.cast("binary")), 1, 16).alias("fp"),
        F.length(n).alias("norm_len"),
    )


@register(
    "training_examples",
    oracle=r"""
    SELECT doc_id, CAST(to_json(struct_pack(messages := list_value(
      struct_pack(role := 'user',
                  content := 'Extract the fields from:' || chr(10) ||
                             trim(regexp_replace(text, '[ \t\n\r\f\x0B]+', ' ', 'g'))),
      struct_pack(role := 'assistant',
                  content := CAST(to_json(struct_pack(doc_id := doc_id, lang := lang)) AS VARCHAR))
    ))) AS VARCHAR) AS example
    FROM documents
    WHERE text IS NOT NULL AND length(trim(text)) >= 30
    """,
    doc="Chat-format training examples (S9/X11): one JSON object per kept "
    "document — messages = [user prompt + whitespace-collapsed content, "
    "assistant = JSON of the extracted fields] exactly as the reference "
    "builds fine-tune rows (reference: fine_tuning/data_processor.py:"
    "104-116, prompt assembly :150-199; whitespace collapse :48). "
    "to_json(struct(array(struct...))) is byte-identical between Spark and "
    "DuckDB's to_json(struct_pack(list_value(...))) — verified as part of "
    "the value-hash gate. Structural-validity filter = F8 (reference: "
    "train.py:142-159). The JSONL sink (write.text) + the min-10-examples "
    "gate (A9, reference: train.py:276-281) live in job.py "
    "--training-out; gated by tests/test_pipeline.py.",
)
def training_examples(spark, sf_dir):
    d = load(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.length(F.trim("text")) >= 30)
    )
    fields = F.struct(F.col("doc_id").alias("doc_id"), F.col("lang").alias("lang"))
    return d.select("doc_id", build_training_example(F.col("text"), fields).alias("example"))


def build_training_example(text_col, assistant_fields_struct):
    """Chat-format example column expr (shared by the query and the job sink).

    Pure column expressions — codegen, no UDF; the reference's per-doc
    json.dumps loop (data_processor.py:202-230) becomes one projection.
    `assistant_fields_struct` is an F.struct of aliased columns serialized
    as the assistant's JSON answer.
    """
    collapsed = F.trim(F.regexp_replace(text_col, r"[ \t\n\r\f\x0B]+", " "))
    user = F.struct(
        F.lit("user").alias("role"),
        F.concat(F.lit("Extract the fields from:\n"), collapsed).alias("content"),
    )
    assistant = F.struct(
        F.lit("assistant").alias("role"),
        F.to_json(assistant_fields_struct).alias("content"),
    )
    return F.to_json(F.struct(F.array(user, assistant).alias("messages")))


@register(
    "training_corpus_pipeline",
    oracle="""
    WITH scored AS (
      SELECT doc_id, lang, text, n_chars,
             length(trim(text)) - length(replace(trim(text), ' ', '')) + 1 AS n_tokens
      FROM documents
      WHERE text IS NOT NULL AND length(trim(text)) >= 30
    ),
    hashed AS (
      SELECT *, md5(trim(regexp_replace(lower(text), '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g'))) AS h
      FROM scored
    ),
    deduped AS (
      SELECT * FROM hashed
      WHERE doc_id = (SELECT min(doc_id) FROM hashed h2 WHERE h2.h = hashed.h)
    )
    SELECT lang,
           count(*) AS docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           round(avg(n_chars), 2) AS avg_chars
    FROM deduped
    GROUP BY lang
    """,
    doc="Composite training-data pipeline: quality filter → exact dedup "
    "(keep min doc_id per content hash) → per-language corpus stats. The "
    "chain a real pretraining corpus build runs, expressed as one Catalyst "
    "plan: the filter pushes to the scan, the dedup is one hash shuffle "
    "(window min over h), the stats reuse the same shuffle-free projection. "
    "At 10^12 docs each stage stays a single exchange.",
)
def training_corpus_pipeline(spark, sf_dir):
    from pyspark.sql import Window as W

    d = load(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.length(F.trim("text")) >= 30)
    )
    t = F.trim("text")
    scored = d.select(
        "doc_id", "lang", "text", "n_chars",
        (F.length(t) - F.length(F.replace(t, F.lit(" "), F.lit(""))) + 1).alias("n_tokens"),
    )
    hashed = scored.withColumn(
        "h", F.md5(F.trim(F.regexp_replace(F.lower("text"), r"[ \t\n\r\f\x0B]+", " ")).cast("binary"))
    )
    keep = hashed.withColumn("min_id", F.min("doc_id").over(W.partitionBy("h"))).filter(
        F.col("doc_id") == F.col("min_id")
    )
    return keep.groupBy("lang").agg(
        F.count("*").alias("docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.round(F.avg("n_chars"), 2).alias("avg_chars"),
    )


# Gopher-rule thresholds (Rae et al. 2021 §A1.1, scaled to this corpus's
# ~50-word synthetic documents): word-count window, mean-word-length window,
# required stopword evidence, and a within-doc duplicate-2-gram ceiling
# (the "repetition removal" family — MassiveText strips documents whose
# text is dominated by repeated n-grams).
_GOPHER_MIN_WORDS, _GOPHER_MAX_WORDS = 20, 1000
_GOPHER_MIN_MWL, _GOPHER_MAX_MWL = 3.0, 10.0
_GOPHER_MAX_DUP2 = 0.60
_GOPHER_STOPS = ("the", "a", "of", "to", "and", "in")
_STOPS_SQL = ", ".join(f"'{s}'" for s in _GOPHER_STOPS)


@register(
    "text_gopher_suite",
    oracle=f"""
    WITH d AS (
      SELECT doc_id,
             regexp_split_to_array(trim(text), '[ \\t\\n\\r\\f\\x0B]+') AS ws
      FROM documents WHERE doc_id < 300 AND length(trim(text)) > 0
    ),
    b AS (
      SELECT doc_id, ws[i+1] || ' ' || ws[i+2] AS bg
      FROM (SELECT doc_id, ws, unnest(range(len(ws)-1)) AS i FROM d)
    ),
    c AS (SELECT doc_id, bg, count(*) AS cnt FROM b GROUP BY 1, 2),
    r AS (
      SELECT doc_id,
             round(sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END)::DOUBLE
                   / sum(cnt), 4) AS dup_2gram_frac
      FROM c GROUP BY 1
    )
    SELECT d.doc_id,
           CAST(len(ws) AS BIGINT) AS n_words,
           round(list_sum(list_transform(ws, w -> length(w)))::DOUBLE
                 / len(ws), 4) AS mean_word_len,
           CAST(len(list_filter(ws, w -> w IN ({_STOPS_SQL}))) AS BIGINT)
             AS stop_hits,
           r.dup_2gram_frac,
           (len(ws) BETWEEN {_GOPHER_MIN_WORDS} AND {_GOPHER_MAX_WORDS})
             AND (list_sum(list_transform(ws, w -> length(w)))::DOUBLE / len(ws)
                  BETWEEN {_GOPHER_MIN_MWL} AND {_GOPHER_MAX_MWL})
             AND len(list_filter(ws, w -> w IN ({_STOPS_SQL}))) >= 1
             AND r.dup_2gram_frac <= {_GOPHER_MAX_DUP2} AS gopher_ok
    FROM d JOIN r USING (doc_id)
    """,
    doc="Gopher-style document quality rules (Rae et al. 2021 MassiveText "
    "filtering): word-count window, mean word length, stopword evidence, "
    "and the repetition rule — fraction of 2-gram occurrences that are "
    "within-document duplicates. Word metrics are row-local higher-order "
    "array functions (zero shuffle); the duplicate-2-gram fraction is the "
    "honest scale path for arbitrarily long documents: explode bigrams → "
    "groupBy(doc_id, bigram) with map-side partial agg → one per-doc agg "
    "— linear in corpus token count, never O(words²) per row. One join "
    "back on doc_id merges the two sides.",
)
def text_gopher_suite(spark, sf_dir):
    d = (
        load(spark, sf_dir, "documents")
        .filter((F.col("doc_id") < 300) & (F.length(F.trim("text")) > 0))
        .select(
            "doc_id",
            F.split(F.trim("text"), r"[ \t\n\r\f\x0B]+").alias("ws"),
        )
    )
    n_words = F.size("ws")
    mean_wl = F.aggregate(
        "ws", F.lit(0.0), lambda acc, w: acc + F.length(w)
    ) / n_words.cast("double")
    stop_hits = F.size(
        F.filter("ws", lambda w: w.isin(*_GOPHER_STOPS))
    ).cast("long")

    # sequence(0, stop<0) runs DESCENDING in Spark — a 1-word doc would
    # emit null bigrams instead of none without the explicit empty branch
    bigrams = F.expr(
        "CASE WHEN size(ws) >= 2 THEN "
        "transform(sequence(0, size(ws)-2), i -> concat(ws[i], ' ', ws[i+1])) "
        "ELSE cast(array() as array<string>) END"
    )
    rep = (
        d.select("doc_id", F.explode(bigrams).alias("bg"))
        .groupBy("doc_id", "bg")
        .agg(F.count("*").alias("cnt"))
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum(F.when(F.col("cnt") > 1, F.col("cnt")).otherwise(0))
                / F.sum("cnt").cast("double"),
                4,
            ).alias("dup_2gram_frac")
        )
    )
    base = d.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        F.round(mean_wl, 4).alias("mean_word_len"),
        stop_hits.alias("stop_hits"),
        mean_wl.alias("_mwl"),
    )
    return (
        base.join(rep, "doc_id")
        .select(
            "doc_id",
            "n_words",
            "mean_word_len",
            "stop_hits",
            "dup_2gram_frac",
            (
                F.col("n_words").between(_GOPHER_MIN_WORDS, _GOPHER_MAX_WORDS)
                & F.col("_mwl").between(_GOPHER_MIN_MWL, _GOPHER_MAX_MWL)
                & (F.col("stop_hits") >= 1)
                & (F.col("dup_2gram_frac") <= _GOPHER_MAX_DUP2)
            ).alias("gopher_ok"),
        )
    )


# the corpus-trained unigram-NLL CTE chain (w: exploded words, nll: per-doc
# score) — shared by the text_unigram_nll oracle and the ccnet_buckets
# oracle, so both driver checks hash-verify the TRAINING
_NLL_CTES = """
    WITH w AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(text),
             '[ \\t\\n\\r\\f\\x0B]+')) AS word
      FROM documents WHERE length(trim(text)) > 0
    ), freq AS (
      SELECT word, count(*) AS cnt FROM w GROUP BY 1
    ), tot AS (SELECT sum(cnt) AS n FROM freq),
    nll AS (
      SELECT w.doc_id,
             CAST(count(*) AS BIGINT) AS n_words,
             round(avg(-ln(freq.cnt / tot.n)), 4) AS avg_nll
      FROM w JOIN freq USING (word) CROSS JOIN tot
      GROUP BY w.doc_id
    )"""


def unigram_nll_scores(df, id_col: str = "doc_id", text_col: str = "text"):
    """(id, n_words, avg_nll): per-document mean negative log-likelihood
    under a unigram model trained on the corpus itself — the shared scorer
    behind text_unigram_nll and ccnet_buckets. Three bounded linear
    shuffles (word counts, score join on word, per-doc mean); the 1-row
    total joins via broadcast."""
    w = (
        df.filter(F.length(F.trim(text_col)) > 0)
        .select(
            id_col,
            F.explode(F.split(F.trim(text_col), r"[ \t\n\r\f\x0B]+")).alias("word"),
        )
    )
    freq = w.groupBy("word").agg(F.count("*").alias("cnt"))
    tot = freq.agg(F.sum("cnt").alias("n"))
    scored = w.join(freq, "word").crossJoin(F.broadcast(tot))
    return scored.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_words"),
        F.round(F.avg(-F.log(F.col("cnt") / F.col("n"))), 4).alias("avg_nll"),
    )


@register(
    "text_unigram_nll",
    oracle=_NLL_CTES + """
    SELECT doc_id, n_words, avg_nll FROM nll ORDER BY doc_id
    """,
    doc="Unigram language-model quality score (the KenLM-perplexity stand-"
    "in every CCNet-style pipeline runs, expressed set-at-a-time): train "
    "the unigram model ON the corpus itself (explode words -> one "
    "hash-groupBy for counts), then score each document by its mean "
    "negative log-likelihood. Rare-word-heavy (low-quality/garbled) docs "
    "score high. Three bounded shuffles — word counts, score join on "
    "word, per-doc mean — each linear in corpus tokens with map-side "
    "partial agg; the 1-row total joins via broadcast NLJ. No UDFs.",
)
def text_unigram_nll(spark, sf_dir):
    return unigram_nll_scores(load(spark, sf_dir, "documents")).orderBy("doc_id")


_CCNET_Q = (0.33, 0.66)  # head/middle/tail split points (CCNet §4.4 thirds)


@register(
    "ccnet_buckets",
    oracle=_NLL_CTES + f""", cuts AS (
      SELECT d.lang,
             quantile_disc(avg_nll, {_CCNET_Q[0]}) AS q1,
             quantile_disc(avg_nll, {_CCNET_Q[1]}) AS q2
      FROM nll JOIN documents d USING (doc_id)
      GROUP BY 1
    )
    SELECT nll.doc_id, d.lang, avg_nll,
           CASE WHEN avg_nll <= q1 THEN 'head'
                WHEN avg_nll <= q2 THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM nll JOIN documents d USING (doc_id) JOIN cuts ON cuts.lang = d.lang
    ORDER BY nll.doc_id
    """,
    doc="CCNet perplexity bucketing (Wenzek et al. 2020 §4.4): score every "
    "document by the corpus-trained unigram NLL (the KenLM stand-in), "
    "compute PER-LANGUAGE tercile cutoffs, and label each doc head / "
    "middle / tail — the standard pre-training quality tiers. The cutoffs "
    "are a per-lang aggregate (a handful of rows) broadcast back onto the "
    "corpus, so no global sort and no per-lang window: docs are bucketed "
    "row-locally against their language's cutoffs. Cutoffs are DISCRETE "
    "percentiles (first value with cume_dist >= q, the SQL-standard "
    "percentile_disc both engines implement identically) — an actual "
    "rounded data value, so bucketing by <= is exactly portable with no "
    "interpolation arithmetic. The exact percentile holds one value per "
    "doc in the agg buffer; at 10^12 docs swap in approx_percentile "
    "(same broadcast shape).",
)
def ccnet_buckets(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    nll = unigram_nll_scores(d).join(d.select("doc_id", "lang"), "doc_id")
    cuts = nll.groupBy("lang").agg(
        F.expr(
            f"percentile_disc({_CCNET_Q[0]}) WITHIN GROUP (ORDER BY avg_nll)"
        ).alias("q1"),
        F.expr(
            f"percentile_disc({_CCNET_Q[1]}) WITHIN GROUP (ORDER BY avg_nll)"
        ).alias("q2"),
    )
    return (
        nll.join(F.broadcast(cuts), "lang")
        .select(
            "doc_id",
            "lang",
            "avg_nll",
            F.when(F.col("avg_nll") <= F.col("q1"), "head")
            .when(F.col("avg_nll") <= F.col("q2"), "middle")
            .otherwise("tail")
            .alias("bucket"),
        )
        .orderBy("doc_id")
    )


# --- hashed-ngram linear quality classifier (fastText/DCLM family) ----------

_CLF_BUCKETS = 256  # hashed feature space; md5-top-byte bucket, engine-portable
_CLF_ALPHA = 1.0  # Laplace smoothing

# first two hex digits of md5(feature) -> bucket in [0, 256): the portable
# Spark∩DuckDB hex-digit construction (same trick as dedup_simhash /
# sample_stratified)
_BUCKET_SPARK = (
    "CAST((instr('0123456789abcdef', substr(md5(CAST(f AS BINARY)), 1, 1)) - 1) * 16"
    " + (instr('0123456789abcdef', substr(md5(CAST(f AS BINARY)), 2, 1)) - 1) AS INT)"
)
_BUCKET_SQL = (
    "CAST((strpos('0123456789abcdef', substr(md5(f), 1, 1)) - 1) * 16"
    " + (strpos('0123456789abcdef', substr(md5(f), 2, 1)) - 1) AS INT)"
)


def hashed_ngram_features(df, id_col: str = "doc_id", text_col: str = "text"):
    """(id, f, bucket) rows: word unigrams + bigrams of the lowercased
    whitespace-split text, hashed into _CLF_BUCKETS buckets.

    The fastText feature map (bag of words + word-ngrams, hashed to a fixed
    table) as a row-local array transform + one posexplode — linear in
    corpus tokens, no UDFs. Feature strings are namespaced ('u|' / 'b|') so
    a unigram can't collide with a bigram except through the hash itself.
    """
    d = df.filter(F.length(F.trim(text_col)) > 0).select(
        id_col,
        F.split(F.trim(F.lower(text_col)), r"[ \t\n\r\f\x0B]+").alias("ws"),
    )
    uni = F.transform("ws", lambda w: F.concat(F.lit("u|"), w))
    # sequence(0, stop<0) runs DESCENDING in Spark — 1-word docs need the
    # explicit empty branch
    big = F.expr(
        "CASE WHEN size(ws) >= 2 THEN "
        "transform(sequence(0, size(ws)-2), i -> concat('b|', ws[i], ' ', ws[i+1])) "
        "ELSE cast(array() as array<string>) END"
    )
    return d.select(id_col, F.explode(F.concat(uni, big)).alias("f")).withColumn(
        "bucket", F.expr(_BUCKET_SPARK)
    )


def train_hashed_ngram_weights(spark, train_feats, pos_col: str = "pos"):
    """Closed-form training of the hashed-ngram linear scorer: per-bucket
    log-odds weights w_b = ln P(b|pos) - ln P(b|neg), Laplace-smoothed —
    multinomial naive Bayes over hashed features, which IS a linear
    classifier of the fastText family, trained in one aggregation pass
    (deterministic, no SGD, oracle-expressible — the text_unigram_nll
    discipline applied to supervised scoring).

    `train_feats` carries (bucket, pos_col boolean). Returns a complete
    _CLF_BUCKETS-row (bucket, wt) table — a broadcast-sized dim at any
    corpus scale; training cost is one hash-groupBy on bucket with map-side
    partial agg, linear in training tokens.
    """
    counts = train_feats.groupBy("bucket").agg(
        F.sum(F.when(F.col(pos_col), 1).otherwise(0)).alias("np"),
        F.sum(F.when(~F.col(pos_col), 1).otherwise(0)).alias("nn"),
    )
    spine = spark.range(_CLF_BUCKETS).select(F.col("id").cast("int").alias("bucket"))
    full = (
        # counts is ≤_CLF_BUCKETS rows after its groupBy — hint it so the
        # spine fill is a broadcast join, not a 256-row sort-merge exchange
        spine.join(F.broadcast(counts), "bucket", "left")
        .select(
            "bucket",
            F.coalesce("np", F.lit(0)).alias("np"),
            F.coalesce("nn", F.lit(0)).alias("nn"),
        )
    )
    tot = full.agg(F.sum("np").alias("tp"), F.sum("nn").alias("tn"))
    a, b = float(_CLF_ALPHA), float(_CLF_ALPHA * _CLF_BUCKETS)
    return full.crossJoin(F.broadcast(tot)).select(
        "bucket",
        (
            F.log((F.col("np") + a) / (F.col("tp") + b))
            - F.log((F.col("nn") + a) / (F.col("tn") + b))
        ).alias("wt"),
    )


def score_hashed_ngram(feats, weights, id_col: str = "doc_id"):
    """Score each document as the MEAN per-feature log-odds weight — the
    linear classifier's length-normalized decision value (score > 0 reads
    'positive class'). The weight table is a ≤_CLF_BUCKETS-row broadcast
    dim, so the corpus side never shuffles to score; the only exchange is
    the per-doc mean."""
    return (
        feats.join(F.broadcast(weights), "bucket")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_feats"),
            F.round(F.avg("wt"), 4).alias("score"),
            (F.avg("wt") > 0).alias("pred_pos"),
        )
    )


# hashed-feature CTE body (d: token arrays, f: namespaced uni/bigram
# features, fb: (doc_id, bucket)) — the DuckDB twin of
# hashed_ngram_features(), shared by the classifier oracles here and the
# DSIR importance-resampling oracle (operators/curation.py)
FEAT_CTES = f"""
    WITH d AS (
      SELECT doc_id,
             regexp_split_to_array(trim(lower(text)), '[ \\t\\n\\r\\f\\x0B]+') AS ws
      FROM documents WHERE length(trim(text)) > 0
    ), f AS (
      SELECT doc_id, 'u|' || w AS f
      FROM (SELECT doc_id, unnest(ws) AS w FROM d)
      UNION ALL
      SELECT doc_id, 'b|' || ws[i+1] || ' ' || ws[i+2] AS f
      FROM (SELECT doc_id, ws, unnest(range(len(ws)-1)) AS i FROM d)
    ), fb AS (
      SELECT doc_id, {_BUCKET_SQL} AS bucket FROM f
    )"""

# the classifier's trained-weights CTE chain, shared by the scoring oracle
# and the calibration oracle (the _lloyd_ctes discipline: both driver checks
# hash-verify the TRAINING, not a frozen snapshot)
_CLF_CTES = FEAT_CTES + f""", lab AS (
      SELECT doc_id, (lang = 'en') AS pos FROM documents
    ), tr AS (
      SELECT fb.bucket, lab.pos FROM fb JOIN lab USING (doc_id)
      WHERE doc_id % 3 = 0
    ), cnt AS (
      SELECT b.bucket,
             coalesce(sum(CASE WHEN pos THEN 1 ELSE 0 END), 0) AS np,
             coalesce(sum(CASE WHEN NOT pos THEN 1 ELSE 0 END), 0) AS nn
      FROM (SELECT unnest(range({_CLF_BUCKETS})) AS bucket) b
      LEFT JOIN tr ON tr.bucket = b.bucket
      GROUP BY 1
    ), tot AS (SELECT sum(np) AS tp, sum(nn) AS tn FROM cnt),
    w AS (
      SELECT bucket,
             ln((np + {float(_CLF_ALPHA)}) / (tp + {float(_CLF_ALPHA * _CLF_BUCKETS)}))
             - ln((nn + {float(_CLF_ALPHA)}) / (tn + {float(_CLF_ALPHA * _CLF_BUCKETS)})) AS wt
      FROM cnt CROSS JOIN tot
    )"""


@register(
    "text_quality_classifier",
    oracle=_CLF_CTES + """
    SELECT fb.doc_id,
           CAST(count(*) AS BIGINT) AS n_feats,
           round(avg(wt), 4) AS score,
           avg(wt) > 0 AS pred_pos
    FROM fb JOIN w USING (bucket)
    GROUP BY fb.doc_id ORDER BY fb.doc_id
    """,
    doc="Hashed-ngram linear quality classifier (fastText/DCLM-style model-"
    "based filtering, Joulin et al. 2016 / Li et al. 2024): word unigram + "
    "bigram features hashed to 256 buckets, per-bucket log-odds weights "
    "trained IN-JOB on a deterministic labeled slice (doc_id %% 3 == 0, "
    "label = lang=='en'), every document scored by mean feature weight. "
    "Training is one hash-groupBy on bucket; scoring joins a 256-row "
    "broadcast weight dim — the corpus never shuffles to score. The DuckDB "
    "oracle unrolls the SAME training as CTEs, so the driver hash-verifies "
    "the training, not a frozen weight snapshot (the ann_ivf_trained "
    "discipline).",
)
def text_quality_classifier(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    feats = hashed_ngram_features(d)
    labels = d.select("doc_id", (F.col("lang") == "en").alias("pos"))
    train = feats.join(labels, "doc_id").filter(F.col("doc_id") % 3 == 0)
    weights = train_hashed_ngram_weights(spark, train)
    return score_hashed_ngram(feats, weights).orderBy("doc_id")


_CAL_THRESHOLDS = (-0.04, -0.02, 0.0, 0.02, 0.04)


@register(
    "classifier_calibration",
    oracle=_CLF_CTES + f""",
    sc AS (
      SELECT fb.doc_id, round(avg(wt), 4) AS score
      FROM fb JOIN w USING (bucket) GROUP BY fb.doc_id
    ), held AS (
      SELECT sc.doc_id, sc.score, lab.pos
      FROM sc JOIN lab USING (doc_id) WHERE sc.doc_id % 3 <> 0
    ), thr(thr) AS (VALUES {", ".join(f"({t})" for t in _CAL_THRESHOLDS)})
    SELECT CAST(thr AS DOUBLE) AS thr,
           CAST(sum(CASE WHEN pos AND score > thr THEN 1 ELSE 0 END) AS BIGINT) AS tp,
           CAST(sum(CASE WHEN NOT pos AND score > thr THEN 1 ELSE 0 END) AS BIGINT) AS fp,
           CAST(sum(CASE WHEN pos AND score <= thr THEN 1 ELSE 0 END) AS BIGINT) AS fn,
           round(sum(CASE WHEN pos AND score > thr THEN 1 ELSE 0 END)
                 / CAST(nullif(sum(CASE WHEN score > thr THEN 1 ELSE 0 END), 0)
                        AS DOUBLE), 4) AS precision_at,
           round(sum(CASE WHEN pos AND score > thr THEN 1 ELSE 0 END)
                 / CAST(nullif(sum(CASE WHEN pos THEN 1 ELSE 0 END), 0)
                        AS DOUBLE), 4) AS recall_at
    FROM held CROSS JOIN thr
    GROUP BY thr ORDER BY thr
    """,
    doc="Threshold calibration for the hashed-ngram quality classifier: "
    "the same in-job training as text_quality_classifier, then a "
    "precision/recall sweep over a fixed threshold grid on the HELD-OUT "
    "slice (doc_id %% 3 != 0 — never the training rows). This is the "
    "missing half of model-based filtering in practice: the keep/drop "
    "threshold is a corpus-level tuning decision (DCLM tunes it per "
    "mixture), and computing the whole operating curve costs ONE extra "
    "aggregation — scored docs cross-join a 5-row broadcast threshold "
    "grid, then one groupBy(thr) with partial aggs. The oracle re-derives "
    "training + scoring + sweep end-to-end via the shared _CLF_CTES.",
)
def classifier_calibration(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    feats = hashed_ngram_features(d)
    labels = d.select("doc_id", (F.col("lang") == "en").alias("pos"))
    train = feats.join(labels, "doc_id").filter(F.col("doc_id") % 3 == 0)
    weights = train_hashed_ngram_weights(spark, train)
    held = (
        score_hashed_ngram(feats, weights)
        .join(labels, "doc_id")
        .filter(F.col("doc_id") % 3 != 0)
    )
    thr = spark.createDataFrame([(t,) for t in _CAL_THRESHOLDS], "thr double")
    above = F.col("score") > F.col("thr")
    tp = F.sum((F.col("pos") & above).cast("long"))
    fp = F.sum((~F.col("pos") & above).cast("long"))
    fn = F.sum((F.col("pos") & ~above).cast("long"))
    return (
        held.crossJoin(F.broadcast(thr))
        .groupBy("thr")
        .agg(
            tp.alias("tp"),
            fp.alias("fp"),
            fn.alias("fn"),
            F.round(tp / F.nullif((tp + fp).cast("double"), F.lit(0.0)), 4)
            .alias("precision_at"),
            F.round(tp / F.nullif((tp + fn).cast("double"), F.lit(0.0)), 4)
            .alias("recall_at"),
        )
        .orderBy("thr")
    )


@register(
    "text_collapse_repeats",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             regexp_split_to_array(trim(text), '[ \\t\\n\\r\\f\\x0B]+') AS ws
      FROM documents WHERE length(trim(text)) > 0
    ), k AS (
      SELECT doc_id, ws,
             list_filter(ws, (x, i) -> i = 1 OR x <> ws[i-1]) AS kept
      FROM d
    )
    SELECT doc_id,
           CAST(len(ws) AS BIGINT) AS n_words,
           CAST(len(ws) - len(kept) AS BIGINT) AS n_dropped,
           substr(md5(list_aggregate(kept, 'string_agg', ' ')), 1, 16) AS fp
    FROM k ORDER BY doc_id
    """,
    doc="Consecutive-repeat collapse: runs of identical adjacent words "
    "reduce to one (the stutter-normalization pass for OCR output and "
    "templated boilerplate; the within-doc cousin of Gopher's duplicate-"
    "line rules). Entirely row-local via INDEXED higher-order array "
    "functions — filter(ws, (x, i) -> i = 0 OR x != ws[i-1]) in Spark, "
    "the 1-based list_filter twin in DuckDB — one codegen stage, zero "
    "exchange at any corpus size. Output keeps the collapsed-text "
    "fingerprint so the transform itself is hash-verified, not just the "
    "drop counts.",
)
def text_collapse_repeats(spark, sf_dir):
    d = (
        load(spark, sf_dir, "documents")
        .filter(F.length(F.trim("text")) > 0)
        .select("doc_id", F.split(F.trim("text"), r"[ \t\n\r\f\x0B]+").alias("ws"))
    )
    k = d.withColumn("kept", F.expr("filter(ws, (x, i) -> i = 0 OR x != ws[i-1])"))
    return k.select(
        "doc_id",
        F.size("ws").cast("long").alias("n_words"),
        (F.size("ws") - F.size("kept")).cast("long").alias("n_dropped"),
        F.substring(
            F.md5(F.array_join("kept", " ").cast("binary")), 1, 16
        ).alias("fp"),
    ).orderBy("doc_id")


# --- one-pass wide quality-signal table --------------------------------------

_WS_SQL = "[ \\t\\n\\r\\f\\x0B]+"


@register(
    "quality_signals_wide",
    oracle=f"""
    WITH raw AS (
      SELECT doc_id, lang, source, text,
             length(text) AS chars,
             len(regexp_split_to_array(trim(text), '{_WS_SQL}')) AS words,
             len(regexp_extract_all(text, '{_TOKEN_PAT}')) AS bpe_tokens,
             len(regexp_extract_all(text, '\\b(data|table|row|value|query)\\b'))
               AS stop_hits,
             length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
               AS digits,
             length(regexp_replace(text, '{_WS_SQL}', '', 'g')) AS chars_nospace
      FROM documents WHERE length(trim(text)) > 0
    )
    SELECT doc_id, lang, source,
           CAST(chars AS BIGINT) AS chars,
           CAST(words AS BIGINT) AS words,
           CAST(bpe_tokens AS BIGINT) AS bpe_tokens,
           CAST(stop_hits AS BIGINT) AS stop_hits,
           round(stop_hits / CAST(words AS DOUBLE), 4) AS stop_ratio,
           round(digits / CAST(chars AS DOUBLE), 4) AS digit_ratio,
           round(chars_nospace / CAST(words AS DOUBLE), 4) AS mean_word_len,
           round(ln(1 + chars) * (1 - stop_hits / CAST(words AS DOUBLE)), 4)
             AS quality
    FROM raw
    """,
    doc="One-pass per-document quality-signal table (the Dolma / "
    "RedPajama-v2 'quality signals' companion artifact): every row-local "
    "signal — char/word/BPE-ish token counts, stopword ratio, digit "
    "ratio, mean word length, the composite quality score — computed in "
    "a SINGLE projection over a SINGLE scan. At 10^12 docs the signal "
    "table is written once and filtered many times, so the thing that "
    "matters is that signal computation never re-reads the corpus and "
    "never shuffles: this plan is scan → one whole-stage-codegen "
    "projection, zero exchanges, zero UDFs (plan-pinned).",
)
def quality_signals_wide(spark, sf_dir):
    d = load(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    chars = F.length("text")
    words = F.size(F.split(F.trim("text"), r"[ \t\n\r\f\x0B]+"))
    bpe = F.regexp_count("text", F.lit(_TOKEN_PAT))
    stop_hits = F.regexp_count("text", F.lit(r"\b(data|table|row|value|query)\b"))
    digits = chars - F.length(F.regexp_replace("text", "[0-9]", ""))
    nospace = F.length(F.regexp_replace("text", r"[ \t\n\r\f\x0B]+", ""))
    wd = words.cast("double")
    return d.select(
        "doc_id",
        "lang",
        "source",
        chars.cast("long").alias("chars"),
        words.cast("long").alias("words"),
        bpe.cast("long").alias("bpe_tokens"),
        stop_hits.cast("long").alias("stop_hits"),
        F.round(stop_hits / wd, 4).alias("stop_ratio"),
        F.round(digits / chars.cast("double"), 4).alias("digit_ratio"),
        F.round(nospace / wd, 4).alias("mean_word_len"),
        F.round(_quality(), 4).alias("quality"),
    )


# --- corpus mixture report (ROLLUP) -------------------------------------------


@register(
    "domain_mix_report",
    oracle=f"""
    SELECT lang, source,
           CAST(GROUPING(lang, source) AS BIGINT) AS lvl,
           count(*) AS docs,
           CAST(sum(len(regexp_split_to_array(trim(text), '{_WS_SQL}')))
                AS BIGINT) AS ws_tokens
    FROM documents WHERE length(trim(text)) > 0
    GROUP BY ROLLUP (lang, source)
    """,
    doc="Corpus mixture-composition report: docs and tokens per "
    "(lang, source), per lang, and grand total in ONE aggregation pass "
    "via ROLLUP — the table a training run's data card publishes, and the "
    "input to mixture reweighting (sample_stratified / sample_temperature "
    "rates are derived from exactly these counts). Spark plans rollup as "
    "Expand + one partial+final hash aggregate: each row is expanded to "
    "its 3 grouping sets map-side and combined before the single "
    "shuffle — no second pass over the corpus, no union of three "
    "aggregations. lvl = GROUPING bitmask (0 = leaf, 1 = per-lang "
    "subtotal, 3 = grand total), identical bit order in both engines.",
)
def domain_mix_report(spark, sf_dir):
    d = load(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    ws_tokens = F.size(F.split(F.trim("text"), r"[ \t\n\r\f\x0B]+"))
    return d.rollup("lang", "source").agg(
        F.grouping_id().cast("long").alias("lvl"),
        F.count("*").alias("docs"),
        F.sum(ws_tokens).cast("long").alias("ws_tokens"),
    ).select("lang", "source", "lvl", "docs", "ws_tokens")


# --- interpolated bigram LM score ---------------------------------------------


@register(
    "text_bigram_nll",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '{_WS_SQL}') AS ws
      FROM documents WHERE length(trim(text)) > 0
    ),
    w AS (SELECT doc_id, unnest(ws) AS word FROM d),
    freq AS (SELECT word, count(*) AS cnt FROM w GROUP BY 1),
    tot AS (SELECT sum(cnt) AS n FROM freq),
    big AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(ws)), i -> ws[i])) AS w1,
             unnest(list_transform(range(1, len(ws)), i -> ws[i + 1])) AS w2
      FROM d WHERE len(ws) >= 2
    ),
    bcnt AS (SELECT w1, w2, count(*) AS bc FROM big GROUP BY 1, 2),
    pcnt AS (SELECT w1, count(*) AS pc FROM big GROUP BY 1),
    scored AS (
      SELECT b.doc_id,
             0.7 * (bcnt.bc / CAST(pcnt.pc AS DOUBLE))
             + 0.3 * (freq.cnt / CAST(tot.n AS DOUBLE)) AS p
      FROM big b
      JOIN bcnt USING (w1, w2)
      JOIN pcnt USING (w1)
      JOIN freq ON freq.word = b.w2
      CROSS JOIN tot
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           round(avg(-ln(p)), 4) AS avg_nll
    FROM scored GROUP BY 1 ORDER BY 1
    """,
    doc="Interpolated bigram LM quality score — one modeling step past "
    "text_unigram_nll toward CCNet's 5-gram KenLM: p(w2|w1) = "
    "0.7·p_bigram + 0.3·p_unigram (fixed-weight Jelinek-Mercer "
    "smoothing), trained ON the corpus in-job and scored per document as "
    "mean -ln p over its bigrams. Bigrams are built ROW-LOCALLY from the "
    "word array (indexed array transform — no positional self-join), so "
    "training is two hash-groupBys (bigram and prefix counts, each with "
    "map-side partial agg) and scoring is keyed equi-joins on the gram — "
    "every stage linear in corpus tokens. The 1-row total broadcasts. "
    "The oracle unrolls the SAME training as CTEs, so the driver "
    "hash-verifies training, not a frozen snapshot.",
)
def text_bigram_nll(spark, sf_dir):
    d = (
        load(spark, sf_dir, "documents")
        .filter(F.length(F.trim("text")) > 0)
        .select("doc_id", F.split(F.trim("text"), r"[ \t\n\r\f\x0B]+").alias("ws"))
    )
    w = d.select("doc_id", F.explode("ws").alias("word"))
    freq = w.groupBy("word").agg(F.count("*").alias("cnt"))
    tot = freq.agg(F.sum("cnt").alias("n"))
    big = (
        d.filter(F.size("ws") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(ws) - 1),"
                    " i -> struct(element_at(ws, i) AS w1,"
                    "             element_at(ws, i + 1) AS w2))"
                )
            ).alias("bg"),
        )
        .select("doc_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    )
    bcnt = big.groupBy("w1", "w2").agg(F.count("*").alias("bc"))
    pcnt = big.groupBy("w1").agg(F.count("*").alias("pc"))
    scored = (
        big.join(bcnt, ["w1", "w2"])
        .join(pcnt, "w1")
        .join(freq, F.col("w2") == F.col("word"))
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            (
                0.7 * (F.col("bc") / F.col("pc").cast("double"))
                + 0.3 * (F.col("cnt") / F.col("n").cast("double"))
            ).alias("p"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.round(F.avg(-F.log("p")), 4).alias("avg_nll"),
        )
        .orderBy("doc_id")
    )


# --- corpus diversity report -------------------------------------------------


@register(
    "corpus_diversity",
    oracle="""
    WITH d AS (
      SELECT doc_id, source,
             regexp_split_to_array(trim(text), '[ \\t\\n\\r\\f\\x0B]+') AS ws
      FROM documents
    ), g AS (
      SELECT doc_id, source,
             unnest(list_concat(
               list_transform(ws, w -> 'u:' || w),
               list_transform(range(len(ws) - 1),
                              i -> 'b:' || ws[i + 1] || ' ' || ws[i + 2])
             )) AS g
      FROM d
    )
    SELECT source,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS docs,
           CAST(count(*) FILTER (WHERE g LIKE 'u:%') AS BIGINT) AS tokens,
           CAST(count(DISTINCT g) FILTER (WHERE g LIKE 'u:%') AS BIGINT)
             AS distinct_unigrams,
           CAST(count(DISTINCT g) FILTER (WHERE g LIKE 'b:%') AS BIGINT)
             AS distinct_bigrams,
           round(count(DISTINCT g) FILTER (WHERE g LIKE 'u:%')
                 / CAST(count(*) FILTER (WHERE g LIKE 'u:%') AS DOUBLE), 6)
             AS ttr,
           round(count(DISTINCT g) FILTER (WHERE g LIKE 'b:%')
                 / CAST(greatest(count(*) FILTER (WHERE g LIKE 'b:%'), 1) AS DOUBLE), 6)
             AS distinct_bigram_ratio
    FROM g GROUP BY source ORDER BY source
    """,
    doc="Corpus diversity report per source: type-token ratio and "
    "distinct-bigram ratio (the distinct-n diversity family used to "
    "detect mode-collapsed / over-deduplicated / boilerplate-heavy "
    "slices before training). Unigrams and bigrams are built row-local "
    "with array HOFs, tagged, and exploded ONCE; the only shuffle is the "
    "per-source aggregation (count-distinct expands to a two-key partial "
    "agg — still one pass over corpus bytes at any scale).",
)
def corpus_diversity(spark, sf_dir):
    d = load(spark, sf_dir, "documents").select(
        "doc_id", "source", F.split(F.trim("text"), r"[ \t\n\r\f\x0B]+").alias("ws")
    )
    # guard: sequence(0, stop) runs DESCENDING for stop < 0 (same gotcha as
    # curation.decontaminate) — a 1-word doc must yield zero bigrams
    grams = F.expr(
        "concat(transform(ws, w -> concat('u:', w)), "
        "CASE WHEN size(ws) >= 2 THEN transform(sequence(0, size(ws) - 2), "
        "i -> concat('b:', ws[i], ' ', ws[i + 1])) "
        "ELSE cast(array() as array<string>) END)"
    )
    g = d.select("doc_id", "source", F.explode(grams).alias("g"))
    is_u = F.col("g").startswith("u:")
    is_b = F.col("g").startswith("b:")
    tokens = F.count(F.when(is_u, 1))
    du = F.count_distinct(F.when(is_u, F.col("g")))
    db = F.count_distinct(F.when(is_b, F.col("g")))
    nb = F.count(F.when(is_b, 1))
    return (
        g.groupBy("source")
        .agg(
            F.count_distinct("doc_id").alias("docs"),
            tokens.cast("long").alias("tokens"),
            du.cast("long").alias("distinct_unigrams"),
            db.cast("long").alias("distinct_bigrams"),
            F.round(du / tokens.cast("double"), 6).alias("ttr"),
            F.round(db / F.greatest(nb, F.lit(1)).cast("double"), 6)
            .alias("distinct_bigram_ratio"),
        )
        .orderBy("source")
    )


# --- language-ID evaluation: confusion matrix --------------------------------


@register(
    "langid_confusion",
    oracle="""
    WITH hints(code, marker) AS (VALUES
      ('en', ' data '), ('en', ' table '), ('fr', ' colonne '), ('es', ' fila '),
      ('de', ' spalte '), ('en', ' query ')),
    hits AS (
      SELECT d.doc_id, h.code,
             sum((length(' ' || lower(d.text) || ' ')
                  - length(replace(' ' || lower(d.text) || ' ', h.marker, '')))
                 // length(h.marker)) AS n_hits
      FROM documents d CROSS JOIN hints h
      GROUP BY 1, 2
    ), pred AS (
      SELECT doc_id, code AS predicted_lang FROM (
        SELECT doc_id, code,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY n_hits DESC, code) AS rn
        FROM hits
      ) WHERE rn = 1
    ), conf AS (
      SELECT d.lang, p.predicted_lang, count(*) AS n
      FROM pred p JOIN documents d USING (doc_id)
      GROUP BY 1, 2
    ), tot AS (
      SELECT lang, sum(n) AS lang_total FROM conf GROUP BY 1
    )
    SELECT c.lang, c.predicted_lang,
           CAST(c.n AS BIGINT) AS n,
           round(c.n / CAST(t.lang_total AS DOUBLE), 6) AS row_rate
    FROM conf c JOIN tot t USING (lang)
    ORDER BY c.lang, c.predicted_lang
    """,
    doc="Language-ID evaluation: confusion matrix of the marker-argmax "
    "classifier (text_lang_id's rule, run corpus-wide) against the "
    "table's ground-truth lang labels, with row-normalized rates — the "
    "precision/recall surface a pipeline tunes its lang filter against. "
    "Hint table broadcast; argmax per doc; two bounded aggs (cells are "
    "|langs|^2 rows at any corpus size).",
)
def langid_confusion(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    hints = spark.createDataFrame(
        [("en", " data "), ("en", " table "), ("fr", " colonne "), ("es", " fila "),
         ("de", " spalte "), ("en", " query ")],
        ["code", "marker"],
    )
    padded = F.concat(F.lit(" "), F.lower("text"), F.lit(" "))
    n_hits = F.floor(
        (F.length(padded) - F.length(F.replace(padded, F.col("marker"), F.lit(""))))
        / F.length("marker")
    )
    hits = (
        d.crossJoin(F.broadcast(hints))
        .groupBy("doc_id", "code")
        .agg(F.sum(n_hits).alias("n_hits"))
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("n_hits"), F.asc("code"))
    pred = (
        hits.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("code").alias("predicted_lang"))
    )
    conf = (
        pred.join(d.select("doc_id", "lang"), "doc_id")
        .groupBy("lang", "predicted_lang")
        .agg(F.count("*").alias("n"))
    )
    tot = conf.groupBy("lang").agg(F.sum("n").alias("lang_total"))
    return (
        conf.join(F.broadcast(tot), "lang")
        .select(
            "lang",
            "predicted_lang",
            F.col("n").cast("long").alias("n"),
            F.round(F.col("n") / F.col("lang_total").cast("double"), 6)
            .alias("row_rate"),
        )
        .orderBy("lang", "predicted_lang")
    )


# --- vocabulary coverage / fertility report ----------------------------------

# In-job trained vocab size (top-K by corpus frequency). 24 on the synthetic
# corpus (31 distinct words) so the tail is genuinely OUT of vocab and the
# per-source OOV/fertility numbers discriminate; at real scale this is the
# 30k-entry knob and the same plan holds (vocab stays a broadcast dim).
_VOCAB_K = 24


@register(
    "vocab_oov_report",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, source,
             unnest(regexp_split_to_array(trim(lower(text)),
                                          '[ \\t\\n\\r\\f\\x0B]+')) AS w
      FROM documents
    ), vocab AS (
      SELECT w FROM (
        SELECT w, count(*) AS c,
               row_number() OVER (ORDER BY count(*) DESC, w) AS rn
        FROM w GROUP BY w
      ) WHERE rn <= {_VOCAB_K}
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS tokens,
           CAST(sum(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS oov_tokens,
           round(sum(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 6) AS oov_rate,
           CAST(sum(CASE WHEN v.w IS NULL THEN length(w.w) ELSE 1 END) AS BIGINT)
             AS effective_tokens,
           round(sum(CASE WHEN v.w IS NULL THEN length(w.w) ELSE 1 END)
                 / CAST(count(*) AS DOUBLE), 4) AS fertility
    FROM w LEFT JOIN vocab v ON w.w = v.w
    GROUP BY source ORDER BY source
    """,
    doc="Tokenizer coverage report with an IN-JOB trained vocabulary: the "
    f"top-{_VOCAB_K} words by corpus frequency (ties to the lexically "
    "smallest — deterministic, engine-portable) stand in for a trained "
    "wordpiece vocab; per-source OOV rate and char-fallback fertility "
    "(an OOV word costs len(word) byte-tokens, in-vocab costs 1) — the "
    "what-will-this-corpus-cost-to-tokenize numbers checked before "
    "committing a tokenizer at scale. Training is one hash-groupBy + a "
    "bounded global top-K (TakeOrdered, K rows to the driver); scoring "
    "probes the BROADCAST vocab — the corpus never shuffles to score. "
    "The oracle re-trains the same vocab in CTEs (the text_unigram_nll "
    "discipline), so the driver hash-verifies training + scoring.",
)
def vocab_oov_report(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    w = d.select(
        "source",
        F.explode(F.split(F.trim(F.lower("text")), r"[ \t\n\r\f\x0B]+")).alias("w"),
    )
    vocab = (
        w.groupBy("w")
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), F.asc("w"))
        .limit(_VOCAB_K)
        .select("w", F.lit(1).alias("_in_vocab"))
    )
    scored = w.join(F.broadcast(vocab), "w", "left")
    oov = F.when(F.col("_in_vocab").isNull(), 1).otherwise(0)
    eff = F.when(F.col("_in_vocab").isNull(), F.length("w")).otherwise(F.lit(1))
    return (
        scored.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("tokens"),
            F.sum(oov).cast("long").alias("oov_tokens"),
            F.round(F.sum(oov) / F.count("*").cast("double"), 6).alias("oov_rate"),
            F.sum(eff).cast("long").alias("effective_tokens"),
            F.round(F.sum(eff) / F.count("*").cast("double"), 4).alias("fertility"),
        )
        .orderBy("source")
    )


# --- Heaps-law vocabulary growth -----------------------------------------------

# Checkpoint count for the growth curve. 10 equal doc-id deciles: the curve
# needs only enough points to expose the V = K * T^beta shape, and the spine
# stays a constant-size table at any corpus size.
_GROWTH_CKPTS = 10


@register(
    "vocab_growth",
    oracle=f"""
    WITH mx AS (SELECT max(doc_id) AS mx FROM documents),
    w AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(trim(lower(text)),
                                          '[ \\t\\n\\r\\f\\x0B]+')) AS w
      FROM documents
    ), wb AS (
      SELECT CAST(floor(doc_id * {_GROWTH_CKPTS} / (mx + 1)) AS INT) AS b, w
      FROM w CROSS JOIN mx WHERE w <> ''
    ), nv AS (
      SELECT fb AS b, count(*) AS nw
      FROM (SELECT w, min(b) AS fb FROM wb GROUP BY w) GROUP BY fb
    ), tk AS (
      SELECT b, count(*) AS tok FROM wb GROUP BY b
    ), dc AS (
      SELECT CAST(floor(doc_id * {_GROWTH_CKPTS} / (mx + 1)) AS INT) AS b,
             count(*) AS n
      FROM documents CROSS JOIN mx GROUP BY 1
    ), spine AS (SELECT unnest(range({_GROWTH_CKPTS})) AS b)
    SELECT CAST(s.b + 1 AS INT) AS checkpoint,
           CAST(sum(coalesce(dc.n, 0)) OVER (ORDER BY s.b) AS BIGINT) AS docs,
           CAST(sum(coalesce(tk.tok, 0)) OVER (ORDER BY s.b) AS BIGINT) AS tokens,
           CAST(sum(coalesce(nv.nw, 0)) OVER (ORDER BY s.b) AS BIGINT) AS vocab,
           round(ln(sum(coalesce(nv.nw, 0)) OVER (ORDER BY s.b))
                 / ln(sum(coalesce(tk.tok, 0)) OVER (ORDER BY s.b)), 4)
             AS heaps_beta
    FROM spine s
    LEFT JOIN nv ON nv.b = s.b
    LEFT JOIN tk ON tk.b = s.b
    LEFT JOIN dc ON dc.b = s.b
    ORDER BY checkpoint
    """,
    doc="Heaps-law vocabulary growth curve: cumulative distinct-word count "
    "vs cumulative token count at 10 doc-id checkpoints, plus the implied "
    "Heaps exponent ln(V)/ln(T) — the does-vocabulary-saturate number that "
    "sizes a tokenizer (and flags synthetic/templated corpora, which "
    "plateau early). Cumulative-distinct is NOT computed with a global "
    "window: each word contributes at its FIRST-occurrence checkpoint "
    "(one groupBy(word) -> min(bucket)), per-bucket news are summed, and "
    "only the constant 10-row checkpoint spine is windowed — the corpus "
    "sees two hash aggs and nothing else. The 1-row max(doc_id) hint and "
    "the spine join are broadcasts.",
)
def vocab_growth(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    mx = d.agg(F.max("doc_id").alias("mx"))
    bucket = F.floor(F.col("doc_id") * _GROWTH_CKPTS / (F.col("mx") + 1)).cast("int")
    w = (
        d.select(
            "doc_id",
            F.explode(
                F.split(F.trim(F.lower("text")), r"[ \t\n\r\f\x0B]+")
            ).alias("w"),
        )
        .filter(F.col("w") != "")
        .join(F.broadcast(mx))
        .select(bucket.alias("b"), "w")
    )
    nv = (
        w.groupBy("w")
        .agg(F.min("b").alias("fb"))
        .groupBy(F.col("fb").alias("b"))
        .agg(F.count("*").alias("nw"))
    )
    tk = w.groupBy("b").agg(F.count("*").alias("tok"))
    dc = (
        d.join(F.broadcast(mx))
        .select(bucket.alias("b"))
        .groupBy("b")
        .agg(F.count("*").alias("n"))
    )
    spine = spark.range(_GROWTH_CKPTS).select(F.col("id").cast("int").alias("b"))
    cum = W.orderBy("b").rowsBetween(W.unboundedPreceding, W.currentRow)
    docs = F.sum(F.coalesce("n", F.lit(0))).over(cum)
    toks = F.sum(F.coalesce("tok", F.lit(0))).over(cum)
    voc = F.sum(F.coalesce("nw", F.lit(0))).over(cum)
    return (
        spine.join(F.broadcast(nv), "b", "left")
        .join(F.broadcast(tk), "b", "left")
        .join(F.broadcast(dc), "b", "left")
        .select(
            (F.col("b") + 1).cast("int").alias("checkpoint"),
            docs.cast("long").alias("docs"),
            toks.cast("long").alias("tokens"),
            voc.cast("long").alias("vocab"),
            F.round(F.log(voc) / F.log(toks), 4).alias("heaps_beta"),
        )
        .orderBy("checkpoint")
    )


# --- BPE merge training (Sennrich et al. 2016) --------------------------------

_BPE_ROUNDS = 8  # learned merges; fixed so the oracle can unroll them as CTEs
# Training operates on the distinct-word frequency table (the Zipf-bounded
# side, exactly how real BPE trainers work) capped to the top-N words by
# (count, word) — the FAISS-prefix-sample discipline: merge statistics need
# the head of the distribution, not 10^12 raw tokens.
_BPE_TRAIN_W = 4096

_BPE_WSPLIT = "regexp_split_to_array(trim(lower(text)), '[ \\t\\n\\r\\f\\x0B]+')"


def _bpe_ctes(n_rounds: int) -> list[str]:
    """The unrolled-BPE CTE chain: word-frequency table -> top-_BPE_TRAIN_W
    cap -> char split -> n_rounds of (adjacent-pair count, argmax pair,
    left-to-right re-tokenize via list_reduce). Ends with b{r}/w{r} per
    round. Ties break (count DESC, left, right) in both engines; the fold
    encodes the running tokenization as a chr(31)-joined string because
    list_reduce's accumulator must share the element type."""
    ctes = [
        f"""base AS (
      SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM (
        SELECT unnest({_BPE_WSPLIT}) AS word FROM documents
      ) WHERE word <> '' GROUP BY word
    )""",
        f"""cap AS (
      SELECT word, cnt FROM (
        SELECT word, cnt, row_number() OVER (ORDER BY cnt DESC, word) AS rn
        FROM base
      ) WHERE rn <= {_BPE_TRAIN_W}
    )""",
        """w0 AS (
      SELECT word, cnt,
             list_transform(range(length(word)),
                            i -> substr(word, CAST(i + 1 AS INT), 1)) AS toks
      FROM cap
    )""",
    ]
    for r in range(1, n_rounds + 1):
        ctes.append(f"""p{r} AS (
      SELECT l, r, CAST(sum(cnt) AS BIGINT) AS pc FROM (
        SELECT cnt, unnest(toks[1:len(toks) - 1]) AS l,
               unnest(toks[2:len(toks)]) AS r
        FROM w{r - 1} WHERE len(toks) >= 2
      ) GROUP BY l, r
    )""")
        ctes.append(f"""b{r} AS (
      SELECT l, r, pc FROM p{r} ORDER BY pc DESC, l, r LIMIT 1
    )""")
        ctes.append(f"""w{r} AS (
      SELECT word, cnt,
        CASE WHEN len(toks) <= 1 THEN toks
        ELSE string_split(list_reduce(toks, (acc, x) ->
          CASE WHEN (acc = b.l OR ends_with(acc, chr(31) || b.l)) AND x = b.r
               THEN substr(acc, 1, length(acc) - length(b.l)) || b.l || b.r
               ELSE acc || chr(31) || x END), chr(31))
        END AS toks
      FROM w{r - 1} CROSS JOIN b{r} b
    )""")
    return ctes


def _bpe_oracle_sql(n_rounds: int) -> str:
    legs = [
        f"""SELECT {r} AS merge_round, l AS pair_left, r AS pair_right,
               l || r AS merged, pc AS pair_count,
               (SELECT CAST(sum(cnt * len(toks)) AS BIGINT) FROM w{r})
                 AS corpus_tokens
        FROM b{r}"""
        for r in range(1, n_rounds + 1)
    ]
    return (
        "WITH "
        + ",\n".join(_bpe_ctes(n_rounds))
        + "\nSELECT * FROM (\n"
        + "\nUNION ALL\n".join(legs)
        + "\n) ORDER BY merge_round"
    )


_BPE_SEP = "\x1f"


def _bpe_merge_fold(toks, left: str, right: str):
    """Left-to-right non-overlapping BPE merge of (left, right) over a token
    array, as a pure fold: the accumulator is the chr(31)-joined running
    tokenization (tokens never contain chr(31)), matching the DuckDB
    list_reduce twin in _bpe_ctes byte for byte. Literals are bound with
    F.lit, so no SQL-string escaping of data-derived tokens ever happens."""
    sep, lft, merged = F.lit(_BPE_SEP), F.lit(left), F.lit(left + right)

    def step(acc, x):
        hit = ((acc == lft) | acc.endswith(F.concat(sep, lft))) & (x == F.lit(right))
        stripped = F.substring(acc, F.lit(1), F.length(acc) - len(left))
        return F.when(hit, F.concat(stripped, merged)).otherwise(
            F.concat(acc, sep, x)
        )

    folded = F.aggregate(
        F.slice(toks, 2, F.size(toks) - 1), F.element_at(toks, 1), step
    )
    return F.when(F.size(toks) <= 1, toks).otherwise(F.split(folded, _BPE_SEP))


@register(
    "bpe_merges",
    oracle=_bpe_oracle_sql(_BPE_ROUNDS),
    doc="BPE tokenizer training IN-JOB (Sennrich et al. 2016): learn the "
    f"first {_BPE_ROUNDS} merge rules from the corpus and report each "
    "round's chosen pair, its frequency, and the training-table token "
    "count after applying it. Training runs on the distinct-word frequency "
    "table (one corpus groupBy; the Zipf-bounded side, exactly where real "
    f"BPE trainers operate) capped to the top-{_BPE_TRAIN_W} words; each "
    "round is one hash agg over adjacent token pairs + a LIMIT-1 argmax "
    "(one row to the driver, the ann_ivf_trained Lloyd discipline) + a "
    "row-local left-to-right merge fold — bounded rounds, bounded driver "
    "rows, no windows over the corpus. The DuckDB oracle unrolls the SAME "
    "rounds as chained CTEs (shared _bpe_ctes), so the driver hash-verifies "
    "the training itself, not a frozen merge table.",
)
def bpe_merges(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    wf = (
        d.select(
            F.explode(
                F.split(F.trim(F.lower("text")), r"[ \t\n\r\f\x0B]+")
            ).alias("word")
        )
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("word"))
        .limit(_BPE_TRAIN_W)
        .selectExpr(
            "word",
            "cnt",
            "transform(sequence(1, length(word)), i -> substring(word, i, 1))"
            " AS toks",
        )
    )
    cur = wf.persist()
    rows, prev = [], None
    for r in range(1, _BPE_ROUNDS + 1):
        top = (
            cur.filter(F.size("toks") >= 2)
            .selectExpr(
                "cnt",
                "inline(transform(sequence(0, size(toks) - 2),"
                " i -> named_struct('l', toks[i], 'r', toks[i + 1])))",
            )
            .groupBy("l", "r")
            .agg(F.sum("cnt").alias("pc"))
            .orderBy(F.desc("pc"), F.asc("l"), F.asc("r"))
            .limit(1)
            .collect()  # exactly ONE argmax row per round to the driver
        )
        if not top:  # training table fully merged — no adjacent pairs left
            break
        pl, pr, pc = top[0].l, top[0].r, top[0].pc
        prev, cur = cur, cur.withColumn(
            "toks", _bpe_merge_fold(F.col("toks"), pl, pr)
        ).persist()
        ct = cur.agg(F.sum(F.col("cnt") * F.size("toks"))).collect()[0][0]
        prev.unpersist()
        rows.append((r, pl, pr, pl + pr, int(pc), int(ct)))
    cur.unpersist()
    return spark.createDataFrame(
        rows,
        "merge_round int, pair_left string, pair_right string, "
        "merged string, pair_count bigint, corpus_tokens bigint",
    ).orderBy("merge_round")


# --- DoReMi-lite domain reweighting --------------------------------------------

# Every domain keeps at least this much unnormalized weight, so low-excess
# domains are downweighted, never starved (DoReMi's uniform smoothing term).
_REWEIGHT_FLOOR = 0.1

# The reweighting CTE chain shared by domain_reweight and mixture_plan —
# extends _NLL_CTES to per-source (docs, toks, mean_nll, excess, weight),
# so BOTH driver checks hash-verify the model training AND the weighting.
_REWEIGHT_CTES = _NLL_CTES + """
    , s AS (
      SELECT d.source, n.avg_nll, n.n_words
      FROM nll n JOIN documents d USING (doc_id)
    ), m AS (SELECT avg(avg_nll) AS mu FROM s),
    g AS (
      SELECT source, CAST(count(*) AS BIGINT) AS docs,
             CAST(sum(n_words) AS BIGINT) AS toks,
             round(avg(avg_nll), 4) AS mean_nll
      FROM s GROUP BY source
    ), x AS (
      SELECT source, docs, toks, mean_nll,
             round(mean_nll - m.mu, 4) AS excess,
             greatest(mean_nll - m.mu, 0.0) + 0.1 AS wraw
      FROM g CROSS JOIN m
    ), t AS (SELECT sum(wraw) AS tw FROM x),
    wts AS (
      SELECT source, docs, toks, mean_nll, excess,
             round(wraw / t.tw, 6) AS weight
      FROM x CROSS JOIN t
    )"""


def domain_weights_frame(spark, sf_dir):
    """(source, docs, toks, mean_nll, excess, weight) — the Spark twin of
    the `wts` CTE in _REWEIGHT_CTES, shared by domain_reweight and
    mixture_plan."""
    d = load(spark, sf_dir, "documents")
    scores = unigram_nll_scores(d).join(d.select("doc_id", "source"), "doc_id")
    mu = scores.agg(F.avg("avg_nll").alias("mu"))
    g = (
        scores.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("docs"),
            F.sum("n_words").cast("long").alias("toks"),
            F.round(F.avg("avg_nll"), 4).alias("mean_nll"),
        )
        .crossJoin(F.broadcast(mu))
    )
    x = g.select(
        "source",
        "docs",
        "toks",
        "mean_nll",
        F.round(F.col("mean_nll") - F.col("mu"), 4).alias("excess"),
        (
            F.greatest(F.col("mean_nll") - F.col("mu"), F.lit(0.0))
            + _REWEIGHT_FLOOR
        ).alias("wraw"),
    )
    tot = x.agg(F.sum("wraw").alias("tw"))
    return x.crossJoin(F.broadcast(tot)).select(
        "source",
        "docs",
        "toks",
        "mean_nll",
        "excess",
        F.round(F.col("wraw") / F.col("tw"), 6).alias("weight"),
    )


@register(
    "domain_reweight",
    oracle=_REWEIGHT_CTES + """
    SELECT source, docs, mean_nll, excess, weight
    FROM wts ORDER BY source
    """,
    doc="DoReMi-lite domain reweighting (Xie et al. 2023, deterministic "
    "analog): per-source mean unigram NLL under the corpus-trained model "
    "(shared unigram_nll_scores / _NLL_CTES training, so the driver "
    "hash-verifies the model too), excess loss vs the corpus mean, and a "
    "normalized mixture weight = max(excess, 0) + floor — domains the "
    "reference model finds HARD get upweighted, easy/templated domains "
    "drift toward the smoothing floor, no domain starves. All aggregation "
    "is hash aggs; the two 1-row scalars (corpus mean, weight total) join "
    "via broadcast — nothing corpus-sized is windowed or collected.",
)
def domain_reweight(spark, sf_dir):
    return (
        domain_weights_frame(spark, sf_dir)
        .select("source", "docs", "mean_nll", "excess", "weight")
        .orderBy("source")
    )


# Token budget for the sampling plan — larger than the small-SF corpora on
# purpose, so repeat epochs (the data-constrained regime) actually appear.
_MIX_BUDGET = 100_000
# Muennighoff et al. 2023 (data-constrained scaling): past ~4 epochs the
# value of a repeated token collapses — plans exceeding it get flagged.
_MIX_EPOCH_CAP = 4.0


@register(
    "mixture_plan",
    oracle=_REWEIGHT_CTES + f"""
    SELECT source, toks, weight,
           CAST(round({_MIX_BUDGET} * weight) AS BIGINT) AS target_tokens,
           round(CAST(round({_MIX_BUDGET} * weight) AS BIGINT)
                 / CAST(toks AS DOUBLE), 4) AS epochs,
           round(CAST(round({_MIX_BUDGET} * weight) AS BIGINT)
                 / CAST(toks AS DOUBLE), 4) > {_MIX_EPOCH_CAP} AS repeat_risk
    FROM wts ORDER BY source
    """,
    doc="Sampling plan from the DoReMi-lite weights: per domain, the token "
    f"target out of a {_MIX_BUDGET}-token training budget, the implied "
    "EPOCH count over the tokens the domain actually has, and a flag when "
    f"the plan repeats data past {_MIX_EPOCH_CAP} epochs — the "
    "data-constrained-scaling guard (Muennighoff et al. 2023: token value "
    "collapses after ~4 repeats), i.e. the check that a mixture weight is "
    "ACHIEVABLE before the training job launches. Shares _REWEIGHT_CTES / "
    "domain_weights_frame with domain_reweight, so the driver hash-"
    "verifies model training, weighting, and planning in one chain.",
)
def mixture_plan(spark, sf_dir):
    wts = domain_weights_frame(spark, sf_dir)
    target = F.round(F.lit(_MIX_BUDGET) * F.col("weight")).cast("long")
    epochs = F.round(target / F.col("toks").cast("double"), 4)
    return wts.select(
        "source",
        "toks",
        "weight",
        target.alias("target_tokens"),
        epochs.alias("epochs"),
        (epochs > _MIX_EPOCH_CAP).alias("repeat_risk"),
    ).orderBy("source")


# --- BM25 retrieval --------------------------------------------------------------

_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_QUERIES = 5  # 2-term queries drawn from the corpus top-10 vocabulary
_BM25_TOPK = 3

# 2-term queries on purpose: a + b is order-insensitive in IEEE doubles, so
# the per-doc score is BIT-identical no matter which engine (or partition
# order) sums the term contributions — 3+ terms would make the ranking
# depend on addition order at ulp scale.
_BM25_TERMS_PER_Q = 2


@register(
    "bm25_topk",
    oracle=f"""
    WITH w AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(trim(lower(text)),
                                          '[ \\t\\n\\r\\f\\x0B]+')) AS w
      FROM documents WHERE length(trim(text)) > 0
    ), tf AS (
      SELECT doc_id, w, count(*) AS tf FROM w GROUP BY doc_id, w
    ), dl AS (
      SELECT doc_id, count(*) AS dl FROM w GROUP BY doc_id
    ), stats AS (
      SELECT count(*) AS n, avg(dl) AS avgdl FROM dl
    ), dfreq AS (
      SELECT w, count(*) AS df FROM tf GROUP BY w
    ), topw AS (
      SELECT w, row_number() OVER (ORDER BY cnt DESC, w) AS rn FROM (
        SELECT w, count(*) AS cnt FROM w GROUP BY w
      )
    ), q AS (
      SELECT CAST((rn - 1) // {_BM25_TERMS_PER_Q} AS INT) AS query_id, w
      FROM topw WHERE rn <= {_BM25_QUERIES * _BM25_TERMS_PER_Q}
    ), scored AS (
      SELECT q.query_id, tf.doc_id,
             sum(ln((stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
                 * tf.tf / (tf.tf + {_BM25_K1} * (1 - {_BM25_B}
                     + {_BM25_B} * dl.dl / stats.avgdl))) AS score
      FROM q
      JOIN tf ON tf.w = q.w
      JOIN dl ON dl.doc_id = tf.doc_id
      JOIN dfreq ON dfreq.w = q.w
      CROSS JOIN stats
      GROUP BY q.query_id, tf.doc_id
    )
    SELECT query_id, doc_id, rank, round(score, 4) AS score FROM (
      SELECT query_id, doc_id, score,
             row_number() OVER (
               PARTITION BY query_id ORDER BY score DESC, doc_id
             ) AS rank
      FROM scored
    ) WHERE rank <= {_BM25_TOPK}
    ORDER BY query_id, rank
    """,
    doc="BM25 retrieval over the corpus (Robertson/Lucene form, k1=1.2 "
    "b=0.75): score = sum over query terms of idf(t) * tf / (tf + k1*(1-b "
    "+ b*dl/avgdl)) with idf = ln((N-df+0.5)/(df+0.5)+1) — the targeted-"
    "selection primitive (retrieve corpus docs matching a probe query, "
    "DSIR/DoGE-style) and the search-quality eval baseline. Queries are "
    "derived IN-JOB from the corpus top vocabulary (deterministic, "
    f"{_BM25_TERMS_PER_Q} terms each so the term sum is order-exact in "
    "IEEE doubles). Posting-list shape: tf is one hash agg; the query "
    "term table, df table and the 1-row (N, avgdl) stats are all tiny "
    "BROADCASTs probed by the tf table — the corpus never shuffles to "
    "score; top-k is a per-query window over matched docs only.",
)
def bm25_topk(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    w = d.filter(F.length(F.trim("text")) > 0).select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower("text")), r"[ \t\n\r\f\x0B]+")).alias("w"),
    )
    tf = w.groupBy("doc_id", "w").agg(F.count("*").alias("tf"))
    dl = w.groupBy("doc_id").agg(F.count("*").alias("dl"))
    stats = dl.agg(F.count("*").alias("n"), F.avg("dl").alias("avgdl"))
    dfreq = tf.groupBy("w").agg(F.count("*").alias("df"))
    topw = (
        w.groupBy("w")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("w"))
        .limit(_BM25_QUERIES * _BM25_TERMS_PER_Q)
        .select(
            "w",
            F.row_number()
            .over(W.orderBy(F.desc("cnt"), F.asc("w")))
            .alias("rn"),
        )
    )
    q = topw.select(
        (((F.col("rn") - 1) / _BM25_TERMS_PER_Q).cast("int")).alias("query_id"),
        "w",
    )
    idf = F.log(
        (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    term = idf * F.col("tf") / (
        F.col("tf")
        + _BM25_K1 * (1 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
    )
    scored = (
        tf.join(F.broadcast(q), "w")
        .join(F.broadcast(dfreq.join(F.broadcast(q.select("w")), "w")), "w")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("query_id", "doc_id")
        .agg(F.sum(term).alias("score"))
    )
    rk = W.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(rk))
        .filter(F.col("rank") <= _BM25_TOPK)
        .select("query_id", "doc_id", "rank", F.round("score", 4).alias("score"))
        .orderBy("query_id", "rank")
    )


# --- TF-IDF distinctive keywords per source ---------------------------------------

_TFIDF_TOPK = 3


@register(
    "tfidf_keywords",
    oracle=f"""
    WITH w AS (
      SELECT source,
             unnest(regexp_split_to_array(trim(lower(text)),
                                          '[ \\t\\n\\r\\f\\x0B]+')) AS w
      FROM documents WHERE length(trim(text)) > 0
    ), tf AS (
      SELECT source, w, count(*) AS tf FROM w GROUP BY source, w
    ), ns AS (SELECT count(DISTINCT source) AS n FROM w),
    sdf AS (SELECT w, count(*) AS df FROM tf GROUP BY w)
    SELECT source, w AS keyword, rank, round(tfidf, 4) AS tfidf FROM (
      SELECT tf.source, tf.w,
             tf.tf * ln((ns.n + 1.0) / (sdf.df + 1.0)) AS tfidf,
             row_number() OVER (
               PARTITION BY tf.source
               ORDER BY tf.tf * ln((ns.n + 1.0) / (sdf.df + 1.0)) DESC, tf.w
             ) AS rank
      FROM tf JOIN sdf USING (w) CROSS JOIN ns
    ) WHERE rank <= {_TFIDF_TOPK} AND tfidf > 0
    ORDER BY source, rank
    """,
    doc=f"Top-{_TFIDF_TOPK} DISTINCTIVE terms per source by tf-idf with "
    "source-level document frequency (smoothed idf = ln((n_sources+1)/"
    "(df+1)); corpus-wide words idf<=0 and drop out) — the what-is-this-"
    "domain-about fingerprint used to spot mislabeled or templated "
    "sources in a mixture. One hash agg for per-source term counts, a "
    "BROADCAST source-df probe, and a per-source top-k window over the "
    "(source, term) table — already aggregated, orders of magnitude "
    "smaller than the corpus. Ranking ties break lexically; idf inputs "
    "are integer-derived so both engines rank bit-identical values.",
)
def tfidf_keywords(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    w = d.filter(F.length(F.trim("text")) > 0).select(
        "source",
        F.explode(F.split(F.trim(F.lower("text")), r"[ \t\n\r\f\x0B]+")).alias("w"),
    )
    tf = w.groupBy("source", "w").agg(F.count("*").alias("tf"))
    ns = w.agg(F.countDistinct("source").alias("n"))
    sdf = tf.groupBy("w").agg(F.count("*").alias("df"))
    tfidf = F.col("tf") * F.log((F.col("n") + 1.0) / (F.col("df") + 1.0))
    rk = W.partitionBy("source").orderBy(F.desc("tfidf"), F.asc("w"))
    return (
        tf.join(F.broadcast(sdf), "w")
        .crossJoin(F.broadcast(ns))
        .withColumn("tfidf", tfidf)
        .withColumn("rank", F.row_number().over(rk))
        .filter((F.col("rank") <= _TFIDF_TOPK) & (F.col("tfidf") > 0))
        .select(
            "source",
            F.col("w").alias("keyword"),
            "rank",
            F.round("tfidf", 4).alias("tfidf"),
        )
        .orderBy("source", "rank")
    )


# --- exact length quantiles ---------------------------------------------------

_QUANT_PCTS = [25, 50, 90, 99]  # integer percents: exact-rank arithmetic

_WS_SPLIT_SPARK = r"[ \t\n\r\f\x0B]+"
_WS_SPLIT_SQL = "[ \\t\\n\\r\\f\\x0B]+"


@register(
    "length_quantiles",
    oracle=f"""
    WITH lens AS (
      SELECT len(regexp_split_to_array(trim(text), '{_WS_SPLIT_SQL}')) AS toks
      FROM documents WHERE length(trim(text)) > 0
    ),
    spine AS (SELECT toks, count(*) AS cnt FROM lens GROUP BY toks),
    cum AS (
      SELECT toks, sum(cnt) OVER (ORDER BY toks
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM spine
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM lens),
    grid AS (SELECT unnest([{", ".join(str(p) for p in _QUANT_PCTS)}]) AS pct)
    SELECT g.pct,
           CAST(min(c.toks) AS BIGINT) AS toks_at,
           CAST((g.pct * tot.n + 99) // 100 AS BIGINT) AS target_rank,
           tot.n AS n_docs
    FROM grid g CROSS JOIN tot JOIN cum c
      ON c.cum >= (g.pct * tot.n + 99) // 100
    GROUP BY g.pct, tot.n ORDER BY g.pct
    """,
    doc="EXACT token-length quantiles (p25/p50/p90/p99) — the corpus "
    "telemetry that sizes sequence packing, truncation limits, and the "
    "token-budget selector. Not approx_percentile: the quantile rule is "
    "pinned to integer rank arithmetic (target = ceil(p·n/100) computed "
    "as (p·n+99) div 100, answer = min length whose cumulative doc count "
    "reaches the target), so the result is bit-identical across engines "
    "and partitionings — approximate sketches can never hash-match an "
    "oracle. Distributed shape: per-doc lengths are a row-local split "
    "inside codegen; ONE hash agg collapses the corpus to the "
    "distinct-length spine (bounded by max doc length, ~10^4 rows at any "
    "corpus size — the vocab_growth spine discipline); the cumulative "
    "window runs over that bounded spine only, never the corpus; the "
    "4-row percent grid and the 1-row exact total are broadcast.",
)
def length_quantiles(spark, sf_dir):
    d = load(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    lens = d.select(
        F.size(F.split(F.trim("text"), _WS_SPLIT_SPARK)).alias("toks")
    )
    spine = lens.groupBy("toks").agg(F.count("*").alias("cnt"))
    cum = spine.withColumn(
        "cum",
        F.sum("cnt").over(
            W.orderBy("toks").rowsBetween(W.unboundedPreceding, W.currentRow)
        ),
    )
    tot = lens.agg(F.count("*").cast("long").alias("n"))
    grid = spark.createDataFrame([(p,) for p in _QUANT_PCTS], "pct int")
    target = F.expr(f"(pct * n + 99) div 100")
    return (
        cum.crossJoin(F.broadcast(grid))
        .crossJoin(F.broadcast(tot))
        .filter(F.col("cum") >= target)
        .groupBy("pct", "n")
        .agg(F.min("toks").cast("long").alias("toks_at"))
        .select(
            "pct",
            "toks_at",
            target.cast("long").alias("target_rank"),
            F.col("n").alias("n_docs"),
        )
        .orderBy("pct")
    )


_PACK_CTX = [128, 512, 2048]  # candidate context lengths (tokens)


@register(
    "pack_efficiency",
    oracle=f"""
    WITH lens AS (
      SELECT len(regexp_split_to_array(trim(text), '{_WS_SPLIT_SQL}')) AS toks
      FROM documents WHERE length(trim(text)) > 0
    ),
    spine AS (SELECT toks, CAST(count(*) AS BIGINT) AS cnt FROM lens GROUP BY toks),
    grid AS (SELECT unnest([{", ".join(str(c) for c in _PACK_CTX)}]) AS ctx)
    SELECT g.ctx,
           sum(s.cnt) AS n_docs,
           sum(s.toks * s.cnt) AS total_toks,
           sum((s.toks - least(s.toks, g.ctx)) * s.cnt) AS trunc_loss_toks,
           sum((g.ctx - least(s.toks, g.ctx)) * s.cnt) AS pad_waste_toks,
           (sum(least(s.toks, g.ctx) * s.cnt) + g.ctx - 1) // g.ctx AS seqs_concat,
           round(sum((g.ctx - least(s.toks, g.ctx)) * s.cnt)
                 / CAST(sum(s.cnt) * g.ctx AS DOUBLE), 4) AS pad_waste_frac
    FROM spine s CROSS JOIN grid g
    GROUP BY g.ctx ORDER BY g.ctx
    """,
    doc="Packing-strategy telemetry at candidate context lengths: for each "
    "ctx, the tokens LOST to per-doc truncation (doc-per-sequence packing "
    "caps every doc at ctx) and the padding WASTED filling each truncated "
    "doc's sequence to ctx, plus the sequence count concat-and-chunk "
    "packing (pack_sequences) would need for the same truncated tokens — "
    "the numbers that decide between padding and packing and pick the "
    "context length, read together with length_quantiles. All counts are "
    "exact BIGINT arithmetic over the distinct-length spine (the corpus "
    "collapses in ONE hash agg; the ctx grid is a 3-row broadcast), so "
    "rows are bit-identical across engines; the one fraction divides two "
    "exact integers and is rounded.",
)
def pack_efficiency(spark, sf_dir):
    d = load(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    spine = (
        d.select(F.size(F.split(F.trim("text"), _WS_SPLIT_SPARK)).alias("toks"))
        .groupBy("toks")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    grid = spark.createDataFrame([(c,) for c in _PACK_CTX], "ctx int")
    kept = F.least("toks", "ctx")
    return (
        spine.crossJoin(F.broadcast(grid))
        .groupBy("ctx")
        .agg(
            F.sum("cnt").alias("n_docs"),
            F.sum(F.col("toks") * F.col("cnt")).alias("total_toks"),
            F.sum((F.col("toks") - kept) * F.col("cnt")).alias("trunc_loss_toks"),
            F.sum((F.col("ctx") - kept) * F.col("cnt")).alias("pad_waste_toks"),
            F.expr(
                "(sum(least(toks, ctx) * cnt) + ctx - 1) div ctx"
            ).alias("seqs_concat"),
            F.round(
                F.sum((F.col("ctx") - kept) * F.col("cnt"))
                / (F.sum("cnt") * F.col("ctx")).cast("double"),
                4,
            ).alias("pad_waste_frac"),
        )
        .orderBy("ctx")
    )


@register(
    "text_char_entropy",
    oracle="""
    WITH c AS (
      SELECT doc_id, substr(text, CAST(i AS INT), 1) AS ch
      FROM documents, unnest(range(1, length(text) + 1)) AS u(i)
      WHERE doc_id < 200 AND length(text) > 0
    ),
    f AS (SELECT doc_id, ch, CAST(count(*) AS DOUBLE) AS c
          FROM c GROUP BY doc_id, ch),
    t AS (SELECT doc_id, sum(c) AS n, count(*) AS k FROM f GROUP BY doc_id)
    SELECT f.doc_id,
           CAST(t.n AS BIGINT) AS chars,
           CAST(t.k AS BIGINT) AS distinct_chars,
           round(-sum((f.c / t.n) * log2(f.c / t.n)), 4) AS entropy_bits
    FROM f JOIN t ON f.doc_id = t.doc_id
    GROUP BY f.doc_id, t.n, t.k ORDER BY f.doc_id
    """,
    doc="Per-document Shannon entropy of the character distribution (bits/"
    "char) — the templated-content signal orthogonal to the Gopher "
    "repetition ratios: machine-generated boilerplate and keyword-stuffed "
    "spam sit LOW (few symbols dominate), natural prose sits ~4-4.5 bits "
    "for English; the C4-era pipelines threshold on it cheaply because it "
    "needs no model. Shape: position explode → ONE hash agg to the "
    "(doc, char) frequency table (bounded at ~charset size per doc, "
    "linear in corpus bytes with map-side partial agg) → per-doc total "
    "join → entropy sum over ≤ charset terms, rounded. The doc_id<200 "
    "window bounds the driver-compare rows, not the technique.",
)
def text_char_entropy(spark, sf_dir):
    d = (
        load(spark, sf_dir, "documents")
        .filter((F.col("doc_id") < 200) & (F.length("text") > 0))
        .select("doc_id", "text")
    )
    c = d.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.length("text"))).alias("i"),
        "text",
    ).select("doc_id", F.expr("substr(text, i, 1)").alias("ch"))
    f = c.groupBy("doc_id", "ch").agg(F.count("*").cast("double").alias("c"))
    t = f.groupBy("doc_id").agg(
        F.sum("c").alias("n"), F.count("*").alias("k")
    )
    return (
        f.join(t, "doc_id")
        .groupBy("doc_id", "n", "k")
        .agg(
            F.round(
                -F.sum((F.col("c") / F.col("n")) * F.log2(F.col("c") / F.col("n"))),
                4,
            ).alias("entropy_bits")
        )
        .select(
            "doc_id",
            F.col("n").cast("long").alias("chars"),
            F.col("k").cast("long").alias("distinct_chars"),
            "entropy_bits",
        )
        .orderBy("doc_id")
    )


@register(
    "ngram_novelty",
    oracle=f"""
    WITH mx AS (SELECT max(doc_id) AS mx FROM documents),
    w AS (
      SELECT CAST(floor(d.doc_id * 10 / (mx.mx + 1)) AS INT) AS b,
             regexp_split_to_array(trim(lower(d.text)), '{_WS_SPLIT_SQL}') AS ws
      FROM documents d CROSS JOIN mx WHERE length(trim(d.text)) > 0
    ),
    g AS (
      SELECT DISTINCT b, md5(array_to_string(ws[i : i + 4], ' ')) AS gh
      FROM w, unnest(range(1, len(ws) - 3)) AS u(i)
      WHERE len(ws) >= 5
    ),
    f AS (SELECT gh, min(b) AS fb FROM g GROUP BY gh),
    seen AS (SELECT b, CAST(count(*) AS BIGINT) AS distinct_grams FROM g GROUP BY b),
    nw AS (SELECT fb AS b, CAST(count(*) AS BIGINT) AS new_grams FROM f GROUP BY fb)
    SELECT s.b AS decile, s.distinct_grams,
           coalesce(n.new_grams, 0) AS new_grams,
           round(coalesce(n.new_grams, 0) / CAST(s.distinct_grams AS DOUBLE), 4)
             AS novelty
    FROM seen s LEFT JOIN nw n ON n.b = s.b ORDER BY s.b
    """,
    doc="Corpus novelty curve at word-5-gram granularity: per doc-id "
    "decile, the distinct grams appearing there and the fraction seen for "
    "the FIRST time — the crawl-freshness signal that tells a pipeline "
    "when additional data stops adding content (novelty decaying toward "
    "the Heaps tail means the source is mined out; a decile that jumps "
    "back up means a new content vein). vocab_growth's first-occurrence "
    "trick lifted from words to grams: distinct (decile, gram-md5) in ONE "
    "hash agg, first decile per gram in a second, per-decile counts in "
    "two more — never a window over the corpus, grams travel as 32-hex "
    "keys.",
)
def ngram_novelty(spark, sf_dir):
    d = load(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    mx = d.agg(F.max("doc_id").alias("mx"))
    bucket = F.floor(F.col("doc_id") * 10 / (F.col("mx") + 1)).cast("int")
    w = (
        d.join(F.broadcast(mx))
        .select(
            bucket.alias("b"),
            F.split(F.trim(F.lower("text")), _WS_SPLIT_SPARK).alias("ws"),
        )
        .filter(F.size("ws") >= 5)
    )
    g = (
        w.select(
            "b",
            "ws",
            F.explode(F.sequence(F.lit(1), F.size("ws") - 4)).alias("i"),
        )
        .select(
            "b",
            F.md5(F.concat_ws(" ", F.slice("ws", F.col("i"), 5))).alias("gh"),
        )
        .distinct()
    )
    f = g.groupBy("gh").agg(F.min("b").alias("fb"))
    seen = g.groupBy("b").agg(F.count("*").cast("long").alias("distinct_grams"))
    nw = f.groupBy(F.col("fb").alias("b")).agg(
        F.count("*").cast("long").alias("new_grams")
    )
    return (
        seen.join(nw, "b", "left")
        .select(
            F.col("b").alias("decile"),
            "distinct_grams",
            F.coalesce("new_grams", F.lit(0)).cast("long").alias("new_grams"),
            F.round(
                F.coalesce("new_grams", F.lit(0))
                / F.col("distinct_grams").cast("double"),
                4,
            ).alias("novelty"),
        )
        .orderBy("decile")
    )
