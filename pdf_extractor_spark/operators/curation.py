"""Corpus-curation operators a training-data pipeline runs before export:
benchmark decontamination and PII redaction.

Like the rest of the training-data suite these go beyond the reference's
own inventory (the reference curates per-document via an LLM call,
reference core/extractor.py:249-255 — one HTTP request per doc); here the
same curation intent is expressed as set-at-a-time DataFrame ops that cost
one scan plus bounded shuffles at any corpus size.

Decontamination follows the n-gram-overlap procedure used for LLM training
sets (Brown et al. 2020 appendix C: mark a training document contaminated
when it shares an n-gram with any benchmark document): explode documents
into word n-grams, hash each gram, and join against the benchmark's gram
set. The benchmark side is always tiny relative to the corpus (an eval
suite is ~10^5-10^6 grams vs 10^12 documents), so the join is a BROADCAST
hash join — the corpus side never shuffles for the probe; the only shuffle
is the per-doc hit-count aggregation, keyed by doc id with map-side
partial aggregation.

PII redaction is the standard pre-release scrub (emails / phone numbers /
IP addresses → typed placeholder tokens): pure `regexp_count` /
`regexp_replace` column expressions inside whole-stage codegen — zero
shuffle, zero UDFs, linear in corpus bytes. Patterns are written in the
common subset of Java regex (Spark) and RE2 (DuckDB) so the oracle runs
the byte-identical rule.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from pdf_extractor_spark.operators.registry import load, register
from pdf_extractor_spark.operators.textstats import _QUALITY_SQL, _quality

# --- benchmark decontamination --------------------------------------------

_DECON_N = 8  # words per contamination gram (GPT-3 used 13; the synthetic
# docs are ~100 words, so 8 keeps several grams per doc at sf0.001 too)
_BENCH_MOD = 10  # doc_id % 10 == 0 → the held-out "benchmark" slice


def decontaminate(docs, bench, n: int = _DECON_N):
    """Flag training docs sharing any word n-gram with a benchmark corpus.

    `docs` / `bench`: frames of (doc_id, ws) where ws is the whitespace
    token array. Returns (doc_id, n_grams, hit_grams, contaminated) for
    every training doc. Grams are md5-hashed before the join so the probe
    key is a fixed 32-byte value instead of an unbounded string — at scale
    that is what keeps the broadcast table and the exchange rows small.
    """
    # guard: Spark's sequence(0, stop) runs DESCENDING when stop < 0
    # ([0, -1], not empty), so a doc shorter than n words must take the
    # explicit empty-array branch or slice() sees start 0 and the task dies
    gram_arr = F.expr(
        f"CASE WHEN size(ws) >= {n} THEN "
        f"transform(sequence(0, size(ws)-{n}), "
        f"i -> array_join(slice(ws, i+1, {n}), ' ')) "
        f"ELSE cast(array() as array<string>) END"
    )

    def grams(df):
        return df.select(
            "doc_id", F.explode(gram_arr).alias("g")
        ).withColumn("h", F.md5("g"))

    bench_h = grams(bench).select("h").distinct()
    hits = (
        grams(docs)
        .join(F.broadcast(bench_h), "h")
        .groupBy("doc_id")
        .agg(F.countDistinct("h").alias("hit_grams"))
    )
    base = docs.select(
        "doc_id",
        F.greatest(F.size("ws") - F.lit(n - 1), F.lit(0))
        .cast("long")
        .alias("n_grams"),
    )
    return base.join(hits, "doc_id", "left").select(
        "doc_id",
        "n_grams",
        F.coalesce("hit_grams", F.lit(0)).cast("long").alias("hit_grams"),
        (F.coalesce("hit_grams", F.lit(0)) > 0).alias("contaminated"),
    )


@register(
    "decontam_ngrams",
    oracle=f"""
    WITH docs AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '[ \\t\\n\\r\\f\\x0B]+') AS ws
      FROM documents
    ), grams AS (
      SELECT doc_id, md5(list_aggregate(ws[i+1:i+{_DECON_N}], 'string_agg', ' ')) AS h
      FROM (SELECT doc_id, ws,
                   unnest(range(greatest(len(ws)-{_DECON_N}+1, 0))) AS i
            FROM docs)
    ), bench AS (
      SELECT DISTINCT h FROM grams WHERE doc_id % {_BENCH_MOD} = 0
    ), hits AS (
      SELECT doc_id, count(DISTINCT grams.h) AS hit_grams
      FROM grams JOIN bench USING (h)
      WHERE doc_id % {_BENCH_MOD} <> 0 GROUP BY 1
    )
    SELECT d.doc_id,
           CAST(greatest(len(ws) - {_DECON_N - 1}, 0) AS BIGINT) AS n_grams,
           CAST(coalesce(h.hit_grams, 0) AS BIGINT) AS hit_grams,
           coalesce(h.hit_grams, 0) > 0 AS contaminated
    FROM docs d LEFT JOIN hits h USING (doc_id)
    WHERE d.doc_id % {_BENCH_MOD} <> 0
    ORDER BY d.doc_id
    """,
    doc="Benchmark decontamination (Brown et al. 2020 n-gram overlap): "
    f"every doc_id % {_BENCH_MOD} == 0 document stands in for the eval "
    "suite; the remaining 90% are the training corpus. A training doc is "
    "contaminated when it shares any 8-word gram with the benchmark. "
    "Bench gram-hash set → broadcast hash join (corpus side never "
    "shuffles to probe); per-doc hit counts are the only shuffle. "
    "Plan-pinned in tests/test_plans.py.",
)
def decontam_ngrams(spark, sf_dir):
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.trim("text"), r"[ \t\n\r\f\x0B]+").alias("ws")
    )
    bench = d.filter(F.col("doc_id") % _BENCH_MOD == 0)
    train = d.filter(F.col("doc_id") % _BENCH_MOD != 0)
    return decontaminate(train, bench).orderBy("doc_id")


# --- PII detection + redaction --------------------------------------------

# Java-regex ∩ RE2 subset: no lookaround, no backrefs; \b is ASCII word
# boundary in both engines.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\b555-[0-9]{4}\b",
    "ip": r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
}


def redact_pii(df, text_col: str = "t"):
    """Append n_email / n_phone / n_ip counts and a `redacted` column.

    Counts use the pre-redaction text; redaction applies email → phone →
    ip in that fixed order (the placeholders contain no digits or '@', so
    later patterns cannot match inside an earlier replacement). All six
    expressions are regexp primitives inside one codegen stage.
    """
    red = F.col(text_col)
    for kind in ("email", "phone", "ip"):
        red = F.regexp_replace(red, PII_PATTERNS[kind], f"[{kind.upper()}]")
    return df.select(
        "*",
        F.regexp_count(text_col, F.lit(PII_PATTERNS["email"])).cast("long").alias("n_email"),
        F.regexp_count(text_col, F.lit(PII_PATTERNS["phone"])).cast("long").alias("n_phone"),
        F.regexp_count(text_col, F.lit(PII_PATTERNS["ip"])).cast("long").alias("n_ip"),
        red.alias("redacted"),
    )


@register(
    "pii_redact",
    oracle=r"""
    WITH aug AS (
      SELECT doc_id,
             concat_ws(' ',
               substr(text, 1, 80),
               'contact user' || doc_id || '@' || source || '.org',
               CASE WHEN doc_id % 3 = 0
                    THEN 'call 555-' || lpad(CAST((doc_id * 7) % 10000 AS VARCHAR), 4, '0') END,
               CASE WHEN doc_id % 4 = 0
                    THEN 'host 10.' || (doc_id % 256) || '.' || ((doc_id * 3) % 256)
                         || '.' || ((doc_id * 7) % 256) END
             ) AS t
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
           CAST(len(regexp_extract_all(t, '\b555-[0-9]{4}\b')) AS BIGINT) AS n_phone,
           CAST(len(regexp_extract_all(t, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS BIGINT) AS n_ip,
           regexp_replace(
             regexp_replace(
               regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
               '\b555-[0-9]{4}\b', '[PHONE]', 'g'),
             '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '[IP]', 'g') AS redacted
    FROM aug ORDER BY doc_id
    """,
    doc="PII scrub over the documents table. The synthetic corpus carries "
    "no PII, so the query first DERIVES it deterministically from existing "
    "columns (email per doc, phone for doc_id%3==0, IPv4 for doc_id%4==0 — "
    "same derivation in the oracle), then counts and redacts with shared "
    "Java∩RE2 patterns. Redacted text itself is part of the hash-verified "
    "output, so placeholder positions are value-checked too. Zero shuffle: "
    "one codegen stage over the scan.",
)
def pii_redact(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    aug = d.select(
        "doc_id",
        F.concat_ws(
            " ",
            F.substring("text", 1, 80),
            F.concat(
                F.lit("contact user"), F.col("doc_id").cast("string"),
                F.lit("@"), F.col("source"), F.lit(".org"),
            ),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.lit("call 555-"),
                    F.lpad(((F.col("doc_id") * 7) % 10000).cast("string"), 4, "0"),
                ),
            ),
            F.when(
                F.col("doc_id") % 4 == 0,
                F.concat(
                    F.lit("host 10."), (F.col("doc_id") % 256).cast("string"),
                    F.lit("."), ((F.col("doc_id") * 3) % 256).cast("string"),
                    F.lit("."), ((F.col("doc_id") * 7) % 256).cast("string"),
                ),
            ),
        ).alias("t"),
    )
    return (
        redact_pii(aug)
        .select("doc_id", "n_email", "n_phone", "n_ip", "redacted")
        .orderBy("doc_id")
    )


# --- C4 heuristic cleaning --------------------------------------------------

# Line- and doc-level rules from the C4 corpus construction (Raffel et al.
# 2020 §2.2): keep only lines that end in terminal punctuation AND have at
# least C4_MIN_LINE_WORDS words; drop whole pages with fewer than
# C4_MIN_KEPT_LINES surviving lines, any page containing "lorem ipsum",
# and any page containing '{' (code). The bad-word-list rule is modeled by
# the lorem/brace membership tests — same shape, placeholder list.
C4_MIN_LINE_WORDS = 5
C4_MIN_KEPT_LINES = 3
_C4_TERMINAL_RE = '[.!?"]$'


def c4_clean(df, lines_col: str = "lines"):
    """Apply the C4 line+page rules to a frame carrying an array<string>
    of lines. Entirely row-local (higher-order array functions inside one
    projection): zero shuffle, zero UDFs, linear in corpus bytes — the
    shape that survives 10^12 documents because each page is judged
    independently of every other page.
    """
    kept = F.filter(
        lines_col,
        lambda l: l.rlike(_C4_TERMINAL_RE)
        & (F.size(F.split(l, " ")) >= C4_MIN_LINE_WORDS),
    )
    full = F.array_join(lines_col, "\n")
    has_lorem = F.contains(F.lower(full), F.lit("lorem ipsum"))
    has_brace = F.contains(full, F.lit("{"))
    keep = (
        (F.size(kept) >= C4_MIN_KEPT_LINES) & ~has_lorem & ~has_brace
    )
    return df.select(
        "*",
        F.size(lines_col).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_kept"),
        has_lorem.alias("has_lorem"),
        has_brace.alias("has_brace"),
        keep.alias("c4_keep"),
        F.when(keep, F.array_join(kept, "\n")).otherwise(F.lit("")).alias(
            "clean_text"
        ),
    )


# Deterministic line derivation shared by the Spark query and the DuckDB
# oracle: the synthetic documents table is one long space-separated string
# with no punctuation or newlines, so (like pii_redact) the query first
# manufactures C4's input shape — 8-word segments with a rotating terminal
# mark, every 7th segment truncated short, a lorem line on doc_id%17 and a
# brace line on doc_id%13 — then applies the real rules to it.
_C4_SEG = 8
_C4_PUNCTS = [".", "!", "?", "", "."]  # (doc_id+i)%5 -> terminal mark


@register(
    "c4_filter_suite",
    oracle=f"""
    WITH d AS (
      SELECT doc_id,
             regexp_split_to_array(trim(text), '[ \\t\\n\\r\\f\\x0B]+') AS ws
      FROM documents WHERE length(trim(text)) > 0
    ), lined AS (
      SELECT doc_id,
             list_transform(
               range(greatest(CAST(ceil(len(ws) / {_C4_SEG}.0) AS INT), 1)),
               i -> list_aggregate(
                      ws[i*{_C4_SEG}+1 :
                         i*{_C4_SEG} + CASE WHEN (doc_id+i) % 7 = 0
                                            THEN 2 ELSE {_C4_SEG} END],
                      'string_agg', ' ')
                    || (['.', '!', '?', '', '.'])[CAST((doc_id+i) % 5 AS INT) + 1]
             )
             || CASE WHEN doc_id % 17 = 0
                     THEN ['lorem ipsum dolor sit amet.'] ELSE [] END
             || CASE WHEN doc_id % 13 = 0
                     THEN ['var config = {{ }};'] ELSE [] END AS lines
      FROM d
    ), judged AS (
      SELECT doc_id, lines,
             list_filter(lines,
               l -> regexp_matches(l, '[.!?"]$')
                    AND len(string_split(l, ' ')) >= {C4_MIN_LINE_WORDS})
               AS kept,
             contains(lower(list_aggregate(lines, 'string_agg', chr(10))),
                      'lorem ipsum') AS has_lorem,
             contains(list_aggregate(lines, 'string_agg', chr(10)), '{{')
               AS has_brace
      FROM lined
    )
    SELECT doc_id,
           CAST(len(lines) AS BIGINT) AS n_lines,
           CAST(len(kept) AS BIGINT) AS n_kept,
           has_lorem, has_brace,
           len(kept) >= {C4_MIN_KEPT_LINES} AND NOT has_lorem
             AND NOT has_brace AS c4_keep,
           CASE WHEN len(kept) >= {C4_MIN_KEPT_LINES} AND NOT has_lorem
                     AND NOT has_brace
                THEN list_aggregate(kept, 'string_agg', chr(10))
                ELSE '' END AS clean_text
    FROM judged ORDER BY doc_id
    """,
    doc="C4 heuristic cleaning (Raffel et al. 2020 §2.2): terminal-"
    "punctuation + min-word line filter, min-kept-lines / lorem-ipsum / "
    "curly-brace page filters. The corpus has no line structure, so lines "
    "are derived deterministically in-query (same derivation in the "
    "oracle); the cleaned text itself is part of the hash-verified output. "
    "Row-local higher-order array expressions — zero shuffle, plan-pinned.",
)
def c4_filter_suite(spark, sf_dir):
    d = (
        load(spark, sf_dir, "documents")
        .filter(F.length(F.trim("text")) > 0)
        .select(
            "doc_id",
            F.split(F.trim("text"), r"[ \t\n\r\f\x0B]+").alias("ws"),
        )
    )
    punct_arr = ", ".join(f"'{p}'" for p in _C4_PUNCTS)
    lined = d.select(
        "doc_id",
        F.expr(
            f"""
            concat(
              transform(
                sequence(0, greatest(cast(ceil(size(ws) / {_C4_SEG}.0) as int), 1) - 1),
                i -> concat(
                       array_join(
                         slice(ws, i*{_C4_SEG}+1,
                               case when (doc_id+i) % 7 = 0
                                    then 2 else {_C4_SEG} end), ' '),
                       element_at(array({punct_arr}),
                                  cast((doc_id+i) % 5 as int) + 1))),
              case when doc_id % 17 = 0
                   then array('lorem ipsum dolor sit amet.')
                   else cast(array() as array<string>) end,
              case when doc_id % 13 = 0
                   then array('var config = {{ }};')
                   else cast(array() as array<string>) end)
            """
        ).alias("lines"),
    )
    return (
        c4_clean(lined)
        .select(
            "doc_id", "n_lines", "n_kept", "has_lorem", "has_brace",
            "c4_keep", "clean_text",
        )
        .orderBy("doc_id")
    )


# --- deterministic stratified sampling --------------------------------------

# Domain-mixing rates (out of 256 hash buckets) per language — the Pile /
# FineWeb-style corpus reweighting step. Values are arbitrary demo weights;
# the mechanism (portable md5 bucket + per-stratum threshold) is the point.
SAMPLE_RATES_256 = {"en": 224, "de": 128, "es": 64, "fr": 192, "zh": 32}

# md5 hex → 0..255 via two strpos lookups: the ONLY integer-from-hex
# construction available identically in Spark SQL and DuckDB (no conv() in
# DuckDB, no from_hex in Spark).
_BUCKET_EXPR = (
    "(instr('0123456789abcdef', substr(md5(cast(doc_id as string)), 1, 1)) - 1) * 16"
    " + instr('0123456789abcdef', substr(md5(cast(doc_id as string)), 2, 1)) - 1"
)
_BUCKET_SQL = (
    "(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16"
    " + strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1"
)


def _rate_case(col: str) -> str:
    arms = " ".join(
        f"WHEN '{k}' THEN {v}" for k, v in SAMPLE_RATES_256.items()
    )
    return f"CASE {col} {arms} ELSE 0 END"


@register(
    "sample_stratified",
    oracle=f"""
    SELECT doc_id, lang, source,
           CAST({_BUCKET_SQL} AS BIGINT) AS bucket,
           CAST({_rate_case('lang')} AS BIGINT) AS rate_256
    FROM documents
    WHERE {_BUCKET_SQL} < {_rate_case('lang')}
    ORDER BY doc_id
    """,
    doc="Deterministic stratified sampling for domain mixing (Pile/"
    "FineWeb-style corpus reweighting): keep a document iff its md5-derived "
    "bucket (0..255, two hex-digit lookups — the portable Spark∩DuckDB "
    "hex-to-int construction) falls under its language's rate. Pure filter "
    "over the scan: zero shuffle, zero UDFs, reproducible across runs and "
    "cluster sizes — re-running the job yields the SAME sample, which is "
    "what makes sampled corpora resumable and auditable at 10^12 docs.",
)
def sample_stratified(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    bucket = F.expr(_BUCKET_EXPR)
    rate = F.expr(_rate_case("lang"))
    return (
        d.select(
            "doc_id", "lang", "source",
            bucket.cast("long").alias("bucket"),
            rate.cast("long").alias("rate_256"),
        )
        .filter(F.col("bucket") < F.col("rate_256"))
        .orderBy("doc_id")
    )


# --- URL canonicalization ---------------------------------------------------

# Tracking parameters stripped during canonicalization (the crawl-dedup
# prerequisite: recrawls of one page differ only in scheme/host case,
# default ports, fragments, tracking params, and query order).
_TRACK_RE = "^(utm_[a-z]+|fbclid|gclid)="
_URL_PARTS_RE = "^([A-Za-z]+)://([^/?#:]+)(:[0-9]+)?([^?#]*)"


@register(
    "url_canonical",
    oracle=f"""
    WITH messy AS (
      SELECT doc_id,
             (['https', 'HTTPS', 'Https'])[CAST(doc_id % 3 AS INT) + 1]
             || '://'
             || (CASE WHEN doc_id % 2 = 0
                      THEN upper(source) || '.EXAMPLE.COM'
                      ELSE source || '.example.com' END)
             || (CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END)
             || '/p/' || CAST(doc_id % 40 AS VARCHAR)
             || (['?utm_source=feed&id=', '?id=', '?id=', ''])
                  [CAST(doc_id % 4 AS INT) + 1]
             || (CASE WHEN doc_id % 4 < 3 THEN CAST(doc_id % 40 AS VARCHAR)
                      ELSE '' END)
             || (CASE WHEN doc_id % 4 = 2 THEN '&utm_campaign=c' ELSE '' END)
             || (CASE WHEN doc_id % 6 = 0 THEN '#sec1' ELSE '' END) AS url
      FROM documents
    ), parts AS (
      SELECT doc_id, url,
             lower(regexp_extract(url, '{_URL_PARTS_RE}', 1)) AS scheme,
             lower(regexp_extract(url, '{_URL_PARTS_RE}', 2)) AS host,
             regexp_extract(url, '{_URL_PARTS_RE}', 3) AS port,
             regexp_extract(url, '{_URL_PARTS_RE}', 4) AS path,
             regexp_extract(url, '\\?([^#]*)', 1) AS q
      FROM messy
    ), canon AS (
      SELECT doc_id,
             scheme || '://' || host
             || (CASE WHEN (scheme = 'https' AND port = ':443')
                       OR (scheme = 'http' AND port = ':80')
                      THEN '' ELSE port END)
             || path
             || (CASE WHEN coalesce(list_aggregate(list_sort(
                        list_filter(string_split(q, '&'),
                          p -> p <> '' AND NOT regexp_matches(p, '{_TRACK_RE}'))),
                        'string_agg', '&'), '') = ''
                      THEN ''
                      ELSE '?' || list_aggregate(list_sort(
                        list_filter(string_split(q, '&'),
                          p -> p <> '' AND NOT regexp_matches(p, '{_TRACK_RE}'))),
                        'string_agg', '&') END) AS canonical_url
      FROM parts
    )
    SELECT canonical_url,
           CAST(count(*) AS BIGINT) AS n_variants,
           CAST(min(doc_id) AS BIGINT) AS first_doc
    FROM canon GROUP BY 1 ORDER BY 1
    """,
    doc="URL canonicalization + recrawl collapse: lowercase scheme/host, "
    "strip default ports, fragments, and tracking params (utm_*/fbclid/"
    "gclid), sort surviving query params, then group recrawl variants onto "
    "one canonical form (min doc_id wins — same winner rule as the corpus "
    "builder). Messy URLs are derived deterministically in-query (the "
    "corpus has no url column; same derivation in the oracle). "
    "Canonicalization is row-local regex/array work — the ONLY shuffle is "
    "the final collapse groupBy, exactly one exchange at any corpus size.",
)
def url_canonical(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    messy = d.select(
        "doc_id",
        F.concat(
            F.expr("element_at(array('https','HTTPS','Https'), cast(doc_id % 3 as int) + 1)"),
            F.lit("://"),
            F.when(
                F.col("doc_id") % 2 == 0,
                F.concat(F.upper("source"), F.lit(".EXAMPLE.COM")),
            ).otherwise(F.concat("source", F.lit(".example.com"))),
            F.when(F.col("doc_id") % 5 == 0, F.lit(":443")).otherwise(F.lit("")),
            F.lit("/p/"), (F.col("doc_id") % 40).cast("string"),
            F.expr(
                "element_at(array('?utm_source=feed&id=', '?id=', '?id=', ''), "
                "cast(doc_id % 4 as int) + 1)"
            ),
            F.when(F.col("doc_id") % 4 < 3, (F.col("doc_id") % 40).cast("string"))
            .otherwise(F.lit("")),
            F.when(F.col("doc_id") % 4 == 2, F.lit("&utm_campaign=c")).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 6 == 0, F.lit("#sec1")).otherwise(F.lit("")),
        ).alias("url"),
    )
    parts = messy.select(
        "doc_id",
        F.lower(F.regexp_extract("url", _URL_PARTS_RE, 1)).alias("scheme"),
        F.lower(F.regexp_extract("url", _URL_PARTS_RE, 2)).alias("host"),
        F.regexp_extract("url", _URL_PARTS_RE, 3).alias("port"),
        F.regexp_extract("url", _URL_PARTS_RE, 4).alias("path"),
        F.regexp_extract("url", r"\?([^#]*)", 1).alias("q"),
    )
    kept_q = F.array_join(
        F.array_sort(
            F.filter(
                F.split("q", "&"),
                lambda p: (p != "") & ~p.rlike(_TRACK_RE),
            )
        ),
        "&",
    )
    canon = parts.select(
        "doc_id",
        F.concat(
            "scheme", F.lit("://"), "host",
            F.when(
                ((F.col("scheme") == "https") & (F.col("port") == ":443"))
                | ((F.col("scheme") == "http") & (F.col("port") == ":80")),
                F.lit(""),
            ).otherwise(F.col("port")),
            "path",
            F.when(kept_q == "", F.lit("")).otherwise(F.concat(F.lit("?"), kept_q)),
        ).alias("canonical_url"),
    )
    return (
        canon.groupBy("canonical_url")
        .agg(
            F.count("*").cast("long").alias("n_variants"),
            F.min("doc_id").cast("long").alias("first_doc"),
        )
        .orderBy("canonical_url")
    )


# --- salted two-stage aggregation (host-skew pattern) ------------------------

_SALT_N = 16


@register(
    "host_stats_salted",
    oracle="""
    SELECT 'h' || CAST(doc_id % 5 AS VARCHAR)
           || CASE WHEN doc_id % 5 < 2 THEN '.bigportal' ELSE '.longtail' END
             AS host,
           CAST(count(*) AS BIGINT) AS docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(max(n_chars) AS BIGINT) AS max_chars
    FROM documents GROUP BY 1 ORDER BY 1
    """,
    doc="Per-host corpus stats via a SALTED TWO-STAGE aggregation — the "
    "agg-skew pattern AQE does not cover (AQE splits skewed JOIN "
    "partitions, not skewed groupBy keys): stage 1 aggregates on "
    "(host, doc_id%16 salt) so a hot host's rows spread over 16 reducers, "
    "stage 2 merges the ≤16 partial rows per host. All aggregates here "
    "are decomposable (count/sum→sum, max→max). The oracle computes the "
    "same stats with a plain GROUP BY — salting must be invisible in the "
    "values, visible only in the plan (pinned: first exchange hashes "
    "(host, salt), second hashes host).",
)
def host_stats_salted(spark, sf_dir):
    d = load(spark, sf_dir, "documents").select(
        F.concat(
            F.lit("h"), (F.col("doc_id") % 5).cast("string"),
            F.when(F.col("doc_id") % 5 < 2, F.lit(".bigportal")).otherwise(
                F.lit(".longtail")
            ),
        ).alias("host"),
        "n_chars",
        (F.col("doc_id") % _SALT_N).alias("salt"),
    )
    partial = d.groupBy("host", "salt").agg(
        F.count("*").alias("p_docs"),
        F.sum("n_chars").alias("p_chars"),
        F.max("n_chars").alias("p_max"),
    )
    return (
        partial.groupBy("host")
        .agg(
            F.sum("p_docs").cast("long").alias("docs"),
            F.sum("p_chars").cast("long").alias("total_chars"),
            F.max("p_max").cast("long").alias("max_chars"),
        )
        .orderBy("host")
    )


# --- temperature-based domain resampling --------------------------------------

def _hex_bucket(md5_expr: str, strpos_fn: str, ndigits: int) -> str:
    """First `ndigits` hex digits of an md5 as an integer in [0, 16^ndigits)
    — the portable Spark∩DuckDB construction (_BUCKET_EXPR generalized):
    both engines lowercase md5 hex, both index substr from 1."""
    terms = []
    for i in range(ndigits):
        mult = 16 ** (ndigits - 1 - i)
        t = f"({strpos_fn}('0123456789abcdef', substr({md5_expr}, {i + 1}, 1)) - 1)"
        terms.append(f"{t} * {mult}" if mult > 1 else t)
    return " + ".join(terms)


_B16_SPARK = _hex_bucket("md5(cast(doc_id as string))", "instr", 4)
_B16_SQL = _hex_bucket("md5(CAST(d.doc_id AS VARCHAR))", "strpos", 4)


@register(
    "sample_temperature",
    oracle=f"""
    WITH c AS (SELECT lang, CAST(count(*) AS DOUBLE) AS cnt
               FROM documents GROUP BY lang),
         m AS (SELECT min(cnt) AS mn FROM c),
         r AS (SELECT lang, CAST(floor(sqrt(m.mn / c.cnt) * 65536) AS BIGINT)
                        AS thr_65536
               FROM c, m)
    SELECT d.doc_id, d.lang, CAST({_B16_SQL} AS BIGINT) AS bucket, r.thr_65536
    FROM documents d JOIN r ON r.lang = d.lang
    WHERE {_B16_SQL} < r.thr_65536
    ORDER BY d.doc_id
    """,
    doc="Temperature-based domain resampling (the Pile / mT5 / DoReMi "
    "alpha-mixing family, alpha=0.5): per-language acceptance rate "
    "sqrt(min_count/count) flattens the domain distribution toward the "
    "temperature-smoothed target (rarest language keeps rate 1.0, the "
    "head is downsampled toward it). Rates are computed IN-JOB (one "
    "partial-agg groupBy to ~n_lang rows, broadcast back) — unlike "
    "sample_stratified's fixed table, so the mix adapts to the corpus "
    "actually being built. Acceptance is the deterministic md5 bucket "
    "(16 bits here for rate resolution) vs floor(rate*65536): sqrt and "
    "x/y are IEEE-754 correctly-rounded in BOTH engines (JVM StrictMath "
    "contract + libm) and 65536 scaling is exact, so the kept set is "
    "bit-portable — pow() would not be, which is why alpha is baked as "
    "sqrt. Zero extra shuffle on the corpus side: scan → broadcast-join "
    "→ filter.",
)
def sample_temperature(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    cnts = d.groupBy("lang").agg(F.count("*").cast("double").alias("cnt"))
    mn = cnts.agg(F.min("cnt").alias("mn"))
    rates = cnts.crossJoin(F.broadcast(mn)).select(
        "lang",
        F.floor(F.sqrt(F.col("mn") / F.col("cnt")) * 65536)
        .cast("long").alias("thr_65536"),
    )
    bucket = F.expr(_B16_SPARK).cast("long")
    return (
        d.join(F.broadcast(rates), "lang")
        .select("doc_id", "lang", bucket.alias("bucket"), "thr_65536")
        .filter(F.col("bucket") < F.col("thr_65536"))
        .orderBy("doc_id")
    )


# --- token-budget selection (distributed prefix sum) --------------------------

_TOKEN_BUDGET = 12_000
_QB_MAX = 63  # quality quantized to 64 levels: bucket = clamp(floor(q*4), 0, 63)

_WS = r"[ \t\n\r\f\x0B]+"


def select_token_budget(scored, budget: int = _TOKEN_BUDGET, id_col: str = "doc_id"):
    """Greedy quality-ordered selection under a global token budget — the
    'fill the training mix best-first' pass (C4/FineWeb keep-until-budget):
    rank docs by (quality DESC, id_col), keep the maximal prefix whose
    cumulative token count stays within `budget`.

    The naive plan is a GLOBAL window cumsum — a single-partition sort, the
    one shape that cannot scale. This runs the same math as a DISTRIBUTED
    prefix sum instead: quality is quantized to ≤64 ordered buckets
    (floor(q*4) clamped — monotone, so bucket order IS quality order and
    ties share a bucket), per-bucket token totals aggregate to ≤64 rows
    (bounded driver collect, the MLlib-centers discipline), each bucket's
    offset = sum of strictly-better buckets' totals, and the window cumsum
    runs PARTITIONED BY bucket with the offset added — every partition
    sorts locally in parallel. Buckets whose offset already exceeds the
    budget are pruned BEFORE the window (inner join against the live-offset
    dim), so at 10^12 docs only the straddling tail of the quality
    distribution does window work at all.

    `scored` needs (id_col, tokens, quality). Returns (id_col, tokens,
    cum_tokens) for the selected docs — cum_tokens equals the global-window
    value exactly (integer tokens, order-consistent bucketing).
    """
    spark = scored.sparkSession
    d = scored.withColumn(
        "qb",
        F.least(F.greatest(F.floor(F.col("quality") * 4), F.lit(0)),
                F.lit(_QB_MAX)).cast("int"),
    )
    totals = {
        r.qb: r.tot
        for r in d.groupBy("qb").agg(F.sum("tokens").alias("tot")).collect()
    }  # ≤64 rows by construction — quantization bounds the collect
    offsets, acc = {}, 0
    for qb in sorted(totals, reverse=True):  # best bucket first
        offsets[qb] = acc
        acc += totals[qb]
    live = [(qb, off) for qb, off in offsets.items() if off < budget]
    off_df = spark.createDataFrame(live, "qb int, off long")
    w = (
        W.partitionBy("qb")
        .orderBy(F.col("quality").desc(), F.col(id_col))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        d.join(F.broadcast(off_df), "qb")  # inner join prunes dead buckets
        .withColumn(
            "cum_tokens",
            (F.sum("tokens").over(w) + F.col("off")).cast("long"),
        )
        .filter(F.col("cum_tokens") <= budget)
        .select(id_col, F.col("tokens").cast("long").alias("tokens"),
                "cum_tokens")
    )


@register(
    "token_budget_select",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             len(regexp_split_to_array(trim(text), '{_WS}')) AS tokens,
             round({_QUALITY_SQL}, 4) AS quality
      FROM documents
      WHERE length(trim(text)) > 0
    )
    SELECT doc_id, CAST(tokens AS BIGINT) AS tokens, cum_tokens FROM (
      SELECT doc_id, tokens,
             CAST(sum(tokens) OVER (
               ORDER BY quality DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS cum_tokens
      FROM t
    ) WHERE cum_tokens <= {_TOKEN_BUDGET}
    ORDER BY doc_id
    """,
    doc="Token-budget selection over the text_quality score: keep the "
    "best-quality docs until the corpus token budget fills. The ORACLE is "
    "the textbook global-window cumsum (single total order) — the Spark "
    "side computes the IDENTICAL values with a distributed prefix sum "
    "(quantize-order buckets → bounded per-bucket totals → offset join → "
    "bucket-partitioned window), the scale-first reinterpretation of an "
    "inherently sequential operator. Plan-pinned: the window's exchange "
    "hashes on the bucket key, never SinglePartition.",
)
def token_budget_select(spark, sf_dir):
    d = load(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    scored = d.select(
        "doc_id",
        F.size(F.split(F.trim("text"), _WS)).alias("tokens"),
        F.round(_quality(), 4).alias("quality"),
    )
    return select_token_budget(scored).orderBy("doc_id")


# --- sequence packing (deterministic shuffle -> concat -> chunk) -------------

_PACK_CHUNK = 512  # context length in whitespace tokens (2048/4096 in prod)


@register(
    "pack_sequences",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             CAST(len(regexp_split_to_array(trim(text), '{_WS}')) AS BIGINT)
               AS tokens,
             md5(CAST(doc_id AS VARCHAR)) AS k
      FROM documents WHERE length(trim(text)) > 0
    ), s AS (
      SELECT doc_id, tokens,
             CAST(coalesce(sum(tokens) OVER (
               ORDER BY k, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS start
      FROM t
    )
    SELECT doc_id, tokens, start,
           CAST(start // {_PACK_CHUNK} AS BIGINT) AS seq_id,
           CAST(start % {_PACK_CHUNK} AS BIGINT) AS seq_off,
           CAST((start + tokens - 1) // {_PACK_CHUNK}
                - start // {_PACK_CHUNK} + 1 AS BIGINT) AS n_seqs
    FROM s ORDER BY doc_id
    """,
    doc="Sequence packing (the GPT-style pre-training pass): shuffle the "
    "corpus DETERMINISTICALLY (md5(doc_id) order — the global shuffle "
    "every training pipeline runs before batching), concatenate the token "
    "stream in that order, and chunk it into fixed context windows of "
    f"{_PACK_CHUNK} tokens; each doc gets its window id, offset within "
    "the window, and the number of windows it straddles. The ORACLE is "
    "the textbook single-total-order window cumsum; the Spark side "
    "computes the IDENTICAL start offsets with a distributed prefix sum — "
    "the first 2 hex digits of the shuffle key give 256 buckets whose "
    "STRING order is monotone with full-key order, per-bucket token "
    "totals collect to <=256 rows (the bounded-driver-rows discipline), "
    "each bucket's offset is the sum of lexically-smaller buckets, and "
    "the cumsum window runs PARTITIONED BY bucket — 256-way parallel "
    "local sorts, never a SinglePartition exchange. Chunk assignment is "
    "integer row-local arithmetic, exact in both engines.",
)
def pack_sequences(spark, sf_dir):
    d = load(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    key = F.md5(F.col("doc_id").cast("string"))
    scored = d.select(
        "doc_id",
        F.size(F.split(F.trim("text"), _WS)).cast("long").alias("tokens"),
        key.alias("k"),
        F.substring(key, 1, 2).alias("kb"),
    )
    totals = {
        r.kb: r.tot
        for r in scored.groupBy("kb").agg(F.sum("tokens").alias("tot")).collect()
    }  # <=256 rows by construction — the 2-hex-digit prefix bounds the collect
    offsets, acc = [], 0
    for kb in sorted(totals):  # hex-string sort == shuffle-key order
        offsets.append((kb, acc))
        acc += totals[kb]
    off_df = spark.createDataFrame(offsets, "kb string, off long")
    w = (
        W.partitionBy("kb")
        .orderBy("k", "doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    c = _PACK_CHUNK
    return (
        scored.join(F.broadcast(off_df), "kb")
        .withColumn(
            "start",
            (F.sum("tokens").over(w) + F.col("off") - F.col("tokens")).cast("long"),
        )
        .select(
            "doc_id",
            "tokens",
            "start",
            F.expr(f"start div {c}").alias("seq_id"),
            (F.col("start") % c).cast("long").alias("seq_off"),
            (
                F.expr(f"(start + tokens - 1) div {c}")
                - F.expr(f"start div {c}")
                + F.lit(1)
            ).cast("long").alias("n_seqs"),
        )
        .orderBy("doc_id")
    )


@register(
    "pack_windows",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             regexp_split_to_array(trim(text), '{_WS}') AS toks,
             CAST(len(regexp_split_to_array(trim(text), '{_WS}')) AS BIGINT)
               AS tokens,
             md5(CAST(doc_id AS VARCHAR)) AS k
      FROM documents WHERE length(trim(text)) > 0
    ), s AS (
      SELECT doc_id, toks, tokens,
             CAST(coalesce(sum(tokens) OVER (
               ORDER BY k, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS start
      FROM t
    ), e AS (
      SELECT doc_id, toks, tokens, start,
             unnest(generate_series(start // {_PACK_CHUNK},
                                    (start + tokens - 1) // {_PACK_CHUNK}))
               AS seq_id
      FROM s
    ), p AS (
      SELECT seq_id, start,
             toks[greatest(seq_id * {_PACK_CHUNK} - start, 0) + 1 :
                  least((seq_id + 1) * {_PACK_CHUNK}, start + tokens) - start]
               AS piece
      FROM e
    )
    SELECT seq_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(len(flatten(list(piece ORDER BY start))) AS BIGINT) AS n_tokens,
           array_to_string(flatten(list(piece ORDER BY start)), ' ') AS seq_text
    FROM p GROUP BY 1 ORDER BY 1
    """,
    doc="Materialize the packed training sequences pack_sequences plans: "
    "each fixed context window's text, assembled from the token slices of "
    "every document that straddles it. Same distributed prefix sum for "
    "the start offsets (256 monotone md5-prefix buckets, bounded collect, "
    "bucket-partitioned window — never SinglePartition); then each doc "
    "EXPLODES only over the n_seqs windows it straddles (bounded "
    "1 + tokens/chunk rows), slices its token array row-locally, and ONE "
    "hash-groupBy on seq_id reassembles windows (pieces ordered by their "
    "global start — array_sort on the collected structs, no Window). The "
    "shuffle carries each token exactly once; window text is "
    "space-joined, canonical in both engines because tokenization split "
    "on whitespace runs.",
)
def pack_windows(spark, sf_dir):
    c = _PACK_CHUNK
    d = load(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    key = F.md5(F.col("doc_id").cast("string"))
    t = d.select(
        "doc_id",
        F.split(F.trim("text"), _WS).alias("toks"),
        key.alias("k"),
        F.substring(key, 1, 2).alias("kb"),
    ).withColumn("tokens", F.size("toks").cast("long"))
    totals = {
        r.kb: r.tot
        for r in t.groupBy("kb").agg(F.sum("tokens").alias("tot")).collect()
    }  # <=256 rows by construction
    offsets, acc = [], 0
    for kb in sorted(totals):
        offsets.append((kb, acc))
        acc += totals[kb]
    off_df = spark.createDataFrame(offsets, "kb string, off long")
    w = (
        W.partitionBy("kb")
        .orderBy("k", "doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    pieces = (
        t.join(F.broadcast(off_df), "kb")
        .withColumn(
            "start",
            (F.sum("tokens").over(w) + F.col("off") - F.col("tokens")).cast("long"),
        )
        .select(
            "toks",
            "tokens",
            "start",
            F.explode(
                F.expr(f"sequence(start div {c}, (start + tokens - 1) div {c})")
            ).alias("seq_id"),
        )
        .select(
            "start",
            "seq_id",
            F.expr(
                f"slice(toks, CAST(greatest(seq_id * {c} - start, 0) AS INT) + 1, "
                f"CAST(least((seq_id + 1) * {c}, start + tokens) "
                f"- greatest(seq_id * {c}, start) AS INT))"
            ).alias("piece"),
        )
    )
    flat = F.flatten(
        F.transform(
            F.array_sort(F.collect_list(F.struct("start", "piece"))),
            lambda x: x["piece"],
        )
    )
    return (
        pieces.groupBy("seq_id")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            flat.alias("flat"),
        )
        .select(
            "seq_id",
            "n_docs",
            F.size("flat").cast("long").alias("n_tokens"),
            F.concat_ws(" ", "flat").alias("seq_text"),
        )
        .orderBy("seq_id")
    )


# --- DSIR: data selection via importance resampling (Xie et al. 2023) -------

_DSIR_TARGET_SRC = "src0"  # the in-domain exemplar slice p(x) is fit on
_DSIR_KEEP_Q = 0.75  # keep the top quartile of raw docs by importance


def dsir_weights(spark, feats, target_ids):
    """Per-bucket log importance ratio ln p̂(b) − ln q̂(b) of the hashed-ngram
    bag-of-features model, Laplace-smoothed.

    DSIR (Xie et al. 2023, §3) fits two hashed n-gram unigram distributions
    — p on a small in-domain target set, q on the raw pool — and weights
    every raw document by its feature-wise likelihood ratio. Both fits are
    ONE hash-groupBy on the 256-value bucket key with map-side partial agg;
    the returned weight table is ≤256 rows, a broadcast dim at any corpus
    scale (the train_hashed_ngram_weights shape with a target/raw split
    instead of a pos/neg label).
    """
    from pdf_extractor_spark.operators.textstats import _CLF_BUCKETS

    a, b = 1.0, float(_CLF_BUCKETS)
    tgt = (
        feats.join(F.broadcast(target_ids), "doc_id")
        .groupBy("bucket")
        .agg(F.count("*").alias("np"))
    )
    raw = feats.groupBy("bucket").agg(F.count("*").alias("nq"))
    spine = spark.range(_CLF_BUCKETS).select(F.col("id").cast("int").alias("bucket"))
    full = (
        spine.join(F.broadcast(tgt), "bucket", "left")
        .join(F.broadcast(raw), "bucket", "left")
        .select(
            "bucket",
            F.coalesce("np", F.lit(0)).alias("np"),
            F.coalesce("nq", F.lit(0)).alias("nq"),
        )
    )
    tot = full.agg(F.sum("np").alias("tp"), F.sum("nq").alias("tq"))
    return full.crossJoin(F.broadcast(tot)).select(
        "bucket",
        (
            F.log((F.col("np") + a) / (F.col("tp") + b))
            - F.log((F.col("nq") + a) / (F.col("tq") + b))
        ).alias("wt"),
    )


@register(
    "dsir_select",
    oracle=None,  # replaced below — needs FEAT_CTES from textstats at import time
    doc="DSIR data selection (Xie et al. 2023): hashed-ngram importance "
    "resampling toward a target domain. p̂ is fit on the in-domain slice "
    "(source = 'src0'), q̂ on the whole raw pool; every candidate doc "
    "(raw minus target) scores sum of per-feature log ratios; the kept "
    "set is the top quartile by an in-job percentile cutoff. Weight "
    "table and cutoff are broadcast (≤256 rows / 1 row): the corpus "
    "never shuffles to score — the only corpus-sized exchange is the "
    "per-doc sum. The exact-percentile reduce runs over one row per DOC "
    "(not per token); at 10^12 docs swap it for approx_percentile or a "
    "deterministic md5 doc sample — the cutoff is the only non-sketch "
    "step. Oracle unrolls the SAME two fits + quantile_cont as CTEs, so "
    "the driver hash-verifies the training and the cutoff, not a frozen "
    "snapshot (the ann_ivf_trained discipline); Spark percentile() and "
    "DuckDB quantile_cont(DOUBLE) share the (n-1)*q linear-interpolation "
    "convention bitwise (verified empirically on 1037 rounded doubles).",
)
def dsir_select(spark, sf_dir):
    from pdf_extractor_spark.operators.textstats import hashed_ngram_features

    d = load(spark, sf_dir, "documents")
    feats = hashed_ngram_features(d)
    target_ids = d.filter(F.col("source") == _DSIR_TARGET_SRC).select("doc_id")
    weights = dsir_weights(spark, feats, target_ids)
    cand = (
        feats.join(F.broadcast(target_ids), "doc_id", "left_anti")
        .join(F.broadcast(weights), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_feats"),
            F.round(F.sum("wt"), 4).alias("logw"),
        )
    )
    cut = cand.agg(F.expr(f"percentile(logw, {_DSIR_KEEP_Q})").alias("cut"))
    return (
        cand.crossJoin(F.broadcast(cut))
        .select(
            "doc_id",
            "n_feats",
            "logw",
            F.round("cut", 4).alias("cutoff"),
            (F.col("logw") >= F.col("cut")).alias("selected"),
        )
        .orderBy("doc_id")
    )


def _dsir_oracle() -> str:
    from pdf_extractor_spark.operators.textstats import _CLF_BUCKETS, FEAT_CTES

    a, b = 1.0, float(_CLF_BUCKETS)
    return (
        FEAT_CTES
        + f""", tgt AS (
      SELECT doc_id FROM documents WHERE source = '{_DSIR_TARGET_SRC}'
    ), pt AS (
      SELECT bucket, count(*) AS np FROM fb JOIN tgt USING (doc_id) GROUP BY 1
    ), qr AS (
      SELECT bucket, count(*) AS nq FROM fb GROUP BY 1
    ), cnt AS (
      SELECT s.bucket, coalesce(pt.np, 0) AS np, coalesce(qr.nq, 0) AS nq
      FROM (SELECT unnest(range({_CLF_BUCKETS})) AS bucket) s
      LEFT JOIN pt ON pt.bucket = s.bucket
      LEFT JOIN qr ON qr.bucket = s.bucket
    ), tot AS (SELECT sum(np) AS tp, sum(nq) AS tq FROM cnt),
    w AS (
      SELECT bucket,
             ln((np + {a}) / (tp + {b})) - ln((nq + {a}) / (tq + {b})) AS wt
      FROM cnt CROSS JOIN tot
    ), cand AS (
      SELECT fb.doc_id,
             CAST(count(*) AS BIGINT) AS n_feats,
             round(sum(wt), 4) AS logw
      FROM fb LEFT JOIN tgt ON fb.doc_id = tgt.doc_id
      JOIN w USING (bucket)
      WHERE tgt.doc_id IS NULL
      GROUP BY fb.doc_id
    ), cut AS (SELECT quantile_cont(CAST(logw AS DOUBLE), {_DSIR_KEEP_Q}) AS cut FROM cand)
    SELECT doc_id, n_feats, logw,
           round(cut, 4) AS cutoff,
           logw >= cut AS selected
    FROM cand CROSS JOIN cut ORDER BY doc_id
    """
    )


# late-bind the oracle (FEAT_CTES lives in textstats; importing it at module
# top would be circular — textstats imports nothing from here, but keeping
# the one-way dependency explicit at call time costs nothing)
from pdf_extractor_spark.operators.registry import _REGISTRY as _R  # noqa: E402
from dataclasses import replace as _dc_replace  # noqa: E402

_R["dsir_select"] = _dc_replace(_R["dsir_select"], oracle=_dsir_oracle())


# --- URL quality filtering (RefinedWeb-style pre-filter) ---------------------

# In production the blocklist is a multi-million-domain list (RefinedWeb
# aggregates ~4.6M adult/malware domains) — far too big for a literal
# expression, exactly right for a BROADCAST hash join. The pattern here is
# the real one at any list size; the list itself is a 3-row synthetic stand-in.
_BLOCK_HOSTS = ("src3.example.com", "src7.example.com", "src13.example.com")
_URL_BADWORD_RE = "(casino|porn|viagra|xxx)"

# Deterministic messy-URL derivation (the corpus has no url column; the
# oracle derives the SAME urls): every 7th doc gets a digit-heavy CDN host,
# every 5th a bad-word path segment. `vt` = the engine's string cast type
# (Spark: STRING; DuckDB: VARCHAR).
def _uqf_host_sql(vt: str) -> str:
    return (
        "CASE WHEN doc_id % 7 = 0 "
        f"THEN 'cdn' || CAST((doc_id * 37) % 100000 AS {vt}) || '-img.example.com' "
        "ELSE source || '.example.com' END"
    )


def _uqf_path_sql(vt: str) -> str:
    return (
        "CASE WHEN doc_id % 5 = 0 "
        f"THEN '/casino/p/' || CAST(doc_id % 40 AS {vt}) "
        f"ELSE '/p/' || CAST(doc_id % 40 AS {vt}) END"
    )


_UQF_HOST_SQL = _uqf_host_sql("VARCHAR")
_UQF_PATH_SQL = _uqf_path_sql("VARCHAR")


@register(
    "url_quality_filter",
    oracle=f"""
    WITH u AS (
      SELECT doc_id,
             {_UQF_HOST_SQL} AS host,
             'https://' || ({_UQF_HOST_SQL}) || ({_UQF_PATH_SQL}) AS url
      FROM documents
    ),
    flagged AS (
      SELECT u.doc_id, u.url, u.host,
             (b.host IS NOT NULL) AS blocked_domain,
             regexp_matches(u.url, '{_URL_BADWORD_RE}') AS badword_hit,
             ((length(u.host) - length(regexp_replace(u.host, '[0-9]', '', 'g')))
              / CAST(length(u.host) AS DOUBLE)) > 0.2 AS digit_heavy
      FROM u LEFT JOIN (VALUES ('src3.example.com'), ('src7.example.com'),
                               ('src13.example.com')) b(host)
        ON b.host = u.host
    )
    SELECT doc_id, url, host, blocked_domain, badword_hit, digit_heavy,
           NOT (blocked_domain OR badword_hit OR digit_heavy) AS keep
    FROM flagged ORDER BY doc_id
    """,
    doc="RefinedWeb-style URL pre-filtering (Penedo et al. 2023 §3.1): the "
    "cheapest quality gate in a web pipeline runs BEFORE fetching or "
    "parsing bytes — blocklisted registered domains (broadcast hash join "
    "against the domain list; the corpus side never shuffles to probe), "
    "bad-word substrings in the URL, and digit-heavy hosts (CDN/tracker "
    "mirrors). Emits the full per-URL decision table (each rule as a "
    "column + the final keep bit) rather than a bare filter — audit "
    "trails over 10^12 URLs need the reason, not just the verdict. "
    "Everything except the blocklist probe is row-local regex/arithmetic "
    "inside whole-stage codegen.",
)
def url_quality_filter(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    host = F.expr(_uqf_host_sql("STRING"))
    url = F.concat(
        F.lit("https://"),
        F.expr(_uqf_host_sql("STRING")),
        F.expr(_uqf_path_sql("STRING")),
    )
    block = spark.createDataFrame(
        [(h,) for h in _BLOCK_HOSTS], "host string"
    ).withColumn("blocked", F.lit(True))
    flagged = (
        d.select("doc_id", host.alias("host"), url.alias("url"))
        .join(F.broadcast(block), "host", "left")
        .select(
            "doc_id",
            "url",
            "host",
            F.coalesce("blocked", F.lit(False)).alias("blocked_domain"),
            (F.regexp_count("url", F.lit(_URL_BADWORD_RE)) > 0).alias("badword_hit"),
            (
                (
                    F.length("host")
                    - F.length(F.regexp_replace("host", "[0-9]", ""))
                )
                / F.length("host").cast("double")
                > 0.2
            ).alias("digit_heavy"),
        )
    )
    return flagged.withColumn(
        "keep",
        ~(F.col("blocked_domain") | F.col("badword_hit") | F.col("digit_heavy")),
    ).orderBy("doc_id")


# --- deterministic training-order shuffle + sharding -------------------------

_N_SHARDS = 8
_SHUF_KEY_SPARK = "md5(concat(cast(doc_id as string), ':shuf42'))"
_SHUF_KEY_SQL = "md5(CAST(doc_id AS VARCHAR) || ':shuf42')"


@register(
    "shuffle_shard",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id, {_SHUF_KEY_SQL} AS skey,
             CAST(({_hex_bucket(_SHUF_KEY_SQL, 'strpos', 2)}) % {_N_SHARDS}
                  AS BIGINT) AS shard
      FROM documents
    )
    SELECT shard,
           CAST(row_number() OVER (PARTITION BY shard ORDER BY skey, doc_id)
                AS BIGINT) AS pos,
           doc_id, skey
    FROM keyed ORDER BY shard, pos
    """,
    doc="Deterministic global shuffle + sharding for training-data export: "
    "order = md5(doc_id || epoch-seed) — reproducible on any cluster size, "
    "re-runnable for another epoch by changing the seed suffix, and free "
    "of the pathological locality a crawl-ordered corpus has (long runs "
    "of one host/language). Shard = md5-prefix bucket; position within "
    "shard = row_number over the md5 order. The window is PARTITIONED by "
    "shard — never a single global sort — so the plan is one hash "
    "exchange on shard + a per-shard sort, each shard independent: at "
    "10^12 docs you raise the shard count, not the partition size. This "
    "is how pack_windows' input order and the S6 sink's file layout get "
    "their determinism.",
)
def shuffle_shard(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    skey = F.expr(_SHUF_KEY_SPARK)
    shard = (F.expr(_hex_bucket(_SHUF_KEY_SPARK, "instr", 2)) % _N_SHARDS).cast(
        "long"
    )
    keyed = d.select("doc_id", skey.alias("skey"), shard.alias("shard"))
    win = W.partitionBy("shard").orderBy("skey", "doc_id")
    return keyed.select(
        "shard",
        F.row_number().over(win).cast("long").alias("pos"),
        "doc_id",
        "skey",
    ).orderBy("shard", "pos")


# --- bloom-style bounded-memory seen-set probe --------------------------------

_BLOOM_M_DIGITS = 3  # m = 16^3 = 4096 positions
_BLOOM_K = 3  # probes per key

# modulus 42 (not the canonical 40): lcm(20 sources, 42) = 420, so the
# 300-doc "prior snapshot" leaves the new crawl a REAL mix — 80 recrawled
# urls and 120 unseen ones — instead of a degenerate all-dup fixture.
_BLOOM_URL_SPARK = (
    "concat('https://', source, '.example.com/p/', cast(doc_id % 42 as string))"
)
_BLOOM_URL_SQL = (
    "'https://' || source || '.example.com/p/' || CAST(doc_id % 42 AS VARCHAR)"
)


@register(
    "url_seen_bloom",
    oracle=f"""
    WITH u AS (
      SELECT doc_id, {_BLOOM_URL_SQL} AS url FROM documents
    ),
    probes AS (
      SELECT doc_id, url, j,
             CAST({_hex_bucket("md5(CAST(j AS VARCHAR) || '|' || url)", "strpos", _BLOOM_M_DIGITS)}
                  AS BIGINT) AS pos
      FROM u, unnest(range(0, {_BLOOM_K})) AS t(j)
    ),
    old_pos AS (SELECT DISTINCT pos FROM probes WHERE doc_id < 300),
    old_urls AS (SELECT DISTINCT url FROM u WHERE doc_id < 300),
    hit AS (
      SELECT p.doc_id, p.url, bool_and(op.pos IS NOT NULL) AS bloom_hit
      FROM probes p LEFT JOIN old_pos op ON op.pos = p.pos
      WHERE p.doc_id >= 300 GROUP BY 1, 2
    )
    SELECT h.doc_id, h.url, h.bloom_hit, (ou.url IS NOT NULL) AS true_dup
    FROM hit h LEFT JOIN old_urls ou ON ou.url = h.url
    ORDER BY h.doc_id
    """,
    doc="Bloom-filter seen-set probe for crawl frontier dedup: 'have we "
    "already crawled this URL?' answered in O(m) memory REGARDLESS of how "
    "many URLs the accumulated corpus holds — the prior snapshot is "
    "compressed to k=3 md5-derived positions per key in an m=4096 "
    "position space, and only the DISTINCT positions (≤ m rows, bounded "
    "by construction) are broadcast to probe the new crawl; the new side "
    "never shuffles to probe. One-sided error by design: bloom_hit is "
    "true for every true duplicate (no false negatives — the output "
    "carries the exact truth bit so the FP rate is measurable), a false "
    "positive only skips a re-crawl. At 10^12 URLs you raise m (the "
    "broadcast stays ≤ m rows) — the exact-join alternative ships the "
    "full URL set to every executor.",
)
def url_seen_bloom(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    docs = d.select("doc_id", F.expr(_BLOOM_URL_SPARK).alias("url"))
    probes = docs.select(
        "doc_id",
        "url",
        F.explode(F.sequence(F.lit(0), F.lit(_BLOOM_K - 1))).alias("j"),
    ).select(
        "doc_id",
        "url",
        F.expr(
            _hex_bucket(
                "md5(concat(cast(j as string), '|', url))", "instr", _BLOOM_M_DIGITS
            )
        )
        .cast("long")
        .alias("pos"),
    )
    old_pos = (
        probes.filter("doc_id < 300").select("pos").distinct()
        .withColumn("present", F.lit(True))
    )
    old_urls = (
        docs.filter("doc_id < 300").select("url").distinct()
        .withColumn("td", F.lit(True))
    )
    hit = (
        probes.filter("doc_id >= 300")
        .join(F.broadcast(old_pos), "pos", "left")
        .groupBy("doc_id", "url")
        .agg(F.bool_and(F.coalesce("present", F.lit(False))).alias("bloom_hit"))
    )
    return (
        hit.join(F.broadcast(old_urls), "url", "left")
        .select(
            "doc_id",
            "url",
            "bloom_hit",
            F.coalesce("td", F.lit(False)).alias("true_dup"),
        )
        .orderBy("doc_id")
    )


# --- boilerplate segment stripping (jusText-style) --------------------------

_BP_W = 8  # words per pseudo-block (the extraction-side analog of a DOM block)
_BP_MIN_LEN = 3  # trailing fragments shorter than this are chrome, drop them


@register(
    "boilerplate_strip",
    oracle=f"""
    WITH d AS (
      SELECT doc_id,
             regexp_split_to_array(trim(text), '[ \\t\\n\\r\\f\\x0B]+') AS ws
      FROM documents
    ), segs AS (
      SELECT doc_id,
             list_transform(
               range(CAST(ceil(len(ws) / {_BP_W}.0) AS BIGINT)),
               s -> ws[s * {_BP_W} + 1 : least((s + 1) * {_BP_W}, len(ws))]
             ) AS segs
      FROM d
    ), kept AS (
      SELECT doc_id, len(segs) AS n_segments,
             list_filter(segs, g ->
               len(list_filter(g, w -> w IN ({{stops}}))) >= 1
               AND len(g) >= {_BP_MIN_LEN}) AS k
      FROM segs
    )
    SELECT doc_id,
           CAST(n_segments AS BIGINT) AS n_segments,
           CAST(len(k) AS BIGINT) AS n_kept,
           coalesce(array_to_string(flatten(k), ' '), '') AS clean_text
    FROM kept ORDER BY doc_id
    """.replace("{stops}", ", ".join(f"'{s}'" for s in ("the", "a", "of", "to", "and", "in"))),
    doc="jusText-style boilerplate stripping (Pomikálek 2011, the "
    "stopword-density block classifier CC pipelines run after DOM "
    "chrome removal): segment each document into fixed word-count "
    "pseudo-blocks, keep blocks with stopword evidence and a minimum "
    "length, drop the rest, reassemble in order. The entire transform is "
    "higher-order array functions over one row — transform/filter/"
    "flatten/array_join inside a single codegen stage, ZERO exchanges at "
    "any corpus size (plan-pinned) — the shape to reach for before any "
    "corpus-wide line-frequency pass (dedup_lines) is even needed.",
)
def boilerplate_strip(spark, sf_dir):
    stops = ", ".join(f"'{s}'" for s in ("the", "a", "of", "to", "and", "in"))
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.trim("text"), r"[ \t\n\r\f\x0B]+").alias("ws")
    )
    segs = F.expr(
        f"transform(sequence(0, cast(ceil(size(ws) / {_BP_W}.0) as int) - 1), "
        f"s -> slice(ws, s * {_BP_W} + 1, {_BP_W}))"
    )
    kept = F.expr(
        f"filter(segs, g -> size(filter(g, w -> w IN ({stops}))) >= 1 "
        f"AND size(g) >= {_BP_MIN_LEN})"
    )
    return (
        d.withColumn("segs", segs)
        .withColumn("k", kept)
        .select(
            "doc_id",
            F.size("segs").cast("long").alias("n_segments"),
            F.size("k").cast("long").alias("n_kept"),
            F.array_join(F.flatten("k"), " ").alias("clean_text"),
        )
        .orderBy("doc_id")
    )


# --- contamination run lengths (islands-and-gaps) ---------------------------


@register(
    "decontam_overlap_len",
    oracle=f"""
    WITH docs AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '[ \\t\\n\\r\\f\\x0B]+') AS ws
      FROM documents
    ), grams AS (
      SELECT doc_id, i,
             md5(list_aggregate(ws[i+1:i+{_DECON_N}], 'string_agg', ' ')) AS h
      FROM (SELECT doc_id, ws,
                   unnest(range(greatest(len(ws)-{_DECON_N}+1, 0))) AS i
            FROM docs)
    ), bench AS (
      SELECT DISTINCT h FROM grams WHERE doc_id % {_BENCH_MOD} = 0
    ), hitpos AS (
      SELECT g.doc_id, g.i,
             g.i - row_number() OVER (PARTITION BY g.doc_id ORDER BY g.i) AS island
      FROM grams g JOIN bench USING (h)
      WHERE g.doc_id % {_BENCH_MOD} <> 0
    ), runs AS (
      SELECT doc_id, island, count(*) AS n_grams,
             count(*) + {_DECON_N} - 1 AS run_words
      FROM hitpos GROUP BY doc_id, island
    )
    SELECT doc_id,
           CAST(sum(n_grams) AS BIGINT) AS hit_positions,
           CAST(count(*) AS BIGINT) AS n_runs,
           CAST(max(run_words) AS BIGINT) AS max_run_words
    FROM runs GROUP BY doc_id ORDER BY doc_id
    """,
    doc="Contamination RUN LENGTHS, not just hit counts: consecutive "
    "matched gram positions chain into islands (pos minus per-doc rank — "
    "the classic islands-and-gaps construction), so a doc that embeds a "
    "whole benchmark passage reports one long run while a doc that "
    "reuses a stock phrase reports a short one — the signal that decides "
    "drop-the-doc vs strip-the-span. Bench gram hashes broadcast (corpus "
    "never shuffles to probe); the window and both aggs are partitioned "
    "by doc_id — per-doc state only, no global sort at any scale.",
)
def decontam_overlap_len(spark, sf_dir):
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.trim("text"), r"[ \t\n\r\f\x0B]+").alias("ws")
    )
    gram_arr = F.expr(
        f"CASE WHEN size(ws) >= {_DECON_N} THEN "
        f"transform(sequence(0, size(ws)-{_DECON_N}), "
        f"i -> array_join(slice(ws, i+1, {_DECON_N}), ' ')) "
        f"ELSE cast(array() as array<string>) END"
    )
    grams = d.select("doc_id", F.posexplode(gram_arr).alias("i", "g")).withColumn(
        "h", F.md5("g")
    )
    bench_h = grams.filter(F.col("doc_id") % _BENCH_MOD == 0).select("h").distinct()
    w = W.partitionBy("doc_id").orderBy("i")
    hitpos = (
        grams.filter(F.col("doc_id") % _BENCH_MOD != 0)
        .join(F.broadcast(bench_h), "h")
        .withColumn("island", F.col("i") - F.row_number().over(w))
    )
    runs = hitpos.groupBy("doc_id", "island").agg(
        F.count("*").alias("n_grams"),
        (F.count("*") + F.lit(_DECON_N - 1)).alias("run_words"),
    )
    return (
        runs.groupBy("doc_id")
        .agg(
            F.sum("n_grams").cast("long").alias("hit_positions"),
            F.count("*").cast("long").alias("n_runs"),
            F.max("run_words").cast("long").alias("max_run_words"),
        )
        .orderBy("doc_id")
    )


# --- host-graph PageRank ------------------------------------------------------

# Fixed-point scale for PageRank mass. All rank arithmetic is BIGINT
# multiply / integer-divide at this scale, so per-host sums are EXACT and
# order-independent — the only way a damped iteration hash-matches across
# engines (float contributions would differ at ulp scale with summation
# order). 10^12 < 2^53, so the final double share is also exact.
_PR_SCALE = 10**12
_PR_ROUNDS = 4  # fixed so the oracle can unroll the iteration as CTEs


# Deterministic link-graph CTEs shared by host_pagerank / crawl_budget /
# host_link_stats oracles: each page links to the page its md5 draw selects
# (doc->doc equi-join), plus a per-host self-loop to guard dangling mass.
_EDGE_CTES = [
    "mx AS (SELECT max(doc_id) AS m FROM documents)",
    f"""draws AS (
      SELECT d.source AS src,
             CAST(({_B16_SQL}) % (mx.m + 1) AS BIGINT) AS tgt
      FROM documents d CROSS JOIN mx
    )""",
    """e0 AS (
      SELECT dr.src, d2.source AS dst
      FROM draws dr JOIN documents d2 ON d2.doc_id = dr.tgt
      UNION ALL
      SELECT DISTINCT source, source FROM documents
    )""",
    "edges AS (SELECT DISTINCT src, dst FROM e0)",
    "hosts AS (SELECT DISTINCT source AS host FROM documents)",
]


def _pr_ctes(n_rounds: int) -> str:
    """Unrolled PageRank CTE chain for the DuckDB oracle: deterministic
    link-graph synthesis (_EDGE_CTES), out-degrees, then n_rounds of
    (contribution sum, damped update). Shares the _B16_SQL md5 draw with
    sample_temperature."""
    ctes = _EDGE_CTES + [
        "outd AS (SELECT src, CAST(count(*) AS BIGINT) AS od FROM edges GROUP BY src)",
        "n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM hosts)",
        f"r0 AS (SELECT host, {_PR_SCALE} // n.n AS r FROM hosts CROSS JOIN n)",
    ]
    for k in range(1, n_rounds + 1):
        ctes.append(f"""c{k} AS (
      SELECT e.dst AS host, sum(r.r // o.od) AS s
      FROM edges e
      JOIN r{k - 1} r ON r.host = e.src
      JOIN outd o ON o.src = e.src
      GROUP BY e.dst
    )""")
        ctes.append(f"""r{k} AS (
      SELECT h.host,
             (15 * {_PR_SCALE}) // (100 * n.n)
               + (85 * coalesce(c.s, 0)) // 100 AS r
      FROM hosts h CROSS JOIN n LEFT JOIN c{k} c ON c.host = h.host
    )""")
    return ",\n".join(ctes)


@register(
    "host_pagerank",
    oracle=f"""
    WITH {_pr_ctes(_PR_ROUNDS)}
    SELECT host, CAST(r AS BIGINT) AS rank_scaled,
           round(r / {_PR_SCALE}.0, 6) AS rank_share
    FROM r{_PR_ROUNDS} ORDER BY host
    """,
    doc="Host-graph PageRank (damping 0.85, the Common-Crawl host-centrality "
    "quality signal: rank hosts by link mass, weight their documents "
    "accordingly) as a FIXED-POINT integer iteration: ranks live at scale "
    "10^12 as BIGINTs, every contribution is rank div out-degree and every "
    "update is teleport + (85*sum) div 100 — exact integer arithmetic, so "
    f"the {_PR_ROUNDS}-round result is bit-identical across engines and "
    "summation orders (float PageRank never hash-matches). The link graph "
    "is synthesized deterministically (each page links to the page its md5 "
    "draw selects, doc->doc equi-join; per-host self-loop guards dangling "
    "mass) — at production scale edges come from the kernel's extracted "
    "hrefs and the iteration below is unchanged. Distributed shape per "
    "round: edges JOIN ranks on src (equi-join), one hash agg on dst with "
    "map-side partial agg, LEFT JOIN back to the host spine — the classic "
    "message-passing round, node and edge tables never leave the cluster; "
    "only two bounded scalars (host count, max doc id) visit the driver "
    "(the Lloyd/BPE discipline). The loop-invariant (src, dst, od) table "
    "is materialized ONCE and each round's ranks are eagerly "
    "checkpointed (the dedup_components iteration discipline), so the doc "
    "scan and the distinct/out-degree shuffles are paid once, not once "
    "per round, and lineage stays O(1).",
)
def host_pagerank(spark, sf_dir):
    ranks = host_pagerank_ranks(spark, sf_dir)
    return ranks.select(
        "host",
        F.col("r").alias("rank_scaled"),
        F.round(F.col("r") / F.lit(float(_PR_SCALE)), 6).alias("rank_share"),
    ).orderBy("host")


def _host_edges(d, hosts, max_id: int):
    """Deterministic distinct (src, dst) host-link table — the Spark twin
    of _EDGE_CTES, shared by host_pagerank_ranks and host_link_stats."""
    draws = d.select(
        F.col("source").alias("src"),
        (F.expr(_B16_SPARK) % F.lit(int(max_id) + 1)).cast("long").alias("tgt"),
    )
    e0 = draws.join(
        d.select(F.col("doc_id").alias("tgt"), F.col("source").alias("dst")),
        "tgt",
    ).select("src", "dst").unionAll(
        hosts.select(F.col("host").alias("src"), F.col("host").alias("dst"))
    )
    return e0.distinct()


def host_pagerank_ranks(spark, sf_dir):
    """The iteration behind host_pagerank, returning the raw fixed-point
    rank frame (host, r) — shared with crawl_budget."""
    d = load(spark, sf_dir, "documents")
    hosts = d.select(F.col("source").alias("host")).distinct()
    # two bounded driver scalars: graph size and the draw modulus
    n = hosts.count()
    max_id = d.agg(F.max("doc_id")).collect()[0][0]
    teleport = (15 * _PR_SCALE) // (100 * n)

    edges = _host_edges(d, hosts, max_id)
    outd = edges.groupBy("src").agg(F.count("*").cast("long").alias("od"))
    # the edge table is loop-invariant: materialize (src, dst, od) ONCE and
    # iterate against the pinned blocks — without this the doc scan, the
    # distinct exchange, and the out-degree agg replay every round (the
    # dedup_components discipline at dedup.py:329)
    esrc = edges.join(outd, "src").cache()
    spine = hosts.cache()  # host spine, scanned per round

    ranks = spine.withColumn("r", F.lit(_PR_SCALE // n).cast("long"))
    pinned = None  # handle holding the previous round's checkpoint blocks
    for _ in range(_PR_ROUNDS):
        contrib = (
            esrc.join(ranks.withColumnRenamed("host", "src"), "src")
            .select(F.col("dst").alias("host"), F.expr("r div od").alias("c"))
            .groupBy("host")
            .agg(F.sum("c").alias("s"))
        )
        # eager checkpoint per round: lineage stays O(1) instead of nesting
        # _PR_ROUNDS join-agg layers, and the final frame no longer
        # references esrc, so the cache can be dropped before returning
        ranks = spine.join(contrib, "host", "left").select(
            "host",
            (
                F.lit(teleport)
                + F.expr("(85 * coalesce(s, 0L)) div 100")
            ).cast("long").alias("r"),
        ).localCheckpoint(eager=True)
        if pinned is not None:
            pinned.unpersist()
        pinned = ranks
    esrc.unpersist()
    spine.unpersist()
    return ranks


# --- crawl-budget allocation --------------------------------------------------

_CRAWL_BUDGET = 10_000  # global fetch slots per crawl cycle
_CRAWL_CAP = 500        # per-host politeness cap (max fetches per cycle)


@register(
    "crawl_budget",
    oracle=f"""
    WITH {_pr_ctes(_PR_ROUNDS)},
    tot AS (SELECT sum(r) AS t FROM r{_PR_ROUNDS})
    SELECT host, CAST(r AS BIGINT) AS rank_scaled,
           CAST(least({_CRAWL_CAP}, greatest(1, ({_CRAWL_BUDGET} * r) // tot.t))
                AS BIGINT) AS fetch_budget
    FROM r{_PR_ROUNDS} CROSS JOIN tot ORDER BY host
    """,
    doc="Crawl-cycle fetch-budget allocation over the PageRank host ranks "
    "(the frontier-scheduling use of host centrality): each host gets "
    f"slots proportional to its rank share of a {_CRAWL_BUDGET}-slot "
    f"global budget, floored at 1 (every known host stays warm) and "
    f"capped at {_CRAWL_CAP} (politeness — no host absorbs the crawler "
    "regardless of rank). All arithmetic stays in the fixed-point BIGINT "
    "domain (budget×rank < 2^63), so the allocation is bit-identical "
    "across engines. Distributed shape: the rank iteration of "
    "host_pagerank_ranks (edge table materialized once, per-round "
    "checkpoints), then ONE bounded 1-row total (exact BIGINT sum) "
    "broadcast back over the host frame — allocation itself is row-local; "
    "the host table never reshuffles to be priced.",
)
def crawl_budget(spark, sf_dir):
    ranks = host_pagerank_ranks(spark, sf_dir)
    tot = ranks.agg(F.sum("r").alias("t"))
    return (
        ranks.crossJoin(F.broadcast(tot))
        .select(
            "host",
            F.col("r").alias("rank_scaled"),
            F.least(
                F.lit(_CRAWL_CAP),
                F.greatest(
                    F.lit(1), F.expr(f"({_CRAWL_BUDGET} * r) div t")
                ),
            ).cast("long").alias("fetch_budget"),
        )
        .orderBy("host")
    )


_EDGE_CTES_SQL = ",\n".join(_EDGE_CTES)


@register(
    "host_link_stats",
    oracle=f"""
    WITH {_EDGE_CTES_SQL},
    outd AS (SELECT src, CAST(count(*) AS BIGINT) AS od FROM edges GROUP BY src),
    ind AS (SELECT dst, CAST(count(*) AS BIGINT) AS idg FROM edges GROUP BY dst),
    rec AS (
      SELECT e1.src, CAST(count(*) AS BIGINT) AS rc
      FROM edges e1 JOIN edges e2
        ON e1.src = e2.dst AND e1.dst = e2.src AND e1.src <> e1.dst
      GROUP BY e1.src
    )
    SELECT h.host,
           coalesce(o.od, 0) AS out_degree,
           coalesce(i.idg, 0) AS in_degree,
           coalesce(r.rc, 0) AS reciprocal_edges
    FROM hosts h
    LEFT JOIN outd o ON o.src = h.host
    LEFT JOIN ind i ON i.dst = h.host
    LEFT JOIN rec r ON r.src = h.host
    ORDER BY h.host
    """,
    doc="Host link-graph degree telemetry: distinct out-degree, in-degree "
    "and reciprocal (mutual, self-loops excluded) edge count per host — "
    "the structural signals next to host_pagerank (link farms show as "
    "high mutual density, orphan hosts as in_degree = self-loop only) and "
    "the numbers that size the rank iteration's shuffles. Shares the "
    "deterministic edge synthesis with host_pagerank (_host_edges / "
    "_EDGE_CTES). Distributed shape: two hash aggs over the host-level "
    "edge table plus ONE pair-keyed self equi-join for reciprocity "
    "(src,dst)=(dst,src) — all exact integer counts, host spine "
    "LEFT-JOINed so every host reports.",
)
def host_link_stats(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    hosts = d.select(F.col("source").alias("host")).distinct()
    max_id = d.agg(F.max("doc_id")).collect()[0][0]
    edges = _host_edges(d, hosts, max_id)
    outd = edges.groupBy(F.col("src").alias("host")).agg(
        F.count("*").cast("long").alias("out_degree")
    )
    ind = edges.groupBy(F.col("dst").alias("host")).agg(
        F.count("*").cast("long").alias("in_degree")
    )
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    rec = (
        edges.filter(F.col("src") != F.col("dst"))
        .join(rev, ["src", "dst"])
        .groupBy(F.col("src").alias("host"))
        .agg(F.count("*").cast("long").alias("reciprocal_edges"))
    )
    return (
        hosts.join(outd, "host", "left")
        .join(ind, "host", "left")
        .join(rec, "host", "left")
        .select(
            "host",
            F.coalesce("out_degree", F.lit(0)).cast("long").alias("out_degree"),
            F.coalesce("in_degree", F.lit(0)).cast("long").alias("in_degree"),
            F.coalesce("reciprocal_edges", F.lit(0)).cast("long")
            .alias("reciprocal_edges"),
        )
        .orderBy("host")
    )


# --- overlapping chunker ------------------------------------------------------

_CHUNK_W = 32   # words per chunk
_CHUNK_S = 24   # stride (25% overlap) — the RAG/embedding-prep default shape


@register(
    "chunk_overlap",
    oracle=f"""
    WITH w AS (
      SELECT doc_id,
             regexp_split_to_array(trim(text), '[ \\t\\n\\r\\f\\x0B]+') AS words
      FROM documents WHERE length(trim(text)) > 0 AND doc_id < 120
    ),
    starts AS (
      SELECT doc_id, words, unnest(range(0, len(words), {_CHUNK_S})) AS s
      FROM w
    )
    SELECT doc_id,
           CAST(s / {_CHUNK_S} AS BIGINT) AS chunk_idx,
           array_to_string(words[s + 1 : s + {_CHUNK_W}], ' ') AS chunk_text,
           CAST(least({_CHUNK_W}, len(words) - s) AS BIGINT) AS n_words
    FROM starts ORDER BY doc_id, chunk_idx
    """,
    doc=f"Overlapping word-window chunker ({_CHUNK_W}-word chunks, stride "
    f"{_CHUNK_S} = 25% overlap) — the retrieval/embedding-prep primitive: "
    "every chunk carries its trailing context into the next so no span "
    "falls on a boundary; chunk_idx is the deterministic within-doc "
    "address (start div stride). Entirely row-local array algebra inside "
    "codegen (split → sequence of starts → posexplode → slice → join): "
    "zero shuffles before the output sort, linear in corpus tokens, "
    "embarrassingly parallel at any scale. The doc_id<120 window bounds "
    "the driver-compare row count, not the technique.",
)
def chunk_overlap(spark, sf_dir):
    d = (
        load(spark, sf_dir, "documents")
        .filter((F.length(F.trim("text")) > 0) & (F.col("doc_id") < 120))
        .select(
            "doc_id", F.split(F.trim("text"), r"[ \t\n\r\f\x0B]+").alias("words")
        )
    )
    starts = d.select(
        "doc_id",
        "words",
        F.posexplode(
            F.sequence(F.lit(0), F.size("words") - 1, F.lit(_CHUNK_S))
        ).alias("k", "s"),
    )
    return starts.select(
        "doc_id",
        F.expr(f"s div {_CHUNK_S}").cast("long").alias("chunk_idx"),
        F.array_join(F.slice("words", F.col("s") + 1, _CHUNK_W), " ").alias(
            "chunk_text"
        ),
        F.least(F.lit(_CHUNK_W), F.size("words") - F.col("s"))
        .cast("long")
        .alias("n_words"),
    ).orderBy("doc_id", "chunk_idx")


@register(
    "quality_by_rank",
    oracle=f"""
    WITH {_pr_ctes(_PR_ROUNDS)},
    tier AS (
      SELECT r.host,
             CASE WHEN r.r >= 2 * ({_PR_SCALE} // n.n) THEN 0
                  WHEN r.r >= {_PR_SCALE} // n.n THEN 1
                  ELSE 2 END AS tier
      FROM r{_PR_ROUNDS} r CROSS JOIN n
    ),
    q AS (
      SELECT d.source AS host, {_QUALITY_SQL} AS q
      FROM documents d WHERE length(trim(d.text)) > 0
    )
    SELECT t.tier,
           CAST(count(DISTINCT t.host) AS BIGINT) AS hosts,
           CAST(count(q.q) AS BIGINT) AS docs,
           round(avg(q.q), 4) AS avg_quality
    FROM tier t LEFT JOIN q ON q.host = t.host
    GROUP BY t.tier ORDER BY t.tier
    """,
    doc="Signal-validation report: mean heuristic quality per host-"
    "centrality tier — does link mass correlate with content quality on "
    "this corpus (the assumption behind rank-weighted sampling)? Tiers "
    "are RANK-VALUE thresholds relative to the uniform share (>=2x "
    "uniform / >=uniform / below), i.e. row-local arithmetic against the "
    "broadcast 1-row host count — deliberately NOT a global row_number "
    "(a corpus-wide SinglePartition window is the shape token_budget_"
    "select exists to avoid). Reuses host_pagerank_ranks (edge table "
    "paid once, rounds checkpointed) and the text_quality formula; one "
    "equi-join host->tier, one hash agg.",
)
def quality_by_rank(spark, sf_dir):
    ranks = host_pagerank_ranks(spark, sf_dir)
    nh = ranks.agg(F.count("*").cast("long").alias("nh"))
    tier = (
        ranks.crossJoin(F.broadcast(nh))
        .select(
            "host",
            F.when(
                F.col("r") >= 2 * F.expr(f"{_PR_SCALE} div nh"), F.lit(0)
            )
            .when(F.col("r") >= F.expr(f"{_PR_SCALE} div nh"), F.lit(1))
            .otherwise(F.lit(2))
            .cast("int")
            .alias("tier"),
        )
    )
    d = load(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    q = d.select(F.col("source").alias("host"), _quality().alias("q"))
    return (
        tier.join(q, "host", "left")
        .groupBy("tier")
        .agg(
            F.countDistinct("host").cast("long").alias("hosts"),
            F.count("q").cast("long").alias("docs"),
            F.round(F.avg("q"), 4).alias("avg_quality"),
        )
        .orderBy("tier")
    )


_RSV_K = 50  # exact sample size


@register(
    "sample_reservoir",
    oracle=f"""
    SELECT doc_id, md5(CAST(doc_id AS VARCHAR) || '|rsv') AS key
    FROM documents ORDER BY key, doc_id LIMIT {_RSV_K}
    """,
    doc=f"EXACT-k uniform sample ({_RSV_K} docs) — the fixed-size "
    "complement to sample_stratified's rate-based draw: eval sets, "
    "human-review batches and debugging slices need exactly k rows, not "
    "k-in-expectation. Keyed by md5(doc_id), so the SAME k documents are "
    "selected at any partitioning, cluster size, or re-run (the "
    "distributed-reservoir guarantee without reservoir state). Plan "
    "shape: TakeOrderedAndProject — per-partition top-k then a k-row "
    "merge, never a global sort; k rows cross the wire per partition.",
)
def sample_reservoir(spark, sf_dir):
    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("|rsv"))).alias(
            "key"
        ),
    )
    return d.orderBy("key", "doc_id").limit(_RSV_K)


@register(
    "host_components",
    oracle=f"""
    WITH {_EDGE_CTES_SQL},
    sym AS (
      SELECT src AS a, dst AS b FROM edges
      UNION SELECT dst, src FROM edges
    ),
    reach AS (
      WITH RECURSIVE r(node, root) AS (
        SELECT host, host FROM hosts
        UNION
        SELECT s.b, r.root FROM r JOIN sym s ON s.a = r.node
      ) SELECT * FROM r
    ),
    comp AS (SELECT node, min(root) AS root FROM reach GROUP BY node)
    SELECT root AS component, CAST(count(*) AS BIGINT) AS n_hosts
    FROM comp GROUP BY root ORDER BY component
    """,
    doc="Weakly-connected components of the host link graph — the crawl-"
    "frontier partitioning: each component is an island the crawler can "
    "schedule independently (and a single giant component is the "
    "expected web-graph shape; many singletons = a fragmented or "
    "under-linked crawl). Reuses min_label_components (adaptive pointer "
    "jumping, per-round localCheckpoint, O(log d) rounds) over the "
    "SYMMETRIZED shared edge table (_host_edges) — the same iteration "
    "that clusters near-dup docs, demonstrating the graph kernel is "
    "generic over node type (string hosts here, long doc ids there). "
    "DuckDB oracle = recursive-CTE transitive closure, min-root per "
    "node.",
)
def host_components(spark, sf_dir):
    from pdf_extractor_spark.operators.dedup import min_label_components

    d = load(spark, sf_dir, "documents")
    hosts = d.select(F.col("source").alias("host")).distinct()
    max_id = d.agg(F.max("doc_id")).collect()[0][0]
    pinned, _rounds = min_label_components(_host_edges(d, hosts, max_id))
    result = (
        pinned.select("node", "root")
        .groupBy("root")
        .agg(F.count("*").cast("long").alias("n_hosts"))
        .select(F.col("root").alias("component"), "n_hosts")
    )
    out = result.localCheckpoint(eager=True)
    pinned.unpersist()
    return out.orderBy("component")
