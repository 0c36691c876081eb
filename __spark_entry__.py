"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` runs the flagship extraction pipeline (the engine's core
capability) over a deterministically synthesized pages table at sf0.001
scale. `queries()` / `oracle_sql()` expose the SURVEY.md §2 operator
inventory plus the training-data suite (dedup / similarity / text stats),
each checked against DuckDB by the driver at sf0.01.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: main-content extraction over a synthesized pages table.

    500 Common-Crawl-style pages (HTML + PDF + degenerate payloads) through
    the Arrow extraction kernel → (url, extracted_text, span_offsets,
    parse_status, n_bytes). Deterministic: same seed → same bytes → same
    extraction, byte-for-byte.
    """
    from pdf_extractor_spark.kernel.spark_kernel import run_kernel
    from pdf_extractor_spark.synth import pages_df

    pages = pages_df(spark, 500, seed=42)
    return run_kernel(pages)


# The driver verifies queries in dict-insertion order and stops after 50.
# These queries have never reached a driver record, so they lead the order.
NEVER_DRIVER_VERIFIED = (
    "bitext_mine",
    "chunk_overlap",
    "crawl_budget",
    "cross_source_dup",
    "dup_cluster_sizes",
    "host_components",
    "host_link_stats",
    "length_quantiles",
    "near_dup_precision",
    "ngram_novelty",
    "pack_efficiency",
    "quality_by_rank",
    "sample_reservoir",
    "text_char_entropy",
)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """`extract_pipeline`, then the never-driver-verified ops, then every
    other registered op in sorted order."""
    from pdf_extractor_spark.operators.registry import all_ops

    ops = all_ops()
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {
        "extract_pipeline": _extract_pipeline_query
    }
    for name in (*NEVER_DRIVER_VERIFIED, *sorted(ops)):
        out.setdefault(name, ops[name].build)
    return out


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query (omitted for non-SQL-expressible ops)."""
    from pdf_extractor_spark.operators.registry import all_ops

    return {
        name: op.oracle for name, op in sorted(all_ops().items()) if op.oracle
    }


def _extract_pipeline_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extraction kernel → quality enrichment, aggregated, as ONE query
    (consolidated from round 1's extract_pages + extract_enrich_quality so
    both land inside the driver's ~50-query verified window). Rows-only
    check: the Arrow kernel is not SQL-expressible; its correctness gates
    are the byte-identity pytest suite (tests/test_pipeline.py::
    test_fidelity_byte_identity) and tests/test_enrich.py. The aggregate
    still pins kernel output values deterministically (span counts, token
    averages) — a kernel regression changes the rows."""
    from pyspark.sql import functions as F

    from pdf_extractor_spark.enrich import enrich_extracted
    from pdf_extractor_spark.kernel.spark_kernel import run_kernel
    from pdf_extractor_spark.synth import pages_df

    extracted = run_kernel(pages_df(spark, 300, seed=42)).withColumn(
        "n_spans", F.size("span_offsets")
    )
    enriched = enrich_extracted(extracted)
    return (
        enriched.groupBy("parse_status", "quality_ok")
        .agg(
            F.count("*").alias("docs"),
            F.sum("n_spans").alias("total_spans"),
            F.round(F.avg("n_tokens"), 2).alias("avg_tokens"),
            F.round(F.avg("punct_ratio"), 4).alias("avg_punct_ratio"),
        )
        .orderBy("parse_status", "quality_ok")
    )
