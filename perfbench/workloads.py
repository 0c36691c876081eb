"""The benchmark's workloads: set-up, the timed public call, and the
correctness gate each repetition must pass.

Every workload synthesizes its pages table from the seed with
``synth.pages_df`` (heft 5); the program only ever sees that table.
Expected counts come from the synthesizer's URL shapes, which encode the
document kind it drew (``/broken/`` failed, ``/empty/`` chrome-only,
``.pdf``, otherwise HTML). Byte identity is checked twice: every extracted
text against the pages table's golden ``text`` column, which the
synthesizer writes independently of the kernel, and a fixed URL sample
against ``extract_document`` called in-process.
"""

from __future__ import annotations

import hashlib
import os
import re
import shutil
import time
from collections import Counter

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdf_extractor_spark import control, enrich
from pdf_extractor_spark.kernel.extract import STATUS_ENCRYPTED, STATUS_OK, extract_document
from pdf_extractor_spark.operators import dedup
from pdf_extractor_spark.pipeline import (
    DEFAULT_N_BUCKETS,
    build_training_corpus,
    run_extraction,
    with_partition_id,
)
from pdf_extractor_spark.synth import pages_df

HEFT = 5
HTML_SAMPLE = 48  # HTML docs in the byte-identity sample (all PDFs and degenerates join it)
TAIL_BUCKETS = list(range(56, DEFAULT_N_BUCKETS))  # resume probe: 8 of 64 left to do
PRIOR_BUCKETS = list(range(DEFAULT_N_BUCKETS // 2))  # corpus_recrawl: prior snapshot

# synthesizer kind -> the parse_status the kernel must give it
_KIND_STATUS = {"failed": "failed", "empty": "empty", "html": STATUS_OK}


def url_kind(url: str) -> str:
    if re.search(r"/broken/\d+$", url):
        return "failed"
    if re.search(r"/empty/\d+$", url):
        return "empty"
    return "pdf" if url.endswith(".pdf") else "html"


def read_table(path: str, columns=None) -> pa.Table:
    """A parquet table directory as the program wrote it, read with
    pyarrow (hive partition columns included), independently of Spark."""
    return ds.dataset(path, format="parquet", partitioning="hive").to_table(columns=columns)


def _row_hash(row: dict) -> int:
    return int.from_bytes(hashlib.md5(repr(sorted(row.items())).encode()).digest()[:8], "little")


def table_digest(table: pa.Table) -> tuple[int, int]:
    """Order-independent (rows, Σ md5(row)) of a table."""
    return table.num_rows, sum(_row_hash(r) for r in table.to_pylist())


def extraction_digest(table: pa.Table) -> dict:
    """{(url kind, parse_status): (rows, Σ md5(row))} of an extraction
    output: the status counts and an order-independent content digest."""
    out: dict = {}
    for r in table.to_pylist():
        key = (url_kind(r["url"]), r["parse_status"])
        n, h = out.get(key, (0, 0))
        out[key] = (n + 1, h + _row_hash(r))
    return out


def dir_files(path: str) -> tuple[int, float]:
    """(parquet files, MB) under a table directory."""
    n, size = 0, 0
    for root, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size / 1e6


def columns_mb(path: str, columns) -> float:
    """Compressed bytes of ``columns`` in a parquet table: what a scan of
    those columns reads (Spark's own input metric misses vectored reads)."""
    import pyarrow.parquet as pq

    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            if not f.endswith(".parquet"):
                continue
            meta = pq.ParquetFile(os.path.join(root, f)).metadata
            for g in range(meta.num_row_groups):
                rg = meta.row_group(g)
                for c in range(rg.num_columns):
                    col = rg.column(c)
                    if columns is None or col.path_in_schema in columns:
                        total += col.total_compressed_size
    return total / 1e6


def noop(df: DataFrame) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


class Workload:
    """Base: pages synthesis plus the repetition protocol run.py drives.

    ``setup()`` builds inputs and prior state and makes the reference
    call; ``prepare()`` resets state untimed before each repetition;
    ``call()`` is the timed public call; ``check(result)`` returns the
    reasons a repetition failed (empty when correct)."""

    name = ""
    default_docs = 0
    # per-layer metric names (fnmatch patterns) a traced run must measure;
    # any other per-layer name belongs to a layer this workload does not run
    layers: tuple[str, ...] = ()
    warm_reps = 1  # untimed repetitions after the reference call

    def __init__(self, spark, work: str, seed: int, n_docs: int, spans, perturb_digest=False):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.n_docs = n_docs
        self.spans = spans
        self.perturb_digest = perturb_digest
        self.pages_path = os.path.join(work, "pages")
        self.out = os.path.join(work, "out")
        self.ctl = os.path.join(work, "control")
        self.failures: list[str] = []
        self.timings: dict[str, float] = {}

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def _timed(self, key: str, fn, *args, **kwargs):
        t0 = time.perf_counter()
        with self.spans.span(key):
            out = fn(*args, **kwargs)
        self.timings[key] = self.timings.get(key, 0.0) + time.perf_counter() - t0
        return out

    def synth(self) -> None:
        """Write the pages table (timed as ``synth_s``)."""
        parts = 2 * self.spark.sparkContext.defaultParallelism
        self._timed(
            "synth_s",
            lambda: pages_df(self.spark, self.n_docs, seed=self.seed, num_partitions=parts, heft=HEFT)
            .write.mode("overwrite")
            .parquet(self.pages_path),
        )
        self.pages = self.spark.read.parquet(self.pages_path)

    def buckets(self, ids) -> DataFrame:
        """Pages whose url-hash bucket is in ``ids``, pages schema."""
        return (
            with_partition_id(self.pages, DEFAULT_N_BUCKETS)
            .filter(F.col("partition_id").isin(list(ids)))
            .drop("partition_id")
        )

    def reset(self, *dirs: str) -> None:
        for d in dirs:
            shutil.rmtree(d, ignore_errors=True)

    # overridden per workload
    def setup(self) -> None: ...
    def prepare(self) -> None: ...
    def call(self): ...
    def check(self, result) -> list[str]: ...

    def kernel_docs(self) -> list:
        """(url, payload) of the docs one repetition's kernel processes."""
        return []

    def output_dir(self) -> str:
        return self.out

    def layer_probes(self) -> dict:
        return {}


class ExtractMix(Workload):
    """Fresh full extraction, empty output and control dirs every time.

    Set-up checks the reference run against the synthesizer's kinds and
    the in-process oracle; every repetition must then reproduce the
    reference digest exactly, which carries the sample's byte identity
    over to it."""

    name = "extract_mix"
    default_docs = 1600
    layers = ("kernel.*", "pipeline.*", "control.*", "setup.session_s", "setup.synth_s",
              "setup.warm_s", "trace.*")

    def setup(self) -> None:
        self.synth()
        self.truth()
        self.prepare()
        stats = self._timed("warm_s", self.call)
        table = read_table(self.out)
        self.ref = extraction_digest(table)
        self.failures += self._stats_failures(stats) + self._truth_failures(table)
        if self.perturb_digest:
            self.ref = _perturbed(self.ref)

    def truth(self) -> None:
        """Kind counts from the URLs, the golden text of every page, and
        the in-process oracle on a fixed URL sample: every PDF and
        degenerate page plus the first HTML_SAMPLE HTML pages by url."""
        golden = read_table(self.pages_path, ["url", "text"])
        urls = golden.column("url").to_pylist()
        self.golden = dict(zip(urls, golden.column("text").to_pylist()))
        kinds = {u: url_kind(u) for u in urls}
        self.kind_counts = Counter(kinds.values())
        sample = sorted(u for u, k in kinds.items() if k == "html")[:HTML_SAMPLE]
        sample += [u for u, k in kinds.items() if k != "html"]
        pages = read_table(self.pages_path, ["url", "html"])
        pages = pages.filter(pc.is_in(pages["url"], pa.array(sample)))
        self.oracle = {}
        for r in pages.to_pylist():
            res = extract_document(r["html"])
            self.oracle[r["url"]] = (res.extracted_text, res.parse_status)
        n_enc = sum(1 for _, st in self.oracle.values() if st == STATUS_ENCRYPTED)
        predicted = {(kind, _KIND_STATUS[kind]): self.kind_counts[kind] for kind in _KIND_STATUS}
        predicted[("pdf", STATUS_OK)] = self.kind_counts["pdf"] - n_enc
        predicted[("pdf", STATUS_ENCRYPTED)] = n_enc
        self.predicted = {k: v for k, v in predicted.items() if v}
        self.expected_failures = self.kind_counts["failed"] + n_enc

    def _truth_failures(self, table: pa.Table) -> list[str]:
        """Status counts against the prediction, every ok row's text
        against the golden text, and the sample's bytes against
        ``extract_document``."""
        bad = []
        counts = {k: n for k, (n, _) in extraction_digest(table).items()}
        if counts != self.predicted:
            bad.append(f"status counts {counts} != predicted {self.predicted}")
        ok = table.filter(pc.equal(table["parse_status"], STATUS_OK)).select(
            ["url", "extracted_text"]).to_pylist()
        off = sorted(r["url"] for r in ok if r["extracted_text"] != self.golden.get(r["url"]))
        if off:
            bad.append(f"{len(off)} of {len(ok)} ok docs differ from the golden text: {off[:3]}")
        rows = table.filter(pc.is_in(table["url"], pa.array(list(self.oracle)))).select(
            ["url", "extracted_text", "parse_status"]).to_pylist()
        seen = {r["url"]: (r["extracted_text"] or "", r["parse_status"]) for r in rows}
        diff = [u for u, v in self.oracle.items() if seen.get(u) != v]
        if len(rows) != len(self.oracle) or diff:
            bad.append(f"{len(diff)} of {len(self.oracle)} sample docs differ from extract_document")
        return bad

    def _stats_failures(self, stats) -> list[str]:
        bad = []
        if stats.docs_processed != self.n_docs:
            bad.append(f"docs_processed {stats.docs_processed} != {self.n_docs}")
        if stats.parse_failures != self.expected_failures:
            bad.append(f"parse_failures {stats.parse_failures} != {self.expected_failures}")
        return bad

    def prepare(self) -> None:
        self.reset(self.out, self.ctl)

    def call(self):
        return run_extraction(self.spark, self.pages, self.out, self.ctl)

    def check(self, stats) -> list[str]:
        bad = self._stats_failures(stats)
        if extraction_digest(read_table(self.out)) != self.ref:
            bad.append("output digest differs from the reference")
        return bad

    def kernel_docs(self) -> list:
        t = read_table(self.pages_path, ["url", "html"])
        return list(zip(t.column("url").to_pylist(), t.column("html").to_pylist()))

    def layer_probes(self) -> dict:
        scan = self.pages.select("url", "html")
        noop(scan)
        layer = {
            "pipeline.scan.noop_s": sorted(noop(scan) for _ in range(3))[1],
            "pipeline.scan.input_mb": columns_mb(self.pages_path, ("url", "html")),
        }
        layer.update(self.resume_probe())
        return layer

    def resume_probe(self) -> dict:
        """Resume over the full table with 56 of 64 buckets committed: the
        whole table is scanned and anti-joined, 1/8 of it extracted. The
        tail count must be exact, all 64 buckets committed, and the
        output must digest to the full extraction's reference."""
        out, ctl = self.path("resume_out"), self.path("resume_control")
        head = sorted(set(range(DEFAULT_N_BUCKETS)) - set(TAIL_BUCKETS))
        run_extraction(self.spark, self.buckets(head), out, ctl)
        tail_docs = self.buckets(TAIL_BUCKETS).count()
        with self.spans.span("resume_probe"):
            t0 = time.perf_counter()
            stats = run_extraction(self.spark, self.pages, out, ctl)
            wall = time.perf_counter() - t0
        committed = control.committed_partitions(self.spark, ctl, DEFAULT_N_BUCKETS).count()
        if stats.docs_processed != tail_docs:
            self.failures.append(f"resumed {stats.docs_processed} docs, tail holds {tail_docs}")
        if committed != DEFAULT_N_BUCKETS:
            self.failures.append(f"resume committed {committed} of {DEFAULT_N_BUCKETS} buckets")
        if extraction_digest(read_table(out)) != self.ref:
            self.failures.append("resumed output digest differs from the full extraction's")
        return {
            "pipeline.resume.wall_s": wall,
            "pipeline.resume.useful_ratio": stats.docs_processed / self.n_docs,
        }


class CorpusRecrawl(Workload):
    """Corpus build that drops near-dup recrawls against a prior
    snapshot's MinHash band table."""

    name = "corpus_recrawl"
    default_docs = 120
    layers = ("pipeline.scan.input_mb", "pipeline.shuffle.write_mb", "pipeline.write.*",
              "pipeline.output.*", "pipeline.driver_s", "enrich.*", "dedup.*", "corpus.*",
              "setup.*", "trace.*")
    # set-up already ran the corpus builder twice (prior state, reference)
    warm_reps = 0

    def setup(self) -> None:
        self.synth()
        self.state = self.path("dedup_state")
        self.corpus = self.path("corpus")

        def prior():
            run_extraction(self.spark, self.pages, self.out, self.ctl)
            # the prior snapshot saw half of the same buckets
            prior_out = self.path("prior_out")
            for pid in PRIOR_BUCKETS:
                src = os.path.join(self.out, f"partition_id={pid}")
                if os.path.isdir(src):
                    shutil.copytree(src, os.path.join(prior_out, f"partition_id={pid}"))
            build_training_corpus(self.spark, prior_out, self.path("prior_corpus"),
                                  dedup_state_out=self.state)

        self._timed("prior_state_s", prior)
        rows = read_table(self.out, ["url"]).num_rows
        if rows != self.n_docs:
            self.failures.append(f"extraction output holds {rows} of {self.n_docs} docs")
        self.prepare()
        self.ref_stats = self._timed("warm_s", self.call)
        self.ref = table_digest(read_table(self.corpus))
        s = self.ref_stats
        if s.docs_in != self.n_docs or s.docs_corpus != self.ref[0]:
            self.failures.append(f"reference stats {s} disagree with the tables")
        if not (0 < s.recrawl_dups_dropped < s.docs_quality):
            self.failures.append(f"reference stats {s} drop no recrawls or all docs")
        if self.perturb_digest:
            self.ref = (self.ref[0], self.ref[1] + 1)

    def prepare(self) -> None:
        self.reset(self.corpus)

    def call(self):
        return build_training_corpus(self.spark, self.out, self.corpus, dedup_state_in=self.state)

    def check(self, stats) -> list[str]:
        bad = []
        if stats != self.ref_stats:
            bad.append(f"corpus stats {stats} != reference {self.ref_stats}")
        if table_digest(read_table(self.corpus)) != self.ref:
            bad.append("corpus digest differs from the reference")
        return bad

    def output_dir(self) -> str:
        return self.corpus

    def layer_probes(self) -> dict:
        extracted = self.spark.read.parquet(self.out)
        enriched = enrich.enrich_extracted(extracted)
        noop(enriched)
        layer = {
            "enrich.noop_s": noop(enriched),
            "pipeline.scan.input_mb": columns_mb(self.out, None) + columns_mb(self.state, ("band", "band_key")),
        }
        # the band table's input in the recrawl path: the quality-filtered,
        # exact-deduplicated corpus, i.e. a build without the state probe
        base = self.path("base_corpus")
        build_training_corpus(self.spark, self.out, base)
        bands = dedup.minhash_band_table(
            self.spark.read.parquet(base), id_col="url", text_col="extracted_text"
        )
        layer["dedup.band_table.noop_s"] = noop(bands)
        bands_path = self.path("base_bands")
        bands.write.mode("overwrite").parquet(bands_path)
        new = self.spark.read.parquet(bands_path).select("band", "band_key")
        old = self.spark.read.parquet(self.state).select("band", "band_key")
        layer["dedup.band_table.rows"] = new.count()
        layer["dedup.band_join.pairs"] = new.join(old, ["band", "band_key"]).count()
        sizes = (
            new.groupBy("band", "band_key").agg(F.count(F.lit(1)).alias("a"))
            .join(old.groupBy("band", "band_key").agg(F.count(F.lit(1)).alias("b")),
                  ["band", "band_key"])
            .agg(F.max(F.col("a") + F.col("b")).alias("m"))
            .first()
        )
        layer["dedup.band_join.max_key_group"] = int(sizes["m"] or 0)
        s = self.ref_stats
        layer.update({
            "corpus.docs_in": s.docs_in,
            "corpus.docs_quality": s.docs_quality,
            "corpus.recrawl_dropped": s.recrawl_dups_dropped,
            "corpus.docs_out": s.docs_corpus,
        })
        return layer


def _perturbed(digest: dict) -> dict:
    """A reference digest with one hash bit flipped (smoke test only)."""
    key = min(digest)
    n, h = digest[key]
    return {**digest, key: (n, h ^ 1)}


WORKLOADS = {w.name: w for w in (ExtractMix, CorpusRecrawl)}
