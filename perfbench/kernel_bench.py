"""In-process timing of the extraction kernel's public functions.

Runs on the driver, single-threaded, while Spark is idle, over the very
documents a workload's kernel stage processes. Gives µs/doc per payload
kind and per PDF sub-phase; the Spark kernel stage's task time minus
these is the Arrow boundary plus waits (``kernel.boundary_s``).
"""

from __future__ import annotations

import time

import pandas as pd

from pdf_extractor_spark.kernel import pdf_crypt
from pdf_extractor_spark.kernel.extract import (
    STATUS_EMPTY,
    STATUS_ENCRYPTED,
    STATUS_FAILED,
    STATUS_OK,
    extract_document,
)
from pdf_extractor_spark.kernel.pdf_extract import (
    PDF_MAGIC,
    parse_glyph_runs,
    pdf_is_encrypted,
    reading_order_text,
)
from pdf_extractor_spark.kernel.spark_kernel import extract_batches

BATCH_ROWS = 256  # spark.sql.execution.arrow.maxRecordsPerBatch in session.py
WARMUP_DOCS = 64

_STATUS_KIND = {
    STATUS_ENCRYPTED: "pdf_encrypted",
    STATUS_FAILED: "failed",
    STATUS_EMPTY: "empty",
}


def doc_kind(raw: bytes | None, status: str) -> str:
    """html | pdf | pdf_encrypted | failed | empty, from the payload's
    magic and the kernel's parse_status."""
    if status == STATUS_OK:
        return "pdf" if raw is not None and raw.startswith(PDF_MAGIC) else "html"
    return _STATUS_KIND[status]


def _us(total_s: float, n: int) -> float:
    return total_s * 1e6 / n if n else 0.0


def kernel_microbench(docs: list[tuple[str, bytes | None]]) -> dict:
    """Per-kind and per-phase µs/doc plus exact doc counts over ``docs``
    ((url, payload) pairs). ``degenerate`` is every doc that yields no
    text: failed, empty and encrypted."""
    for _, raw in docs[:WARMUP_DOCS]:
        extract_document(raw)

    t_kind = {"html": 0.0, "pdf": 0.0, "degenerate": 0.0}
    n_kind = {"html": 0, "pdf": 0, "degenerate": 0}
    counts = {"html": 0, "pdf": 0, "pdf_encrypted": 0, "failed": 0, "empty": 0}
    ok_pdfs, encrypted_pdfs = [], []
    doc_total = 0.0
    for _, raw in docs:
        t0 = time.perf_counter()
        res = extract_document(raw)
        dt = time.perf_counter() - t0
        doc_total += dt
        kind = doc_kind(raw, res.parse_status)
        counts[kind] += 1
        group = kind if kind in ("html", "pdf") else "degenerate"
        t_kind[group] += dt
        n_kind[group] += 1
        if raw is not None and raw.startswith(PDF_MAGIC) and pdf_is_encrypted(raw):
            encrypted_pdfs.append(raw)
        if kind == "pdf":
            ok_pdfs.append(raw)

    t_open = 0.0
    for raw in encrypted_pdfs:
        t0 = time.perf_counter()
        pdf_crypt.try_open(raw)
        t_open += time.perf_counter() - t0

    t_runs = t_order = 0.0
    for raw in ok_pdfs:
        crypt = pdf_crypt.try_open(raw) if pdf_is_encrypted(raw) else None
        t0 = time.perf_counter()
        runs = parse_glyph_runs(raw, crypt)
        t1 = time.perf_counter()
        reading_order_text(runs)
        t_order += time.perf_counter() - t1
        t_runs += t1 - t0

    frame = pd.DataFrame({"url": [u for u, _ in docs], "html": [r for _, r in docs]})
    batches = [frame.iloc[i : i + BATCH_ROWS] for i in range(0, len(frame), BATCH_ROWS)]
    t0 = time.perf_counter()
    for out in extract_batches(iter(batches)):
        len(out)
    t_batches = time.perf_counter() - t0

    layer = {
        "kernel.html.us_per_doc": _us(t_kind["html"], n_kind["html"]),
        "kernel.pdf.us_per_doc": _us(t_kind["pdf"], n_kind["pdf"]),
        "kernel.pdf.glyph_runs.us_per_doc": _us(t_runs, len(ok_pdfs)),
        "kernel.pdf.reading_order.us_per_doc": _us(t_order, len(ok_pdfs)),
        "kernel.pdf.crypt_open.us_per_doc": _us(t_open, len(encrypted_pdfs)),
        "kernel.degenerate.us_per_doc": _us(t_kind["degenerate"], n_kind["degenerate"]),
        "kernel.batch_wrap.us_per_doc": _us(t_batches - doc_total, len(docs)),
    }
    layer.update({f"kernel.docs.{k}": v for k, v in counts.items()})
    return layer


def modelled_kernel_s(layer: dict) -> float:
    """Σ docs × µs/doc by kind, in seconds: the Python body's share of the
    kernel stage's task time."""
    n_deg = sum(layer[f"kernel.docs.{k}"] for k in ("pdf_encrypted", "failed", "empty"))
    return (
        layer["kernel.docs.html"] * layer["kernel.html.us_per_doc"]
        + layer["kernel.docs.pdf"] * layer["kernel.pdf.us_per_doc"]
        + n_deg * layer["kernel.degenerate.us_per_doc"]
    ) / 1e6
