"""Per-layer metrics of a traced run, assembled from the Spark event log,
the benchmark's spans, the in-process kernel timings and the layer probes.

Every per-layer name in BENCHMARK.json is reported on every workload. Each
workload declares the names its run must produce (``Workload.layers``);
a missing one raises, and only a layer the workload does not run reports 0.
"""

from __future__ import annotations

import fnmatch
import statistics

from kernel_bench import modelled_kernel_s
from tracing import clip, union_s


def _stage(stages, scope: str, last: bool = False):
    hits = [s for s in stages if scope in s.scopes]
    if not hits:
        return None
    return hits[-1] if last else max(hits, key=lambda s: sum(t["run_ms"] for t in s.tasks))


def _rep_layers(rep, log, spans, slots: int) -> dict:
    span = rep["span"]
    lo, hi, wall = span["start"], span["end"], span["end"] - span["start"]
    stages = log.stages_in(lo, hi)
    out: dict = {}
    kernel = _stage(stages, "MapInPandas")
    if kernel is not None:
        out.update({f"kernel.stage.{k}": v for k, v in kernel.metrics(slots).items()
                    if k != "shuffle_write_mb"})
    write = _stage(stages, "WriteFiles", last=True)
    if write is not None:
        m = write.metrics(slots)
        out["pipeline.write.stage_wall_s"] = m["wall_s"]
        out["pipeline.write.task_skew"] = m["task_skew"]
    out["pipeline.shuffle.write_mb"] = sum(s.metrics(slots)["shuffle_write_mb"] for s in stages)
    stage_ivs = log.stage_intervals(lo, hi)
    out["pipeline.driver_s"] = wall - union_s(stage_ivs)
    children = [s for s in spans.items if s["run"] == rep["run"] and s["id"] != span["id"]]
    for name, key in (
        ("control.committed_partitions", "control.committed_partitions_s"),
        ("control.append_commits", "control.append_commits_s"),
    ):
        durs = [s["end"] - s["start"] for s in children if s["name"] == name]
        if durs:
            out[key] = sum(durs)
    span_ivs = clip([(s["start"], s["end"]) for s in children], lo, hi)
    out["trace.coverage"] = union_s(stage_ivs + span_ivs) / wall
    return out


def assemble(log, spans, traced, setup, e2e, kernel, probes, files, mb, slots, names,
             required) -> dict:
    """Per-layer metrics over ``names``; every name matching a pattern in
    ``required`` must have been measured."""
    per_rep = [_rep_layers(r, log, spans, slots) for r in traced]
    keys = sorted({k for d in per_rep for k in d})
    layer = {k: statistics.median(d.get(k, 0.0) for d in per_rep) for k in keys}
    layer.update(kernel)
    layer.update(probes)
    if kernel and "kernel.stage.task_s" in layer:
        layer["kernel.boundary_s"] = layer["kernel.stage.task_s"] - modelled_kernel_s(kernel)
    layer["pipeline.output.files"] = files
    layer["pipeline.output.mb"] = mb
    layer.update(setup)
    layer["trace.overhead_frac"] = (
        statistics.median(r["wall_s"] for r in traced) / e2e["wall_s"] - 1.0
    )
    unknown = sorted(set(layer) - set(names))
    if unknown:
        raise KeyError(f"per-layer metrics missing from BENCHMARK.json: {unknown}")
    missing = [n for n in names if n not in layer
               and any(fnmatch.fnmatchcase(n, pat) for pat in required)]
    if missing:
        raise KeyError(f"per-layer metrics the workload must produce are missing: {missing}")
    return {n: float(layer.get(n, 0.0)) for n in names}
