"""Smoke test of the benchmark: every workload once at tiny size.

    python3 perfbench/smoke.py

For each workload it makes two runs of ``run.py``:

- ``--trace 1``: must pass its gate, measure every per-layer metric the
  workload declares (``run.py`` exits non-zero when one is missing), print
  every per-layer name in BENCHMARK.json, reach ``trace.coverage`` of at
  least MIN_COVERAGE (a run whose event log yields no stages covers only
  its spans, well under it), and leave a sidecar holding every end-to-end
  metric;
- ``--trace 0 --perturb-digest``: the reference digest has one bit
  flipped, so every repetition must count as failed, while every
  end-to-end metric is still printed.

Exits 0 when all checks hold, 1 otherwise.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TINY_DOCS = {"extract_mix": 200, "corpus_recrawl": 60}
# Tiny calls are mostly fixed driver-side planning, so their coverage sits
# below the full-size runs' (README, "Measured"); this floor catches a
# trace that lost its stages, not a slow driver.
MIN_COVERAGE = 0.5


def run(workload: str, *extra: str) -> tuple[dict, str]:
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "0", "--docs", str(TINY_DOCS[workload]), *extra]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        raise RuntimeError(f"{' '.join(cmd)} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    sidecar = re.findall(r"\] sidecar (\S+)", proc.stderr)[-1]
    return json.loads(proc.stdout.strip().splitlines()[-1]), os.path.join(ROOT, sidecar)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"] for m in spec["end_to_end"]}
    layer = {m["name"] for m in spec["per_layer"]}
    problems = []
    for w in (w["name"] for w in spec["workloads"]):
        try:
            out, sidecar = run(w, "--trace", "1")
        except RuntimeError as e:
            problems.append(f"{w}: traced run failed: {e}")
            continue
        with open(sidecar) as f:
            side = json.load(f)
        if not out["correct"] or out["failed"] or out["attempted"] < 1:
            problems.append(f"{w}: traced run failed its gate: {side['failures']}")
        if set(out["metrics"]) != layer:
            problems.append(f"{w}: per-layer names differ: {sorted(set(out['metrics']) ^ layer)}")
        coverage = out["metrics"].get("trace.coverage", {}).get("value", 0.0)
        if coverage < MIN_COVERAGE:
            problems.append(f"{w}: trace.coverage {coverage:.3f} < {MIN_COVERAGE}")
        if set(side["end_to_end"]) != e2e:
            problems.append(f"{w}: end-to-end names differ: {sorted(set(side['end_to_end']) ^ e2e)}")

        out, _ = run(w, "--trace", "0", "--perturb-digest")
        if out["correct"] or out["failed"] != out["attempted"]:
            problems.append(f"{w}: perturbed digest did not fail every repetition: {out}")
        if set(out["metrics"]) != e2e:
            problems.append(f"{w}: end-to-end names differ: {sorted(set(out['metrics']) ^ e2e)}")
        print(f"{w}: checked", file=sys.stderr)
    for p in problems:
        print("FAIL " + p, file=sys.stderr)
    print("smoke: " + ("FAIL" if problems else "ok"))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
