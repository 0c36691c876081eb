"""Layered benchmark of the extraction job on one machine.

    python3 perfbench/run.py --workload extract_mix --seed 42 --seconds 10 --trace 0

Runs one workload (see ``workloads.py``) in one Spark session at
``local[nproc]``, driven through the public entry points
``pipeline.run_extraction`` and ``pipeline.build_training_corpus``. Every
timed repetition is checked; one that fails a check counts as failed.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones; with ``--trace 1`` the per-layer ones, from a second,
traced session (Spark event log on, spans around the program's public
calls). A sidecar JSON under ``.perfbench/results/`` keeps the per-layer
metrics, every repetition's wall in run order, the spans and the machine
facts.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import time

import tracing

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".perfbench")
WORK = os.path.join(STATE, "work")
RESULTS = os.path.join(STATE, "results")

DRIVER_MEMORY = "2g"  # session.py's default (16g) does not fit a 15 GB machine
MIN_REPS = 2  # timed repetitions per run, whatever --seconds says
TRACED_REPS = 2


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_environment() -> None:
    """Keep every file inside the checkout and let Spark's Python workers
    import the package (they do not inherit this process's sys.path)."""
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    os.makedirs(RESULTS, exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    sys.path.insert(0, ROOT)


def start_session(app: str, event_log_dir: str | None = None):
    from pdf_extractor_spark.session import get_spark

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(WORK, "spark_local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        # a fixed heap keeps peak RSS from tracking the heap's growth policy
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir=" + os.path.join(WORK, "tmp"),
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + event_log_dir,
        })
    return get_spark(app_name=app, master=f"local[{nproc()}]", extra_conf=conf)


def stop_jvm() -> None:
    """End the JVM PySpark launched and wait for it: it exits once its
    stdin closes, taking the Python worker daemon with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = None


class Runner:
    def __init__(self, args):
        from workloads import WORKLOADS

        self.args = args
        self.cls = WORKLOADS[args.workload]
        self.spans = tracing.Spans()
        self.reps: list[dict] = []  # every repetition, warm-up and traced too, in run order

    def log(self, msg: str) -> None:
        print(f"[perfbench {self.args.workload}] {msg}", file=sys.stderr, flush=True)

    def repetition(self, wl, phase: str) -> dict:
        """One untimed reset, one timed call, then its checks."""
        wl.prepare()
        run_id = f"{phase}{len(self.reps)}"
        self.spans.run = run_id
        cpu0 = tracing.tree_cpu_s()
        with tracing.PeakRss() as rss, self.spans.span("rep") as span:
            t0 = time.perf_counter()
            try:
                result, raised = wl.call(), None
            except Exception as e:  # a call that raises is a failed repetition
                result, raised = None, f"{type(e).__name__}: {e}"
            wall = time.perf_counter() - t0
        cpu1 = tracing.tree_cpu_s()
        self.spans.run = None
        bad = [raised] if raised else wl.check(result)
        rep = {
            "phase": phase,
            "run": run_id,
            "wall_s": wall,
            "cpu_s": cpu1 - cpu0,
            "peak_rss_mb": rss.peak_mb,
            "failures": bad,
            "span": span,
            "result": result,
        }
        self.reps.append(rep)
        self.log(f"{run_id}: {wall:.3f}s{' FAILED ' + '; '.join(bad) if bad else ''}")
        return rep

    def timed(self, wl, phase: str, seconds: float, min_reps: int) -> list[dict]:
        """Repetitions for ``seconds``, at least ``min_reps`` of them."""
        out, t0 = [], time.perf_counter()
        while len(out) < min_reps or time.perf_counter() - t0 < seconds:
            out.append(self.repetition(wl, phase))
        return out

    def warm(self, wl) -> None:
        """The workload's warm-up repetitions after set-up's reference
        call, counted as set-up: the first calls after a cold start run
        slower while the JVM compiles."""
        for _ in range(wl.warm_reps):
            t0 = time.perf_counter()
            wl.failures += self.repetition(wl, "warm")["failures"]
            wl.timings["warm_s"] += time.perf_counter() - t0

    def end_to_end(self, wl, reps, setup_s) -> dict:
        kdocs = wl.n_docs / 1000.0
        med = statistics.median
        return {
            "docs_per_s": med([wl.n_docs / r["wall_s"] for r in reps]),
            "wall_s": med([r["wall_s"] for r in reps]),
            "cpu_s_per_kdoc": med([r["cpu_s"] / kdocs for r in reps]),
            "peak_rss_mb": med([r["peak_rss_mb"] for r in reps]),
            "setup_s": setup_s,
        }

    def run(self) -> dict:
        a = self.args
        t0 = time.perf_counter()
        with self.spans.span("session"):
            spark = start_session(f"perfbench_{a.workload}")
        session_s = time.perf_counter() - t0
        n_docs = a.docs or self.cls.default_docs
        wl = self.cls(spark, WORK, a.seed, n_docs, self.spans, perturb_digest=a.perturb_digest)
        try:
            with self.spans.span("setup"):
                wl.setup()
                self.warm(wl)
            timed = self.timed(wl, "timed", a.seconds, MIN_REPS)
            setup = {"setup.session_s": session_s}
            setup.update({f"setup.{k}": v for k, v in wl.timings.items()})
            self.log("setup " + json.dumps({k: round(v, 3) for k, v in setup.items()}))
            e2e = self.end_to_end(wl, timed, sum(setup.values()))
            layer = None
            if a.trace:
                kernel = {}
                docs = wl.kernel_docs()
                if docs:
                    from kernel_bench import kernel_microbench

                    with self.spans.span("kernel_microbench"):
                        kernel = kernel_microbench(docs)
                spark.stop()
                spark = None
                layer = self.traced(wl, setup, e2e, kernel)
        finally:
            if spark is not None:
                spark.stop()
        checked = [r for r in self.reps if r["phase"] in ("timed", "traced")]
        failed = sum(bool(r["failures"] or wl.failures) for r in checked)
        return self.report(wl, e2e, layer, failed, len(checked), setup)

    def traced(self, wl, setup, e2e, kernel) -> dict:
        """Second session with the event log on: one warm repetition, then
        TRACED_REPS traced ones with the program's control entry points
        wrapped in spans, then the layer probes."""
        from pdf_extractor_spark import control
        from workloads import dir_files

        log_dir = os.path.join(WORK, "eventlog")
        spark = start_session(f"perfbench_{self.args.workload}_traced", log_dir)
        try:
            wl.spark = spark
            wl.pages = spark.read.parquet(wl.pages_path)
            self.repetition(wl, "tracewarm")
            targets = [
                (control, "committed_partitions", "control.committed_partitions"),
                (control, "append_commits_rows", "control.append_commits"),
            ]
            with tracing.wrapped(self.spans, targets):
                traced = self.timed(wl, "traced", 0, TRACED_REPS)
            with self.spans.span("layer_probes"):
                probes = wl.layer_probes()
            files, mb = dir_files(wl.output_dir())
        finally:
            spark.stop()
        from layers import assemble

        names = [m["name"] for m in load_spec()["per_layer"]]
        return assemble(
            tracing.EventLog(log_dir), self.spans, traced, setup, e2e, kernel,
            probes, files, mb, nproc(), names, wl.layers,
        )

    def report(self, wl, e2e, layer, failed, attempted, setup) -> dict:
        import pandas
        import pyarrow
        import pyspark

        a = self.args
        sidecar = {
            "workload": a.workload,
            "seed": a.seed,
            "seconds": a.seconds,
            "trace": a.trace,
            "docs": wl.n_docs,
            "end_to_end": e2e,
            "per_layer": layer,
            "setup": setup,
            "failures": wl.failures,
            "reps": [
                {k: v for k, v in r.items() if k not in ("span", "result")} for r in self.reps
            ],
            "spans": self.spans.items,
            "machine": {
                "nproc": nproc(),
                "master": f"local[{nproc()}]",
                "spark": pyspark.__version__,
                "pyarrow": pyarrow.__version__,
                "pandas": pandas.__version__,
                "python": platform.python_version(),
                "driver_memory": DRIVER_MEMORY,
            },
        }
        path = os.path.join(RESULTS, f"{a.workload}_seed{a.seed}_trace{a.trace}_{int(time.time())}.json")
        with open(path, "w") as f:
            json.dump(sidecar, f, indent=1, default=str)
        self.log(f"sidecar {os.path.relpath(path, ROOT)}")
        spec = load_spec()
        metrics = layer if a.trace else {m["name"]: e2e[m["name"]] for m in spec["end_to_end"]}
        units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
        return {
            "correct": failed == 0 and not wl.failures,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)



def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=[w["name"] for w in load_spec()["workloads"]])
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--docs", type=int, default=0, help="pages to synthesize (default: per workload)")
    p.add_argument("--perturb-digest", action="store_true",
                   help="flip one bit of the reference digest, so every repetition must fail")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "pdf_extractor_spark")):
        print(f"perfbench: no pdf_extractor_spark package under {ROOT}", file=sys.stderr)
        return 2
    prepare_environment()
    try:
        result = Runner(args).run()
    finally:
        stop_jvm()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
