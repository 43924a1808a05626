"""Benchmark entry point: one workload, one process, one JSON result line.

    python3 perfbench/run.py --workload batch-suite --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` records spans around every layer call, writes them to
``.perfbench_out/trace-<workload>-<seed>.json`` and prints the per-layer
metrics.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import procs  # noqa: E402
from spans import Tracer  # noqa: E402

class Run:
    """State shared by a workload and the harness around it."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool) -> None:
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.tracer = Tracer(trace)
        self.cpus = len(os.sched_getaffinity(0))
        self.work = os.path.join(ROOT, ".perfbench_work", f"{workload}-{seed}-{os.getpid()}")
        self.cache = os.path.join(ROOT, ".perfbench_cache")
        self.out = os.path.join(ROOT, ".perfbench_out")
        self.spark = None
        self.setup_s = 0.0
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.metrics: dict[str, float] = {}
        self.layer: dict[str, float] = {}

    def fail(self, what: str) -> None:
        self.failed += 1
        self.problems.append(what)
        print(f"# FAIL {what}", file=sys.stderr)

    def start_session(self, warm) -> None:
        """Session start plus worker warm-up, both counted in ``setup_s``.
        Scratch, shuffle and temp files stay inside the checkout."""
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        os.environ["TMPDIR"] = tmp
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            f"--driver-java-options -Djava.io.tmpdir={tmp} "
            f"--conf spark.sql.warehouse.dir={os.path.join(self.work, 'warehouse')} "
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"
        )
        from query_skyline_qos_flink_spark.session import get_spark

        t0 = time.perf_counter()
        with self.tracer.span("session:start"):
            self.spark = get_spark(app_name=f"perfbench-{self.workload}", cpus=self.cpus)
        t1 = time.perf_counter()
        self.tracer.attach(self.spark)
        with self.tracer.span("session:warmup"):
            self.spark.range(64, numPartitions=self.cpus).mapInPandas(
                lambda it: (pdf for pdf in it), schema="id long").count()
            warm()
        t2 = time.perf_counter()
        self.layer["session.start_s"] = t1 - t0
        self.layer["session.warmup_s"] = t2 - t1
        self.setup_s += t2 - t0

    def stop_session(self) -> None:
        """Resolve traced job counts, then stop the session, its JVM and
        every process they started."""
        if self.spark is None:
            return
        if self.tracer.enabled:
            self.tracer.resolve_jobs()
        sc = self.spark.sparkContext
        gateway = sc._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        try:
            gateway.shutdown()
        except Exception as exc:  # noqa: BLE001 - best effort; the reaper below kills leftovers
            print(f"# gateway shutdown: {exc}", file=sys.stderr)
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=30)
            except Exception as exc:  # noqa: BLE001
                print(f"# JVM wait: {exc}", file=sys.stderr)
        self.spark = None
        procs.reap_descendants()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    os.makedirs(run.work, exist_ok=True)
    try:
        with procs.TreeMonitor() as mon:
            workloads.WORKLOADS[args.workload](run, mon)
            run.metrics["cpu_s"] = mon.cpu_s
            run.layer["mem.peak_pss_mb"] = mon.peak_pss / 2**20
        run.metrics["setup_s"] = run.setup_s
    finally:
        run.stop_session()
        run.tracer.close()
        shutil.rmtree(run.work, ignore_errors=True)
        with contextlib.suppress(OSError):  # the parent, once no run uses it
            os.rmdir(os.path.dirname(run.work))

    summary = {
        "workload": args.workload, "seed": args.seed,
        "end_to_end": run.metrics, "attempted": run.attempted, "failed": run.failed,
        "problems": run.problems[:20],
    }
    print("# summary " + json.dumps(summary), file=sys.stderr)
    if run.tracer.enabled:
        from spans import layer_table

        os.makedirs(run.out, exist_ok=True)
        path = os.path.join(run.out, f"trace-{args.workload}-{args.seed}.json")
        # the traced run's own end-to-end numbers give the tracing overhead
        run.layer.update({f"trace.{k}": v for k, v in run.metrics.items()})
        # every traced run prints every per-layer metric; a layer the
        # workload does not exercise reads 0 there
        per_layer = {k: {"value": run.layer.get(k, 0), "unit": u}
                     for k, u in workloads.per_layer_units().items()}
        run.tracer.write(path, {"per_layer": per_layer, "summary": summary,
                                "layers": layer_table(run.tracer.spans)})
        print(f"# trace written to {os.path.relpath(path, ROOT)}", file=sys.stderr)
        metrics = per_layer
    else:
        metrics = {k: {"value": run.metrics[k], "unit": u}
                   for k, u in workloads.END_TO_END.items()}
    print(json.dumps({
        "correct": run.failed == 0, "attempted": run.attempted, "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
