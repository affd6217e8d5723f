"""Benchmark entry point.

    python3 perfbench/run.py --workload stream --seed 1 --seconds 10 --trace 0

Runs one workload against the engine in this checkout and prints, as
the last line of stdout, one JSON object with `correct`, `attempted`,
`failed` and `metrics`.  `--trace 0` reports the end-to-end metrics;
`--trace 1` is a separate run that reports the per-layer metrics and
writes its spans to `.perfbench_work/traces/`.  Workloads, metrics and
the layer-to-metric predictions are described in perfbench/PREDICTIONS.md.

All scratch files (inputs, checkpoints, Spark local dirs, temp files)
live under `.perfbench_work/` in the checkout and are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
SETUP_REPS = 3


def _pin_environment(work: str) -> None:
    """Keep every file the run writes inside the checkout and size the
    engine to this machine: local[nproc], not the package default 32."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")


class Run:
    """One benchmark run: arguments, scratch dir, tracer, Spark session
    and its progress listener."""

    def __init__(self, args, work: str):
        from spans import ProgressLog, Tracer

        self.seed = args.seed
        self.seconds = args.seconds
        self.traced = bool(args.trace)
        self.work = work
        self.tracer = Tracer(self.traced, f"{args.workload}-{args.seed}")
        self.progress = ProgressLog()
        self.spark = None
        self.setup_times: list[float] = []

    def start_session(self):
        from spark_nifi_kafka_connected_device_stream_spark import session

        get_session = self.tracer.wrap("session.get_session", session.get_session)
        self.spark = get_session(app_name="perfbench", extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
        })
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.range(1000).count()  # JVM and codegen warm-up
        self.spark.streams.addListener(self.progress)
        return self.spark

    def set_up(self, stage):
        """Set up SETUP_REPS times (session start, warm-up, input
        staging) and keep the last; setup_s is the median."""
        state = None
        for rep in range(SETUP_REPS):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            with self.tracer.span("setup", rep=rep):
                spark = self.start_session()
                state = stage(spark, os.path.join(self.work, f"setup{rep}"))
            self.setup_times.append(time.perf_counter() - t0)
        return state

    def shutdown(self) -> None:
        """Stop Spark, then the JVM and every process under it."""
        from pyspark import SparkContext

        from spans import descendants

        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        pids = descendants(os.getpid())
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait()
        deadline = time.monotonic() + 20
        for pid in pids:
            while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
                time.sleep(0.05)
            if os.path.exists(f"/proc/{pid}"):
                try:
                    os.kill(pid, 9)
                except OSError:
                    pass


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    work = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
    _pin_environment(work)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    run = None
    try:
        # imported after the environment is pinned: they import the engine
        import batch  # noqa: PLC0415
        import stream  # noqa: PLC0415
        from spans import median, peak_rss_mb  # noqa: PLC0415

        workloads = {**stream.WORKLOADS, **batch.WORKLOADS}
        if args.workload not in workloads:
            ap.error(f"unknown workload {args.workload!r}; one of {sorted(workloads)}")
        run = Run(args, work)
        outcome = workloads[args.workload](run)
        outcome["e2e"]["setup_s"] = median(run.setup_times)
        outcome["layers"].update({
            "mem.peak_rss_mb": peak_rss_mb(),
            "session.start_s": median(run.tracer.durations("session.get_session")),
            "catalog.load_s": sum(run.tracer.durations("catalog.load_table")),
            "catalog.load_calls": len(run.tracer.durations("catalog.load_table")),
        })
        if run.traced:
            run.tracer.dump(os.path.join(WORK_ROOT, "traces", f"{run.tracer.run_id}.json"))
    finally:
        if run is not None:
            run.shutdown()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(report(outcome, run.traced)))
    return 0


def report(outcome: dict, traced: bool) -> dict:
    """The result line: end-to-end metrics untraced, per-layer metrics
    (plus the traced run's own end-to-end numbers, whose difference from
    an untraced run is the tracing overhead) traced.  Names and units
    come from BENCHMARK.json, and every declared metric must be there."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if traced:
        # a layer the workload does not exercise reads 0
        values = {m["name"]: 0.0 for m in spec["per_layer"]}
        values.update(outcome["layers"], **{f"traced.{k}": v for k, v in outcome["e2e"].items()})
        declared = spec["per_layer"]
        undeclared = set(values) - {m["name"] for m in declared}
        if undeclared:
            raise KeyError(f"metrics missing from BENCHMARK.json: {sorted(undeclared)}")
    else:
        values, declared = outcome["e2e"], spec["end_to_end"]
    metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in declared}
    attempted, failed = outcome["attempted"], outcome["failed"]
    print(f"[perfbench] failed_frac={failed / attempted:.4f}", file=sys.stderr)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}


if __name__ == "__main__":
    sys.exit(main())
