"""Same-day confirmatory remeasure for bench-drift adjudication.

When `tools/bench_diff.py` flags DRIFT-SLOWER rows, the confirmatory step
is a SAME-DAY two-commit rerun — time the flagged queries on the old
round-end commit AND on current code, on the same box state, min-of-N.
If the two commits are time-indistinguishable, the cross-round
movement was box state (NOISE); if current code is reproducibly
slower, it is real DRIFT and owes a plan audit.

Usage (run once per commit under test; point --repo at a worktree of
the old commit for the old side):

    python tools/remeasure.py --repo /root/repo \
        --out artifacts/drift_remeasure_r14_current.json \
        --runs 4 -- text_bigram_logprob source_ngram_overlap ...

Writes {query: [run_seconds, ...]} (all runs, unaggregated — the
reader takes min/median as needed).
"""
from __future__ import annotations

import argparse
import json
import os
import sys
import time


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--repo", default=os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--runs", type=int, default=4)
    ap.add_argument("--out", required=True)
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    repo = os.path.abspath(args.repo)
    sys.path.insert(0, repo)
    from spark_nifi_kafka_connected_device_stream_spark.registry import all_specs
    from spark_nifi_kafka_connected_device_stream_spark.session import get_session
    from spark_nifi_kafka_connected_device_stream_spark.sources.catalog import TABLES, load_table

    spark = get_session(app_name="remeasure")
    # warmup: JVM + one scan per table, same as bench.py, so timings
    # measure the operators rather than first-touch IO
    spark.range(1000).count()
    for t in TABLES:
        load_table(spark, args.sf, t).count()

    specs = all_specs()
    out: dict[str, list[float]] = {}
    for name in args.queries:
        fn = specs[name].fn
        samples: list[float] = []
        for _ in range(args.runs):
            t0 = time.perf_counter()
            fn(spark, args.sf).write.format("noop").mode("overwrite").save()
            samples.append(round(time.perf_counter() - t0, 3))
        out[name] = samples
        print(f"  {name}: min {min(samples):.3f}s  runs {samples}", file=sys.stderr)

    with open(args.out, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(json.dumps({"out": args.out, "n": len(out)}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
