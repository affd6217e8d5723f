"""Noise-vs-drift adjudication between two rounds' driver benches.

Pins the rule the round-12 judge applied by hand (VERDICT r12 item 6)
so every future round's adjudication is ONE command:

    python tools/bench_diff.py r11 r12 [--threshold 1.25]

Inputs: `BENCH_r{A}.json` / `BENCH_r{B}.json` (the driver's per-round
records; `parsed.queries` holds per-query min-of-N seconds, truncated
to the slowest ~35) and `BENCH_FULL.json` (the full min + median maps
from the LATEST local bench run, runs_per_query >= 2).

The rule, per query present in both rounds:

- |log ratio| within the threshold band            -> STABLE
- moved, and the newer round's own min-to-median
  dispersion exceeds the cross-round movement      -> NOISE
  (the run-to-run spread on the same code/box is larger than the
  between-round delta, so the delta cannot be attributed to code)
- moved, dispersion tight, movement real           -> DRIFT-SLOWER /
  DRIFT-FASTER by direction (only DRIFT-SLOWER warrants a plan
  audit — a genuine speedup needs no .explain() pass)
- moved, no median available for the query         -> UNADJUDICATED
  (re-run bench.py with SPARK_GRAFT_BENCH_RUNS >= 2)
"""

from __future__ import annotations

import argparse
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_round(tag: str) -> dict[str, float]:
    path = os.path.join(REPO, f"BENCH_{tag}.json")
    with open(path) as fh:
        doc = json.load(fh)
    parsed = doc.get("parsed") or doc
    return {k: float(v) for k, v in parsed["queries"].items()}


def _load_full() -> tuple[dict[str, float], dict[str, float], int]:
    path = os.path.join(REPO, "BENCH_FULL.json")
    if not os.path.exists(path):
        return {}, {}, 0
    with open(path) as fh:
        doc = json.load(fh)
    return (
        {k: float(v) for k, v in doc.get("queries", {}).items()},
        {k: float(v) for k, v in doc.get("queries_median", {}).items()},
        int(doc.get("runs_per_query", 1)),
    )


def adjudicate(
    old: dict[str, float],
    new: dict[str, float],
    medians: dict[str, float],
    threshold: float,
) -> list[dict]:
    rows = []
    for q in sorted(set(old) & set(new)):
        mn_old, mn_new = old[q], new[q]
        if mn_old <= 0 or mn_new <= 0:
            continue
        ratio = mn_new / mn_old
        med = medians.get(q)
        if max(ratio, 1.0 / ratio) <= threshold:
            verdict = "stable"
            dispersion = med / mn_new if med else None
        elif med is None:
            verdict = "unadjudicated"
            dispersion = None
        else:
            dispersion = med / mn_new
            # the movement is attributable to code only if it exceeds
            # the same-code run-to-run spread (min vs median); direction
            # matters — only a SLOWER drift warrants a plan audit
            moved = max(ratio, 1.0 / ratio)
            if dispersion >= moved:
                verdict = "noise"
            else:
                verdict = "drift-slower" if ratio > 1 else "drift-faster"
        rows.append(
            {
                "query": q,
                "min_old": mn_old,
                "min_new": mn_new,
                "ratio": ratio,
                "median_new": med,
                "dispersion": dispersion,
                "verdict": verdict,
            }
        )
    rows.sort(key=lambda r: -max(r["ratio"], 1.0 / r["ratio"]))
    return rows


def render(rows: list[dict], a: str, b: str, threshold: float, runs: int) -> str:
    counts: dict[str, int] = {}
    for r in rows:
        counts[r["verdict"]] = counts.get(r["verdict"], 0) + 1
    lines = [
        f"## Bench adjudication {a} -> {b} (generated: `python tools/bench_diff.py {a} {b}`)",
        "",
        f"Rule: |movement| <= {threshold}x is STABLE; above it, a query is "
        "NOISE when its own min-to-median dispersion (same code, same box, "
        f"{runs} runs) exceeds the cross-round movement, DRIFT only when the "
        "movement is larger than the run-to-run spread — DRIFT-SLOWER is the "
        "only bucket that warrants a plan audit.",
        "",
        "Counts: "
        + ", ".join(f"{k} {v}" for k, v in sorted(counts.items()))
        + f" (of {len(rows)} queries present in both rounds' records).",
        "",
        "| query | min " + a + " (s) | min " + b + " (s) | ratio | median "
        + b + " (s) | dispersion | verdict |",
        "|---|---|---|---|---|---|---|",
    ]
    for r in rows:
        if r["verdict"] == "stable":
            continue  # the table lists only movers; stables are counted above
        med = f"{r['median_new']:.2f}" if r["median_new"] else "-"
        disp = f"{r['dispersion']:.2f}x" if r["dispersion"] else "-"
        lines.append(
            f"| {r['query']} | {r['min_old']:.2f} | {r['min_new']:.2f} "
            f"| {r['ratio']:.2f}x | {med} | {disp} | **{r['verdict'].upper()}** |"
        )
    if all(r["verdict"] == "stable" for r in rows):
        lines.append("| _none — every shared query is stable_ | | | | | | |")
    return "\n".join(lines)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("old", help="round tag, e.g. r11")
    ap.add_argument("new", help="round tag, e.g. r12")
    ap.add_argument("--threshold", type=float, default=1.25)
    args = ap.parse_args()

    old, new = _load_round(args.old), _load_round(args.new)
    _, medians, runs = _load_full()
    rows = adjudicate(old, new, medians, args.threshold)
    print(render(rows, args.old, args.new, args.threshold, runs))
    drift = [r for r in rows if r["verdict"] == "drift-slower"]
    # DRIFT-SLOWER is the bucket the doctrine says owes a plan audit —
    # exit nonzero so CI / the driver loop can gate on it (r13 ADVICE:
    # an unconditional 0 made the one actionable verdict ungateable).
    if drift:
        print(f"[exit 1: {len(drift)} drift-slower rows owe adjudication]", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
