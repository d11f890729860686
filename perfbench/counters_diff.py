"""Compare benchmark outputs on the metrics that resist host drift.

    python3 perfbench/counters_diff.py A B
        Count-type per-layer metrics (executor CPU-s, bytes, job/stage/
        task counts, the merge's rewrite ratio and rewrite CPU, the
        near-dup modules' CPU) of two traced outputs,
        with the relative change B vs A.

    python3 perfbench/counters_diff.py --overhead UNTRACED [UNTRACED ...] TRACED
        Tracing overhead: each ``traced.<metric>`` of a traced output
        minus the median of that end-to-end metric over untraced
        outputs of the same workload.

An output is a file holding what ``perfbench/run.py`` printed (its last
line is read) or a ``perfbench/.work/traces/*-counters.json`` file.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys

COUNTERS = (
    "spark.executor_cpu_s",
    "spark.executor_run_s",
    "spark.gc_s",
    "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes",
    "spark.spill_bytes",
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "spark.python_stage_s",
    "streaming.job.parse_cpu_s",
    "streaming.job.input_rows",
    "streaming.job.triggers",
    "streaming.merge.epochs",
    "streaming.merge.state_rows",
    "streaming.merge.rewrite_ratio",
    "streaming.merge.rewrite_cpu_s",
    "operators.dedup_cpu_s",
    "operators.similarity_cpu_s",
    "sources.landing_bytes",
)


def load(path: str) -> dict[str, float]:
    with open(path) as f:
        text = f.read().strip()
    doc = json.loads(text.splitlines()[-1])
    if "metrics" in doc:
        return {k: v["value"] for k, v in doc["metrics"].items()}
    return {**doc["layers"], **{f"traced.{k}": v for k, v in doc["e2e"].items()}}


def change(a: float, b: float) -> str:
    if a == b:
        return "="
    return f"{(b - a) / a:+.1%}" if a else "new"


def diff(a: dict, b: dict) -> list[str]:
    rows = [f"{'metric':34} {'A':>14} {'B':>14} {'B vs A':>8}"]
    for k in COUNTERS:
        if k in a or k in b:
            va, vb = a.get(k, 0) or 0, b.get(k, 0) or 0
            rows.append(f"{k:34} {va:14.4g} {vb:14.4g} {change(va, vb):>8}")
    return rows


def overhead(untraced: list[dict], traced: dict) -> list[str]:
    rows = [f"{'metric':16} {'untraced p50':>14} {'traced':>14} {'overhead':>14}"]
    for name in sorted(untraced[0]):
        key = f"traced.{name}"
        if key not in traced:
            continue
        base = statistics.median(u[name] for u in untraced)
        rows.append(f"{name:16} {base:14.4f} {traced[key]:14.4f} {traced[key] - base:+14.4f}")
    return rows


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--overhead", action="store_true")
    p.add_argument("outputs", nargs="+")
    args = p.parse_args(argv)
    docs = [load(x) for x in args.outputs]
    if args.overhead:
        if len(docs) < 2:
            p.error("--overhead needs at least one untraced and one traced output")
        rows = overhead(docs[:-1], docs[-1])
    else:
        if len(docs) != 2:
            p.error("give exactly two traced outputs")
        rows = diff(*docs)
    print("\n".join(rows))
    return 0


if __name__ == "__main__":
    sys.exit(main())
