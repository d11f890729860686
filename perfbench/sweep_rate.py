"""Find cdc_tail's sustainable offered rate.

    python3 perfbench/sweep_rate.py --seed 1 --rates 10 20 30 40 --seconds 10 20

Runs the traced cdc_tail workload once per (rate, seconds) pair, in
separate processes, and prints one row per run: files offered per
second, changes offered and published per second, the largest backlog
of landed-but-unpublished files, freshness and upsert percentiles. A
rate is sustainable while the published rate matches the offered one
and the backlog does not grow with the run's length; the benchmark's
offered rate (workloads.TAIL_FILES_PER_S) is about half the highest
sustainable rate. Run it from the repository root.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys

COLUMNS = ("tail.offered_per_s", "tail.published_per_s", "tail.backlog_files_max",
           "tail.freshness_p50_s", "tail.freshness_p90_s", "streaming.merge.upsert_s_p50",
           "streaming.merge.epochs", "streaming.merge.state_rows")


def run_once(seed: int, rate: float, seconds: float) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "cdc_tail", "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "1", "--tail-rate", str(rate)],
        capture_output=True, text=True, check=True,
    ).stdout.strip().splitlines()[-1]
    result = json.loads(out)
    row = {"rate": rate, "seconds": seconds, "failed": result["failed"]}
    row.update({k: result["metrics"][k]["value"] for k in COLUMNS})
    return row


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--rates", type=float, nargs="+", required=True, help="files per second")
    p.add_argument("--seconds", type=float, nargs="+", default=[10.0])
    args = p.parse_args()
    print(" ".join(["rate", "seconds", "failed", *COLUMNS]))
    for rate in args.rates:
        for seconds in args.seconds:
            row = run_once(args.seed, rate, seconds)
            print(" ".join(f"{v:.3f}" if isinstance(v, float) else str(v) for v in row.values()),
                  flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
