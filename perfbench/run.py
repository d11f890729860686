"""One command for the benchmark.

    python3 perfbench/run.py --workload cdc_tail --seed 1 --seconds 13 --trace 0

Run from the repository root. It generates the workload's inputs from
``--seed`` under ``perfbench/.work/``, starts one Spark session on
``local[nproc]`` through the engine's ``get_session``, measures for
``--seconds`` seconds, checks the outputs against the registry's DuckDB
oracles, removes its working files and prints one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics (``E2E``); ``--trace 1``
turns on spans and the Spark event log and reports the per-layer
metrics (``LAYERS``), writing spans and raw counters to
``perfbench/.work/traces/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
import traceback

# run as a script (python3 perfbench/run.py): make the repository root,
# which holds both this package and the engine, importable
ROOT_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT_DIR not in sys.path:
    sys.path.insert(0, ROOT_DIR)

from perfbench import workloads  # noqa: E402

E2E = {
    "setup_s": "s",
    "latency_s": "s",
    "items_per_s": "1/s",
}

LAYERS = {
    "session.start_s": "s",
    "generator.inputs_s": "s",
    "sources.landing_s": "s",
    "sources.landing_bytes": "bytes",
    "prewarm_s": "s",
    "tail.state_build_s": "s",
    "streaming.job.input_rows": "count",
    "streaming.job.dedup_keep_ratio": "ratio",
    "streaming.job.parse_cpu_s": "s",
    "streaming.job.triggers": "count",
    "streaming.job.query_planning_ms_p50": "ms",
    "streaming.job.wal_commit_ms_p50": "ms",
    "streaming.job.commit_offsets_ms_p50": "ms",
    "streaming.job.latest_offset_ms_p50": "ms",
    "streaming.job.add_batch_ms_p50": "ms",
    "streaming.job.state_commit_ms_p50": "ms",
    "streaming.job.dedup_state_rows": "count",
    "streaming.job.dedup_state_bytes": "bytes",
    "streaming.merge.upsert_s_p50": "s",
    "streaming.merge.upsert_s_max": "s",
    "streaming.merge.epochs": "count",
    "streaming.merge.state_rows": "count",
    "streaming.merge.state_bytes": "bytes",
    "streaming.merge.rewrite_ratio": "ratio",
    "streaming.merge.rewrite_cpu_s": "s",
    "streaming.merge.rewrite_cpu_share": "ratio",
    **{f"key.{k}_s": "s" for k in workloads.NEARDUP_MIX},
    **{f"operators.{m}_s": "s" for m in sorted(set(workloads.NEARDUP_MIX.values()))},
    **{f"operators.{m}_cpu_s": "s" for m in sorted(set(workloads.NEARDUP_MIX.values()))},
    "spark.executor_cpu_s": "s",
    "spark.executor_run_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.driver_s": "s",
    "spark.python_stage_s": "s",
    "peak_rss_mb": "MB",
    "generator.lag_s_max": "s",
    "tail.files": "count",
    "tail.offered_per_s": "1/s",
    "tail.published_per_s": "1/s",
    "tail.freshness_p50_s": "s",
    "tail.freshness_p90_s": "s",
    "tail.backlog_files_max": "count",
    "neardup.passes": "count",
    **{f"traced.{k}": u for k, u in E2E.items()},
}

RUN_LIMIT_S = 170  # the whole run, set-up and checks included


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: str, trace: bool) -> None:
    """Point every file Spark, the JVM and Python write at ``work``,
    and enable the event log for a traced run. ``get_session`` takes no
    extra confs, so they go through a benchmark-owned SPARK_CONF_DIR."""
    tmp, conf = os.path.join(work, "tmp"), os.path.join(work, "conf")
    for d in (tmp, conf, os.path.join(work, "local"), os.path.join(work, "eventlog")):
        os.makedirs(d, exist_ok=True)
    jvm = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    lines = [f"spark.driver.extraJavaOptions {jvm}", "spark.ui.showConsoleProgress false"]
    if trace:
        lines += ["spark.eventLog.enabled true",
                  f"spark.eventLog.dir file://{os.path.join(work, 'eventlog')}",
                  "spark.eventLog.compress false", "spark.eventLog.rolling.enabled false"]
    with open(os.path.join(conf, "spark-defaults.conf"), "w") as f:
        f.write("\n".join(lines) + "\n")
    os.environ.update({
        "SPARK_CONF_DIR": conf,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_LAUNCHER_OPTS": jvm,
        "TMPDIR": tmp,
        "SPARK_GRAFT_CPUS": str(nproc()),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "PYTHONPATH": os.pathsep.join(filter(None, (os.getcwd(), os.environ.get("PYTHONPATH")))),
    })


def spark_jvm():
    """The Popen of the Spark JVM this run started, or None."""
    pyspark = sys.modules.get("pyspark")
    return getattr(getattr(getattr(pyspark, "SparkContext", None), "_gateway", None), "proc", None)


def stop_processes(gateway, grace: float = 10.0) -> None:
    """End every process this run started (the Spark JVM and the Python
    workers it forks) and wait until each has ended: first by closing
    the JVM's stdin, on which it exits, then with SIGTERM, then SIGKILL.
    The tree is listed up front because a worker whose JVM has gone is
    re-parented away from this process."""
    from perfbench.trace import descendants, start_time

    tree = {pid: start_time(pid) for pid in descendants(os.getpid())}
    if gateway is not None and gateway.stdin and not gateway.stdin.closed:
        try:
            gateway.stdin.close()
        except OSError:
            pass
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        live = [p for p, st in tree.items() if st is not None and start_time(p) == st]
        if sig is not None:
            for pid in live:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        end = time.monotonic() + grace
        while live and time.monotonic() < end:
            time.sleep(0.05)
            live = [p for p in live if start_time(p) == tree[p]]
        if not live:
            break
    if gateway is not None:
        try:
            gateway.wait(timeout=grace)
        except subprocess.TimeoutExpired:
            pass
    try:  # reap any other child of this process
        while os.waitpid(-1, os.WNOHANG)[0]:
            pass
    except ChildProcessError:
        pass


def measure(args, root: str, work: str) -> dict:
    from perfbench.trace import RssSampler, Tracer, find_event_log, parse_event_log

    tracer = Tracer(args.workload, enabled=bool(args.trace))
    run = workloads.Run(args.workload, args.seed, args.seconds, work, tracer, args.tail_rate)
    t = time.perf_counter()
    with tracer.span("session.get_session"):
        from sfdc_cdc_aws_spark.session import get_session

        run.spark = get_session("perfbench")
    run.layers["session.start_s"] = time.perf_counter() - t
    gateway = run.spark.sparkContext._gateway.proc
    jvm = gateway.pid
    watchdog = threading.Timer(RUN_LIMIT_S, lambda: (stop_processes(gateway, grace=1.0), os._exit(3)))
    watchdog.daemon = True
    watchdog.start()
    try:
        with RssSampler(jvm) as rss:
            workloads.WORKLOADS[args.workload](run)
        run.layers["peak_rss_mb"] = rss.peak_mb
    finally:
        run.spark.stop()
        watchdog.cancel()

    if args.trace:
        counters = parse_event_log(find_event_log(os.path.join(work, "eventlog")),
                                   run.windows, workloads.STAGE_MARKERS[args.workload])
        for k in ("executor_cpu_s", "executor_run_s", "gc_s", "shuffle_read_bytes",
                  "shuffle_write_bytes", "spill_bytes", "jobs", "stages", "tasks",
                  "driver_s", "python_stage_s"):
            run.layers[f"spark.{k}"] = counters[k]
        workloads.cpu_layers(run, counters)
        run.layers.update({f"traced.{k}": v for k, v in run.e2e.items()})
        out = os.path.join(root, "perfbench", ".work", "traces")
        os.makedirs(out, exist_ok=True)
        stem = os.path.join(out, f"{args.workload}-{args.seed}")
        tracer.dump(stem + "-spans.json")
        with open(stem + "-counters.json", "w") as f:
            json.dump({"layers": run.layers, "e2e": run.e2e, "cpu_by_desc": counters["cpu_by_desc"],
                       "progress": run.progress, "upserts": run.upserts, "errors": run.errors}, f)
        wanted = {k: (run.layers.get(k, 0), u) for k, u in LAYERS.items()}
    else:
        wanted = {k: (run.e2e[k], u) for k, u in E2E.items()}
    for e in run.errors:
        print(f"perfbench: {e}", file=sys.stderr)
    return {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": None if isinstance(v, float) and math.isnan(v) else v, "unit": u}
                    for k, (v, u) in wanted.items()},
    }


def main(argv: list[str] | None = None) -> int:
    root = os.getcwd()
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=tuple(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="measured seconds; the gate uses BENCHMARK.json's run_seconds")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tail-rate", type=float, default=workloads.TAIL_FILES_PER_S,
                   help="cdc_tail's offered files per second, for the capacity sweep "
                        "(perfbench/sweep_rate.py); the gate uses the default")
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(root, "sfdc_cdc_aws_spark")):
        print("perfbench: run from the repository root; sfdc_cdc_aws_spark/ is missing", file=sys.stderr)
        return 2
    # a terminated run still stops Spark and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(root, "perfbench", ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    prepare_env(work, bool(args.trace))
    try:
        result = measure(args, root, work)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        stop_processes(spark_jvm())
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
