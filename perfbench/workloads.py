"""The benchmark's workloads.

Each workload is a function ``(Run) -> None`` that sets up, measures
for ``run.seconds`` seconds, checks its outputs against the DuckDB
oracles (untimed) and fills ``run.e2e`` / ``run.layers``. The engine
sees only the generated files; every call into it is timed from the
benchmark side and, in a traced run, recorded as a span.
"""

from __future__ import annotations

import base64
import json
import math
import os
import threading
import time
from dataclasses import dataclass, field

import numpy as np

from perfbench import gen, oracle, stats
from perfbench.trace import Tracer, progress_dicts, source_batches, trigger_rows

# -- workload shapes (fixed: changing one is changing the benchmark) ---------

#: cdc_tail: the feed's first TAIL_PREFIX_EVENTS events, merged in one
#: batch upsert, build the published state (about 360k keys, so the
#: merge's full-state rewrite is most of an upsert); the rest is
#: rendered to wire and cut into small files that a lander moves into
#: the watched dir on a fixed schedule
TAIL_USERS = 900_000
TAIL_PREFIX_EVENTS = 1_500_000
TAIL_RECORDS_PER_FILE = 200
#: bounds a catch-up epoch's input, as a production tail would. It sits
#: far above an epoch's intake at the offered rate (60 files) because a
#: bound that binds while the host runs slow lets the backlog grow, and
#: freshness then rises far faster than the epochs' time
TAIL_MAX_FILES_PER_TRIGGER = 400
#: offered rate: about half the sustainable rate measured with the
#: settings above (perfbench/README.md, "Offered rate")
TAIL_FILES_PER_S = 10.0
TAIL_WARMUP_FILES = 16  # landed at once: the first, cold epoch
#: processingTime interval, longer than a warm epoch (3-4.5 s), so the
#: query waits for each trigger as a production tail on a fixed cadence
#: does; Spark fires the triggers at multiples of the interval since the
#: Unix epoch, and the window is placed on that clock (cdc_tail)
TAIL_TRIGGER_S = 6
TAIL_GRACE_S = 60.0
#: files staged beyond the window: the load goes on while the window's
#: last files are published (one epoch after the window ends)
TAIL_OVERFLOW_S = 6.0
#: neardup_screen: corpus size and mix (shingle/md5 kernel + Arrow boundary)
NEARDUP_DOCS = 1500
NEARDUP_VECS = 1500
#: the median of three passes drops one slow pass: the first timed pass
#: still ran 5-25% slower than the next as the JVM warmed up
NEARDUP_MIN_PASSES = 3
NEARDUP_MIX = {  # key -> operators module
    "ngram_jaccard_dedup": "dedup",
    "contamination_check": "dedup",
    "topk_cosine_numpy": "similarity",
}

SNAPSHOT_COLS = ("entity_name", "uid", "record_id", "change_type", "commit_ts_ms", "replay_id")


@dataclass
class Run:
    workload: str
    seed: int
    seconds: float
    work: str  # private working dir inside the checkout
    tracer: Tracer
    tail_rate: float = TAIL_FILES_PER_S  # cdc_tail's offered files per second
    setup_t0: float = field(default_factory=time.perf_counter)
    spark: object = None
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)
    windows: list = field(default_factory=list)  # timed regions, time.time()
    e2e: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    progress: list = field(default_factory=list)  # trigger rows of timed queries
    upserts: list = field(default_factory=list)  # (seconds, batch id, return time.time(), state rows)
    inflight: int = 0  # upserts running now

    def dir(self, *parts: str) -> str:
        """A path under the working dir whose parent exists."""
        p = os.path.join(self.work, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def setup_done(self) -> None:
        self.e2e["setup_s"] = time.perf_counter() - self.setup_t0

    def fail(self, what: str) -> None:
        self.failed += 1
        self.errors.append(what[:500])


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                total += os.path.getsize(os.path.join(dirpath, f))
    return total


# -- shared CDC pieces ------------------------------------------------------


def render_landing(run: Run, sf_dir: str) -> str:
    from sfdc_cdc_aws_spark.streaming.job import ensure_landing

    t = time.perf_counter()
    with run.tracer.span("sources.ensure_landing"):
        landing = ensure_landing(run.spark, sf_dir, base=run.dir("landing"))
    run.layers["sources.landing_s"] = time.perf_counter() - t
    run.layers["sources.landing_bytes"] = dir_bytes(landing)
    return landing


def wire_records(landing: str) -> dict[str, list[tuple[str, int, tuple]]]:
    """Every wire record of a landing dir, per file in name order:
    (raw line, replayId, keys), decoded on the benchmark side. A key is
    (entityName, recordId) — the snapshot's (entity_name, uid)."""
    out = {}
    for name in sorted(os.listdir(landing)):
        if not name.endswith(".json"):
            continue
        recs = out[name] = []
        with open(os.path.join(landing, name)) as f:
            for line in f:
                env = json.loads(base64.b64decode(json.loads(line)["data"]))
                h = env["payload"]["ChangeEventHeader"]
                recs.append((line, env["event"]["replayId"],
                             tuple((h["entityName"], r) for r in h["recordIds"])))
    return out


def n_changes(records) -> int:
    """Distinct (replayId, key) changes — what survives the stream's dedup."""
    return len({(rid, k) for _line, rid, keys in records for k in keys})


def delta_keys(files: dict, batches: dict[str, int]) -> dict[int, int]:
    """batchId -> distinct keys in that micro-batch's files."""
    per: dict[int, set] = {}
    for name, batch in batches.items():
        per.setdefault(batch, set()).update(k for _l, _r, keys in files.get(name, ()) for k in keys)
    return {b: len(ks) for b, ks in per.items()}


def timed_snapshot(run: Run, state_dir: str):
    """An IncrementalSnapshot whose upsert calls are timed from the
    benchmark side: the instance attribute shadows the method that
    ``attach`` and foreachBatch call. Each call appends (seconds,
    batch id, return time, state rows after) to ``run.upserts``."""
    from sfdc_cdc_aws_spark.streaming.merge import IncrementalSnapshot

    snap = IncrementalSnapshot(run.spark, state_dir)
    upsert = snap.upsert

    def timed_upsert(df, epoch_id=0):
        run.inflight += 1
        try:
            t = time.perf_counter()
            with run.tracer.span("streaming.merge.upsert"):
                upsert(df, epoch_id)
            secs, done = time.perf_counter() - t, time.time()
            rows = (snap._read_manifest() or {}).get("rows", 0)
            run.upserts.append((secs, epoch_id, done, rows))
        finally:
            run.inflight -= 1

    snap.upsert = timed_upsert
    return snap


class no_trailing_batch:
    """No empty micro-batch after a data batch, as
    ``cdc_incremental_merge`` sets it: an empty delta would still pay a
    whole write-audit-publish epoch. A query snapshots confs when it
    starts."""

    KEY = "spark.sql.streaming.noDataMicroBatches.enabled"

    def __init__(self, run: Run):
        self.conf = run.spark.conf

    def __enter__(self):
        self.old = self.conf.get(self.KEY)
        self.conf.set(self.KEY, "false")

    def __exit__(self, *exc):
        self.conf.set(self.KEY, self.old)


def change_stream(run: Run, landing: str, **kwargs):
    from sfdc_cdc_aws_spark.streaming.job import changes_stream

    with run.tracer.span("streaming.job.changes_stream"):
        return changes_stream(run.spark, landing, **kwargs).select(*SNAPSHOT_COLS)


def check_snapshot(run: Run, state_dir: str, sf_dir: str, events_filter: str | None = None) -> None:
    """Published state vs ``cdc_latest_snapshot``'s registry oracle."""
    from pyspark.sql import functions as F

    from sfdc_cdc_aws_spark.registry import load_all
    from sfdc_cdc_aws_spark.streaming.merge import IncrementalSnapshot

    run.attempted += 1
    try:
        with run.tracer.span("streaming.merge.current"):
            got = IncrementalSnapshot(run.spark, state_dir).current().select(
                "entity_name", "record_id", F.col("change_type").alias("uind"), "commit_ts_ms"
            ).toPandas()
        want = oracle.run_oracle(load_all()["cdc_latest_snapshot"].oracle, sf_dir, events_filter)
        why = oracle.mismatch(got, want)
        if why:
            run.fail(f"snapshot != oracle: {why}")
    except Exception as e:  # a crash is a failed check, not a benchmark crash
        run.fail(f"snapshot check raised {type(e).__name__}: {e}")


def streaming_layers(run: Run, ups: list, keys: list[int], state_dir: str) -> None:
    """Per-trigger metrics from ``run.progress`` and merge metrics from
    the measured upserts ``ups`` (``keys[i]``: delta keys of ups[i])."""
    rows = run.progress
    inp = sum(r["input_rows"] for r in rows)
    run.layers.update({
        "streaming.job.triggers": len(rows),
        "streaming.job.input_rows": inp,
        "streaming.job.dedup_keep_ratio": sum(r["state_rows_updated"] for r in rows) / inp if inp else 0.0,
        "streaming.job.dedup_state_rows": max((r["state_rows"] for r in rows), default=0),
        "streaming.job.dedup_state_bytes": max((r["state_bytes"] for r in rows), default=0),
    })
    for k in ("query_planning_ms", "wal_commit_ms", "commit_offsets_ms", "latest_offset_ms",
              "add_batch_ms", "state_commit_ms"):
        vals = [r[k] for r in rows]
        run.layers[f"streaming.job.{k}_p50"] = stats.median(vals) if vals else 0.0
    secs = [u[0] for u in ups]
    run.layers.update({
        "streaming.merge.epochs": len(ups),
        "streaming.merge.upsert_s_p50": stats.median(secs) if secs else 0.0,
        "streaming.merge.upsert_s_max": max(secs, default=0.0),
        "streaming.merge.state_rows": ups[-1][3] if ups else 0,
        "streaming.merge.state_bytes": dir_bytes(state_dir),
        # every epoch rewrites the whole state: rows written per key the
        # delta actually touched
        "streaming.merge.rewrite_ratio": sum(u[3] for u in ups) / sum(keys) if sum(keys) else 0.0,
    })


# -- cdc_tail -----------------------------------------------------------------


class Lander(threading.Thread):
    """Open-loop generator: moves staged wire files into the watched
    dir at ``t0 + i / rate`` with ``os.rename`` (atomic, so the engine
    never sees a partial file and the move itself cannot stall), until
    the list ends or ``stop`` is set. Records (name, due, landed) per
    file; it never waits for the engine."""

    def __init__(self, staged: list[str], dest: str, t0: float, rate: float):
        super().__init__(name="lander", daemon=True)
        self.staged, self.dest, self.t0, self.rate = staged, dest, t0, rate
        self.stop = threading.Event()
        self.landed: list[tuple[str, float, float]] = []

    def run(self) -> None:
        for i, src in enumerate(self.staged):
            due = self.t0 + i / self.rate
            if self.stop.wait(max(0.0, due - time.time())):
                return
            name = os.path.basename(src)
            os.rename(src, os.path.join(self.dest, name))
            self.landed.append((name, due, time.time()))


def write_lines(path: str, records) -> None:
    with open(path, "w") as f:
        f.writelines(line for line, _rid, _keys in records)


def cdc_tail(run: Run) -> None:
    """Open loop: ONE long-lived processingTime query keeps a published
    state of about 360k keys fresh while the lander adds a small file
    every 1/run.tail_rate seconds."""
    import pyarrow.compute as pc
    from pyspark.sql import functions as F

    from sfdc_cdc_aws_spark.sources.cdc_feed import changes
    from sfdc_cdc_aws_spark.streaming.job import PROD_DEDUP_HORIZON
    from sfdc_cdc_aws_spark.streaming.merge import IncrementalSnapshot

    rate = run.tail_rate
    # the lander keeps landing past the window until every measured file
    # is published, so the epochs that carry them are as full as any
    # (unless the query falls more than TAIL_OVERFLOW_S behind)
    n_files = TAIL_WARMUP_FILES + int(np.ceil((run.seconds + TAIL_OVERFLOW_S) * rate)) + 1
    spec = gen.FeedSpec(events=TAIL_PREFIX_EVENTS + n_files * TAIL_RECORDS_PER_FILE, users=TAIL_USERS)
    sf, tail_sf = run.dir("data", "feed"), run.dir("data", "tail")
    t = time.perf_counter()
    feed = gen.feed_table(spec, run.seed)
    gen.write_table(feed, sf, "events")
    gen.write_table(feed.filter(pc.greater_equal(feed.column("event_id"), TAIL_PREFIX_EVENTS)),
                    tail_sf, "events")
    del feed
    run.layers["generator.inputs_s"] = time.perf_counter() - t

    records = [r for recs in wire_records(render_landing(run, tail_sf)).values() for r in recs]
    rids = [rid for _l, rid, _k in records]
    if rids != sorted(rids):
        raise RuntimeError("ensure_landing no longer renders records in replayId order")
    staged, files = [], {}
    for i in range(n_files):
        chunk = records[i * TAIL_RECORDS_PER_FILE: (i + 1) * TAIL_RECORDS_PER_FILE]
        name = f"tail-{i:06d}.json"
        staged.append(run.dir("staged", name))
        write_lines(staged[-1], chunk)
        files[name] = chunk

    state, watch, ckpt = run.dir("state"), run.dir("watch"), run.dir("ckpt")
    os.makedirs(watch)
    t = time.perf_counter()
    with run.tracer.span("tail.state_build"):
        prefix = changes(run.spark, sf).where(F.col("replay_id") < TAIL_PREFIX_EVENTS)
        IncrementalSnapshot(run.spark, state).upsert(prefix.select(*SNAPSHOT_COLS))
    run.layers["tail.state_build_s"] = time.perf_counter() - t

    t = time.perf_counter()
    with run.tracer.span("prewarm"):
        snap = timed_snapshot(run, state)
        ch = change_stream(run, watch, max_files_per_trigger=TAIL_MAX_FILES_PER_TRIGGER,
                           dedup_horizon=PROD_DEDUP_HORIZON)
        # the first epoch, which runs as the query starts, compiles the
        # query: give it the warm-up files
        for src in staged[:TAIL_WARMUP_FILES]:
            os.rename(src, os.path.join(watch, os.path.basename(src)))
        warm = [os.path.basename(p) for p in staged[:TAIL_WARMUP_FILES]]
        with no_trailing_batch(run):
            q = (ch.writeStream.foreachBatch(lambda df, epoch: snap.upsert(df, epoch))
                 .option("checkpointLocation", ckpt)
                 .trigger(processingTime=f"{TAIL_TRIGGER_S} seconds").start())
        if not wait_published(run, q, ckpt, warm, TAIL_GRACE_S):
            raise RuntimeError("warm-up files were not published")
    run.layers["prewarm_s"] = time.perf_counter() - t
    n_warm_upserts = len(run.upserts)
    run.setup_done()

    t0 = aligned_start(time.time() + 0.05, run.seconds, rate)
    lander = Lander(staged[TAIL_WARMUP_FILES:], watch, t0, rate)
    lander.start()
    time.sleep(max(0.0, t0 + run.seconds + 0.2 - time.time()))  # the last due file has landed
    measured_files = [n for n, due, _at in lander.landed if due < t0 + run.seconds]
    wait_published(run, q, ckpt, measured_files, TAIL_GRACE_S)
    run.windows.append((t0, time.time()))
    lander.stop.set()
    lander.join()
    q.stop()
    # an upsert the stop cut short either published and was recorded,
    # or raised and published nothing: wait until none is running
    time.sleep(0.2)
    end = time.time() + TAIL_GRACE_S
    while run.inflight and time.time() < end:
        time.sleep(0.05)

    batches = source_batches(ckpt)
    published = {u[1]: u[2] for u in run.upserts}
    landed = {n: (due, at) for n, due, at in lander.landed}
    fresh, lag = [], []
    for name in measured_files:
        due, at = landed[name]
        run.attempted += 1
        lag.append(at - due)
        b = batches.get(name)
        if b not in published:
            run.fail(f"{name} not published within {TAIL_GRACE_S}s of the window's end")
            continue
        fresh.append(published[b] - due)
    if not fresh:
        raise RuntimeError("no tail file was published")
    # throughput: the window's changes over the time from the window's
    # start until the last of them is published. Below capacity it sits
    # under the offered rate by the last epoch's time; a slower epoch or
    # a growing backlog lowers it
    done = [n for n in measured_files if batches.get(n) in published]
    p_last = max(published[batches[n]] for n in done)
    carried = sum(n_changes(files[n]) for n in done)
    run.e2e.update(latency_s=stats.median(fresh), items_per_s=carried / (p_last - t0))
    # sustainability: changes published per second between the first
    # and the last epoch that carried a window file; it equals the
    # offered rate while the query keeps up
    ep_changes: dict[int, int] = {}
    for name in landed:
        if batches.get(name) in published:
            ep_changes[batches[name]] = ep_changes.get(batches[name], 0) + n_changes(files[name])
    p_first = min(published[batches[n]] for n in done)
    between = sum(c for b, c in ep_changes.items() if p_first < published[b] <= p_last)

    moves = [(at, +1) for _due, at in landed.values()]
    moves += [(published[batches[n]], -1) for n in landed if batches.get(n) in published]
    backlog, peak = 0, 0
    for t, d in sorted(moves):
        if t > p_last:
            break
        backlog += d
        peak = max(peak, backlog)
    offered = sum(n_changes(files[n]) for n in measured_files) / run.seconds
    p90 = stats.percentile(fresh, 90)
    run.layers.update({
        "tail.files": len(measured_files),
        "tail.freshness_p50_s": stats.median(fresh),
        "tail.freshness_p90_s": p90 if p90 is not None else float("nan"),
        "tail.offered_per_s": offered,
        "tail.published_per_s": between / (p_last - p_first) if p_last > p_first else float("nan"),
        "tail.backlog_files_max": peak,
        "generator.lag_s_max": max(lag, default=0.0),
    })
    in_window = [u for u in run.upserts[n_warm_upserts:] if u[2] <= p_last]
    keys_by_batch = delta_keys(files, batches)
    progress = trigger_rows(progress_dicts(q))
    run.progress = [r for r in progress if r["batch_id"] in {u[1] for u in in_window}]
    check_snapshot(run, state, sf, published_events(files, batches, published))
    streaming_layers(run, in_window, [keys_by_batch.get(u[1], 0) for u in in_window], state)


def aligned_start(now: float, seconds: float, rate: float) -> float:
    """The first window start at or after ``now`` whose window ends half
    a file gap before a trigger boundary. Every run then sees the same
    waits from a file's landing to the next trigger, and no file lands
    within half a gap of a boundary, where the trigger's listing would
    race the lander; only the epochs' own time varies between runs."""
    span = seconds + 0.5 / rate
    return math.ceil((now + span) / TAIL_TRIGGER_S) * TAIL_TRIGGER_S - span


def published_events(files: dict, batches: dict[str, int], published: dict) -> str:
    """The oracle's ``events`` filter for a tail run: the prefix plus
    the replayId ranges of every published file. Files are consecutive
    slices of the replayId order, so neighbours merge into one range."""
    ranges: list[list[int]] = []
    for i, name in enumerate(files):  # in file order
        if batches.get(name) not in published:
            continue
        lo, hi = files[name][0][1], files[name][-1][1]
        if ranges and ranges[-1][2] == i - 1:
            ranges[-1][1:] = [hi, i]
        else:
            ranges.append([lo, hi, i])
    return " OR ".join([f"event_id < {TAIL_PREFIX_EVENTS}"] +
                       [f"event_id BETWEEN {lo} AND {hi}" for lo, hi, _i in ranges])


def wait_published(run: Run, q, ckpt: str, names: list[str], timeout: float) -> bool:
    """Poll until every file in ``names`` sits in a micro-batch whose
    upsert has returned; False on timeout or if the query died."""
    end = time.time() + timeout
    while time.time() < end:
        if q.exception() is not None:
            raise RuntimeError(f"tail query failed: {q.exception()}")
        done = {u[1] for u in list(run.upserts)}
        batches = source_batches(ckpt)
        if all(batches.get(n) in done for n in names):
            return True
        time.sleep(0.05)
    return False


# -- neardup_screen -----------------------------------------------------------


def one_pass(run: Run, specs, order: list[str], sf: str, per_key: dict, results: dict | None = None) -> None:
    """Every mix key once, each executed to the noop sink, or collected
    into ``results`` when given. Jobs are tagged with the key."""
    for k in order:
        run.spark.sparkContext.setJobDescription(k)
        run.attempted += 1
        t = time.perf_counter()
        try:
            with run.tracer.span(f"key.{k}"):
                df = specs[k].fn(run.spark, sf)
                if results is None:
                    df.write.format("noop").mode("overwrite").save()
                else:
                    results[k] = df.toPandas()
        except Exception as e:  # a failed key counts, the mix goes on
            run.fail(f"{k} raised {type(e).__name__}: {e}")
        per_key.setdefault(k, []).append(time.perf_counter() - t)
    run.spark.sparkContext.setJobDescription(None)


def neardup_screen(run: Run) -> None:
    """Closed loop, one client: the near-dup mix in a seed-permuted
    order, each key executed to a noop sink, pass after pass."""
    from sfdc_cdc_aws_spark.registry import load_all

    sf = run.dir("data", "lake")
    t = time.perf_counter()
    gen.write_table(gen.documents_table(NEARDUP_DOCS, run.seed), sf, "documents")
    gen.write_table(gen.embeddings_table(NEARDUP_VECS, run.seed), sf, "embeddings")
    run.layers["generator.inputs_s"] = time.perf_counter() - t
    specs = load_all()
    order = [list(NEARDUP_MIX)[i] for i in np.random.default_rng([run.seed, 9]).permutation(len(NEARDUP_MIX))]

    # prewarm: a collecting pass (the first, cold one), whose results
    # are checked after the timed passes
    results: dict = {}
    t = time.perf_counter()
    with run.tracer.span("prewarm"):
        one_pass(run, specs, order, sf, {}, results)
    run.layers["prewarm_s"] = time.perf_counter() - t
    run.setup_done()

    passes: list[float] = []
    per_key: dict[str, list[float]] = {}
    t_end = time.perf_counter() + run.seconds
    # at least NEARDUP_MIN_PASSES: a pass can outlast the window
    while time.perf_counter() < t_end or len(passes) < NEARDUP_MIN_PASSES:
        run.tracer.iteration = len(passes) + 1
        w0, p0 = time.time(), time.perf_counter()
        one_pass(run, specs, order, sf, per_key)
        passes.append(time.perf_counter() - p0)
        run.windows.append((w0, time.time()))
    lat = stats.median(passes)
    run.e2e.update(latency_s=lat, items_per_s=NEARDUP_DOCS * len(order) / lat)

    for k, got in results.items():
        run.attempted += 1
        why = oracle.mismatch(got, oracle.run_oracle(specs[k].oracle, sf))
        if why:
            run.fail(f"{k} != oracle: {why}")
    run.layers["neardup.passes"] = len(passes)
    for k in NEARDUP_MIX:
        run.layers[f"key.{k}_s"] = stats.median(per_key[k])
    for mod in set(NEARDUP_MIX.values()):
        run.layers[f"operators.{mod}_s"] = sum(
            run.layers[f"key.{k}_s"] for k, m in NEARDUP_MIX.items() if m == mod)


#: event-log stage markers per workload (trace.parse_event_log): in
#: cdc_tail's window every parquet scan or write is the merge reading,
#: rewriting or auditing the state
STAGE_MARKERS = {
    "cdc_tail": {"parse": ("Scan json",), "rewrite": ("Scan parquet", "WriteFiles")},
    "neardup_screen": {},
}


def cpu_layers(run: Run, counters: dict) -> None:
    """Per-layer executor CPU from the parsed event log: the stream's
    parse, the merge's state rewrite (and its share of all executor
    CPU), and each near-dup module's keys (jobs tagged with the key)."""
    marks, total = counters["cpu_by_marker"], counters["executor_cpu_s"]
    run.layers["streaming.job.parse_cpu_s"] = marks.get("parse", 0.0)
    run.layers["streaming.merge.rewrite_cpu_s"] = marks.get("rewrite", 0.0)
    run.layers["streaming.merge.rewrite_cpu_share"] = marks.get("rewrite", 0.0) / total if total else 0.0
    for mod in set(NEARDUP_MIX.values()):
        run.layers[f"operators.{mod}_cpu_s"] = sum(
            counters["cpu_by_desc"].get(k, 0.0) for k, m in NEARDUP_MIX.items() if m == mod)


WORKLOADS = {
    "cdc_tail": cdc_tail,
    "neardup_screen": neardup_screen,
}
