"""The benchmark's own tests. Spark-free: they exercise the generators,
the oracle over generated inputs, the reporting rule, the parsers and
the lander. Run from the repository root:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import time

import duckdb
import pytest

from perfbench import gen, oracle, stats
from perfbench.trace import parse_event_log, source_batches, trigger_rows

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
TINY = gen.FeedSpec(events=3000, users=400, redeliver=0.05, jitter_s=30.0, gap_s=2.0)


def sha(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def write_all(tmp, seed: int) -> list[str]:
    d = str(tmp)
    return [
        gen.write_table(gen.feed_table(TINY, seed), d, "events"),
        gen.write_table(gen.documents_table(200, seed), d, "documents"),
        gen.write_table(gen.embeddings_table(50, seed), d, "embeddings"),
    ]


# -- generators ----------------------------------------------------------------


def test_same_seed_same_bytes(tmp_path):
    a = [sha(p) for p in write_all(tmp_path / "a", 7)]
    b = [sha(p) for p in write_all(tmp_path / "b", 7)]
    c = [sha(p) for p in write_all(tmp_path / "c", 8)]
    assert a == b
    assert all(x != y for x, y in zip(a, c))


def test_feed_shape():
    t = gen.feed_table(TINY, 3)
    assert t.schema == gen.EVENTS_SCHEMA
    ids = t.column("event_id").to_pylist()
    assert ids == sorted(ids) and len(set(ids)) == TINY.events
    dup_share = (len(ids) - TINY.events) / TINY.events
    assert 0.02 < dup_share < 0.08  # redeliver=0.05
    assert max(t.column("user_id").to_pylist()) < gen.TWIN_OFFSET
    ts = t.column("ts").to_pylist()
    assert any(b < a for a, b in zip(ts, ts[1:]))  # out-of-order jitter present
    # Zipf: the hottest user carries far more than a uniform share
    users = t.column("user_id").to_pylist()
    top = max(users.count(u) for u in set(users))
    assert top > 10 * len(users) / TINY.users


def test_twin_ids_cannot_collide():
    with pytest.raises(ValueError):
        gen.FeedSpec(events=10, users=gen.TWIN_OFFSET)


# -- feed vs oracle -------------------------------------------------------------


def latest_snapshot_reference(path: str) -> set[tuple]:
    """cdc_latest_snapshot recomputed in plain Python from the
    derivation documented in sources/cdc_feed.py."""
    con = duckdb.connect()
    rows = con.sql(f"SELECT event_id, epoch_ms(ts), user_id, event_type FROM read_parquet('{path}')").fetchall()
    con.close()
    best: dict[tuple, tuple] = {}
    for eid, ms, uid, ent in rows:
        ct = "UNDELETE" if eid % 15 == 0 else ("CREATE", "UPDATE", "DELETE")[eid % 3]
        for u in ([uid, uid + gen.TWIN_OFFSET] if eid % 5 == 0 else [uid]):
            k = (ent, u)
            if k not in best or (ms, eid) > best[k][:2]:
                best[k] = (ms, eid, ct)
    return {(ent, f"00D{u:015d}", ct, ms) for (ent, u), (ms, _e, ct) in best.items() if ct != "DELETE"}


def snapshot_oracle(sf: str, events_filter: str | None = None) -> set[tuple]:
    from sfdc_cdc_aws_spark.registry import load_all

    df = oracle.run_oracle(load_all()["cdc_latest_snapshot"].oracle, sf, events_filter)
    return set(df[["entity_name", "record_id", "uind", "commit_ts_ms"]].itertuples(index=False, name=None))


def test_feed_matches_oracle_and_redelivery_is_invisible(tmp_path):
    path = gen.write_table(gen.feed_table(TINY, 5), str(tmp_path), "events")
    want = snapshot_oracle(str(tmp_path))
    assert want == latest_snapshot_reference(path)
    dedup = tmp_path / "dedup"
    con = duckdb.connect()
    con.execute(f"COPY (SELECT DISTINCT * FROM read_parquet('{path}')) TO '{dedup}.parquet'")
    con.close()
    os.makedirs(dedup)
    os.rename(f"{dedup}.parquet", dedup / "events.parquet")
    assert snapshot_oracle(str(dedup)) == want


def test_mismatch_reports_differences():
    import pandas as pd

    a = pd.DataFrame({"K": [1, 2], "v": [0.5, 1.0]})
    assert oracle.mismatch(a, a.iloc[::-1].rename(columns={"K": "k"})) is None
    assert "rows" in oracle.mismatch(a, a.iloc[:1])
    assert oracle.mismatch(a, a.assign(v=[0.5, 1.1])) is not None


# -- reporting rule --------------------------------------------------------------


def test_percentile_needs_ten_samples_beyond():
    assert stats.percentile(list(range(99)), 90) is None
    assert stats.percentile(list(range(1, 101)), 90) == 90
    assert stats.percentile(list(range(40)), 75) == 29
    assert stats.percentile(list(range(39)), 75) is None
    assert stats.percentile([3.0, 1.0, 2.0], 50) == 2.0  # the median is always reported
    assert stats.percentile([], 50) is None


# -- metric catalog ----------------------------------------------------------------


def test_metric_names_and_units_match_benchmark_json():
    from perfbench import run, workloads

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.E2E
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.LAYERS
    assert [w["name"] for w in bench["workloads"]] == list(workloads.WORKLOADS)
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert all(m["bound"] <= setup["bound"] <= 0.25 for m in bench["end_to_end"])


# -- parsers -------------------------------------------------------------------------


def test_source_batches_reads_the_file_log(tmp_path):
    log = tmp_path / "sources" / "0"
    log.mkdir(parents=True)
    (log / "0").write_text('v1\n{"path":"file:///w/tail-000001.json","timestamp":1,"batchId":0}\n')
    (log / "1.compact").write_text('v1\n{"path":"file:///w/tail-000002.json","timestamp":2,"batchId":1}\n'
                                   '{"path":"file:///w/tail-000003.json","timestamp":2,"batchId":1}\n')
    (log / "1.compact.crc").write_text("not a log file")
    assert source_batches(str(tmp_path)) == {"tail-000001.json": 0, "tail-000002.json": 1,
                                             "tail-000003.json": 1}


def test_trigger_rows_skip_idle_triggers():
    prog = [
        {"batchId": 0, "numInputRows": 0, "durationMs": {"triggerExecution": 5}},
        {"batchId": 1, "numInputRows": 10,
         "durationMs": {"triggerExecution": 900, "queryPlanning": 20, "walCommit": 30, "addBatch": 800},
         "stateOperators": [{"commitTimeMs": 7, "numRowsTotal": 12, "numRowsUpdated": 9,
                             "memoryUsedBytes": 1000}]},
    ]
    (row,) = trigger_rows(prog)
    assert (row["batch_id"], row["query_planning_ms"], row["state_commit_ms"], row["state_rows_updated"]) == (1, 20, 7, 9)


def test_event_log_counters(tmp_path):
    evs = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000, "Stage IDs": [0],
         "Properties": {"spark.job.description": "k1"}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 0, "Submission Time": 1000, "Completion Time": 2000, "Details": "",
            "RDD Info": [{"Scope": "{\"id\":\"1\",\"name\":\"Scan json \"}"},
                         {"Scope": "{\"id\":\"2\",\"name\":\"ArrowEvalPython\"}"}]}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor CPU Time": 2_000_000_000, "Executor Run Time": 2500, "JVM GC Time": 100,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 40},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 50},
            "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 0}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 3000},
        # outside the window: ignored
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 9000, "Stage IDs": [1]},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {"Executor CPU Time": 10**9}},
    ]
    path = tmp_path / "log"
    path.write_text("\n".join(json.dumps(e) for e in evs) + "\n")
    c = parse_event_log(str(path), [(0.5, 4.5)],
                        {"parse": ("Scan json",), "state": ("Scan parquet", "WriteFiles")})
    assert (c["jobs"], c["stages"], c["tasks"]) == (1, 1, 1)
    assert c["executor_cpu_s"] == 2.0 and c["cpu_by_marker"] == {"parse": 2.0, "state": 0.0}
    assert c["gc_s"] == 0.1 and c["shuffle_read_bytes"] == 40 and c["shuffle_write_bytes"] == 50
    assert c["python_stage_s"] == 1.0
    assert c["driver_s"] == pytest.approx(4.0 - 2.0)  # window 4 s, job covers 1..3
    assert c["cpu_by_desc"] == {"k1": 2.0}


def test_published_events_merges_neighbouring_files():
    from perfbench.workloads import TAIL_PREFIX_EVENTS, published_events

    p = TAIL_PREFIX_EVENTS
    files = {f"tail-{i:06d}.json": [("l", p + 2 * i, ()), ("l", p + 2 * i + 1, ())] for i in range(5)}
    batches = {"tail-000000.json": 0, "tail-000001.json": 0, "tail-000002.json": 1,
               "tail-000003.json": 2, "tail-000004.json": 3}
    # batches 0, 1 and 3 published; 2 (file 3) still in flight
    assert published_events(files, batches, {0: 1.0, 1: 2.0, 3: 4.0}) == (
        f"event_id < {p} OR event_id BETWEEN {p} AND {p + 5} OR event_id BETWEEN {p + 8} AND {p + 9}")


# -- lander --------------------------------------------------------------------------


def test_lander_keeps_its_schedule(tmp_path):
    from perfbench.workloads import Lander

    src, dst = tmp_path / "staged", tmp_path / "watch"
    src.mkdir()
    dst.mkdir()
    staged = []
    for i in range(10):
        p = src / f"tail-{i:06d}.json"
        p.write_text("x\n")
        staged.append(str(p))
    t0 = time.time() + 0.05
    lander = Lander(staged[:5], str(dst), t0, rate=50.0)
    lander.start()
    lander.join(timeout=5)
    assert not lander.is_alive()
    assert [n for n, _d, _a in lander.landed] == [f"tail-{i:06d}.json" for i in range(5)]
    assert sorted(os.listdir(dst)) == [n for n, _d, _a in lander.landed]
    assert all(at >= due for _n, due, at in lander.landed)
    assert [due for _n, due, _a in lander.landed] == pytest.approx([t0 + i / 50 for i in range(5)])


def test_lander_stops_when_told(tmp_path):
    from perfbench.workloads import Lander

    src, dst = tmp_path / "staged", tmp_path / "watch"
    src.mkdir()
    dst.mkdir()
    staged = []
    for i in range(5):
        p = src / f"tail-{i:06d}.json"
        p.write_text("x\n")
        staged.append(str(p))
    lander = Lander(staged, str(dst), time.time(), rate=5.0)  # one file every 0.2 s
    lander.start()
    time.sleep(0.3)
    lander.stop.set()
    lander.join(timeout=5)
    assert not lander.is_alive()
    assert [n for n, _d, _a in lander.landed] == ["tail-000000.json", "tail-000001.json"]


def test_stop_processes_ends_the_whole_tree():
    import subprocess
    import sys

    from perfbench.run import stop_processes
    from perfbench.trace import descendants, start_time

    # a child that ignores stdin and SIGTERM, and a grandchild under it,
    # as the JVM and a Python worker it forks
    script = ("import signal, subprocess, sys, time; signal.signal(signal.SIGTERM, signal.SIG_IGN); "
              "subprocess.Popen([sys.executable, '-c', 'import time; time.sleep(60)']); time.sleep(60)")
    child = subprocess.Popen([sys.executable, "-c", script], stdin=subprocess.PIPE)
    end = time.time() + 10
    while len(descendants(child.pid)) < 1 and time.time() < end:
        time.sleep(0.05)
    tree = {p: start_time(p) for p in [child.pid] + descendants(child.pid)}
    assert len(tree) == 2
    t = time.monotonic()
    stop_processes(child, grace=0.5)
    assert time.monotonic() - t < 5
    assert all(start_time(p) != st for p, st in tree.items())
    assert child.poll() is not None  # reaped, not left a zombie


def test_window_ends_just_before_a_trigger_boundary():
    from perfbench.workloads import TAIL_TRIGGER_S, aligned_start

    for now in (1_700_000_000.0, 1_700_000_003.37, 1_700_000_005.99):
        t0 = aligned_start(now, 10, 10.0)
        assert now <= t0 < now + TAIL_TRIGGER_S
        end = t0 + 10 + 0.05  # half a file gap after the window
        assert abs(end / TAIL_TRIGGER_S - round(end / TAIL_TRIGGER_S)) < 1e-6
        # no file lands within half a gap of a boundary
        for i in range(100):
            phase = (t0 + i / 10.0) % TAIL_TRIGGER_S
            assert min(phase, TAIL_TRIGGER_S - phase) > 0.049
