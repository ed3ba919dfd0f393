"""Streaming sessionization twin (streaming/sessions.py) vs the batch
fold (operators/merge.py::session_stats).

Files are staged one-per-micro-batch (mtime-ordered, the
test_checkpoint_streaming harness), so sessions genuinely SPAN
micro-batches and the session_window state-store merge is what's
under test, not a one-shot aggregation.
"""

from __future__ import annotations

import datetime as dt
import glob
import os
import shutil
import time


from osm_notes_ingestion_spark.operators.merge import session_stats
from osm_notes_ingestion_spark.streaming.sessions import streaming_session_stats

SCHEMA = "user_id long, ts timestamp, seq long"
T0 = dt.datetime(2021, 6, 1, 12, 0, 0)


def _stage(spark, tmp_path, chunks):
    src = str(tmp_path / "src")
    os.makedirs(src)
    for i, rows in enumerate(chunks):
        tmp = str(tmp_path / f"chunk{i}")
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        dst = os.path.join(src, f"{i:04d}.parquet")
        shutil.move(part, dst)
        os.utime(dst, (time.time() + i, time.time() + i))
    return src


def _run_complete(spark, src, gap_s, name):
    stream = streaming_session_stats(
        spark, src, spark.createDataFrame([], SCHEMA).schema, gap_s=gap_s
    )
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return {
        (r["user_id"], r["session_start"]): (r["n_events"], r["duration_s"])
        for r in spark.table(name).collect()
    }


def test_settled_equals_batch_across_batches(spark, tmp_path):
    # user 1: one session whose events arrive in three different
    # micro-batches (30 s apart, gap 60 s) — the state-store merge case;
    # user 2: two sessions split by a 2 h silence; user 3: singleton
    s = lambda k: T0 + dt.timedelta(seconds=k)
    chunks = [
        [(1, s(0), 0), (2, s(10), 1), (3, s(20), 2)],
        [(1, s(30), 3), (2, s(40), 4)],
        [(1, s(60), 5), (2, s(7240), 6), (1, s(90), 7)],
    ]
    src = _stage(spark, tmp_path, chunks)
    got = _run_complete(spark, src, gap_s=60, name="sess_settled")

    rows = [r for c in chunks for r in c]
    batch = session_stats(
        spark.createDataFrame(rows, SCHEMA), gap_s=60, key_col="user_id", ts_col="ts"
    )
    want = {
        (r["user_id"], r["session_start"]): (r["n_events"], r["duration_s"])
        for r in batch.collect()
    }
    assert got == want
    # shape sanity: user 1 merged into ONE 4-event session across
    # batches; user 2 split into two
    u1 = [k for k in got if k[0] == 1]
    assert len(u1) == 1 and got[u1[0]][0] == 4
    assert len([k for k in got if k[0] == 2]) == 2


def test_gap_tie_convention(spark, tmp_path):
    # batch sessionize: a new session starts only when gap > gap_s, so
    # events exactly gap_s apart SHARE a session; session_window must
    # agree (event landing exactly on session end merges) — pinned here
    # because the whole settled≡batch contract rests on it
    s = lambda k: T0 + dt.timedelta(seconds=k)
    chunks = [
        [(1, s(0), 0), (1, s(60), 1)],     # tie: same session
        [(2, s(0), 2), (2, s(61), 3)],     # over gap: split
    ]
    src = _stage(spark, tmp_path, chunks)
    got = _run_complete(spark, src, gap_s=60, name="sess_tie")
    assert len([k for k in got if k[0] == 1]) == 1
    assert len([k for k in got if k[0] == 2]) == 2
    batch = session_stats(
        spark.createDataFrame([r for c in chunks for r in c], SCHEMA),
        gap_s=60,
    )
    want = {
        (r["user_id"], r["session_start"]): (r["n_events"], r["duration_s"])
        for r in batch.collect()
    }
    assert got == want


def test_append_mode_emits_closed_sessions_once(spark, tmp_path):
    # append + watermark: a session row emits exactly once, after the
    # watermark passes its close; the trailing in-flight session stays
    # in state — so a far-future flush event on a sentinel key drives
    # the watermark past every real session
    s = lambda k: T0 + dt.timedelta(seconds=k)
    chunks = [
        [(1, s(0), 0), (1, s(30), 1)],
        [(1, s(7200), 2)],                 # closes session 1 by silence
        [(99, s(100000), 3)],              # watermark flush (sentinel)
    ]
    src = _stage(spark, tmp_path, chunks)
    stream = streaming_session_stats(
        spark, src, spark.createDataFrame([], SCHEMA).schema, gap_s=60
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("sess_append")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = [r for r in spark.table("sess_append").collect() if r["user_id"] == 1]
    assert len(rows) == 2  # each closed session exactly once
    by_start = {r["session_start"]: (r["n_events"], r["duration_s"]) for r in rows}
    starts = sorted(by_start)
    assert starts[1] - starts[0] == 7200
    assert by_start[starts[0]] == (2, 30)
    assert by_start[starts[1]] == (1, 0)


def test_runner_stream_sessions_drops_no_late_events(spark, sf_dir, tmp_path):
    # the runner stages time-ordered, mtime-ordered slices, so no event
    # is older than the watermark when its micro-batch runs; the count
    # is Spark's own numRowsDroppedByWatermark, summed over the query
    import json

    from osm_notes_ingestion_spark import runner

    out = str(tmp_path / "out")
    runner.main(["--job", "stream_sessions", "--sf-dir", sf_dir, "--output", out])
    with open(f"{out}/metrics/runs.jsonl") as f:
        recs = [json.loads(line) for line in f]
    counters = next(r["counters"] for r in recs if r["stage"] == "stream_sessions")
    assert counters["n_late_dropped"] == 0
    assert counters["n_emitted"] + counters["n_in_flight"] == counters["n_batch_total"]
