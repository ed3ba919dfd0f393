"""Checkpoint/resume equivalence, changed-polygon re-assignment, and
Structured Streaming tile counts (AvailableNow trigger ≡ batch result)."""

from __future__ import annotations

import copy

import pytest
from pyspark.sql import functions as F

from osm_notes_ingestion_spark.operators.extract import extract_pages
from osm_notes_ingestion_spark.operators.spatial_join import assign_countries
from osm_notes_ingestion_spark.operators.tiles import tile_counts
from osm_notes_ingestion_spark.sources.checkpoint import (
    SnapshotStore,
    reassign_changed_polygons,
    resume_assignments,
)
from osm_notes_ingestion_spark.sources.polygons import prep_polygons
from osm_notes_ingestion_spark.sources.synth import pages_df, world_polygons
from osm_notes_ingestion_spark.streaming.incremental import (
    IncrementalRunner,
    streaming_tile_counts,
)


@pytest.fixture(scope="module")
def ext(spark, sf_dir):
    df = extract_pages(pages_df(spark, sf_dir)).cache()
    yield df
    df.unpersist()  # a later module's plan over the same pages must run its own extraction


@pytest.fixture(scope="module")
def index():
    return prep_polygons(world_polygons(), level=7)


def _as_map(df):
    return {r.id: r.country_id for r in df.collect()}


def test_resume_equals_full_run(spark, ext, index, tmp_path):
    full = _as_map(assign_countries(spark, ext, index).select("id", "country_id"))

    store = SnapshotStore(str(tmp_path / "snaps"))
    # checkpoint only half the rows, with one deliberately-wrong value
    partial = (
        assign_countries(spark, ext.where(F.col("id") % 2 == 0), index)
        .select("id", "country_id")
        .withColumn(
            "country_id", F.when(F.col("id") == 42, F.lit(999)).otherwise(F.col("country_id"))
        )
    )
    store.write_snapshot(partial)

    resumed = _as_map(resume_assignments(spark, ext, index, store, verify_sample_mod=2))
    assert resumed == full  # wrong row invalidated + recomputed, rest restored


def test_changed_polygon_reassign(spark, ext, index):
    old_assign = assign_countries(spark, ext, index).select("id", "country_id")

    polys2 = copy.deepcopy(world_polygons())
    # shrink Midland (id 2) to a sliver: many points leave it
    for p in polys2:
        if p["country_id"] == 2:
            from osm_notes_ingestion_spark.sources.synth import _rect

            p["rings"] = [_rect(6, 47, 8, 49)]
    new_index = prep_polygons(polys2, level=7)

    incremental = _as_map(
        reassign_changed_polygons(spark, ext, old_assign, index, new_index, [2])
    )
    full = _as_map(assign_countries(spark, ext, new_index).select("id", "country_id"))
    assert incremental == full


def test_incremental_runner_watermark(spark, index, sf_dir, tmp_path):
    pages = pages_df(spark, sf_dir).cache()
    cutoff = "2024-01-01 12:00:00"

    store = SnapshotStore(str(tmp_path / "inc"))
    runner = IncrementalRunner(spark, index, store)

    first_half = pages.where(F.col("warc_ts") <= F.lit(cutoff))
    r1 = runner.run_batch(first_half)
    assert r1.advanced and r1.n_input == first_half.count()

    r2 = runner.run_batch(pages)  # only rows after watermark are new
    assert r2.n_input == pages.count() - first_half.count()
    # final snapshot ≡ full batch assignment
    full = _as_map(
        assign_countries(spark, extract_pages(pages), index).select("id", "country_id")
    )
    assert _as_map(store.latest(spark)) == full


def _status_store(spark):
    """Spark's SQL status store (with its Scala collection converter),
    once every queued listener event has been applied."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
    return conv, spark._jsparkSession.sharedState().statusStore()


def _last_execution(spark):
    conv, status = _status_store(spark)
    return max((e.executionId() for e in conv.asJava(status.executionsList())), default=-1)


def _executions(spark, after):
    """{execution id: [(node name, node description, output rows,
    is a Python node)]} of the SQL executions after `after`.

    A scan of a cached plan repeats that plan's nodes with the same
    accumulators, but only the execution that filled the cache records
    rows for them, so `rows` says which execution ran a node. A Python
    node is one with a "time to run Python workers" metric."""
    conv, status = _status_store(spark)
    out = {}
    for e in conv.asJava(status.executionsList()):
        eid = e.executionId()
        if eid <= after:
            continue
        values = conv.asJava(status.executionMetrics(eid))
        nodes = []
        for n in conv.asJava(status.planGraph(eid).allNodes()):
            metrics = {m.name(): values.get(m.accumulatorId()) for m in conv.asJava(n.metrics())}
            rows = int((metrics.get("number of output rows") or "0").replace(",", ""))
            nodes.append((n.name(), n.desc(), rows, "time to run Python workers" in metrics))
        out[eid] = nodes
    return out


def _kernel_executions(spark, after, *kernels):
    """Ids of the SQL executions after `after` in which a MapInArrow
    running one of the `kernels` (by function name) produced rows."""
    prefixes = tuple(f"MapInArrow {k}(" for k in kernels)
    return [
        eid
        for eid, nodes in _executions(spark, after).items()
        if any(name == "MapInArrow" and desc.startswith(prefixes) and rows for name, desc, rows, _ in nodes)
    ]


def _warc_cutoffs(pages, n):
    """The `n` warc_ts values that cut `pages` into n consecutive slices."""
    ts = sorted(r.warc_ts for r in pages.select("warc_ts").collect())
    return [ts[len(ts) * (k + 1) // n - 1] for k in range(n)]


def test_run_batch_assigns_once(spark, index, sf_dir, tmp_path):
    """One run_batch call makes one Python pass in two SQL executions:
    the gates' aggregate, where exactly one Python node produces rows (the
    fused extract+assign kernel), and the snapshot write, a JVM-only job
    over the cached result that also counts what it writes."""
    runner = IncrementalRunner(spark, index, SnapshotStore(str(tmp_path / "once")))
    pages = pages_df(spark, sf_dir).cache()
    for cut in _warc_cutoffs(pages, 2):  # first batch, then one merging into a snapshot
        before = _last_execution(spark)
        runner.run_batch(pages.where(F.col("warc_ts") <= F.lit(cut)))
        execs = _executions(spark, before)
        assert len(execs) == 2, sorted(execs)
        python = [
            (eid, desc) for eid, nodes in execs.items() for _, desc, rows, py in nodes if py and rows
        ]
        assert len(python) == 1, python
        assert _kernel_executions(spark, before, "assign", "extract_assign") == [python[0][0]]
        writes = [
            nodes for nodes in execs.values()
            if any(name == "Execute InsertIntoHadoopFsRelationCommand" for name, *_ in nodes)
        ]
        assert len(writes) == 1
        assert not [desc for _, desc, rows, py in writes[0] if py and rows]
    pages.unpersist()


@pytest.mark.parametrize("full_resync_threshold", [None, 10**9])
def test_run_batch_slices_accumulate(spark, index, sf_dir, tmp_path, full_resync_threshold):
    """Three consecutive slices, each fed as every page up to its cutoff:
    n_input is the watermark-filtered count (whether or not the resync
    check counts the batch first), n_assigned is cumulative, the watermark
    follows the slices, an empty batch changes nothing, and the final
    snapshot equals a one-shot assignment."""
    pages = pages_df(spark, sf_dir).cache()
    store = SnapshotStore(str(tmp_path / "slices"))
    runner = IncrementalRunner(spark, index, store, full_resync_threshold=full_resync_threshold)
    prev = None
    for cut in _warc_cutoffs(pages, 3):
        upto = pages.where(F.col("warc_ts") <= F.lit(cut))
        fresh = upto if prev is None else upto.where(F.col("warc_ts") > F.lit(prev))
        r = runner.run_batch(upto)
        assert (r.n_input, r.n_assigned) == (fresh.count(), upto.count())
        assert r.advanced and not r.full_resync
        assert (r.watermark_before, r.watermark_after, runner.watermark) == (prev, cut, cut)
        prev = cut
    # nothing past the watermark: an empty batch keeps the snapshot and watermark
    r = runner.run_batch(pages)
    assert (r.n_input, r.n_assigned, r.advanced, runner.watermark) == (0, pages.count(), False, prev)
    full = _as_map(
        assign_countries(spark, extract_pages(pages), index).select("id", "country_id")
    )
    assert _as_map(store.latest(spark)) == full
    pages.unpersist()


def test_extraction_rejects_block_watermark_advance(spark, index, sf_dir, tmp_path):
    """The extraction-reject gate: a batch whose rejected share exceeds
    max_gap_pct leaves the watermark where it was, so the next run reads
    the slice again."""
    pages = pages_df(spark, sf_dir).cache()
    first_cut, _ = _warc_cutoffs(pages, 2)
    runner = IncrementalRunner(spark, index, SnapshotStore(str(tmp_path / "rejgate")))
    assert runner.run_batch(pages.where(F.col("warc_ts") <= F.lit(first_cut))).advanced
    rest = pages.where(F.col("warc_ts") > F.lit(first_cut))
    assert extract_pages(rest).where("rejected").count() > 0  # synth pages carry rejects
    runner.max_gap_pct = 0.0
    r = runner.run_batch(pages)
    assert r.n_input == rest.count()
    assert not r.advanced and r.gap_pct == 0.0
    assert (r.watermark_before, r.watermark_after, runner.watermark) == (first_cut,) * 3
    pages.unpersist()


def test_runner_assign_job_assigns_once(spark, sf_dir, tmp_path):
    """The runner's --job assign evaluates its plan once: the write, the
    assignment metrics, the partition lineage and extraction_metrics all
    read materialized results instead of re-running extraction and
    assignment."""
    from osm_notes_ingestion_spark import runner

    spark.catalog.clearCache()  # a cached extraction of these pages (`ext`) would stand in
    before = _last_execution(spark)
    runner.main(["--job", "assign", "--sf-dir", sf_dir, "--output", str(tmp_path / "out")])
    assigning = _kernel_executions(spark, before, "assign")
    assert len(assigning) == 1, assigning
    extracting = _kernel_executions(spark, before, "extract")
    assert len(extracting) == 1, extracting


def test_runner_resume_job_extracts_once(spark, sf_dir, tmp_path):
    """--job assign --resume extracts the pages once, both with no
    snapshot yet and merging into the one the first run left: the
    restore, the assignment and extraction_metrics read one cached
    extraction."""
    from osm_notes_ingestion_spark import runner

    spark.catalog.clearCache()  # a cached extraction of these pages (`ext`) would stand in
    argv = ["--job", "assign", "--resume", "--sf-dir", sf_dir, "--output", str(tmp_path / "out")]
    for _ in range(2):
        before = _last_execution(spark)
        runner.main(argv)
        extracting = _kernel_executions(spark, before, "extract")
        assert len(extracting) == 1, extracting
    assigned = spark.read.parquet(str(tmp_path / "out" / "assignments"))
    assert assigned.count() == pages_df(spark, sf_dir).count()


def test_missing_children_block_watermark_advance(spark, index, sf_dir, tmp_path):
    """The reference's integrity gate: a batch whose parents lack child
    rows (notes without comments, J5 anti-join) must NOT advance the
    watermark (processAPINotes_34_updateLastValues.sql:92-105); the next
    run re-reads the same slice. A complete child set advances it."""
    pages = pages_df(spark, sf_dir).cache()
    store = SnapshotStore(str(tmp_path / "gapgate"))
    runner = IncrementalRunner(spark, index, store, max_gap_pct=5.0)

    # children for only ~half the pages → gap ≈ 50% >> 5% → refused
    torn = pages.select("id").where(F.col("id") % 2 == 0)
    r1 = runner.run_batch(pages, children=torn)
    assert not r1.advanced and r1.gap_pct > 5.0
    assert runner.watermark is None

    # complete children (with fan-out — multiple kids per parent is fine)
    complete = pages.select("id").unionByName(pages.select("id"))
    r2 = runner.run_batch(pages, children=complete)
    assert r2.advanced and r2.gap_pct == 0.0
    assert runner.watermark is not None


def test_full_resync_trigger(spark, index, sf_dir, tmp_path):
    pages = pages_df(spark, sf_dir)
    store = SnapshotStore(str(tmp_path / "resync"))
    runner = IncrementalRunner(spark, index, store, full_resync_threshold=10)
    r = runner.run_batch(pages)
    assert r.full_resync


def test_streaming_equals_batch(spark, sf_dir, tmp_path):
    pages = pages_df(spark, sf_dir)
    src = str(tmp_path / "stream_src")
    pages.write.mode("overwrite").parquet(src)

    stream_df = streaming_tile_counts(spark, src, pages.schema, z=4, window="24 hours")
    q = (
        stream_df.writeStream.format("memory")
        .queryName("tiles_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        (r.window_start, r.x, r.y): r.cnt
        for r in spark.sql("select * from tiles_stream").collect()
    }
    from osm_notes_ingestion_spark.functions.mercator import tile_x_col, tile_y_col

    ext = extract_pages(pages).where(F.col("has_coords"))
    exp_df = (
        ext.groupBy(
            F.window("warc_ts", "24 hours")["start"].alias("window_start"),
            tile_x_col(F.col("lon"), 4).alias("x"),
            tile_y_col(F.col("lat"), 4).alias("y"),
        )
        .agg(F.count("*").alias("cnt"))
    )
    exp = {(r.window_start, r.x, r.y): r.cnt for r in exp_df.collect()}
    assert got == exp


def test_stateful_fold_state_crosses_batches(spark, tmp_path):
    """applyInPandasWithState: a close in batch 0 and a reopen in batch 2
    must compose through the state store — the settled status is 'open'
    and intermediate updates show the interleaving."""
    import datetime as dt
    import glob
    import os
    import shutil
    import time

    from osm_notes_ingestion_spark.streaming.stateful import streaming_status_fold

    t0 = dt.datetime(2020, 1, 1)
    chunks = [
        [(1, "closed", t0, 0), (2, "opened", t0, 1)],
        [(1, "commented", t0 + dt.timedelta(seconds=1), 2), (2, "hidden", t0 + dt.timedelta(seconds=1), 3)],
        [(1, "reopened", t0 + dt.timedelta(seconds=2), 4), (2, "commented", t0 + dt.timedelta(seconds=2), 5)],
    ]
    src = str(tmp_path / "src")
    os.makedirs(src)
    schema = "note_id long, event string, created_at timestamp, seq long"
    for i, rows in enumerate(chunks):
        tmp = str(tmp_path / f"chunk{i}")
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        dst = os.path.join(src, f"{i:04d}.parquet")
        shutil.move(part, dst)
        os.utime(dst, (time.time() + i, time.time() + i))

    stream = streaming_status_fold(spark, src, spark.createDataFrame([], schema).schema)
    q = (
        stream.writeStream.format("memory")
        .queryName("stateful_fold_test")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    updates = spark.table("stateful_fold_test").collect()
    # one update per (note, batch containing that note) -> 3 per note here
    assert len(updates) == 6
    by_note = {}
    for r in sorted(updates, key=lambda r: r.n_events):
        by_note.setdefault(r.note_id, []).append(r.status)
    # note 1: closed -> (commented keeps close) -> reopened: open settles
    assert by_note[1] == ["close", "close", "open"]
    # note 2: open -> hidden -> (commented keeps hidden)
    assert by_note[2] == ["open", "hidden", "hidden"]


def test_snapshot_store_root_is_local(tmp_path, monkeypatch):
    # a file:// root means its local path; any other scheme is refused
    # at construction instead of becoming a local directory "hdfs:"
    monkeypatch.chdir(tmp_path)
    assert SnapshotStore(f"file://{tmp_path}/snaps").root == f"{tmp_path}/snaps"
    assert (tmp_path / "snaps").is_dir()
    with pytest.raises(ValueError, match="SnapshotStore.*'hdfs'"):
        SnapshotStore("hdfs://namenode/snaps")
    assert not (tmp_path / "hdfs:").exists()


def test_metrics_log_root_is_local(tmp_path, monkeypatch):
    from osm_notes_ingestion_spark.operators.metrics import MetricsLog

    monkeypatch.chdir(tmp_path)
    log = MetricsLog(f"file://{tmp_path}/metrics")
    log.log_counters("run", "stage", {"n": 1})
    assert (tmp_path / "metrics" / "runs.jsonl").is_file()
    with pytest.raises(ValueError, match="MetricsLog.*'s3a'"):
        MetricsLog("s3a://bucket/metrics")
    assert not (tmp_path / "s3a:").exists()


def test_distributed_assign_extracts_once(spark, sf_dir):
    """The distributed path's fast and refined branches read one
    materialized points join: over extracted pages, one extraction node
    produces rows in the whole query."""
    from osm_notes_ingestion_spark.plans.queries_spatial import q_assign_country_distributed

    spark.catalog.clearCache()  # a cached extraction of these pages (`ext`) would stand in
    before = _last_execution(spark)
    q_assign_country_distributed(spark, sf_dir).collect()
    extracting = [
        (eid, desc)
        for eid, nodes in _executions(spark, before).items()
        for name, desc, rows, _ in nodes
        if name == "MapInArrow" and desc.startswith("MapInArrow extract(") and rows
    ]
    assert len(extracting) == 1, extracting
