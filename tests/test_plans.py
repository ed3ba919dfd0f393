"""Physical-plan audits: the claims in ARCHITECTURE.md, asserted.

A correct result from a wrong plan is a 100TB incident waiting; these
tests fail if assignment stops being one map-only Arrow pass, if a
shuffle sneaks into the map-only pipeline, or if pushdown/pruning
regress.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from osm_notes_ingestion_spark.operators.extract import extract_pages
from osm_notes_ingestion_spark.operators.spatial_join import assign_countries
from osm_notes_ingestion_spark.sources.polygons import prep_polygons
from osm_notes_ingestion_spark.sources.synth import pages_df, world_polygons


@pytest.fixture(scope="module")
def assigned_plan(spark, sf_dir):
    # earlier modules leave extract_pages(pages_df(...)) cached; planned
    # onto that cache, the printed plan repeats the cached subplan (its
    # initial and final AQE plans) and the node counts below double
    spark.catalog.clearCache()
    index = prep_polygons(world_polygons(), level=7)
    df = assign_countries(spark, extract_pages(pages_df(spark, sf_dir)), index)
    return df._jdf.queryExecution().executedPlan().toString()


def test_assignment_is_one_arrow_pass(assigned_plan):
    """Two Arrow kernels and nothing else in Python: extraction, then
    assignment (the broadcast cover lookup + PIP in one batch pass), each
    one MapInArrow, with no pandas conversion, no refine UDF, no branch
    union — and the pages are scanned once, not once per branch."""
    assert assigned_plan.count("MapInPandas") == 0, assigned_plan
    assert assigned_plan.count("MapInArrow") == 2, assigned_plan
    assert assigned_plan.index("MapInArrow assign(") < assigned_plan.index("MapInArrow extract(")
    assert "Union" not in assigned_plan
    assert "ArrowEvalPython" not in assigned_plan
    assert assigned_plan.count("FileScan parquet") == 1, assigned_plan


def test_fused_is_one_arrow_pass(spark, sf_dir):
    """The fused pass crosses into Python once: one MapInArrow (extract
    then assign on the same batch), no pandas conversion, one page scan."""
    from osm_notes_ingestion_spark.operators.fused import fused_extract_assign

    spark.catalog.clearCache()
    index = prep_polygons(world_polygons(), level=7)
    plan = (
        fused_extract_assign(spark, pages_df(spark, sf_dir), index)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("MapInArrow") == 1, plan
    assert "MapInPandas" not in plan
    assert "ArrowEvalPython" not in plan
    assert plan.count("FileScan parquet") == 1, plan


def test_assignment_has_no_shuffle(assigned_plan):
    # broadcast exchange is fine; a hash/range repartition of the fact
    # side is not (map-only pipeline claim)
    import re

    shuffles = re.findall(r"Exchange (\w+)", assigned_plan)
    assert all("hashpartitioning" not in s and "rangepartitioning" not in s for s in shuffles), shuffles


def test_tile_rollup_is_one_shuffle(spark, sf_dir):
    """A nine-zoom count rollup is one aggregation: each point explodes
    to every zoom map-side, so the plan has one shuffle, no per-zoom
    union, and one scan of the fact table."""
    import re

    from osm_notes_ingestion_spark.operators.tiles import tile_counts

    pts = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        (F.col("event_id") % 180 - 90).cast("double").alias("lat"),
        (F.col("event_id") % 360 - 180).cast("double").alias("lon"),
    )
    plan = tile_counts(pts, max_zoom=8)._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"(?<![A-Za-z])Exchange ", plan)) == 1, plan
    assert "Union" not in plan, plan
    assert plan.count("FileScan parquet") == 1, plan


def test_watermark_filter_pushdown(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").where(
        F.col("ts") > F.lit("2024-01-05 00:00:00")
    ).select("event_id", "ts")
    plan = ev._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(ts), GreaterThan(ts" in plan
    # column pruning: html-sized columns absent from ReadSchema
    assert "props" not in plan.split("ReadSchema")[1][:200]


def test_refine_fraction_is_small(spark, sf_dir):
    """The fast-path claim: at cover level 9 only boundary-cell points pay
    for Python (reference analog: 95% fast-path hit)."""
    index = prep_polygons(world_polygons(), level=9)
    df = assign_countries(spark, extract_pages(pages_df(spark, sf_dir)), index)
    stats = df.where(F.col("lat").isNotNull()).agg(
        F.avg(F.col("refined").cast("double")).alias("frac")
    ).collect()[0]
    assert stats.frac < 0.10, f"refine fraction {stats.frac:.3f} too high"


def test_s2_hex_encoders_stay_in_codegen(spark, sf_dir):
    """The alternate cell encoders are pure JVM expressions: no Python
    eval node may appear in their plans (the only allowed Python stage is
    the extraction mapInArrow upstream)."""
    from osm_notes_ingestion_spark.functions.cells_alt import hex_cell_col, s2_cell_col

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").selectExpr(
        "event_id", "CAST(event_id % 90 AS DOUBLE) AS lat", "CAST(event_id % 180 AS DOUBLE) AS lon"
    )
    for col in (s2_cell_col(F.col("lat"), F.col("lon"), 10), hex_cell_col(F.col("lat"), F.col("lon"), 6)):
        plan = ev.withColumn("c", col)._jdf.queryExecution().executedPlan().toString()
        assert "EvalPython" not in plan and "MapInPandas" not in plan
        # "*(1)" prefix = the whole-stage-codegen stage marker
        assert "*(1) Project" in plan


def test_bucketed_neardup_has_no_cartesian(spark):
    """The gated near-dup SCALE path must be an equi-join on srp_bucket —
    no CartesianProduct / BroadcastNestedLoopJoin anywhere (the cartesian
    shape is reserved for the explicitly-labeled exactness baseline)."""
    from osm_notes_ingestion_spark.operators.similarity import (
        embedding_near_dups_bucketed,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    plan = (
        embedding_near_dups_bucketed(emb, threshold=0.999)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_knn_df_probe_join_is_broadcast(spark, sf_dir):
    """knn_df's candidate-cell join must broadcast the (small) query-cell
    table — the fact side joins map-side on its JVM-computed cell."""
    from osm_notes_ingestion_spark.operators.knn import knn_df

    pts = extract_pages(pages_df(spark, sf_dir)).where(F.col("has_coords"))
    qdf = spark.createDataFrame(
        [(1, 10.0, 10.0), (2, -20.0, 100.0)], "query_id long, qlat double, qlon double"
    )
    plan = (
        knn_df(spark, pts, qdf, k=3, level=6)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_range_join_is_equi_not_nested_loop(spark, sf_dir):
    """The interval join must plan as an EQUI join on the time bucket
    (the explicit scale shape) — Catalyst plans raw ts-inequality joins
    as BroadcastNestedLoopJoin, O(|facts|*|intervals|)."""
    from osm_notes_ingestion_spark.operators.merge import range_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select("event_id", "ts")
    intervals = spark.range(10).selectExpr(
        "id AS interval_id",
        "timestamp_ntz '2024-01-01 00:00:00' + make_interval(0,0,0,0, id*12, 0, 0) AS w_start",
        "timestamp_ntz '2024-01-01 00:00:00' + make_interval(0,0,0,0, id*12+18, 0, 0) AS w_end",
    )
    plan = (
        range_join(ev, intervals, "ts", "w_start", "w_end", grain_seconds=21600)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_ivf_probe_join_is_broadcast(spark):
    """IVF candidate scoring must broadcast the (tiny) probe table — the
    corpus side stays put, partitioned by cent_id at scale."""
    from osm_notes_ingestion_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    plan = (
        ivf_topk(emb, queries, k=5)._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_distributed_refine_keeps_parallelism(spark, sf_dir):
    """The distributed path's cell-local refine: the JVM resolves each
    point's candidate list (`_resolve_candidates`), and ONE cogroup
    refine reads the per-point contender list, so a point with k partial
    candidates crosses Arrow once, not k times. Both cogroup inputs hash
    by cell to a fixed partition count, and AQE must not coalesce them
    into one task after they run (a small shuffle holding the stage's
    Python PIP time). No pandas UDF, no sort-merge join."""
    from osm_notes_ingestion_spark.operators.spatial_join import (
        assign_countries_distributed,
    )
    from osm_notes_ingestion_spark.sources.polygons import (
        prep_polygons_distributed,
        ring_rows_df,
    )

    cover = prep_polygons_distributed(spark, ring_rows_df(spark, world_polygons()), level=7)
    df = assign_countries_distributed(
        spark, extract_pages(pages_df(spark, sf_dir)), cover, level=7
    )
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("FlatMapCoGroupsInArrow") == 1, final
    refine = final[final.index("FlatMapCoGroupsInArrow") :].split("\n", 1)[0]
    assert "refine_cell(" in refine and "_contender_ids" in refine, refine
    assert "coalesced" not in final, final
    exchanges = [ln for ln in final.splitlines() if "Exchange " in ln]
    assert len(exchanges) == 2 and all("REPARTITION_BY_NUM" in ln for ln in exchanges), final
    assert "ArrowEvalPython" not in plan
    assert "SortMergeJoin" not in plan


def test_array_minhash_bands_have_no_exchange(spark):
    """The array-shaped MinHash path is map-only end to end: from the
    corpus scan to (id, band, bandsig) there must be ZERO exchanges —
    the first shuffle in the whole LSH pipeline is the banded candidate
    self-join. (The row-shaped path necessarily shuffles for its per-doc
    groupBy min; this asserts the array path really removed it.)"""
    import re

    from osm_notes_ingestion_spark.operators.textops import (
        doc_shingle_sets,
        minhash_band_signatures_sets,
    )

    docs = spark.createDataFrame(
        [(i, "one two three four five") for i in range(10)],
        "doc_id long, text string",
    )
    bands = minhash_band_signatures_sets(doc_shingle_sets(docs))
    plan = bands._jdf.queryExecution().executedPlan().toString()
    assert re.findall(r"Exchange (\w+)", plan) == []


def test_decontaminate_benchmark_side_is_broadcast(spark):
    """The eval-suite n-gram hash set must reach the corpus side as a
    BroadcastHashJoin (single corpus scan; the per-doc aggregate is the
    only shuffle, map-side combined to ~1 row per doc)."""
    from osm_notes_ingestion_spark.operators.textops import decontaminate

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta") for i in range(20)],
        "doc_id long, text string",
    )
    bench = docs.where(F.col("doc_id") % 7 == 0)
    plan = (
        decontaminate(docs, bench, n=5)._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("BroadcastHashJoin") >= 1, plan
    assert "SortMergeJoin" not in plan, plan
    # map-side partial agg present (the 1-row-per-doc shuffle guarantee)
    assert "partial_sum" in plan or "partial" in plan.lower(), plan


def test_paragraph_dedup_winner_is_aggregate_not_window(spark):
    """The per-paragraph first-occurrence winner must be a hash
    AGGREGATE with a partial (map-side) phase — NOT a row_number
    window, whose hot-key partition would serialize a 10^9-copy
    boilerplate paragraph through one task."""
    from osm_notes_ingestion_spark.operators.textops import paragraph_dedup, word_chunks

    docs = spark.createDataFrame(
        [(i, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12") for i in range(20)],
        "doc_id long, text string",
    )
    pd = paragraph_dedup(
        docs.select("doc_id", word_chunks(F.col("text")).alias("paras")), F.col("paras")
    )
    plan = pd._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan
    # winner agg shows up as partial_min over the (id,pos) struct
    assert "partial_min" in plan or "min(" in plan, plan


def test_grid_cluster_has_no_cartesian(spark):
    """grid_cluster's candidate generation must be the eps-cell equi-join
    (3x3 ring explode → join on cell) — never a cartesian / nested-loop
    pair enumeration, and the ring explode must stay JVM-side (no
    Python/Arrow eval anywhere in the pair path)."""
    from osm_notes_ingestion_spark.operators.clustering import grid_cluster

    pts = spark.range(200).selectExpr(
        "id", "CAST(id % 90 AS LONG) * 1000000 AS lat_e6", "CAST(id % 180 AS LONG) * 1000000 AS lon_e6"
    )
    plan = (
        grid_cluster(pts, 2_000_000, 3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_nearest_leg_arrow_is_on_filtered_branch(spark, sf_dir):
    """The assign_country gate's nearest-polygon leg must keep Arrow
    volume to the NO_MATCH fraction: exactly one MapInPandas node (the
    nearest kernel), sitting under the country_id = -1 filtered branch,
    with the matched branch skipping it — and no cartesian /
    nested-loop joins anywhere."""
    from osm_notes_ingestion_spark.plans.queries_spatial import q_assign_country

    plan = (
        q_assign_country(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the nearest kernel appears EXACTLY once, and both branches read the
    # materialized assignment: no page scan is planned again per branch
    assert plan.count("_nearest_batches") == 1, plan
    assert "FileScan parquet" not in plan, plan
    assert "= -1)" in plan  # ...and it sits above the NO_MATCH filter
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
