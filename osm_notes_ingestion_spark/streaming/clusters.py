"""Streaming incremental density clustering: grid_cluster maintenance
over micro-batches, store-backed (the foreachBatch shape streaming/
dedup.py pins for LSH state, applied to the ClusterState algebra of
operators/clustering.py).

Stores under `root/`:
- points/bkt=K/batch_id=N   (id, plat, plon) — each batch's NEW points,
  hash-bucketed by their eps-CELL: K = pmod(xxhash64(cell), B). Spatial
  pruning, not just key pruning: a micro-batch derives its touched set
  from the RING-2 cells of its own points (every old point whose
  neighbour count, core status, or pair set can change lies within
  Chebyshev distance 2 cells of some new point — new×old pairs reach
  ring 1, and PROMOTED points' own pair sweeps reach 1 further), and
  reads only matching bkt= directories. Lossless for the same reason
  the dedup store's is: equal cells hash to equal buckets.
- nbinc/bkt=K/batch_id=N    (id, cell, inc) — per-batch neighbour-count
  increments (new points' initial counts AND old points' deltas),
  bucketed by the point's OWN cell so a point's total folds from its
  one bucket: n_nb(id) = Σ inc over batches. Counts are mutable but the
  STORE stays append-only.
- labels/gen=N              (node, comp) — core labels, full rewrite per
  batch. Inherent to min-id labeling: a merge can relabel an arbitrary
  fraction of components, and incremental_components reads the full
  prior labels as its seed anyway (same contract as the near-dup label
  maintenance, VERDICT r4 #4). Partitioning labels by comp and
  rewriting only merged components is the documented next hardening.
- border/bkt=K/batch_id=N   (id, core_id) — border-edge ADDS, append
  only: an edge (noncore, core) can only stop mattering when `id` is
  PROMOTED (core status is monotone; distances never change), so live
  borders = all adds whose id is not in the current core set. No
  delete markers needed.

The bucketed sub-stores (points, nbinc, border) follow streaming/
store.py's layout: its layout check (constant B, no leftover compaction
marker), its pruned reader (a replayed batch N hides batch_id ≥ N at the
path level) and its two-phase generation compaction.

Exactly-once: every writer lands under its batch_id partition
(idempotent foreachBatch — a replayed batch overwrites its own rows);
labels/gen=N is keyed by batch id too, so a replay rewrites the same
generation instead of forking history.

Settled invariant (tests/test_streaming_clusters.py): after any prefix
of batches, labels from the stores EQUAL grid_cluster over every point
seen — the streaming twin is the batch operator, not an approximation.

Contract: ids unique across the stream; append-only (deletions would
demote cores — out of contract, same as the batch increment).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.clustering import _eps_pairs, _indexed, _level_for_eps
from ..operators.components import incremental_components
from .store import (
    _bkt,
    _fs_and_path,
    _pruned_store,
    _touched_buckets,
    check_layout,
    compact,
    partition_ids,
    read_all,
    write_leaves,
)

_EMPTY_LABELS = "node long, comp long"


def _cell_col(level: int):
    n = 1 << level
    from ..functions.cells import LEVEL_SHIFT, Y_SHIFT

    x = F.floor((F.col("plon") + F.lit(180_000_000)) * F.lit(n) / F.lit(360_000_000))
    y = F.floor((F.col("plat") + F.lit(90_000_000)) * F.lit(n) / F.lit(180_000_000))
    x = F.least(F.greatest(x, F.lit(0)), F.lit(n - 1)).cast("long")
    y = F.least(F.greatest(y, F.lit(0)), F.lit(n - 1)).cast("long")
    return (
        F.lit(level).cast("long") * F.lit(1 << LEVEL_SHIFT).cast("long")
        + y * F.lit(1 << Y_SHIFT).cast("long")
        + x
    )


def _ring_cells(level: int, k: int):
    """Array column of the (2k+1)² ring cells around (cx, cy) — JVM-side,
    lon wraps, lat clipped rows dropped."""
    n = 1 << level
    from ..functions.cells import LEVEL_SHIFT, Y_SHIFT

    def cell_of(cx, cy):
        return (
            F.lit(level).cast("long") * F.lit(1 << LEVEL_SHIFT).cast("long")
            + cy * F.lit(1 << Y_SHIFT).cast("long")
            + cx
        )

    return F.array_compact(
        F.array(
            *[
                F.when(
                    (F.col("cy") + F.lit(dy) >= 0) & (F.col("cy") + F.lit(dy) <= n - 1),
                    cell_of(F.pmod(F.col("cx") + F.lit(dx), F.lit(n)).cast("long"), F.col("cy") + F.lit(dy)),
                )
                for dx in range(-k, k + 1)
                for dy in range(-k, k + 1)
            ]
        )
    )


def _labels(spark: SparkSession, store_root: str, before_batch: int | None = None) -> DataFrame:
    """Core labels of the newest generation, optionally only among gens
    < before_batch (replay: a batch must seed from its PREDECESSOR's
    labels, never from its own crashed generation)."""
    gens = partition_ids(spark, f"{store_root}/labels", "gen")
    if before_batch is not None:
        gens = {g for g in gens if g < before_batch}
    if not gens:
        return spark.createDataFrame([], _EMPTY_LABELS)
    return spark.read.parquet(f"{store_root}/labels/gen={max(gens)}")


def cluster_labels(spark: SparkSession, store_root: str) -> DataFrame:
    """(id, cluster, role) from the settled stores — cores from the
    latest label generation, borders resolved by a label join (adds
    whose id is not core), noise = everything else."""
    labels = _labels(spark, store_root)
    points = read_all(spark, f"{store_root}/points", "id long, plat long, plon long")
    border = read_all(spark, f"{store_root}/border", "id long, core_id long")
    core_out = labels.select(F.col("node").alias("id"), F.col("comp").alias("cluster"), F.lit("core").alias("role"))
    border_out = (
        border.join(labels.select(F.col("node").alias("id")), "id", "left_anti")  # promoted ids drop out
        .join(labels.withColumnRenamed("node", "core_id"), "core_id")
        .groupBy("id")
        .agg(F.min("comp").alias("cluster"))
        .withColumn("role", F.lit("border"))
    )
    rest = (
        points.select("id")
        .join(core_out.select("id"), "id", "left_anti")
        .join(border_out.select("id"), "id", "left_anti")
        .select("id", F.lit(-1).cast("long").alias("cluster"), F.lit("noise").alias("role"))
    )
    return core_out.unionByName(border_out).unionByName(rest)


def process_cluster_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    store_root: str,
    eps_e6: int,
    min_pts: int = 4,
    n_buckets: int = 16,
    id_col: str = "id",
    lat_e6_col: str = "lat_e6",
    lon_e6_col: str = "lon_e6",
) -> None:
    """Fold one micro-batch into the stores (foreachBatch body). Store
    READS are pruned to the buckets of the batch's ring-2 cells; the
    distance work is new×slice plus promoted neighbourhoods, exactly the
    batch increment's contract."""
    check_layout(spark, store_root, n_buckets)
    level = _level_for_eps(int(eps_e6))
    eps2 = int(eps_e6) * int(eps_e6)

    new = _indexed(batch_df, level, id_col, lat_e6_col, lon_e6_col).cache()
    cell = _cell_col(level)

    # touched buckets from the batch's OWN ring-2 cells (driver collect of
    # ≤ n_buckets small ints — the dedup store's contract)
    ring2 = new.select(F.explode(_ring_cells(level, 2)).alias("cell"))
    touched = _touched_buckets(ring2, "cell", n_buckets)

    old = _pruned_store(
        spark, f"{store_root}/points", "id long, plat long, plon long", touched, batch_id
    )
    old = _indexed(old, level, "id", "plat", "plon").cache()
    inc_hist = _pruned_store(
        spark, f"{store_root}/nbinc", "id long, cell long, inc long", touched, batch_id
    )
    old_nb = inc_hist.groupBy("id").agg(F.sum("inc").alias("n_nb"))

    prior_labels = _labels(spark, store_root, before_batch=batch_id)

    # each pair set feeds the counts, the delta edges and the border adds
    pairs_nn = _eps_pairs(new, new, level, eps2).cache()
    pairs_no = _eps_pairs(new, old, level, eps2).cache()

    # --- neighbour-count increments (append-only nbinc rows)
    inc_old = pairs_no.groupBy("id_b").agg(F.count("*").alias("inc")).withColumnRenamed("id_b", "id")
    cnt_new = (
        pairs_nn.groupBy("id").agg(F.count("*").alias("c1"))
        .join(pairs_no.groupBy("id").agg(F.count("*").alias("c2")), "id", "full")
        .select("id", (F.coalesce(F.col("c1"), F.lit(0)) + F.coalesce(F.col("c2"), F.lit(0))).alias("inc"))
    )
    new_inc = new.select("id", "plat", "plon").join(cnt_new, "id", "left").select(
        "id", F.coalesce(F.col("inc"), F.lit(0)).alias("inc"), "plat", "plon"
    )
    inc_rows = (
        old.select("id", "plat", "plon").join(inc_old, "id").select("id", "inc", "plat", "plon")
        .unionByName(new_inc)
        .withColumn("cell", cell)
        .select("id", "cell", "inc", _bkt("cell", n_buckets).alias("bkt"))
    )

    # --- core sets
    old_total = old_nb.join(inc_old.withColumnRenamed("inc", "d"), "id", "left").select(
        "id", (F.col("n_nb") + F.coalesce(F.col("d"), F.lit(0))).alias("n_nb")
    )
    prior_core = prior_labels.select(F.col("node").alias("id"))
    old_core_now = old_total.where(F.col("n_nb") + 1 >= min_pts).select("id")
    promoted = old_core_now.join(prior_core, "id", "left_anti")
    new_core = new_inc.where(F.col("inc") + 1 >= min_pts).select("id")
    # core ids OUTSIDE the slice stay core and keep their labels — they
    # cannot gain or lose edges this batch (they are > 2 cells from every
    # new point), so all_core for edge building only needs the slice
    slice_core = old_core_now.unionByName(new_core)

    promoted_idx = old.join(promoted, "id")
    pairs_po = _eps_pairs(promoted_idx, old, level, eps2).cache()

    core_b = slice_core.withColumnRenamed("id", "id_b")
    delta_edges = (
        pairs_nn.join(new_core, "id").join(core_b, "id_b")
        .unionByName(pairs_no.join(new_core, "id").join(core_b, "id_b"))
        .unionByName(
            pairs_no.select(F.col("id_b").alias("id"), F.col("id").alias("id_b"))
            .join(slice_core, "id")
            .join(new_core.withColumnRenamed("id", "id_b"), "id_b")
        )
        .unionByName(pairs_po.join(promoted, "id").join(core_b, "id_b"))
        .select(F.col("id").alias("src"), F.col("id_b").alias("dst"))
    )
    all_core_nodes = prior_core.unionByName(slice_core).distinct().withColumnRenamed("id", "node")
    labels2 = incremental_components(delta_edges, prior_labels, nodes=all_core_nodes)

    # --- border-edge ADDS (bucketed by the border point's cell)
    noncore_new = new_inc.where(F.col("inc") + 1 < min_pts).select("id")
    noncore_old = old_total.where(F.col("n_nb") + 1 < min_pts).select("id")
    add_edges = (
        pairs_nn.join(noncore_new, "id").join(new_core.withColumnRenamed("id", "id_b"), "id_b")
        .unionByName(pairs_no.join(noncore_new, "id").join(old_core_now.withColumnRenamed("id", "id_b"), "id_b"))
        .unionByName(
            pairs_no.select(F.col("id_b").alias("id"), F.col("id").alias("id_b"))
            .join(noncore_old, "id")
            .join(new_core.withColumnRenamed("id", "id_b"), "id_b")
        )
        .unionByName(
            pairs_po.select(F.col("id_b").alias("id"), F.col("id").alias("id_b"))
            .join(noncore_old, "id")
            .join(promoted.withColumnRenamed("id", "id_b"), "id_b")
        )
        .select("id", F.col("id_b").alias("core_id"))
        .distinct()
    )
    border_rows = (
        add_edges.join(new.select("id", "plat", "plon").unionByName(old.select("id", "plat", "plon")), "id")
        .withColumn("cell", cell)
        .select("id", "core_id", _bkt("cell", n_buckets).alias("bkt"))
    )

    # --- writes, all keyed by batch_id (idempotent on replay)
    write_leaves(
        new.select("id", "plat", "plon").withColumn("bkt", _bkt(cell, n_buckets)),
        f"{store_root}/points",
        batch_id,
    )
    write_leaves(inc_rows, f"{store_root}/nbinc", batch_id)
    write_leaves(border_rows, f"{store_root}/border", batch_id)
    labels2.write.mode("overwrite").parquet(f"{store_root}/labels/gen={batch_id}")
    for df in (new, old, pairs_nn, pairs_no, pairs_po):
        df.unpersist()


def streaming_clusters(
    spark: SparkSession,
    source_dir: str,
    schema,
    store_root: str,
    eps_e6: int,
    min_pts: int = 4,
    n_buckets: int = 16,
    **kwargs,
):
    """readStream over a point directory → foreachBatch incremental
    clustering (process_cluster_batch). Returns the started
    StreamingQuery; run with trigger(availableNow=True) +
    awaitTermination for the settled result, then read
    cluster_labels(spark, store_root)."""
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
    )
    return (
        stream.writeStream.foreachBatch(
            lambda b, bid: process_cluster_batch(
                spark, b, bid, store_root, eps_e6, min_pts, n_buckets=n_buckets, **kwargs
            )
        )
        .option("checkpointLocation", f"{store_root}/_stream_checkpoint")
        .trigger(availableNow=True)
        .start()
    )


def compact_cluster_store(
    spark: SparkSession, store_root: str, keep_batches: int = 1
) -> int:
    """Fold settled batches of the points/nbinc/border stores into one
    consolidated generation each (streaming/store.compact: contract,
    crash recovery) — a bucket's child count stays ~(1 + keep_batches)
    instead of growing one dir per micro-batch forever. Returns the new
    generation number (positive), or 0 if nothing folded.

    Beyond concatenation, two folds genuinely SHRINK state:
    - nbinc: increments SUM into one row per (id, cell) — a point
      touched by a thousand batches compacts to one row;
    - border: edges whose id is now CORE are dropped outright (core
      status is monotone under insertions, so a promoted point can
      never need its border edges again), and survivors dedup.

    Label generations older than the newest two are pruned afterwards
    (replay needs the predecessor generation only)."""
    core = _labels(spark, store_root).select(F.col("node").alias("id"))

    def sum_increments(df: DataFrame) -> DataFrame:
        return df.groupBy("bkt", "id", "cell").agg(F.sum("inc").alias("inc"))

    def drop_dead_borders(df: DataFrame) -> DataFrame:
        # monotone-core argument: once core, never border again
        return df.join(core, "id", "left_anti").select("bkt", "id", "core_id").distinct()

    gen = compact(
        spark,
        store_root,
        {"points": lambda df: df, "nbinc": sum_increments, "border": drop_dead_borders},
        keep_batches,
    )
    fs, lroot = _fs_and_path(spark, f"{store_root}/labels")
    for g in sorted(partition_ids(spark, f"{store_root}/labels", "gen"))[:-2]:
        fs.delete(lroot.suffix(f"/gen={g}"), True)
    return gen
