"""Grid-density point clustering — a deterministic DBSCAN variant.

No reference counterpart (the reference's densest analog is its zone
triage, which PARTITIONS space; this op CLUSTERS the points themselves
— "where are the page-coordinate hotspots"). Semantics are therefore
pinned by an independent brute-force oracle (tests/test_clustering.py),
like the other beyond-reference ops (overlap_audit, sampling).

Spec (DBSCAN with the order-dependence removed):
- metric: the engine's pinned planar µdeg metric (knn's): squared
  microdegree distance with longitude wrap;
- CORE point: ≥ min_pts points within eps of it (count includes self);
- clusters: connected components of the core-core graph (edges = core
  pairs within eps); label = MIN point id in the component (the CC
  operator's canonical label);
- BORDER point: non-core within eps of ≥1 core — joins the SMALLEST
  label among its core neighbours (classic DBSCAN assigns border points
  to whichever cluster scanned them first; min-label is the
  deterministic version, so results are reproducible across partition
  counts and engines);
- NOISE: everything else, cluster = -1.

Scale design: candidate pairs come from an equi-join on eps-sized
geocells — each point joins the 3x3 ring of its cell (a pure-JVM
array/explode, 9 rows per point, no Python), so two points within eps
always share a ring cell (the level is chosen so the cell's SHORT side
≥ eps) and the exact distance filter runs map-side after the join. One
shuffle for the pair join, then the aggregations and the CC rounds
(operators/components.py — the published large-star/small-star
MapReduce algorithm, no driver graph state). Per-cell cost is bounded
by physical point density at eps resolution; a pathologically hot cell
(the USA/Germany skew the north rule names) is an AQE-splittable
equi-join key, and eps is typically small (city-block scale) precisely
where density is high. Noise points never enter the CC.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.cells import LEVEL_SHIFT, Y_SHIFT
from .components import connected_components, incremental_components


def _level_for_eps(eps_e6: int) -> int:
    """Deepest level whose cell SHORT side (lat extent, 180e6/2^level
    µdeg) still covers eps — then any two points within eps differ by
    ≤1 cell index per axis, so the 3x3 ring is a complete candidate
    cover. Capped at 29 (the encoding's index width)."""
    level = 0
    while level < 29 and (180_000_000 >> (level + 1)) >= eps_e6:
        level += 1
    return level


def _wrap_d2(alat, alon, blat, blon):
    dlon = F.abs(alon - blon)
    dlon = F.least(dlon, F.lit(360_000_000) - dlon)
    dlat = alat - blat
    return dlat * dlat + dlon * dlon


def _indexed(points: DataFrame, level: int, id_col: str, lat_e6_col: str, lon_e6_col: str) -> DataFrame:
    """→ (id, plat, plon, cx, cy): integer µdeg coords + eps-cell index.
    JVM floor arithmetic on the integers — no float in the partitioning
    path."""
    n = 1 << level
    pts = points.select(
        F.col(id_col).alias("id"),
        F.col(lat_e6_col).cast("long").alias("plat"),
        F.col(lon_e6_col).cast("long").alias("plon"),
    )
    x = F.floor((F.col("plon") + F.lit(180_000_000)) * F.lit(n) / F.lit(360_000_000))
    y = F.floor((F.col("plat") + F.lit(90_000_000)) * F.lit(n) / F.lit(180_000_000))
    x = F.least(F.greatest(x, F.lit(0)), F.lit(n - 1))
    y = F.least(F.greatest(y, F.lit(0)), F.lit(n - 1))
    return pts.withColumn("cx", x.cast("long")).withColumn("cy", y.cast("long"))


def _eps_pairs(probe: DataFrame, build: DataFrame, level: int, eps2: int) -> DataFrame:
    """All (id, id_b) with id from `probe`, id_b from `build`, distinct
    ids, within eps — via the 3x3-ring equi-join (probe side exploded to
    its ring, build side keyed by its own cell; lon wraps via pmod, lat
    rows outside [0, n-1] dropped via array_compact — no pole dups).
    Complete because the eps-level cell short side ≥ eps."""
    n = 1 << level

    def cell_of(cx, cy):
        return (
            F.lit(level).cast("long") * F.lit(1 << LEVEL_SHIFT).cast("long")
            + cy * F.lit(1 << Y_SHIFT).cast("long")
            + cx
        )

    right = build.select(
        F.col("id").alias("id_b"),
        F.col("plat").alias("blat"),
        F.col("plon").alias("blon"),
        cell_of(F.col("cx"), F.col("cy")).alias("cell"),
    )
    ring = F.array_compact(
        F.array(
            *[
                F.when(
                    (F.col("cy") + F.lit(dy) >= 0) & (F.col("cy") + F.lit(dy) <= n - 1),
                    cell_of(
                        F.pmod(F.col("cx") + F.lit(dx), F.lit(n)).cast("long"),
                        F.col("cy") + F.lit(dy),
                    ),
                )
                for dx in (-1, 0, 1)
                for dy in (-1, 0, 1)
            ]
        )
    )
    left = probe.select("id", "plat", "plon", F.explode(ring).alias("cell"))
    return (
        left.join(right, "cell")
        .where(
            (F.col("id") != F.col("id_b"))
            & (_wrap_d2(F.col("plat"), F.col("plon"), F.col("blat"), F.col("blon")) <= F.lit(eps2))
        )
        # a pair can meet in up to 2 ring cells when lon wraps at small n;
        # distinct keeps neighbor COUNTS exact
        .select("id", "id_b")
        .distinct()
    )


def grid_cluster(
    points: DataFrame,
    eps_e6: int,
    min_pts: int = 4,
    id_col: str = "id",
    lat_e6_col: str = "lat_e6",
    lon_e6_col: str = "lon_e6",
) -> DataFrame:
    """→ (id, cluster, role) — cluster = min point id in the cluster, -1
    for noise; role ∈ {'core','border','noise'}. See module spec."""
    level = _level_for_eps(int(eps_e6))
    eps2 = int(eps_e6) * int(eps_e6)
    pts = _indexed(points, level, id_col, lat_e6_col, lon_e6_col)
    pairs = _eps_pairs(pts, pts, level, eps2)

    counts = pairs.groupBy("id").agg(F.count("*").alias("n_nb"))
    flags = pts.select("id").join(counts, "id", "left").select(
        "id", (F.coalesce(F.col("n_nb"), F.lit(0)) + 1 >= min_pts).alias("is_core")
    )

    core_ids = flags.where("is_core").select("id")
    core_edges = (
        pairs.join(core_ids.withColumnRenamed("id", "id_b"), "id_b")
        .join(core_ids, "id")
        .select(F.col("id").alias("src"), F.col("id_b").alias("dst"))
    )
    labels = connected_components(core_edges, nodes=core_ids.withColumnRenamed("id", "node"))

    core_out = (
        core_ids.join(labels, core_ids["id"] == labels["node"])
        .select("id", F.col("comp").alias("cluster"), F.lit("core").alias("role"))
    )
    # border: non-core with ≥1 core neighbour → smallest core-neighbour label
    border_out = (
        pairs.join(flags.where(~F.col("is_core")).select("id"), "id")
        .join(labels.withColumnRenamed("node", "id_b"), "id_b")
        .groupBy("id")
        .agg(F.min("comp").alias("cluster"))
        .withColumn("role", F.lit("border"))
    )
    rest = (
        pts.select("id")
        .join(core_out.select("id"), "id", "left_anti")
        .join(border_out.select("id"), "id", "left_anti")
        .select("id", F.lit(-1).cast("long").alias("cluster"), F.lit("noise").alias("role"))
    )
    return core_out.unionByName(border_out).unionByName(rest)


# ------------------------------------------------------- incremental twin


@dataclass
class ClusterState:
    """Append-only maintenance state for grid_cluster (same role the
    incremental-CC labels play for streaming near-dup: VERDICT r4 #4's
    "don't re-read the whole graph" rule applied to density clustering).

    points:       (id, plat, plon, n_nb)  n_nb EXCLUDES self
    core_labels:  (node, comp)            core points only, comp = min id
    border_edges: (id, core_id)           non-core -> in-eps core pairs

    Append-only streams only: core status is MONOTONE under insertions
    (n_nb never decreases), which is what makes the increment sound —
    deletions would demote cores and are out of contract.
    """

    points: DataFrame
    core_labels: DataFrame
    border_edges: DataFrame
    eps_e6: int
    min_pts: int


def _materialized(state: ClusterState) -> ClusterState:
    """The state with each frame local-checkpointed (eager): each fold
    reads the prior state several times, so a lazy state nests every
    earlier fold's plan and the plans, not the data, dominate the cost
    (components.connected_components keeps the same discipline)."""
    return ClusterState(
        state.points.localCheckpoint(eager=True),
        state.core_labels.localCheckpoint(eager=True),
        state.border_edges.localCheckpoint(eager=True),
        state.eps_e6,
        state.min_pts,
    )


def _labels_from(state: ClusterState) -> DataFrame:
    """(id, cluster, role) from maintenance state: cores wear their CC
    label, borders take the SMALLEST core-neighbour component (the same
    deterministic rule grid_cluster pins), everyone else is noise. The
    border resolution is a label join, not a distance computation."""
    core_out = state.core_labels.select(
        F.col("node").alias("id"), F.col("comp").alias("cluster"), F.lit("core").alias("role")
    )
    border_out = (
        state.border_edges.join(
            state.core_labels.withColumnRenamed("node", "core_id"), "core_id"
        )
        .groupBy("id")
        .agg(F.min("comp").alias("cluster"))
        .withColumn("role", F.lit("border"))
    )
    rest = (
        state.points.select("id")
        .join(core_out.select("id"), "id", "left_anti")
        .join(border_out.select("id"), "id", "left_anti")
        .select("id", F.lit(-1).cast("long").alias("cluster"), F.lit("noise").alias("role"))
    )
    return core_out.unionByName(border_out).unionByName(rest)


def grid_cluster_init(
    points: DataFrame,
    eps_e6: int,
    min_pts: int = 4,
    id_col: str = "id",
    lat_e6_col: str = "lat_e6",
    lon_e6_col: str = "lon_e6",
) -> tuple[ClusterState, DataFrame]:
    """Build maintenance state from an initial batch; labels equal
    grid_cluster on the same input."""
    level = _level_for_eps(int(eps_e6))
    eps2 = int(eps_e6) * int(eps_e6)
    pts = _indexed(points, level, id_col, lat_e6_col, lon_e6_col)
    pairs = _eps_pairs(pts, pts, level, eps2)
    counts = pairs.groupBy("id").agg(F.count("*").alias("n_nb"))
    state_pts = pts.select("id", "plat", "plon").join(counts, "id", "left").select(
        "id", "plat", "plon", F.coalesce(F.col("n_nb"), F.lit(0)).alias("n_nb")
    )
    core_ids = state_pts.where(F.col("n_nb") + 1 >= min_pts).select("id")
    core_edges = (
        pairs.join(core_ids.withColumnRenamed("id", "id_b"), "id_b")
        .join(core_ids, "id")
        .select(F.col("id").alias("src"), F.col("id_b").alias("dst"))
    )
    labels = connected_components(core_edges, nodes=core_ids.withColumnRenamed("id", "node"))
    border_edges = (
        pairs.join(core_ids, "id", "left_anti")  # probe side non-core
        .join(core_ids.withColumnRenamed("id", "id_b"), "id_b")  # build side core
        .select("id", F.col("id_b").alias("core_id"))
    )
    state = _materialized(ClusterState(state_pts, labels, border_edges, int(eps_e6), int(min_pts)))
    return state, _labels_from(state)


def grid_cluster_increment(
    state: ClusterState,
    new_points: DataFrame,
    id_col: str = "id",
    lat_e6_col: str = "lat_e6",
    lon_e6_col: str = "lon_e6",
) -> tuple[ClusterState, DataFrame]:
    """Fold a new batch into the state WITHOUT recomputing old-old pairs
    globally; labels after the fold equal a full grid_cluster over all
    points seen (pinned in tests/test_clustering.py across 3 batches).

    What gets recomputed where:
    - distances: new×new and new×old pairs always; old×old pairs ONLY
      around PROMOTED points (old points whose neighbour count crossed
      min_pts this batch) — everything else is untouched, so per-batch
      distance work is O(new + promoted neighbourhoods), not O(corpus);
    - components: incremental_components over the delta edge set (every
      in-eps core pair with ≥1 endpoint new or promoted) seeded with the
      prior labels — prior clusters ride along as contracted supernodes;
    - borders: edge-list maintenance (add new in-eps noncore→core pairs,
      drop edges of points that stopped being non-core); resolving a
      border's cluster is a join against the fresh labels, so cluster
      MERGES relabel borders with no new distance work.

    New ids must be disjoint from state ids (append-only contract)."""
    level = _level_for_eps(state.eps_e6)
    eps2 = state.eps_e6 * state.eps_e6
    min_pts = state.min_pts

    new = _indexed(new_points, level, id_col, lat_e6_col, lon_e6_col)
    old = _indexed(
        state.points.select("id", "plat", "plon"), level, "id", "plat", "plon"
    )

    pairs_nn = _eps_pairs(new, new, level, eps2)
    pairs_no = _eps_pairs(new, old, level, eps2)  # (new id, old id_b)

    # --- neighbour counts (monotone: only additions)
    inc_old = pairs_no.groupBy("id_b").agg(F.count("*").alias("inc"))
    old_pts = (
        state.points.join(inc_old.withColumnRenamed("id_b", "id"), "id", "left")
        .select(
            "id", "plat", "plon", (F.col("n_nb") + F.coalesce(F.col("inc"), F.lit(0))).alias("n_nb")
        )
    )
    cnt_new = (
        pairs_nn.groupBy("id").agg(F.count("*").alias("c1"))
        .join(pairs_no.groupBy("id").agg(F.count("*").alias("c2")), "id", "full")
        .select("id", (F.coalesce(F.col("c1"), F.lit(0)) + F.coalesce(F.col("c2"), F.lit(0))).alias("n_nb"))
    )
    new_pts = new.select("id", "plat", "plon").join(cnt_new, "id", "left").select(
        "id", "plat", "plon", F.coalesce(F.col("n_nb"), F.lit(0)).alias("n_nb")
    )
    points2 = old_pts.unionByName(new_pts)

    prior_core = state.core_labels.select(F.col("node").alias("id"))
    old_core_now = old_pts.where(F.col("n_nb") + 1 >= min_pts).select("id")
    promoted = old_core_now.join(prior_core, "id", "left_anti")
    new_core = new_pts.where(F.col("n_nb") + 1 >= min_pts).select("id")
    all_core = old_core_now.unionByName(new_core)

    # old×old pairs around promoted points (the only old-old distances
    # the increment needs): promoted probe side vs the full old build
    # side — bucket-pruned to the promoted neighbourhoods by the cell
    # equi-join itself
    promoted_idx = old.join(promoted, "id")
    pairs_po = _eps_pairs(promoted_idx, old, level, eps2)  # (promoted, old)

    core_b = all_core.withColumnRenamed("id", "id_b")
    delta_edges = (
        pairs_nn.join(new_core, "id").join(core_b, "id_b")
        .unionByName(pairs_no.join(new_core, "id").join(core_b, "id_b"))
        .unionByName(
            # old core -> new core (reverse direction of pairs_no)
            pairs_no.select(F.col("id_b").alias("id"), F.col("id").alias("id_b"))
            .join(all_core, "id")
            .join(new_core.withColumnRenamed("id", "id_b"), "id_b")
        )
        .unionByName(pairs_po.join(promoted, "id").join(core_b, "id_b"))
        .select(F.col("id").alias("src"), F.col("id_b").alias("dst"))
    )
    labels2 = incremental_components(
        delta_edges, state.core_labels, nodes=all_core.withColumnRenamed("id", "node")
    )

    # --- border edge maintenance
    noncore_new = new_pts.join(new_core, "id", "left_anti").select("id")
    noncore_old = old_pts.join(old_core_now, "id", "left_anti").select("id")
    add_edges = (
        # new non-core -> any core (new or old) it is within eps of
        pairs_nn.join(noncore_new, "id").join(new_core.withColumnRenamed("id", "id_b"), "id_b")
        .unionByName(pairs_no.join(noncore_new, "id").join(old_core_now.withColumnRenamed("id", "id_b"), "id_b"))
        # old non-core -> NEW core
        .unionByName(
            pairs_no.select(F.col("id_b").alias("id"), F.col("id").alias("id_b"))
            .join(noncore_old, "id")
            .join(new_core.withColumnRenamed("id", "id_b"), "id_b")
        )
        # old non-core -> PROMOTED core (reverse of pairs_po)
        .unionByName(
            pairs_po.select(F.col("id_b").alias("id"), F.col("id").alias("id_b"))
            .join(noncore_old, "id")
            .join(promoted.withColumnRenamed("id", "id_b"), "id_b")
        )
        .select("id", F.col("id_b").alias("core_id"))
    )
    border_edges2 = (
        state.border_edges.join(promoted, "id", "left_anti")  # promoted stopped being border
        .unionByName(add_edges)
        .distinct()
    )

    state2 = _materialized(ClusterState(points2, labels2, border_edges2, state.eps_e6, min_pts))
    return state2, _labels_from(state2)
