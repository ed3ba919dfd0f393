"""Incremental ingestion: micro-batch driver + Structured Streaming.

The reference "streams" by 15-minute cron polls with a guarded watermark
(bin/process/processAPINotes.sh:469-544, README.md:213-222). Two engine
equivalents:

1. `IncrementalRunner` — batch-incremental: each run processes rows with
   `warc_ts > watermark`, merges assignments into the snapshot store, and
   advances the watermark ONLY if the gap quality gate passes
   (processAPINotes_34_updateLastValues.sql:92-124). A batch larger than
   `full_resync_threshold` triggers a full recompute instead — the
   reference's MAX_NOTES=10k planet-resync switch
   (bin/process/processAPINotes.sh:655-659, etc/properties.sh:85-87).
   A batch crosses into Python once: `fused_extract_assign` extracts and
   assigns in one mapInArrow whose cached result every later step reads.

2. `streaming_tile_counts` — true Structured Streaming: readStream over
   a parquet directory, event-time watermark, tumbling-window counts.
   Used with Trigger.AvailableNow in tests; the same query shape runs
   continuously against a live source (Kafka/files) in production.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..operators.extract import extract_pages
from ..operators.fused import fused_extract_assign
from ..sources.checkpoint import SnapshotStore


@dataclass
class IncrementalResult:
    n_input: int
    n_assigned: int
    watermark_before: object
    watermark_after: object
    advanced: bool
    full_resync: bool
    gap_pct: float = 0.0


class IncrementalRunner:
    def __init__(
        self,
        spark: SparkSession,
        index,
        store: SnapshotStore,
        max_gap_pct: float = 5.0,
        full_resync_threshold: int | None = None,
    ):
        self.spark = spark
        self.index = index
        self.store = store
        self.max_gap_pct = max_gap_pct
        self.full_resync_threshold = full_resync_threshold
        self.watermark = None

    def run_batch(
        self, pages: DataFrame, children: DataFrame | None = None, child_key: str = "id"
    ) -> IncrementalResult:
        """Process one incremental batch.

        `children` (optional): the child-row stream of the batch (the
        comments to the pages' notes). When provided, the watermark
        advance is gated on the REFERENCE's integrity criterion — the
        notes-without-comments gap (merge.gap_stats, the J5 anti-join;
        processAPINotes_34_updateLastValues.sql:92-105) — in addition to
        the extraction-reject guard. A parent whose children have not
        arrived yet means the API slice was torn; advancing the watermark
        would skip the missing children forever.

        Spark work per batch: the fused pass, cached and materialized by
        one aggregate (row count, rejects, max warc_ts); the snapshot
        write (previous snapshot anti-joined with the batch ids, union
        the batch's assignments), a JVM-only job over the cache that
        also counts the rows it writes (an `Observation`); the gap join
        when `children` is given. `batch.count()` runs first only when
        `full_resync_threshold` is set.
        """
        batch = pages
        if self.watermark is not None:
            batch = batch.where(F.col("warc_ts") > F.lit(self.watermark))
        n_input = None
        full_resync = False
        if self.full_resync_threshold is not None:
            # the resync decision needs the batch size before any work
            n_input = batch.count()
            full_resync = n_input >= self.full_resync_threshold
            if full_resync:
                batch = pages  # recompute everything (planet-resync analog)

        # the batch's one Python pass; everything below reads the cache
        done = (
            fused_extract_assign(self.spark, batch, self.index)
            .select("id", "country_id", "rejected", "warc_ts")
            .persist()
        )
        # quality gates, both required to advance:
        # 1. extraction health: % of rows rejected by coordinate validation
        # 2. (reference's criterion) integrity gap: % of batch parents
        #    with NO child rows — merge.gap_stats, the J5 anti-join
        gates = done.agg(
            F.count("*").alias("n"),
            F.sum(F.col("rejected").cast("long")).alias("rej"),
            F.max("warc_ts").alias("maxts"),
        ).collect()[0]
        if n_input is None:
            n_input = gates.n

        assigned = done.select("id", "country_id")
        prev = self.store.latest(self.spark)
        if prev is not None and not full_resync:
            keep = prev.select("id", "country_id").join(assigned.select("id"), "id", "left_anti")
            merged = keep.unionByName(assigned)
        else:
            merged = assigned
        # counted as it is written: no job reads the snapshot back
        written = Observation("snapshot")
        self.store.write_snapshot(merged.observe(written, F.count(F.lit(1)).alias("n")))
        n_assigned = written.get["n"]

        rej_pct = (100.0 * (gates.rej or 0) / gates.n) if gates.n else 0.0
        gap_pct = 0.0
        if children is not None:
            from ..operators.merge import gap_stats

            parents = done.select(F.col("id").alias("_nk"))
            kids = children.select(F.col(child_key).alias("_nk"))
            gap_pct = float(
                gap_stats(parents, kids, note_key="_nk").collect()[0].gap_pct or 0.0
            )
        before = self.watermark
        advanced = (
            rej_pct <= self.max_gap_pct
            and gap_pct <= self.max_gap_pct
            and gates.maxts is not None
        )
        if advanced:
            self.watermark = max(filter(None, [self.watermark, gates.maxts]))
        done.unpersist()
        return IncrementalResult(
            n_input, n_assigned, before, self.watermark, advanced, full_resync, gap_pct
        )


def streaming_tile_counts(
    spark: SparkSession,
    source_dir: str,
    schema,
    z: int = 4,
    window: str = "1 hour",
    watermark_delay: str = "2 hours",
) -> DataFrame:
    """readStream → extract-lite → windowed z/x/y counts with watermark.

    Late rows beyond `watermark_delay` are dropped by the engine's state
    eviction — the streaming twin of the batch tile rollup. Returns the
    streaming DataFrame; caller attaches the sink/trigger.
    """
    from ..functions.mercator import tile_x_col, tile_y_col

    stream = spark.readStream.schema(schema).parquet(source_dir)
    ext = extract_pages(stream)
    pts = ext.where(F.col("has_coords"))
    return (
        pts.withWatermark("warc_ts", watermark_delay)
        .groupBy(
            F.window("warc_ts", window).alias("w"),
            tile_x_col(F.col("lon"), z).alias("x"),
            tile_y_col(F.col("lat"), z).alias("y"),
        )
        .agg(F.count("*").alias("cnt"))
        .select(F.col("w.start").alias("window_start"), "x", "y", "cnt")
    )
