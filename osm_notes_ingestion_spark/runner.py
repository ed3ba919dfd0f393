"""spark-submit entry point: the engine's batch job runner.

Usage (north rule: `spark-submit --py-files <zip> runner.py ...`):

    spark-submit --master local[32] \
        --py-files osm_notes_ingestion_spark.zip \
        osm_notes_ingestion_spark/runner.py \
        --job assign --sf-dir /root/testdata/sf0.1 --output /tmp/out \
        [--fanout 6] [--resume] [--snapshot-root /tmp/snaps] [--max-zoom 8]

Jobs:
    assign — pages → extract → country assignment (+ metrics + lineage)
    fused  — one-Arrow-pass extract+assign (raw-throughput pipeline)
    tiles  — assignment → z/x/y counts at every zoom
    knn / knn_bulk — k nearest pages (driver list / query DataFrame)
    dedup — exact + MinHash-LSH near-dup pairs + cluster labels
    stream_dedup — incremental foreachBatch LSH over staged file drops
    vectorize — tile rollup → dissolved regions (raster→vector)
    dwithin — sites-within-radius proximity join
    sessions — gap-based sessionization stats
    zorder — Morton-clustered parquet rewrite + footer pruning report
    tiles_distinct — mergeable distinct-contributor pyramid (bitmaps)
    incremental — watermark-bounded batch into the snapshot store

Writes parquet outputs under --output and metrics under --output/metrics.

Cold start: the spark-submit JVM starts before any Python runs, so this
session cannot add the class-data-sharing archive `session.get_spark`
builds under the checkout's `.cds/`. Pass it on the command line, with
the empty conf dir it was built with (JDK 17 refuses an archive while a
non-empty directory is on the classpath, and Spark puts its conf dir
there); a missing or mismatched archive starts the JVM normally:

    SPARK_CONF_DIR=$PWD/.cds/conf spark-submit \
        --driver-java-options "-XX:SharedArchiveFile=$(ls -t $PWD/.cds/driver-*.jsa | head -1) -Xlog:disable -Xlog:all=warning:stderr" \
        --master local[4] --py-files osm_notes_ingestion_spark.zip \
        submit_job.py --job incremental --sf-dir /root/testdata/sf0.001 --output /tmp/out
"""

from __future__ import annotations

import argparse
import time
import uuid


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(description="osm_notes_ingestion_spark runner")
    p.add_argument(
        "--job",
        required=True,
        choices=[
            "assign", "fused", "tiles", "knn", "knn_bulk", "incremental",
            "dedup", "stream_dedup", "vectorize", "dwithin", "sessions", "curate",
            "overlap", "sample", "cluster", "stream_cluster", "measures",
            "zorder", "tiles_distinct", "hull", "stream_sessions",
        ],
    )
    p.add_argument("--sf-dir", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--fanout", type=int, default=1)
    p.add_argument("--cover-level", type=int, default=9)
    p.add_argument("--max-zoom", type=int, default=8)
    p.add_argument("--min-zoom", type=int, default=0)
    p.add_argument("--k", type=int, default=5)
    p.add_argument("--query-points", default="1:35.0:-100.0")
    p.add_argument(
        "--query-parquet",
        default=None,
        help="parquet of (query_id, qlat, qlon) for --job knn_bulk "
        "(DataFrame-scale query sets via knn_df)",
    )
    p.add_argument(
        "--sites-parquet",
        default=None,
        help="parquet of (site_id, lat, lon) for --job dwithin",
    )
    p.add_argument("--radius-m", type=float, default=200000.0)
    p.add_argument(
        "--benchmark",
        default=None,
        help="parquet of (doc_id, text) eval docs for --job curate's decontamination stage",
    )
    p.add_argument("--session-gap-s", type=int, default=3600)
    p.add_argument("--store-buckets", type=int, default=16)
    p.add_argument(
        "--hot-band-cap",
        type=int,
        default=None,
        help="star LSH band groups larger than this (stream_dedup; "
        "closure-equivalent for exact-dup families, O(n) not O(n^2))",
    )
    p.add_argument(
        "--strata",
        default="lang",
        help="comma-separated stratum columns for --job sample",
    )
    p.add_argument(
        "--cluster-eps-e6",
        type=int,
        default=1_000_000,
        help="DBSCAN eps in µdeg for --job cluster (1e6 ≈ 1°)",
    )
    p.add_argument(
        "--cluster-min-pts",
        type=int,
        default=4,
        help="DBSCAN min_pts for --job cluster",
    )
    p.add_argument(
        "--sample-n",
        type=int,
        default=None,
        help="exact rows per stratum (--job sample; content-stable draw)",
    )
    p.add_argument(
        "--sample-fraction",
        type=float,
        default=None,
        help="per-stratum Bernoulli fraction (--job sample)",
    )
    p.add_argument("--sample-seed", type=int, default=0)
    p.add_argument("--zorder-files", type=int, default=64)
    p.add_argument("--resume", action="store_true")
    p.add_argument("--snapshot-root", default=None)
    p.add_argument(
        "--boundaries",
        default=None,
        help="GeoJSON boundary file (NDJSON features or a FeatureCollection) "
        "to assign against instead of the synthetic world; repair cascade "
        "and antimeridian auto-split are applied on load",
    )
    return p


def main(argv: list[str] | None = None) -> None:
    args = build_parser().parse_args(argv)

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from .operators.extract import extract_pages, extraction_metrics
    from .operators.knn import knn
    from .operators.metrics import MetricsLog, partition_lineage
    from .operators.spatial_join import assign_countries, assignment_metrics
    from .operators.tiles import tile_counts
    from .sources.checkpoint import SnapshotStore, resume_assignments
    from .sources.polygons import prep_polygons
    from .sources.synth import pages_df, world_polygons
    from .streaming.store import _fs_and_path, local_path

    run_id = f"{args.job}-{uuid.uuid4().hex[:8]}"
    # first: refuses an --output the metrics log cannot write to before
    # any Spark work
    mlog = MetricsLog(f"{args.output}/metrics")

    # spark-submit owns the session config (master/executors); only fill
    # engine-required settings if absent
    spark = (
        SparkSession.builder.appName(f"osm_notes_ingestion_spark-{args.job}")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    t0 = time.perf_counter()

    pages = pages_df(spark, args.sf_dir, fanout=args.fanout)
    ext = extract_pages(pages)
    if args.boundaries:
        from .sources.geojson import load_polygons_geojson

        polys, stats = load_polygons_geojson(spark, args.boundaries)
        feats = [s for s in stats if s["repair_method"] != "skipped_parse_error"]
        mlog.log_counters(
            run_id,
            "boundary_import",
            {
                "n_features": len(feats),
                "n_loaded": len(polys),
                "n_renoded": sum(1 for s in feats if s["repair_method"] == "renode"),
                "n_split": sum(1 for s in feats if s["antimeridian_split"]),
                "n_dropped": sum(1 for s in feats if s["n_rings_out"] == 0),
                "n_partial_drop": sum(
                    1 for s in feats if s["repair_method"] == "partial_drop"
                ),
                "n_skipped_lines": len(stats) - len(feats),
            },
        )
    else:
        polys = world_polygons()
    index = prep_polygons(polys, level=args.cover_level)

    if args.job == "assign":
        # cached: the assignment and extraction_metrics read one extraction
        ext.persist()
        if args.resume:
            store = SnapshotStore(args.snapshot_root or f"{args.output}/snapshots")
            assigned = resume_assignments(spark, ext, index, store, verify_sample_mod=100)
            assigned.write.mode("overwrite").parquet(f"{args.output}/assignments")
            store.write_snapshot(spark.read.parquet(f"{args.output}/assignments"))
        else:
            # materialized once: the write, the metrics and the lineage
            # read the checkpoint, which keeps the producer's partition ids
            assigned = assign_countries(spark, ext, index).localCheckpoint(eager=True)
            assigned.write.mode("overwrite").parquet(f"{args.output}/assignments")
            mlog.log_stage(run_id, "assignment_metrics", assignment_metrics(assigned))
            mlog.log_stage(run_id, "lineage", partition_lineage(assigned))
        mlog.log_stage(run_id, "extraction_metrics", extraction_metrics(ext))
        ext.unpersist()
    elif args.job == "fused":
        # the raw-throughput pipeline: one Arrow pass, no second UDF stage
        from .operators.fused import fused_extract_assign

        assigned = (
            fused_extract_assign(spark, pages, index)
            .select("id", "url", "lat", "lon", "cell", "country_id")
            .localCheckpoint(eager=True)
        )
        assigned.write.mode("overwrite").parquet(f"{args.output}/assignments")
        mlog.log_stage(run_id, "lineage", partition_lineage(assigned))
    elif args.job == "tiles":
        assigned = assign_countries(spark, ext, index)
        tiles = tile_counts(
            assigned.where(F.col("lat").isNotNull()), max_zoom=args.max_zoom, min_zoom=args.min_zoom
        ).localCheckpoint(eager=True)
        tiles.write.mode("overwrite").parquet(f"{args.output}/tiles")
        mlog.log_stage(run_id, "lineage", partition_lineage(tiles, ("z",)))
    elif args.job == "zorder":
        # spatial file layout: rewrite the extracted points Morton-
        # clustered and report the footer-stats pruning a 10x10-degree
        # probe bbox would see (sources/layout.py)
        from .sources.layout import (
            bbox_file_stats,
            bbox_overlap_fraction,
            write_zordered,
        )

        pts = ext.where("has_coords AND NOT rejected")
        out_dir = f"{args.output}/zordered"
        write_zordered(pts, out_dir, n_files=args.zorder_files)
        files, rgs = bbox_file_stats(local_path(out_dir, "--job zorder"))
        probe = dict(lat_min=40.0, lat_max=50.0, lon_min=0.0, lon_max=10.0)
        mlog.log_counters(
            run_id,
            "zorder",
            {
                "n_files": len(files),
                "n_rowgroups": len(rgs),
                "probe_file_overlap_pct": round(
                    100.0 * bbox_overlap_fraction(files, **probe), 2
                ),
                "probe_rowgroup_overlap_pct": round(
                    100.0 * bbox_overlap_fraction(rgs, **probe), 2
                ),
            },
        )
    elif args.job == "hull":
        # per-country coverage footprint of the assigned pages
        from .operators.hull import convex_hull

        assigned = assign_countries(spark, ext, index)
        hulls = convex_hull(
            assigned.where("lat IS NOT NULL AND country_id IS NOT NULL")
        )
        hulls.write.mode("overwrite").parquet(f"{args.output}/hulls")
        mlog.log_counters(
            run_id,
            "hull",
            {"n_keys": spark.read.parquet(f"{args.output}/hulls").count()},
        )
    elif args.job == "tiles_distinct":
        # mergeable distinct-contributor pyramid (exact bitmap path)
        from .operators.tiles import tile_distinct

        pts = ext.where("has_coords AND NOT rejected").withColumn(
            "user_id", F.pmod(F.col("id") * F.lit(48271) + F.lit(11), F.lit(100000))
        )
        td = tile_distinct(pts, max_zoom=args.max_zoom, min_zoom=args.min_zoom)
        td.write.mode("overwrite").parquet(f"{args.output}/tiles_distinct")
        mlog.log_counters(
            run_id,
            "tiles_distinct",
            {"n_tiles": spark.read.parquet(f"{args.output}/tiles_distinct").count()},
        )
    elif args.job == "knn":
        queries = [
            (int(q.split(":")[0]), float(q.split(":")[1]), float(q.split(":")[2]))
            for q in args.query_points.split(",")
        ]
        res = knn(spark, ext.where(F.col("has_coords")), queries, k=args.k)
        res.write.mode("overwrite").parquet(f"{args.output}/knn")
    elif args.job == "knn_bulk":
        from .operators.knn import knn_df

        if not args.query_parquet:
            raise SystemExit("--job knn_bulk requires --query-parquet")
        qdf = spark.read.parquet(args.query_parquet)
        res = knn_df(spark, ext.where(F.col("has_coords")), qdf, k=args.k)
        res.write.mode("overwrite").parquet(f"{args.output}/knn")
        mlog.log_counters(run_id, "knn_bulk", {"n_queries": qdf.count()})
    elif args.job == "dedup":
        # training-data pipeline: exact dedup table + MinHash-LSH near-dup
        # pairs over the documents corpus
        from .operators.textops import (
            doc_shingle_sets,
            jaccard_filter_sets,
            lsh_candidate_pairs,
            minhash_band_signatures_sets,
        )

        docs = spark.read.parquet(f"{args.sf_dir}/documents.parquet").select("doc_id", "text")
        exact = (
            docs.withColumn("text_md5", F.md5(F.encode("text", "UTF-8")))
            .groupBy("text_md5")
            .agg(F.min("doc_id").alias("canonical_id"), F.count("*").alias("n_copies"))
        )
        exact.write.mode("overwrite").parquet(f"{args.output}/dedup_exact")
        sets = doc_shingle_sets(docs).persist()
        # persist cands: jaccard_filter_sets references it three times
        # (broadcast id set + both pair joins)
        cands = lsh_candidate_pairs(minhash_band_signatures_sets(sets)).persist()
        pairs = jaccard_filter_sets(cands, sets, threshold=0.8)
        pairs.write.mode("overwrite").parquet(f"{args.output}/near_dup_pairs")
        sets.unpersist(blocking=False)
        cands.unpersist(blocking=False)
        # cluster resolution: pairs → transitive groups → canonical doc
        from .operators.components import dedup_cluster_labels

        labels = dedup_cluster_labels(
            spark.read.parquet(f"{args.output}/near_dup_pairs"), docs.select("doc_id")
        )
        labels.write.mode("overwrite").parquet(f"{args.output}/clusters")
        mlog.log_counters(
            run_id,
            "dedup",
            {
                "n_docs": docs.count(),
                "n_clusters": labels.where(F.col("is_canonical") == 1).count(),
            },
        )
    elif args.job == "stream_dedup":
        # incremental near-dup maintenance: stream the documents corpus
        # file-by-file through the foreachBatch LSH index (streaming/dedup)
        from .streaming.dedup import compact_store, near_dup_pairs, streaming_near_dups

        docs = spark.read.parquet(f"{args.sf_dir}/documents.parquet").select(
            "doc_id", "text"
        )
        # the file stream source needs a DIRECTORY; stage the corpus as
        # multiple files so each becomes one micro-batch (prod shape:
        # daily drops landing in an ingest directory)
        src = f"{args.output}/stream_src"
        store = f"{args.output}/dedup_store"
        # re-run safety: staging writes fresh randomly-named part files,
        # so a persisted checkpoint+store would re-ingest every doc under
        # new batch ids (duplicate pairs, stale signatures) — this job
        # OWNS its output dir like every other runner job (mode
        # overwrite), so clear both before streaming. Hadoop FS delete,
        # not shutil: --output may be on HDFS/S3 (store reads already go
        # through the Hadoop FS API)
        for p in (src, store):
            fs, hp = _fs_and_path(spark, p)
            fs.delete(hp, True)
        docs.repartition(4).write.mode("overwrite").parquet(src)
        q = streaming_near_dups(
            spark,
            src,
            docs.schema,
            store,
            n_store_buckets=args.store_buckets,
            hot_band_cap=args.hot_band_cap,
        )
        q.awaitTermination()
        # maintenance fold while the stream is stopped: settled batches →
        # one generation per store, so bucket listings stay O(1) in
        # stream age (streaming/dedup.compact_store contract)
        gen = compact_store(spark, store, keep_batches=1)
        pairs = near_dup_pairs(spark, store)
        pairs.write.mode("overwrite").parquet(f"{args.output}/near_dup_pairs")
        # cluster labels maintained INCREMENTALLY, batch by batch — the
        # daily-label-maintenance shape (operators/components.
        # incremental_cluster_labels): each settled batch's pairs fold
        # into the prior labels through the contracted graph, so no step
        # ever re-reads the whole pair store (equivalence to the full
        # recompute is pytest-pinned)
        from .operators.components import incremental_cluster_labels

        # a stream that settled ZERO batches (empty source dir, skipped
        # staging on a future --resume) never creates {store}/pairs — a
        # bare read would raise PATH_NOT_FOUND, while the labels-is-None
        # handling below shows the zero-batch case is meant to work.
        # Same fs.exists guard the store reader applies.
        fs, pairs_path = _fs_and_path(spark, f"{store}/pairs")
        if fs.exists(pairs_path):
            pairs_by_batch = spark.read.option("basePath", f"{store}/pairs").parquet(
                f"{store}/pairs"
            )
            batch_ids = sorted(
                r.batch_id
                for r in pairs_by_batch.select("batch_id").distinct().collect()
            )
        else:
            batch_ids = []
        labels = None
        for bid in batch_ids:
            bpairs = pairs_by_batch.where(F.col("batch_id") == bid).drop("batch_id")
            labels = incremental_cluster_labels(
                bpairs,
                labels
                if labels is not None
                else docs.select(
                    "doc_id", F.col("doc_id").alias("cluster_id"), F.lit(1).alias("is_canonical")
                ),
                docs.select("doc_id"),
            ).localCheckpoint(eager=True)
        if labels is not None:
            labels.write.mode("overwrite").parquet(f"{args.output}/clusters")
        mlog.log_counters(
            run_id,
            "stream_dedup",
            {
                "n_pairs": pairs.count(),
                "compact_gen": gen,
                "n_clusters": (
                    labels.where(F.col("is_canonical") == 1).count() if labels is not None else 0
                ),
            },
        )
    elif args.job == "vectorize":
        # raster→vector: tile rollup → dissolved regions with degree bbox
        from .operators.tiles import dissolve_tiles, region_bbox_cols

        pts = ext.where(F.col("has_coords"))
        tiles = tile_counts(pts, max_zoom=args.max_zoom, min_zoom=args.max_zoom)
        regions = region_bbox_cols(dissolve_tiles(tiles, args.max_zoom), args.max_zoom)
        regions.write.mode("overwrite").parquet(f"{args.output}/regions")
        mlog.log_counters(run_id, "vectorize", {"n_regions": regions.count()})
    elif args.job == "dwithin":
        from .operators.dwithin import dwithin_join

        if not args.sites_parquet:
            raise SystemExit("--job dwithin requires --sites-parquet")
        sites = spark.read.parquet(args.sites_parquet)
        res = dwithin_join(ext.where(F.col("has_coords")), sites, args.radius_m)
        res.write.mode("overwrite").parquet(f"{args.output}/dwithin")
        mlog.log_counters(run_id, "dwithin", {"n_pairs": res.count()})
    elif args.job == "sessions":
        from .operators.merge import session_stats

        ev = spark.read.parquet(f"{args.sf_dir}/events.parquet")
        res = session_stats(ev, args.session_gap_s)
        res.write.mode("overwrite").parquet(f"{args.output}/sessions")
        mlog.log_counters(run_id, "sessions", {"n_sessions": res.count()})
    elif args.job == "stream_sessions":
        # session_window twin of --job sessions: stage the events as
        # one-file micro-batches, run the append-mode watermark stream,
        # and report emitted (= watermark-closed) vs batch-total
        # sessions — the difference is the in-flight tail still in
        # state when the finite stream drains, which a live deployment
        # would emit as later events advance the watermark
        from .operators.merge import session_stats
        from .streaming.sessions import streaming_session_stats

        ev = spark.read.parquet(f"{args.sf_dir}/events.parquet").select("user_id", "ts")
        src = f"{args.output}/stream_src"
        for p in (src, f"{args.output}/sessions", f"{args.output}/ckpt"):
            fs, hp = _fs_and_path(spark, p)
            fs.delete(hp, True)
        # stage time-ordered slices, one file each (part-NNNNN names sort
        # in range order), with mtimes in the same order: the file source
        # reads files by mtime, and with the 0 s watermark delay an event
        # no newer than the newest event already read is dropped as late
        ev.repartitionByRange(4, "ts").write.mode("overwrite").parquet(src)
        fs, hsrc = _fs_and_path(spark, src)
        names = sorted(st.getPath().getName() for st in fs.listStatus(hsrc))
        now_ms = int(time.time() * 1000)
        for i, name in enumerate(n for n in names if n.startswith("part-")):
            fs.setTimes(hsrc.suffix(f"/{name}"), now_ms + 1000 * i, -1)
        stream = streaming_session_stats(
            spark, src, ev.schema, gap_s=args.session_gap_s, max_files_per_trigger=1
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", f"{args.output}/sessions")
            .option("checkpointLocation", f"{args.output}/ckpt")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        emitted = spark.read.parquet(f"{args.output}/sessions").count()
        total = session_stats(ev, args.session_gap_s).count()
        n_late = sum(
            op.numRowsDroppedByWatermark for p in q.recentProgress for op in p.stateOperators
        )
        mlog.log_counters(
            run_id,
            "stream_sessions",
            {
                "n_emitted": emitted,
                "n_batch_total": total,
                "n_in_flight": total - emitted,
                "n_late_dropped": n_late,
            },
        )
    elif args.job == "curate":
        # the full training-data funnel: exact dedup → paragraph dedup →
        # quality filter → (optional) decontamination → near-dup
        # canonicals; per-stage survivor counts land in the metrics log
        from .operators.curate import curate_corpus

        docs = spark.read.parquet(f"{args.sf_dir}/documents.parquet").select(
            "doc_id", "text"
        )
        bench = (
            spark.read.parquet(args.benchmark).select("doc_id", "text")
            if args.benchmark
            else None
        )
        stages = curate_corpus(docs, bench)
        # persist each stage before counting so the funnel counts don't
        # re-execute upstream stages; unpersist once the next stage is
        # materialized on top of it
        funnel, prev = {}, None
        for name, df in stages.items():
            df.persist()
            funnel[f"n_{name}"] = df.count()
            if prev is not None:
                prev.unpersist(blocking=False)
            prev = df
        stages["curated"].write.mode("overwrite").parquet(f"{args.output}/curated")
        prev.unpersist(blocking=False)
        mlog.log_counters(run_id, "curate_funnel", funnel)
    elif args.job == "overlap":
        # boundary QA: which polygon pairs share interior area (the
        # pairs a priority table must rank); legal shared-edge borders
        # are excluded by the open-interiors contract
        from .operators.overlap import overlap_audit

        pairs = overlap_audit(spark, polys, level=min(args.cover_level, 7))
        pairs.write.mode("overwrite").parquet(f"{args.output}/overlaps")
        mlog.log_counters(
            run_id,
            "overlap_audit",
            {
                "n_polygons": len(polys),
                "n_overlapping_pairs": spark.read.parquet(
                    f"{args.output}/overlaps"
                ).count(),
            },
        )
    elif args.job == "sample":
        from .operators.sampling import hash_sample, stratified_take

        docs = spark.read.parquet(f"{args.sf_dir}/documents.parquet")
        strata = [c.strip() for c in args.strata.split(",") if c.strip()]
        if args.sample_n is not None:
            out = stratified_take(
                docs, strata, args.sample_n, key_col="doc_id", seed=args.sample_seed
            )
        elif args.sample_fraction is not None:
            out = hash_sample(docs, "doc_id", args.sample_fraction, seed=args.sample_seed)
        else:
            raise SystemExit("--job sample requires --sample-n or --sample-fraction")
        out.write.mode("overwrite").parquet(f"{args.output}/sample")
        sampled = spark.read.parquet(f"{args.output}/sample")
        mlog.log_counters(
            run_id,
            "sample",
            {"n_sampled": sampled.count(), "n_input": docs.count()},
        )
    elif args.job == "cluster":
        # coordinate-hotspot discovery over the extracted pages
        from .operators.clustering import grid_cluster

        pts = ext.where("has_coords AND NOT rejected")
        labels = grid_cluster(
            pts, args.cluster_eps_e6, args.cluster_min_pts
        )
        labels.write.mode("overwrite").parquet(f"{args.output}/clusters")
        written = spark.read.parquet(f"{args.output}/clusters")
        by_role = {r["role"]: r["n"] for r in written.groupBy("role").agg(F.count("*").alias("n")).collect()}
        mlog.log_counters(
            run_id,
            "cluster",
            {
                "n_points": written.count(),
                "n_clusters": written.where("cluster >= 0").select("cluster").distinct().count(),
                "n_core": by_role.get("core", 0),
                "n_border": by_role.get("border", 0),
                "n_noise": by_role.get("noise", 0),
            },
        )
    elif args.job == "stream_cluster":
        # incremental hotspot maintenance: stream the extracted points
        # file-by-file through the foreachBatch cluster store
        from .streaming.clusters import (
            cluster_labels,
            compact_cluster_store,
            streaming_clusters,
        )

        pts = ext.where("has_coords AND NOT rejected").select("id", "lat_e6", "lon_e6")
        src = f"{args.output}/stream_src"
        store = f"{args.output}/cluster_store"
        for p in (src, store):
            fs, hp = _fs_and_path(spark, p)
            fs.delete(hp, True)
        pts.repartition(4).write.mode("overwrite").parquet(src)
        q = streaming_clusters(
            spark, src, pts.schema, store,
            eps_e6=args.cluster_eps_e6, min_pts=args.cluster_min_pts,
            n_buckets=args.store_buckets,
        )
        q.awaitTermination()
        # maintenance fold while the stream is stopped (same contract as
        # stream_dedup's compact_store): settled batches → one generation
        compact_cluster_store(spark, store, keep_batches=1)
        labels = cluster_labels(spark, store)
        labels.write.mode("overwrite").parquet(f"{args.output}/clusters")
        written = spark.read.parquet(f"{args.output}/clusters")
        mlog.log_counters(
            run_id,
            "stream_cluster",
            {
                "n_points": written.count(),
                "n_clusters": written.where("cluster >= 0").select("cluster").distinct().count(),
            },
        )
    elif args.job == "measures":
        # dimension QA: area/centroid/perimeter per polygon feature
        from .functions.measures import measures_df
        from .sources.polygons import ring_rows_df

        rows = ring_rows_df(spark, polys, densify_bands=False)
        out = measures_df(spark, rows, spherical=True)
        out.write.mode("overwrite").parquet(f"{args.output}/measures")
        mlog.log_counters(
            run_id,
            "measures",
            {"n_features": spark.read.parquet(f"{args.output}/measures").count()},
        )
    elif args.job == "incremental":
        from .streaming.incremental import IncrementalRunner

        store = SnapshotStore(args.snapshot_root or f"{args.output}/snapshots")
        runner = IncrementalRunner(spark, index, store)
        result = runner.run_batch(pages)
        mlog.log_counters(
            run_id,
            "incremental",
            {
                "n_input": result.n_input,
                "n_assigned": result.n_assigned,
                "advanced": result.advanced,
                "full_resync": result.full_resync,
            },
        )

    mlog.log_counters(run_id, "wall_clock", {"sec": round(time.perf_counter() - t0, 3)})
    print(f"{run_id} done in {time.perf_counter() - t0:.2f}s → {args.output}")


if __name__ == "__main__":
    main()
