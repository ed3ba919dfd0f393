"""Headline benchmark. Prints ONE JSON line:
{"metric": ..., "value": sec, "unit": "sec", "queries": {...}, "sf": ...,
 "pages_per_sec": ..., "cpus": ..., "run_steal_pct": ...}

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default: the cores this process may run on),
     SPARK_GRAFT_FANOUT (default 24 → 24× pages for the flagship assign),
     SPARK_GRAFT_TRIALS (default 3 → best-of-N per query).

Methodology:
- every query is fully materialized through the noop sink (no collect);
- the flagship input (fanout× pages) is materialized to parquet ONCE,
  untimed (cached under .bench_pages/): the timed job reads real storage
  like production would, and synthetic-html generation (JVM string
  churn) stays out of the engine measurement — same methodology as
  tools/scaling_bench.py;
- an untimed warm pass runs the fused kernel on a CPUS-partition sample
  so ALL Python workers fork + import numpy/pandas + unpack the polygon
  broadcast before anything is timed (a limit(2000) warm pass only
  touches one partition → all but one worker would cold-start inside the
  timed region, measuring fork latency instead of engine throughput);
- best-of-N trials per query (steady-state, standard bench practice);
  "value" is the sum of best times, per-trial lists are in "trials";
- hypervisor steal over the run window is reported as host context, not
  used to retry or reject trials: host noise is read through
  perfbench's per-layer CPU and volume metrics (perfbench/README.md).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from osm_notes_ingestion_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
FANOUT = int(os.environ.get("SPARK_GRAFT_FANOUT", "24"))
TRIALS = int(os.environ.get("SPARK_GRAFT_TRIALS", "3"))

BENCH_QUERIES = [
    "status_fold",
    "dedup_minhash_lsh",
    "embed_topk",
    "pricing_summary",
    "window_rank",
]
# tiles_z4 and knn are timed over the materialized extracted table (see
# main) — their registry twins re-extract from raw pages, which would
# re-time the extraction kernel the flagship already measures


def materialize(df) -> int:
    df.write.format("noop").mode("overwrite").save()
    return 0


def _steal_counters() -> tuple[int, int]:
    """(steal_jiffies, total_jiffies) from /proc/stat — see
    tools/scaling_bench._cpu_steal_pct. Read twice to report the steal
    percentage OVER THE BENCH WINDOW, not just since boot."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        vals = [int(v) for v in parts[1:9]]
        return vals[7], sum(vals)
    except Exception:
        return -1, -1


def best_of(fn, n: int) -> tuple[float, list[float]]:
    """Run `fn` `n` times; return the best wall time and every trial's."""
    ts: list[float] = []
    for _ in range(n):
        t0 = time.perf_counter()
        fn()
        ts.append(round(time.perf_counter() - t0, 3))
    return min(ts), ts


def main() -> None:
    from osm_notes_ingestion_spark.operators.fused import fused_extract_assign
    from osm_notes_ingestion_spark.plans.registry import REGISTRY
    from osm_notes_ingestion_spark.sources.polygons import prep_polygons
    from osm_notes_ingestion_spark.sources.synth import pages_df, world_polygons

    steal0, total0 = _steal_counters()
    spark = get_spark(CPUS, "bench")
    # JVM warm (codegen/classloading)
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    # flagship input: materialized parquet (untimed; cached across runs,
    # keyed by the synthesizer source hash so synth changes invalidate it)
    import hashlib

    import osm_notes_ingestion_spark.sources.synth as _synth

    synth_tag = hashlib.md5(open(_synth.__file__, "rb").read()).hexdigest()[:8]
    pages_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        ".bench_pages",
        f"{SF_DIR.rstrip('/').split('/')[-1]}_f{FANOUT}_{synth_tag}",
    )
    if not os.path.exists(os.path.join(pages_path, "_SUCCESS")):
        pages_df(spark, SF_DIR, fanout=FANOUT).write.mode("overwrite").parquet(pages_path)
    pages = spark.read.parquet(pages_path)
    n_pages = pages.count()
    index = prep_polygons(world_polygons(), level=9)

    # untimed warm pass across ALL workers: CPUS partitions of real pages
    # through the real kernel (worker fork, numpy/pandas import, Arrow
    # init, broadcast unpack, codegen)
    warm = pages_df(spark, SF_DIR).limit(CPUS * 64).repartition(CPUS)
    materialize(fused_extract_assign(spark, warm, index))
    # also warm the declarative path (the same kernel via mapInArrow)
    from osm_notes_ingestion_spark.operators.extract import extract_pages
    from osm_notes_ingestion_spark.operators.spatial_join import assign_countries

    materialize(assign_countries(spark, extract_pages(warm), index))

    timings: dict[str, float] = {}
    trials: dict[str, list[float]] = {}

    flagship = lambda: materialize(  # noqa: E731
        fused_extract_assign(spark, pages, index).select("id", "lat", "lon", "country_id")
    )
    timings["flagship_assign"], trials["flagship_assign"] = best_of(flagship, TRIALS)

    # assign_country: the declarative assign operator over a
    # MATERIALIZED extracted table (the production shape — extraction is
    # its own job; assign reads the narrow lake table with pruning).
    # Materialization is untimed and cached like the flagship input.
    # flagship_assign still covers the fused extract+assign composition.
    import osm_notes_ingestion_spark.operators.extract as _extract_mod

    extract_tag = hashlib.md5(open(_extract_mod.__file__, "rb").read()).hexdigest()[:8]
    extracted_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        ".bench_pages",
        f"extracted_{SF_DIR.rstrip('/').split('/')[-1]}_{synth_tag}_{extract_tag}",
    )
    if not os.path.exists(os.path.join(extracted_path, "_SUCCESS")):
        extract_pages(pages_df(spark, SF_DIR)).select(
            "id", "lat", "lon", "lat_e6", "lon_e6", "has_coords", "rejected"
        ).write.mode("overwrite").parquet(extracted_path)
    extracted = spark.read.parquet(extracted_path)
    timings["assign_country"], trials["assign_country"] = best_of(
        lambda: materialize(
            assign_countries(spark, extracted, index).select("id", "country_id")
        ),
        TRIALS,
    )

    # tiles_z4 / knn over the SAME materialized extracted table: the
    # operator under test (tile rollup / ring expansion), not a
    # third+fourth re-run of the extraction kernel. Identical logical
    # query to the registry twins, production input shape.
    from osm_notes_ingestion_spark.operators.knn import knn
    from osm_notes_ingestion_spark.operators.tiles import tile_counts
    from osm_notes_ingestion_spark.plans.queries_spatial import _KNN_QUERIES

    from pyspark.sql import functions as F  # noqa: N812

    pts = extracted.where(F.col("has_coords"))
    timings["tiles_z4"], trials["tiles_z4"] = best_of(
        lambda: materialize(
            tile_counts(pts, max_zoom=6, min_zoom=4)
            .where(F.col("z") == 4)
            .select("z", "x", "y", "cnt")
        ),
        TRIALS,
    )
    timings["knn"], trials["knn"] = best_of(
        lambda: materialize(
            knn(spark, pts, _KNN_QUERIES, k=5, level=6, initial_radius=2).select(
                "query_id", "rank", "id", "d2"
            )
        ),
        TRIALS,
    )

    for name in BENCH_QUERIES:
        fn, _sql = REGISTRY[name]
        timings[name], trials[name] = best_of(
            lambda: materialize(fn(spark, SF_DIR)), TRIALS
        )

    total = round(sum(timings.values()), 3)
    steal1, total1 = _steal_counters()
    if steal0 >= 0 and steal1 >= 0 and total1 > total0:
        run_steal_pct = round(100.0 * (steal1 - steal0) / (total1 - total0), 2)
    else:
        run_steal_pct = -1.0
    cum_steal_pct = round(100.0 * steal1 / max(total1, 1), 2) if steal1 >= 0 else -1.0
    print(
        json.dumps(
            {
                "metric": "spatial_join_tiling_headline",
                # bench_schema 4 = schema 3 + the status_fold gate's
                # absorbed sessionization digest (status_fold times more
                # work than before); schema 3 = assign_country, tiles_z4
                # AND knn measured over a MATERIALIZED extracted table
                # (untimed prep); schema-2 sessions timed extraction
                # inline in tiles_z4/knn, schema-1 also in
                # assign_country — earlier sessions are NOT comparable
                # per-query
                "bench_schema": 4,
                "value": total,
                "unit": "sec",
                "value_semantics": "sum of per-query best-of-N trial times (N = SPARK_GRAFT_TRIALS, a fixed count with no steal-triggered retries; every trial in 'trials'); assign_country, tiles_z4 and knn read a materialized extracted table (untimed prep), flagship_assign covers fused extract+assign; since schema 4 status_fold additionally computes the per-user sessionization digest its gate absorbed",
                # hypervisor CPU steal over this bench run's window, and
                # cumulative since boot (scaling_bench convention): host
                # context for the record, like perfbench's host.steal_pct
                "run_steal_pct": run_steal_pct,
                "cum_steal_pct": cum_steal_pct,
                "queries": {k: round(v, 3) for k, v in timings.items()},
                "trials": trials,
                "sf": SF_DIR.rstrip("/").split("sf")[-1],
                "pages_per_sec": round(n_pages / timings["flagship_assign"], 1),
                "n_pages": n_pages,
                "cpus": CPUS,
            }
        )
    )


if __name__ == "__main__":
    main()
