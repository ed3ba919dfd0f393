"""End-to-end benchmark of the engine: one workload per run, closed loop.

    python3 perfbench/run.py --workload crawl_batch --seed 1 --seconds 5 --trace 0

Run from the repository root. One driver process at local[<cores>] submits
the next Spark job only after the previous one finished (one client). Every
job's output is checked against an oracle that does not use the engine
(DuckDB over the generated inputs and the SQL fragments of
`sources/synth.py`), or against the package's own reference twins
(`check_pyramid`, `knn_brute_force`). Checks are untimed.

With --trace 0 the last line holds the end-to-end metrics; with --trace 1
it holds the per-layer metrics read from Spark's status stores, grouped by
the spans the benchmark records around each call into the package (see
perfbench/README.md). Human-readable report lines go before it.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
from dataclasses import dataclass, field

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, ROOT)

# Input size at the default scale (--events): the sf0.1 event population,
# pages = events × inputs.FANOUT (200k); a sync batch is one slice of
# inputs.SLICE_PAGES pages, and incremental_sync generates only the first
# inputs.SYNC_SLICES slices of that population
DEFAULT_EVENTS = 100_000
N_KNN_QUERIES = 50
N_KNN_CHECKED = 3
KNN_K = 5
TILE_ZOOM = 8
# incremental_sync's warm pass: the first batch has no previous snapshot,
# the second is the first to merge, and both run cold
WARM_BATCHES = 2


def process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


@dataclass
class Op:
    kind: str  # "<workload>.<job>"
    rows: int
    seconds: float = 0.0
    ok: bool = False
    span: object = None
    extra: dict = field(default_factory=dict)


class Bench:
    def __init__(self, args):
        self.args = args
        self.cores = len(os.sched_getaffinity(0))  # local[<cores>]: every CPU this process may use
        self.run_dir = os.path.join(WORK, f"run-{os.getpid()}")
        self.spark = None
        self.tracer = None
        self.index = None
        self.ops: list[Op] = []
        self.setup_s = 0.0
        self.setup_parts: dict[str, float] = {}  # seconds of each set-up step
        self.cycles: list[float] = []  # timed seconds of each full cycle
        self.prep_s = 0.0
        self.gen_s = 0.0
        self.duck = duckdb.connect(config={"threads": 2})

    # ---------------------------------------------------------- session

    def start_spark(self):
        import sparkproc
        from layers import Tracer

        self.spark = sparkproc.start(self.cores, self.run_dir, "perfbench")
        run_id = f"{self.args.workload}-s{self.args.seed}-{os.getpid()}"
        self.tracer = Tracer(self.spark.sparkContext, run_id, bool(self.args.trace))

    def shutdown(self):
        import sparkproc

        sparkproc.shutdown(self.spark)
        self.spark = None
        self.duck.close()

    def prep_polygons(self):
        from osm_notes_ingestion_spark.sources.polygons import prep_polygons
        from osm_notes_ingestion_spark.sources.synth import world_polygons

        with self.tracer.span("polygons.prep_polygons") as sp:
            self.index = prep_polygons(world_polygons(), level=9)
        self.prep_s = sp.end - sp.start

    # ------------------------------------------------------------ helpers

    def out(self, name: str) -> str:
        return os.path.join(self.run_dir, "out", name)

    def inputs_dir(self) -> str:
        return os.path.join(self.run_dir, "inputs")

    def sql(self, q: str):
        return self.duck.execute(q).fetchall()

    def timed(self, op: Op, fn, check) -> None:
        """Run `fn` as one timed operation inside its span, then check its
        result untimed. A raise or a failed check fails the operation."""
        t0 = time.perf_counter()
        try:
            with self.tracer.span(f"op.{op.kind}") as sp:
                try:
                    res = fn()
                finally:
                    op.seconds = time.perf_counter() - t0
            op.span = sp
            op.ok = bool(check(op, res))
        except Exception:
            traceback.print_exc()
            op.ok = False
        if not op.ok:
            print(f"[perfbench] FAILED {op.kind} #{len(self.ops)}", file=sys.stderr)
        self.ops.append(op)

    def write(self, df, name: str) -> str:
        path = self.out(name)
        with self.tracer.span("action.write_parquet"):
            df.write.mode("overwrite").parquet(path)
        return path

    def corrupt_once(self, path: str) -> None:
        """--corrupt: flip one output row's country before the check, so the
        oracle must count a failure (benchmark self-test)."""
        if not self.args.corrupt:
            return
        self.args.corrupt = False
        from pyspark.sql import functions as F

        df = self.spark.read.parquet(path)
        victim = df.where(F.col("country_id").isNotNull()).agg(F.min("id")).first()[0]
        bad = df.withColumn(
            "country_id",
            F.when(F.col("id") == victim, F.col("country_id") + 100).otherwise(F.col("country_id")),
        )
        bad.write.mode("overwrite").parquet(path + "_bad")
        shutil.rmtree(path)
        os.replace(path + "_bad", path)


# ====================================================================== truth


def truth_case() -> str:
    """Ground-truth country of a page id, from the synth model's SQL."""
    from osm_notes_ingestion_spark.sources.synth import sql_country_case, sql_lat_e6, sql_lon_e6

    return sql_country_case(f"({sql_lat_e6('id')})", f"({sql_lon_e6('id')})")


def truth_counts(b: Bench, parquet_glob: str) -> dict:
    """Oracle per-country counts (None = no valid coordinates), by DuckDB."""
    rows = b.sql(f"SELECT {truth_case()} AS c, count(*) FROM read_parquet('{parquet_glob}') GROUP BY 1")
    return {c: n for c, n in rows}


def output_counts(b: Bench, path: str, extra: str = "") -> list[tuple]:
    """(country_id, count, *extra aggregates) of a written output, by DuckDB."""
    return b.sql(
        f"SELECT country_id, count(*){extra} FROM read_parquet('{path}/*.parquet') GROUP BY 1"
    )


def check_tiles(b: Bench, path: str, n_valid: int, op: Op) -> bool:
    """Every zoom's total equals the count of valid coordinates, and
    `check_pyramid` finds no parent ≠ sum-of-children violation."""
    from osm_notes_ingestion_spark.operators.tiles import check_pyramid

    per_z = b.sql(f"SELECT z, sum(cnt), count(*) FROM read_parquet('{path}/*.parquet') GROUP BY z")
    op.extra["n_tiles"] = sum(r[2] for r in per_z)
    totals_ok = {r[0]: r[1] for r in per_z} == {z: n_valid for z in range(TILE_ZOOM + 1)}
    return totals_ok and check_pyramid(b.spark.read.parquet(path)).count() == 0


# ================================================================== workloads


class CrawlBatch:
    """Raw pages → extract → assign → parquet; z0–8 tiles over the written
    assignments; the fused extract+assign kernel → parquet. A traced run
    adds one kNN job over the written assignments after the timed cycles
    (a narrow table, so no extraction runs in it): it gives the kNN layer's
    counters without lengthening every untraced run."""

    ops = ("assign", "tiles", "fused")

    def __init__(self, b: Bench):
        self.b = b

    def prepare(self) -> None:
        from inputs import knn_queries, write_pages

        b = self.b
        self.pages_path = write_pages(b.spark, b.duck, b.inputs_dir(), b.args.seed, b.args.events)
        self.truth = truth_counts(b, os.path.join(self.pages_path, "*.parquet"))
        self.n_pages = sum(self.truth.values())
        self.n_valid = self.n_pages - self.truth.get(None, 0)
        self.queries = knn_queries(b.args.seed, N_KNN_QUERIES)

    def assign(self, pages, name: str) -> str:
        from osm_notes_ingestion_spark.operators.extract import extract_pages
        from osm_notes_ingestion_spark.operators.spatial_join import assign_countries

        b, tr = self.b, self.b.tracer
        with tr.span("extract.extract_pages"):
            ext = extract_pages(pages)
        with tr.span("spatial_join.assign_countries"):
            df = assign_countries(b.spark, ext, b.index)
        return b.write(df, name)

    def tiles(self, assigned: str, name: str) -> str:
        from osm_notes_ingestion_spark.operators.tiles import tile_counts

        b = self.b
        with b.tracer.span("tiles.tile_counts"):
            df = tile_counts(b.spark.read.parquet(assigned), max_zoom=TILE_ZOOM)
        return b.write(df, name)

    def fused(self, pages, name: str) -> str:
        from osm_notes_ingestion_spark.operators.fused import fused_extract_assign

        b = self.b
        with b.tracer.span("fused.fused_extract_assign"):
            df = fused_extract_assign(b.spark, pages, b.index)
        return b.write(df, name)

    def warm(self) -> None:
        """One untimed, unchecked cycle over the real pages."""
        pages = self.b.spark.read.parquet(self.pages_path)
        self.tiles(self.assign(pages, "assign"), "tiles")
        self.fused(pages, "fused")

    def cycle(self) -> None:
        b = self.b
        pages = b.spark.read.parquet(self.pages_path)
        b.timed(Op("crawl_batch.assign", self.n_pages), lambda: self.assign(pages, "assign"), self.check_counts)
        b.timed(
            Op("crawl_batch.tiles", self.n_pages),
            lambda: self.tiles(b.out("assign"), "tiles"),
            lambda op, path: check_tiles(b, path, self.n_valid, op),
        )
        b.timed(Op("crawl_batch.fused", self.n_pages), lambda: self.fused(pages, "fused"), self.check_counts)

    def after(self) -> None:
        from osm_notes_ingestion_spark.operators.knn import knn_df

        b, tr = self.b, self.b.tracer
        if not tr.enabled:
            return
        qdf = b.spark.createDataFrame(self.queries, "query_id long, qlat double, qlon double")

        def knn():
            with tr.span("knn.knn_df"):
                df = knn_df(b.spark, b.spark.read.parquet(b.out("assign")), qdf, k=KNN_K, initial_radius=4)
            path = b.write(df, "knn")
            df.unpersist()
            return path

        b.timed(Op("crawl_batch.knn", len(self.queries)), knn, self.check_knn)

    def check_counts(self, op: Op, path: str) -> bool:
        """Per-country counts equal the oracle's; also reads the domain
        counters the output carries (NO_MATCH, refined, rejected)."""
        self.b.corrupt_once(path)
        fused = op.kind.endswith("fused")
        rows = output_counts(
            self.b,
            path,
            ", sum(refined::INT)" + (", sum(rejected::INT)" if fused else ""),
        )
        got = {r[0]: r[1] for r in rows}
        op.extra["no_match"] = got.get(-1, 0)
        op.extra["refined"] = sum(r[2] or 0 for r in rows)
        if fused:
            op.extra["rejected"] = sum(r[3] or 0 for r in rows)
        return got == self.truth

    def check_knn(self, op: Op, path: str) -> bool:
        """kNN equals `knn_brute_force` on a seeded sample of the queries."""
        from osm_notes_ingestion_spark.operators.knn import knn_brute_force
        from pyspark.sql import functions as F

        b = self.b
        sample = self.queries[:N_KNN_CHECKED]
        truth = sorted(
            tuple(r)
            for r in knn_brute_force(b.spark.read.parquet(b.out("assign")), sample, k=KNN_K).collect()
        )
        got = b.spark.read.parquet(path)
        op.extra["results"] = got.count()
        mine = got.where(F.col("query_id").isin([q[0] for q in sample])).select(
            "query_id", "rank", "id", "d2"
        )
        return op.extra["results"] == KNN_K * len(self.queries) and sorted(
            tuple(r) for r in mine.collect()
        ) == truth


class IncrementalSync:
    """The first pages of the crawl's population as consecutive warc_ts
    slices of SLICE_PAGES pages, each through `IncrementalRunner.run_batch`,
    in order, into one fresh `SnapshotStore`; the warm pass feeds the first
    slices. The final snapshot must equal a one-shot assignment of every
    page fed."""

    ops = ("batch",)

    def __init__(self, b: Bench):
        self.b = b
        self.n_stores = 0

    def prepare(self) -> None:
        from inputs import write_slices

        b = self.b
        self.slices = write_slices(b.spark, b.duck, b.inputs_dir(), b.args.seed, b.args.events)
        self.glob = os.path.join(self.slices, "*", "*.parquet")
        self.sizes = dict(
            b.sql(f"SELECT slice, count(*) FROM read_parquet('{self.glob}', hive_partitioning=true) GROUP BY 1")
        )

    def slice_path(self, i: int) -> str:
        return os.path.join(self.slices, f"slice={i}")

    def new_store(self) -> None:
        from osm_notes_ingestion_spark.sources.checkpoint import SnapshotStore
        from osm_notes_ingestion_spark.streaming.incremental import IncrementalRunner

        b = self.b
        self.n_stores += 1
        self.store_root = b.out(f"store-{self.n_stores}")
        self.runner = IncrementalRunner(b.spark, b.index, SnapshotStore(self.store_root))
        self.next_slice, self.fed = 0, 0

    def warm(self) -> None:
        """The first WARM_BATCHES slices, untimed, into the store the timed
        batches then continue, so every timed batch merges into a previous
        snapshot along a path that has run before."""
        self.new_store()
        for i in range(WARM_BATCHES):
            self.fed = self.runner.run_batch(self.b.spark.read.parquet(self.slice_path(i))).n_assigned
        self.next_slice = WARM_BATCHES

    def cycle(self) -> None:
        b, tr = self.b, self.b.tracer
        if self.next_slice == len(self.sizes):
            self.new_store()
        i = self.next_slice
        batch = b.spark.read.parquet(self.slice_path(i))

        def run():
            with tr.span("incremental.run_batch"):
                return self.runner.run_batch(batch)

        op = Op("incremental_sync.batch", self.sizes[i])
        op.extra["store_root"] = self.store_root
        b.timed(op, run, self.check_batch)
        self.next_slice += 1

    def check_batch(self, op: Op, res) -> bool:
        self.fed += op.rows
        return res.n_input == op.rows and res.n_assigned == self.fed and res.advanced

    def after(self) -> None:
        """The last snapshot must equal a one-shot assignment of every page
        fed; if it does not, the last batch counts as failed."""
        b = self.b
        snap = self.runner.store.snapshots()[-1]["path"]
        b.corrupt_once(snap)
        truth = (
            f"SELECT id, {truth_case()} AS c FROM read_parquet('{self.glob}', hive_partitioning=true) "
            f"WHERE slice < {self.next_slice}"
        )
        got = f"SELECT id, country_id AS c FROM read_parquet('{snap}/*.parquet')"
        try:
            diff = b.sql(
                f"SELECT (SELECT count(*) FROM ({truth} EXCEPT ALL {got})), "
                f"(SELECT count(*) FROM ({got} EXCEPT ALL {truth}))"
            )[0]
        except duckdb.Error as e:  # e.g. a snapshot with no readable files
            diff = str(e)
        if diff != (0, 0):
            print(f"[perfbench] FAILED final snapshot check: {diff}", file=sys.stderr)
            b.ops[-1].ok = False


WORKLOAD_CLASSES = {
    "crawl_batch": CrawlBatch,
    "incremental_sync": IncrementalSync,
}


# ====================================================================== main


def end_to_end(b: Bench) -> tuple[dict, dict]:
    """(gated metrics, report with the per-job rates named by workload)."""
    from layers import median, tail

    def rate(job: str) -> float:
        kind = f"{b.args.workload}.{job}"
        return median([o.rows / o.seconds for o in b.ops if o.ok and o.kind == kind])

    tail_name, tail_s = tail(b.cycles)
    if b.args.workload == "crawl_batch":
        assign_rate = rate("assign")
        named = {
            "crawl.pages_per_s": (assign_rate, "1/s"),
            "crawl.tiles_rows_per_s": (rate("tiles"), "1/s"),
            "crawl.fused_pages_per_s": (rate("fused"), "1/s"),
            "crawl.cycle_tail_s": (tail_s, "s"),
        }
    else:
        assign_rate = rate("batch")
        named = {
            "sync.batch_p50_s": (median(b.cycles), "s"),
            "sync.batch_tail_s": (tail_s, "s"),
            "sync.pages_per_s": (assign_rate, "1/s"),
        }
    metrics = {
        "setup_s": (b.setup_s, "s"),
        "cycle_p50_s": (median(b.cycles), "s"),
        "assign_rows_per_s": (assign_rate, "1/s"),
        "peak_rss_mb": (b.peak_rss_mb, "MB"),
    }
    report = {
        "workload": b.args.workload,
        "seed": b.args.seed,
        "cycles": len(b.cycles),
        "op_seconds": {o.kind: [] for o in b.ops},
        # the tail reads every timed cycle; all of them run after the warm pass
        "tail_percentile": f"{tail_name} of {len(b.cycles)} cycles",
        "named": {k: {"value": v, "unit": u} for k, (v, u) in named.items()},
        "failed_ops_ratio": sum(not o.ok for o in b.ops) / max(len(b.ops), 1),
        "setup_parts_s": b.setup_parts,
        "input_generation_s": b.gen_s,
    }
    for o in b.ops:
        report["op_seconds"][o.kind].append(o.seconds)
    return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}, report


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOAD_CLASSES))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True, help="timed work per run")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--events", type=int, default=DEFAULT_EVENTS, help="input scale")
    p.add_argument("--corrupt", action="store_true", help="self-test: corrupt one output")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import osm_notes_ingestion_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine package is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    from layers import RssSampler, cpu_jiffies, steal_pct

    b = Bench(args)
    wl = WORKLOAD_CLASSES[args.workload](b)
    rss = RssSampler()
    try:
        imports_s = process_age_s()
        t = time.perf_counter()
        b.start_spark()
        session_s = time.perf_counter() - t
        # input generation and the oracle's input counts; not part of the
        # set-up time. A full GC after it lets the JVM return the heap the
        # generation used, so the peak RSS is the engine's
        t = time.perf_counter()
        wl.prepare()
        b.spark._jvm.System.gc()
        os.sync()  # the new files' writeback would otherwise overlap timed jobs
        b.gen_s = time.perf_counter() - t
        rss.start()
        b.prep_polygons()
        t = time.perf_counter()
        wl.warm()
        # process start to the first timed job, input generation excluded
        b.setup_s = process_age_s() - b.gen_s
        b.setup_parts = {
            "process_start_imports": imports_s,
            "spark_session": session_s,
            "prep_polygons": b.prep_s,
            "warm_pass": time.perf_counter() - t,
        }

        if args.trace:
            from layers import StatusStores

            first_eid = StatusStores(b.spark).max_execution_id() + 1
        jiffies0, t_run = cpu_jiffies(), time.perf_counter()
        # ops that fail fast still end the loop: wall time is capped too
        while sum(b.cycles) < args.seconds and time.perf_counter() - t_run < 4 * args.seconds + 30:
            n = len(b.ops)
            wl.cycle()
            b.cycles.append(sum(o.seconds for o in b.ops[n:]))
        run_window_s = time.perf_counter() - t_run
        steal = steal_pct(jiffies0, cpu_jiffies())
        wl.after()

        rss.stop()
        b.peak_rss_mb = rss.peak_kb / 1024.0
        metrics, report = end_to_end(b)
        report["host"] = {
            "nproc": os.cpu_count(),
            "cores_used": b.cores,
            "steal_pct": steal,
            "run_window_s": run_window_s,
        }
        if args.trace:
            from attribution import layer_metrics, write_spans

            layers = layer_metrics(b, first_eid)
            report["spans_file"] = write_spans(b, os.path.join(WORK, "spans"))
            metrics = layers
        print(json.dumps({"report": report}))
        failed = sum(not o.ok for o in b.ops)
        print(
            json.dumps(
                {
                    "correct": failed == 0,
                    "attempted": len(b.ops),
                    "failed": failed,
                    "metrics": metrics,
                }
            )
        )
        return 0
    finally:
        rss.stop()
        b.shutdown()
        shutil.rmtree(b.run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
