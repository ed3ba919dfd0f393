"""On-disk layout of the streaming stores: the one module that reads,
checks and compacts the state of streaming/dedup.py (LSH bands and
shingle sets) and streaming/clusters.py (points, neighbour-count
increments, border edges). Both stores hold only their algorithms; the
layout below is decided here.

Paths. Every operation on a store root goes through the Hadoop
FileSystem of that root (`_fs_and_path`), so a root may be a plain
path, a `file://` URI or any other Spark-reachable filesystem
(HDFS/S3). No store code touches the local disk directly.
`local_path` is the one helper for the few roots that ARE local-only
(the snapshot manifest, the metrics log, footer probes): a `file://`
root means its local path, any other scheme is refused.

Layout under a store root:
- `_layout/n_store_buckets=B`, `_layout/layout=bkt_major` — empty marker
  directories the first batch records and every later batch checks
  (`check_layout`). Without the B check, a batch run with another bucket
  count hashes its keys mod a B that never matches the directories on
  disk, every probe misses, and the store silently reads as empty.
- `<sub>/bkt=K/batch_id=N` — each sub-store is hash-BUCKETED,
  bucket-MAJOR: K = pmod(xxhash64(key), B), xxhash64 being
  Spark-deterministic across sessions, so a store written by one job is
  prunable by every later one. Writes replace exactly their own
  (bkt, batch_id) leaves (dynamic partition overwrite), so a replayed
  foreachBatch rewrites its own rows instead of appending duplicates.
- `_compact/` — the compaction markers (below).

Reads. A micro-batch derives the buckets it can touch from its OWN rows
(`_touched_buckets`, a collect of ≤ B small ints) and reads only those
`bkt=` directories (`_pruned_store`): exists + one listStatus per
touched bucket, a constant number of FileSystem RPCs however many
batches the store has settled (pinned by tests/test_streaming_dedup.py::
test_listing_rpcs_constant_in_batches). Pruning is lossless because
equal keys hash to equal buckets. Batch N hides `batch_id ≥ N` at the
PATH level, so a replay sees exactly the state its first run saw and
reads zero bytes of its own crashed output; generations (negative ids)
are always visible. A store holding data in any other layout (the
earlier batch-major `batch_id=N/bkt=K` form, or files directly under
`bkt=`) fails loudly instead of reading as empty.

Compaction (`compact`). The per-bucket child count grows one
`batch_id=` directory per micro-batch; `compact` folds settled batches
into one consolidated GENERATION per sub-store (batch_id = -g, g
increasing), so a bucket holds ~(1 + keep_batches) children. Each store
passes a per-sub-store transform applied to the folded rows (identity
for dedup; the cluster store sums increments and drops dead border
edges). Reference analog: the Planet re-sync folding API deltas back
into the base tables (bin/process/processPlanetNotes.sh --sync).

Contract: run ONLY while the stream is stopped, with keep_batches ≥ 1 —
foreachBatch can replay the newest batch after a restart, and replay
needs that batch path-excludable, so the newest keep_batches stream
batches are never folded (prior generations always are).

Crash safety, two-phase, empty marker directories only:
`_compact/gen=-g` and `_compact/keep=K` are created before any
generation data is written; `_compact/committed` after EVERY
sub-store's generation write succeeded; the marker directory is removed
only after every folded directory is deleted. `check_layout` refuses to
process batches while any marker exists (the store may hold folded rows
twice), so the fold set is recomputable at recovery. The next `compact`
recovers first: no `committed` → roll BACK (delete the partial
generation; source directories are untouched until commit), then fold
again; `committed` → roll FORWARD (finish the deletes; the generation
already holds every folded row).
"""

from __future__ import annotations

from typing import Callable
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _fs_and_path(spark: SparkSession, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def local_path(path: str, owner: str) -> str:
    """The local filesystem path a root names: a plain path as given, a
    `file://` URI as its path. Any other scheme raises ValueError naming
    `owner` and the scheme — before the caller does any work, rather
    than creating a local directory named after the scheme."""
    url = urlparse(path)
    if not url.scheme:
        return path
    if url.scheme == "file":
        return url.path
    raise ValueError(f"{owner} needs a local root; {path!r} has scheme {url.scheme!r}")


def _list_children(fs, hpath):
    """One FileSystem listStatus — factored out so tests can count RPCs."""
    return list(fs.listStatus(hpath))


def _child_names(fs, hpath) -> set[str]:
    if not fs.exists(hpath):
        return set()
    return {st.getPath().getName() for st in _list_children(fs, hpath)}


def _ids(names, key: str) -> set[int]:
    """The N of every `key=N` name."""
    return {int(n.split("=", 1)[1]) for n in names if n.startswith(f"{key}=")}


def partition_ids(spark: SparkSession, path: str, key: str) -> set[int]:
    """The N of every `key=N` directory directly under path (empty if
    path is absent) — e.g. the cluster store's label generations."""
    return _ids(_child_names(*_fs_and_path(spark, path)), key)


def _bkt(key, n_buckets: int):
    """Store bucket of a key column (name or Column): pmod(xxhash64, B)."""
    return F.pmod(F.xxhash64(key), F.lit(int(n_buckets))).cast("int")


def _touched_buckets(df: DataFrame, col: str, n_buckets: int) -> list[int]:
    """Distinct store buckets referenced by df[col] — ≤ n_buckets small
    ints, the one collect that buys the pruned read."""
    return [
        r[0] for r in df.select(_bkt(col, n_buckets).alias("b")).distinct().collect()
    ]


def check_layout(spark: SparkSession, store_dir: str, n_store_buckets: int) -> None:
    """Refuse a batch on a store it would misread (module doc): a
    leftover `_compact/` marker, a different bucket count, or the
    earlier batch-major layout. The first batch records the layout."""
    fs, root = _fs_and_path(spark, store_dir)
    if fs.exists(root.suffix("/_compact")):
        raise ValueError(
            f"store {store_dir} has an unfinished compaction (_compact "
            "marker present): run the store's compaction to finish or roll "
            "it back before processing batches"
        )
    lay = root.suffix("/_layout")
    names = _child_names(fs, lay)
    if not names:
        fs.mkdirs(lay.suffix(f"/n_store_buckets={int(n_store_buckets)}"))
        fs.mkdirs(lay.suffix("/layout=bkt_major"))
        return
    recorded = sorted(n for n in names if n.startswith("n_store_buckets="))
    want = f"n_store_buckets={int(n_store_buckets)}"
    if recorded != [want]:
        raise ValueError(
            f"store {store_dir} was written with {recorded}, this batch "
            f"asked for {want}: n_store_buckets must stay constant for "
            "the life of a store (re-bucket by rewriting the store)"
        )
    if "layout=bkt_major" not in names:
        raise ValueError(
            f"store {store_dir} uses the batch-major layout of an "
            "earlier version (batch_id=N/bkt=B); rewrite it under the "
            "bucket-major layout (bkt=B/batch_id=N) before resuming"
        )


def _pruned_store(
    spark: SparkSession,
    path: str,
    schema: str,
    touched: list[int],
    exclude_batch_id: int | None = None,
) -> DataFrame:
    """Read ONLY the `bkt=` directories in `touched` of a sub-store;
    empty DF (of `schema`) if nothing matches. exclude_batch_id = N
    hides stream batches ≥ N at the path level (replay, module doc).
    Costs exists + one listStatus per touched bucket."""
    fs, hpath = _fs_and_path(spark, path)
    if not touched or not fs.exists(hpath):
        return spark.createDataFrame([], schema)
    paths = []
    for b in touched:
        bdir = hpath.suffix(f"/bkt={int(b)}")
        if not fs.exists(bdir):
            continue
        for st in _list_children(fs, bdir):
            name = st.getPath().getName()
            if not name.startswith("batch_id="):
                if name.startswith(("_", ".")):
                    continue
                # data directly under bkt= (no batch_id= partition) =
                # a foreign/legacy writer: refuse, don't misread
                raise ValueError(
                    f"{bdir} holds '{name}' without the batch_id= layout "
                    "this reader replay-excludes by; rewrite the store "
                    "before resuming"
                )
            batch = int(name.split("=", 1)[1])
            if exclude_batch_id is None or batch < int(exclude_batch_id):
                paths.append(st.getPath().toString())
    if not paths:
        # nothing matched: distinguish "store genuinely holds no touched
        # bucket" from "store exists in a layout we can't see" (e.g. the
        # earlier batch-major batch_id=N/bkt=B form) — one extra listing
        # only on this cold path
        root_names = {c.getPath().getName() for c in _list_children(fs, hpath)}
        foreign = {
            n for n in root_names if not n.startswith(("bkt=", "_", "."))
        }
        if foreign:
            raise ValueError(
                f"{path} holds {sorted(foreign)[:3]} without the bkt= "
                "bucket-major layout this reader prunes by; rewrite the "
                "store before resuming"
            )
        return spark.createDataFrame([], schema)
    return (
        spark.read.option("basePath", path)
        .parquet(*paths)
        .drop("batch_id", "bkt")
    )


def read_all(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """Every row of a partitioned store, partition columns dropped; an
    empty DF of `schema` when it holds no partition directory (absent,
    or a root a zero-row partitioned write left holding only _SUCCESS)."""
    names = _child_names(*_fs_and_path(spark, path))
    if not any(n.startswith(("bkt=", "batch_id=")) for n in names):
        return spark.createDataFrame([], schema)
    return spark.read.option("basePath", path).parquet(path).drop("bkt", "batch_id")


def write_leaves(df: DataFrame, path: str, batch_id: int) -> None:
    """Write df (carrying its `bkt` column) as the `bkt=K/batch_id=N`
    leaves of batch_id, replacing only those leaves. The overwrite mode
    rides on the WRITE as an option, not session conf: inside
    foreachBatch the batch runs on a CLONED session whose conf was
    snapshotted at stream start, so a runtime spark.conf.set never
    reaches it, and the static default would wipe every prior batch."""
    (
        df.withColumn("batch_id", F.lit(int(batch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bkt", "batch_id")
        .parquet(path)
    )


def _batch_ids(fs, sub) -> set[int]:
    """All batch ids in a sub-store (full walk — maintenance only)."""
    ids: set[int] = set()
    for bk in _child_names(fs, sub):
        if bk.startswith("bkt="):
            ids |= _ids(_child_names(fs, sub.suffix(f"/{bk}")), "batch_id")
    return ids


def _delete_batch_dirs(fs, subs, ids: set[int]) -> None:
    """Delete `bkt=*/batch_id=i` in every sub-store for every i in ids
    (module-level so the crash-recovery test can interpose)."""
    for sub in subs:
        for bk in _child_names(fs, sub):
            if bk.startswith("bkt="):
                for i in ids:
                    fs.delete(sub.suffix(f"/{bk}/batch_id={int(i)}"), True)


def compact(
    spark: SparkSession,
    store_dir: str,
    folds: dict[str, Callable[[DataFrame], DataFrame]],
    keep_batches: int,
) -> int:
    """Fold the settled batches of each sub-store in `folds` into one new
    generation, passing the folded rows (with their `bkt` column)
    through that sub-store's transform. Returns the new generation
    number, or 0 if there was nothing to fold. Protocol, contract and
    crash recovery: module doc."""
    if keep_batches < 1:
        raise ValueError("keep_batches must be ≥ 1 (replay exclusion contract)")
    fs, root = _fs_and_path(spark, store_dir)
    subs = {name: root.suffix(f"/{name}") for name in folds}
    marker_dir = root.suffix("/_compact")

    def fold_set(exclude_gen: int | None, keep: int) -> set[int]:
        all_ids = set().union(*(_batch_ids(fs, s) for s in subs.values()))
        stream_ids = sorted(i for i in all_ids if i >= 0)
        gens = {i for i in all_ids if i < 0} - {exclude_gen}
        return gens | set(stream_ids[: max(0, len(stream_ids) - keep)])

    # recover a crashed compaction first. Markers are created strictly
    # BEFORE any generation write (gen=, then keep=, then data, then
    # committed) — a marker dir missing gen= or keep= therefore predates
    # all writes and is safe to treat as a no-op roll-back
    names = _child_names(fs, marker_dir)
    stale_gen = min(_ids(names, "gen"), default=None)
    stale_keep = min(_ids(names, "keep"), default=None)
    if "committed" in names and stale_gen is not None and stale_keep is not None:
        _delete_batch_dirs(fs, subs.values(), fold_set(stale_gen, stale_keep))
    elif stale_gen is not None:
        _delete_batch_dirs(fs, subs.values(), {stale_gen})
    fs.delete(marker_dir, True)

    fold = fold_set(None, keep_batches)
    gen_only = {i for i in fold if i < 0}
    if not fold or (fold == gen_only and len(gen_only) <= 1):
        return 0  # nothing worth folding (at most one existing generation)
    new_gen = min(gen_only, default=0) - 1

    fs.mkdirs(marker_dir.suffix(f"/gen={new_gen}"))
    fs.mkdirs(marker_dir.suffix(f"/keep={int(keep_batches)}"))
    for name, transform in folds.items():
        if not _batch_ids(fs, subs[name]) & fold:
            continue
        path = subs[name].toString()
        rows = (
            spark.read.option("basePath", path)
            .parquet(path)
            .where(F.col("batch_id").isin(sorted(fold)))
            .drop("batch_id")
        )
        write_leaves(transform(rows), path, new_gen)
    fs.mkdirs(marker_dir.suffix("/committed"))
    _delete_batch_dirs(fs, subs.values(), fold)
    fs.delete(marker_dir, True)
    return -new_gen
