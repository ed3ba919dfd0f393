"""Streaming incremental MinHash-LSH dedup: settled result ≡ the batch
pipeline on the full corpus, and batch replays are idempotent."""

import glob
import os
import shutil

import pytest

from osm_notes_ingestion_spark.operators.textops import (
    doc_shingle_sets,
    jaccard_filter_sets,
    lsh_candidate_pairs,
    minhash_band_signatures_sets,
)
from osm_notes_ingestion_spark.streaming.dedup import (
    _pruned_store,
    _touched_buckets,
    compact_store,
    near_dup_pairs,
    process_dedup_batch,
    streaming_near_dups,
)

SF_DIR = "/root/testdata/sf0.001"


def _docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")


def _batch_pairs(spark, docs):
    sets = doc_shingle_sets(docs).persist()
    pairs = jaccard_filter_sets(
        lsh_candidate_pairs(minhash_band_signatures_sets(sets)), sets
    )
    out = sorted((r.id_a, r.id_b) for r in pairs.collect())
    sets.unpersist(blocking=False)
    return out


@pytest.fixture()
def dirs(tmp_path):
    src = str(tmp_path / "src")
    store = str(tmp_path / "store")
    os.makedirs(src)
    yield src, store
    shutil.rmtree(str(tmp_path), ignore_errors=True)


def _write_slices(spark, docs, src, n_slices=3):
    """One parquet FILE per slice in one source dir → one micro-batch
    per slice under maxFilesPerTrigger=1."""
    ids = sorted(r.doc_id for r in docs.select("doc_id").collect())
    bounds = [ids[int(len(ids) * i / n_slices)] for i in range(1, n_slices)] + [
        ids[-1] + 1
    ]
    lo = None
    for i, hi in enumerate(bounds):
        sl = docs.where(
            f"doc_id < {hi}" + (f" AND doc_id >= {lo}" if lo is not None else "")
        )
        tmp = f"{src}_tmp{i}"
        sl.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = glob.glob(f"{tmp}/part-*.parquet")[0]
        shutil.move(part, os.path.join(src, f"slice_{i}.parquet"))
        shutil.rmtree(tmp, ignore_errors=True)
        lo = hi


@pytest.mark.parametrize("scheme", ["", "file://"], ids=["path", "file_uri"])
def test_streaming_settled_equals_batch(spark, dirs, scheme):
    src, store = dirs
    store = scheme + store
    docs = _docs(spark)
    _write_slices(spark, docs, src, n_slices=3)
    q = streaming_near_dups(spark, src, docs.schema, store)
    q.awaitTermination()
    got = sorted((r.id_a, r.id_b) for r in near_dup_pairs(spark, store).collect())
    want = _batch_pairs(spark, docs)
    assert got == want and len(want) > 0


def test_store_reads_are_bucket_pruned(spark, dirs):
    """The round-4 scale fix: a micro-batch must read only the store
    buckets its own bandsigs/ids can match, not the full accumulated
    store. Build a multi-bucket store from the corpus, then read it the
    way a SMALL batch would (few distinct bandsigs → few touched
    buckets) and assert strictly fewer files than the store holds —
    while a full-corpus touched set still sees every stored row."""
    _, store = dirs
    docs = _docs(spark)
    B = 16
    process_dedup_batch(
        spark, docs.where("doc_id % 2 = 0"), 0, store, n_store_buckets=B
    )
    process_dedup_batch(
        spark, docs.where("doc_id % 2 = 1"), 1, store, n_store_buckets=B
    )
    bands_dir = os.path.join(store, "bands")
    all_files = glob.glob(f"{bands_dir}/bkt=*/batch_id=*/part-*.parquet")
    n_buckets_on_disk = len(
        {p.split("/bkt=")[1].split("/")[0] for p in all_files}
    )
    assert n_buckets_on_disk > 4  # the corpus really spans many buckets

    schema = "doc_id long, band int, bandsig string"
    min_id = docs.agg({"doc_id": "min"}).first()[0]
    one_doc_sigs = minhash_band_signatures_sets(
        doc_shingle_sets(docs.where(f"doc_id = {min_id}"))
    )
    touched = _touched_buckets(one_doc_sigs, "bandsig", B)
    assert 0 < len(touched) <= 4  # 4 bands → at most 4 buckets
    pruned = _pruned_store(spark, bands_dir, schema, touched)
    read_files = {f.removeprefix("file://") for f in pruned.inputFiles()}
    assert read_files and read_files < set(all_files)
    assert all(any(f"/bkt={b}/" in f for b in touched) for f in read_files)

    # lossless: the union over ALL buckets is exactly the stored rows
    every = _pruned_store(spark, bands_dir, schema, list(range(B)))
    assert every.count() == spark.read.parquet(*all_files).count()
    # and the excluded batch is skipped at the path level
    no_b1 = _pruned_store(
        spark, bands_dir, schema, list(range(B)), exclude_batch_id=1
    )
    b1_files = [f for f in no_b1.inputFiles() if "/batch_id=1/" in f]
    assert no_b1.inputFiles() and not b1_files


def test_replayed_batch_is_idempotent(spark, dirs):
    _, store = dirs
    docs = _docs(spark)
    first = docs.where("doc_id % 2 = 0")
    second = docs.where("doc_id % 2 = 1")
    process_dedup_batch(spark, first, 0, store)
    process_dedup_batch(spark, second, 1, store)
    settled = sorted(
        (r.id_a, r.id_b) for r in near_dup_pairs(spark, store).collect()
    )
    # replay batch 1 (same id): stores must be unchanged, not doubled
    process_dedup_batch(spark, second, 1, store)
    replayed = sorted(
        (r.id_a, r.id_b) for r in near_dup_pairs(spark, store).collect()
    )
    assert replayed == settled == _batch_pairs(spark, docs)


def test_hot_family_across_batches_is_bridged(spark, dirs):
    """With hot_band_cap set, a boilerplate family arriving over two
    batches costs O(new) candidate edges per batch (star + one bridge,
    not |new|x|store| pairs), and the settled verified pairs still
    connect the WHOLE family transitively."""
    _, store = dirs
    fam_text = "identical boilerplate header shared by the whole family"
    b0 = spark.range(0, 400).selectExpr("id AS doc_id", f"'{fam_text}' AS text")
    b1 = spark.range(400, 800).selectExpr("id AS doc_id", f"'{fam_text}' AS text")
    process_dedup_batch(spark, b0, 0, store, hot_band_cap=50)
    process_dedup_batch(spark, b1, 1, store, hot_band_cap=50)
    pairs = [(r.id_a, r.id_b) for r in near_dup_pairs(spark, store).collect()]
    # O(n) per batch: batch 0 stars to 0 (399 edges); batch 1 stars to
    # 400 (399 edges) plus ONE bridge (0, 400) — not 400*400 cross pairs
    assert len(pairs) == 399 + 399 + 1
    assert (0, 400) in pairs
    # transitive closure connects all 800 members
    parent = list(range(800))
    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in pairs:
        parent[find(a)] = find(b)
    assert len({find(i) for i in range(800)}) == 1


def test_rejected_bridge_warns(spark, dirs, caplog):
    """ADVICE r4: when an over-cap band group is NOT an exact-dup family
    and its bridge edge fails Jaccard verification, the batch must warn
    (connectivity may be lost under the star contract) — and a healthy
    exact-dup family must stay silent."""
    import logging

    _, store = dirs
    fam = "identical boilerplate header shared by the whole family"
    b0 = spark.range(0, 120).selectExpr("id AS doc_id", f"'{fam}' AS text")
    b1 = spark.range(120, 240).selectExpr("id AS doc_id", f"'{fam}' AS text")
    with caplog.at_level(logging.WARNING, "osm_notes_ingestion_spark.streaming.dedup"):
        process_dedup_batch(spark, b0, 0, store, hot_band_cap=50)
        process_dedup_batch(spark, b1, 1, store, hot_band_cap=50)
    assert not [r for r in caplog.records if "bridge" in r.message]

    # threshold > 1 makes every verification fail, bridge included
    store2 = store + "_rej"
    with caplog.at_level(logging.WARNING, "osm_notes_ingestion_spark.streaming.dedup"):
        process_dedup_batch(spark, b0, 0, store2, hot_band_cap=50, threshold=1.01)
        process_dedup_batch(spark, b1, 1, store2, hot_band_cap=50, threshold=1.01)
    warns = [r for r in caplog.records if "bridge" in r.getMessage()]
    assert warns and "hot_band_cap=50" in warns[-1].getMessage()


def test_layout_guards_fail_loudly(spark, dirs):
    """A store must not silently read as empty: a bucket-count change
    raises at batch entry, a store holding data in the old batch-major
    layout raises at read time, and data directly under a bkt= dir
    (no batch_id= partition) raises too."""
    _, store = dirs
    docs = _docs(spark).limit(50)
    process_dedup_batch(spark, docs, 0, store, n_store_buckets=8)
    with pytest.raises(ValueError, match="n_store_buckets"):
        process_dedup_batch(spark, docs, 1, store, n_store_buckets=16)

    schema = "doc_id long, band int, bandsig string"
    bands = minhash_band_signatures_sets(doc_shingle_sets(docs))
    # r4 batch-major store (batch_id=N/bkt=B): new reader must refuse
    legacy = os.path.join(store, "legacy_bands")
    bands.write.mode("overwrite").parquet(os.path.join(legacy, "batch_id=0"))
    with pytest.raises(ValueError, match="bucket-major layout"):
        _pruned_store(spark, legacy, schema, [0]).count()
    # data directly under bkt= without batch_id= partitioning
    foreign = os.path.join(store, "foreign_bands")
    bands.write.mode("overwrite").parquet(os.path.join(foreign, "bkt=0"))
    with pytest.raises(ValueError, match="batch_id= layout"):
        _pruned_store(spark, foreign, schema, [0]).count()


def test_listing_rpcs_constant_in_batches(spark, dirs, monkeypatch):
    """The round-5 metadata fix: probing a store must cost one listing
    per TOUCHED BUCKET, not one per settled batch. Pin the listStatus
    call count for the same touched set after 2 and after 5 batches —
    equal, while the store's batch count grew."""
    import osm_notes_ingestion_spark.streaming.store as st

    _, store = dirs
    docs = _docs(spark)
    B = 16
    schema = "doc_id long, band int, bandsig string"
    bands_dir = os.path.join(store, "bands")
    touched = list(range(B))

    def probe_listings():
        calls = {"n": 0}
        real = st._list_children

        def counting(fs, hpath):
            calls["n"] += 1
            return real(fs, hpath)

        monkeypatch.setattr(st, "_list_children", counting)
        n_rows = _pruned_store(spark, bands_dir, schema, touched).count()
        monkeypatch.setattr(st, "_list_children", real)
        return calls["n"], n_rows

    for i in range(2):
        process_dedup_batch(spark, docs.where(f"doc_id % 5 = {i}"), i, store,
                            n_store_buckets=B)
    calls_2, rows_2 = probe_listings()
    for i in range(2, 5):
        process_dedup_batch(spark, docs.where(f"doc_id % 5 = {i}"), i, store,
                            n_store_buckets=B)
    calls_5, rows_5 = probe_listings()
    assert rows_5 > rows_2 > 0  # the store really grew
    assert calls_2 == calls_5 <= B  # listings did NOT grow with batches


def test_compaction_folds_settled_batches(spark, dirs):
    """compact_store folds settled batches into one generation: child
    dirs per bucket shrink to ≤ (1 gen + keep_batches), and the stream
    continues over the compacted store to the exact batch-pipeline
    settled result."""
    _, store = dirs
    docs = _docs(spark)
    for i in range(3):
        process_dedup_batch(spark, docs.where(f"doc_id % 4 = {i}"), i, store)
    gen = compact_store(spark, store, keep_batches=1)
    assert gen == 1
    per_bucket = {}
    for b in glob.glob(os.path.join(store, "bands", "bkt=*")):
        kids = [k for k in os.listdir(b) if k.startswith("batch_id=")]
        per_bucket[b] = sorted(kids)
        assert len(kids) <= 2  # gen + the kept newest batch
        assert all(k in ("batch_id=-1", "batch_id=2") for k in kids)
    assert per_bucket
    # stream continues over the compacted store
    process_dedup_batch(spark, docs.where("doc_id % 4 = 3"), 3, store)
    got = sorted((r.id_a, r.id_b) for r in near_dup_pairs(spark, store).collect())
    assert got == _batch_pairs(spark, docs)
    # second compaction folds the old generation + now-settled batches
    assert compact_store(spark, store, keep_batches=1) == 2
    got2 = sorted((r.id_a, r.id_b) for r in near_dup_pairs(spark, store).collect())
    assert got2 == got


def test_compaction_recovery_before_markers_complete(spark, dirs):
    """A crash BETWEEN the marker mkdirs (gen= present, keep= not yet —
    or an empty marker dir) predates every generation write, so recovery
    must be a safe no-op roll-back, not a crash: the next compact_store
    clears the marker and folds normally."""
    _, store = dirs
    docs = _docs(spark)
    for i in range(3):
        process_dedup_batch(spark, docs.where(f"doc_id % 4 = {i}"), i, store)
    want = sorted((r.id_a, r.id_b) for r in near_dup_pairs(spark, store).collect())

    # empty marker dir (crash before even gen= landed)
    os.makedirs(os.path.join(store, "_compact"))
    with pytest.raises(ValueError, match="unfinished compaction"):
        process_dedup_batch(spark, docs.limit(1), 3, store)
    assert compact_store(spark, store, keep_batches=2) == 1
    assert not os.path.exists(os.path.join(store, "_compact"))

    # gen= only (crash between the two marker mkdirs); the named partial
    # gen doesn't exist on disk — roll-back must tolerate that too
    os.makedirs(os.path.join(store, "_compact", "gen=-9"))
    assert compact_store(spark, store, keep_batches=1) == 2
    assert not os.path.exists(os.path.join(store, "_compact"))
    got = sorted((r.id_a, r.id_b) for r in near_dup_pairs(spark, store).collect())
    assert got == want


def test_compaction_crash_recovery(spark, dirs, monkeypatch):
    """A leftover _compact marker blocks batch processing loudly, and
    compact_store recovers from both crash phases: pre-commit (roll back
    the partial generation, refold) and post-commit (roll forward the
    deletes, never refold) — either way the settled state is intact."""
    import osm_notes_ingestion_spark.streaming.store as st

    _, store = dirs
    docs = _docs(spark)
    for i in range(3):
        process_dedup_batch(spark, docs.where(f"doc_id % 4 = {i}"), i, store)
    want = sorted((r.id_a, r.id_b) for r in near_dup_pairs(spark, store).collect())

    # phase A — crash BEFORE commit: marker + a bogus partial generation,
    # no `committed`. Recovery rolls the partial gen back, then folds.
    os.makedirs(os.path.join(store, "_compact", "gen=-1"))
    os.makedirs(os.path.join(store, "_compact", "keep=1"))
    some_bkt = glob.glob(os.path.join(store, "bands", "bkt=*"))[0]
    os.makedirs(os.path.join(some_bkt, "batch_id=-1"))
    with pytest.raises(ValueError, match="unfinished compaction"):
        process_dedup_batch(spark, docs.limit(1), 3, store)
    assert compact_store(spark, store, keep_batches=1) == 1  # {0,1} → gen -1
    assert not os.path.exists(os.path.join(store, "_compact"))

    # phase B — crash AFTER commit: interpose on the delete phase so the
    # generation (-2, folding gen -1 + batch 2... nothing else is settled
    # yet, keep=1 keeps batch 2) is fully written and `committed` exists,
    # but the folded dirs survive.
    process_dedup_batch(spark, docs.where("doc_id % 4 = 3"), 3, store)
    real_delete = st._delete_batch_dirs

    def crash_delete(fs, root, ids):
        raise RuntimeError("simulated crash after commit")

    monkeypatch.setattr(st, "_delete_batch_dirs", crash_delete)
    with pytest.raises(RuntimeError, match="simulated crash"):
        compact_store(spark, store, keep_batches=1)
    assert os.path.isdir(os.path.join(store, "_compact", "committed"))
    with pytest.raises(ValueError, match="unfinished compaction"):
        process_dedup_batch(spark, docs.limit(1), 4, store)
    monkeypatch.setattr(st, "_delete_batch_dirs", real_delete)
    # recovery rolls FORWARD (gen -2 already holds every folded row);
    # afterwards only gen -2 remains foldable → nothing new, returns 0
    assert compact_store(spark, store, keep_batches=1) == 0
    assert not os.path.exists(os.path.join(store, "_compact"))
    for b in glob.glob(os.path.join(store, "bands", "bkt=*")):
        kids = [k for k in os.listdir(b) if k.startswith("batch_id=")]
        assert all(k in ("batch_id=-2", "batch_id=3") for k in kids)
    # settled state intact: everything re-derivable and pairs unchanged
    got = sorted((r.id_a, r.id_b) for r in near_dup_pairs(spark, store).collect())
    assert got == _batch_pairs(spark, docs) and set(want) <= set(got)
