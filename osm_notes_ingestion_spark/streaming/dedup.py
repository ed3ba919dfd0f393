"""Streaming incremental near-duplicate detection: MinHash-LSH index
maintenance over micro-batches.

This is the streaming twin of the batch MinHash pipeline
(plans/queries_text.q_dedup_minhash_lsh): a training-data ingest at
10^12-document scale does not re-shingle the whole corpus per day — it
bands the NEW documents (map-only, operators/textops.
minhash_band_signatures_sets), equi-joins them against the accumulated
band-signature store for cross-batch candidates, self-joins them for
intra-batch candidates, verifies with exact Jaccard over the per-doc
shingle-set store, and appends the new signatures to the store. Per
batch the SHUFFLED/computed volume is O(new docs + candidates) — and so
is the store-side READ volume, because both stores are bucket-major
sub-stores of streaming/store.py (`bands/` keyed by bandsig, `sets/`
keyed by doc id) read pruned to the buckets the batch's own rows touch.
Pruning is lossless here: a cross-batch candidate requires bandsig
equality, and equal bandsigs hash to the same bucket; verification
reads sets for exact candidate ids, and equal ids hash to the same
bucket. So the per-batch store scan is O(store-size × touched-buckets /
B) instead of O(store), which is what keeps a year of 15-minute batches
readable at 10^12 docs (size B so one batch's distinct bandsigs touch a
small fraction of it; the default here is test-scale, deployment wants
2^10-2^14). The layout, its check, replay exclusion and the two-phase
generation compaction (`compact_store`) are streaming/store.py's.

Reference analog: the incremental API ingest path (the reference
processes new notes against the existing base, bin/process/
processAPINotes.sh) — here generalized to similarity state rather than
note state.

Settled-result invariant (pytest: tests/test_streaming_dedup.py): after
all batches are processed, the accumulated pair table is EXACTLY the
batch pipeline's output on the full corpus — every LSH candidate pair
(band, bandsig)-matches either within one batch (self-join) or across
batches (new×store join, discovered when its later member arrives), and
verification uses the identical arrays, so the union over batches is the
full-corpus candidate set with no duplicates beyond the distinct.

Exactly-once: every writer is keyed by micro-batch id (`batch_id=N`
partitions — pairs as whole overwritten directories, bands/sets as
store.py's (bkt, batch_id) leaves), the idempotent foreachBatch
pattern — a replayed batch rewrites the same rows instead of appending
duplicates.

Contract: doc ids are unique across the stream (append-only corpus).
A replayed FILE is handled by batch-id idempotency; a re-INGESTED doc
id under a NEW batch is upstream's bug (same as the reference's note-id
uniqueness) — the self-pair guard keeps it from matching itself, but
its stale signatures remain in the store.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.textops import (
    doc_shingle_sets,
    jaccard_filter_sets,
    lsh_candidate_pairs,
    minhash_band_signatures_sets,
)
from .store import (
    _bkt,
    _pruned_store,
    _touched_buckets,
    check_layout,
    compact,
    read_all,
    write_leaves,
)

_EMPTY_PAIRS = "id_a long, id_b long"
_LOG = logging.getLogger(__name__)


def process_dedup_batch(
    spark: SparkSession,
    batch: DataFrame,
    batch_id: int,
    store_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 16,
    rows_per_band: int = 4,
    threshold: float = 0.8,
    n_store_buckets: int = 16,
    hot_band_cap: int | None = None,
) -> None:
    """One micro-batch of the incremental LSH pipeline (see module doc).

    hot_band_cap (optional) extends operators/textops.
    lsh_candidate_pairs' degenerate-group star guard to the stream. When
    set: the INTRA-batch self-join stars over-cap groups (textops
    semantics), and the CROSS-batch join emits, for each (band, bandsig)
    whose new-side or store-side group exceeds the cap, ONE BRIDGE edge
    (new-group min id, store-group min id) instead of the full
    |new|x|store| product — without it, a hot family arriving over many
    batches costs O(batch x family-so-far) per batch, quadratic overall.
    The settled pair table then carries the star contract for over-cap
    groups: its verified transitive closure still connects the family
    (new members connect intra-batch, store members connected
    inductively by their own batches, the bridge joins the two), which
    is what cluster resolution consumes. Default None = full-pair
    behavior, settled ≡ the uncapped batch pipeline (tested).

    Layout under store_dir: bands/ and sets/ hold the accumulated
    signature and shingle-set stores, pairs/ the verified near-dup pairs
    — all partitioned by batch_id for idempotent replay; the two joined
    stores are BUCKET-MAJOR sub-stores (streaming/store.py) so each
    batch reads only the buckets its own rows can match with a constant
    number of listing RPCs. n_store_buckets must stay constant for the
    life of a store."""
    bands_dir = f"{store_dir}/bands"
    sets_dir = f"{store_dir}/sets"
    check_layout(spark, store_dir, n_store_buckets)

    new_sets = doc_shingle_sets(batch, id_col=id_col, text_col=text_col).persist()
    new_bands = minhash_band_signatures_sets(
        new_sets, id_col=id_col, n_hashes=n_hashes, rows_per_band=rows_per_band
    ).persist()

    # intra-batch candidates: the ordinary banded self-join (starred
    # for over-cap groups when hot_band_cap is set)
    intra = lsh_candidate_pairs(new_bands, id_col=id_col, hot_band_cap=hot_band_cap)
    # cross-batch candidates: new bands vs the accumulated store — the
    # store side never re-joins itself (those pairs were emitted when
    # their own batch arrived), and only store buckets holding a bandsig
    # hash the NEW batch produced are read at all
    old_bands = _pruned_store(
        spark,
        bands_dir,
        f"{id_col} long, band int, bandsig string",
        touched=_touched_buckets(new_bands, "bandsig", n_store_buckets),
        exclude_batch_id=batch_id,
    )
    nb = new_bands.select(F.col(id_col).alias("_nid"), "band", "bandsig")
    ob = old_bands.select(F.col(id_col).alias("_oid"), "band", "bandsig")
    if hot_band_cap is not None:
        # ob feeds both the group-stats aggregate and the cold equi-join
        # — persist so the pruned store files are read once per batch,
        # not once per plan branch (released with the batch below)
        ob = ob.persist()
        # group stats per matching signature: sigs hot on EITHER side
        # get one bridge edge (new min, store min); cold sigs keep the
        # full cross product (bounded by cap^2 per sig). Hot sigs are
        # few → broadcast the key set for the anti-joins.
        nstat = nb.groupBy("band", "bandsig").agg(
            F.count(F.lit(1)).alias("_nn"), F.min("_nid").alias("_nrep")
        )
        ostat = ob.groupBy("band", "bandsig").agg(
            F.count(F.lit(1)).alias("_on"), F.min("_oid").alias("_orep")
        )
        joint = nstat.join(ostat, ["band", "bandsig"])
        hot = joint.where(
            (F.col("_nn") > int(hot_band_cap)) | (F.col("_on") > int(hot_band_cap))
        ).persist()
        # _nrep != _orep mirrors the uncapped path's self-pair guard: a
        # re-ingested doc id (upstream contract violation, module doc)
        # that is min on BOTH sides must not emit a verified (x, x) loop
        bridges = hot.where(F.col("_nrep") != F.col("_orep")).select(
            F.least("_nrep", "_orep").alias("id_a"),
            F.greatest("_nrep", "_orep").alias("id_b"),
        )
        hot_keys = F.broadcast(hot.select("band", "bandsig"))
        nb_cold = nb.join(hot_keys, ["band", "bandsig"], "left_anti")
        ob_cold = ob.join(hot_keys, ["band", "bandsig"], "left_anti")
        cross = (
            nb_cold.join(ob_cold, ["band", "bandsig"])
            .where(F.col("_nid") != F.col("_oid"))
            .select(
                F.least("_nid", "_oid").alias("id_a"),
                F.greatest("_nid", "_oid").alias("id_b"),
            )
            .unionByName(bridges)
            .distinct()
        )
    else:
        cross = (
            nb.join(ob, ["band", "bandsig"])
            .where(F.col("_nid") != F.col("_oid"))
            .select(
                F.least("_nid", "_oid").alias("id_a"),
                F.greatest("_nid", "_oid").alias("id_b"),
            )
            .distinct()
        )
    cands = intra.unionByName(cross).distinct().persist()
    to_release = [new_sets, new_bands, cands]
    if hot_band_cap is not None:
        # hot is referenced by bridges AND the anti-join keys; ob by the
        # stats and cold branches
        to_release += [hot, ob]

    # verification needs both sides' shingle sets: the new batch's are
    # in memory; of the accumulated store, only candidate-id buckets
    cand_ids = cands.select(F.col("id_a").alias(id_col)).unionByName(
        cands.select(F.col("id_b").alias(id_col))
    )
    old_sets = _pruned_store(
        spark,
        sets_dir,
        f"{id_col} long, shset array<string>",
        touched=_touched_buckets(cand_ids, id_col, n_store_buckets),
        exclude_batch_id=batch_id,
    )
    all_sets = new_sets.unionByName(old_sets)
    verified = jaccard_filter_sets(cands, all_sets, id_col=id_col, threshold=threshold)
    # audit only when the batch actually HAS over-cap groups: hot is
    # persisted and tiny, so isEmpty() is one cheap job, while the
    # audit below is a full extra join+count action on the streaming
    # hot path — a quiet batch (cap set as protection, no hot families)
    # must not pay it every 15 minutes forever (review finding)
    if hot_band_cap is not None and not hot.isEmpty():
        # The star/bridge cap assumes over-cap band groups are exact-dup
        # families (their edges trivially pass verification). A BRIDGE
        # edge rejected by Jaccard means that assumption was violated —
        # the two sub-families the full |new|×|store| pair set would
        # have connected may end up in separate clusters. Surface it
        # loudly so operators can lower the cap / rerun uncapped for the
        # affected keys (ADVICE r4).
        verified = verified.persist()
        to_release.append(verified)
        n_rejected_bridges = (
            bridges.distinct()
            .join(verified, ["id_a", "id_b"], "left_anti")
            .count()
        )
        if n_rejected_bridges:
            _LOG.warning(
                "batch %s: %d hot-band bridge edge(s) failed Jaccard "
                "verification — an over-cap band group is NOT an exact-dup "
                "family, so its cross-batch connectivity may be lost under "
                "hot_band_cap=%s (rerun uncapped or raise the cap for "
                "these keys)",
                batch_id,
                n_rejected_bridges,
                hot_band_cap,
            )

    # batch-id-keyed writes: a foreachBatch replay overwrites, not
    # appends. Pairs stay batch-major (never prune-read; mode=overwrite
    # replaces the whole batch_id=N directory); the two prune-read
    # stores write their own (bkt, batch_id) leaves (same input ⇒ same
    # buckets), so settled batches are untouched.
    verified.write.mode("overwrite").parquet(
        f"{store_dir}/pairs/batch_id={int(batch_id)}"
    )
    for df, key, root in (
        (new_bands, "bandsig", bands_dir),
        (new_sets, id_col, sets_dir),
    ):
        write_leaves(df.withColumn("bkt", _bkt(key, n_store_buckets)), root, batch_id)
    for df in to_release:
        df.unpersist(blocking=False)


def streaming_near_dups(
    spark: SparkSession,
    source_dir: str,
    schema,
    store_dir: str,
    **kwargs,
):
    """readStream over a document directory → foreachBatch incremental
    LSH (process_dedup_batch). Returns the started StreamingQuery; run
    with trigger(availableNow=True) + awaitTermination for the settled
    result, then read near_dup_pairs(store_dir)."""
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
    )
    return (
        stream.writeStream.foreachBatch(
            lambda b, bid: process_dedup_batch(spark, b, bid, store_dir, **kwargs)
        )
        .option("checkpointLocation", f"{store_dir}/_stream_checkpoint")
        .trigger(availableNow=True)
        .start()
    )


def near_dup_pairs(spark: SparkSession, store_dir: str) -> DataFrame:
    """The accumulated verified pair table (settled after the stream)."""
    return read_all(spark, f"{store_dir}/pairs", _EMPTY_PAIRS)


def compact_store(
    spark: SparkSession, store_dir: str, keep_batches: int = 1
) -> int:
    """Fold settled batches of the bands/ and sets/ stores into one
    consolidated generation each (streaming/store.compact: contract,
    crash recovery), rows kept as they are. Pairs stay batch-major and
    are not compacted (they are only ever read whole). Returns the new
    generation number, or 0 if there was nothing to fold."""
    return compact(
        spark, store_dir, dict.fromkeys(("bands", "sets"), lambda df: df), keep_batches
    )
