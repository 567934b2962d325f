"""Incremental corpus deduplication over streaming epochs.

A 100 TB ingest is incremental in practice: documents arrive in batches
and each batch must be near-dup-checked against everything already
accepted — re-running batch dedup over the whole corpus per epoch is the
anti-pattern.  ``stream_dedup`` is the streaming twin of
``operators.corpus.decontaminate`` built on the same bounded-delta +
epoch-tagged-IceLite discipline as the incremental relation maintenance
in ``ingest_stream.py`` (and, like the reference's one-pass pipeline,
touches each arriving element once — osm_process_complete.erl:86-190's
single-pass discipline applied to corpus hygiene).

Design (per microbatch = one epoch):

* batch docs -> shingles -> MinHash signature -> band buckets, computed
  once with the staged projections from ``operators.dedup``;
* CROSS-EPOCH candidates: the accumulated ``dedup_index`` state table
  (bkt, bucket, doc_id of every KEPT doc) is probed with this batch's
  buckets — the batch side is broadcast (it is trigger-bounded), so the
  probe is one embarrassingly-parallel scan of the SLIM index (two longs
  + an int per kept doc; the wide text/sig columns never enter it) with
  zero shuffle of the index.  The bkt column (parquet min/max on the
  sorted layout) additionally prunes the scan when the batch is small
  enough not to touch all 256 buckets.  Per-epoch cost is therefore
  O(batch) compute + one slim column scan of the index — compare the
  anti-pattern this replaces, re-running pair dedup over the whole
  corpus per epoch (index × work, with shuffles of corpus-sized data);
* candidates are VERIFIED by signature agreement (>= ``sig_match_frac``
  of the n_perm MinHash components equal — the standard streaming-scale
  verify: signatures are fixed-width state, unlike shingle sets which
  grow with document length);
* WITHIN-BATCH near-dups are found with the same bucket-group pair
  expansion as ``minhash_lsh_pairs`` and verified the same way; a doc is
  dropped when it matches any SMALLER-id doc in its own batch or any
  previously kept doc (deterministic one-pass rule; on a chain a~b~c
  with a!~c this may keep c where batch connected-components would drop
  it — the documented streaming/batch semantic difference: only KEPT
  docs enter the index);
* survivors' buckets + signatures are appended to the state tables;
  ``kept_docs`` commits LAST and doubles as the epoch-done marker, so a
  mid-epoch crash simply replays the epoch — every cross-epoch probe
  reads the PRE-epoch snapshot (``_read_before_epoch``) and is therefore
  replay-stable even when the crashed attempt already appended state;
* index buckets larger than ``max_bucket`` are dropped from candidate
  generation, and within-batch buckets over the same cap are dropped from
  the pair expansion (explicit approximation knobs, same discipline as
  the batch operators); both counts land in the epoch's snapshot
  properties (``dropped_buckets`` / ``dropped_buckets_within``);
* every ``compact_every`` epochs the state tables are compacted and old
  snapshots expired (keep_last=4, the replay-safety floor with margin),
  bounding live file counts, on-disk dirs, and snapshot logs.

State tables under ``out_root``:

- ``dedup_index`` (bkt, bucket, doc_id) — band buckets of kept docs;
- ``kept_sigs`` (doc_id, sig) — signatures of kept docs (verify side);
- ``kept_docs`` — full rows of accepted docs (the deduped corpus output;
  the epoch marker table);
- ``dropped_docs`` (doc_id, dup_of, matches) — audit trail of rejects.
"""

from __future__ import annotations

import math
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, functions as F

from osm_cut_spark.operators.dedup import (
    band_bucket_exprs,
    bucket_pairs,
    minhash_sig_cols,
)
from osm_cut_spark.sources.icelite import IceLiteTable
from osm_cut_spark.streaming.ingest_stream import (
    N_KEY_BUCKETS,
    _append_once,
    _read_before_epoch,
)

DEFAULT_DOC_SCHEMA = "doc_id BIGINT, text STRING"

# per-epoch index-append fan-out: a small fixed count keeps the appended
# files bkt-range-disjoint (min/max pruning intact) while letting a large
# trigger's append write in parallel instead of through one task
INDEX_APPEND_PARTITIONS = 4


def _sig_matches(sig_a, sig_b):
    """Count of equal MinHash components — n_matches / n_perm estimates
    Jaccard (each component agrees with probability J)."""
    return F.size(F.filter(F.zip_with(sig_a, sig_b, lambda x, y: x == y), lambda v: v))


def _dedup_epoch(
    spark: SparkSession,
    batch_df: DataFrame,
    epoch_id: int,
    index_tbl: IceLiteTable,
    sigs_tbl: IceLiteTable,
    kept_tbl: IceLiteTable,
    dropped_tbl: IceLiteTable,
    id_col: str,
    text_col: str,
    n_perm: int,
    bands: int,
    shingle_n: int,
    sig_match_frac: float,
    max_bucket: int,
) -> None:
    """One epoch of incremental dedup (separated from the stream driver so
    tests can crash-inject between state appends and the marker commit)."""
    rows_per_band = n_perm // bands
    min_matches = math.ceil(sig_match_frac * n_perm)

    docs_b = batch_df.persist()
    # signatures via the codegen explode/partial-agg pipeline; the _m*
    # columns feed the band-bucket hashes, the array form the verify
    sigs_b = minhash_sig_cols(docs_b, id_col, text_col, n_perm, shingle_n, False).withColumn(
        "sig", F.array(*[F.col(f"_m{p}") for p in range(n_perm)])
    ).persist()
    bucket = F.explode(F.array(*band_bucket_exprs(bands, rows_per_band))).alias("bucket")
    dropped = kept_b = None
    try:
        buckets_b = sigs_b.select("_id", bucket)

        # ---- cross-epoch candidates vs the PRE-epoch index (replay-stable)
        dup_parts = []
        n_dropped_buckets = 0
        prev_idx = _read_before_epoch(index_tbl, spark, epoch_id)
        if prev_idx is not None:
            # bkt prune: <= N_KEY_BUCKETS distinct values, driver-bounded
            bkts = [
                r.bkt
                for r in buckets_b.select(
                    F.pmod("bucket", F.lit(N_KEY_BUCKETS)).cast("int").alias("bkt")
                )
                .distinct()
                .collect()
            ]
            idx = prev_idx.filter(F.col("bkt").isin(bkts)).join(
                F.broadcast(buckets_b.select("bucket").distinct()), "bucket", "left_semi"
            )
            # hot-bucket cap (explicit approximation knob, batch-op parity):
            # buckets with more kept docs than max_bucket are dropped from
            # candidate generation and counted in the snapshot properties
            sizes = idx.groupBy("bucket").agg(F.count(F.lit(1)).alias("n"))
            n_dropped_buckets = sizes.filter(F.col("n") > max_bucket).count()
            if n_dropped_buckets:
                idx = idx.join(
                    F.broadcast(sizes.filter(F.col("n") <= max_bucket).select("bucket")),
                    "bucket",
                    "left_semi",
                )
            cand = (
                idx.join(F.broadcast(buckets_b), "bucket")
                .select(F.col("_id").alias("new_id"), F.col("doc_id").alias("old_id"))
                .distinct()
            )
            prev_sigs = _read_before_epoch(sigs_tbl, spark, epoch_id)
            old_sigs = prev_sigs.join(
                F.broadcast(cand.select(F.col("old_id").alias("doc_id")).distinct()),
                "doc_id",
                "left_semi",
            ).select(F.col("doc_id").alias("old_id"), F.col("sig").alias("sig_old"))
            dup_parts.append(
                cand.join(
                    F.broadcast(
                        sigs_b.select(F.col("_id").alias("new_id"), F.col("sig").alias("sig_new"))
                    ),
                    "new_id",
                )
                .join(old_sigs, "old_id")
                .withColumn("matches", _sig_matches(F.col("sig_new"), F.col("sig_old")))
                .filter(F.col("matches") >= min_matches)
                .select("new_id", F.col("old_id").alias("dup_of"), "matches")
            )

        # ---- within-batch pairs (bucket-group expansion, batch-bounded,
        # and max_bucket-capped with the SAME discipline as the batch
        # operators — a degenerate trigger of near-identical docs must not
        # build C(batch, 2) structs in one bucket row; dropped within-batch
        # buckets are counted into the epoch's snapshot properties)
        pairs_in, dropped_in = bucket_pairs(buckets_b, "bucket", max_bucket)
        n_dropped_within = dropped_in.first()[0]
        dup_parts.append(
            pairs_in.join(
                sigs_b.select(F.col("_id").alias("id_a"), F.col("sig").alias("sig_a")), "id_a"
            )
            .join(
                sigs_b.select(F.col("_id").alias("id_b"), F.col("sig").alias("sig_b")), "id_b"
            )
            .withColumn("matches", _sig_matches(F.col("sig_a"), F.col("sig_b")))
            .filter(F.col("matches") >= min_matches)
            .select(
                F.col("id_b").alias("new_id"), F.col("id_a").alias("dup_of"), "matches"
            )
        )

        dups = dup_parts[0]
        for p in dup_parts[1:]:
            dups = dups.unionByName(p)
        dropped = dups.groupBy("new_id").agg(
            F.min("dup_of").alias("dup_of"), F.max("matches").alias("matches")
        ).persist()

        kept_b = docs_b.join(
            dropped, docs_b[id_col] == dropped.new_id, "left_anti"
        ).persist()

        # ---- state appends; kept_docs LAST (the epoch-done marker)
        kept_sigs_b = sigs_b.join(
            kept_b.select(F.col(id_col).alias("_id")), "_id", "left_semi"
        )
        idx_b = (
            kept_sigs_b.select(F.col("_id").alias("doc_id"), bucket)
            .withColumn("bkt", F.pmod("bucket", F.lit(N_KEY_BUCKETS)).cast("int"))
            # bkt-range partitioning: a handful of bkt-disjoint files whose
            # min/max stats still prune probes, WITHOUT serializing a large
            # trigger's index append through one task (the old
            # repartition(1) single-task write stall)
            .repartitionByRange(INDEX_APPEND_PARTITIONS, "bkt")
            .sortWithinPartitions("bkt")  # file/row-group min-max stats prune probes
        )
        _append_once(index_tbl, idx_b, epoch_id)
        _append_once(
            sigs_tbl, kept_sigs_b.select(F.col("_id").alias("doc_id"), "sig"), epoch_id
        )
        _append_once(
            dropped_tbl,
            dropped.select(F.col("new_id").alias("doc_id"), "dup_of", "matches"),
            epoch_id,
        )
        n_in, n_kept = docs_b.count(), kept_b.count()
        _append_once_props = {
            "epoch": epoch_id,
            "n_in": n_in,
            "n_kept": n_kept,
            "n_dropped": n_in - n_kept,
            "dropped_buckets": n_dropped_buckets,
            "dropped_buckets_within": n_dropped_within,
        }
        if not any(
            s["properties"].get("epoch") == epoch_id for s in kept_tbl.snapshots()
        ):
            kept_tbl.append(kept_b, properties=_append_once_props)
    finally:
        # release in the finally block so a crashed-then-replayed epoch (the
        # module's designed failure mode) does not leak cached blocks
        if dropped is not None:
            dropped.unpersist()
        if kept_b is not None:
            kept_b.unpersist()
        sigs_b.unpersist()
        docs_b.unpersist()


def stream_dedup(
    spark: SparkSession,
    docs_dir: str | Path,
    out_root: str | Path,
    schema: str = DEFAULT_DOC_SCHEMA,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_perm: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    sig_match_frac: float = 0.5,
    max_bucket: int = 1000,
    checkpoint_dir: str | Path | None = None,
    max_files_per_trigger: int = 4,
    compact_every: int = 16,
):
    """Start the incremental-dedup stream over arriving document parquet
    files.  Returns the StreamingQuery; drive synchronously in tests with
    ``q.processAllAvailable()``.  Read the accumulated deduped corpus with
    ``read_deduped(spark, out_root)``.
    """
    root = Path(out_root)
    index_tbl = IceLiteTable(root / "dedup_index")
    sigs_tbl = IceLiteTable(root / "kept_sigs")
    kept_tbl = IceLiteTable(root / "kept_docs")
    dropped_tbl = IceLiteTable(root / "dropped_docs")
    ckpt = str(checkpoint_dir or (root / "_stream_checkpoint"))

    def process_batch(batch_df: DataFrame, epoch_id: int):
        if any(
            s["properties"].get("epoch") == epoch_id for s in kept_tbl.snapshots()
        ):
            return  # epoch fully committed before a restart
        _dedup_epoch(
            spark, batch_df, epoch_id,
            index_tbl, sigs_tbl, kept_tbl, dropped_tbl,
            id_col, text_col, n_perm, bands, shingle_n,
            sig_match_frac, max_bucket,
        )
        if compact_every and (epoch_id + 1) % compact_every == 0:
            for tbl in (index_tbl, sigs_tbl, kept_tbl, dropped_tbl):
                if tbl.exists() and len(tbl.current_snapshot()["data_dirs"]) > 1:
                    tbl.compact(spark, properties={"epoch": f"compact-{epoch_id}"})
            for tbl in (index_tbl, sigs_tbl, kept_tbl, dropped_tbl):
                if tbl.exists():
                    tbl.expire_snapshots(keep_last=4)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(str(docs_dir))
    )
    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
    )


def read_deduped(spark: SparkSession, out_root: str | Path) -> DataFrame:
    """The accumulated deduped corpus (all kept docs across epochs)."""
    return IceLiteTable(Path(out_root) / "kept_docs").read(spark)


def read_dropped(spark: SparkSession, out_root: str | Path) -> DataFrame:
    """Audit trail: (doc_id, dup_of, matches) of every rejected doc."""
    return IceLiteTable(Path(out_root) / "dropped_docs").read(spark)
