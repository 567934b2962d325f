"""stream_dedup: incremental corpus dedup over streaming epochs.

Pins the three verdict-level guarantees: (1) golden — a doc arriving in
epoch N that near-duplicates a doc kept in epoch M < N is dropped with
the right dup_of, within-batch dups resolve to the min id, distinct docs
survive; (2) replay-stable — a crash AFTER the state appends but BEFORE
the kept_docs marker replays the epoch to the identical result (the
cross-epoch probes read pre-epoch snapshots); (3) bounded — state-table
live dirs / on-disk dirs / snapshot logs stay bounded over many epochs
under compaction + expiry, like the relation-maintenance 50-epoch test.
"""

from __future__ import annotations

import os
import shutil
from pathlib import Path

import pytest

from osm_cut_spark.sources.icelite import IceLiteTable

WORDS_A = " ".join(f"alpha{i} beta{i}" for i in range(10))  # 20 tokens
# last 3 tokens replaced: 13/18 shingles shared, sig agreement 30/32
WORDS_A_NEAR = " ".join(WORDS_A.split(" ")[:-3] + ["chg0", "chg1", "chg2"])
WORDS_B = " ".join(f"gamma{i} delta{i}" for i in range(10))
WORDS_C = " ".join(f"epsil{i} zeta{i}" for i in range(10))
WORDS_D = " ".join(f"theta{i} iota{i}" for i in range(10))


# band-bucket keys (2 bands of 4 rows) of one fixed signature, as earlier
# versions computed and persisted them in dedup_index: xxhash64 (the
# streaming default) and the replayable md5 hash
GOLDEN_SIG = [11, 22_000_000_017, 3, 2**60 + 5, 987_654_321, 0, 42, 7]
GOLDEN_BUCKETS = {
    False: [-5575364674251155279, -6440044174330266180],
    True: [280392085942613707, 687961288741390041],
}


def test_band_bucket_keys_match_persisted_golden(spark):
    """band_bucket_exprs must keep producing the keys already persisted in
    dedup_index, or later epochs stop matching earlier kept docs."""
    import hashlib

    from osm_cut_spark.operators.dedup import band_bucket_exprs

    sig = spark.createDataFrame(
        [tuple(GOLDEN_SIG)], ", ".join(f"_m{i} BIGINT" for i in range(8))
    )
    for replayable, want in GOLDEN_BUCKETS.items():
        assert list(sig.select(*band_bucket_exprs(2, 4, replayable)).first()) == want
    # the replayable keys recomputed from their documented "b:sig,..." form
    for b, want in enumerate(GOLDEN_BUCKETS[True]):
        key = f"{b}:" + ",".join(str(v) for v in GOLDEN_SIG[4 * b : 4 * b + 4])
        assert int(hashlib.md5(key.encode()).hexdigest()[:15], 16) == want


def _emit_file(df, stage_dir: Path, src: Path, name: str, mtime: float) -> None:
    """One single-file parquet batch with controlled mtime (the file
    source processes oldest-first)."""
    df.coalesce(1).write.mode("overwrite").parquet(str(stage_dir / name))
    part = next((stage_dir / name).glob("part-*.parquet"))
    dst = src / f"{name}.parquet"
    shutil.copy(part, dst)
    os.utime(dst, (mtime, mtime))


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id BIGINT, text STRING")


def test_stream_dedup_golden_and_restart(spark, tmp_path):
    from osm_cut_spark.streaming.dedup_stream import (
        read_deduped,
        read_dropped,
        stream_dedup,
    )

    src = tmp_path / "docs_in"
    src.mkdir()
    stage = tmp_path / "stage"
    now = 1_700_000_000.0
    # e0: 1=A, 2=B, 3=A (within-batch exact dup of 1)
    _emit_file(
        _docs(spark, [(1, WORDS_A), (2, WORDS_B), (3, WORDS_A)]), stage, src, "b0", now
    )
    # e1: 11=A' (near-dup of kept doc 1, cross-epoch), 12=C (fresh)
    _emit_file(
        _docs(spark, [(11, WORDS_A_NEAR), (12, WORDS_C)]), stage, src, "b1", now + 10
    )
    # e2: 21=B (exact dup of doc 2 kept two epochs earlier), 22=D (fresh)
    _emit_file(
        _docs(spark, [(21, WORDS_B), (22, WORDS_D)]), stage, src, "b2", now + 20
    )

    out = tmp_path / "dedup_out"
    q = stream_dedup(spark, src, out, max_files_per_trigger=1)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    kept = sorted(r.doc_id for r in read_deduped(spark, out).collect())
    assert kept == [1, 2, 12, 22]
    dropped = {r.doc_id: r.dup_of for r in read_dropped(spark, out).collect()}
    assert dropped == {3: 1, 11: 1, 21: 2}
    # exact dups agree on every sig component; the near-dup on most
    exact = {r.doc_id: r.matches for r in read_dropped(spark, out).collect()}
    assert exact[3] == 32 and exact[21] == 32
    assert exact[11] == 30  # deterministic hashing pins the near-dup score

    # per-epoch observability in the marker table's snapshot properties
    props = [s["properties"] for s in IceLiteTable(out / "kept_docs").snapshots()]
    assert [(p["n_in"], p["n_kept"]) for p in props] == [(3, 2), (2, 1), (2, 1)]

    # restart on the same checkpoint: nothing reprocessed, nothing duplicated
    q2 = stream_dedup(spark, src, out, max_files_per_trigger=1)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    assert sorted(r.doc_id for r in read_deduped(spark, out).collect()) == kept
    epochs = [s["properties"]["epoch"] for s in IceLiteTable(out / "kept_docs").snapshots()]
    assert len(epochs) == len(set(epochs)) == 3


def test_stream_dedup_mid_epoch_replay_stable(spark, tmp_path):
    """Crash AFTER index/sigs/dropped appends but BEFORE the kept_docs
    marker, then replay the epoch: identical result to a clean run (the
    batch's own half-committed state must not shadow the pre-epoch view)."""
    from osm_cut_spark.streaming.dedup_stream import _dedup_epoch

    def tables(root: Path):
        return (
            IceLiteTable(root / "dedup_index"),
            IceLiteTable(root / "kept_sigs"),
            IceLiteTable(root / "kept_docs"),
            IceLiteTable(root / "dropped_docs"),
        )

    args = dict(
        id_col="doc_id", text_col="text", n_perm=32, bands=8,
        shingle_n=3, sig_match_frac=0.5, max_bucket=1000,
    )
    e0 = _docs(spark, [(1, WORDS_A), (2, WORDS_B)])
    e1 = _docs(spark, [(11, WORDS_A), (12, WORDS_C)])  # 11 dups kept doc 1

    # clean reference run
    clean = tmp_path / "clean"
    ct = tables(clean)
    _dedup_epoch(spark, e0, 0, *ct, **args)
    _dedup_epoch(spark, e1, 1, *ct, **args)

    # crashed run: epoch 1 dies right before the kept_docs marker commit
    crashed = tmp_path / "crashed"
    kt = tables(crashed)
    _dedup_epoch(spark, e0, 0, *kt, **args)

    class Boom(Exception):
        pass

    kept_tbl = kt[2]
    real_append = kept_tbl.append
    kept_tbl.append = lambda *a, **k: (_ for _ in ()).throw(Boom())
    with pytest.raises(Boom):
        _dedup_epoch(spark, e1, 1, *kt, **args)
    kept_tbl.append = real_append
    # epoch 1's index/sigs/dropped appends landed; the marker did not
    assert any(
        s["properties"].get("epoch") == 1 for s in kt[0].snapshots()
    )
    assert not any(
        s["properties"].get("epoch") == 1 for s in kept_tbl.snapshots()
    )

    # replay epoch 1 (what the restarted stream driver does)
    _dedup_epoch(spark, e1, 1, *kt, **args)

    for i in (2, 3):  # kept_docs, dropped_docs identical to the clean run
        got = sorted(tuple(r) for r in kt[i].read(spark).collect())
        want = sorted(tuple(r) for r in ct[i].read(spark).collect())
        assert got == want, kt[i].root.name
    # state appended exactly once per epoch despite the replay
    idx_epochs = [s["properties"].get("epoch") for s in kt[0].snapshots()]
    assert idx_epochs == [0, 1]


def test_stream_dedup_many_epochs_bounded(spark, tmp_path):
    """12 epochs, compact_every=4: every epoch's dup of an epoch-0 doc is
    dropped; live dirs, on-disk dirs, and snapshot logs stay bounded."""
    from osm_cut_spark.streaming.dedup_stream import read_deduped, stream_dedup

    n_epochs, compact_every = 12, 4
    src = tmp_path / "docs_in"
    src.mkdir()
    stage = tmp_path / "stage"
    now = 1_700_000_000.0
    _emit_file(_docs(spark, [(0, WORDS_A)]), stage, src, "b000", now)
    for e in range(1, n_epochs):
        fresh = " ".join(f"ep{e}w{i} ep{e}v{i}" for i in range(10))
        _emit_file(
            _docs(spark, [(10 * e, fresh), (10 * e + 1, WORDS_A)]),
            stage, src, f"b{e:03d}", now + e,
        )

    out = tmp_path / "dedup_many"
    q = stream_dedup(
        spark, src, out, max_files_per_trigger=1, compact_every=compact_every
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    kept = sorted(r.doc_id for r in read_deduped(spark, out).collect())
    assert kept == [0] + [10 * e for e in range(1, n_epochs)]

    for name in ("dedup_index", "kept_sigs", "kept_docs", "dropped_docs"):
        t = IceLiteTable(out / name)
        live = t.current_snapshot()["data_dirs"]
        assert len(live) <= compact_every + 1, (name, len(live))
        on_disk = [p for p in t.data_dir.iterdir() if p.is_dir()]
        assert len(on_disk) <= 2 * compact_every, (name, len(on_disk))
        assert len(t.snapshots()) <= 2 * compact_every, name
        # full commit history still inspectable after expiry
        assert len(t.snapshot_history()) >= n_epochs, name
