"""stream_extract_full: the FULL incremental cut (nodes, completion
nodes, ways, relations) maintained per microbatch — the streaming analog
of osm_process_complete.erl:86-190, not just the node stage.

Golden: two-batch arrival of the reference fixture (nodes in batch 0,
ways + relations in batch 1) must reproduce the 8-element complete-mode
golden, including kept node lists and kept member sets; a restarted
query on the same checkpoint must not duplicate or change anything.
"""

from __future__ import annotations

import os
import shutil
from pathlib import Path

import pytest

from osm_cut_spark.functions.cells import polygon_cell_cover
from osm_cut_spark.operators.extract import extract
from osm_cut_spark.sources.docs import doc_rows_to_spark, elements_to_doc_rows
from osm_cut_spark.sources.osm_xml import load_osm_xml
from osm_cut_spark.sources.poly import compile_poly

from conftest import FIXTURE_OSM, FIXTURE_POLY


def _emit_file(df, stage_dir: Path, src: Path, name: str, mtime: float) -> None:
    """Write one single-file parquet batch into the stream source dir with a
    controlled mtime (the file source processes oldest-first)."""
    df.coalesce(1).write.mode("overwrite").parquet(str(stage_dir / name))
    part = next((stage_dir / name).glob("part-*.parquet"))
    dst = src / f"{name}.parquet"
    shutil.copy(part, dst)
    os.utime(dst, (mtime, mtime))


def test_stream_extract_full_two_batch_golden_and_restart(spark, tmp_path):
    from osm_cut_spark.sources.icelite import IceLiteTable
    from osm_cut_spark.streaming.ingest_stream import (
        read_incremental_cut,
        stream_extract_full,
    )

    els = load_osm_xml(FIXTURE_OSM)
    poly = compile_poly(FIXTURE_POLY)
    cover = polygon_cell_cover(poly)
    rows = elements_to_doc_rows(els, 3)  # 12 elements -> 4 docs of 3
    assert len(rows) == 4

    src = tmp_path / "docs_in"
    src.mkdir()
    stage = tmp_path / "stage"
    now = 1_700_000_000.0
    # batch 0 = the node documents, batch 1 = the way/relation documents
    _emit_file(doc_rows_to_spark(spark, rows[:2]), stage, src, "b0", now)
    _emit_file(doc_rows_to_spark(spark, rows[2:]), stage, src, "b1", now + 10)

    out = tmp_path / "cut_out"
    q = stream_extract_full(
        spark, src, poly, out, complete=True, cover=cover, max_files_per_trigger=1
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # one epoch per file, committed exactly once per table
    epochs = [
        s["properties"]["epoch"] for s in IceLiteTable(out / "nodes_sel").snapshots()
    ]
    assert len(epochs) == len(set(epochs)) == 2

    inc = read_incremental_cut(spark, out)
    got = sorted((r.phase, r.kind, r.id) for r in inc.collect())

    docs_all = doc_rows_to_spark(spark, rows)
    batch = extract(spark, docs_all, poly, complete=True, cover=cover)
    want = sorted((r.phase, r.kind, r.id) for r in batch.elements().collect())
    batch.release()
    assert got == want
    assert [(k, i) for _, k, i in got] == [
        ("node", 1),
        ("node", 2),
        ("node", 3),
        ("node", 4),  # completion
        ("way", 1),
        ("relation", 1),
        ("relation", 2),
        ("relation", 4),  # closure
    ]

    # kept node list (complete mode keeps the FULL list) and member sets
    ways = {r.id: list(r.kept_nds) for r in inc.filter("phase = 2").collect()}
    assert ways == {1: [1, 2, 3, 4, 1]}
    rels = {
        r.id: sorted((m.type, m.ref) for m in r.kept_m)
        for r in inc.filter("phase = 3").collect()
    }
    assert rels == {1: [("way", 1)], 2: [("node", 4)], 4: [("relation", 2)]}

    # restart on the same checkpoint: nothing reprocessed, nothing duplicated
    q2 = stream_extract_full(
        spark, src, poly, out, complete=True, cover=cover, max_files_per_trigger=1
    )
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    inc2 = read_incremental_cut(spark, out)
    assert sorted((r.phase, r.kind, r.id) for r in inc2.collect()) == got
    epochs2 = [
        s["properties"]["epoch"] for s in IceLiteTable(out / "nodes_sel").snapshots()
    ]
    assert epochs2 == epochs


def test_stream_extract_full_non_complete(spark, tmp_path):
    """Non-complete mode streams too: stream-order relation selection and
    projected (intersection) kept node lists, equal to the batch engine."""
    from osm_cut_spark.streaming.ingest_stream import (
        read_incremental_cut,
        stream_extract_full,
    )

    els = load_osm_xml(FIXTURE_OSM)
    poly = compile_poly(FIXTURE_POLY)
    cover = polygon_cell_cover(poly)
    rows = elements_to_doc_rows(els, 3)

    src = tmp_path / "docs_in"
    src.mkdir()
    stage = tmp_path / "stage"
    now = 1_700_000_000.0
    _emit_file(doc_rows_to_spark(spark, rows[:2]), stage, src, "b0", now)
    _emit_file(doc_rows_to_spark(spark, rows[2:]), stage, src, "b1", now + 10)

    out = tmp_path / "cut_out_nc"
    q = stream_extract_full(
        spark, src, poly, out, complete=False, cover=cover, max_files_per_trigger=1
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    inc = read_incremental_cut(spark, out)
    got = sorted((r.phase, r.kind, r.id) for r in inc.collect())
    docs_all = doc_rows_to_spark(spark, rows)
    batch = extract(spark, docs_all, poly, complete=False, cover=cover)
    want = sorted((r.phase, r.kind, r.id) for r in batch.elements().collect())
    batch.release()
    assert got == want
    ways = {r.id: list(r.kept_nds) for r in inc.filter("phase = 2").collect()}
    assert ways == {1: [1, 2, 3, 1]}  # projected intersection, original order


def _epoch_elements(e: int) -> list:
    """One epoch's elements: 2 inside nodes + 1 outside, a way over them
    (outside ref -> completion), a seed relation on the way, and a
    non-seed parent relation (closure) — self-contained per epoch, so
    later epochs never touch earlier relations and the per-epoch
     'affected' count must stay constant."""
    base = 100 * e
    meta = {"version": 1, "timestamp": None, "uid": None, "user": None, "changeset": None}
    return [
        {"kind": "node", "id": base + 1, "lon": 1.0 + e * 0.01, "lat": 1.0, "tags": [], **meta},
        {"kind": "node", "id": base + 2, "lon": 2.0 + e * 0.01, "lat": 1.5, "tags": [], **meta},
        {"kind": "node", "id": base + 3, "lon": 50.0, "lat": 50.0, "tags": [], **meta},
        {"kind": "way", "id": 100_000 + e, "nds": [base + 1, base + 2, base + 3], "tags": [], **meta},
        {"kind": "relation", "id": 200_000 + e,
         "members": [("way", 100_000 + e, "outer")], "tags": [], **meta},
        {"kind": "relation", "id": 300_000 + e,
         "members": [("relation", 200_000 + e, "sub")], "tags": [], **meta},
    ]


def test_stream_extract_full_many_epochs_bounded_and_compacted(spark, tmp_path):
    """50-epoch run: (1) per-epoch relation work stays CONSTANT while the
    accumulated relation table grows 50x (snapshot-recorded 'affected'
    counts), (2) periodic compaction bounds state-table file counts,
    (3) the final incremental output equals the batch cut of all data."""
    from osm_cut_spark.functions.geometry import prepare_polygon
    from osm_cut_spark.sources.icelite import IceLiteTable
    from osm_cut_spark.streaming.ingest_stream import (
        read_incremental_cut,
        stream_extract_full,
    )

    n_epochs, compact_every = 50, 8
    poly = prepare_polygon([("include", [(0.0, 0.0), (10.0, 0.0), (10.0, 5.0), (0.0, 5.0)])])
    from osm_cut_spark.functions.cells import polygon_cell_cover

    cover = polygon_cell_cover(poly, 4, 7)
    src = tmp_path / "docs_in"
    src.mkdir()
    stage = tmp_path / "stage"
    now = 1_700_000_000.0
    all_rows = []
    for e in range(n_epochs):
        rows = elements_to_doc_rows(_epoch_elements(e), 0, doc_prefix=f"d{e:04d}")
        all_rows += rows
        _emit_file(doc_rows_to_spark(spark, rows), stage, src, f"b{e:04d}", now + e)

    out = tmp_path / "cut_out_many"
    q = stream_extract_full(
        spark, src, poly, out, complete=True, cover=cover,
        max_files_per_trigger=1, compact_every=compact_every,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # (1) bounded per-epoch relation work: 'affected' never grows with the
    # accumulated total (2 new relations per epoch -> small constant).
    # snapshot_history() includes EXPIRED commits — expiry reclaims data
    # dirs but archives the per-epoch metrics metadata
    snaps = IceLiteTable(out / "rels_sel").snapshot_history()
    affected = [
        s["properties"]["affected"]
        for s in snaps
        if "affected" in s["properties"]
    ]
    assert len(affected) == n_epochs
    assert max(affected[5:]) <= 4, affected  # constant, NOT O(total relations)
    assert not any(
        s["properties"].get("fallback_full_refresh") for s in snaps
    )

    # (2) compaction bounds LIVE data-dir counts on append-heavy state
    # tables, and snapshot expiry bounds the ON-DISK dir and live-log
    # counts too (old dirs no longer survive forever for time travel) —
    # ~2 compaction cycles of slack, NOT O(epochs)
    for name in (
        "nodes_sel", "nodes_all", "ways_sel", "comp_sel", "rels_all",
        "member_idx", "rels_by_id", "rel_seeds", "rels_sel",
    ):
        t = IceLiteTable(out / name)
        live = t.current_snapshot()["data_dirs"]
        assert len(live) <= compact_every + 1, (name, len(live))
        on_disk = [p for p in t.data_dir.iterdir() if p.is_dir()]
        assert len(on_disk) <= 2 * compact_every, (name, len(on_disk))
        assert len(t.snapshots()) <= 2 * compact_every, name
        # full commit history still inspectable after expiry
        assert len(t.snapshot_history()) >= n_epochs, name

    # (3) equality with the batch cut over all 50 epochs of data
    inc = read_incremental_cut(spark, out)
    got = sorted((r.phase, r.kind, r.id) for r in inc.collect())
    docs_all = doc_rows_to_spark(spark, all_rows)
    batch = extract(spark, docs_all, poly, complete=True, cover=cover)
    want = sorted((r.phase, r.kind, r.id) for r in batch.elements().collect())
    got_m = {
        r.id: sorted((m.type, m.ref) for m in r.kept_m)
        for r in inc.filter("phase = 3").collect()
    }
    batch.release()
    assert got == want
    # every seed keeps its way, every closure parent keeps its child relation
    for e in range(n_epochs):
        assert got_m[200_000 + e] == [("way", 100_000 + e)]
        assert got_m[300_000 + e] == [("relation", 200_000 + e)]
