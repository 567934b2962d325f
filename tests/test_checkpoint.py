"""IceLite snapshot table + resumable checkpointed cut tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from osm_cut_spark.functions.cells import polygon_cell_cover
from osm_cut_spark.operators.extract import extract
from osm_cut_spark.plans.checkpoint import ResumableCut
from osm_cut_spark.sources.docs import doc_rows_to_spark, elements_to_doc_rows, synthetic_docs_spark
from osm_cut_spark.sources.icelite import IceLiteTable
from osm_cut_spark.sources.osm_xml import load_osm_xml
from osm_cut_spark.sources.poly import compile_poly

from conftest import FIXTURE_OSM, FIXTURE_POLY


def test_icelite_append_overwrite_timetravel(spark, tmp_path):
    t = IceLiteTable(tmp_path / "t1")
    assert not t.exists()
    df1 = spark.range(5).select(F.col("id"))
    s1 = t.append(df1, properties={"k": "v"})
    assert t.read(spark).count() == 5
    s2 = t.append(spark.range(3).select(F.col("id")))
    assert t.read(spark).count() == 8
    # time travel to first snapshot
    assert t.read(spark, s1["snapshot_id"]).count() == 5
    t.overwrite(spark.range(2).select(F.col("id")))
    assert t.read(spark).count() == 2
    snaps = t.snapshots()
    assert [s["operation"] for s in snaps] == ["append", "append", "overwrite"]
    assert snaps[0]["properties"] == {"k": "v"}
    assert snaps[1]["parent"] == s1["snapshot_id"]
    assert s2["sequence"] == 1


def test_icelite_unpublished_writes_invisible(spark, tmp_path):
    t = IceLiteTable(tmp_path / "t2")
    t.append(spark.range(4).select(F.col("id")))
    # a stray (crashed-writer) data dir must not be visible
    stray = t.data_dir / "d-stray"
    spark.range(100).write.parquet(str(stray))
    assert t.read(spark).count() == 4


@pytest.fixture(scope="module")
def fixture_docs(spark):
    els = load_osm_xml(FIXTURE_OSM)
    return doc_rows_to_spark(spark, elements_to_doc_rows(els, elements_per_doc=3))


def test_resumable_matches_extract(spark, tmp_path, fixture_docs):
    poly = compile_poly(FIXTURE_POLY)
    cover = polygon_cell_cover(poly)
    cut = ResumableCut(
        spark, fixture_docs, poly, tmp_path / "cut1", complete=True, n_buckets=2, cover=cover
    )
    summary = cut.run()
    assert summary["resumed_buckets"] == 0
    got = {
        (r.kind, r.id) for r in cut.out_tbl.read(spark).collect()
    }
    want = {
        (r.kind, r.id)
        for r in extract(spark, fixture_docs, poly, complete=True, cover=cover).elements().collect()
    }
    assert got == want
    # checkpoint table carries lineage + processed-cell metrics
    m = cut.ckpt_tbl.read(spark)
    kinds = {r.metric for r in m.collect()}
    assert kinds == {"partition_lineage", "processed_cell"}
    assert m.filter("metric = 'processed_cell'").count() > 0


def test_crash_and_resume(spark, tmp_path, fixture_docs):
    poly = compile_poly(FIXTURE_POLY)
    cover = polygon_cell_cover(poly)
    root = tmp_path / "cut2"
    crashing = ResumableCut(
        spark, fixture_docs, poly, root, complete=True, n_buckets=3, cover=cover,
        fail_after_commits=2,
    )
    with pytest.raises(RuntimeError, match="injected crash"):
        crashing.run()
    # partial progress committed
    assert len(crashing.nodes_tbl.snapshots()) == 2
    assert not crashing.out_tbl.exists()

    resumed = ResumableCut(
        spark, fixture_docs, poly, root, complete=True, n_buckets=3, cover=cover
    )
    summary = resumed.run()
    assert summary["resumed_buckets"] == 2  # the two committed node buckets skipped
    got = {(r.kind, r.id) for r in resumed.out_tbl.read(spark).collect()}
    want = {
        (r.kind, r.id)
        for r in extract(spark, fixture_docs, poly, complete=True, cover=cover).elements().collect()
    }
    assert got == want


def test_crash_between_metrics_and_data(spark, tmp_path, fixture_docs):
    """Metrics commit first, data snapshot last: a crash in between re-runs
    the bucket (no metric loss) without double-appending metrics."""
    poly = compile_poly(FIXTURE_POLY)
    cover = polygon_cell_cover(poly)
    root = tmp_path / "cut4"
    cut = ResumableCut(
        spark, fixture_docs, poly, root, complete=True, n_buckets=2, cover=cover
    )
    # simulate the crash window: metrics for (nodes, 1) committed, data not
    cut.ckpt_tbl.append(
        spark.createDataFrame(
            [("nodes", 1, "partition_lineage", 0, 0, None, None)],
            "stage STRING, bucket INT, metric STRING, key BIGINT, n_rows BIGINT,"
            " min_id BIGINT, max_id BIGINT",
        ),
        properties={"stage": "nodes", "bucket": 1},
    )
    summary = cut.run()
    assert summary["resumed_buckets"] == 0  # data snapshots drive resume
    node_metric_snaps = [
        s for s in cut.ckpt_tbl.snapshots()
        if s["properties"].get("stage") == "nodes" and int(s["properties"]["bucket"]) == 1
    ]
    assert len(node_metric_snaps) == 1  # not re-appended by the re-run
    got = {(r.kind, r.id) for r in cut.out_tbl.read(spark).collect()}
    want = {
        (r.kind, r.id)
        for r in extract(spark, fixture_docs, poly, complete=True, cover=cover).elements().collect()
    }
    assert got == want


def test_rerun_is_noop(spark, tmp_path):
    poly = compile_poly(FIXTURE_POLY)
    cover = polygon_cell_cover(poly)
    docs = synthetic_docs_spark(spark, 12, seed=7)
    root = tmp_path / "cut3"
    first = ResumableCut(spark, docs, poly, root, n_buckets=2, cover=cover).run()
    second = ResumableCut(spark, docs, poly, root, n_buckets=2, cover=cover).run()
    assert second["resumed_buckets"] == 4  # all buckets skipped
    assert second["snapshots"] == first["snapshots"]  # no new final commit
    assert second["n_out"] == first["n_out"]


def test_icelite_compact_and_expire(spark, tmp_path):
    """compact() collapses N epoch dirs to one (same rows, properties
    carried); expire_snapshots() deletes unreferenced data dirs while the
    surviving snapshots keep reading correctly."""
    from osm_cut_spark.sources.icelite import IceLiteTable

    tbl = IceLiteTable(tmp_path / "t")
    for i in range(5):
        tbl.append(
            spark.createDataFrame([(i, f"v{i}")], "id LONG, v STRING"),
            properties={"epoch": i},
        )
    assert len(tbl.current_snapshot()["data_dirs"]) == 5
    snap = tbl.compact(spark, target_partitions=1, properties={"tag": "c"})
    assert len(snap["data_dirs"]) == 1
    assert snap["properties"]["tag"] == "c"
    rows = sorted((r.id, r.v) for r in tbl.read(spark).collect())
    assert rows == [(i, f"v{i}") for i in range(5)]
    # appends continue on top of the compacted snapshot
    tbl.append(spark.createDataFrame([(9, "v9")], "id LONG, v STRING"))
    assert len(tbl.current_snapshot()["data_dirs"]) == 2
    # expire everything but the last snapshot: pre-compaction dirs vanish
    removed = tbl.expire_snapshots(keep_last=1)
    assert removed == 5  # the five original epoch dirs
    rows2 = sorted((r.id, r.v) for r in tbl.read(spark).collect())
    assert rows2 == [(i, f"v{i}") for i in range(5)] + [(9, "v9")]
    assert len(tbl._snapshot_files()) == 1


def test_icelite_expire_archives_history_and_sequences_continue(spark, tmp_path):
    """expire_snapshots reclaims data dirs but ARCHIVES the commit metadata:
    snapshot_history() still shows every commit (epoch tags / metrics
    properties), and new commits continue the sequence numbering instead of
    colliding with archived log names."""
    from osm_cut_spark.sources.icelite import IceLiteTable

    tbl = IceLiteTable(tmp_path / "t")
    for i in range(6):
        tbl.append(
            spark.createDataFrame([(i,)], "id LONG"), properties={"epoch": i}
        )
    removed = tbl.expire_snapshots(keep_last=2)
    assert removed == 0  # appends: every old dir is still referenced
    assert len(tbl.snapshots()) == 2
    hist = tbl.snapshot_history()
    assert [s["properties"]["epoch"] for s in hist] == list(range(6))

    # sequences continue past the archived names
    tbl.compact(spark, properties={"epoch": "c"})
    tbl.expire_snapshots(keep_last=1)  # drops pre-compaction dirs
    assert sorted(r.id for r in tbl.read(spark).collect()) == list(range(6))
    snap = tbl.append(spark.createDataFrame([(9,)], "id LONG"), properties={"epoch": 9})
    assert snap["sequence"] == 7  # 6 appends + compact came before
    seqs = [s["sequence"] for s in tbl.snapshot_history()]
    assert seqs == sorted(seqs) and len(seqs) == len(set(seqs))
    # on-disk data dirs: exactly the live set
    live = set(tbl.current_snapshot()["data_dirs"])
    on_disk = {p.name for p in tbl.data_dir.iterdir() if p.is_dir()}
    assert len(on_disk) == 2 and live <= on_disk
