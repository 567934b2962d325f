"""Tests: raster<->vector salted join, ANN (LSH/IVF), multimodal plumbing."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def geo(spark):
    from osm_cut_spark.operators import ingest
    from osm_cut_spark.sources.docs import synthetic_docs_spark

    docs = synthetic_docs_spark(spark, 40, seed=42, hot_fraction=0.5)
    narrow = ingest.parse_elements_narrow(docs)
    nodes = narrow.filter("kind = 'node'").select("id", "lon", "lat", "doc_id", "offset")
    ways = narrow.filter("kind = 'way'").select("id", "nds", "doc_id", "offset")
    return nodes, ways


def test_way_cell_coverage(spark, geo):
    from osm_cut_spark.operators.raster import way_cell_coverage

    nodes, ways = geo
    cov = way_cell_coverage(spark, ways, nodes, res=7)
    rows = cov.collect()
    assert len(rows) > 0
    # every way with resolvable nodes appears
    n_ways = ways.count()
    assert cov.select("way_id").distinct().count() == n_ways


def test_salted_join_matches_plain_join(spark, geo):
    from osm_cut_spark.operators.raster import salted_join, synthetic_tiles, way_cell_coverage

    nodes, ways = geo
    cov = way_cell_coverage(spark, ways, nodes, res=7)
    tiles = synthetic_tiles(spark, res=7)
    # tiny hot_threshold forces the salting path on the hot cell
    salted = salted_join(cov, tiles.select("cell_id", "lon_min"), "cell_id", hot_threshold=5, salt_target=3)
    plain = cov.join(tiles.select("cell_id", "lon_min"), "cell_id")
    a = sorted((r.cell_id, r.way_id) for r in salted.collect())
    b = sorted((r.cell_id, r.way_id) for r in plain.collect())
    assert a == b


def test_raster_vector_join_rowcounts(spark, geo):
    from osm_cut_spark.operators.raster import raster_vector_join, synthetic_tiles

    nodes, ways = geo
    tiles = synthetic_tiles(spark, res=7)
    joined = raster_vector_join(spark, tiles, ways, nodes, res=7, hot_threshold=5)
    # row count == sum over cells of (ways covering cell) when tiles cover all cells
    from osm_cut_spark.operators.raster import way_cell_coverage

    cov_in_tiles = way_cell_coverage(spark, ways, nodes, 7).join(
        tiles.select("cell_id"), "cell_id", "left_semi"
    )
    assert joined.count() == cov_in_tiles.count()


def test_lsh_ann_recall(spark):
    from osm_cut_spark.operators.knn import knn_bruteforce
    from osm_cut_spark.operators.simsearch import lsh_ann

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    qvec = [float(v) for v in emb.filter("vec_id = 0").head().embedding]
    exact = [r.vec_id for r in knn_bruteforce(emb.filter("vec_id != 0"), qvec, 10).collect()]
    approx = [r.vec_id for r in lsh_ann(spark, emb.filter("vec_id != 0"), qvec, k=10, n_planes=64, n_bands=16).collect()]
    # banded LSH with 16 bands of 4 bits is permissive -> good recall
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.5, (exact, approx)
    # deterministic across invocations
    again = [r.vec_id for r in lsh_ann(spark, emb.filter("vec_id != 0"), qvec, k=10, n_planes=64, n_bands=16).collect()]
    assert approx == again


def test_ivf_recall_and_pruning(spark):
    from osm_cut_spark.operators.knn import knn_bruteforce
    from osm_cut_spark.operators.simsearch import ivf_build, ivf_search

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    qvec = [float(v) for v in emb.filter("vec_id = 0").head().embedding]
    centroids, assigned = ivf_build(spark, emb.filter("vec_id != 0"), n_centroids=8)
    assigned = assigned.persist()
    exact = [r.vec_id for r in knn_bruteforce(emb.filter("vec_id != 0"), qvec, 10).collect()]
    # full probe == exact
    full = [r.vec_id for r in ivf_search(spark, assigned, centroids, qvec, k=10, n_probe=8).collect()]
    assert full == exact
    # partial probe prunes (candidate set strictly smaller) but overlaps
    part = [r.vec_id for r in ivf_search(spark, assigned, centroids, qvec, k=10, n_probe=2).collect()]
    assert len(set(exact) & set(part)) >= 3
    n_cand = assigned.filter(F.col("_list").isin([0, 1])).count()
    assert n_cand < assigned.count()


def test_multimodal_pipeline(spark):
    from osm_cut_spark.operators.ingest import parse_passthrough_spans
    from osm_cut_spark.operators.multimodal import (
        extract_image_features,
        frame_sample,
        join_docs_with_media_features,
        synthetic_media,
    )
    from osm_cut_spark.sources.docs import synthetic_docs_spark

    docs = synthetic_docs_spark(spark, 20, seed=42)
    pt = parse_passthrough_spans(docs)
    media = synthetic_media(spark, pt.filter("kind = 'media'"))
    rows = media.collect()
    assert rows and all(r.n_bytes == 256 for r in rows)
    feats = extract_image_features(media).collect()
    assert all(len(r.feat) == 16 for r in feats)
    assert all(abs(sum(r.feat) - 1.0) < 1e-5 for r in feats)
    # deterministic
    feats2 = extract_image_features(media).collect()
    assert {r.media_ref: r.feat for r in feats} == {r.media_ref: r.feat for r in feats2}
    # real decode is import-guarded: raises iff pillow is absent
    from osm_cut_spark.operators.multimodal import _pil_module

    if _pil_module() is None:
        with pytest.raises(NotImplementedError):
            extract_image_features(media, real=True)
    # frame sampling fan-out
    frames = frame_sample(media, every_n=8)
    assert frames.count() >= media.count()
    # end-to-end join back to docs
    joined = join_docs_with_media_features(spark, pt)
    assert joined.count() == pt.filter("kind = 'media'").count()


def test_streaming_extract_and_windows(spark, tmp_path):
    """The node phase of the streamed non-complete cut equals the batch
    cut's nodes; windowed event counts run in batch mode."""
    from osm_cut_spark.functions.geometry import prepare_polygon
    from osm_cut_spark.operators.extract import auto_cover, extract
    from osm_cut_spark.sources.docs import synthetic_docs_spark
    from osm_cut_spark.streaming.ingest_stream import (
        read_incremental_cut,
        stream_extract_full,
        windowed_event_counts,
    )

    poly = prepare_polygon([("include", [(0, 0), (5, 0), (10, 5)])])
    cover = auto_cover(poly)
    docs = synthetic_docs_spark(spark, 30, seed=42)
    src = tmp_path / "docs_in"
    docs.write.mode("overwrite").parquet(str(src))

    out = tmp_path / "out"
    q = stream_extract_full(spark, src, poly, out, complete=False, cover=cover)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    def node_rows(df):
        return sorted((r.id, r.doc_id, r.offset) for r in df.filter("phase = 0").collect())

    batch = extract(spark, docs, poly, complete=False, cover=cover)
    want = node_rows(batch.elements())
    batch.release()
    assert want  # the polygon selects nodes of the synthetic docs
    assert node_rows(read_incremental_cut(spark, out)) == want

    # watermarked windowed aggregation runs in batch mode too
    ev = spark.read.parquet(f"{SF}/events.parquet")
    wc = windowed_event_counts(ev, "10 minutes")
    assert wc.count() > 0


def test_cosine_dup_pairs_subset_of_exact(spark):
    import numpy as np
    from osm_cut_spark.operators.simsearch import cosine_dup_pairs

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    rows = emb.collect()
    mat = np.array([r.embedding for r in rows], dtype=np.float64)
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    ids = [r.vec_id for r in rows]
    sims = mat @ mat.T
    exact = {
        (min(ids[i], ids[j]), max(ids[i], ids[j]))
        for i in range(len(ids))
        for j in range(i + 1, len(ids))
        if sims[i, j] >= 0.35
    }
    got = {
        (r.id_a, r.id_b)
        for r in cosine_dup_pairs(spark, emb, threshold=0.35, n_bands=16, dim=64).collect()
    }
    assert got <= exact  # verified candidates never exceed the exact set
    if exact:
        assert len(got) / len(exact) >= 0.8  # banded recall at rows_per_band=2
    # UDF and JVM bucket paths agree on the pair set
    jvm = {
        (r.id_a, r.id_b)
        for r in cosine_dup_pairs(
            spark, emb, threshold=0.35, n_bands=16, exact_jvm=True, dim=64
        ).collect()
    }
    assert jvm == got


def test_ivf_partition_pruning(spark, tmp_path):
    """The IVF scale path: persisting the assigned table partitioned by
    _list turns a probe into real partition pruning — the scan plan shows
    a PartitionFilters entry on _list and reads only n_probe lists."""
    from pyspark.sql import functions as F

    from osm_cut_spark.operators.simsearch import ivf_build, ivf_search

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    qvec = [float(v) for v in emb.filter(F.col("vec_id") == 0).head().embedding]
    centroids, assigned = ivf_build(spark, emb.filter("vec_id != 0"), n_centroids=8)
    path = str(tmp_path / "ivf")
    assigned.write.partitionBy("_list").parquet(path)
    on_disk = spark.read.parquet(path)

    got = ivf_search(spark, on_disk, centroids, qvec, k=5, n_probe=2)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "_list" in plan
    # pruned probe == in-memory probe results
    want = [r.vec_id for r in ivf_search(spark, assigned, centroids, qvec, k=5, n_probe=2).collect()]
    assert [r.vec_id for r in got.collect()] == want


def test_multimodal_resize_and_audio(spark):
    import pytest
    from pyspark.sql import functions as F

    from osm_cut_spark.operators.multimodal import (
        audio_features,
        resize_image,
        synthetic_media,
    )

    refs = spark.createDataFrame(
        [(f"media://x/{i}",) for i in range(12)], "media_ref STRING"
    )
    media = synthetic_media(spark, refs)
    small = resize_image(media, out_w=8, out_h=6).collect()
    assert len(small) == 12
    assert all(r.width == 8 and r.height == 6 and r.n_bytes == 48 for r in small)
    # deterministic: same input -> same payload bytes
    again = {r.media_ref: r.payload for r in resize_image(media, out_w=8, out_h=6).collect()}
    assert all(again[r.media_ref] == r.payload for r in small)

    af = audio_features(media).collect()
    assert len(af) == 12
    assert all(0.0 <= r.rms <= 1.0 and r.n_samples == 256 for r in af)

    # import-guarded real paths: raise iff the decoder lib is absent
    from osm_cut_spark.operators.multimodal import _ffmpeg_path, _pil_module

    if _pil_module() is None:
        with pytest.raises(NotImplementedError):
            resize_image(media, real=True)
    if _ffmpeg_path("ffmpeg") is None:
        with pytest.raises(NotImplementedError):
            audio_features(media, real=True)


def test_multimodal_real_decoders_when_libs_present(spark):
    """Real decode path (only runs where pillow is installed, e.g. a real
    cluster image): PNG-encode a known plane, decode via the PIL path, and
    check the luminance histogram features come from the true pixels."""
    import pytest

    PIL_Image = pytest.importorskip("PIL.Image")
    import io

    import numpy as np

    from osm_cut_spark.operators.multimodal import extract_image_features

    plane = np.arange(64, dtype=np.uint8).reshape(8, 8)
    buf = io.BytesIO()
    PIL_Image.fromarray(plane, mode="L").save(buf, format="PNG")
    media = spark.createDataFrame(
        [("media://real/0", "image/png", 8, 8, buf.tell(), buf.getvalue())],
        "media_ref STRING, mime STRING, width INT, height INT, n_bytes INT, payload BINARY",
    )
    (row,) = extract_image_features(media, n_features=4, real=True).collect()
    # values 0..63 all land in histogram bin 0 of range (0, 256)
    assert row.feat == [1.0, 0.0, 0.0, 0.0]
    assert abs(row.mean_lum - plane.mean()) < 1e-9


def test_salted_join_row_id_identity(spark, geo):
    """row_id salting (duplicate-row-safe identity) joins identically."""
    from osm_cut_spark.operators.raster import salted_join, synthetic_tiles, way_cell_coverage

    nodes, ways = geo
    cov = way_cell_coverage(spark, ways, nodes, res=7)
    tiles = synthetic_tiles(spark, res=7)
    salted = salted_join(
        cov, tiles.select("cell_id", "lon_min"), "cell_id",
        hot_threshold=5, salt_target=3, row_id="way_id",
    )
    plain = cov.join(tiles.select("cell_id", "lon_min"), "cell_id")
    assert sorted((r.cell_id, r.way_id) for r in salted.collect()) == sorted(
        (r.cell_id, r.way_id) for r in plain.collect()
    )


def test_lsh_knn_join_matches_per_query_ann(spark):
    """The batch ANN join returns, per query, exactly what the
    single-query lsh_ann returns with the same planes/bands (same
    candidate semantics: >= 1 shared band bucket, exact cosine rank)."""
    from osm_cut_spark.operators.simsearch import lsh_ann, lsh_knn_join

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    data = emb.filter("vec_id >= 3")
    queries = emb.filter("vec_id < 3").withColumnRenamed("vec_id", "qid")
    joined = lsh_knn_join(spark, data, queries, k=4, n_planes=32, n_bands=16, dim=64)
    by_q = {}
    for r in joined.collect():
        by_q.setdefault(r.qid, []).append((r.rn, r.vec_id))
    for r in queries.collect():
        single = lsh_ann(
            spark, data, [float(v) for v in r.embedding],
            k=4, n_planes=32, n_bands=16,
        )
        want = [(x.rank, x.vec_id) for x in single.collect()]
        assert sorted(by_q.get(r.qid, [])) == sorted(want), r.qid


def test_ivf_knn_join_fullprobe_exact_and_partial_subset(spark):
    """Full probe (n_probe == n_centroids) equals the exact brute-force
    per-query top-k; a partial probe returns, per query, a rank-list
    drawn only from its probed lists (subset of candidates, top-k shape
    preserved)."""
    import numpy as np

    from osm_cut_spark.operators.simsearch import ivf_knn_join

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    data = emb.filter("vec_id >= 5")
    queries = emb.filter("vec_id < 5").withColumnRenamed("vec_id", "qid")

    got = {}
    for r in ivf_knn_join(spark, data, queries, k=4, n_centroids=8, n_probe=8).collect():
        got.setdefault(r.qid, []).append((r.rn, r.vec_id))

    # brute force per query
    mat = {r.vec_id: np.asarray(r.embedding, dtype=np.float64) for r in data.collect()}
    for q in queries.collect():
        qv = np.asarray(q.embedding, dtype=np.float64)
        sims = sorted(
            (
                (-(v @ qv) / (np.linalg.norm(v) * np.linalg.norm(qv)), i)
                for i, v in mat.items()
            ),
        )
        want = [(rank + 1, i) for rank, (_, i) in enumerate(sims[:4])]
        assert sorted(got[q.qid]) == sorted(want), q.qid

    partial = ivf_knn_join(spark, data, queries, k=4, n_centroids=8, n_probe=2)
    rows = partial.collect()
    assert len(rows) > 0
    for qid, grp in [
        (q, [r for r in rows if r.qid == q]) for q in {r.qid for r in rows}
    ]:
        rns = sorted(r.rn for r in grp)
        assert rns == list(range(1, len(rns) + 1))  # contiguous ranks per query


def test_cosine_dup_metrics_report_dropped_buckets(spark):
    """The max_bucket cap is observable: the metrics DataFrame attached to
    cosine_dup_pairs reports >0 dropped buckets when the cap bites and 0
    when it does not (round-3 verdict: caps must not be silent)."""
    from osm_cut_spark.operators.simsearch import cosine_dup_pairs

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    m0 = {}
    cosine_dup_pairs(
        spark, emb, threshold=0.35, n_bands=16, dim=64, metrics=m0
    ).collect()
    assert m0["dropped_buckets"].first()[0] == 0

    m1 = {}
    cosine_dup_pairs(
        spark, emb, threshold=0.35, n_bands=16, dim=64, max_bucket=2, metrics=m1
    ).collect()
    assert m1["dropped_buckets"].first()[0] > 0


def test_cosine_dup_pairs_null_vectors_share_no_bucket(spark):
    """Null and empty vectors get NULL band keys from the JVM fold; they
    must not bucket together.  Unguarded, the two empty vectors became a
    candidate pair whose cosine divides by zero, and the null bucket
    counted against max_bucket."""
    from osm_cut_spark.operators.simsearch import cosine_dup_pairs

    emb = spark.createDataFrame(
        [(1, None), (2, None), (3, []), (4, []),
         (5, [1.0, 0.0, 0.0, 0.0]), (6, [0.0, 1.0, 0.0, 0.0])],
        "vec_id BIGINT, embedding ARRAY<DOUBLE>",
    )
    m = {}
    out = cosine_dup_pairs(
        spark, emb, threshold=0.9, dim=4, n_planes=8, n_bands=2,
        exact_jvm=True, max_bucket=1, metrics=m,
    ).collect()
    assert out == []
    assert m["dropped_buckets"].first()[0] == 0
    # the null-key filter stays above the UDF projection: one Arrow
    # evaluation per row on the pandas-UDF path
    plan = cosine_dup_pairs(spark, emb, dim=4, n_planes=8, n_bands=2)._jdf.queryExecution()
    assert plan.sparkPlan().toString().count("ArrowEvalPython") == 1


def test_ivf_knn_join_recall_metrics_observe_missed_neighbor(spark):
    """At n_probe < n_centroids a query's TRUE nearest neighbor can live in
    an unprobed list — the join silently returns a worse neighbor.  The
    metrics dict makes that observable: candidates_per_query shows the
    query saw only its probed list's vectors (8 of 17 here), and
    empty_probe_queries counts queries with no candidates at all.  Fixture
    is angle-engineered: clusters at ~0 deg and ~90 deg (centroids land at
    ~3 / ~91 deg), a bridge vector at 50 deg assigns to the 90-deg list,
    and the query at 40 deg probes the 0-deg list first."""
    import pandas as pd

    from osm_cut_spark.operators.simsearch import ivf_knn_join

    def vec(deg):
        r = np.deg2rad(deg)
        return [float(np.cos(r)), float(np.sin(r))]

    rows = [(i, vec(float(i))) for i in range(8)]
    rows += [(100 + i, vec(88 + i * 0.5)) for i in range(8)]
    rows.append((999, vec(50.0)))  # true NN of the query, in the 90-deg list
    emb = spark.createDataFrame(
        pd.DataFrame(
            {"vec_id": [r[0] for r in rows], "embedding": [r[1] for r in rows]}
        )
    )
    qs = spark.createDataFrame(pd.DataFrame({"qid": [1], "embedding": [vec(40.0)]}))

    m = {}
    out = ivf_knn_join(spark, emb, qs, k=1, n_centroids=2, n_probe=1, metrics=m)
    got = out.collect()
    assert [(r.qid, r.vec_id) for r in got] == [(1, 7)]  # the miss: NOT 999
    cand = {r.qid: r.n_candidates for r in m["candidates_per_query"].collect()}
    assert cand == {1: 8}  # probed one list of 8, corpus is 17 — visible
    assert m["empty_probe_queries"].first()[0] == 0

    # widening the probe recovers the true neighbor (and the metric shows
    # the full corpus was scanned)
    m2 = {}
    out2 = ivf_knn_join(spark, emb, qs, k=1, n_centroids=2, n_probe=2, metrics=m2)
    assert [(r.qid, r.vec_id) for r in out2.collect()] == [(1, 999)]
    assert {r.qid: r.n_candidates for r in m2["candidates_per_query"].collect()} == {
        1: 17
    }
