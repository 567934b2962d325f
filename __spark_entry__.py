"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship polygon-cut extraction end-to-end on a
deterministic synthetic interleaved-docs table (the engine's native input
shape per BASELINE.json) using the reference fixture polygon.

``queries()`` exposes one DuckDB-checkable DataFrame builder per operator
family from SURVEY.md §2 plus the new training-pipeline capabilities;
``oracle_sql()`` holds the matching ANSI SQL.  Column names and expression
*shapes* (float operation order) are kept identical on both sides so the
order-insensitive value-hash comparison is exact.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

TRIANGLE = [(0.0, 0.0), (5.0, 0.0), (10.0, 5.0)]


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Polygon-cut extraction (complete-objects) on a synthetic interleaved
    document table; returns the phased element output."""
    from osm_cut_spark.functions.geometry import prepare_polygon
    from osm_cut_spark.operators.extract import extract
    from osm_cut_spark.sources.docs import synthetic_docs_spark

    docs = synthetic_docs_spark(spark, 200, seed=42)
    poly = prepare_polygon([("include", TRIANGLE)])
    result = extract(spark, docs, poly, complete=True)
    return result.elements().orderBy("phase", "doc_id", "offset")


# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # NOTE: no blanket repartition here — the heavy per-row text operators
    # spread an underpartitioned scan themselves (session.spread_scan);
    # for cheap scans an unconditional spread costs more than it saves
    # (measured: exact_dedup 0.24 -> 1.03 s at sf1.0 with a blanket spread)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _points(spark, sf_dir):
    """Deterministic planar points derived from lineitem integer keys.

    The arithmetic shape ((k % m) / 100.0) is replayed verbatim in the
    oracle so boundary points land bit-identically in both engines.
    """
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("pt_id"),
        ((F.col("l_orderkey") % 1500) / 100.0).alias("x"),
        ((F.col("l_partkey") % 1100) / 100.0).alias("y"),
    )

_POINTS_SQL = """
SELECT l_orderkey * 10 + l_linenumber AS pt_id,
       (l_orderkey % 1500) / 100.0 AS x,
       (l_partkey % 1100) / 100.0 AS y
FROM lineitem
"""


def _h64(x: str) -> str:
    """DuckDB twin of dedup.h64_md5 (60-bit int of the md5 hex prefix)."""
    return f"CAST('0x' || substr(md5({x}),1,15) AS BIGINT)"


def _shingles3_sql(src: str = "documents") -> str:
    """word-3-gram shingles per document (same fallback shape as
    dedup.shingles_from_tokens); ``src`` must expose (doc_id, text)."""
    return rf"""
    SELECT doc_id AS _id,
           CASE WHEN len(toks) >= 3
                THEN list_distinct([array_to_string(toks[i:i+2], ' ')
                                    for i in range(1, len(toks)-2+1)])
                ELSE [array_to_string(toks, ' ')] END AS sh
    FROM (SELECT doc_id,
                 list_filter(string_split_regex(lower(text), '\s+'), x -> x != '') AS toks
          FROM {src})
"""


_SHINGLES3_SQL = _shingles3_sql()

# oracle-replay window for the two quadratic-oracle queries (ngram_jaccard,
# cosine_dup): both engines compare the same deterministic id prefix, so
# the gate stays 31/31 at every sf without the oracle side going O(n^2)
# on the full corpus (the operators' full-corpus scale paths are the
# minhash/LSH/IVF family, benched and sf1.0-green separately)
ORACLE_ID_CAP = 2000


def _minhash_pairs_sql(n_perm=16, bands=8, threshold=0.3, max_bucket=1000, src="documents") -> str:
    """Full LSH replay: 31-bit base hash (md5-derived) -> arithmetic
    multiply-add permutations (same constants as dedup._perm_consts,
    masked so checked int64 math cannot overflow) -> band buckets ->
    candidate pairs -> exact-Jaccard verify."""
    from osm_cut_spark.operators.dedup import MASK31, MASK61, _perm_consts

    rpb = n_perm // bands
    perm_mins = ", ".join(
        f"list_min(list_transform(hs, h -> (CAST({a} AS BIGINT) * h + {b}) & {MASK61}))"
        for a, b in (_perm_consts(p) for p in range(n_perm))
    )
    bucket = _h64(f"b || ':' || array_to_string(sig[b*{rpb}+1:b*{rpb}+{rpb}], ',')")
    return f"""
        WITH s AS ({_shingles3_sql(src)}),
        hs AS (SELECT _id, list_transform(sh, s -> ({_h64('s')} & {MASK31})) AS hs FROM s),
        sig AS (SELECT _id, [{perm_mins}] AS sig FROM hs),
        banded AS (SELECT _id, unnest([{bucket} for b in range({bands})]) AS bucket FROM sig),
        big AS (SELECT bucket FROM banded GROUP BY bucket HAVING count(*) > {max_bucket}),
        capped AS (SELECT _id, bucket FROM banded
                   WHERE bucket NOT IN (SELECT bucket FROM big)),
        cand AS (SELECT DISTINCT a._id AS id_a, b._id AS id_b
                 FROM capped a JOIN capped b USING (bucket) WHERE a._id < b._id)
        SELECT c.id_a, c.id_b
        FROM cand c JOIN s sa ON sa._id = c.id_a JOIN s sb ON sb._id = c.id_b
        WHERE len(list_intersect(sa.sh, sb.sh))
              >= {threshold} * len(list_distinct(list_concat(sa.sh, sb.sh)))
    """


def _minhash_join_sql(
    n_perm=16, bands=8, threshold=0.3, max_pairs=1_000_000,
    src_a="corpus", src_b="bench",
) -> str:
    """Two-sided LSH replay (contamination join): each side runs the same
    hash->sig->bucket chain as _minhash_pairs_sql; candidates are A x B
    pairs sharing a bucket, minus buckets whose candidate product exceeds
    ``max_pairs`` (the operator's cap, replayed so both sides agree)."""
    from osm_cut_spark.operators.dedup import MASK31, MASK61, _perm_consts

    rpb = n_perm // bands
    perm_mins = ", ".join(
        f"list_min(list_transform(hs, h -> (CAST({a} AS BIGINT) * h + {b}) & {MASK61}))"
        for a, b in (_perm_consts(p) for p in range(n_perm))
    )
    bucket = _h64(f"b || ':' || array_to_string(sig[b*{rpb}+1:b*{rpb}+{rpb}], ',')")

    def side(tag: str, src: str) -> str:
        return f"""
        s{tag} AS ({_shingles3_sql(src)}),
        h{tag} AS (SELECT _id, list_transform(sh, s -> ({_h64('s')} & {MASK31})) AS hs FROM s{tag}),
        g{tag} AS (SELECT _id, [{perm_mins}] AS sig FROM h{tag}),
        b{tag} AS (SELECT _id, unnest([{bucket} for b in range({bands})]) AS bucket FROM g{tag})"""

    return f"""
        WITH {side('a', src_a)}, {side('b', src_b)},
        big AS (
            SELECT ca.bucket FROM
                (SELECT bucket, count(*) AS na FROM ba GROUP BY bucket) ca
                JOIN (SELECT bucket, count(*) AS nb FROM bb GROUP BY bucket) cb
                USING (bucket)
            WHERE na * nb > {max_pairs}
        ),
        cand AS (SELECT DISTINCT a._id AS id_a, b._id AS id_b
                 FROM ba a JOIN bb b USING (bucket)
                 WHERE bucket NOT IN (SELECT bucket FROM big))
        SELECT c.id_a, c.id_b
        FROM cand c JOIN sa ON sa._id = c.id_a JOIN sb ON sb._id = c.id_b
        WHERE len(list_intersect(sa.sh, sb.sh))
              >= {threshold} * len(list_distinct(list_concat(sa.sh, sb.sh)))
    """


def _lsh_knn_join_sql(dim=64, n_planes=32, n_bands=16, seed=42, k=5) -> str:
    """Batch-ANN replay: both sides' bucket keys with inlined planes
    (sequential folds), candidates = pairs sharing a key, exact cosine,
    per-query top-k."""
    keys = _lsh_keys_fn(dim, n_planes, n_bands, seed)
    return f"""
        WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5),
        d AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id >= 5),
        qk AS (SELECT qid, unnest({keys('qv')}) AS key FROM q),
        dk AS (SELECT vec_id, unnest({keys('v')}) AS key FROM d),
        cand AS (SELECT DISTINCT qk.qid, dk.vec_id FROM qk JOIN dk USING (key)),
        sims AS (SELECT c.qid, c.vec_id,
                        list_dot_product(d.v, q.qv)
                        / (sqrt(list_dot_product(d.v, d.v)) * sqrt(list_dot_product(q.qv, q.qv))) AS sim
                 FROM cand c JOIN d ON d.vec_id = c.vec_id JOIN q ON q.qid = c.qid)
        SELECT qid, vec_id, CAST(rn AS INT) AS rn FROM (
            SELECT qid, vec_id,
                   row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn
            FROM sims)
        WHERE rn <= {k}
    """


def _simhash_pairs_sql(max_hamming=6, n_bits=60) -> str:
    """SimHash replay: the engine's pigeonhole blocking is lossless, so the
    oracle is the equivalent all-pairs hamming filter on the same hashes."""
    bit = (
        "CASE WHEN 2*len(list_filter(hashes, v -> (v >> b) & 1 = 1)) > len(hashes)"
        " THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END"
    )
    return rf"""
        WITH t AS (SELECT doc_id AS _id,
                          list_filter(string_split_regex(lower(text), '\s+'), x -> x != '') AS toks
                   FROM documents),
        g AS (SELECT _id, list_distinct([array_to_string(toks[i:i+1], ' ')
                                         for i in range(1, greatest(len(toks)-2, 0)+2)]) AS grams
              FROM t),
        h AS (SELECT _id, list_transform(grams, x -> {_h64('x')}) AS hashes FROM g),
        s AS (SELECT _id, CAST(list_sum([{bit} for b in range({n_bits})]) AS BIGINT) AS sh FROM h)
        SELECT a._id AS id_a, b._id AS id_b, CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
        FROM s a JOIN s b ON a._id < b._id
        WHERE bit_count(xor(a.sh, b.sh)) <= {max_hamming}
    """


def _lsh_keys_fn(dim: int, n_planes: int, n_bands: int, seed: int):
    """SQL builder for random-hyperplane band bucket keys with the plane
    matrix inlined as literals; dot products fold sequentially in both
    engines (exact_jvm path) so sign bits and keys match bit-for-bit."""
    from osm_cut_spark.operators.simsearch import _hyperplanes

    planes = _hyperplanes(dim, n_planes, seed)
    rpb = n_planes // n_bands

    def dot(p: int, vec: str) -> str:
        lits = ",".join(repr(float(v)) for v in planes[:, p])
        return f"list_dot_product({vec}, [{lits}])"

    def key(b: int, vec: str) -> str:
        terms = " + ".join(
            f"(CASE WHEN {dot(b * rpb + j, vec)} > 0 THEN CAST({1 << j} AS BIGINT)"
            f" ELSE CAST(0 AS BIGINT) END)"
            for j in range(rpb)
        )
        return f"(({terms}) | CAST({b << 48} AS BIGINT))"

    return lambda vec: "[" + ", ".join(key(b, vec) for b in range(n_bands)) + "]"


def _lsh_ann_sql(dim=64, n_planes=64, n_bands=16, seed=42, k=10) -> str:
    """LSH-ANN replay: bucket-key probe + exact cosine re-rank."""
    keys = _lsh_keys_fn(dim, n_planes, n_bands, seed)
    return f"""
        WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
        qk AS (SELECT qv, {keys('qv')} AS keys FROM q),
        base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id != 0),
        bk AS (SELECT vec_id, v, {keys('v')} AS keys FROM base),
        cand AS (SELECT bk.vec_id, bk.v, qk.qv FROM bk, qk
                 WHERE len(list_intersect(bk.keys, qk.keys)) > 0),
        sims AS (SELECT vec_id,
                        list_dot_product(v, qv)
                        / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))) AS sim
                 FROM cand)
        SELECT CAST(row_number() OVER (ORDER BY sim DESC, vec_id) AS INT) AS rank, vec_id
        FROM sims ORDER BY sim DESC, vec_id LIMIT {k}
    """


def _cosine_dup_sql(threshold=0.4, dim=64, n_planes=32, n_bands=16, seed=42,
                    max_bucket=100_000) -> str:
    """Embedding-cosine near-dup replay: same banded-candidate semantics as
    the operator (pairs sharing >=1 band key, buckets over ``max_bucket``
    dropped — the SAME cap the operator applies, so they agree by
    construction even on degenerate data), exact cosine verify.  Replays
    the same ORACLE_ID_CAP window q_cosine_dup applies."""
    keys = _lsh_keys_fn(dim, n_planes, n_bands, seed)
    return f"""
        WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
                      WHERE vec_id < {ORACLE_ID_CAP}),
        bk AS (SELECT vec_id, {keys('v')} AS keys FROM base),
        banded AS (SELECT vec_id, unnest(keys) AS key FROM bk),
        big AS (SELECT key FROM banded GROUP BY key HAVING count(*) > {max_bucket}),
        capped AS (SELECT vec_id, key FROM banded
                   WHERE key NOT IN (SELECT key FROM big)),
        cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
                 FROM capped a JOIN capped b USING (key) WHERE a.vec_id < b.vec_id)
        SELECT c.id_a, c.id_b
        FROM cand c JOIN base a ON a.vec_id = c.id_a JOIN base b ON b.vec_id = c.id_b
        WHERE list_dot_product(a.v, b.v)
              / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
              >= {threshold}
    """


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


def q_pip_node_filter(spark, sf_dir):
    """P1/P2/P5: even-odd PIP (boundary-inclusive) via the PRODUCTION
    routing path — native cell-cover broadcast joins decide uniform cells
    JVM-side, only boundary-cell points enter the pandas edge kernel
    (select_points); oracle replays it as inclusive half-planes (exact for
    the convex fixture triangle, same float expression shape)."""
    from osm_cut_spark.functions.cells import polygon_cell_cover
    from osm_cut_spark.functions.geometry import prepare_polygon
    from osm_cut_spark.operators.extract import select_points

    poly = prepare_polygon([("include", TRIANGLE)])
    return select_points(
        spark, _points(spark, sf_dir), poly, polygon_cell_cover(poly),
        lon_col="x", lat_col="y",
    ).select("pt_id")


def q_bbox_filter(spark, sf_dir):
    """P3: native bbox prune predicate (pushdown-visible)."""
    return (
        _points(spark, sf_dir)
        .filter(F.col("x").between(0.0, 10.0) & F.col("y").between(0.0, 5.0))
        .select("pt_id")
    )


def q_way_semijoin(spark, sf_dir):
    """J1: way ⋉ selected-node semi-join with kept-ref aggregation
    (way ≙ order, node refs ≙ its lineitems' part keys, selected ≙ small parts)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    sel = part.filter(F.col("p_size") < 15).select("p_partkey")
    return (
        li.join(sel, li.l_partkey == sel.p_partkey)
        .groupBy(F.col("l_orderkey").alias("way_id"))
        .agg(F.count(F.lit(1)).alias("n_kept"), F.sum("l_partkey").alias("sum_refs"))
    )


def q_completion_refs(spark, sf_dir):
    """J2: completion join — refs of kept ways outside the selected set."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    sel = part.filter(F.col("p_size") < 15).select("p_partkey")
    kept_ways = li.join(sel, li.l_partkey == sel.p_partkey, "left_semi").select("l_orderkey").distinct()
    return (
        li.join(kept_ways, "l_orderkey", "left_semi")
        .join(sel, li.l_partkey == sel.p_partkey, "left_anti")
        .select(F.col("l_partkey").alias("ref"))
        .distinct()
    )


def q_relation_closure(spark, sf_dir):
    """J4: iterative ancestor closure to fixpoint over child->parent edges —
    the engine's relation_closure with the driver-walk limit at 0, so the
    DataFrame fixpoint path runs at every scale."""
    from osm_cut_spark.operators.extract import relation_closure

    ev = _t(spark, sf_dir, "events")
    edges = ev.select(
        (F.col("event_id") % 97).alias("child"), F.col("user_id").alias("rid")
    ).distinct()
    seeds = edges.filter(F.col("child") < 5).select(F.col("child").alias("rid")).distinct()
    # the level checkpoints must outlive the returned (lazy) frame, so none
    # is released here
    return relation_closure(seeds, edges, ordered=False, caches=[], max_edges=0)


def q_knn_cosine(spark, sf_dir):
    """New capability: exact top-10 cosine kNN (JVM fold, no Python)."""
    from osm_cut_spark.operators.knn import knn_bruteforce

    emb = _t(spark, sf_dir, "embeddings")
    qvec = [float(v) for v in emb.filter(F.col("vec_id") == 0).head().embedding]
    out = knn_bruteforce(emb.filter(F.col("vec_id") != 0), qvec, k=10)
    return out.select("rank", "vec_id")


def q_knn_join(spark, sf_dir):
    """Batch kNN join (many queries): 20 query points x lineitem-derived
    points via the cell-disk equi-join + per-query window top-k.  res=2 /
    radius=4 disks span the whole grid, so the oracle is exact brute-force
    (same degrade-to-exact proof shape as ivf_ann_fullprobe)."""
    from osm_cut_spark.operators.knn import knn_join

    pts = _points(spark, sf_dir)
    q = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") <= 20)
        .select(
            F.col("c_custkey").alias("qid"),
            ((F.col("c_custkey") % 150) / 10.0).alias("x"),
            ((F.col("c_nationkey") % 110) / 10.0).alias("y"),
        )
    )
    return knn_join(
        spark, pts, q, k=5, res=2, radius=4,
        id_col="pt_id", q_id_col="qid", lon_col="x", lat_col="y",
    )


def q_window_topk(spark, sf_dir):
    """Top-K per group via window row_number (A5-ordering analog)."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "rn")
    )


def q_exact_dedup(spark, sf_dir):
    """Dedup: exact hash-groupBy clusters."""
    from osm_cut_spark.operators.dedup import exact_dedup

    return exact_dedup(_t(spark, sf_dir, "documents"))


def q_token_stats(spark, sf_dir):
    """Text analysis: whitespace + BPE-ish regex token counting."""
    from osm_cut_spark.operators.textstats import token_stats

    return token_stats(_t(spark, sf_dir, "documents"))


def q_quality_score(spark, sf_dir):
    """Text analysis: quality scoring features + integer score."""
    from osm_cut_spark.operators.textstats import quality_score

    return quality_score(_t(spark, sf_dir, "documents"))


def q_lang_family(spark, sf_dir):
    """Text analysis: character-class language family heuristic."""
    from osm_cut_spark.operators.textstats import lang_id

    return lang_id(_t(spark, sf_dir, "documents"))


def q_vocab_topk(spark, sf_dir):
    """Text analysis: corpus vocabulary head — top-50 tokens by term
    frequency with document frequency (tokenizer/stopword groundwork)."""
    from osm_cut_spark.operators.textstats import vocab_topk

    return vocab_topk(_t(spark, sf_dir, "documents"), k=50)


def q_repetition_stats(spark, sf_dir):
    """Text analysis: Gopher-style repetition signals — top-word count/
    fraction, longest same-word run, duplicate 2-/3-gram fractions — all
    per-row JVM higher-order folds (no explode, no shuffle)."""
    from osm_cut_spark.operators.textstats import repetition_stats

    return repetition_stats(_t(spark, sf_dir, "documents"))


def q_boilerplate_ngrams(spark, sf_dir):
    """Text analysis: cross-document repeated 5-gram windows (boilerplate
    heads) — top-100 by (df, tf).  The aggregation keys on the 64-bit
    n-gram hash (8-byte exchanges, not text); winning strings resolve in a
    second narrow pass.  ``replayable=True`` hashes with the md5-derived
    h64 so DuckDB replays the hash-keyed selection (incl. tie-breaks at
    the cut) exactly."""
    from osm_cut_spark.operators.textstats import boilerplate_ngrams

    return boilerplate_ngrams(
        _t(spark, sf_dir, "documents"), n=5, min_df=2, k=100, replayable=True
    )


def q_clean_corpus(spark, sf_dir):
    """Composed pretraining cleanup: lang filter -> quality floor -> exact
    dedup survivor -> near-dup cluster representative.  Every stage is
    individually oracled; this query proves the COMPOSITION replays."""
    from osm_cut_spark.operators.corpus import clean_corpus

    return clean_corpus(
        _t(spark, sf_dir, "documents"),
        min_quality=40,
        lang_families=("latin",),
        jaccard_threshold=0.3,
        n_perm=16,
        bands=8,
        replayable=True,
    )


def q_keep_best(spark, sf_dir):
    """Canonical-document selection: per near-dup cluster the highest-
    quality member survives (tie-break min id), singletons survive as
    their own cluster.  Replays the whole chain — quality projection +
    MinHash-LSH pairs + connected components + argmax — in one oracle."""
    from osm_cut_spark.operators.corpus import keep_best

    return keep_best(
        _t(spark, sf_dir, "documents"),
        jaccard_threshold=0.3,
        n_perm=16,
        bands=8,
        replayable=True,
    )


def _keep_best_sql(threshold=0.3, n_perm=16, bands=8) -> str:
    """One-statement replay: quality (same shape as the quality_score
    oracle) + minhash pairs + recursive-CTE components + window argmax."""
    return f"""
        WITH RECURSIVE qf AS (
            SELECT doc_id,
                   CAST(floor(least(n_tokens, 200) / 4
                        + (CASE WHEN n_tokens > 0 THEN (n_stopwords * 100) / n_tokens ELSE 0 END) / 4
                        + (CASE WHEN n_chars > 0 THEN (n_alpha * 25) / n_chars ELSE 0 END)) AS INT)
                       AS quality
            FROM (
                SELECT doc_id,
                       len(toks) AS n_tokens,
                       len(list_filter(toks, t -> list_contains(
                           ['the','a','an','and','or','of','to','in','is','it',
                            'that','for','on','as','with','at','by','from','this','be'], t)))
                           AS n_stopwords,
                       length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS n_alpha,
                       length(text) AS n_chars
                FROM (SELECT doc_id, text,
                             list_filter(string_split_regex(lower(text), '\\s+'), t -> t != '') AS toks
                      FROM documents))
        ),
        p AS (SELECT * FROM ({_minhash_pairs_sql(n_perm, bands, threshold)}) mp),
        und AS (SELECT id_a AS a, id_b AS b FROM p UNION SELECT id_b, id_a FROM p),
        reach(src, dst) AS (
            SELECT a, a FROM und
            UNION
            SELECT r.src, u.b FROM reach r JOIN und u ON u.a = r.dst
        ),
        cl AS (SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src),
        m AS (
            SELECT coalesce(cl.cluster_id, qf.doc_id) AS cluster_id,
                   qf.doc_id, qf.quality
            FROM qf LEFT JOIN cl ON cl.doc_id = qf.doc_id
        )
        SELECT cluster_id, doc_id, quality, n_members FROM (
            SELECT cluster_id, doc_id, quality,
                   count(*) OVER (PARTITION BY cluster_id) AS n_members,
                   row_number() OVER (PARTITION BY cluster_id
                                      ORDER BY quality DESC, doc_id) AS rn
            FROM m
        ) WHERE rn = 1
    """


def _clean_corpus_sql(min_quality=40, threshold=0.3, n_perm=16, bands=8) -> str:
    """One-statement replay of the whole cleanup chain (quality + lang
    shapes identical to the quality_score / lang_family oracles)."""
    return f"""
        WITH RECURSIVE qf AS (
            SELECT doc_id,
                   CAST(floor(least(n_tokens, 200) / 4
                        + (CASE WHEN n_tokens > 0 THEN (n_stopwords * 100) / n_tokens ELSE 0 END) / 4
                        + (CASE WHEN n_chars > 0 THEN (n_alpha * 25) / n_chars ELSE 0 END)) AS INT)
                       AS quality
            FROM (
                SELECT doc_id,
                       len(toks) AS n_tokens,
                       len(list_filter(toks, t -> list_contains(
                           ['the','a','an','and','or','of','to','in','is','it',
                            'that','for','on','as','with','at','by','from','this','be'], t)))
                           AS n_stopwords,
                       length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS n_alpha,
                       length(text) AS n_chars
                FROM (SELECT doc_id, text,
                             list_filter(string_split_regex(lower(text), '\\s+'), t -> t != '') AS toks
                      FROM documents))
        ),
        lf AS (
            SELECT doc_id,
                   CASE WHEN n_latin >= n_cyrillic AND n_latin >= n_cjk AND n_latin > 0 THEN 'latin'
                        WHEN n_cyrillic > n_latin AND n_cyrillic >= n_cjk THEN 'cyrillic'
                        WHEN n_cjk > 0 THEN 'cjk'
                        ELSE 'unknown' END AS lang_family
            FROM (SELECT doc_id,
                         length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS n_latin,
                         length(regexp_replace(text, '[^Ѐ-ӿ]', '', 'g')) AS n_cyrillic,
                         length(regexp_replace(text, '[^一-鿿]', '', 'g')) AS n_cjk
                  FROM documents)
        ),
        base AS (
            SELECT d.doc_id, d.text, lf.lang_family, qf.quality
            FROM documents d
            JOIN qf ON qf.doc_id = d.doc_id
            JOIN lf ON lf.doc_id = d.doc_id
            WHERE lf.lang_family IN ('latin') AND qf.quality >= {min_quality}
        ),
        ex AS (SELECT min(doc_id) AS doc_id FROM base GROUP BY md5(text)),
        s0 AS (SELECT b.* FROM base b JOIN ex USING (doc_id)),
        p AS (SELECT * FROM ({_minhash_pairs_sql(n_perm, bands, threshold, src="s0")}) mp),
        und AS (SELECT id_a AS a, id_b AS b FROM p UNION SELECT id_b, id_a FROM p),
        reach(src, dst) AS (
            SELECT a, a FROM und
            UNION
            SELECT r.src, u.b FROM reach r JOIN und u ON u.a = r.dst
        ),
        dropped AS (
            SELECT src AS doc_id FROM reach GROUP BY src HAVING min(dst) != src
        )
        SELECT doc_id, lang_family, quality FROM s0
        WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
    """


def q_fingerprint(spark, sf_dir):
    """Text analysis: winnowing-style window fingerprint on the replayable
    hash; window hashes serialized to one canonical string column so the
    value comparison is scalar-exact."""
    from osm_cut_spark.operators.textstats import fingerprint

    fp = fingerprint(_t(spark, sf_dir, "documents"), replayable=True)
    return fp.select(
        "doc_id",
        "full_hash",
        F.concat_ws(
            ",", F.transform(F.col("window_hashes"), lambda h: h.cast("string"))
        ).alias("win_str"),
    )


def q_raster_vector_join(spark, sf_dir):
    """New capability shape: tile-keyed raster<->vector equi join + agg
    (integer tiles so the oracle replays; real cell ids in pytest)."""
    cust = _t(spark, sf_dir, "customer")
    part = _t(spark, sf_dir, "part")
    pts = cust.select(
        F.col("c_custkey"),
        F.floor((F.col("c_custkey") % 160) / 10.0).cast("int").alias("tx"),
        F.floor((F.col("c_nationkey") * 17 % 110) / 10.0).cast("int").alias("ty"),
    )
    tiles = part.select(
        (F.col("p_partkey") % 16).cast("int").alias("tx"),
        (F.col("p_size") % 11).cast("int").alias("ty"),
    ).distinct()
    return (
        pts.join(tiles, ["tx", "ty"])
        .groupBy("tx", "ty")
        .agg(F.count(F.lit(1)).alias("n_pts"), F.sum("c_custkey").alias("sum_keys"))
    )


def q_sessionize(spark, sf_dir):
    """Sessionization: 30-min-gap sessions per user (lag + cumsum window)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = (F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))) > 1800
    sess = ev.withColumn("new_s", F.when(gap | F.lag("ts").over(w).isNull(), 1).otherwise(0))
    return (
        sess.groupBy("user_id")
        .agg(F.sum("new_s").alias("n_sessions"), F.count(F.lit(1)).alias("n_events"))
    )


def q_asof_join(spark, sf_dir):
    """Point-in-time join: each click event joined to the latest view
    event of the same user at or before it (operators/asof.py — one
    union + window, no range-join pair expansion)."""
    from osm_cut_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    views = ev.filter(F.col("event_type") == "view")
    out = asof_join(
        clicks, views, key_col="user_id", time_col="ts",
        value_cols=["event_id", "value"], tiebreak_col="event_id",
    )
    return out.select("event_id", "user_id", "asof_event_id", "asof_value")


def q_lookback_agg(spark, sf_dir):
    """Rolling look-back features: per event, count/sum of the user's
    values over the strict past hour (native RANGE frame — one shuffle,
    no range self-join; operators/asof.py::lookback_agg)."""
    from osm_cut_spark.operators.asof import lookback_agg

    ev = _t(spark, sf_dir, "events")
    return lookback_agg(ev, "user_id", "ts", "value", 3600).select(
        "event_id", "user_id", "n_lookback", "sum_lookback"
    )


def q_minhash_pairs(spark, sf_dir):
    """Dedup: MinHash-LSH candidate pairs verified by exact Jaccard.
    ``replayable=True`` swaps xxhash64 for the md5-derived 60-bit hash that
    DuckDB reproduces, so the full shingle->signature->band->bucket->verify
    pipeline is oracle-checked end to end."""
    from osm_cut_spark.operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"),
        jaccard_threshold=0.3,
        n_perm=16,
        bands=8,
        replayable=True,
    ).select("id_a", "id_b")


def q_simhash_pairs(spark, sf_dir):
    """Dedup: SimHash near-dup pairs on the replayable 60-bit hash.  The
    pigeonhole blocking (max_hamming+1 chunks) is lossless, so the oracle
    replays the RESULT as an all-pairs hamming filter."""
    from osm_cut_spark.operators.dedup import simhash_dup_pairs

    return simhash_dup_pairs(
        _t(spark, sf_dir, "documents"), max_hamming=6, replayable=True
    ).select("id_a", "id_b", "hamming")


def q_dup_clusters(spark, sf_dir):
    """Dedup resolution: connected components over the (replayable)
    MinHash near-dup pairs via distributed min-label propagation;
    cluster_id = min doc id of the component.  Oracle = recursive-CTE
    transitive closure over the same pair set."""
    from osm_cut_spark.operators.dedup import dup_clusters, minhash_lsh_pairs

    pairs = minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"),
        jaccard_threshold=0.3,
        n_perm=16,
        bands=8,
        replayable=True,
    )
    return dup_clusters(pairs)


def q_ngram_jaccard(spark, sf_dir):
    """Dedup: exact word-3-gram Jaccard pairs at threshold 0.3 via the
    size-band-blocked operator (no cartesian product); the oracle replays
    the result with an unblocked quadratic SQL — blocking is lossless.

    Both sides compare a deterministic ``doc_id < {ORACLE_ID_CAP}`` window:
    a no-op at the driver gate's sf0.01 (500 docs) but keeps the oracle's
    quadratic replay feasible at EVERY sf (the gate reads 31/31 at sf1.0
    instead of excluding this query).  The full-corpus scale path for
    n-gram near-dup is minhash_lsh_pairs, green at sf1.0."""
    from osm_cut_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents").filter(F.col("doc_id") < ORACLE_ID_CAP),
        shingle_n=3,
        jaccard_threshold=0.3,
    ).select("id_a", "id_b", "i_size", "u_size")


def q_lsh_ann(spark, sf_dir):
    """Similarity search: LSH-bucketed ANN probe + exact cosine re-rank.
    ``exact_jvm=True`` computes bucket keys with sequential JVM folds so
    the DuckDB oracle (inlined hyperplane literals) replays the exact
    candidate set; recall vs exact kNN is asserted in pytest."""
    from osm_cut_spark.operators.simsearch import lsh_ann

    emb = _t(spark, sf_dir, "embeddings")
    qvec = [float(v) for v in emb.filter(F.col("vec_id") == 0).head().embedding]
    return lsh_ann(
        spark, emb.filter(F.col("vec_id") != 0), qvec, k=10, n_bands=16, exact_jvm=True
    ).select("rank", "vec_id")


def q_cosine_dup(spark, sf_dir):
    """Dedup: embedding-cosine near-dup pairs — hyperplane band buckets ->
    candidate pairs -> exact cosine >= 0.4; the oracle replays the banded
    candidate semantics with the plane matrix inlined (exact_jvm folds).

    Both sides compare a deterministic ``vec_id < {ORACLE_ID_CAP}`` window
    (no-op through sf0.1) so the oracle's coarse-band candidate join stays
    feasible at every sf — see q_ngram_jaccard.  The scale path is
    lsh_knn_join / ivf_knn_join over the full corpus."""
    from osm_cut_spark.operators.simsearch import cosine_dup_pairs

    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < ORACLE_ID_CAP)
    return cosine_dup_pairs(
        spark, emb, threshold=0.4, n_planes=32, n_bands=16, exact_jvm=True, dim=64
    ).select("id_a", "id_b")


def q_contamination(spark, sf_dir):
    """Benchmark decontamination: cross-corpus MinHash-LSH join between a
    training split and a held-out split of the documents table (every hit
    is a train/eval overlap to quarantine); full hash pipeline replayed
    in DuckDB on the md5-derived hash."""
    from osm_cut_spark.operators.dedup import minhash_lsh_join

    docs = _t(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 7 != 0)
    bench = docs.filter(F.col("doc_id") % 7 == 0)
    return minhash_lsh_join(
        corpus, bench, jaccard_threshold=0.3, n_perm=16, bands=8, replayable=True
    ).select("id_a", "id_b")


def q_decontaminate(spark, sf_dir):
    """Quarantine composition: corpus minus documents near-duplicating the
    held-out split (anti-join over the contamination hits)."""
    from osm_cut_spark.operators.corpus import decontaminate

    docs = _t(spark, sf_dir, "documents")
    return decontaminate(
        docs.filter(F.col("doc_id") % 7 != 0),
        docs.filter(F.col("doc_id") % 7 == 0),
        jaccard_threshold=0.3,
        n_perm=16,
        bands=8,
        replayable=True,
    )


def q_lsh_knn_join(spark, sf_dir):
    """Batch ANN join: 5 query vectors each retrieve top-5 neighbors among
    LSH-bucket-sharing candidates (the many-query retrieval form of
    lsh_ann); exact_jvm bucket keys replay in the oracle."""
    from osm_cut_spark.operators.simsearch import lsh_knn_join

    emb = _t(spark, sf_dir, "embeddings")
    return lsh_knn_join(
        spark,
        emb.filter(F.col("vec_id") >= 5),
        emb.filter(F.col("vec_id") < 5).withColumnRenamed("vec_id", "qid"),
        k=5,
        n_planes=32,
        n_bands=16,
        dim=64,
        exact_jvm=True,
    )


def q_sample(spark, sf_dir):
    """Deterministic hash-of-id sampling (no RNG): the same corpus always
    yields the same 30% sample; replayable on the md5-derived hash."""
    from osm_cut_spark.operators.sampling import deterministic_sample

    return deterministic_sample(_t(spark, sf_dir, "documents"), keep_pct=30)


def q_stratified_sample(spark, sf_dir):
    """Stratified corpus balancing: downsample the latin family to 40%,
    keep every other family — per-stratum hashed-id draws."""
    from osm_cut_spark.operators.sampling import stratified_sample

    return stratified_sample(_t(spark, sf_dir, "documents"), rates={"latin": 40})


def q_pack_sequences(spark, sf_dir):
    """Sequence packing: token-offset binning into 512-token training
    shards via the distributed prefix sum (range partition -> per-
    partition totals -> in-partition window + offset); the oracle is the
    equivalent single global window, which the operator must match at any
    partition count."""
    from osm_cut_spark.operators.sampling import pack_sequences

    return pack_sequences(_t(spark, sf_dir, "documents"), budget=512)


def q_ivf_ann_fullprobe(spark, sf_dir):
    """Similarity search: IVF with full probe == exact top-k, so the exact
    cosine SQL is a valid oracle (proves the inverted-file path loses
    nothing when probing all lists)."""
    from osm_cut_spark.operators.simsearch import ivf_build, ivf_search

    emb = _t(spark, sf_dir, "embeddings")
    qvec = [float(v) for v in emb.filter(F.col("vec_id") == 0).head().embedding]
    centroids, assigned = ivf_build(spark, emb.filter(F.col("vec_id") != 0), n_centroids=8)
    return ivf_search(spark, assigned, centroids, qvec, k=10, n_probe=8).select(
        "rank", "vec_id"
    )


def q_ivf_knn_join(spark, sf_dir):
    """Batch IVF ANN join with full probe (n_probe == n_centroids) ==
    exact brute-force per-query top-k — the many-query, partition-pruned
    form of ivf_search (same degrade-to-exact proof shape as
    ivf_ann_fullprobe, but ONE list equi-join instead of a driver call
    per query)."""
    from osm_cut_spark.operators.simsearch import ivf_knn_join

    emb = _t(spark, sf_dir, "embeddings")
    return ivf_knn_join(
        spark,
        emb.filter(F.col("vec_id") >= 5),
        emb.filter(F.col("vec_id") < 5).withColumnRenamed("vec_id", "qid"),
        k=5,
        n_centroids=8,
        n_probe=8,
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "pip_node_filter": q_pip_node_filter,
        "bbox_filter": q_bbox_filter,
        "way_semijoin": q_way_semijoin,
        "completion_refs": q_completion_refs,
        "relation_closure": q_relation_closure,
        "knn_cosine": q_knn_cosine,
        "knn_join": q_knn_join,
        "window_topk": q_window_topk,
        "exact_dedup": q_exact_dedup,
        "token_stats": q_token_stats,
        "quality_score": q_quality_score,
        "lang_family": q_lang_family,
        "vocab_topk": q_vocab_topk,
        "repetition_stats": q_repetition_stats,
        "boilerplate_ngrams": q_boilerplate_ngrams,
        "fingerprint": q_fingerprint,
        "clean_corpus": q_clean_corpus,
        "keep_best": q_keep_best,
        "raster_vector_join": q_raster_vector_join,
        "sessionize": q_sessionize,
        "asof_join": q_asof_join,
        "lookback_agg": q_lookback_agg,
        "minhash_pairs": q_minhash_pairs,
        "dup_clusters": q_dup_clusters,
        "ngram_jaccard": q_ngram_jaccard,
        "lsh_ann": q_lsh_ann,
        "cosine_dup": q_cosine_dup,
        "ivf_ann_fullprobe": q_ivf_ann_fullprobe,
        "ivf_knn_join": q_ivf_knn_join,
        "simhash_pairs": q_simhash_pairs,
        "sample": q_sample,
        "stratified_sample": q_stratified_sample,
        "pack_sequences": q_pack_sequences,
        "contamination": q_contamination,
        "decontaminate": q_decontaminate,
        "lsh_knn_join": q_lsh_knn_join,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "ngram_jaccard": f"""
            WITH s0 AS ({_SHINGLES3_SQL}),
            s AS (SELECT * FROM s0 WHERE _id < {ORACLE_ID_CAP})
            SELECT a._id AS id_a, b._id AS id_b,
                   CAST(len(list_intersect(a.sh, b.sh)) AS INT) AS i_size,
                   CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS INT) AS u_size
            FROM s a JOIN s b ON a._id < b._id
            WHERE len(list_intersect(a.sh, b.sh))
                  >= 0.3 * len(list_distinct(list_concat(a.sh, b.sh)))
        """,
        "minhash_pairs": _minhash_pairs_sql(),
        "dup_clusters": f"""
            WITH RECURSIVE p AS (SELECT * FROM ({_minhash_pairs_sql()}) mp),
            und AS (SELECT id_a AS a, id_b AS b FROM p
                    UNION SELECT id_b, id_a FROM p),
            reach(src, dst) AS (
                SELECT a, a FROM und
                UNION
                SELECT r.src, u.b FROM reach r JOIN und u ON u.a = r.dst
            )
            SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src
        """,
        "simhash_pairs": _simhash_pairs_sql(),
        "lsh_ann": _lsh_ann_sql(),
        "cosine_dup": _cosine_dup_sql(),
        "ivf_ann_fullprobe": """
            WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
            sims AS (
                SELECT e.vec_id,
                       list_dot_product(e.embedding::DOUBLE[], q.qv)
                       / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                          * sqrt(list_dot_product(q.qv, q.qv))) AS sim
                FROM embeddings e, q WHERE e.vec_id != 0
            )
            SELECT CAST(row_number() OVER (ORDER BY sim DESC, vec_id) AS INT) AS rank, vec_id
            FROM sims ORDER BY sim DESC, vec_id LIMIT 10
        """,
        # full probe degrades to the exact per-query top-k join
        "ivf_knn_join": """
            WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5),
            d AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id >= 5),
            sims AS (
                SELECT q.qid, d.vec_id,
                       list_dot_product(d.v, q.qv)
                       / (sqrt(list_dot_product(d.v, d.v)) * sqrt(list_dot_product(q.qv, q.qv))) AS sim
                FROM q CROSS JOIN d
            )
            SELECT qid, vec_id, CAST(rn AS INT) AS rn FROM (
                SELECT qid, vec_id,
                       row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn
                FROM sims)
            WHERE rn <= 5
        """,
        # inclusive half-planes with the kernel's exact float shape
        # R = (x*a + y*b) + c per edge of the fixture triangle
        "pip_node_filter": f"""
            WITH pts AS ({_POINTS_SQL})
            SELECT pt_id FROM pts
            WHERE (x * 0.0 + y * 5.0) + 0.0 >= 0
              AND (x * 5.0 + y * (-5.0)) + (-25.0) <= 0
              AND (x * 5.0 + y * (-10.0)) + 0.0 >= 0
        """,
        "bbox_filter": f"""
            WITH pts AS ({_POINTS_SQL})
            SELECT pt_id FROM pts
            WHERE x BETWEEN 0.0 AND 10.0 AND y BETWEEN 0.0 AND 5.0
        """,
        "way_semijoin": """
            SELECT l_orderkey AS way_id, count(*) AS n_kept, CAST(sum(l_partkey) AS BIGINT) AS sum_refs
            FROM lineitem JOIN part ON p_partkey = l_partkey
            WHERE p_size < 15
            GROUP BY l_orderkey
        """,
        "completion_refs": """
            WITH sel AS (SELECT p_partkey FROM part WHERE p_size < 15),
                 kept AS (SELECT DISTINCT l_orderkey FROM lineitem
                          JOIN sel ON p_partkey = l_partkey)
            SELECT DISTINCT l_partkey AS ref FROM lineitem
            WHERE l_orderkey IN (SELECT l_orderkey FROM kept)
              AND l_partkey NOT IN (SELECT p_partkey FROM sel)
        """,
        "relation_closure": """
            WITH RECURSIVE edges AS (
                SELECT DISTINCT event_id % 97 AS child, user_id AS parent FROM events
            ),
            reach(rid) AS (
                SELECT DISTINCT child FROM edges WHERE child < 5
                UNION
                SELECT e.parent FROM edges e JOIN reach r ON e.child = r.rid
            )
            SELECT rid FROM reach
        """,
        "knn_cosine": """
            WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
            sims AS (
                SELECT e.vec_id,
                       list_dot_product(e.embedding::DOUBLE[], q.qv)
                       / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                          * sqrt(list_dot_product(q.qv, q.qv))) AS sim
                FROM embeddings e, q WHERE e.vec_id != 0
            )
            SELECT CAST(row_number() OVER (ORDER BY sim DESC, vec_id) AS INT) AS rank, vec_id
            FROM sims ORDER BY sim DESC, vec_id LIMIT 10
        """,
        "knn_join": f"""
            WITH pts AS ({_POINTS_SQL}),
            q AS (SELECT c_custkey AS qid,
                         (c_custkey % 150) / 10.0 AS x,
                         (c_nationkey % 110) / 10.0 AS y
                  FROM customer WHERE c_custkey <= 20),
            d AS (SELECT q.qid, p.pt_id,
                         (p.x - q.x) * (p.x - q.x) + (p.y - q.y) * (p.y - q.y) AS d2
                  FROM q, pts p)
            SELECT qid, pt_id, CAST(rn AS INT) AS rn FROM (
                SELECT qid, pt_id,
                       row_number() OVER (PARTITION BY qid ORDER BY d2, pt_id) AS rn
                FROM d)
            WHERE rn <= 5
        """,
        "window_topk": """
            SELECT o_custkey, o_orderkey, CAST(rn AS INT) AS rn FROM (
                SELECT o_custkey, o_orderkey,
                       row_number() OVER (PARTITION BY o_custkey
                                          ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
                FROM orders
            ) WHERE rn <= 3
        """,
        "exact_dedup": """
            SELECT md5(text) AS fingerprint, min(doc_id) AS keep_id, count(*) AS n_dups
            FROM documents GROUP BY md5(text)
        """,
        "token_stats": r"""
            SELECT doc_id,
                   CAST(length(text) AS INT) AS n_chars,
                   CAST(len(list_filter(string_split_regex(text, '\s+'), t -> t != '')) AS INT) AS n_ws_tokens,
                   CAST(len(list_distinct(list_filter(string_split_regex(text, '\s+'), t -> t != ''))) AS INT) AS n_distinct_tokens,
                   CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS INT) AS n_bpe_tokens
            FROM documents
        """,
        "quality_score": r"""
            WITH f AS (
                SELECT doc_id,
                       list_filter(string_split_regex(lower(text), '\s+'), t -> t != '') AS toks,
                       length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS n_alpha,
                       length(text) AS n_chars
                FROM documents
            ), g AS (
                SELECT doc_id,
                       len(toks) AS n_tokens,
                       len(list_filter(toks, t -> list_contains(
                           ['the','a','an','and','or','of','to','in','is','it',
                            'that','for','on','as','with','at','by','from','this','be'], t)))
                           AS n_stopwords,
                       n_alpha, n_chars,
                       len(list_distinct(toks)) AS n_distinct
                FROM f
            )
            SELECT doc_id,
                   CAST(n_tokens AS INT) AS n_tokens,
                   CAST(n_stopwords AS INT) AS n_stopwords,
                   CAST(n_alpha AS INT) AS n_alpha_chars,
                   CAST(n_distinct AS INT) AS n_distinct,
                   CAST(floor(least(n_tokens, 200) / 4
                        + (CASE WHEN n_tokens > 0 THEN (n_stopwords * 100) / n_tokens ELSE 0 END) / 4
                        + (CASE WHEN n_chars > 0 THEN (n_alpha * 25) / n_chars ELSE 0 END)) AS INT)
                       AS quality
            FROM g
        """,
        "lang_family": """
            WITH c AS (
                SELECT doc_id,
                       length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS n_latin,
                       length(regexp_replace(text, '[^Ѐ-ӿ]', '', 'g')) AS n_cyrillic,
                       length(regexp_replace(text, '[^一-鿿]', '', 'g')) AS n_cjk
                FROM documents
            )
            SELECT doc_id,
                   CAST(n_latin AS INT) AS n_latin,
                   CAST(n_cyrillic AS INT) AS n_cyrillic,
                   CAST(n_cjk AS INT) AS n_cjk,
                   CASE WHEN n_latin >= n_cyrillic AND n_latin >= n_cjk AND n_latin > 0 THEN 'latin'
                        WHEN n_cyrillic > n_latin AND n_cyrillic >= n_cjk THEN 'cyrillic'
                        WHEN n_cjk > 0 THEN 'cjk'
                        ELSE 'unknown' END AS lang_family
            FROM c
        """,
        "vocab_topk": r"""
            WITH t AS (
                SELECT doc_id,
                       unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                          x -> x != '')) AS token
                FROM documents
            )
            SELECT token, count(*) AS tf, count(DISTINCT doc_id) AS df
            FROM t GROUP BY token ORDER BY tf DESC, token LIMIT 50
        """,
        "repetition_stats": r"""
            WITH t AS (
                SELECT doc_id,
                       list_filter(string_split_regex(text, '\s+'), x -> x != '') AS toks
                FROM documents
            ),
            pos AS (
                SELECT doc_id,
                       unnest(list_transform(range(1, len(toks) + 1),
                                             i -> {'p': i, 'w': toks[i]})) AS u
                FROM t
            ),
            wc AS (
                SELECT doc_id, u.w AS w, count(*) AS c
                FROM pos GROUP BY doc_id, u.w
            ),
            top AS (
                SELECT doc_id, CAST(max(c) AS INT) AS top_word_count FROM wc GROUP BY doc_id
            ),
            runs AS (
                -- gaps-and-islands: consecutive positions of the same word
                SELECT doc_id, CAST(max(cnt) AS INT) AS max_word_run FROM (
                    SELECT doc_id, count(*) AS cnt FROM (
                        SELECT doc_id, u.w AS w, u.p AS p,
                               u.p - ROW_NUMBER() OVER (PARTITION BY doc_id, u.w ORDER BY u.p) AS grp
                        FROM pos
                    ) GROUP BY doc_id, w, grp
                ) GROUP BY doc_id
            ),
            g AS (
                SELECT doc_id, CAST(len(toks) AS INT) AS n_words,
                       CASE WHEN len(toks) >= 2
                            THEN list_transform(range(1, len(toks)),
                                                i -> toks[i] || ' ' || toks[i+1])
                            ELSE []::VARCHAR[] END AS g2,
                       CASE WHEN len(toks) >= 3
                            THEN list_transform(range(1, len(toks) - 1),
                                                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                            ELSE []::VARCHAR[] END AS g3
                FROM t
            )
            SELECT g.doc_id, g.n_words,
                   COALESCE(top.top_word_count, 0) AS top_word_count,
                   COALESCE(runs.max_word_run, 0) AS max_word_run,
                   CASE WHEN g.n_words > 0
                        THEN CAST(top.top_word_count AS DOUBLE) / CAST(g.n_words AS DOUBLE)
                        ELSE 0.0 END AS top_word_frac,
                   CASE WHEN len(g2) > 0
                        THEN CAST(len(g2) - len(list_distinct(g2)) AS DOUBLE) / CAST(len(g2) AS DOUBLE)
                        ELSE 0.0 END AS dup_2gram_frac,
                   CASE WHEN len(g3) > 0
                        THEN CAST(len(g3) - len(list_distinct(g3)) AS DOUBLE) / CAST(len(g3) AS DOUBLE)
                        ELSE 0.0 END AS dup_3gram_frac
            FROM g LEFT JOIN top USING (doc_id) LEFT JOIN runs USING (doc_id)
        """,
        # hash-keyed replay of the slim-exchange plan: group/select on the
        # md5-derived h64 of the n-gram (ties at the k-cut break on the
        # hash in BOTH engines), then resolve the winning strings
        "boilerplate_ngrams": rf"""
            WITH t AS (
                SELECT doc_id,
                       list_filter(string_split_regex(text, '\s+'), x -> x != '') AS toks
                FROM documents
            ),
            g AS (
                SELECT doc_id,
                       unnest(list_transform(range(1, len(toks) - 5 + 2),
                                             i -> array_to_string(toks[i:i+4], ' '))) AS ngram
                FROM t
            ),
            h AS (SELECT doc_id, ngram, {_h64('ngram')} AS _h FROM g),
            a AS (SELECT _h, count(*) AS tf, count(DISTINCT doc_id) AS df
                  FROM h GROUP BY _h HAVING count(DISTINCT doc_id) >= 2),
            top AS (SELECT _h, tf, df FROM a ORDER BY df DESC, tf DESC, _h LIMIT 100),
            tx AS (SELECT _h, min(ngram) AS ngram FROM h GROUP BY _h)
            SELECT tx.ngram, top.tf, top.df FROM top JOIN tx USING (_h)
            ORDER BY df DESC, tf DESC, ngram
        """,
        "clean_corpus": _clean_corpus_sql(),
        "keep_best": _keep_best_sql(),
        "fingerprint": f"""
            SELECT doc_id,
                   {_h64('text')} AS full_hash,
                   array_to_string(
                       [{_h64("substr(text, CAST(floor(i * greatest(length(text) - 32, 1) / 8) AS INT) + 1, 32)")}
                        for i in range(0, 8)], ',') AS win_str
            FROM documents
        """,
        "raster_vector_join": """
            WITH pts AS (
                SELECT c_custkey,
                       CAST(floor((c_custkey % 160) / 10.0) AS INT) AS tx,
                       CAST(floor((c_nationkey * 17 % 110) / 10.0) AS INT) AS ty
                FROM customer
            ),
            tiles AS (
                SELECT DISTINCT CAST(p_partkey % 16 AS INT) AS tx,
                                CAST(p_size % 11 AS INT) AS ty
                FROM part
            )
            SELECT tx, ty, count(*) AS n_pts, CAST(sum(c_custkey) AS BIGINT) AS sum_keys
            FROM pts JOIN tiles USING (tx, ty)
            GROUP BY tx, ty
        """,
        "contamination": f"""
            WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 != 0),
            bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 = 0),
            joined AS (SELECT * FROM ({_minhash_join_sql()}) mj)
            SELECT id_a, id_b FROM joined
        """,
        "decontaminate": f"""
            WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 != 0),
            bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 = 0),
            joined AS (SELECT * FROM ({_minhash_join_sql()}) mj)
            SELECT doc_id FROM corpus
            WHERE doc_id NOT IN (SELECT id_a FROM joined)
        """,
        "lsh_knn_join": _lsh_knn_join_sql(),
        "sample": f"""
            SELECT doc_id FROM documents
            WHERE {_h64("CAST(doc_id AS VARCHAR)")} % 100 < 30
        """,
        "stratified_sample": f"""
            WITH c AS (
                SELECT doc_id,
                       CASE WHEN n_latin >= n_cyrillic AND n_latin >= n_cjk AND n_latin > 0 THEN 'latin'
                            WHEN n_cyrillic > n_latin AND n_cyrillic >= n_cjk THEN 'cyrillic'
                            WHEN n_cjk > 0 THEN 'cjk'
                            ELSE 'unknown' END AS lang_family
                FROM (SELECT doc_id,
                             length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS n_latin,
                             length(regexp_replace(text, '[^Ѐ-ӿ]', '', 'g')) AS n_cyrillic,
                             length(regexp_replace(text, '[^一-鿿]', '', 'g')) AS n_cjk
                      FROM documents)
            )
            SELECT d.doc_id, c.lang_family
            FROM documents d JOIN c ON c.doc_id = d.doc_id
            WHERE {_h64("CAST(d.doc_id AS VARCHAR)")} % 100
                  < CASE WHEN c.lang_family = 'latin' THEN 40 ELSE 100 END
        """,
        "pack_sequences": r"""
            WITH t AS (
                SELECT doc_id,
                       COALESCE(len(list_filter(string_split_regex(text, '\s+'), x -> x != '')), 0) AS n_tokens
                FROM documents
            ),
            c AS (
                SELECT doc_id, n_tokens,
                       COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
                FROM t
            )
            SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
                   CAST(floor(off / 512) AS BIGINT) AS bin
            FROM c
        """,
        "asof_join": """
            WITH u AS (
                SELECT user_id AS k, ts AS t, 1 AS pri,
                       4611686018427387904 AS tb,
                       event_id AS l_event_id,
                       CAST(NULL AS STRUCT(e BIGINT, v DOUBLE)) AS r
                FROM events WHERE event_type = 'click' AND ts IS NOT NULL
                UNION ALL
                SELECT user_id, ts, 0, event_id, NULL,
                       {'e': event_id, 'v': value}
                FROM events WHERE event_type = 'view' AND ts IS NOT NULL
            ), w AS (
                SELECT l_event_id, k, pri,
                       last_value(r IGNORE NULLS) OVER (
                           PARTITION BY k ORDER BY t, pri, tb
                           ROWS UNBOUNDED PRECEDING) AS m
                FROM u
            )
            SELECT l_event_id AS event_id, k AS user_id,
                   struct_extract(m, 'e') AS asof_event_id,
                   struct_extract(m, 'v') AS asof_value
            FROM w WHERE pri = 1
        """,
        "lookback_agg": """
            SELECT event_id, user_id,
                   count(*) OVER w AS n_lookback,
                   sum(value) OVER w AS sum_lookback
            FROM events WHERE ts IS NOT NULL
            WINDOW w AS (PARTITION BY user_id
                         ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
                         RANGE BETWEEN 3600 PRECEDING AND 1 PRECEDING)
        """,
        "sessionize": """
            WITH l AS (
                SELECT user_id, ts, event_id,
                       lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
                FROM events
            )
            SELECT user_id,
                   CAST(sum(CASE WHEN prev_ts IS NULL
                 OR floor(epoch(ts)) - floor(epoch(prev_ts)) > 1800 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
                   count(*) AS n_events
            FROM l GROUP BY user_id
        """,
    }
