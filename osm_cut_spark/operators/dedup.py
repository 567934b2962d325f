"""Deduplication operators for large-scale training-data pipelines.

All hot paths are JVM built-ins (xxhash64 / md5 / array higher-order
functions) — no Python in the data path, full whole-stage codegen:

* ``exact_dedup`` — hash-groupBy exact duplicate clustering.
* ``minhash_sig_cols`` — word n-gram shingling (``shingles_from_tokens``
  over a staged token array) and a P-permutation MinHash signature, one
  ``min`` aggregate per permutation over multiply-add-masked base hashes.
* ``minhash_lsh_pairs`` — banded LSH: signatures split into bands
  (``band_bucket_exprs``), in-bucket pair expansion (``bucket_pairs``)
  produces candidates co-located by bucket (the classic
  shingle->minhash->band->bucket pipeline), then candidates are verified
  with EXACT n-gram Jaccard via array_intersect/array_union.
* ``simhash_docs`` / ``simhash_dup_pairs`` — SimHash over token-hash
  bitplanes, and Hamming-blocked near-dup pairs.

Hashing is parameterized: the default is ``xxhash64`` (fastest JVM path);
``replayable=True`` switches every hash to ``h64_md5`` — the integer value
of the first 15 hex chars of md5 — which DuckDB reproduces exactly as
``CAST('0x' || substr(md5(x),1,15) AS BIGINT)``, so LSH outputs are
oracle-checkable end to end.

Scale notes (physical plan, round-2 shape):

* the band explode and bucket self-join carry ONLY ``(_id, bucket)`` —
  shingle arrays never enter a shuffle; candidates are re-joined to the
  slim ``(id, sh)`` projection once for the exact-Jaccard verify;
* ``minhash_lsh_pairs`` SILENTLY drops buckets larger than ``max_bucket``
  (a size filter on the grouped ids — an explicit approximation knob that
  bounds the quadratic pair expansion at C(max_bucket, 2); the DuckDB
  oracle replays the same HAVING-count cap, so operator and oracle agree
  by construction).  ``simhash_dup_pairs`` instead collapses identical
  hashes first and stays EXACT by default (see its docstring);
* ``ngram_jaccard_pairs`` blocks on geometric size bands (a pair can only
  reach Jaccard >= t when the shingle-set sizes are within a factor 1/t),
  so the exact operator never plans a cartesian product.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F

BIG = (1 << 63) - 1


def h64_md5(col):
    """DuckDB-replayable 60-bit hash: integer value of the first 15 hex
    chars of md5.  DuckDB twin: CAST('0x' || substr(md5(x),1,15) AS BIGINT)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _hash64(col, replayable: bool):
    return h64_md5(col) if replayable else F.xxhash64(col)


def normalize_tokens(text_col="text"):
    """lower + whitespace split, empty tokens dropped (deterministic)."""
    return F.filter(F.split(F.lower(F.col(text_col)), r"\s+"), lambda t: t != "")


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact duplicate clusters: (fingerprint, keep_id, n_dups).

    keep_id is the minimum id in the cluster (deterministic survivor).
    """
    return (
        docs.select(F.md5(F.col(text_col)).alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
    )


def shingles_from_tokens(toks_col, n: int, distinct: bool = True):
    """Word n-gram shingle array from a MATERIALIZED token-array column
    (``normalize_tokens`` staged in a prior projection): the slice inside
    the lambda reads an attribute, so each n-gram costs O(n) — inlining the
    tokenizer instead re-splits the whole text once per n-gram, because
    higher-order lambdas run interpreted with no loop-invariant hoisting.
    Documents shorter than ``n`` tokens yield one whole-document shingle.

    ``distinct=False`` skips the dedup pass — valid wherever downstream
    math is duplicate-insensitive (MinHash signature mins; band buckets
    derived from them): the distinct VALUE set is identical, so every
    ``min`` over the hashes — and everything derived from the mins — is
    bit-identical with or without it."""
    arr = F.when(
        F.size(toks_col) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks_col) - n),
            lambda i: F.concat_ws(" ", F.slice(toks_col, i + 1, n)),
        ),
    ).otherwise(F.array(F.concat_ws(" ", toks_col)))
    return F.array_distinct(arr) if distinct else arr


def _staged_shingles(docs: DataFrame, id_col: str, text_col: str, n: int,
                     out_id: str = "_id") -> DataFrame:
    """(out_id, sh) with the token array staged in its own projection."""
    return docs.select(
        F.col(id_col).alias(out_id), normalize_tokens(text_col).alias("_toks")
    ).select(out_id, shingles_from_tokens(F.col("_toks"), n).alias("sh"))


MASK31 = (1 << 31) - 1
MASK61 = (1 << 61) - 1


def _perm_consts(p: int) -> tuple[int, int]:
    """Deterministic 31-bit multiply-add constants for permutation ``p``
    (odd multiplier).  Shared with the DuckDB oracle, which inlines the
    same values — 31-bit base hash * 31-bit multiplier stays under 2^62,
    so neither engine's checked int64 arithmetic can overflow."""
    a = ((p * 0x9E3779B9 + 0x85EBCA6B) & MASK31) | 1
    b = (p * 0xC2B2AE35 + 0x27D4EB2F) & MASK31
    return a, b


def minhash_sig_cols(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n_perm: int,
    shingle_n: int,
    replayable: bool,
    out_id: str = "_id",
) -> DataFrame:
    """(out_id, _m0.._m{n_perm-1}) MinHash signature via WHOLE-STAGE-CODEGEN
    aggregation instead of interpreted array folds.

    Pipeline: staged tokens -> staged (non-distinct) shingle strings ->
    ``explode`` -> scalar hash projection -> ``groupBy(id).agg(min(...))``
    per permutation.  Everything after the shingle build runs in codegen
    (the hash is a scalar expression on a string column; the n_perm mins
    are declarative aggregates with map-side partial aggregation, so the
    one extra exchange carries ONE slim row per document).  Each
    component is a min over the document's shingle hashes, so duplicate
    shingles and their order do not change it."""
    t = docs.select(
        F.col(id_col).alias(out_id), normalize_tokens(text_col).alias("_toks")
    )
    g = t.select(
        out_id, shingles_from_tokens(F.col("_toks"), shingle_n, distinct=False).alias("_g")
    )
    # explode_outer, NOT explode: the gram array is non-empty by
    # construction (the short-doc fallback always yields one element), so
    # the two are row-identical here — but plain explode synthesizes a
    # ``size(_g) > 0`` filter that predicate-pushdown re-expands BELOW the
    # spread exchange (un-staging the token alias back into an O(n²)
    # re-tokenize on the scan's 1-2 tasks; measured +31 s at sf1.0)
    h = g.select(out_id, F.explode_outer("_g").alias("_s")).select(
        out_id, _hash64(F.col("_s"), replayable).bitwiseAND(F.lit(MASK31)).alias("_h")
    )
    aggs = []
    for p in range(n_perm):
        a, b = _perm_consts(p)
        aggs.append(
            F.min(
                (F.lit(a) * F.col("_h") + F.lit(b)).bitwiseAND(F.lit(MASK61))
            ).alias(f"_m{p}")
        )
    return h.groupBy(out_id).agg(*aggs)


def band_bucket_exprs(bands: int, rows_per_band: int, replayable: bool = False):
    """Per-band bucket-key expressions over ``minhash_sig_cols`` output —
    plain scalar concat+hash (codegen) of the string "b:sig,sig,..." for
    band b.  Bucket keys persisted in ``dedup_index`` depend on this exact
    layout (pinned by golden values in tests/test_stream_dedup.py)."""
    out = []
    for b in range(bands):
        parts = F.concat_ws(
            ",",
            *[
                F.col(f"_m{b * rows_per_band + j}").cast("string")
                for j in range(rows_per_band)
            ],
        )
        out.append(_hash64(F.concat(F.lit(f"{b}:"), parts), replayable))
    return out


def _banded_ids(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n_perm: int,
    bands: int,
    shingle_n: int,
    replayable: bool,
    out_id: str = "_id",
) -> DataFrame:
    """(out_id, bucket) — one row per document per band, fully codegen."""
    rows_per_band = n_perm // bands
    sig = minhash_sig_cols(docs, id_col, text_col, n_perm, shingle_n, replayable, out_id)
    return sig.select(
        out_id,
        F.explode(F.array(*band_bucket_exprs(bands, rows_per_band, replayable))).alias(
            "bucket"
        ),
    )


def bucket_pairs(banded: DataFrame, bucket_col: str, max_bucket: int):
    """In-bucket candidate pairs from ``(_id, <bucket_col>)`` rows:
    ``(pairs, dropped)``.

    ``pairs`` is (id_a, id_b), id_a < id_b, distinct: one groupBy(bucket)
    + collect_list, then the combinations inside each bucket (no
    self-join).  Buckets holding more than ``max_bucket`` ids are DROPPED —
    an explicit approximation knob bounding each bucket's expansion at
    C(max_bucket, 2); oracles replay it as a HAVING-count cap.
    ``dropped`` is a lazy one-row DataFrame counting those buckets
    (``.first()[0]``; an explicit separate job — a mid-plan ``observe()``
    would be free, but AQE in this Spark build drops CollectMetrics below
    exchange boundaries, see session.observed_metrics).
    """
    buckets = banded.groupBy(bucket_col).agg(F.collect_list("_id").alias("ids"))
    dropped = buckets.filter(F.size("ids") > max_bucket).agg(
        F.count(F.lit(1)).alias("dropped_buckets")
    )
    pairs = (
        buckets
        .filter((F.size("ids") >= 2) & (F.size("ids") <= max_bucket))
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ids, (a, i) ->"
                    " transform(slice(ids, i + 2, size(ids)), b ->"
                    "   struct(least(a, b) AS id_a, greatest(a, b) AS id_b))))"
                )
            ).alias("p")
        )
        .select("p.id_a", "p.id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    return pairs, dropped


def _jaccard_cols(threshold: float):
    """(i_size, u_size, jaccard) projections + the threshold predicate.

    The filter compares ``i_size >= threshold * u_size`` (int vs double
    product) — the exact same float shape the DuckDB oracle uses, so the
    boundary rows agree bit-for-bit.
    """
    i_size = F.size(F.array_intersect("sh_a", "sh_b")).alias("i_size")
    u_size = F.size(F.array_union("sh_a", "sh_b")).alias("u_size")
    pred = F.col("i_size") >= F.lit(float(threshold)) * F.col("u_size")
    return i_size, u_size, pred


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_perm: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.5,
    max_bucket: int = 1000,
    replayable: bool = False,
    metrics: dict | None = None,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b) via banded MinHash LSH.

    Candidates = pairs sharing >=1 band bucket; verified with exact
    shingle Jaccard >= threshold.  Returns
    (id_a, id_b, i_size, u_size, jaccard).

    Physical plan (round-7 shape): staged tokens -> staged shingle strings
    -> explode -> codegen hash -> groupBy(id) partial-agg mins
    (``minhash_sig_cols``: one slim row per doc crosses the sig exchange;
    the per-permutation folds run in whole-stage codegen, not interpreted
    lambdas) -> scalar band-bucket hashes -> ``bucket_pairs`` (in-bucket
    combinations, buckets over ``max_bucket`` dropped); the pair set is persisted (near-dup-sized) and the exact-Jaccard
    verify recomputes shingles ONLY for candidate documents behind a
    broadcast semi-join (late materialization — the corpus is scanned
    once for signatures, and candidate docs once more for the verify).

    Pass ``metrics`` (a dict) to surface the cap: ``bucket_pairs``' lazy
    count of dropped buckets lands under ``metrics["dropped_buckets"]``.
    """
    from osm_cut_spark.session import spread_scan

    docs = spread_scan(docs, id_col)
    banded = _banded_ids(docs, id_col, text_col, n_perm, bands, shingle_n, replayable)
    pairs, dropped = bucket_pairs(banded, "bucket", max_bucket)
    if metrics is not None:
        metrics["dropped_buckets"] = dropped
    # candidate pairs are near-dup-sized (tiny next to the corpus) and are
    # read 3x below (two verify joins + the candidate-id pruning broadcast)
    # — persist so the LSH subtree runs once per action
    pairs = pairs.persist()

    # LATE-MATERIALIZED verify (guide §8: decide on small rows, touch heavy
    # rows once): shingles are recomputed ONLY for documents that appear in
    # a candidate pair — a broadcast semi-join prunes the docs scan before
    # the shingle build, replacing two more full-corpus shingle passes.
    cand_ids = pairs.select(
        F.explode(F.array("id_a", "id_b")).alias("_cid")
    ).distinct()
    cand_docs = docs.join(
        F.broadcast(cand_ids), F.col(id_col) == F.col("_cid"), "left_semi"
    )
    sh_c = _staged_shingles(cand_docs, id_col, text_col, shingle_n)
    sh_a = sh_c.select(F.col("_id").alias("id_a"), F.col("sh").alias("sh_a"))
    sh_b = sh_c.select(F.col("_id").alias("id_b"), F.col("sh").alias("sh_b"))
    i_size, u_size, pred = _jaccard_cols(jaccard_threshold)
    return (
        pairs.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .select("id_a", "id_b", i_size, u_size)
        .filter(pred)
        .withColumn("jaccard", F.col("i_size") / F.col("u_size"))
    )


def minhash_lsh_join(
    docs_a: DataFrame,
    docs_b: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_perm: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.5,
    max_bucket_pairs: int = 1_000_000,
    replayable: bool = False,
    metrics: dict | None = None,
) -> DataFrame:
    """CROSS-corpus near-duplicate join: pairs (id_a ∈ A, id_b ∈ B) with
    exact shingle Jaccard >= threshold, candidates from shared MinHash
    band buckets — the benchmark-decontamination operator (A = training
    corpus, B = evaluation set; every hit is a document to quarantine).

    Same physical shape as ``minhash_lsh_pairs`` but two-sided: each side
    runs the codegen sig pipeline (staged tokens -> explode -> hash ->
    partial-agg mins) once; the bucket join carries ONLY (id, bucket);
    buckets whose A×B candidate product exceeds ``max_bucket_pairs`` are
    dropped (explicit approximation knob — replay the same cap in any
    oracle); the persisted candidate set prunes each side's verify-shingle
    recompute behind a broadcast semi-join (late materialization).  Returns (id_a, id_b, i_size, u_size, jaccard).
    ``metrics`` (optional dict) receives a lazy one-row DataFrame under
    ``"dropped_buckets"`` — over-cap buckets the cap discarded.
    """
    from osm_cut_spark.session import spread_scan

    docs_a = spread_scan(docs_a, id_col)
    docs_b = spread_scan(docs_b, id_col)
    banded_a = _banded_ids(docs_a, id_col, text_col, n_perm, bands, shingle_n,
                           replayable, out_id="id_a")
    banded_b = _banded_ids(docs_b, id_col, text_col, n_perm, bands, shingle_n,
                           replayable, out_id="id_b")
    ga = banded_a.groupBy("bucket").agg(F.collect_list("id_a").alias("ia"))
    gb = banded_b.groupBy("bucket").agg(F.collect_list("id_b").alias("ib"))
    joined = ga.join(gb, "bucket")
    if metrics is not None:
        metrics["dropped_buckets"] = joined.filter(
            F.size("ia") * F.size("ib") > F.lit(int(max_bucket_pairs))
        ).agg(F.count(F.lit(1)).alias("dropped_buckets"))
    pairs = (
        joined
        .filter(F.size("ia") * F.size("ib") <= F.lit(int(max_bucket_pairs)))
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ia, a ->"
                    " transform(ib, b -> struct(a AS id_a, b AS id_b))))"
                )
            ).alias("p")
        )
        .select("p.id_a", "p.id_b")
        .dropDuplicates(["id_a", "id_b"])
        # read 3x below (two verify joins + candidate pruning) — persist so
        # the two-sided LSH subtree runs once per action
        .persist()
    )
    # late-materialized verify: each side's shingles recomputed only for its
    # candidate ids behind a broadcast semi-join (see minhash_lsh_pairs)
    i_size, u_size, pred = _jaccard_cols(jaccard_threshold)

    def cand_shingles(docs, pair_id):
        ids = pairs.select(F.col(pair_id).alias("_cid")).distinct()
        cand = docs.join(
            F.broadcast(ids), F.col(id_col) == F.col("_cid"), "left_semi"
        )
        return _staged_shingles(cand, id_col, text_col, shingle_n, out_id=pair_id)

    sh_a = cand_shingles(docs_a, "id_a").withColumnRenamed("sh", "sh_a")
    sh_b = cand_shingles(docs_b, "id_b").withColumnRenamed("sh", "sh_b")
    return (
        pairs.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .select("id_a", "id_b", i_size, u_size)
        .filter(pred)
        .withColumn("jaccard", F.col("i_size") / F.col("u_size"))
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """EXACT n-gram Jaccard pairs at ``jaccard_threshold``, blocked on
    geometric size bands — never a cartesian product.

    Blocking is lossless: J(A,B) >= t implies max(|A|,|B|)/min(|A|,|B|)
    <= 1/t, i.e. log_{1/t}|A| and log_{1/t}|B| differ by <= 1, so the two
    rows share one of the three keys {k-1, k, k+1} each row emits (the
    extra +-1 absorbs float rounding at exact band boundaries).  Within a
    band the join is quadratic — inherent to exact same-length
    near-duplicate search; the sub-quadratic scale path is
    ``minhash_lsh_pairs``.
    """
    if not (0.0 < jaccard_threshold <= 1.0):
        raise ValueError("jaccard_threshold must be in (0, 1]")
    from osm_cut_spark.session import spread_scan

    s = _staged_shingles(spread_scan(docs, id_col), id_col, text_col, shingle_n)
    if jaccard_threshold >= 1.0:
        band = F.size("sh").cast("long")
        keys = F.array(band)
    else:
        log_ratio = math.log(1.0 / jaccard_threshold)
        band = F.floor(F.log(F.size("sh").cast("double")) / F.lit(log_ratio))
        keys = F.array(band - 1, band, band + 1)
    banded = s.select("_id", "sh", F.explode(keys).alias("k"))
    a = banded.select(F.col("k"), F.col("_id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = banded.select(F.col("k"), F.col("_id").alias("id_b"), F.col("sh").alias("sh_b"))
    i_size, u_size, pred = _jaccard_cols(jaccard_threshold)
    return (
        a.join(b, "k")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", i_size, u_size)
        .dropDuplicates(["id_a", "id_b"])
        .filter(pred)
        .withColumn("jaccard", F.col("i_size") / F.col("u_size"))
    )


def grams_from_tokens(toks_col, ngram: int):
    """Distinct word n-grams from a MATERIALIZED token array (SimHash
    shape: documents shorter than ``ngram`` tokens yield one partial gram
    rather than a whole-document fallback)."""
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(toks_col) - ngram, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(toks_col, i + 1, ngram)),
        )
    )


def simhash_docs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 2,
    replayable: bool = False,
) -> DataFrame:
    """(_id, sh) SimHash per document.  63 bits with xxhash64 (sign bit
    avoided); 60 bits with the replayable md5 hash (its full width).

    Round-7 shape: staged tokens -> staged DISTINCT grams -> ``explode``
    -> codegen scalar hash -> ONE ``groupBy(id)`` with n_bits declarative
    ``sum((h >> b) & 1)`` aggregates + a count, then a codegen projection
    folds the majorities into the hash.  The counting runs in whole-stage
    codegen with map-side partial aggregation instead of n_bits interpreted
    filter-allocate passes per row, and the one extra exchange carries a
    single slim row per document.  (``array_distinct`` on the gram
    STRINGS is kept — SimHash counts each distinct gram once, and
    collapsing post-hash instead could merge hash-colliding grams.)
    """
    n_bits = 60 if replayable else 63
    t = docs.select(
        F.col(id_col).alias("_id"), normalize_tokens(text_col).alias("_toks")
    )
    g = t.select("_id", grams_from_tokens(F.col("_toks"), ngram).alias("_g"))
    # explode_outer: row-identical (the gram array is never empty) but does
    # not synthesize the size()>0 filter that predicate-pushdown would
    # re-expand below the exchange — see minhash_sig_cols
    h = g.select("_id", F.explode_outer("_g").alias("_s")).select(
        "_id", _hash64(F.col("_s"), replayable).alias("_h")
    )
    cnt = h.groupBy("_id").agg(
        F.count(F.lit(1)).alias("_n"),
        *[
            F.sum(
                F.shiftrightunsigned(F.col("_h"), b).bitwiseAND(F.lit(1))
            ).alias(f"_c{b}")
            for b in range(n_bits)
        ],
    )
    sh = F.lit(0).cast("long")
    for b in range(n_bits):
        sh = sh.bitwiseOR(
            F.when(F.col(f"_c{b}") * 2 > F.col("_n"), F.lit(1 << b).cast("long"))
            .otherwise(F.lit(0).cast("long"))
        )
    return cnt.select("_id", sh.alias("sh"))


def _hamming_blocks(n_bits: int, n_blocks: int) -> list[tuple[int, int]]:
    """(start, width) per block, widths within 1 of each other."""
    base, extra = divmod(n_bits, n_blocks)
    out, start = [], 0
    for i in range(n_blocks):
        width = base + (1 if i < extra else 0)
        out.append((start, width))
        start += width
    return out


def simhash_dup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    n_blocks: int | None = None,
    replayable: bool = False,
    max_bucket: int | None = None,
    metrics: dict | None = None,
) -> DataFrame:
    """SimHash near-dup pairs: block on ``max_hamming + 1`` bit chunks
    (pigeonhole: any pair with hamming <= max_hamming shares at least one
    chunk — so the blocked result EQUALS the all-pairs hamming filter),
    verify hamming exactly.  Returns (id_a, id_b, hamming).

    Degenerate-corpus safety: docs with IDENTICAL simhashes are collapsed
    to one (sh, ids) group per bucket before pair expansion, so a
    boilerplate corpus of n near-identical docs costs O(distinct hashes^2)
    bit_counts — not O(n^2) — and the (inherently quadratic-sized) hamming-0
    output expands once globally, from block 0 only.  ``max_bucket``
    (optional) additionally drops buckets with more DISTINCT hashes than
    the cap — an explicit approximation knob for adversarial skew; the
    default None keeps the operator exact (== the all-pairs oracle).
    Under a cap, within-group (hamming-0) pairs are emitted from EVERY
    surviving block instead of block 0 only — so a dropped block-0 bucket
    loses them no more irrevocably than cross pairs (they resurface via
    any other block whose bucket survives); the terminal dropDuplicates
    already dedupes the (<= n_blocks x) repeats.  ``metrics`` (optional
    dict) receives a lazy one-row DataFrame under ``"dropped_buckets"``
    — how many (block, key) buckets the cap discarded.
    """
    n_bits = 60 if replayable else 63
    if n_blocks is None:
        n_blocks = max_hamming + 1
    if n_blocks < max_hamming + 1:
        raise ValueError("pigeonhole requires n_blocks >= max_hamming + 1")
    from osm_cut_spark.session import spread_scan

    s = simhash_docs(spread_scan(docs, id_col), id_col, text_col, replayable=replayable)
    chunks = s.select(
        "_id",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("blk"),
                        F.shiftrightunsigned(F.col("sh"), start)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("key"),
                    )
                    for i, (start, width) in enumerate(_hamming_blocks(n_bits, n_blocks))
                ]
            )
        ).alias("c"),
    ).select("_id", "sh", F.col("c.blk").alias("blk"), F.col("c.key").alias("key"))
    # single-scan pair generation: collapse identical hashes per bucket
    # (groupBy blk/key/sh), then per bucket expand
    #   * within-group pairs (hamming 0) from block 0 ONLY — identical
    #     hashes share every chunk, so block 0 alone emits each exactly once;
    #   * cross-group pairs with the hamming predicate INSIDE the array
    #     expression, so the candidate stream stays near-dup-sized before
    #     any shuffle (a self-join would also recompute the bit-term scan).
    bysh = chunks.groupBy("blk", "key", "sh").agg(F.collect_list("_id").alias("ids"))
    # exact mode: within-group pairs from block 0 only (each emitted once).
    # capped mode: from every surviving block, so a dropped block-0 bucket
    # does not lose them irrevocably; dropDuplicates dedupes the repeats.
    within_blk = "blk = 0" if max_bucket is None else "true"
    keep_within = F.lit(True) if max_bucket is not None else (F.col("blk") == 0)
    grouped = (
        bysh.groupBy("blk", "key")
        .agg(F.collect_list(F.struct("sh", "ids")).alias("xs"))
        .filter(
            (F.size("xs") >= 2)
            | (keep_within & F.expr("exists(xs, x -> size(x.ids) >= 2)"))
        )
    )
    if max_bucket is not None:
        if metrics is not None:
            metrics["dropped_buckets"] = grouped.filter(
                F.size("xs") > int(max_bucket)
            ).agg(F.count(F.lit(1)).alias("dropped_buckets"))
        grouped = grouped.filter(F.size("xs") <= int(max_bucket))
    within = (
        f"CASE WHEN {within_blk} THEN flatten(transform(xs, x ->"
        " flatten(transform(x.ids, (a, j) ->"
        "   transform(slice(x.ids, j + 2, size(x.ids)),"
        "     b -> struct(least(a, b) AS id_a, greatest(a, b) AS id_b,"
        "                 0 AS hamming))))))"
        " ELSE array() END"
    )
    cross = (
        "flatten(transform(xs, (x, i) ->"
        " flatten(transform("
        f"  filter(slice(xs, i + 2, size(xs)), y -> bit_count(x.sh ^ y.sh) <= {int(max_hamming)}),"
        "   y -> flatten(transform(x.ids, a -> transform(y.ids,"
        "     b -> struct(least(a, b) AS id_a, greatest(a, b) AS id_b,"
        "                 bit_count(x.sh ^ y.sh) AS hamming))))))))"
    )
    return (
        grouped.select(F.explode(F.expr(f"concat(({within}), ({cross}))")).alias("p"))
        .select("p.id_a", "p.id_b", "p.hamming")
        .dropDuplicates(["id_a", "id_b"])
    )


def dup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 32,
    strict: bool = True,
) -> DataFrame:
    """Resolve near-dup pairs into clusters: (doc_id, cluster_id) for every
    id that appears in ``pairs``, cluster_id = MIN id of the connected
    component (the deterministic survivor — compose with exact_dedup's
    keep_id convention).

    Distributed min-label propagation: each round every node adopts the
    minimum label among itself and its neighbors; converges in O(component
    diameter) rounds — near-dup graphs are unions of short chains/cliques,
    so a handful of rounds in practice (``max_iters`` guards pathological
    chains).  Each round is one equi-join + groupBy on the (small) edge
    set; per-round frames are persisted and released on convergence, and
    lineage is truncated every 8 rounds.

    ``strict=True`` (default) raises if labels have not converged after
    ``max_iters`` rounds (a component with diameter > max_iters would
    otherwise return silently-partial clusters); pass strict=False to
    accept the partial labeling for pathological chain graphs.
    """
    if max_iters < 1:
        raise ValueError("max_iters must be >= 1")
    edges = pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
    und = (
        edges.unionByName(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .persist()
    )
    labels = und.select(F.col("a").alias("id")).distinct().withColumn("lbl", F.col("id")).persist()
    labels.count()
    for it in range(max_iters):
        nbr_min = (
            und.join(labels, und.b == labels.id)
            .groupBy("a")
            .agg(F.min("lbl").alias("nbr_lbl"))
        )
        new_labels = (
            labels.join(nbr_min, labels.id == nbr_min.a, "left")
            .select(
                "id",
                F.least(F.col("lbl"), F.coalesce(F.col("nbr_lbl"), F.col("lbl"))).alias("lbl"),
            )
        )
        if (it + 1) % 8 == 0:
            new_labels = new_labels.localCheckpoint(eager=True)
        else:
            new_labels = new_labels.persist()
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.lbl") != F.col("o.lbl"))
            .count()
        )
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            break
    else:
        # the loop only falls through when the last round still moved labels
        if strict:
            und.unpersist()
            raise RuntimeError(
                f"dup_clusters did not converge in {max_iters} rounds "
                f"({changed} labels still moving); raise max_iters or pass strict=False"
            )
    und.unpersist()
    return labels.select(F.col("id").alias("doc_id"), F.col("lbl").alias("cluster_id"))
