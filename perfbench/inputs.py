"""Seeded benchmark inputs, generated once into the benchmark's cache and
keyed by seed and size: the synthetic interleaved-docs table with its node
coordinates, the star ``.poly`` polygon and the dedup text corpus with
planted near-duplicate pairs.  The program under test receives only the
generated files.  Generation runs no Spark job, so it takes about a second
and does not warm the JVM the ops are timed in."""

from __future__ import annotations

import json
import os
import shutil

import numpy as np

STAR_VERTICES = 1000
# doc_id % PLANT_EVERY == 1 is a near-duplicate of doc_id - 1
PLANT_EVERY = 20
DEDUP_TOKENS = 40
DEDUP_VOCAB = 30_000


def _write_parts(table, path: str, parts: int) -> None:
    """Write ``table`` as a parquet directory of ``parts`` files (one scan
    partition each), then move it into place; a concurrent or earlier
    writer of the same key wins."""
    import pyarrow.parquet as pq

    tmp = path + f".tmp{os.getpid()}"
    os.makedirs(tmp)
    step = -(-table.num_rows // parts)
    for k in range(parts):
        pq.write_table(table.slice(k * step, step), os.path.join(tmp, f"part-{k:05d}.parquet"))
    try:
        os.rename(tmp, path)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)


def docs_table(cache_dir: str, n_docs: int, seed: int, parts: int) -> str:
    """Interleaved-docs parquet from the engine's seeded Python generator,
    written with pyarrow in ``parts`` files: no Spark job, so generation
    does not pay a cold JVM's code generation."""
    import pyarrow as pa

    from osm_cut_spark.sources.docs import synthesize_osm_docs

    path = os.path.join(cache_dir, f"docs-n{n_docs}-s{seed}.parquet")
    if os.path.exists(path):
        return path
    pdf = synthesize_osm_docs(n_docs, seed=seed)
    span = pa.struct(
        [
            pa.field("kind", pa.string(), nullable=False),
            pa.field("text", pa.string()),
            pa.field("media_ref", pa.string()),
            pa.field("offset", pa.int32(), nullable=False),
        ]
    )
    schema = pa.schema(
        [
            pa.field("doc_id", pa.string(), nullable=False),
            pa.field("spans", pa.list_(pa.field("element", span, nullable=False)), nullable=False),
        ]
    )
    spans = [
        [{"kind": k, "text": t, "media_ref": m, "offset": o} for k, t, m, o in doc]
        for doc in pdf["spans"]
    ]
    _write_parts(pa.table({"doc_id": pdf["doc_id"].tolist(), "spans": spans}, schema=schema), path, parts)
    return path


def node_coords(docs_path: str) -> tuple[np.ndarray, np.ndarray]:
    """(lon, lat) of every node span, read straight from the parquet files
    with pyarrow and parsed with ``json`` — a path that shares nothing with
    the engine's narrow parse, cell routing or Arrow UDF."""
    import pyarrow.parquet as pq

    npz = docs_path[: -len(".parquet")] + ".coords.npz"
    if os.path.exists(npz):
        with np.load(npz) as z:
            return z["lon"], z["lat"]
    lon: list[float] = []
    lat: list[float] = []
    spans = pq.read_table(docs_path, columns=["spans"]).column("spans").to_pylist()
    for doc in spans:
        for s in doc:
            if s["kind"] == "node":
                a = json.loads(s["text"])
                lon.append(a["lon"])
                lat.append(a["lat"])
    x = np.array(lon, dtype=np.float64)
    y = np.array(lat, dtype=np.float64)
    tmp = npz + f".tmp{os.getpid()}.npz"
    np.savez(tmp, lon=x, lat=y)
    os.replace(tmp, npz)
    return x, y


def star_points(seed: int) -> list[tuple[float, float]]:
    """The seeded 1,000-vertex star ring, rounded to the 7 decimals the
    ``.poly`` file carries, so the file and the reference polygon agree
    bit for bit."""
    from osm_cut_spark.functions.geometry import star_polygon

    return [
        (round(x, 7), round(y, 7)) for x, y in star_polygon(STAR_VERTICES, seed=seed)
    ]


def write_poly(path: str, points: list[tuple[float, float]]) -> None:
    body = "".join(f"  {x!r} {y!r}\n" for x, y in points)
    with open(path, "w") as f:
        f.write(f"star\n1\n{body}END\nEND\n")


def dedup_corpus(cache_dir: str, n_docs: int, seed: int, parts: int) -> str:
    """Word-salad documents of ``DEDUP_TOKENS`` seeded random tokens, in
    the shape of ``bench.py``'s dedup corpus, written with pyarrow in
    ``parts`` files.  Every ``PLANT_EVERY``-th document (doc_id % 20 == 1)
    repeats its predecessor's text plus one extra token: a planted
    near-duplicate pair with 3-shingle Jaccard 38/39."""
    import pyarrow as pa

    path = os.path.join(cache_dir, f"dedup-n{n_docs}-s{seed}.parquet")
    if os.path.exists(path):
        return path
    toks = np.random.default_rng(seed).integers(0, DEDUP_VOCAB, size=(n_docs, DEDUP_TOKENS))
    ids = np.arange(n_docs)
    planted = ids % PLANT_EVERY == 1
    toks[planted] = toks[ids[planted] - 1]
    vocab = [f"w{t}" for t in range(DEDUP_VOCAB)]
    text = [" ".join([vocab[t] for t in row]) for row in toks.tolist()]
    for d in ids[planted].tolist():
        text[d] += f" x{d}"
    _write_parts(pa.table({"doc_id": ids, "text": text}), path, parts)
    return path


def planted_pairs(n_docs: int) -> set[tuple[int, int]]:
    return {(d - 1, d) for d in range(1, n_docs) if d % PLANT_EVERY == 1}
