#!/usr/bin/env python
"""Round-7 optimization measurement harness (bench.py stays FROZEN).

Modes:
  --plans OUTDIR SUFFIX      dump .explain("formatted") for every bench query
                             to OUTDIR/<query>_<SUFFIX>.txt
  --time q1,q2,...           noop-timed warm reps (SPARK_GRAFT_BENCH_REPS,
                             default 3 + 1 warmup) for a subset of queries at
                             $SPARK_GRAFT_SF_DIR; prints one JSON line
  --temporal-scaling         asof_join + lookback_agg at two core counts

Query names match bench.py (incl. extract_complete / extract_noncomplete /
extract_documents_out and the production contamination / lsh_knn_join /
knn_join variants).  The per-layer split of a cut or a dedup run comes from
the real pipeline: ``perfbench/run.py --trace 1``.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
REPS = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))


def noop(df):
    df.write.format("noop").mode("overwrite").save()


# extract queries: name -> (complete, output)
EXTRACTS = {
    "extract_complete": (True, "elements"),
    "extract_noncomplete": (False, "elements"),
    "extract_documents_out": (False, "documents"),
}


def _bench_query_builders(spark):
    """Return ``(builders, extract_out)``: {name: zero-arg builder ->
    DataFrame-or-None} mirroring bench.py's run_once query set (extract
    builders run their own noop and return None), and
    ``extract_out(complete, output) -> (result, DataFrame)``, the lazy
    extract output those builders write."""
    import bench as B
    import __spark_entry__ as entry
    from pyspark.sql import functions as F

    from osm_cut_spark.functions.geometry import prepare_polygon
    from osm_cut_spark.operators.extract import auto_cover, extract, make_point_selector

    sf = B.sf_of(SF_DIR)
    path, _ = B.docs_parquet(spark, sf)
    docs = spark.read.parquet(path)
    poly = prepare_polygon([("include", entry.TRIANGLE)])
    cover = auto_cover(poly)
    selector = make_point_selector(spark, poly, cover)
    qs = entry.queries()

    def extract_out(complete, out):
        res = extract(spark, docs, poly, complete=complete, cover=cover, selector=selector)
        return res, (res.elements() if out == "elements" else res.documents())

    def run_extract(complete, out):
        res, df = extract_out(complete, out)
        noop(df)
        res.release()

    def bench_contamination():
        from osm_cut_spark.operators.dedup import minhash_lsh_join

        d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        return minhash_lsh_join(
            d.filter(F.col("doc_id") % 7 != 0),
            d.filter(F.col("doc_id") % 7 == 0),
            jaccard_threshold=0.3, n_perm=16, bands=8,
        )

    def bench_lsh_knn_join():
        from osm_cut_spark.operators.simsearch import lsh_knn_join

        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        return lsh_knn_join(
            spark,
            emb.filter(F.col("vec_id") >= 5),
            emb.filter(F.col("vec_id") < 5).withColumnRenamed("vec_id", "qid"),
            k=5, n_planes=32, n_bands=16, dim=64,
        )

    def bench_knn_join():
        from osm_cut_spark.operators.knn import knn_join

        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        pts = li.select(
            (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("pt_id"),
            ((F.col("l_orderkey") % 1500) / 100.0).alias("x"),
            ((F.col("l_partkey") % 1100) / 100.0).alias("y"),
        )
        q = pts.limit(200).select(F.col("pt_id").alias("qid"), "x", "y")
        return knn_join(spark, pts, q, k=5, res=10, radius=2,
                        id_col="pt_id", q_id_col="qid", lon_col="x", lat_col="y")

    builders = {name: (lambda a=args: run_extract(*a)) for name, args in EXTRACTS.items()}
    for name in [
        "pip_node_filter", "way_semijoin", "completion_refs", "relation_closure",
        "knn_cosine", "window_topk", "exact_dedup", "minhash_pairs",
        "simhash_pairs", "token_stats", "repetition_stats", "boilerplate_ngrams",
        "raster_vector_join", "pack_sequences", "asof_join", "lookback_agg",
    ]:
        builders[name] = (lambda n=name: qs[n](spark, SF_DIR))
    builders["contamination"] = bench_contamination
    builders["lsh_knn_join"] = bench_lsh_knn_join
    builders["knn_join"] = bench_knn_join
    return builders, extract_out


def plans_main(outdir: str, suffix: str):
    from osm_cut_spark.session import get_session

    spark = get_session(app_name="osm_cut_plans", cpus=CPUS)
    out = Path(outdir)
    out.mkdir(parents=True, exist_ok=True)
    builders, extract_out = _bench_query_builders(spark)
    for name, fn in builders.items():
        if name in EXTRACTS:
            fn = lambda a=EXTRACTS[name]: extract_out(*a)[1]
        try:
            df = fn()
            if df is None:
                continue
            txt = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
            )
            (out / f"{name}_{suffix}.txt").write_text(txt)
            print(f"wrote {name}_{suffix}.txt ({len(txt)} chars)")
        except Exception as e:  # pragma: no cover
            print(f"PLAN FAIL {name}: {e}")


def time_main(names: list[str]):
    from osm_cut_spark.session import get_session

    spark = get_session(app_name="osm_cut_bench_extra", cpus=CPUS)
    builders, _ = _bench_query_builders(spark)
    spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(10).count()
    out = {}
    for name in names:
        fn = builders[name]
        walls = []
        for _ in range(REPS + 1):
            t0 = time.perf_counter()
            r = fn()
            if r is not None:
                noop(r)
            walls.append(round(time.perf_counter() - t0, 3))
        out[name] = {"min_warm": min(walls[1:]), "reps": walls}
        print(f"{name}: {out[name]}", file=sys.stderr)
    print(json.dumps({"sf_dir": SF_DIR, "cpus": CPUS, "queries": out}))


TEMPORAL_EVENTS = int(os.environ.get("SPARK_GRAFT_TEMPORAL_EVENTS", "2000000"))


def _temporal_events_path() -> str:
    """Generate-once a large synthetic event table for the temporal-family
    scaling campaign: TEMPORAL_EVENTS rows over ~EVENTS/100 keys (so window
    partitions hold ~100 rows), JVM-generated, deterministic."""
    from pathlib import Path as P

    import bench as B

    path = B.CACHE_ROOT / f"temporal_events_n{TEMPORAL_EVENTS}.parquet"
    if not path.exists():
        from pyspark.sql import functions as F

        from osm_cut_spark.session import get_session

        spark = get_session(app_name="osm_cut_temporal_gen", cpus=CPUS)
        n_keys = max(1000, TEMPORAL_EVENTS // 100)
        (
            spark.range(TEMPORAL_EVENTS)
            .repartition(64)
            .select(
                F.col("id").alias("event_id"),
                F.pmod(F.xxhash64("id", F.lit(1)), F.lit(n_keys)).alias("user_id"),
                F.timestamp_seconds(
                    F.lit(1_600_000_000) + F.pmod(F.xxhash64("id", F.lit(2)), F.lit(86_400 * 30))
                ).alias("ts"),
                (F.pmod(F.xxhash64("id", F.lit(3)), F.lit(10_000)) / 100.0).alias("amount"),
            )
            .write.mode("overwrite")
            .parquet(str(path))
        )
    return str(path)


def temporal_worker_main(events_path: str):
    """Subprocess worker: min-of-N warm reps of asof_join + lookback_agg on
    the big event table (the window-sort shuffle profile — one hash
    exchange + in-partition sort per query, no broadcast side)."""
    from pyspark.sql import functions as F

    from osm_cut_spark.operators.asof import asof_join, lookback_agg
    from osm_cut_spark.session import get_session

    reps = int(os.environ.get("SPARK_GRAFT_REPS", "3"))
    spark = get_session(app_name="osm_cut_temporal_scaling", cpus=CPUS)
    ev = spark.read.parquet(events_path)
    # right side = every 10th event as a "state update" stream
    st = ev.filter(F.col("event_id") % 10 == 0).select(
        "user_id", "ts", F.col("amount").alias("state_val"), "event_id"
    )
    ev.limit(10).count()

    jobs = {
        "asof_join": lambda: noop(
            asof_join(ev, st, "user_id", "ts", ["state_val", "event_id"], "event_id")
        ),
        "lookback_agg": lambda: noop(
            lookback_agg(ev, "user_id", "ts", "amount", window_sec=3600)
        ),
    }
    out = {}
    for name, fn in jobs.items():
        times = []
        for _ in range(reps + 1):
            t0 = time.perf_counter()
            fn()
            times.append(round(time.perf_counter() - t0, 3))
        out[name] = times
    print(json.dumps({"cpus": CPUS, "n_events": TEMPORAL_EVENTS, "reps_sec": out}))


def temporal_scaling_main():
    """Temporal-family scaling campaign (round-6 VERDICT #7): asof_join +
    lookback_agg at two parallelism levels in fresh JVMs on the SAME cached
    events — the window-sort shuffle profile, distinct from both the
    broadcast-heavy flagship and the banded dedup family."""
    import subprocess

    cores = [
        int(c) for c in os.environ.get("SPARK_GRAFT_SCALING_CORES", "8,32").split(",")
    ]
    path = _temporal_events_path()
    out = {}
    for cpus in cores:
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
        proc = subprocess.run(
            [sys.executable, __file__, "--temporal-worker", path],
            env=env, capture_output=True, text=True, timeout=7200,
        )
        lines = [l for l in proc.stdout.splitlines() if l.startswith("{")]
        if not lines:
            print(proc.stdout[-2000:], file=sys.stderr)
            print(proc.stderr[-2000:], file=sys.stderr)
            raise RuntimeError(f"temporal worker at {cpus} cores produced no JSON")
        out[cpus] = json.loads(lines[-1])
    lo, hi = cores[0], cores[-1]
    effs, walls, reps_all = {}, {}, {}
    for q in out[lo]["reps_sec"]:
        t_lo = min(out[lo]["reps_sec"][q][1:])
        t_hi = min(out[hi]["reps_sec"][q][1:])
        effs[q] = round((t_lo / t_hi) / (hi / lo), 3)
        walls[f"{q}_cores{lo}_sec"] = t_lo
        walls[f"{q}_cores{hi}_sec"] = t_hi
        reps_all[q] = {str(c): out[c]["reps_sec"][q] for c in cores}
    print(json.dumps({
        "metric": f"temporal_scaling_efficiency_{lo}_to_{hi}_cores",
        "value": effs.get("asof_join"),
        "unit": "ratio",
        "queries": walls,
        "efficiency": effs,
        "reps": reps_all,
        "n_events": TEMPORAL_EVENTS,
    }))


if __name__ == "__main__":
    if "--plans" in sys.argv:
        i = sys.argv.index("--plans")
        plans_main(sys.argv[i + 1], sys.argv[i + 2])
    elif "--time" in sys.argv:
        time_main(sys.argv[sys.argv.index("--time") + 1].split(","))
    elif "--temporal-scaling" in sys.argv:
        temporal_scaling_main()
    elif "--temporal-worker" in sys.argv:
        temporal_worker_main(sys.argv[sys.argv.index("--temporal-worker") + 1])
    else:
        print(__doc__)
