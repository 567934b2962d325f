"""The benchmark workloads.  Each one defines its inputs, its timed
set-up, the op it times (through the program's public entry points only),
the staged drive of the same op used by the traced run, and the check of
every op's output.

* ``cut_small`` — one escript-parity ``cut_job.run`` per op (complete
  mode, parquet sink) over a small docs table with a fresh ``.poly`` file
  per op.  Fixed cost (Spark jobs, driver-side planning, polygon compile,
  closure, sink) dominates; little per-row work.  It calls every extract
  layer.
* ``dedup`` — ``minhash_lsh_pairs`` over a generated text corpus with
  planted near-duplicate pairs; it runs no extract code, so a change to
  the cut path should leave it unchanged.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

from perfbench import inputs
from perfbench.sparkstats import fingerprint_cols
from perfbench.stats import fingerprint

# (layer, metric, unit, better).  The traced run emits every entry; a layer
# that a workload's op does not call reads 0.
LAYER_METRICS = [
    ("poly.compile", "wall_s", "s", "lower"),
    ("poly.compile", "jobs", "count", "lower"),
    ("poly.compile", "inside_cells", "count", "higher"),
    ("poly.compile", "boundary_cells", "count", "lower"),
    ("ingest.narrow", "wall_s", "s", "lower"),
    ("ingest.narrow", "jobs", "count", "lower"),
    ("ingest.narrow", "tasks", "count", "lower"),
    ("ingest.narrow", "task_cpu_s", "s", "lower"),
    ("ingest.narrow", "rows_out", "count", "lower"),
    ("extract.node_select", "wall_s", "s", "lower"),
    ("extract.node_select", "jobs", "count", "lower"),
    ("extract.node_select", "task_cpu_s", "s", "lower"),
    ("extract.node_select", "rows_out", "count", "lower"),
    ("extract.node_select", "arrow_rows", "count", "lower"),
    ("extract.node_select", "arrow_share", "ratio", "lower"),
    ("extract.way_select", "wall_s", "s", "lower"),
    ("extract.way_select", "jobs", "count", "lower"),
    ("extract.way_select", "rows_out", "count", "lower"),
    ("extract.finish", "wall_s", "s", "lower"),
    ("extract.finish", "jobs", "count", "lower"),
    ("extract.finish", "collect_jobs", "count", "lower"),
    ("extract.finish", "task_cpu_s", "s", "lower"),
    ("extract.output", "wall_s", "s", "lower"),
    ("extract.output", "jobs", "count", "lower"),
    ("extract.output", "tasks", "count", "lower"),
    ("extract.output", "task_cpu_s", "s", "lower"),
    ("extract.output", "shuffle_mb", "MB", "lower"),
    ("extract.output", "max_task_share", "ratio", "lower"),
    ("cut_job.sink", "wall_s", "s", "lower"),
    ("cut_job.sink", "jobs", "count", "lower"),
    ("cut_job.sink", "bytes_written", "bytes", "lower"),
    ("dedup.signature", "wall_s", "s", "lower"),
    ("dedup.signature", "jobs", "count", "lower"),
    ("dedup.signature", "task_cpu_s", "s", "lower"),
    ("dedup.signature", "shuffle_mb", "MB", "lower"),
    ("dedup.signature", "rows_out", "count", "lower"),
    ("dedup.pairs", "wall_s", "s", "lower"),
    ("dedup.pairs", "jobs", "count", "lower"),
    ("dedup.pairs", "task_cpu_s", "s", "lower"),
    ("dedup.pairs", "shuffle_mb", "MB", "lower"),
    ("dedup.pairs", "rows_out", "count", "lower"),
    ("dedup.pairs", "planted_recall", "ratio", "higher"),
    ("op", "jobs", "count", "lower"),
    ("op", "tasks", "count", "lower"),
    ("op", "jobs_ungrouped", "count", "lower"),
    ("op", "driver_gap_s", "s", "lower"),
    ("op", "core_util", "ratio", "higher"),
    ("op", "shuffle_mb", "MB", "lower"),
    ("op", "gc_s", "s", "lower"),
    ("session", "leaked_persists", "count", "lower"),
    ("session", "heap_mb_per_op", "MB", "lower"),
    ("session", "jvm_threads", "count", "lower"),
    ("trace", "overhead_s", "s", "lower"),
    ("trace", "fingerprint_match", "bool", "higher"),
]


@dataclass
class Ctx:
    spark: object
    cache_dir: str
    work_dir: str
    seed: int
    cpus: int
    tracer: object | None = None  # set while a traced op runs


@dataclass
class Check:
    ok: bool
    fingerprint: tuple
    detail: str = ""


class CutSmall:
    """Escript-parity ``cut_job.run``: complete mode, parquet sink."""

    warmup_ops = 1

    def __init__(self, n_docs: int):
        self.items = n_docs

    def prepare(self, ctx: Ctx) -> None:
        from osm_cut_spark.functions.geometry import prepare_polygon

        self.docs_path = inputs.docs_table(ctx.cache_dir, self.items, ctx.seed, ctx.cpus)
        lon, lat = inputs.node_coords(self.docs_path)
        self.points = inputs.star_points(ctx.seed)
        ref = prepare_polygon([("include", self.points)])
        self.expected_nodes = int(ref.contains(lon, lat).sum())
        x0, x1, y0, y1 = ref.bbox
        self.bbox_nodes = int(((lon >= x0) & (lon <= x1) & (lat >= y0) & (lat <= y1)).sum())

    def setup(self, ctx: Ctx) -> None:
        ctx.spark.read.parquet(self.docs_path).schema  # noqa: B018 - opens the input

    def before(self, ctx: Ctx, i: int) -> None:
        # a fresh .poly file per op: the op reads and compiles it itself
        self.poly_path = os.path.join(ctx.work_dir, f"star-{i}.poly")
        inputs.write_poly(self.poly_path, self.points)
        self.out = os.path.join(ctx.work_dir, f"cut-{i}")
        shutil.rmtree(os.path.join(ctx.work_dir, f"cut-{i - 1}"), ignore_errors=True)

    def run(self, ctx: Ctx, i: int) -> dict:
        from osm_cut_spark import cut_job

        args = cut_job._resolve_args([self.docs_path, self.poly_path, self.out])
        return {"n_out": cut_job.run(args, ctx.spark)["n_out"]}

    def run_traced(self, ctx: Ctx, i: int) -> dict:
        """``cut_job.run`` in its positional (complete, parquet) form as
        consecutive public calls, each layer forced inside its own span.
        Forcing moves the fill of the node and way selections out of
        ``finish_extract`` (which then finds them cached); the output must
        not change, which the drift guard checks."""
        from pyspark.sql import functions as F

        from osm_cut_spark import cut_job
        from osm_cut_spark.operators import ingest
        from osm_cut_spark.operators.extract import (
            auto_cover,
            finish_extract,
            make_point_selector,
            select_ways,
            start_edge_probe,
        )
        from osm_cut_spark.sources.poly import compile_poly

        spark, span, op = ctx.spark, ctx.tracer.span, f"op{i}"
        acc = spark.sparkContext.accumulator(0)
        with span("poly.compile", op) as s:
            poly = compile_poly(self.poly_path)
            cover = auto_cover(poly)
            selector = make_point_selector(spark, poly, cover, arrow_rows_acc=acc)
            s.values["inside_cells"] = int(cover.inside_cells.size)
            s.values["boundary_cells"] = int(cover.boundary_cells.size)
        docs = cut_job.load_docs(spark, self.docs_path)
        with span("ingest.narrow", op) as s:
            narrow = ingest.parse_elements_narrow(docs, True).persist()
            n_elements = narrow.count()
            s.values["rows_out"] = n_elements
        nodes = narrow.filter(F.col("kind") == "node").select("id", "lon", "lat", "doc_id", "offset")
        ways = narrow.filter(F.col("kind") == "way").select("id", "nds", "doc_id", "offset")
        relations = narrow.filter(F.col("kind") == "relation").select(
            "id", "members", "doc_id", "offset"
        )
        with span("extract.node_select", op) as s:
            nodes_sel = selector(nodes.filter(F.col("id").isNotNull())).persist()
            s.values["rows_out"] = nodes_sel.count()
            s.values["arrow_rows"] = acc.value
            s.values["arrow_share"] = acc.value / max(1, self.bbox_nodes)
        with span("extract.way_select", op) as s:
            sel_node_ids = nodes_sel.select(F.col("id").alias("node_id")).distinct()
            ways_sel = select_ways(ways, sel_node_ids, True).persist()
            s.values["rows_out"] = ways_sel.count()
        with span("extract.finish", op):
            probe = start_edge_probe(relations, True)
            res = finish_extract(
                spark, docs, nodes, relations, nodes_sel, ways_sel, True,
                True, caches=[narrow], n_elements_hint=n_elements, edge_probe=probe,
            )
        with span("cut_job.sink", op) as s:
            elements = res.elements().orderBy("phase", "doc_id", "offset")
            # the ordered write is the action that materializes elements()
            with span("extract.output", op):
                elements.write.mode("overwrite").parquet(self.out)
            n_out = spark.read.parquet(self.out).count()
        s.values["bytes_written"] = _dir_bytes(self.out)
        res.release()
        return {"n_out": n_out}

    def check(self, ctx: Ctx, i: int, out: dict) -> Check:
        from pyspark.sql import functions as F

        row = (
            ctx.spark.read.parquet(self.out)
            .agg(
                F.sum(F.when(F.col("phase") == 0, 1).otherwise(0)).alias("nodes"),
                *fingerprint_cols("doc_id", "offset", "phase"),
            )
            .first()
        )
        ok = row["nodes"] == self.expected_nodes and row["fp_rows"] == out["n_out"]
        detail = f"selected nodes {row['nodes']} (expected {self.expected_nodes}), rows {row['fp_rows']}"
        return Check(ok, (row["fp_rows"], row["fp_sum"]), detail)


class Dedup:
    """``minhash_lsh_pairs(n_perm=32, bands=8, jaccard_threshold=0.5)``."""

    N_PERM, BANDS, THRESHOLD, SHINGLE_N = 32, 8, 0.5, 3
    # its op walls keep falling through the second op in a fresh JVM
    warmup_ops = 2

    def __init__(self, n_docs: int):
        self.items = n_docs

    def prepare(self, ctx: Ctx) -> None:
        self.path = inputs.dedup_corpus(ctx.cache_dir, self.items, ctx.seed, ctx.cpus)
        self.planted = inputs.planted_pairs(self.items)

    def setup(self, ctx: Ctx) -> None:
        self.docs = ctx.spark.read.parquet(self.path)

    def before(self, ctx: Ctx, i: int) -> None:
        pass

    def run(self, ctx: Ctx, i: int) -> dict:
        from osm_cut_spark.operators.dedup import minhash_lsh_pairs

        rows = minhash_lsh_pairs(
            self.docs, n_perm=self.N_PERM, bands=self.BANDS, jaccard_threshold=self.THRESHOLD
        ).collect()
        return {"pairs": sorted((r.id_a, r.id_b) for r in rows)}

    def run_traced(self, ctx: Ctx, i: int) -> dict:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from osm_cut_spark.operators.dedup import minhash_sig_cols
        from osm_cut_spark.session import observed_metrics, spread_scan

        span, op = ctx.tracer.span, f"op{i}"
        with span("dedup.signature", op) as s:
            # the operator's own first steps: spread the scan, sign the docs
            obs = Observation("perfbench_sig")
            sig = minhash_sig_cols(
                spread_scan(self.docs, "doc_id"), "doc_id", "text",
                self.N_PERM, self.SHINGLE_N, False,
            ).observe(obs, F.count(F.lit(1)).alias("rows"))
            sig.write.format("noop").mode("overwrite").save()
            s.values["rows_out"] = observed_metrics(obs, "rows")["rows"]
        with span("dedup.pairs", op) as s:
            out = self.run(ctx, i)
            s.values["rows_out"] = len(out["pairs"])
            s.values["planted_recall"] = len(out["pairs"]) / len(self.planted)
        return out

    def check(self, ctx: Ctx, i: int, out: dict) -> Check:
        pairs = out["pairs"]
        stray = [p for p in pairs if p not in self.planted]
        ok = not stray and len(pairs) > 0
        return Check(ok, fingerprint(hash(p) for p in pairs), f"{len(pairs)} pairs, {len(stray)} not planted")


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


# Sizes keep a run to about a minute and a half on a 4-core host; each
# workload keeps the property it was chosen for (see the module docstring).
WORKLOADS = {
    "cut_small": lambda: CutSmall(n_docs=2_000),
    "dedup": lambda: Dedup(n_docs=60_000),
}
