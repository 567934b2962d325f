"""Resumable polygon-cut job with per-partition lineage + cell metrics.

North-rule requirement: "per-partition lineage and processed-cell metrics
written to a checkpoint table so a killed job resumes from the last
committed Iceberg snapshot."  Implementation:

* the cut runs as committed stages (``nodes`` -> ``ways`` -> ``final``);
  the heavy node-selection scan is further split into ``n_buckets``
  deterministic doc-hash buckets, each committed independently to the
  IceLite output table with the bucket id in the snapshot properties;
* every commit also appends rows to a ``checkpoint`` metrics table:
  one row per Spark partition of the committed data (lineage: partition id,
  row count, min/max element id) and one row per coarse cell (processed-
  cell metrics: cell_r7, rows inside);
* on restart, committed (stage, bucket) pairs are read back from snapshot
  properties and skipped — a killed job resumes exactly after its last
  committed snapshot.  Buckets are doc-hash based, so re-running a bucket
  is idempotent in content.

Cross-document semantics (way completion, relation closure) run in the
``final`` stage against the committed node/way tables, so bucketing never
changes results vs a single-shot extract().
"""

from __future__ import annotations

from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, functions as F

from osm_cut_spark.functions.cells import CellCover
from osm_cut_spark.functions.cells_sql import cell_col
from osm_cut_spark.functions.geometry import PreparedPolygon
from osm_cut_spark.operators import extract as X
from osm_cut_spark.operators import ingest
from osm_cut_spark.sources.icelite import IceLiteTable

METRIC_SCHEMA = (
    "stage STRING, bucket INT, metric STRING, key BIGINT, n_rows BIGINT, "
    "min_id BIGINT, max_id BIGINT"
)


def _lineage_rows(df: DataFrame, stage: str, bucket: int) -> DataFrame:
    """Per-Spark-partition lineage rows for a committed DataFrame."""
    return (
        df.withColumn("_pid", F.spark_partition_id())
        .groupBy("_pid")
        .agg(F.count(F.lit(1)).alias("n_rows"), F.min("id").alias("min_id"), F.max("id").alias("max_id"))
        .select(
            F.lit(stage).alias("stage"),
            F.lit(bucket).alias("bucket"),
            F.lit("partition_lineage").alias("metric"),
            F.col("_pid").cast("bigint").alias("key"),
            "n_rows",
            "min_id",
            "max_id",
        )
    )


def _cell_rows(df: DataFrame, stage: str, bucket: int, cell_col: str = "cell_r7") -> DataFrame:
    """Processed-cell metric rows (counts per coarse cell)."""
    return (
        df.groupBy(cell_col)
        .agg(F.count(F.lit(1)).alias("n_rows"), F.min("id").alias("min_id"), F.max("id").alias("max_id"))
        .select(
            F.lit(stage).alias("stage"),
            F.lit(bucket).alias("bucket"),
            F.lit("processed_cell").alias("metric"),
            F.col(cell_col).cast("bigint").alias("key"),
            "n_rows",
            "min_id",
            "max_id",
        )
    )


@dataclass
class ResumableCut:
    spark: SparkSession
    docs: DataFrame
    poly: PreparedPolygon
    out_root: str | Path
    complete: bool = False
    n_buckets: int = 8
    coarse_res: int = 7
    cover: CellCover | None = field(default=None)
    # test hook: simulate a crash after N commits (None = never)
    fail_after_commits: int | None = None
    _commits: int = 0

    def __post_init__(self):
        root = Path(self.out_root)
        self.nodes_tbl = IceLiteTable(root / "nodes_sel")
        self.ways_tbl = IceLiteTable(root / "ways_sel")
        self.out_tbl = IceLiteTable(root / "elements_out")
        self.ckpt_tbl = IceLiteTable(root / "checkpoint")

    # ------------- progress bookkeeping -------------

    def _committed(self, tbl: IceLiteTable, stage: str) -> set[int]:
        done = set()
        for snap in tbl.snapshots():
            props = snap.get("properties", {})
            if props.get("stage") == stage:
                done.add(int(props["bucket"]))
        return done

    def _commit(self, tbl: IceLiteTable, df: DataFrame, stage: str, bucket: int, with_cells: bool):
        if self.fail_after_commits is not None and self._commits >= self.fail_after_commits:
            raise RuntimeError(f"injected crash before committing {stage}/{bucket}")
        self._commits += 1
        df = df.persist()
        try:
            # metrics FIRST, data snapshot LAST: the data snapshot is the
            # resume marker, so a crash between the two re-runs the bucket
            # instead of permanently losing its lineage/processed-cell rows.
            # The metrics write itself is idempotent (skipped when a prior
            # attempt already committed it), so the re-run cannot
            # double-append.
            if bucket not in self._committed(self.ckpt_tbl, stage):
                metrics = _lineage_rows(df, stage, bucket)
                if with_cells:
                    metrics = metrics.unionByName(_cell_rows(df, stage, bucket))
                self.ckpt_tbl.append(metrics, properties={"stage": stage, "bucket": bucket})
            return tbl.append(df, properties={"stage": stage, "bucket": bucket})
        finally:
            df.unpersist()

    def _run_stage(self, tbl: IceLiteTable, stage: str, df: DataFrame, make, with_cells: bool) -> int:
        """Commit ``make(rows of the bucket)`` for every doc-hash bucket of
        ``df`` not yet committed to ``tbl``; returns how many were."""
        done = self._committed(tbl, stage)
        df = df.withColumn("_bucket", F.pmod(F.xxhash64("doc_id"), F.lit(self.n_buckets)))
        for b in range(self.n_buckets):
            if b not in done:
                sel = make(df.filter(F.col("_bucket") == b).drop("_bucket"))
                self._commit(tbl, sel, stage, b, with_cells)
        return len(done)

    # ------------- stages -------------

    def run(self) -> dict:
        """Run (or resume) the cut; returns a summary dict.  Every persist
        and checkpoint it makes is released when it returns or raises."""
        spark = self.spark
        narrow = ingest.parse_elements_narrow(self.docs).persist()
        caches = [narrow]
        try:
            nodes, ways, relations = ingest.split_narrow(narrow)
            # stage 1: node selection, bucketed; the selector (cover, edge
            # index, verdict frame) is built once per run
            selector = X.make_point_selector(spark, self.poly, self.cover)
            resumed_buckets = self._run_stage(
                self.nodes_tbl, "nodes", nodes,
                lambda b: selector(b).withColumn(
                    "cell_r7", cell_col(F.col("lon"), F.col("lat"), self.coarse_res)
                ),
                with_cells=True,
            )
            nodes_sel = self.nodes_tbl.read(spark)
            sel_ids = nodes_sel.select(F.col("id").alias("node_id")).distinct().persist()
            caches.append(sel_ids)

            # stage 2: way semi-join, bucketed
            resumed_buckets += self._run_stage(
                self.ways_tbl, "ways", ways,
                lambda b: X.select_ways(b, sel_ids, self.complete).select(
                    "id", "doc_id", "offset", "kept_nds"
                ),
                with_cells=False,
            )

            # stage 3: completion + relations + final output (single commit),
            # consuming the COMMITTED node/way snapshots (true resume)
            if not self._committed(self.out_tbl, "final"):
                self._final(nodes, relations, nodes_sel.drop("cell_r7"))
        finally:
            X.release_frames(caches)
        return {
            "resumed_buckets": resumed_buckets,
            "snapshots": len(self.out_tbl.snapshots()),
            "n_out": self.out_tbl.read(spark).count(),
        }

    def _final(self, nodes: DataFrame, relations: DataFrame, nodes_sel: DataFrame) -> None:
        spark = self.spark
        result = X.finish_extract(
            spark, self.docs, nodes, relations, nodes_sel, self.ways_tbl.read(spark), self.complete
        )
        out = result.elements().persist()
        try:
            if 0 not in self._committed(self.ckpt_tbl, "final"):
                self.ckpt_tbl.append(
                    _lineage_rows(out, "final", 0), properties={"stage": "final", "bucket": 0}
                )
            self.out_tbl.append(out, properties={"stage": "final", "bucket": 0})
        finally:
            out.unpersist()
            result.release()
