"""Structured Streaming surface.

The reference is a single-pass streaming program with bounded-queue
backpressure but no event-time semantics (SURVEY.md §2.6).  Correctness
of the cut never needs streaming — batch passes replace the mode machine —
so the streaming layer provides the two things a 100 TB deployment
actually wants:

* ``stream_extract_full`` — the FULL incremental cut: each microbatch
  appends node/way/completion selections and maintains the relation
  selection as a bounded per-epoch DELTA (bucket-pruned member index +
  driver-worklist closure delta; full-refresh fallback), per-table
  per-epoch IceLite commits (exactly-once under replay) with periodic
  compaction — the streaming analog of the reference's one-pass pipeline
  for ALL element kinds (osm_process_complete.erl:86-190);
  ``read_incremental_cut`` exposes the consolidated phased keys in
  finish_extract's output-join shape;
* ``stream_extract`` — the simpler nodes-only variant (selection
  monitoring without way/relation maintenance);
* ``windowed_event_counts`` — watermarked event-time windowed aggregation
  over the events stream (late data handled by the watermark), the
  standard Structured Streaming pattern the reference has no answer to.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, functions as F

from osm_cut_spark.functions.cells import CellCover
from osm_cut_spark.functions.geometry import PreparedPolygon
from osm_cut_spark.operators import extract as X
from osm_cut_spark.operators import ingest
from osm_cut_spark.sources.docs import DOC_SCHEMA
from osm_cut_spark.sources.icelite import IceLiteTable


def stream_extract(
    spark: SparkSession,
    docs_dir: str | Path,
    poly: PreparedPolygon,
    out_root: str | Path,
    cover: CellCover | None = None,
    checkpoint_dir: str | Path | None = None,
):
    """Start a streaming query cutting node spans from arriving doc files.

    Returns the StreamingQuery; drive synchronously in tests with
    ``q.processAllAvailable()``.  Each microbatch commits one IceLite
    snapshot tagged with the epoch id, so a restarted query (same Spark
    checkpoint dir) never double-commits an epoch.
    """
    if cover is None:
        cover = X.auto_cover(poly)
    out_tbl = IceLiteTable(Path(out_root) / "nodes_stream")
    ckpt = str(checkpoint_dir or (Path(out_root) / "_stream_checkpoint"))
    # cover frames + boundary UDF built once for the stream, not per epoch
    selector = X.make_point_selector(spark, poly, cover)

    def process_batch(batch_df: DataFrame, epoch_id: int):
        done = {
            s["properties"].get("epoch") for s in out_tbl.snapshots()
        }
        if epoch_id in done:
            return  # exactly-once per epoch on restart
        narrow = ingest.parse_elements_narrow(batch_df)
        nodes = narrow.filter(F.col("kind") == "node").select(
            "id", "lon", "lat", "doc_id", "offset"
        ).filter(F.col("id").isNotNull())
        sel = selector(nodes)
        out_tbl.append(sel, properties={"epoch": epoch_id})

    stream = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(str(docs_dir))
    )
    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
    )


def _append_once(tbl: IceLiteTable, df: DataFrame, epoch_id: int) -> None:
    """Append tagged with the epoch id, skipping if this table already
    committed the epoch — per-table exactly-once under microbatch replay
    (a restarted query re-runs the last epoch with the same id and data)."""
    if any(s["properties"].get("epoch") == epoch_id for s in tbl.snapshots()):
        return
    tbl.append(df, properties={"epoch": epoch_id})


N_KEY_BUCKETS = 256  # member-index bucket column (parquet min/max pruned)


def _enc_node(id_col):
    return F.col(id_col) * F.lit(4) + F.lit(0)


def _enc_way(id_col):
    return F.col(id_col) * F.lit(4) + F.lit(1)


def _enc_rel(id_col):
    return F.col(id_col) * F.lit(4) + F.lit(2)


def stream_extract_full(
    spark: SparkSession,
    docs_dir: str | Path,
    poly: PreparedPolygon,
    out_root: str | Path,
    complete: bool = True,
    cover: CellCover | None = None,
    checkpoint_dir: str | Path | None = None,
    max_files_per_trigger: int = 4,
    broadcast_max_keys: int = 50_000_000,
    incremental: bool = True,
    compact_every: int = 16,
    driver_max_edges: int = X.DRIVER_MAX_EDGES,
    driver_max_delta_keys: int = 2_000_000,
):
    """Full incremental cut: nodes, completion nodes, ways AND relations
    maintained per microbatch — the streaming analog of the reference's
    one-pass pipeline (osm_process_complete.erl:86-190), not just the node
    stage.

    Per epoch (batch = newly arrived document files, assumed to follow
    document stream order like the batch engine: a way's nodes and a
    relation's members do not arrive after it):

    * batch nodes -> PIP selection, APPENDED to ``nodes_sel`` (and the raw
      batch nodes to ``nodes_all`` in complete mode — completion lookups
      need the full accumulated node table);
    * batch ways -> semi-join against the ACCUMULATED selected-node ids
      (including this batch's), APPENDED to ``ways_sel`` with kept_nds
      (complete: full list; non-complete: the selected intersection —
      both stream-stable, so per-epoch commits are final);
    * complete mode: completion nodes of this batch's ways fetched from
      the accumulated node table, anti-joined against everything already
      selected/committed, APPENDED to ``comp_sel``;
    * relations (``incremental=True``, complete mode — the default): the
      selection is maintained as a DELTA per epoch instead of a full
      refresh.  Relation selection is MONOTONE under key growth (seeds
      only gain members; a closure relation that later becomes a seed
      stays selected), so only kept_m / seed flags of AFFECTED relations
      need recomputation.  State tables:

      - ``member_idx`` (rid, doc_id, offset, k, bkt): node/way members of
        every relation, appended per epoch, bucket column sorted so
        parquet min/max stats prune the probe scan;
      - ``rels_by_id`` (bkt, id, doc_id, offset, members): relation rows
        fetchable by id bucket (pruned kept_m recompute);
      - ``rel_seeds`` (rid): accumulated seed set.

      Per epoch: NEW seeds = batch relations vs the full key set (batch-
      sized explode) + OLD relations hit by this epoch's DELTA keys via a
      bucket-pruned member_idx probe; the ancestor-closure delta runs as
      a driver worklist over the collected (tiny) non-seed edge graph —
      falling back to a FULL refresh for the epoch when the graph exceeds
      ``driver_max_edges``; kept_m is recomputed ONLY for affected
      relations (newly selected + previously selected relations hit by
      delta keys or parenting a newly selected child) and merged into
      ``rels_sel`` (anti-join + union, overwrite-committed).  Per-epoch
      relation work is O(batch + affected subgraph + pruned index probe),
      not O(all relations); the snapshot records {affected, new_seeds,
      newly_selected} so boundedness is observable (tested over 50+
      epochs).  ``incremental=False`` (and non-complete mode, whose
      stream-order member semantics are position-dependent) keeps the
      previous whole-table refresh.

    Every ``compact_every`` epochs the append-heavy state tables are
    compacted (N epoch dirs -> 1, IceLiteTable.compact), bounding scan
    file counts; snapshot logs are kept (the epoch tags are the
    exactly-once replay markers).

    Every table commit is tagged with the epoch id and skipped on replay,
    so a restarted query (same Spark checkpoint dir) is exactly-once per
    table per epoch; ``rels_sel`` is refreshed last and doubles as the
    epoch completion marker.  Read the consolidated phased output with
    ``read_incremental_cut``.
    """
    if cover is None:
        cover = X.auto_cover(poly)
    root = Path(out_root)
    nodes_sel_tbl = IceLiteTable(root / "nodes_sel")
    nodes_all_tbl = IceLiteTable(root / "nodes_all")
    ways_sel_tbl = IceLiteTable(root / "ways_sel")
    comp_sel_tbl = IceLiteTable(root / "comp_sel")
    rels_all_tbl = IceLiteTable(root / "rels_all")
    rels_sel_tbl = IceLiteTable(root / "rels_sel")
    # incremental relation-maintenance state
    member_idx_tbl = IceLiteTable(root / "member_idx")
    rels_by_id_tbl = IceLiteTable(root / "rels_by_id")
    rel_seeds_tbl = IceLiteTable(root / "rel_seeds")
    ckpt = str(checkpoint_dir or (root / "_stream_checkpoint"))
    use_incremental = incremental and complete
    # cover frames + boundary UDF built once for the stream, not per epoch
    selector = X.make_point_selector(spark, poly, cover)

    def process_batch(batch_df: DataFrame, epoch_id: int):
        if any(
            s["properties"].get("epoch") == epoch_id for s in rels_sel_tbl.snapshots()
        ):
            return  # epoch fully committed before a restart
        narrow = ingest.parse_elements_narrow(batch_df).persist()
        try:
            nodes_b = narrow.filter(F.col("kind") == "node").select(
                "id", "lon", "lat", "doc_id", "offset"
            )
            ways_b = narrow.filter(F.col("kind") == "way").select(
                "id", "nds", "doc_id", "offset"
            )
            rels_b = narrow.filter(F.col("kind") == "relation").select(
                "id", "members", "doc_id", "offset"
            )

            sel_b = selector(nodes_b.filter(F.col("id").isNotNull()))
            _append_once(nodes_sel_tbl, sel_b.select("doc_id", "offset", "id"), epoch_id)
            if complete:
                _append_once(nodes_all_tbl, nodes_b, epoch_id)
            _append_once(rels_all_tbl, rels_b, epoch_id)

            sel_node_ids = (
                nodes_sel_tbl.read(spark).select(F.col("id").alias("node_id")).distinct()
            )
            ways_sel_b = X.select_ways(ways_b, sel_node_ids, complete)
            _append_once(
                ways_sel_tbl,
                ways_sel_b.select("doc_id", "offset", "id", "kept_nds"),
                epoch_id,
            )

            comp_ids = None
            if complete:
                comp_b = X.completion_nodes(
                    ways_sel_b, nodes_all_tbl.read(spark), sel_node_ids
                )
                # replay hazard: on a mid-epoch restart comp_sel_tbl may
                # already hold THIS epoch's append — anti-joining against
                # the current table would empty comp_b and the incremental
                # path's delta keys would silently lose this epoch's
                # completion nodes FOREVER (the delta is monotone and never
                # revisits old keys).  Anti-join against the pre-epoch
                # snapshot instead (same replay-stable view rel_seeds uses).
                prev_comp = _read_before_epoch(comp_sel_tbl, spark, epoch_id)
                if prev_comp is not None:
                    prev = prev_comp.select(F.col("id").alias("node_id"))
                    comp_b = comp_b.join(
                        prev, comp_b.id == prev.node_id, "left_anti"
                    )
                _append_once(comp_sel_tbl, comp_b.select("doc_id", "offset", "id"), epoch_id)
                comp_ids = (
                    comp_sel_tbl.read(spark).select(F.col("id").alias("node_id")).distinct()
                )

            way_ids = (
                ways_sel_tbl.read(spark).select(F.col("id").alias("way_id")).distinct()
            )
            keys = X.base_key_df(sel_node_ids, comp_ids, way_ids).persist()
            n_keys = keys.count()
            bcast = n_keys <= X.broadcast_key_cap(spark, broadcast_max_keys)

            if use_incremental:
                _maintain_relations_incremental(
                    spark, epoch_id, rels_b, sel_b, comp_b if complete else None,
                    ways_sel_b, keys, bcast, driver_max_edges,
                    member_idx_tbl, rels_by_id_tbl,
                    rel_seeds_tbl, rels_sel_tbl, rels_all_tbl,
                    driver_max_delta_keys=driver_max_delta_keys,
                )
            else:
                rels_all = rels_all_tbl.read(spark)
                rel_out = X.relation_outputs(
                    rels_all, keys, complete, broadcast_keys=bcast
                )
                refreshed = rel_out.join(
                    rels_all.select("doc_id", "offset", "id"), ["doc_id", "offset"]
                ).select("doc_id", "offset", "id", "kept_m")
                rels_sel_tbl.overwrite(refreshed, properties={"epoch": epoch_id})
            keys.unpersist()

            if compact_every and (epoch_id + 1) % compact_every == 0:
                for tbl in (
                    nodes_sel_tbl, nodes_all_tbl, ways_sel_tbl, comp_sel_tbl,
                    rels_all_tbl, member_idx_tbl,
                    rels_by_id_tbl, rel_seeds_tbl,
                ):
                    if tbl.exists() and len(tbl.current_snapshot()["data_dirs"]) > 1:
                        tbl.compact(spark, properties={"epoch": f"compact-{epoch_id}"})
                # bound ON-DISK state too, not just live scan file counts:
                # expire snapshots older than the last few.  keep_last=4 is
                # the replay-safety floor with margin — only the LAST epoch
                # can replay after a restart, and its exactly-once guards
                # (_append_once tags + the rels_sel epoch marker) and
                # _read_before_epoch's parent read all live within the last
                # 3 snapshots of any table (epoch commit + its parent +
                # this compact commit).  rels_sel (overwrite-per-epoch, so
                # never compacted) is expired on the same cadence or its
                # superseded overwrite dirs survive forever.
                for tbl in (
                    nodes_sel_tbl, nodes_all_tbl, ways_sel_tbl, comp_sel_tbl,
                    rels_all_tbl, member_idx_tbl,
                    rels_by_id_tbl, rel_seeds_tbl, rels_sel_tbl,
                ):
                    if tbl.exists():
                        tbl.expire_snapshots(keep_last=4)
        finally:
            narrow.unpersist()

    stream = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(str(docs_dir))
    )
    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
    )


def _read_before_epoch(tbl: IceLiteTable, spark: SparkSession, epoch_id: int):
    """The table as of BEFORE ``epoch_id``'s append — replay-stable view.

    On a restart mid-epoch, some state tables already hold this epoch's
    append; anti-joins against "previous" state must not see it (or the
    replayed epoch would classify its own additions as old and drop them
    from the delta).  Returns None when the table has no pre-epoch data.
    """
    if not tbl.exists():
        return None
    snaps = tbl.snapshots()
    this_epoch = [s for s in snaps if s["properties"].get("epoch") == epoch_id]
    if not this_epoch:
        return tbl.read(spark)
    parent = this_epoch[0]["parent"]
    if parent is None:
        return None
    return tbl.read(spark, snapshot_id=parent)


def _relation_full_refresh(
    spark: SparkSession,
    epoch_id: int,
    keys: DataFrame,
    bcast: bool,
    rels_all_tbl: IceLiteTable,
    rel_seeds_tbl: IceLiteTable,
    rels_sel_tbl: IceLiteTable,
    reason: str,
) -> None:
    """Whole-table relation-selection recompute for one epoch (the escape
    hatch when a driver-side delta structure exceeds its cap).

    Commit ORDER is load-bearing: ``rel_seeds`` commits FIRST, ``rels_sel``
    (the epoch-done marker that makes process_batch skip replays) LAST.  A
    crash between the two then simply replays the epoch; the inverted order
    would leave the epoch marked done with rel_seeds missing its seeds, and
    a later epoch's affected-only kept_m recompute could classify a true
    seed relation as closure-only and silently drop its node/way members.
    """
    rels_all = rels_all_tbl.read(spark)
    seeds_full = X._member_hits(rels_all, keys, bcast).select("rid").distinct()
    rel_seeds_tbl.overwrite(seeds_full, properties={"epoch": epoch_id})
    rel_out = X.relation_outputs(rels_all, keys, True, broadcast_keys=bcast)
    refreshed = rel_out.join(
        rels_all.select("doc_id", "offset", "id"), ["doc_id", "offset"]
    ).select("doc_id", "offset", "id", "kept_m")
    rels_sel_tbl.overwrite(
        refreshed,
        properties={"epoch": epoch_id, "fallback_full_refresh": reason},
    )


def _maintain_relations_incremental(
    spark: SparkSession,
    epoch_id: int,
    rels_b: DataFrame,
    sel_b: DataFrame,
    comp_b: DataFrame | None,
    ways_sel_b: DataFrame,
    keys: DataFrame,
    bcast: bool,
    driver_max_edges: int,
    member_idx_tbl: IceLiteTable,
    rels_by_id_tbl: IceLiteTable,
    rel_seeds_tbl: IceLiteTable,
    rels_sel_tbl: IceLiteTable,
    rels_all_tbl: IceLiteTable,
    driver_max_delta_keys: int = 2_000_000,
) -> None:
    """Delta relation maintenance for one epoch (complete mode).

    See stream_extract_full's docstring for the design; this function
    appends the epoch's index/edge/row/seed state, computes the newly
    selected set from batch seeds + delta-key hits + the closure delta,
    recomputes kept_m for the affected relations only, and overwrite-
    commits the merged ``rels_sel`` (the epoch completion marker).
    """
    _maybe_b = F.broadcast if bcast else (lambda df: df)

    # 1. append this epoch's state (idempotent per epoch).  member_idx
    # holds ALL member kinds as packed keys: node/way rows serve the
    # delta-key probe (relation-key rows simply never match), and the
    # closure edge list derives from the k%4==2 rows (child = k>>2,
    # parent = rid) — one table instead of two.
    mem_idx_b = (
        rels_b.select("id", "doc_id", "offset", F.explode("members").alias("m"))
        .select(
            F.col("id").alias("rid"),
            "doc_id",
            "offset",
            X._enc_key(F.col("m.type"), F.col("m.ref")).alias("k"),
        )
        .filter(F.col("k").isNotNull())
        .withColumn("bkt", F.pmod("k", F.lit(N_KEY_BUCKETS)).cast("int"))
        .repartition(1)
        .sortWithinPartitions("bkt")  # file/row-group min-max stats prune probes
    )
    _append_once(member_idx_tbl, mem_idx_b, epoch_id)
    _append_once(
        rels_by_id_tbl,
        rels_b.withColumn("bkt", F.pmod("id", F.lit(N_KEY_BUCKETS)).cast("int"))
        .repartition(1)
        .sortWithinPartitions("bkt"),
        epoch_id,
    )

    import numpy as np
    import pandas as pd

    def _rid_df(rids: set[int]) -> DataFrame:
        return spark.createDataFrame(
            pd.DataFrame({"rid": np.array(sorted(rids), dtype=np.int64)}),
            "rid BIGINT",
        )

    # 2. this epoch's NEW selected node/way keys (packed) — batch-bounded,
    # collected ONCE (the bucket list and the probe frame both derive from
    # the same driver-side set; every per-epoch delta below is bounded by
    # design, so one collect each replaces separate count/bkt/anti jobs)
    parts = [sel_b.select(_enc_node("id").alias("k"))]
    if comp_b is not None:
        parts.append(comp_b.select(_enc_node("id").alias("k")))
    parts.append(ways_sel_b.select(_enc_way("id").alias("k")))
    delta_keys = parts[0]
    for p in parts[1:]:
        delta_keys = delta_keys.unionByName(p)
    # the delta-key pull is driver-side state like the edge graph — cap it
    # the same way (dense early epochs of a big cut can select millions of
    # keys in one batch) and fall back to the whole-table refresh
    delta_rows = delta_keys.distinct().take(driver_max_delta_keys + 1)
    if len(delta_rows) > driver_max_delta_keys:
        _relation_full_refresh(
            spark, epoch_id, keys, bcast,
            rels_all_tbl, rel_seeds_tbl, rels_sel_tbl, "delta_keys_cap",
        )
        return
    delta_key_set = {r.k for r in delta_rows}
    delta_bkts = sorted({k % N_KEY_BUCKETS for k in delta_key_set})
    delta_df = spark.createDataFrame(
        pd.DataFrame({"k": np.array(sorted(delta_key_set), dtype=np.int64)})
    )

    # 3. replay-stable previous state
    prev_seeds = _read_before_epoch(rel_seeds_tbl, spark, epoch_id)
    prev_sel = rels_sel_tbl.read(spark) if rels_sel_tbl.exists() else None
    prev_sel_ids = (
        prev_sel.select(F.col("id").alias("rid")).distinct() if prev_sel is not None else None
    )

    # 4. seed candidates: batch relations vs FULL keys + old relations hit
    # by DELTA keys via the bucket-pruned index probe — ONE collect
    seeds_batch = X._member_hits(rels_b, keys, bcast).select("rid")
    idx = member_idx_tbl.read(spark).filter(F.col("bkt").isin(delta_bkts))
    hits_old = idx.join(F.broadcast(delta_df), "k", "left_semi").select("rid")
    cand_rows = seeds_batch.unionByName(hits_old).distinct().take(
        driver_max_delta_keys + 1
    )
    if len(cand_rows) > driver_max_delta_keys:
        _relation_full_refresh(
            spark, epoch_id, keys, bcast,
            rels_all_tbl, rel_seeds_tbl, rels_sel_tbl, "candidate_cap",
        )
        return
    cand_set = {r.rid for r in cand_rows}

    # 5. edge graph (all relation->relation links) — ONE take() probes the
    # size cap and fetches the rows
    edges_df = member_idx_tbl.read(spark).filter(F.pmod("k", F.lit(4)) == 2).select(
        F.shiftrightunsigned("k", 2).alias("child"), F.col("rid").alias("parent")
    )
    edge_rows = edges_df.take(driver_max_edges + 1)
    if len(edge_rows) > driver_max_edges:
        # edge graph outgrew the driver worklist: full refresh this epoch
        _relation_full_refresh(
            spark, epoch_id, keys, bcast,
            rels_all_tbl, rel_seeds_tbl, rels_sel_tbl, "edge_graph_cap",
        )
        return

    edges = [(r.child, r.parent) for r in edge_rows]
    graph_nodes = {c for c, _ in edges} | {p for _, p in edges}

    # 6. ONE tagged probe: previous seed/selected membership over every rid
    # the epoch can touch (candidates + the edge graph)
    probe_rids = cand_set | graph_nodes
    prev_seed_set: set[int] = set()
    prev_sel_set: set[int] = set()
    if probe_rids and (prev_seeds is not None or prev_sel_ids is not None):
        probe_df = F.broadcast(_rid_df(probe_rids))
        tagged = []
        if prev_seeds is not None:
            tagged.append(prev_seeds.select("rid").withColumn("src", F.lit("seed")))
        if prev_sel_ids is not None:
            tagged.append(prev_sel_ids.withColumn("src", F.lit("sel")))
        un = tagged[0]
        for t in tagged[1:]:
            un = un.unionByName(t)
        for r in un.join(probe_df, "rid", "left_semi").distinct().collect():
            (prev_seed_set if r.src == "seed" else prev_sel_set).add(r.rid)

    # 7. driver-side delta: seeds, closure walk, affected set — pure Python
    new_seed_set = cand_set - prev_seed_set
    seed_now_set = prev_seed_set | new_seed_set  # within the probed universe
    links: dict[int, list[int]] = {}
    for c, p in edges:
        if p not in seed_now_set:  # closure walks through NON-seed parents
            links.setdefault(c, []).append(p)
    additions = X.walk(
        (prev_sel_set | new_seed_set) & (graph_nodes | new_seed_set),
        lambda h: links.get(h, ()),
    )
    newly_set = (new_seed_set | additions) - prev_sel_set
    parents_aff = {
        p for c, p in edges if c in newly_set and p in prev_sel_set
    }
    affected_set = newly_set | (cand_set & prev_sel_set) | parents_aff
    n_new_seeds, n_newly, n_affected = (
        len(new_seed_set), len(newly_set), len(affected_set)
    )

    _append_once(rel_seeds_tbl, _rid_df(new_seed_set), epoch_id)

    # 8. recompute kept_m for affected relations only (bucket-pruned fetch;
    # seed flags are known driver-side for the whole affected set)
    aff_bkts = sorted({rid % N_KEY_BUCKETS for rid in affected_set})
    aff_pdf = spark.createDataFrame(
        pd.DataFrame(
            {
                "rid": np.array(sorted(affected_set), dtype=np.int64),
                "seed": [rid in seed_now_set for rid in sorted(affected_set)],
            }
        )
    ) if affected_set else None
    if aff_pdf is None:
        merged = (
            prev_sel.select("doc_id", "offset", "id", "kept_m")
            if prev_sel is not None
            else spark.createDataFrame(
                [], "doc_id STRING, offset INT, id BIGINT, kept_m ARRAY<STRUCT<type: STRING, ref: BIGINT>>"
            )
        )
        rels_sel_tbl.overwrite(
            merged,
            properties={
                "epoch": epoch_id,
                "affected": 0,
                "new_seeds": 0,
                "newly_selected": 0,
            },
        )
        return
    rel_rows = (
        rels_by_id_tbl.read(spark)
        .filter(F.col("bkt").isin(aff_bkts))
        .join(F.broadcast(aff_pdf), F.col("id") == aff_pdf.rid)
        .select("id", "doc_id", "offset", "members", "seed")
    )
    all_sel_ids = prev_sel_ids.unionByName(_rid_df(newly_set)).distinct() if (
        prev_sel_ids is not None
    ) else _rid_df(newly_set)
    all_keys_enc = keys.select(
        X._enc_key(F.col("kind"), F.col("key_id")).alias("k")
    ).unionByName(all_sel_ids.select(_enc_rel("rid").alias("k")))
    mem = (
        rel_rows.select("id", "doc_id", "offset", "seed", F.explode("members").alias("m"))
        .withColumn("k", X._enc_key(F.col("m.type"), F.col("m.ref")))
        .join(_maybe_b(all_keys_enc), "k", "left_semi")
        .filter(F.col("seed") | (F.col("m.type") == "relation"))
    )
    kept = mem.groupBy("id", "doc_id", "offset").agg(
        F.collect_set(
            F.struct(F.col("m.type").alias("type"), F.col("m.ref").alias("ref"))
        ).alias("kept_m")
    )
    recomputed = (
        rel_rows.select("id", "doc_id", "offset")
        .join(kept, ["id", "doc_id", "offset"], "left")
        .withColumn("kept_m", F.coalesce(F.col("kept_m"), F.expr("array()")))
        .select("doc_id", "offset", "id", "kept_m")
    )

    # 9. merge into rels_sel: untouched prev rows + recomputed affected rows
    if prev_sel is not None:
        untouched = prev_sel.join(
            aff_pdf, prev_sel.id == aff_pdf.rid, "left_anti"
        ).select("doc_id", "offset", "id", "kept_m")
        merged = untouched.unionByName(recomputed)
    else:
        merged = recomputed
    rels_sel_tbl.overwrite(
        merged,
        properties={
            "epoch": epoch_id,
            "affected": n_affected,
            "new_seeds": n_new_seeds,
            "newly_selected": n_newly,
        },
    )


def read_incremental_cut(spark: SparkSession, out_root: str | Path) -> DataFrame:
    """Consolidated phased selection keys maintained by stream_extract_full:
    (phase, kind, id, doc_id, offset, kept_nds, kept_m) — the same shape
    finish_extract feeds its output join, so the wide span materialization
    composes unchanged on top of the streamed selections."""
    root = Path(out_root)
    null_nds = F.lit(None).cast("array<bigint>").alias("kept_nds")
    null_m = F.lit(None).cast("array<struct<type:string,ref:bigint>>").alias("kept_m")

    def keyed(tbl_name: str, phase: int, kind: str, extra: dict) -> DataFrame | None:
        tbl = IceLiteTable(root / tbl_name)
        if not tbl.exists():
            return None
        df = tbl.read(spark)
        return df.select(
            F.lit(phase).alias("phase"),
            F.lit(kind).alias("kind"),
            "id",
            "doc_id",
            "offset",
            extra.get("kept_nds", null_nds),
            extra.get("kept_m", null_m),
        )

    parts = [
        keyed("nodes_sel", X.PHASE_NODE, "node", {}),
        keyed("comp_sel", X.PHASE_COMPLETION, "node", {}),
        keyed("ways_sel", X.PHASE_WAY, "way", {"kept_nds": F.col("kept_nds")}),
        keyed(
            "rels_sel",
            X.PHASE_RELATION,
            "relation",
            {"kept_m": F.col("kept_m").cast("array<struct<type:string,ref:bigint>>")},
        ),
    ]
    parts = [p for p in parts if p is not None]
    if not parts:
        raise FileNotFoundError(f"no incremental-cut tables under {root}")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def windowed_event_counts(
    events: DataFrame,
    window: str = "5 minutes",
    slide: str | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked event-time windowed counts (works on batch or stream)."""
    w = F.window("ts", window, slide) if slide else F.window("ts", window)
    return (
        events.withWatermark("ts", watermark)
        .groupBy(w.alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total_value"))
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "event_type",
            "n",
            "total_value",
        )
    )
