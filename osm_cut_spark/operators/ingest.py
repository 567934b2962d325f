"""Ingest stage: interleaved-document spans -> typed element DataFrames.

Spark-first replacement for the reference's SAX scan + typed projection
(/root/reference/src/osm_parser.erl:27-152, 232-325): instead of a
streaming parser feeding a mode machine, we reconstruct elements from span
runs entirely with JVM-side higher-order array functions (filter /
transform with index) and ``from_json`` typed projection — zero shuffle,
zero Python, full whole-stage codegen up to the array expressions.

Grouped reconstruction (child nd/member/tag spans regrouped under their
parent element span — the analog of the reference's stack-based XML
assembly, osm_parser.erl:69-97) uses the span-order invariant: a child
span belongs to the nearest preceding parent span.  We bind the
offset-sorted parent array once per document row and slice children by the
[parent.offset, next_parent.offset) window.

Fidelity: every element row carries its raw ``attrs_json`` and raw
``child_spans`` so the output stage re-emits spans byte-identically
(never re-serializing floats).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

NODE_ATTRS = "id BIGINT, lon DOUBLE, lat DOUBLE, version BIGINT, timestamp STRING, uid BIGINT, user STRING, changeset BIGINT"
WAY_ATTRS = "id BIGINT, version BIGINT, timestamp STRING, uid BIGINT, user STRING, changeset BIGINT"
REL_ATTRS = WAY_ATTRS

_PARENTS = "filter(spans, s -> s.kind IN ('node','way','relation'))"

# children of parent i: spans strictly between this parent and the next one
_ELEMENTS = """
transform(parents, (p, i) -> struct(
    p.kind AS kind,
    p.text AS attrs_json,
    p.offset AS offset,
    filter(spans, c -> c.offset > p.offset
                   AND (i = size(parents) - 1 OR c.offset < parents[i + 1].offset)
                   AND c.kind IN ('nd','member','tag')) AS child_spans))
"""

_META_COLS = ["version", "timestamp", "uid", "user", "changeset"]

# narrow-parse variant of _ELEMENTS: the child-span window scan (a filter
# over the whole span array per parent) runs ONLY for way/relation parents
# — CASE branches evaluate lazily, so node parents (the large majority of
# elements) skip the O(spans) pass entirely, and only the child TEXT is
# kept (the narrow frame never re-emits spans).
_NARROW_ELEMENTS = """
transform(parents, (p, i) -> struct(
    p.kind AS kind,
    p.text AS attrs_json,
    p.offset AS offset,
    CASE WHEN p.kind = 'way' THEN
      transform(
        filter(spans, c -> c.offset > p.offset
                       AND (i = size(parents) - 1 OR c.offset < parents[i + 1].offset)
                       AND c.kind = 'nd'),
        c -> c.text)
    END AS nd_texts,
    CASE WHEN p.kind = 'relation' THEN
      transform(
        filter(spans, c -> c.offset > p.offset
                       AND (i = size(parents) - 1 OR c.offset < parents[i + 1].offset)
                       AND c.kind = 'member'),
        c -> c.text)
    END AS member_texts))
"""


def _sorted_spans(docs: DataFrame, assume_sorted: bool) -> DataFrame:
    if assume_sorted:
        return docs
    return docs.withColumn(
        "spans", F.expr("array_sort(spans, (l, r) -> int(l.offset) - int(r.offset))")
    )


def explode_elements(docs: DataFrame, assume_sorted: bool = True) -> DataFrame:
    """docs(doc_id, spans) -> one row per element with raw attrs + children.

    Columns: doc_id, kind, attrs_json, offset, child_spans.
    """
    return (
        _sorted_spans(docs, assume_sorted)
        .withColumn("parents", F.expr(_PARENTS))
        .select("doc_id", F.explode(F.expr(_ELEMENTS)).alias("e"))
        .select(
            "doc_id",
            F.col("e.kind").alias("kind"),
            F.col("e.attrs_json").alias("attrs_json"),
            F.col("e.offset").alias("offset"),
            F.col("e.child_spans").alias("child_spans"),
        )
    )


def _with_meta(df: DataFrame, attrs_schema: str) -> DataFrame:
    df = df.withColumn("a", F.from_json("attrs_json", attrs_schema))
    cols = [F.col("a.id").alias("id")]
    if "lon" in attrs_schema:
        cols += [F.col("a.lon").alias("lon"), F.col("a.lat").alias("lat")]
    cols += [F.col(f"a.{c}").alias(c) for c in _META_COLS]
    return df.select(
        *cols,
        F.expr(
            "transform(filter(child_spans, c -> c.kind = 'tag'),"
            " c -> from_json(c.text, 'k STRING, v STRING'))"
        ).alias("tags"),
        "doc_id",
        "offset",
        "attrs_json",
        "child_spans",
    )


def parse_nodes(elements: DataFrame) -> DataFrame:
    """nodes(id, lon, lat, version, timestamp, uid, user, changeset, tags,
    doc_id, offset, attrs_json, child_spans)"""
    return _with_meta(elements.filter(F.col("kind") == "node"), NODE_ATTRS)


def parse_ways(elements: DataFrame) -> DataFrame:
    """ways(id, nds array<long> [ordered], <meta>, tags, doc_id, offset, ...)"""
    df = _with_meta(elements.filter(F.col("kind") == "way"), WAY_ATTRS)
    return df.withColumn(
        "nds",
        F.expr(
            "transform(filter(child_spans, c -> c.kind = 'nd'),"
            " c -> from_json(c.text, 'ref BIGINT').ref)"
        ),
    )


def parse_relations(elements: DataFrame) -> DataFrame:
    """relations(id, members array<struct<type,ref,role>> [ordered], <meta>, ...)"""
    df = _with_meta(elements.filter(F.col("kind") == "relation"), REL_ATTRS)
    return df.withColumn(
        "members",
        F.expr(
            "transform(filter(child_spans, c -> c.kind = 'member'),"
            " c -> from_json(c.text, 'type STRING, ref BIGINT, role STRING'))"
        ),
    )


def parse_documents(
    docs: DataFrame, assume_sorted: bool = True
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """One-call ingest: docs -> (nodes, ways, relations)."""
    elements = explode_elements(docs, assume_sorted)
    return parse_nodes(elements), parse_ways(elements), parse_relations(elements)


def parse_elements_narrow(docs: DataFrame, assume_sorted: bool = True) -> DataFrame:
    """ONE narrow frame for the whole selection phase (late
    materialization): (kind, id, lon, lat, nds, members, doc_id, offset).

    No raw span text is retained — this frame is ~8x smaller than the full
    exploded elements, so caching it and scanning it from several
    consumers stays memory-bandwidth friendly.  The output phase joins the
    selected (doc_id, offset) keys back to a single fresh span scan.
    """
    # SCAN PRUNING: rebuild the spans array as arrays_zip of direct nested
    # field accesses BEFORE any higher-order function touches it.  Spark's
    # nested-schema pruning understands GetArrayStructFields + arrays_zip
    # but NOT lambda bodies — feeding the raw spans column into the HOF
    # pipeline below forces the parquet reader to materialize every span
    # field, including media_ref, which the selection phase never uses
    # (ReadSchema drops it with this projection; pinned by
    # tests/test_ingest.py::test_narrow_parse_prunes_media_ref).  The
    # output phase re-reads full spans in its own scan (late
    # materialization), so fidelity is untouched.
    slim_docs = docs.select(
        "doc_id",
        F.arrays_zip(
            F.col("spans.kind").alias("kind"),
            F.col("spans.text").alias("text"),
            F.col("spans.offset").alias("offset"),
        ).alias("spans"),
    )
    el = (
        _sorted_spans(slim_docs, assume_sorted)
        .withColumn("parents", F.expr(_PARENTS))
        .select("doc_id", F.explode(F.expr(_NARROW_ELEMENTS)).alias("e"))
    )
    # one from_json for every kind: ways/relations simply get null lon/lat
    a = F.from_json(F.col("e.attrs_json"), "id BIGINT, lon DOUBLE, lat DOUBLE")
    return el.select(
        F.col("e.kind").alias("kind"),
        a.getField("id").alias("id"),
        a.getField("lon").alias("lon"),
        a.getField("lat").alias("lat"),
        F.expr("transform(e.nd_texts, t -> from_json(t, 'ref BIGINT').ref)").alias(
            "nds"
        ),
        F.expr(
            "transform(e.member_texts,"
            " t -> from_json(t, 'type STRING, ref BIGINT, role STRING'))"
        ).alias("members"),
        "doc_id",
        F.col("e.offset").alias("offset"),
    )


def split_narrow(narrow: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """parse_elements_narrow's frame -> the three inputs of the cut stages:
    nodes(id, lon, lat, doc_id, offset) with null ids dropped,
    ways(id, nds, doc_id, offset) and relations(id, members, doc_id, offset)."""

    def of(kind: str, payload: list[str]) -> DataFrame:
        return narrow.filter(F.col("kind") == kind).select("id", *payload, "doc_id", "offset")

    return (
        of("node", ["lon", "lat"]).filter(F.col("id").isNotNull()),
        of("way", ["nds"]),
        of("relation", ["members"]),
    )


def parse_passthrough_spans(docs: DataFrame, assume_sorted: bool = True) -> DataFrame:
    """Document-level text/media spans (not owned by any element).

    These are carried to output documents unchanged: the cut semantics act
    on elements; prose/media interleave is part of the document fabric.
    Columns: doc_id, kind, text, media_ref, offset.
    """
    return (
        _sorted_spans(docs, assume_sorted)
        .select(
            "doc_id",
            F.explode(F.expr("filter(spans, s -> s.kind IN ('text','media'))")).alias("s"),
        )
        .select("doc_id", "s.kind", "s.text", "s.media_ref", "s.offset")
    )
