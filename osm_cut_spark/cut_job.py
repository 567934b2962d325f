"""spark-submit-able polygon-cut job — the engine's CLI entry point.

The PySpark counterpart of the reference's primary UX
(``cut.escript <osm file> <polygon-file> <output-file>`` ->
osm_cut.erl:20-30, always with complete_objects)::

    spark-submit --master local[32] osm_cut_spark/cut_job.py \
        --docs /data/planet_docs.parquet --poly region.poly \
        --out /data/region_cut --complete

    # reference-compatible positional form (implies --complete, xml out):
    spark-submit osm_cut_spark/cut_job.py input.osm region.poly out.osm

Inputs (``--docs``): an interleaved-docs parquet directory, an IceLite
table, or a raw ``.osm``/``.xml`` file (converted on the fly with the
distributed byte-range parser, sources/osm_xml_dist.py).

Outputs (``--format``): ``parquet`` element rows, a ``docs`` interleaved
document table, an ``xml`` .osm file (distributed render, driver-side
concat), or ``icelite`` snapshots.  ``--resume`` switches to the
checkpointed ResumableCut (bucket-committed IceLite snapshots + lineage /
processed-cell metrics; a killed job re-runs only uncommitted buckets).
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path


def build_arg_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(
        prog="cut_job",
        description="Polygon-cut extraction over an interleaved-docs table",
    )
    ap.add_argument("positional", nargs="*", help="<docs> <poly> <out> (escript-compatible)")
    ap.add_argument("--docs", help="input: docs parquet dir, IceLite table, or .osm/.xml file")
    ap.add_argument("--poly", help=".poly polygon file (include/exclude rings)")
    ap.add_argument("--out", help="output path (table dir, or .osm file for --format xml)")
    ap.add_argument("--complete", action="store_true", help="complete-objects mode")
    ap.add_argument("--resume", action="store_true",
                    help="checkpointed run: resume from committed IceLite snapshots")
    ap.add_argument("--format", choices=["parquet", "docs", "xml", "icelite"], default=None,
                    help="output shape (default: xml for *.osm out, else parquet)")
    ap.add_argument("--buckets", type=int, default=8, help="resume commit buckets")
    ap.add_argument("--xml-chunk-mb", type=int, default=32,
                    help="byte-range size for distributed .osm input parsing")
    ap.add_argument("--elements-per-doc", type=int, default=1000,
                    help="document packing for .osm input (reference batch size)")
    ap.add_argument("--cpus", type=int, default=None, help="local[] parallelism override")
    return ap


def _resolve_args(argv: list[str]) -> argparse.Namespace:
    args = build_arg_parser().parse_args(argv)
    if args.positional:
        if len(args.positional) != 3 or args.docs or args.poly or args.out:
            raise SystemExit("usage: cut_job <docs> <poly> <out>  (or --docs/--poly/--out)")
        args.docs, args.poly, args.out = args.positional
        # escript parity: positional invocations always cut complete objects
        args.complete = True
    if not (args.docs and args.poly and args.out):
        raise SystemExit("usage: cut_job <docs> <poly> <out>  (or --docs/--poly/--out)")
    if args.format is None:
        args.format = "xml" if str(args.out).endswith((".osm", ".xml")) else "parquet"
    if args.resume and args.format == "xml":
        raise SystemExit("--resume writes IceLite snapshots; render xml from the table after")
    return args


def load_docs(spark, docs_arg: str, chunk_mb: int = 32, elements_per_doc: int = 1000):
    """Input dispatch: .osm/.xml file -> distributed converter; IceLite
    table -> snapshot read; anything else -> parquet."""
    from osm_cut_spark.sources.icelite import IceLiteTable

    p = Path(docs_arg)
    if p.suffix in (".osm", ".xml"):
        from osm_cut_spark.sources.osm_xml_dist import osm_xml_to_docs

        return osm_xml_to_docs(
            spark, p, target_chunk_bytes=chunk_mb << 20, elements_per_doc=elements_per_doc
        )
    tbl = IceLiteTable(p)
    if tbl.exists():
        return tbl.read(spark)
    return spark.read.parquet(str(p))


def run(args: argparse.Namespace, spark=None) -> dict:
    from osm_cut_spark.session import get_session
    from osm_cut_spark.sources.poly import compile_poly

    if spark is None:
        spark = get_session(app_name="osm_cut_job", cpus=args.cpus)
    docs = load_docs(spark, args.docs, args.xml_chunk_mb, args.elements_per_doc)
    poly = compile_poly(args.poly)

    if args.resume:
        from osm_cut_spark.plans.checkpoint import ResumableCut

        summary = ResumableCut(
            spark, docs, poly, args.out, complete=args.complete, n_buckets=args.buckets
        ).run()
        return {"mode": "resume", "out": str(args.out), **summary}

    from osm_cut_spark.operators.extract import extract

    result = extract(spark, docs, poly, complete=args.complete)
    elements = result.elements().orderBy("phase", "doc_id", "offset")
    if args.format == "xml":
        import shutil
        import tempfile

        from osm_cut_spark.sources.xml_writer import write_xml

        # the sink writes a text directory (cluster shape); escript parity
        # wants ONE .osm file — publish the single coalesced part as it
        tmp = tempfile.mkdtemp(prefix="cutxml_")
        try:
            write_xml(elements, tmp + "/out")
            part = next(Path(tmp + "/out").glob("part-*"))
            shutil.move(str(part), args.out)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        n_out = None
    elif args.format == "docs":
        out_df = result.documents()
        out_df.write.mode("overwrite").parquet(args.out)
        n_out = spark.read.parquet(args.out).count()
    elif args.format == "icelite":
        from osm_cut_spark.sources.icelite import IceLiteTable

        IceLiteTable(args.out).append(elements, properties={"job": "cut"})
        n_out = None
    else:
        elements.write.mode("overwrite").parquet(args.out)
        n_out = spark.read.parquet(args.out).count()
    result.release()
    return {"mode": "extract", "format": args.format, "out": str(args.out),
            "complete": args.complete, "n_out": n_out}


def main(argv: list[str] | None = None) -> dict:
    args = _resolve_args(sys.argv[1:] if argv is None else argv)
    summary = run(args)
    print(json.dumps(summary))
    return summary


if __name__ == "__main__":
    main()
