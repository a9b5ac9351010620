"""spark-submit entry point (north_rule: launched with spark-submit
--py-files on a multi-executor cluster).

    zip -r kg.zip rdf_i2b2_converter_spark
    spark-submit --py-files kg.zip --master ... cli.py pipeline \\
        --pages /data/pages --gazetteer /data/gazetteer.parquet \\
        --alias-edges /data/aliases.parquet --out /data/triples

Subcommands mirror the reference's entry points: ``ontology`` ==
src/main_ontology.py, ``pipeline`` == src/main_data.py + postprod.bash,
``synth`` generates the deterministic demo corpus.
"""

from __future__ import annotations

import argparse
import json
import sys


def _spark(args):
    from .session import get_spark

    return get_spark("spark-kg-cli", master=args.master)


def _write_counted(df, path: str) -> int:
    """Write ``df`` as parquet; its row count, observed on the write."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    seen = Observation()
    df.observe(seen, F.count(F.lit(1)).alias("n")).write.mode("overwrite").parquet(path)
    return seen.get["n"]


def cmd_ontology(args) -> int:
    from .plans.ontology_pipeline import run_ontology_pipeline

    spark = _spark(args)
    ontology = spark.read.parquet(args.ontology)
    outs = run_ontology_pipeline(ontology)
    for name, df in outs.items():
        print(f"wrote {name}: {_write_counted(df, f'{args.out}/{name}')} rows")
    return 0


def cmd_pipeline(args) -> int:
    from .operators.closure import close_ontology
    from .plans.pipeline import run_pipeline

    spark = _spark(args)
    if args.pages_format == "jsonl":
        from .sources.tables import read_pages_jsonl

        pages = read_pages_jsonl(spark, args.pages)
    elif args.pages_format == "table":
        # catalog identifier — the north_star input shape: an Iceberg table
        # of CC-style pages (snapshot isolation + partition pruning for
        # free when the runtime is present; works on any catalog table)
        pages = spark.table(args.pages)
    else:
        pages = spark.read.parquet(args.pages)
    gazetteer = spark.read.parquet(args.gazetteer)
    alias_edges = spark.read.parquet(args.alias_edges) if args.alias_edges else None
    closed = close_ontology(spark.read.parquet(args.ontology)) if args.ontology else None
    _, metrics = run_pipeline(
        spark,
        pages,
        gazetteer,
        ontology_closed=closed,
        alias_edges=alias_edges,
        sink_dir=args.out,
        n_parts=args.parts,
        resume=not args.no_resume,
    )
    print(metrics.to_json())
    return 0 if metrics.n_integrity_violations == 0 else 2


def cmd_data(args) -> int:
    """src/main_data.py analog: instance triples (N-Triples or parquet) ->
    OBSERVATION_FACT-style rows, postprod reindex included."""
    from .operators.postprod import reindex
    from .plans.data_pipeline import extract_observations
    from .sources.rdf import read_rdf, read_turtle

    spark = _spark(args)
    # guess_format analog (reference src/utils.py:48-75): an explicit
    # --format always wins; 'auto' dispatches on the file extension
    # (compression suffixes stripped, matching read_rdf)
    from .sources.rdf import strip_compression_suffix, turtle_doc_chunk_bytes

    fmt = None if args.format == "auto" else args.format
    base, _ = strip_compression_suffix(args.triples)
    if fmt in ("turtle", "turtle-lines") or (fmt is None and base.endswith(".ttl")):
        # compact pnames: entry classes in configs use the p:local form;
        # the giant-file auto-chunk applies exactly as in read_rdf (shared
        # policy helper), and line mode respreads compressed input itself
        lines_mode = fmt == "turtle-lines"
        triples = read_turtle(
            spark, args.triples, expand_prefixes=False,
            multiline=not lines_mode,
            chunk_bytes=None if lines_mode else turtle_doc_chunk_bytes(spark, args.triples),
        )
    else:
        triples = read_rdf(spark, args.triples, fmt)
    obs = extract_observations(triples, args.entry_class)
    if not args.no_reindex:
        obs, patient_map = reindex(obs, "patient_num")
        obs, encounter_map = reindex(obs, "encounter_num")
        patient_map.write.mode("overwrite").parquet(f"{args.out}/patient_mapping")
        encounter_map.write.mode("overwrite").parquet(f"{args.out}/encounter_mapping")
    print(json.dumps({"n_observations": _write_counted(obs, f"{args.out}/observation_fact")}))
    return 0


def cmd_synth(args) -> int:
    from .sources import synthetic as syn

    spark = _spark(args)
    syn.gen_pages(spark, args.n_docs, num_partitions=args.partitions).write.mode(
        "overwrite"
    ).parquet(f"{args.out}/pages")
    syn.gen_gazetteer(spark).write.mode("overwrite").parquet(f"{args.out}/gazetteer")
    syn.gen_ontology(spark).write.mode("overwrite").parquet(f"{args.out}/ontology")
    syn.gen_alias_edges(spark).write.mode("overwrite").parquet(f"{args.out}/alias_edges")
    print(json.dumps({"n_docs": args.n_docs, "out": args.out}))
    return 0


def cmd_export(args) -> int:
    """Serialize a triples table back to RDF text — the rdflib
    graph.serialize step of the reference's entry points (main_ontology
    writes the migrated graph out). Reads any read_rdf-supported input,
    writes .nt or compact .ttl (with optional @prefix table)."""
    from .sources.jsonld import write_jsonld
    from .sources.rdf import read_rdf, write_ntriples, write_rdfxml, write_turtle

    bad = [kv for kv in (args.prefix or []) if "=" not in kv]
    if bad:
        print(f"error: --prefix expects p=iri, got {bad[0]!r}", file=sys.stderr)
        return 2
    spark = _spark(args)
    triples = read_rdf(spark, args.triples, None if args.format == "auto" else args.format)
    prefixes = dict(kv.split("=", 1) for kv in (args.prefix or []))
    if args.to == "turtle":
        write_turtle(triples, args.out, prefixes=prefixes or None)
    elif args.to == "rdfxml":
        write_rdfxml(triples, args.out)
    elif args.to == "jsonld":
        write_jsonld(triples, args.out)
    else:
        # write_ntriples normalizes TRIPLES_RAW names itself (r5)
        write_ntriples(triples, args.out)
    print(json.dumps({"out": args.out, "to": args.to}))
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="spark-kg")
    p.add_argument("--master", default=None, help="override master (default: env/local)")
    sub = p.add_subparsers(dest="cmd", required=True)

    po = sub.add_parser("ontology", help="ontology -> star-schema tables")
    po.add_argument("--ontology", required=True)
    po.add_argument("--out", required=True)
    po.set_defaults(fn=cmd_ontology)

    pp = sub.add_parser("pipeline", help="pages -> triples (resumable)")
    pp.add_argument("--pages", required=True)
    pp.add_argument(
        "--pages-format", choices=["parquet", "jsonl", "table"], default="parquet",
        help="'table' reads a catalog identifier (e.g. an Iceberg pages table)",
    )
    pp.add_argument("--gazetteer", required=True)
    pp.add_argument("--ontology", default=None)
    pp.add_argument("--alias-edges", default=None)
    pp.add_argument("--out", required=True)
    pp.add_argument("--parts", type=int, default=64)
    pp.add_argument("--no-resume", action="store_true")
    pp.set_defaults(fn=cmd_pipeline)

    pd_ = sub.add_parser("data", help="instance triples -> observation facts")
    pd_.add_argument("--triples", required=True, help=".nt/.ttl file/dir or parquet dir")
    pd_.add_argument(
        "--format",
        choices=["auto", "parquet", "ntriples", "turtle", "turtle-lines",
                 "rdfxml", "jsonld", "jsonld-lines"],
        default="auto",
        help="explicit format wins; auto dispatches on the file extension; "
        "turtle-lines = the line-splittable statement-per-line subset "
        "(the huge-single-file scale path)",
    )
    pd_.add_argument("--entry-class", action="append", required=True)
    pd_.add_argument("--out", required=True)
    pd_.add_argument("--no-reindex", action="store_true")
    pd_.set_defaults(fn=cmd_data)

    pe = sub.add_parser("export", help="triples -> N-Triples/Turtle text")
    pe.add_argument("--triples", required=True, help=".nt/.ttl file/dir or parquet dir")
    pe.add_argument("--format",
        choices=["auto", "parquet", "ntriples", "turtle", "turtle-lines",
                 "rdfxml", "jsonld", "jsonld-lines"], default="auto")
    pe.add_argument("--to", choices=["ntriples", "turtle", "rdfxml", "jsonld"], default="turtle")
    pe.add_argument("--prefix", action="append", metavar="p=iri",
                    help="prefix table entries for turtle compaction (repeatable)")
    pe.add_argument("--out", required=True)
    pe.set_defaults(fn=cmd_export)

    ps = sub.add_parser("synth", help="generate deterministic demo corpus")
    ps.add_argument("--n-docs", type=int, default=10000)
    ps.add_argument("--partitions", type=int, default=32)
    ps.add_argument("--out", required=True)
    ps.set_defaults(fn=cmd_synth)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
