"""Command-line tools — the analogue of the reference's bin/ scripts.

  dump-rdf          materialize the virtual graph to N-Triples / parquet
                    (reference: d2rq dump-rdf tool)
  generate-mapping  auto-write a mapping from table schemas
                    (reference: generate-mapping / MappingGenerator)
  validate          parse + validate a mapping, print the compiled plan
  sparql            run a SPARQL query over the virtual graph
                    (reference: d2r-query tool)
  owl               write the mapping's vocabulary as an OWL 2
                    functional-syntax ontology document
                    (reference: ont-d2rq D2RQGraphDocumentSource)

Usage:
  python -m ont_d2rq_spark.cli dump-rdf -m mapping.ttl -d /data/sf0.1 -o /out/nt
  python -m ont_d2rq_spark.cli generate-mapping -d /data/sf0.1 -t customer,nation -o map.ttl
  python -m ont_d2rq_spark.cli validate -m mapping.ttl -d /data/sf0.1
  python -m ont_d2rq_spark.cli sparql -m mapping.ttl -d /data/sf0.1 \\
      -q 'SELECT ?s ?o WHERE { ?s <http://example.org/name> ?o } LIMIT 5'
"""

from __future__ import annotations

import argparse
import sys


def _read_mapping(args):
    from ont_d2rq_spark.mapping.ttl import load_mapping_ttl

    with open(args.mapping) as f:  # -m is a d2rq Turtle file, whatever its extension
        return load_mapping_ttl(f.read(), base_dir=args.base_dir)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(prog="ont_d2rq_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    p_dump = sub.add_parser("dump-rdf", help="materialize the virtual graph")
    p_dump.add_argument("-m", "--mapping", required=True)
    p_dump.add_argument("-d", "--base-dir", required=True, help="parquet table dir")
    p_dump.add_argument("-o", "--out", required=True)
    p_dump.add_argument(
        "--format", choices=["ntriples", "turtle", "parquet"], default="ntriples"
    )
    p_dump.add_argument(
        "--no-distinct",
        action="store_true",
        help="skip the global dedup; d2rq:containsDuplicates relations stay DISTINCT",
    )
    p_dump.add_argument("--master", default=None)

    p_gen = sub.add_parser("generate-mapping", help="mapping from table schemas")
    p_gen.add_argument("-d", "--base-dir", required=True)
    p_gen.add_argument("-t", "--tables", required=True, help="comma-separated")
    p_gen.add_argument("-o", "--out", required=True, help="output .ttl path")
    p_gen.add_argument("-b", "--base-iri", default="http://example.org/")
    p_gen.add_argument("--direct-mapping", action="store_true")
    p_gen.add_argument("--fk", action="append", default=[], help="t.c=ref.c (repeat)")
    p_gen.add_argument("--master", default=None)

    p_val = sub.add_parser("validate", help="parse + validate a mapping")
    p_val.add_argument("-m", "--mapping", required=True)
    p_val.add_argument("-d", "--base-dir", default=None)

    p_owl = sub.add_parser("owl", help="vocabulary → OWL functional syntax")
    p_owl.add_argument("-m", "--mapping", required=True)
    p_owl.add_argument("-d", "--base-dir", default=None)
    p_owl.add_argument("-o", "--out", help="output path (default stdout)")
    p_owl.add_argument("--ontology-iri", default=None)

    p_q = sub.add_parser("sparql", help="run a SPARQL query (d2r-query analogue)")
    p_q.add_argument("-m", "--mapping", required=True)
    p_q.add_argument("-d", "--base-dir", required=True)
    p_q.add_argument("-q", "--query", help="inline query text")
    p_q.add_argument("-f", "--query-file", help="read the query from a file")
    p_q.add_argument("-o", "--out", help="write the full result to this path instead of printing")
    p_q.add_argument(
        "--format",
        choices=["parquet", "csv", "json"],
        default="parquet",
        help="output format for -o (d2r-query's text/csv/json analogue)",
    )
    p_q.add_argument("--limit", type=int, default=100, help="max rows printed (stdout mode)")
    p_q.add_argument("--master", default=None)

    args = ap.parse_args(argv)

    if args.cmd == "validate":
        m = _read_mapping(args)
        m.validate()
        print(
            f"OK: {len(m.class_maps)} class maps, {len(m.bridges)} property "
            f"bridges, {len(m.translation_tables)} translation tables, "
            f"{len(m.download_maps)} download maps"
        )
        return 0

    if args.cmd == "owl":
        from ont_d2rq_spark.owl import to_functional_syntax

        m = _read_mapping(args)
        doc = to_functional_syntax(m, ontology_iri=args.ontology_iri)
        if args.out:
            with open(args.out, "w") as f:
                f.write(doc)
            print(f"ontology → {args.out}")
        else:
            sys.stdout.write(doc)
        return 0

    from ont_d2rq_spark.session import get_spark, ship_package

    spark = get_spark(app=f"cli-{args.cmd}", master=args.master)
    ship_package(spark)

    if args.cmd == "dump-rdf":
        from ont_d2rq_spark.graph import VirtualGraph

        g = VirtualGraph(_read_mapping(args), spark)
        triples = g.triples(fuse=True, distinct=not args.no_distinct)
        if args.format == "ntriples":
            g.dump_nt(args.out, triples)
        elif args.format == "turtle":
            g.dump_ttl(args.out, triples)
        else:
            from ont_d2rq_spark.pipeline.docs import materialize_triples

            materialize_triples(triples, args.out)
        print(f"dumped → {args.out}")
        return 0

    if args.cmd == "sparql":
        from ont_d2rq_spark.graph import VirtualGraph
        from ont_d2rq_spark.sparql import execute

        if not args.query and not args.query_file:
            ap.error("sparql needs -q or -f")
        qtext = args.query or open(args.query_file).read()
        g = VirtualGraph(_read_mapping(args), spark)
        df = execute(g, qtext)
        if args.out:
            w = df.write.mode("overwrite")
            if args.format == "csv":
                w.option("header", "true").csv(args.out)
            elif args.format == "json":
                w.json(args.out)
            else:
                w.parquet(args.out)
            print(f"result → {args.out}")
        else:
            print("\t".join(df.columns))
            for row in df.limit(args.limit).collect():
                print("\t".join("" if v is None else str(v) for v in row))
        return 0

    if args.cmd == "generate-mapping":
        from ont_d2rq_spark.mapgen import generate_mapping
        from ont_d2rq_spark.mapping.serialize import to_ttl

        fks = dict(kv.split("=", 1) for kv in args.fk)
        m = generate_mapping(
            spark,
            args.base_dir,
            args.tables.split(","),
            base_iri=args.base_iri,
            foreign_keys=fks,
            direct_mapping=args.direct_mapping,
        )
        with open(args.out, "w") as f:
            f.write(to_ttl(m))
        print(f"mapping → {args.out}")
        return 0
    return 1


if __name__ == "__main__":
    raise SystemExit(main())
