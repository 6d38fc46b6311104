"""Command-line interface mirroring the reference's CLI surface.

``python -m blabel_spark.cli label -i in.nt -o out_dir [options]`` is the
counterpart of ``java -jar blabel.jar LabelRDFGraph -i g.nt -o out.nt
[-l] [-p prefix] [-b] [-ddp] [-upp]`` (cli/LabelRDFGraph.java:76-141):

  --lean            lean the graph before labelling            (-l)
  --prefix PREFIX   prepend PREFIX to SK00 labels               (-p)
  --iri             render labels as IRIs instead of bnodes     (!-b)
  --no-dip          do not distinguish isomorphic partitions    (-ddp)
  --no-upg          per-partition instead of per-graph muxing   (-upp)
  -s/--hash NAME    term-hash family: md5 (default) | murmur3_128 |
                    sha1 | sha256 | sha512                      (-s)
                    (16-byte families run the distributed fixpoint;
                    wider ones run the per-graph kernel path)

Output is a directory of N-Triples part files (a distributed engine writes
partitioned output; ``--single`` coalesces to one part).
"""

from __future__ import annotations

import argparse
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="blabel_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)
    lab = sub.add_parser("label", help="canonically label blank nodes")
    lab.add_argument("-i", "--input", required=True, help=".nt/.nq file")
    lab.add_argument("-o", "--output", required=True, help="output dir")
    lab.add_argument("--lean", action="store_true")
    lab.add_argument("--prefix", default="")
    lab.add_argument("--iri", action="store_true")
    lab.add_argument("--no-dip", action="store_true")
    lab.add_argument("--no-upg", action="store_true")
    lab.add_argument("-s", "--hash", default="md5",
                     choices=["md5", "murmur3_128", "sha1", "sha256",
                              "sha512"])
    lab.add_argument("--checkpoint", default=None,
                     help="fixpoint checkpoint dir (resumable runs; "
                          "forces the distributed fixpoint route)")
    lab.add_argument("--single", action="store_true")
    lab.add_argument("--cpus", type=int, default=None)
    ana = sub.add_parser(
        "analyse", help="aggregate a bench TSV into corpus stats "
        "(AnalyseNQuadsResults counterpart)")
    ana.add_argument("-i", "--input", required=True, help="bench TSV")
    ana.add_argument("-o", "--output", required=True, help="output dir")
    ana.add_argument("--cpus", type=int, default=None)
    syn = sub.add_parser(
        "bench-synthetic", help="benchmark synthetic graph classes "
        "(RunSyntheticEvaluation counterpart); emits reference-format TSV")
    syn.add_argument("-o", "--output", required=True, help="TSV output dir")
    syn.add_argument("--classes", default="cycle:8,grid:3,clique:4,star:16,"
                     "chain:12",
                     help="comma list of <class>:<size>")
    syn.add_argument("--mode", default="BOTH",
                     choices=["LEAN", "LABEL", "BOTH"])
    syn.add_argument("--cpus", type=int, default=None)
    tst = sub.add_parser(
        "test", help="corpus-mode metamorphic TEST harness "
        "(RunNQuadsTest -b TEST counterpart): K bnode-renamed variants "
        "per document, label (+lean) each, require one canonical form; "
        "emits the OKAY/ERROR TSV that `analyse` ingests")
    tst.add_argument("-i", "--input", required=True, help=".nt/.nq[.gz]")
    tst.add_argument("-o", "--output", required=True, help="TSV output dir")
    tst.add_argument("--shuffles", type=int, default=4,
                     help="variants per document (reference "
                          "DEFAULT_SHUFFLES = 4)")
    tst.add_argument("--no-lean", action="store_true",
                     help="labelling legs only")
    tst.add_argument("--seed", type=int, default=7)
    tst.add_argument("--cpus", type=int, default=None)
    ctl = sub.add_parser(
        "control", help="control run: pass-through parse of every N-th "
        "document (cli/Control.java:98-124) — the baseline parse+IO cost "
        "against which label/lean runtimes are judged")
    ctl.add_argument("-i", "--input", required=True, help=".nt/.nq file")
    ctl.add_argument("-o", "--output", required=True, help="output dir")
    ctl.add_argument("-n", "--every", type=int, default=1,
                     help="keep 1-in-N documents (deterministic hash "
                          "sample of graph_id — the distributed analogue "
                          "of the reference's every-N-th file order)")
    ctl.add_argument("--cpus", type=int, default=None)
    args = ap.parse_args(argv)

    if args.cmd == "test":
        from pyspark.sql import functions as F

        from blabel_spark import ckpt_util
        from blabel_spark.sources.ntriples import read_ntriples
        from blabel_spark.spark_util import get_spark
        from blabel_spark.testing import metamorphic_report, to_test_tsv
        spark = get_spark("blabel-test", cpus=args.cpus)
        triples = read_ntriples(spark, args.input)
        # checkpoint: the report tail (dual-route labelling + joins) would
        # otherwise re-run for the status-count collect after the TSV write
        rep = ckpt_util.checkpoint(metamorphic_report(
            spark, triples, shuffles=args.shuffles, lean=not args.no_lean,
            seed=args.seed))
        to_test_tsv(rep).coalesce(1).write.mode("overwrite") \
            .text(args.output)
        counts = {r["s"]: r["n"] for r in
                  rep.groupBy(F.col("status").alias("s"))
                  .agg(F.count("*").alias("n")).collect()}
        print(f"TEST complete: {counts}", file=sys.stderr)
        return 1 if any("ERROR" in k for k in counts) else 0

    if args.cmd == "control":
        import time as _time

        from pyspark.sql import functions as F

        from blabel_spark.sources.ntriples import (
            read_ntriples, write_ntriples)
        from blabel_spark.spark_util import get_spark
        spark = get_spark("blabel-control", cpus=args.cpus)
        t0 = _time.time()
        triples = read_ntriples(spark, args.input)
        if args.every > 1:
            triples = triples.where(
                F.pmod(F.xxhash64("graph_id"), F.lit(args.every)) == 0)
        n = write_ntriples(triples, args.output)
        n_docs = triples.select("graph_id").distinct().count()
        print(f"CONTROL\t{n_docs}\t{n}\t{round(_time.time() - t0, 3)}",
              file=sys.stderr)
        return 0

    if args.cmd == "bench-synthetic":
        from blabel_spark.sources.io import write_counted
        from blabel_spark.spark_util import get_spark
        from blabel_spark.synthetic import (
            run_benchmark, synthetic_corpus, to_tsv_lines)
        spark = get_spark("blabel-synth", cpus=args.cpus)
        spec = [(c.split(":")[0], int(c.split(":")[1]))
                for c in args.classes.split(",") if c]
        corpus = synthetic_corpus(spark, spec)
        bench = run_benchmark(spark, corpus, mode=args.mode)
        n = write_counted(to_tsv_lines(bench).coalesce(1),
                          lambda d: d.write.mode("overwrite")
                          .text(args.output))
        print(f"wrote {n} benchmark rows to {args.output}", file=sys.stderr)
        return 0

    if args.cmd == "analyse":
        from blabel_spark.ops.analyse import analyse_run, read_bench_tsv
        from blabel_spark.spark_util import get_spark
        spark = get_spark("blabel-analyse", cpus=args.cpus)
        rep = analyse_run(read_bench_tsv(spark, args.input))
        for name, df in rep.items():
            df.coalesce(1).write.mode("overwrite") \
              .option("header", True).csv(f"{args.output}/{name}")
        print(f"wrote {sorted(rep)} to {args.output}", file=sys.stderr)
        return 0

    from pyspark.sql import functions as F

    from blabel_spark.canon.distributed import canonicalize
    from blabel_spark.sources.ntriples import read_ntriples, write_ntriples
    from blabel_spark.spark_util import get_spark

    spark = get_spark("blabel-cli", cpus=args.cpus)
    triples = read_ntriples(spark, args.input)

    if args.lean:
        from blabel_spark.lean.distributed import lean_graphs
        triples, _witness = lean_graphs(spark, triples)

    res = canonicalize(spark, triples, dip=not args.no_dip,
                       upg=not args.no_upg, hash_name=args.hash,
                       checkpoint_dir=args.checkpoint)
    out = res.labelled
    if args.prefix or args.iri:
        # GraphLabelIterator semantics (label/util/GraphLabelIterator.java)
        def rel(c):
            lbl = F.concat(F.lit(args.prefix),
                           F.substring(F.col(c), 3, 0x0FFFFFFF))
            rendered = F.concat(F.lit("<"), lbl, F.lit(">")) if args.iri \
                else F.concat(F.lit("_:"), lbl)
            return F.when(F.col(c).startswith("_:SK00"), rendered) \
                    .otherwise(F.col(c)).alias(c)
        out = out.select("graph_id", rel("subj"), "pred", rel("obj"))
    if args.single:
        out = out.coalesce(1)
    n = write_ntriples(out, args.output)
    print(f"wrote {n} statements to {args.output}", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())
