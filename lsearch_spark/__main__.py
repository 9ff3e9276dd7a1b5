"""CLI entry point — the lsearch-equivalent surface, cluster-shippable:

  spark-submit --py-files lsearch_spark.zip -m lsearch_spark ...   (cluster)
  python -m lsearch_spark build --input pages.parquet --warehouse /wh
  python -m lsearch_spark search --warehouse /wh --query "biology -chem" -k 10
  python -m lsearch_spark phrase --warehouse /wh --query "the data" -k 10
  python -m lsearch_spark batch --warehouse /wh -q "biology" -q "the -of"
  python -m lsearch_spark append --input more.parquet --warehouse /wh
  python -m lsearch_spark compact --warehouse /wh [--dest /wh2]
  python -m lsearch_spark demo   # synthetic corpus end-to-end

The reference CLI's query pipeline (--content-* / --has / --more ...)
maps onto `search` (BM25 over the index) and the functions.lsearch
cascade for scalar runs; see SURVEY.md §2.
"""

from __future__ import annotations

import argparse
import sys

from .session import get_spark


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="lsearch_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build", help="build the inverted index")
    b.add_argument("--input", required=True, help="parquet path with pages schema")
    b.add_argument("--warehouse", required=True)
    b.add_argument("--buckets", default="auto",
                   help="term-bucket count; 'auto' (default) sizes to the corpus "
                        "(ceil(n_docs/37.5k), floor 8) so per-bucket bytes stay "
                        "constant as data grows")
    b.add_argument("--bucket-layout", choices=["compact", "aligned"], default="compact",
                   help="'compact' (default): second repartition, one file per bucket "
                        "(lowest query open cost); 'aligned': bucket-aligned merge key, "
                        "no second shuffle of the posting volume (cluster-scale choice)")
    b.add_argument("--block-size", type=int, default=128)
    b.add_argument("--hot-df", type=int, default=100_000)
    b.add_argument("--salts", type=int, default=16)
    b.add_argument("--no-resume", action="store_true")
    b.add_argument("--run-id", default="cli")
    b.add_argument("--input-id", default=None)

    s = sub.add_parser("search", help="BM25 top-k over a built index")
    s.add_argument("--warehouse", required=True)
    s.add_argument("--query", required=True)
    s.add_argument("-k", type=int, default=10)
    s.add_argument("--mode", choices=["or", "and"], default="or")
    s.add_argument("--no-prune", dest="prune", action="store_false",
                   help="disable driver-side block-max WAND (on by default; always exact)")
    s.add_argument("--urls", action="store_true")
    s.add_argument("--within", default=None, metavar="PREDICATE",
                   help="metadata filter over docs columns, e.g. \"lang = 'en'\"")
    s.add_argument("--stats", action="store_true", help="per-query stats (reference --stats, cli.rs:510-512)")
    s.add_argument("--strats", action="store_true",
                   help="print the plan search() executes, after running its planning jobs "
                        "but not the scoring job (reference --strats, cli.rs:439-441)")

    ph = sub.add_parser("phrase", help="exact-phrase BM25 top-k (positions)")
    ph.add_argument("--warehouse", required=True)
    ph.add_argument("--query", required=True)
    ph.add_argument("-k", type=int, default=10)
    ph.add_argument("--scratch-dir", default=None,
                    help="scratch location for read-only warehouses")
    ph.add_argument("--slop", type=int, default=0,
                    help="max intervening tokens between consecutive terms (0 = exact phrase)")

    bt = sub.add_parser("batch", help="N queries in ONE job (amortized scheduler floor)")
    bt.add_argument("--warehouse", required=True)
    bt.add_argument("-q", "--query", dest="queries", action="append", required=True,
                    help="repeatable; supports '-term' and '~term'")
    bt.add_argument("-k", type=int, default=10)

    ap = sub.add_parser("append", help="atomic incremental segment append")
    ap.add_argument("--input", required=True, help="parquet path with pages schema")
    ap.add_argument("--warehouse", required=True)

    cp = sub.add_parser("compact", help="fold appended segments into one epoch (no re-tokenize)")
    cp.add_argument("--warehouse", required=True)
    cp.add_argument("--dest", default=None)

    cu = sub.add_parser("curate", help="curation pipeline: dedup/lang/tokens/quality/repetition/quota")
    cu.add_argument("--input", required=True, help="parquet path with a text column")
    cu.add_argument("--output", required=True, help="output parquet path for kept rows")
    cu.add_argument("--lang", default=None)
    cu.add_argument("--min-tokens", type=int, default=None)
    cu.add_argument("--max-tokens", type=int, default=None)
    cu.add_argument("--min-quality", type=float, default=None)
    cu.add_argument("--max-dup3", type=float, default=None)
    cu.add_argument("--max-top2", type=float, default=None)
    cu.add_argument("--cap-per-source", type=int, default=None)
    cu.add_argument("--source-col", default="source")
    cu.add_argument("--report", action="store_true", help="print per-stage drop counts")

    si = sub.add_parser("stats", help="index introspection: corpus, vocabulary, storage, stage walls")
    si.add_argument("--warehouse", required=True)

    sm = sub.add_parser("sample", help="mixture-weighted deterministic sample to a token budget")
    sm.add_argument("--input", required=True, help="parquet path with text + source columns")
    sm.add_argument("--output", required=True)
    sm.add_argument("--budget", type=int, required=True, help="target total tokens")
    sm.add_argument("--weights", required=True,
                    help="comma list 'src0=2,src1=1' of stratum mixture weights")
    sm.add_argument("--source-col", default="source")

    d = sub.add_parser("demo", help="synthetic corpus -> build -> query")
    d.add_argument("--docs", type=int, default=2000)
    d.add_argument("--warehouse", default="/tmp/lsearch_demo_wh")

    args = p.parse_args(argv)
    spark = get_spark(app=f"lsearch-{args.cmd}")

    if args.cmd == "build":
        from .build import build_index

        # pass the PATH through: the extract stage direct-reads the
        # splits python-side when the input is a bare parquet dir
        build_index(
            spark, args.input, args.warehouse,
            n_buckets=args.buckets if args.buckets == "auto" else int(args.buckets),
            block_size=args.block_size, hot_df=args.hot_df,
            n_salts=args.salts, run_id=args.run_id,
            input_id=args.input_id or args.input, resume=not args.no_resume,
            bucket_layout=args.bucket_layout,
        )
        print(f"index built at {args.warehouse}")
    elif args.cmd == "search":
        from .query import plan_summary, search, search_with_stats

        if args.strats:
            print(plan_summary(spark, args.warehouse, args.query, k=args.k, mode=args.mode,
                               prune=args.prune, within=args.within))
        if args.stats:
            rows, info = search_with_stats(
                spark, args.warehouse, args.query, k=args.k, mode=args.mode,
                prune=args.prune, within=args.within,
            )
            for r in rows:
                print(f"[{r['score']:.4f}] {r['doc_id']}")
            print(
                f"-- stats: {info['blocks_decoded']}/{info.get('blocks_total')} blocks decoded, "
                f"{info['postings_decoded']} postings, {info['wall_ms']:.0f} ms"
            )
        else:
            out = search(spark, args.warehouse, args.query, k=args.k, mode=args.mode,
                         prune=args.prune, with_url=args.urls, within=args.within)
            for r in out.collect():
                cols = f"[{r['score']:.4f}] {r['doc_id']}"
                print(cols + (f" {r['url']}" if args.urls else ""))
    elif args.cmd == "phrase":
        from .query import phrase_search

        out = phrase_search(spark, args.warehouse, args.query, k=args.k,
                            scratch_dir=args.scratch_dir, slop=args.slop)
        for r in out.collect():
            print(f"[{r['score']:.4f}] {r['doc_id']} tf={r['phrase_tf']}")
    elif args.cmd == "batch":
        from .query import batch_search

        out = batch_search(spark, args.warehouse, dict(enumerate(args.queries)), k=args.k)
        for r in out.collect():
            print(f"{args.queries[int(r['query_id'])]!r}\t[{r['score']:.4f}] {r['doc_id']}")
    elif args.cmd == "append":
        from .build import append_index

        append_index(spark, args.input, args.warehouse)
        print(f"segment appended to {args.warehouse}")
    elif args.cmd == "compact":
        from .build import compact_index

        dst = compact_index(spark, args.warehouse, args.dest)
        print(f"compacted into {dst.root}")
    elif args.cmd == "curate":
        from .pipeline import CurationRules, curate, curation_report

        rules = CurationRules(
            lang=args.lang, min_tokens=args.min_tokens, max_tokens=args.max_tokens,
            min_quality=args.min_quality, max_dup3=args.max_dup3, max_top2=args.max_top2,
            cap_per_source=args.cap_per_source, source_col=args.source_col,
        )
        docs = spark.read.parquet(args.input)
        curate(docs, rules).write.mode("overwrite").parquet(args.output)
        if args.report:
            for r in curation_report(docs, rules).collect():
                print(f"{r['stage']}: {r['n']}")
        print(f"curated corpus written to {args.output}")
    elif args.cmd == "stats":
        import os as _os

        from . import catalog, fsio
        from .build import Warehouse

        wh = Warehouse(args.warehouse)
        cs = wh.corpus_stats(spark)
        print(f"corpus: n_docs={int(cs['n_docs'])} avgdl={float(cs['avgdl']):.2f} "
              f"total_tokens={int(cs.get('total_tokens', 0))}")
        ts = catalog.read_table(spark, wh.root, "term_stats")
        print(f"vocabulary: {ts.count()} terms")
        pb = catalog.read_table(spark, wh.root, "postings")
        from pyspark.sql import functions as _F

        agg = pb.groupBy("kind").agg(_F.count("*").alias("blocks")).collect()
        for r in sorted(agg, key=lambda x: x["kind"]):
            label = "doc_id-ordered" if r["kind"] == 0 else "impact-ordered"
            print(f"postings kind={r['kind']} ({label}): {r['blocks']} blocks")
        for table in ("docs", "postings", "postings_flat", "term_stats", "term_block_stats"):
            # Hadoop globs have no recursive '**': probe each partition depth
            sizes = []
            for depth in ("", "*", "*/*", "*/*/*"):
                sizes += fsio.file_sizes(_os.path.join(wh.path(table), depth, "*.parquet"))
            if sizes:
                print(f"storage {table}: {sum(b for _, b in sizes) / 1e6:.1f} MB in {len(sizes)} files")
        try:
            bm = catalog.read_table(spark, wh.root, "build_metrics")
            walls = bm.groupBy("stage").agg(_F.max("wall_ms").alias("wall_ms")).collect()
            for r in sorted(walls, key=lambda x: x["stage"]):
                print(f"stage {r['stage']}: {r['wall_ms'] / 1000.0:.2f}s")
        except Exception:
            pass  # pre-metrics warehouses
    elif args.cmd == "sample":
        from .functions.webstats import group_stats, plan_mixture, stratified_sample

        weights = {}
        for part in args.weights.split(","):
            name, _, w = part.partition("=")
            weights[name.strip()] = float(w)
        docs = spark.read.parquet(args.input)
        stats = group_stats(docs, args.source_col, key_name=args.source_col)
        rates = plan_mixture(stats, weights, args.budget, key_name=args.source_col)
        stratified_sample(docs, rates, key=args.source_col).write.mode(
            "overwrite"
        ).parquet(args.output)
        for s in sorted(rates):
            print(f"{s}: rate={rates[s]:.6f}")
        print(f"sampled corpus written to {args.output}")
    elif args.cmd == "demo":
        from .build import build_index
        from .corpus import pages_df
        from .query import search

        wh = build_index(spark, pages_df(spark, args.docs), args.warehouse, input_id=f"demo{args.docs}")
        for q in ("biology", "quantum neural", "the -biology"):
            print(f"\n== {q!r} ==")
            for r in search(spark, wh, q, k=5, with_url=True).collect():
                print(f"[{r['score']:.4f}] {r['url']}")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
