"""spark-submit entry points (BASELINE.json north_star: "Packaged for
``spark-submit --py-files``").

Usage on a cluster (the package zip ships with the job, no install step):

    zip -r li_spark.zip luceneindexer_spark
    spark-submit --py-files li_spark.zip submit_cli.py ...
    (cli.py uses package-relative imports, so the shipped main file is the
    repo-root submit_cli.py launcher — pinned by tests/test_spark_submit.py)

or locally:

    python -m luceneindexer_spark.cli build  --input corpus.parquet \
        --out /idx --range-size 65536 --buckets 64 --positions
    python -m luceneindexer_spark.cli query  --index /idx "parseJson fast"
    python -m luceneindexer_spark.cli query  --index /idxA --index /idxB \
        "parseJson fast"     # multi-root searchAll (federated top-k)
    python -m luceneindexer_spark.cli batch  --index /idx \
        --queries-file qs.txt "inline query"   # one shared-scan pass
    python -m luceneindexer_spark.cli search --index /idx \
        --content "tokenizer" --lang python -k 10
    python -m luceneindexer_spark.cli delete --index /idx --doc-ids 3,17
    python -m luceneindexer_spark.cli watch  --index /idx --source incoming/ \
        --checkpoint ckpt/ --interval '5 seconds' --debounce 4
    python -m luceneindexer_spark.cli wipe   --index /idx

The input corpus is any DataFrame-readable parquet with the BASELINE.json
input_hint columns (repo, path, commit, lang, content). ``build`` resumes
from the checkpoint manifest automatically (north_rule resumability).
"""

from __future__ import annotations

import argparse
import json
import sys


def _spark(app: str, master: str | None):
    from pyspark.sql import SparkSession
    b = SparkSession.builder.appName(app)
    if master:
        b = b.master(master)
    return b.getOrCreate()


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="luceneindexer_spark")
    p.add_argument("--master", default=None,
                   help="Spark master (omit under spark-submit)")
    sub = p.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build", help="build or resume an index")
    b.add_argument("--input", required=True, help="corpus parquet path")
    b.add_argument("--out", required=True, help="index root")
    b.add_argument("--range-size", type=int, default=None,
                   help="docs per posting range (default: scale-aware — "
                        "~128 ranges, clamped to [2^10, 2^16])")
    b.add_argument("--buckets", type=int, default=64)
    b.add_argument("--waves", type=int, default=1)
    b.add_argument("--positions", action="store_true")

    q = sub.add_parser("query", help="BM25 top-k")
    q.add_argument("--index", required=True, action="append",
                   help="index root; repeat for multi-root federation "
                        "(the reference's per-drive searchAll: each root "
                        "scored with its own stats, exact top-k merge)")
    q.add_argument("query")
    q.add_argument("-k", type=int, default=10)
    q.add_argument("--mode",
                   choices=("and", "or", "phrase", "prefix", "fuzzy",
                            "wildcard", "lucene"),
                   default="and",
                   help="and/or/phrase take query text; prefix/fuzzy/"
                        "wildcard take a single term/pattern; lucene "
                        "takes a classic query string "
                        '(+a -b field:t "x y"~2 pre* fuz~1)')
    q.add_argument("--must-not", default=None,
                   help="MUST_NOT clause text (and/or/phrase modes)")
    q.add_argument("--slop", type=int, default=0,
                   help="phrase mode: ordered span-near slack "
                        "(0 = exact phrase)")
    q.add_argument("--phrase-scoring", choices=("terms", "phrase_freq"),
                   default="terms",
                   help="phrase mode: 'terms' = conjunctive term scoring "
                        "(default), 'phrase_freq' = true Lucene "
                        "PhraseQuery scoring (tf = phrase occurrences; "
                        "with --slop > 0: Lucene sloppyFreq over minimal "
                        "spans)")
    q.add_argument("--min-should-match", type=int, default=1,
                   help="or mode: require this many distinct terms")
    q.add_argument("--after", default=None, metavar="SCORE:DOC_ID",
                   help="searchAfter pagination pivot — the previous "
                        "page's last hit's exact score and doc_id "
                        "(and/or/phrase modes)")
    q.add_argument("--snippet", action="store_true",
                   help="return a highlight snippet per hit instead of "
                        "hydrated fields (and/or modes)")
    q.add_argument("--facet", default=None,
                   help="instead of top-k, print per-value counts of this "
                        "docmap field over ALL matches")
    q.add_argument("--hydrate", action="store_true")

    t = sub.add_parser(
        "batch", help="score MANY queries in one shared-scan pass "
                      "(topk_batch: per-range decodes shared across the "
                      "batch; the throughput serving path)")
    t.add_argument("--index", required=True)
    t.add_argument("-k", type=int, default=10)
    t.add_argument("--mode", choices=("and", "or"), default="and")
    t.add_argument("--queries-file", default=None,
                   help="file with one query per line; 'id<TAB>query' "
                        "lines set explicit ids, else ids are q0, q1, …")
    t.add_argument("queries", nargs="*",
                   help="inline queries (one per argument, ids a0, a1, …)")

    s = sub.add_parser("search", help="multi-field conjunctive search")
    s.add_argument("--index", required=True)
    s.add_argument("--content", default="")
    s.add_argument("--repo", default="")
    s.add_argument("--path", default="")
    s.add_argument("--commit", default="")
    s.add_argument("--lang", default="")
    s.add_argument("-k", type=int, default=10)

    so = sub.add_parser(
        "sort", help="browse docs ordered by stored fields "
                     "(Lucene Sort(SortField...), score-free)")
    so.add_argument("--index", required=True)
    so.add_argument("--by", required=True,
                    help="comma-separated sort keys, compared left to "
                         "right; prefix '-' for descending "
                         "(e.g. 'lang,-size')")
    so.add_argument("--query", default=None,
                    help="restrict to this query's full match set")
    so.add_argument("--mode", choices=("and", "or"), default="and")
    so.add_argument("-k", type=int, default=50)
    so.add_argument("--after", default=None, metavar="V1,...,DOC_ID",
                    help="searchAfter pivot: the previous page's last "
                         "row's sort-key values plus its doc_id")

    m = sub.add_parser("mlt", help="more-like-this: docs similar to one doc")
    m.add_argument("--index", required=True)
    m.add_argument("--doc-id", type=int, required=True)
    m.add_argument("-k", type=int, default=10)

    n = sub.add_parser("count", help="full match-set cardinality")
    n.add_argument("--index", required=True)
    n.add_argument("query")
    n.add_argument("--mode", choices=("and", "or", "lucene"),
                   default="and",
                   help="and/or take query terms; lucene takes a classic "
                        "query string (phrases, -deny, ranges, groups)")

    e = sub.add_parser("explain", help="per-term BM25 score breakdown")
    e.add_argument("--index", required=True)
    e.add_argument("query")
    e.add_argument("-k", type=int, default=10)
    e.add_argument("--mode", choices=("and", "or"), default="and")

    g = sub.add_parser("suggest", help="did-you-mean term suggestions")
    g.add_argument("--index", required=True)
    g.add_argument("term")
    g.add_argument("-n", type=int, default=5)
    g.add_argument("--max-edits", type=int, default=2)

    c = sub.add_parser("check", help="audit index integrity (CheckIndex)")
    c.add_argument("--index", required=True)

    d = sub.add_parser("delete", help="tombstone doc ids")
    d.add_argument("--index", required=True)
    d.add_argument("--doc-ids", required=True,
                   help="comma-separated doc ids")

    a = sub.add_parser("append", help="upsert a corpus batch into an index")
    a.add_argument("--index", required=True)
    a.add_argument("--input", required=True)

    wa = sub.add_parser(
        "watch", help="stream new corpus parquet files into the index "
                      "(the reference's folder watcher): default processes "
                      "the backlog then exits (scheduled-rescan mode); "
                      "--interval keeps a live watcher polling")
    wa.add_argument("--index", required=True)
    wa.add_argument("--source", required=True,
                    help="directory new corpus parquet files land in")
    wa.add_argument("--checkpoint", required=True,
                    help="streaming checkpoint dir (resume-safe)")
    wa.add_argument("--interval", default=None, metavar="'5 seconds'",
                    help="processingTime trigger for a long-lived watcher "
                         "(omit for availableNow catch-up-and-stop)")
    wa.add_argument("--debounce", type=float, default=0.0, metavar="SECONDS",
                    help="per-key quiet period: a doc saved repeatedly "
                         "reaches the index once, after this long with no "
                         "new version (the reference's re-armed 4s timer)")

    w = sub.add_parser("wipe", help="delete the entire index")
    w.add_argument("--index", required=True)

    args = p.parse_args(argv)

    if args.cmd == "wipe":
        from .ops.maintenance import delete_index
        delete_index(args.index)
        print(json.dumps({"wiped": args.index}))
        return 0

    if (args.cmd == "query" and len(args.index) > 1
            and (args.mode not in ("and", "or", "phrase")
                 or args.facet is not None or args.snippet or args.after
                 or args.hydrate or args.must_not is not None
                 or args.phrase_scoring != "terms")):
        # federated_topk takes none of these flags: reject them before a
        # JVM starts rather than silently ignore them
        p.error("multiple --index roots support plain and/or/phrase "
                "top-k only")

    spark = _spark(f"li-{args.cmd}", args.master)
    try:
        if args.cmd == "build":
            from .index.build import build_index
            corpus = spark.read.parquet(args.input)
            report = build_index(
                spark, corpus, args.out, n_buckets=args.buckets,
                range_size=args.range_size, waves=args.waves,
                positions=args.positions)
            print(json.dumps(report, default=str))
        elif args.cmd == "query":
            from .query.engine import QuerySession, federated_topk, hydrate
            roots = args.index
            if len(roots) > 1:
                # multi-root searchAll (reference cIndex.java:59-69):
                # per-root stats, exact TakeOrdered merge
                out = federated_topk(
                    spark, roots, args.query, k=args.k, mode=args.mode,
                    slop=args.slop,
                    min_should_match=args.min_should_match)
                for r in out.collect():
                    print(json.dumps(r.asDict(), default=str))
                return 0
            idx = roots[0]
            qs = QuerySession(spark, idx)
            if args.facet is not None:
                if args.mode not in ("and", "or", "lucene"):
                    p.error("--facet supports and/or/lucene modes")
                out = qs.facet_counts(args.query, args.facet,
                                      mode=args.mode,
                                      must_not=args.must_not)
            elif args.mode == "prefix":
                out = qs.topk_prefix(args.query, k=args.k)
            elif args.mode == "fuzzy":
                out = qs.topk_fuzzy(args.query, k=args.k)
            elif args.mode == "wildcard":
                out = qs.topk_wildcard(args.query, k=args.k)
            elif args.mode == "lucene":
                out = qs.query_string(args.query, k=args.k)
            elif args.snippet:
                from .query.engine import highlight_topk
                out = highlight_topk(spark, idx, args.query,
                                     k=args.k, mode=args.mode, session=qs)
            else:
                after = None
                if args.after:
                    s_a, _, d_a = args.after.partition(":")
                    after = (float(s_a), int(d_a))
                out = qs.topk(args.query, k=args.k, mode=args.mode,
                              must_not=args.must_not, slop=args.slop,
                              min_should_match=args.min_should_match,
                              phrase_scoring=args.phrase_scoring,
                              after=after)
            if args.hydrate and args.facet is None and not args.snippet:
                out = hydrate(spark, idx, out)
            rows = out.collect()
            for r in rows:
                print(json.dumps(r.asDict(), default=str))
            if not rows and args.facet is None and args.mode in ("and", "or"):
                # did-you-mean on a zero-hit query (DirectSpellChecker)
                from .query.oracle import query_terms
                sugg = {}
                for t in query_terms(args.query):
                    alts = [r.suggestion for r in
                            qs.suggest(t, n=3).collect()]
                    if alts:
                        sugg[t] = alts
                if sugg:
                    print(json.dumps({"no_hits": args.query,
                                      "did_you_mean": sugg}))
        elif args.cmd == "batch":
            from .query.engine import QuerySession
            entries: list[tuple[str, str]] = []
            if args.queries_file:
                with open(args.queries_file) as fh:
                    for i, line in enumerate(fh):
                        line = line.rstrip("\n")
                        if not line.strip():
                            continue
                        qid, tab, rest = line.partition("\t")
                        entries.append((qid, rest) if tab
                                       else (f"q{i}", line))
            entries.extend((f"a{i}", q)
                           for i, q in enumerate(args.queries))
            if not entries:
                p.error("batch needs --queries-file or inline queries")
            # duplicate/empty ids would silently drop queries in dict();
            # reject them loudly instead (a line starting with a tab
            # yields an empty id)
            seen_ids: set[str] = set()
            for qid, _ in entries:
                if not qid:
                    p.error("batch: empty query id (line starts with a tab?)")
                if qid in seen_ids:
                    p.error(f"batch: duplicate query id {qid!r}")
                seen_ids.add(qid)
            qs = QuerySession(spark, args.index)
            out = qs.topk_batch(dict(entries), k=args.k, mode=args.mode)
            for r in out.orderBy("query_id", "rank").collect():
                print(json.dumps(r.asDict(), default=str))
        elif args.cmd == "search":
            from .query.engine import search_fields
            fields = {f: getattr(args, f) for f in
                      ("content", "repo", "path", "commit", "lang")}
            for r in search_fields(spark, args.index, fields,
                                   k=args.k).collect():
                print(json.dumps(r.asDict(), default=str))
        elif args.cmd == "sort":
            from .query.engine import browse_sorted
            fields, ascs = [], []
            for spec in args.by.split(","):
                spec = spec.strip()
                ascs.append(not spec.startswith("-"))
                fields.append(spec.lstrip("+-"))

            def _lit(v: str):
                for cast in (int, float):
                    try:
                        return cast(v)
                    except ValueError:
                        continue
                return v
            after = (tuple(_lit(v) for v in args.after.split(","))
                     if args.after else None)
            out = browse_sorted(spark, args.index, fields, k=args.k,
                                ascending=ascs, query=args.query,
                                mode=args.mode, after=after)
            for r in out.collect():
                print(json.dumps(r.asDict(), default=str))
        elif args.cmd == "mlt":
            from .query.engine import QuerySession
            qs = QuerySession(spark, args.index)
            for r in qs.more_like_this(args.doc_id, k=args.k).collect():
                print(json.dumps(r.asDict(), default=str))
        elif args.cmd == "count":
            from .query.engine import QuerySession
            qs = QuerySession(spark, args.index)
            print(json.dumps({"query": args.query,
                              "n_matches": qs.count(args.query,
                                                    mode=args.mode)}))
        elif args.cmd == "explain":
            from .query.engine import explain_topk
            for r in explain_topk(spark, args.index, args.query,
                                  k=args.k, mode=args.mode).collect():
                print(json.dumps(r.asDict(), default=str))
        elif args.cmd == "suggest":
            from .query.engine import spell_suggest
            for r in spell_suggest(spark, args.index, args.term, n=args.n,
                                   max_edits=args.max_edits).collect():
                print(json.dumps(r.asDict(), default=str))
        elif args.cmd == "check":
            from .index.check import check_index
            row = check_index(spark, args.index).collect()[0]
            print(json.dumps(row.asDict(), default=str))
            if row.structural_violations or row.stats_mismatches:
                return 1
        elif args.cmd == "delete":
            from .ops.maintenance import append_deletes
            ids = [int(x) for x in args.doc_ids.split(",") if x.strip()]
            append_deletes(spark, args.index, ids)
            print(json.dumps({"tombstoned": ids}))
        elif args.cmd == "append":
            from .streaming.incremental import append_documents
            batch = spark.read.parquet(args.input)
            report = append_documents(spark, args.index, batch)
            print(json.dumps(report, default=str))
        elif args.cmd == "watch":
            from .streaming.incremental import flush_pending, watch_corpus
            q = watch_corpus(spark, args.index, args.source,
                             args.checkpoint,
                             trigger_interval=args.interval,
                             debounce_s=args.debounce)
            q.awaitTermination()
            flushed = 0
            if args.debounce > 0 and args.interval is None:
                # catch-up mode: drain what the quiet period still holds
                flushed = flush_pending(spark, args.index, args.checkpoint)
            print(json.dumps({"watched": args.source,
                              "drained_pending": flushed}))
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
