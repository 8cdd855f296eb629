"""Physical-plan audits: the pruning and pushdown the scale story claims
must actually appear in the executed plans — bucket partition pruning +
term pushdown on the postings scan, and comparison-predicate pushdown on
the docmap scan (brief: "a scan that reads all columns for a 2-column
projection is wrong"; `.explain` is the check, these tests pin it)."""

import itertools
import re

import pytest
from pyspark.sql import functions as F

from luceneindexer_spark.corpus import HOT_TERM, PHRASE, synth_corpus
from luceneindexer_spark.index.build import build_index
from luceneindexer_spark.query import engine


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("idx_plan"))
    corpus = synth_corpus(spark, 300, partitions=4)
    build_index(spark, corpus, root, n_buckets=4, range_size=64, waves=1,
                positions=True)
    return root


@pytest.fixture(scope="module")
def cached(built, spark):
    qs = engine.QuerySession(spark, built, cache=True)
    yield qs
    qs.close()


def _scans(df):
    plan = df._jdf.queryExecution().executedPlan().toString()
    out = []
    for m in re.finditer(r"FileScan parquet [^\n]*", plan):
        seg = m.group(0)
        pf = re.search(r"PartitionFilters: \[([^\]]*)", seg)
        pu = re.search(r"PushedFilters: \[([^\]]*)", seg)
        rs = re.search(r"ReadSchema: ([^\n]*)", seg)
        out.append((seg, pf.group(1) if pf else "",
                    pu.group(1) if pu else "", rs.group(1) if rs else ""))
    return out


def test_topk_prunes_buckets_and_pushes_terms(built, spark):
    qs = engine.QuerySession(spark, built)
    scans = _scans(qs.topk(f"{HOT_TERM} mergeSegments", k=10))
    post_scans = [s for s in scans if "docs_enc" in s[0]]
    assert post_scans, "no postings scan in the plan"
    # every postings scan is partition-pruned on bucket, and the terms scan
    # carries the In(term, ...) pushdown to the parquet reader
    assert all("bucket" in pf for _, pf, _, _ in post_scans)
    assert any("In(term" in pu for _, _, pu, _ in post_scans)


def test_docmap_scan_pushes_range_predicate_and_prunes_columns(built, spark):
    qs = engine.QuerySession(spark, built)
    df = qs.query_string(f"+{HOT_TERM} size:[250 TO 800]", k=10)
    dm_scans = [s for s in _scans(df)
                if "docs_enc" not in s[0] and "size" in s[3]]
    assert dm_scans, "no docmap scan in the plan"
    # the [lo TO hi] clause reaches the parquet reader as comparison
    # pushdowns, not a post-scan filter (a column cast would block them)
    assert any("GreaterThanOrEqual(size,250" in pu
               and "LessThanOrEqual(size,800" in pu
               for _, _, pu, _ in dm_scans)
    # column pruning: the doc-id/size projection never drags content along
    assert all("content" not in rs for _, _, _, rs in dm_scans)


def test_excl_range_and_deny_range_push_comparisons(built, spark):
    """Round 4: exclusive {lo TO hi} brackets compile to strict
    comparisons that STILL reach the parquet reader, and a deny range
    (-size:[lo TO hi]) pushes the same comparisons on the docmap scan
    that feeds the DEL_TERM pseudo-postings channel."""
    qs = engine.QuerySession(spark, built)
    df = qs.query_string(f"+{HOT_TERM} size:{{250 TO 800}}", k=10)
    dm = [s for s in _scans(df) if "docs_enc" not in s[0]
          and "size" in s[3]]
    assert dm, "no docmap scan in the plan"
    assert any("GreaterThan(size,250" in pu and "LessThan(size,800" in pu
               for _, _, pu, _ in dm)
    df2 = qs.query_string(f"{HOT_TERM} -size:[250 TO 800]", k=10)
    dm2 = [s for s in _scans(df2) if "docs_enc" not in s[0]
           and "size" in s[3]]
    assert dm2, "no docmap scan in the deny-range plan"
    assert any("GreaterThanOrEqual(size,250" in pu
               and "LessThanOrEqual(size,800" in pu
               for _, _, pu, _ in dm2)


def _broadcast_child(plan: str) -> str:
    """The first operator below the plan's BroadcastExchange, past
    Filter/Project wrappers — the relation the join broadcasts."""
    lines = plan.splitlines()
    i = next(i for i, ln in enumerate(lines) if "BroadcastExchange" in ln)
    return next(op for op in (ln.lstrip(" :+-") for ln in lines[i + 1:])
                if not op.startswith(("Filter", "Project")))


_HYDRATE_SITES = {
    "hydrate": lambda spark, root, qs: engine.hydrate(
        spark, root, qs.topk(HOT_TERM, k=5)),
    "search_fields": lambda spark, root, qs: engine.search_fields(
        spark, root, {"content": HOT_TERM}, k=5, session=qs),
    "search_fields_allowlist": lambda spark, root, qs: engine.search_fields(
        spark, root, {"content": HOT_TERM, "lang": "py"}, k=5, session=qs),
    "search_fields_parsed": lambda spark, root, qs:
        engine.search_fields_parsed(spark, root, {"content": HOT_TERM}, k=5,
                                    session=qs),
    "search_fields_whole_words": lambda spark, root, qs:
        engine.search_fields_whole_words(spark, root, {"content": PHRASE},
                                         k=5, session=qs),
    "highlight_topk": lambda spark, root, qs: engine.highlight_topk(
        spark, root, HOT_TERM, k=5, session=qs),
}


@pytest.mark.parametrize("site", sorted(_HYDRATE_SITES))
def test_hydrate_broadcasts_topk_not_corpus(built, spark, site):
    """Every hydrating call joins the docmap to the k hit rows by
    broadcasting the hits — the scorer's TakeOrdered k-row cut — never
    the corpus side."""
    qs = engine.QuerySession(spark, built)
    df = _HYDRATE_SITES[site](spark, built, qs)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert _broadcast_child(plan).startswith("TakeOrderedAndProject"), plan
    assert df.count() > 0


_groups = itertools.count()


def _jobs(spark, call) -> int:
    """Spark jobs of one serving call, plan compilation included: counted
    through statusTracker under a job group of its own."""
    sc = spark.sparkContext
    group = f"plan-audit-{next(_groups)}"
    sc.setJobGroup(group, group)
    try:
        assert call().collect(), "the call must return hits"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("kind, want", [
    ("and", 1), ("or", 1), ("phrase", 1), ("must_not", 1),
    ("query_string", 1), ("topk_batch", 2)])
def test_serving_jobs_per_call(cached, spark, kind, want):
    """A cached session serves each single query in ONE Spark job (the
    co-partitioned cache makes the cogroup a single stage; term stats are
    pinned on the driver) and a batch pass in two (the per-query rank
    window adds one exchange). Pins the plan shapes the benchmark's
    jobs/stages-per-call layers measure."""
    terms = [t for t, _ in sorted(cached._stats_local.items(),
                                  key=lambda kv: (-kv[1][0], kv[0]))
             if t and ":" not in t]
    a, b, c, rare = *terms[:3], terms[-1]
    calls = {
        "and": lambda: cached.topk(f"{a} {b}", k=10),
        "or": lambda: cached.topk(f"{a} {c}", k=10, mode="or"),
        "phrase": lambda: cached.topk(PHRASE, k=10, mode="phrase"),
        "must_not": lambda: cached.topk(a, k=10, must_not=rare),
        "query_string": lambda: cached.query_string(f"+{a} +{b} -{rare}"),
        "topk_batch": lambda: cached.topk_batch(
            {"q1": f"{a} {b}", "q2": c, "q3": f"{b} {c}"}, k=10),
    }
    assert _jobs(spark, calls[kind]) == want


def test_matchall_and_open_bound_plans(built, spark):
    """Round 4, final: the `*:*` constant-score path is docmap-only —
    no postings scan anywhere in the plan, doc_id-projected — with the
    open-bounded range's single surviving comparison pushed to the
    parquet reader; the mixed constant+BM25 path keeps the postings
    scan (bucket-pruned) for the scored channel while the padding
    channel still reads only doc_id."""
    qs = engine.QuerySession(spark, built)

    # pure *:* + open range: no postings decode, one-sided pushdown
    df = qs.query_string("*:* size:[* TO 800]", k=10)
    scans = _scans(df)
    assert scans and all("docs_enc" not in s[0] for s in scans), \
        "*:* alone must never scan postings"
    dm = [s for s in scans if "size" in s[3]]
    assert any("LessThanOrEqual(size,800" in pu
               and "GreaterThan" not in pu for _, _, pu, _ in dm)
    assert all("content" not in rs for _, _, _, rs in scans)

    # open low bound beside a scoring term: only >= survives
    df2 = qs.query_string(f"{HOT_TERM} size:[250 TO *]", k=10)
    dm2 = [s for s in _scans(df2) if "docs_enc" not in s[0]
           and "size" in s[3]]
    assert any("GreaterThanOrEqual(size,250" in pu
               and "LessThanOrEqual(size," not in pu
               for _, _, pu, _ in dm2)

    # mixed *:* + term: postings stay bucket-pruned, pads read doc_id
    df3 = qs.query_string(f"*:* {HOT_TERM}", k=10)
    scans3 = _scans(df3)
    post = [s for s in scans3 if "docs_enc" in s[0]]
    assert post and all("bucket" in pf for _, pf, _, _ in post)
    assert all("content" not in rs for _, _, _, rs in scans3)


def test_federated_merge_is_take_ordered_not_sort(built, spark):
    """federated_topk's cross-root merge must plan as
    TakeOrderedAndProject over the per-root unions (per-partition heaps +
    a k-row driver merge), never a global Sort — the merge moves at most
    roots*k rows regardless of corpus size."""
    out = engine.federated_topk(spark, [built, built], HOT_TERM, k=5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    head = plan.split("FlatMapCoGroupsInPandas")[0]
    assert "Sort " not in head, head  # no global sort above the scorers
    rows = out.collect()
    assert len(rows) == 5
    # identical roots: every hit appears under both root ids pairwise
    assert [r.root_id for r in rows[:2]] == [0, 1]
    assert rows[0].doc_id == rows[1].doc_id
