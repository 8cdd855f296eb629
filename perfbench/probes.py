"""Layer probes of the traced run, timed around calls into one module each,
after the measured windows: tokenizer, codecs and parser in-process, and
the incremental-ingest path (upserts, tombstones, the uncached disk path)
on the run's index.
"""

from __future__ import annotations

import statistics
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from luceneindexer_spark.codecs import EncodedPostings, decode_postings
from luceneindexer_spark.ops.maintenance import read_deletes
from luceneindexer_spark.query.engine import QuerySession
from luceneindexer_spark.query.oracle import query_terms
from luceneindexer_spark.query.parser import parse_query_string
from luceneindexer_spark.streaming.incremental import append_documents
from luceneindexer_spark.tokenizer import tokenize_flat_arrow

from inputs import UPSERT_DOCS, planted_term, upsert_batch

#: how long each in-process micro-probe repeats its call
PROBE_S = 0.5
#: upsert batches of the ingest probe; the last one is then replayed
UPSERT_BATCHES = 2
UPSERT_SCHEMA = ("repo string, path string, commit string, lang string, "
                 "content string")


def _repeat(fn, seconds: float = PROBE_S) -> tuple[int, float]:
    """Call fn until ``seconds`` have passed; returns (calls, elapsed)."""
    n, t0 = 0, time.perf_counter()
    while True:
        fn()
        n += 1
        el = time.perf_counter() - t0
        if el >= seconds:
            return n, el


def tokenizer_mb_per_s(corpus_dir: str, rows: int = 2000) -> float:
    """``tokenize_flat_arrow`` over a fixed Arrow sample of corpus content."""
    col = pq.read_table(corpus_dir, columns=["content"]).column("content")
    # a fresh, unsliced array: the tokenizer reads the Arrow buffers
    arr = pa.array(col.slice(0, rows).to_pylist(), type=pa.string())
    mb = pc.sum(pc.binary_length(arr)).as_py() / 1e6
    n, el = _repeat(lambda: tokenize_flat_arrow(arr))
    return mb * n / el


def _postings_rows(index: str, terms: list[str]) -> list[EncodedPostings]:
    tbl = ds.dataset(f"{index}/postings", format="parquet",
                     partitioning="hive").to_table(
        filter=ds.field("term").isin(terms))
    out = []
    for r in tbl.to_pylist():
        out.append(EncodedPostings(
            n=int(r["df"]), max_tf=int(r["max_tf"]),
            block_first=np.asarray(r["block_first"], dtype=np.int64),
            block_last=np.asarray(r["block_last"], dtype=np.int64),
            block_maxtf=np.asarray(r["block_maxtf"], dtype=np.int32),
            block_mintf=np.asarray(r["block_mintf"], dtype=np.int32),
            block_off_d=np.asarray(r["block_off_d"], dtype=np.int32),
            block_off_t=np.asarray(r["block_off_t"], dtype=np.int32),
            block_n=np.asarray(r["block_n"], dtype=np.int32),
            docs_enc=bytes(r["docs_enc"]), tfs_enc=bytes(r["tfs_enc"])))
    return out


def codec_metrics(index: str, texts: list[str],
                  postings_bytes: int) -> dict[str, float]:
    """``decode_postings`` µs per 1k postings over the query terms' postings
    rows, and postings bytes per posting over the whole index."""
    terms = sorted({t for q in texts for t in query_terms(q)})
    eps = _postings_rows(index, terms)
    n_post = sum(ep.n for ep in eps)

    def decode_all():
        for ep in eps:
            decode_postings(ep)
    n, el = _repeat(decode_all)
    total = pq.read_table(f"{index}/postings", columns=["df"]).column("df")
    return {
        "codecs.decode_us_per_1k": 1e6 * el / n / max(1, n_post) * 1e3,
        "codecs.bytes_per_posting":
            postings_bytes / max(1, int(np.sum(total.to_numpy()))),
    }


def parse_us(texts: list[str]) -> float:
    """``parse_query_string`` µs per query over the mix's query texts."""
    n, el = _repeat(lambda: [parse_query_string(t) for t in texts])
    return 1e6 * el / (n * len(texts))


def cache_mb(spark) -> float:
    """Storage memory held by cached relations."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() for i in infos) / (1 << 20)


def ingest(bench) -> dict:
    """Upsert UPSERT_BATCHES batches and then replay the last one. After
    each, open an uncached session (the CLI's disk path) and query the
    batch's planted term; the time from submitting the batch to that result
    is the freshness. Checks, outside the timed region:

    - the planted term returns exactly the batch's documents, at the
      batch's commits;
    - the previous batch's planted term no longer returns the documents
      this batch superseded;
    - the replay changes neither the docmap nor the tombstones.
    """
    spark, tracer, tally = bench.spark, bench.tracer, bench.tally
    index = str(bench.index)
    src = pq.read_table(str(bench.corpus_dir)).to_pandas()
    live = (src.sort_values("commit", ascending=False)
            .drop_duplicates(["repo", "path"]))
    steps = []
    prev = None
    plan = list(range(UPSERT_BATCHES)) + [UPSERT_BATCHES - 1]
    for i, b in enumerate(plan):
        replay = i == len(plan) - 1
        if not replay:
            batch = upsert_batch(bench.seed, b, live, prev)
        before = _docmap_state(spark, index) if replay else None
        df = spark.createDataFrame(batch, UPSERT_SCHEMA)
        plant = planted_term(bench.seed, b)
        t0 = time.perf_counter()
        with tracer.span("streaming.incremental.append", jobs=True) as g:
            report = append_documents(spark, index, df)
        t1 = time.perf_counter()
        with tracer.span("query.engine.open_disk", jobs=True):
            dq = QuerySession(spark, index, cache=False)
        t2 = time.perf_counter()
        with tracer.span("query.engine.disk_compile", jobs=True):
            qdf = dq.topk(plant, k=2 * UPSERT_DOCS)
        t3 = time.perf_counter()
        with tracer.span("query.engine.disk_execute", jobs=True):
            hits = qdf.collect()
        t4 = time.perf_counter()
        bench.rss.sample()
        steps.append({"append_s": t1 - t0, "open_ms": 1e3 * (t2 - t1),
                      "compile_ms": 1e3 * (t3 - t2),
                      "execute_ms": 1e3 * (t4 - t3), "fresh_s": t4 - t0,
                      "ranges_built": report["ranges_built"], "group": g})
        want = {(r.repo, r.path, r.commit) for r in batch.itertuples()}
        tally.record(f"upsert {b}{' replay' if replay else ''}",
                     _keys_problem(spark, index, hits, want))
        if prev is not None and not replay:
            revised = set(zip(batch.repo, batch.path))
            keep = {(r.repo, r.path, r.commit) for r in prev.itertuples()
                    if (r.repo, r.path) not in revised}
            old = dq.topk(planted_term(bench.seed, b - 1),
                          k=2 * UPSERT_DOCS).collect()
            tally.record(f"upsert {b} supersedes",
                         _keys_problem(spark, index, old, keep))
        if replay:
            after = _docmap_state(spark, index)
            tally.record("upsert replay is a no-op",
                         None if after == before else
                         f"docmap rows / tombstones {before} -> {after}")
        prev = batch
    tombstones = read_deletes(spark, index).count()
    return {"steps": steps, "tombstones": tombstones}


def _docmap_state(spark, index: str) -> tuple[int, int]:
    return (spark.read.parquet(f"{index}/docmap").count(),
            read_deletes(spark, index).count())


def _keys_problem(spark, index: str, hits, want: set) -> str | None:
    ids = [int(r["doc_id"]) for r in hits]
    rows = (spark.read.parquet(f"{index}/docmap")
            .filter(F.col("doc_id").isin(ids))
            .select("repo", "path", "commit").collect())
    got = {(r["repo"], r["path"], r["commit"]) for r in rows}
    if len(ids) != len(got) or got != want:
        return (f"{len(ids)} hits / {len(got)} keys, expected {len(want)};"
                f" {len(got - want)} unexpected, {len(want - got)} missing")
    return None


def ingest_metrics(result: dict, groups: dict) -> dict[str, float]:
    steps = result["steps"]

    def med(key):
        return statistics.median(s[key] for s in steps)
    jobs = [groups.get(s["group"], {}).get("jobs", 0.0) for s in steps]
    return {
        "streaming.incremental.append_p50_s": med("append_s"),
        "streaming.incremental.fresh_p50_s": med("fresh_s"),
        "streaming.incremental.ranges_built":
            float(sum(s["ranges_built"] for s in steps)),
        "streaming.incremental.jobs_per_append": statistics.mean(jobs),
        "ops.maintenance.tombstones": float(result["tombstones"]),
        "query.engine.open_disk_ms": med("open_ms"),
        "query.engine.disk_compile_ms": med("compile_ms"),
        "query.engine.disk_execute_ms": med("execute_ms"),
    }
