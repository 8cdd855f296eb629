"""The two workloads, driven through the public API of
``luceneindexer_spark`` by one closed-loop client: each call is sent only
after the previous one has returned, with no think time.

``serve`` replays a fixed 16-request mix of single ``topk`` /
``query_string`` calls on a cached ``QuerySession``; ``batch`` alternates
64-query ``topk_batch`` passes (conjunctions, then disjunctions) on the same
kind of session. Both share the set-up: build a positional index over the
generated corpus and open the cached session, twice untimed as a warm-up,
then three times timed, keeping the last.

Every result is checked against the DuckDB oracle outside the timed region.
"""

from __future__ import annotations

import hashlib
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass
from pathlib import Path

import pyarrow.parquet as pq

from luceneindexer_spark.corpus import synth_corpus
from luceneindexer_spark.index.build import build_index
from luceneindexer_spark.index.check import check_index
from luceneindexer_spark.query.engine import QuerySession

from env import RssMeter, SparkRun
from inputs import DOCS, K, Request, batch_sets, serve_mix
from oracle import Expected, OracleJob, Spec, check
from spans import Tracer

#: untimed set-ups before the timed ones. Each build keeps the JIT compiler
#: busy (4-9 s of compile time per build on a 4-vCPU host, the most in the
#: first ones), so set-up time still falls over the first few builds of a run
WARM_SETUPS = 2
#: timed set-ups per run; setup_s and build_docs_per_s are their medians
SETUPS = 3


def file_bytes(path: Path) -> int:
    """Bytes of the data files under path (not _SUCCESS / .crc files)."""
    return sum(f.stat().st_size for f in path.rglob("*")
               if f.is_file() and not f.name.startswith(("_", ".")))


@dataclass
class Call:
    """One timed engine call: topk(...) / topk_batch(...) is compile,
    collect() is execute."""
    cls: str
    compile_s: float
    execute_s: float
    queries: int
    group: str | None = None

    @property
    def latency_s(self) -> float:
        return self.compile_s + self.execute_s


@dataclass
class Tally:
    """Checked operations, and the failed ones (reported on stderr)."""
    attempted: int = 0
    failed: int = 0

    def record(self, what: str, problem: str | None) -> None:
        self.attempted += 1
        if problem is not None:
            self.failed += 1
            print(f"perfbench: FAILED {what}: {problem}", file=sys.stderr)


def _spec(r: Request) -> Spec:
    if r.cls == "qstring":
        parts = r.text.split()
        return Spec(r.qid, "and", " ".join(p[1:] for p in parts
                                           if p[0] == "+"), r.k,
                    " ".join(p[1:] for p in parts if p[0] == "-"))
    return Spec(r.qid, r.mode, r.text, r.k, r.must_not)


class Bench:
    def __init__(self, env: SparkRun, workload: str, seed: int,
                 traced: bool, docs: int = DOCS,
                 corrupt: bool = False) -> None:
        self.env = env
        self.spark = env.spark
        self.workload = workload
        self.seed = seed
        self.docs = docs
        self.corrupt = corrupt
        self.run_id = f"{workload}-{seed}-{time.time_ns()}"
        self.tracer = Tracer(self.spark.sparkContext, self.run_id, False)
        self.traced = traced
        self.rss = RssMeter()
        self.tally = Tally()
        self.corpus_dir = env.dir / "corpus"
        self.setups: list[dict] = []
        self.qs: QuerySession | None = None
        self.index: Path | None = None
        if workload == "serve":
            self.cycle = serve_mix(seed)
        else:
            sets = batch_sets(seed)
            self.cycle = [("and", sets["and"]), ("or", sets["or"])]
        self.expected: dict[str, Expected] = {}

    # ---- set-up ------------------------------------------------------
    def generate(self) -> None:
        synth_corpus(self.spark, self.docs, seed=self.seed,
                     partitions=self.env.cpus).write.parquet(
                         str(self.corpus_dir))
        self.corpus_bytes = file_bytes(self.corpus_dir)

    def warm_up_setups(self) -> None:
        """Run WARM_SETUPS whole set-ups untimed (build the full index, open
        and close a cached session), so that the timed set-ups start with a
        warm JVM, compiled code paths and running Python workers."""
        warm = self.env.dir / "warm-up"
        for _ in range(WARM_SETUPS):
            corpus = self.spark.read.parquet(str(self.corpus_dir))
            t0 = time.perf_counter()
            build_index(self.spark, corpus, str(warm), positions=True)
            QuerySession(self.spark, str(warm), cache=True).close()
            print("perfbench: warm-up set-up "
                  f"{time.perf_counter() - t0:.2f} s", file=sys.stderr)
            shutil.rmtree(warm)

    def setup(self) -> None:
        """Build the index and open the cached session SETUPS times; the
        last repetition's index and session serve the run. In a traced run
        only the last repetition is traced. The oracle runs during the
        untimed warm-up set-ups and is done before the first timed one."""
        oracle = self.start_oracle()
        try:
            self.warm_up_setups()
        finally:
            t0 = time.perf_counter()
            self.expected = oracle.result()
            print("perfbench: oracle wait "
                  f"{time.perf_counter() - t0:.2f} s", file=sys.stderr)
        if self.corrupt:
            # self-test hook: a wrong expected answer must be caught
            e = next(e for e in self.expected.values() if e.scores)
            e.scores = {d: s + 1e-3 for d, s in e.scores.items()}
        for r in range(SETUPS):
            self.tracer.enabled = self.traced and r == SETUPS - 1
            if self.qs is not None:
                self.qs.close()
                shutil.rmtree(self.index)
            self.index = self.env.dir / f"index-{r}"
            corpus = self.spark.read.parquet(str(self.corpus_dir))
            t0 = time.perf_counter()
            with self.tracer.span("index.build", jobs=True) as g_build:
                report = build_index(self.spark, corpus, str(self.index),
                                     positions=True)
            t1 = time.perf_counter()
            with self.tracer.span("query.engine.open_cached", jobs=True):
                self.qs = QuerySession(self.spark, str(self.index),
                                       cache=True)
            t2 = time.perf_counter()
            self.tally.record(f"setup {r}", None if report["n_docs"] > 0
                              else "empty index")
            self.setups.append({
                "build_s": t1 - t0, "open_s": t2 - t1, "setup_s": t2 - t0,
                "n_docs": report["n_docs"], "report": report,
                "build_group": g_build,
                "index_bytes": sum(file_bytes(self.index / d) for d in
                                   ("docmap", "postings", "term_stats"))})
            self.rss.sample()
        self.tracer.enabled = False

    def check_index_integrity(self, audit: bool) -> None:
        """The BASELINE invariant (per-row content_sha256 = sha256 of the
        source content, one row per live source key) and, with ``audit``,
        ``check_index``."""
        src = pq.read_table(str(self.corpus_dir)).to_pandas()
        live = (src.sort_values("commit", ascending=False)
                .drop_duplicates(["repo", "path"]))
        want = {(r.repo, r.path, r.commit):
                hashlib.sha256(r.content.encode()).hexdigest()
                for r in live.itertuples()}
        dm = pq.read_table(str(self.index / "docmap"),
                           columns=["repo", "path", "commit",
                                    "content_sha256"]).to_pandas()
        got = {(r.repo, r.path, r.commit): r.content_sha256
               for r in dm.itertuples()}
        problem = None
        if len(dm) != len(want) or got != want:
            bad = sum(1 for k, v in want.items() if got.get(k) != v)
            problem = (f"docmap has {len(dm)} rows for {len(want)} live keys,"
                       f" {bad} content_sha256 mismatches")
        self.tally.record("content_sha256", problem)
        if not audit:
            return
        row = check_index(self.spark, str(self.index)).collect()[0]
        v = int(row["structural_violations"]) + int(row["stats_mismatches"])
        self.tally.record("check_index", f"{v} violations" if v else None)

    def start_oracle(self) -> OracleJob:
        """Start computing the expected answers of every distinct request."""
        if self.workload == "serve":
            specs = [_spec(r) for r in self.cycle]
        else:
            specs = [Spec(f"{cls}/{qid}", cls, text, K)
                     for cls, qs in self.cycle for qid, text in qs.items()]
        return OracleJob(str(self.corpus_dir / "*.parquet"), self.env.cpus,
                         self.env.dir / "tmp", specs)

    # ---- the client --------------------------------------------------
    def call(self, item) -> Call:
        """Send one request, wait for its result, check it (untimed). A call
        that raises counts as failed, timed until it raised, and the client
        goes on."""
        t0 = t1 = None
        rows, problem = None, None
        with self.tracer.span(f"call.{self._cls(item)}", jobs=True) as g:
            try:
                with self.tracer.span("query.engine.compile"):
                    t0 = time.perf_counter()
                    df = self._plan(item)
                    t1 = time.perf_counter()
                with self.tracer.span("query.engine.execute"):
                    rows = df.collect()
            except Exception:
                problem = traceback.format_exc(limit=3)
            t2 = time.perf_counter()
        t0 = t2 if t0 is None else t0
        t1 = t2 if t1 is None else t1
        self.rss.sample()
        self.tally.record(f"{self.workload} {self._name(item)}",
                          problem or self._verify(item, rows))
        n = 1 if self.workload == "serve" else len(item[1])
        return Call(self._cls(item), t1 - t0, t2 - t1, n, g)

    def _cls(self, item) -> str:
        return item.cls if isinstance(item, Request) else item[0]

    def _name(self, item) -> str:
        return item.qid if isinstance(item, Request) else f"{item[0]} pass"

    def _plan(self, item):
        qs = self.qs
        if isinstance(item, Request):
            if item.cls == "qstring":
                return qs.query_string(item.text, k=item.k)
            return qs.topk(item.text, k=item.k, mode=item.mode,
                           must_not=item.must_not)
        cls, queries = item
        return qs.topk_batch(queries, k=K, mode=cls)

    def _verify(self, item, rows) -> str | None:
        if isinstance(item, Request):
            return check([(int(r["doc_id"]), float(r["score"]))
                          for r in rows], self.expected[item.qid])
        cls, queries = item
        by_q: dict[str, list] = {q: [] for q in queries}
        for r in rows:
            by_q[r["query_id"]].append(
                (int(r["rank"]), int(r["doc_id"]), float(r["score"])))
        for q, got in by_q.items():
            problem = check([(d, s) for _, d, s in sorted(got)],
                            self.expected[f"{cls}/{q}"])
            if problem:
                return f"{q}: {problem}"
        return None

    def warm_up(self) -> None:
        """One untimed call of each class before timing starts: the first
        call of a class on a new session runs its scorer UDFs cold."""
        first: dict[str, object] = {}
        for item in self.cycle:
            first.setdefault(self._cls(item), item)
        for item in first.values():
            self.call(item)

    def window(self, seconds: float, traced: bool) -> list[Call]:
        """Replay whole cycles until ``seconds`` have passed. The deadline is
        checked only between cycles, so every window holds each request of
        the cycle equally often, whatever the engine's speed."""
        self.tracer.enabled = traced
        calls: list[Call] = []
        end = time.perf_counter() + seconds
        while time.perf_counter() < end:
            calls += [self.call(item) for item in self.cycle]
        self.tracer.enabled = False
        return calls


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (q in [0, 100])."""
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def call_metrics(calls: list[Call]) -> dict[str, float]:
    lat = [c.latency_s for c in calls]
    return {
        "call_p50_ms": 1e3 * statistics.median(lat),
        "call_p90_ms": 1e3 * percentile(lat, 90),
        "queries_per_s": sum(c.queries for c in calls) / sum(lat),
    }
