"""Expected answers from DuckDB, and the tie-aware comparison the benchmark
applies to every engine result.

The oracle never reads the engine's index. It dedups the generated corpus
(latest commit per (repo, path)), numbers documents in (repo, path, commit)
order, tokenizes with the DuckDB twin of the pinned tokenizer
(``tokenizer.duckdb_tokens_pos_cte``) and scores BM25 in SQL.
"""

from __future__ import annotations

import json
import subprocess
import sys
from dataclasses import asdict, dataclass
from pathlib import Path

import duckdb

from luceneindexer_spark import BM25_B, BM25_K1
from luceneindexer_spark.query.oracle import query_terms
from luceneindexer_spark.tokenizer import duckdb_tokens_pos_cte, tokenize_text

#: score tolerance: scores agree to 1e-9; documents whose scores lie within
#: it of each other form one tie class, whose order is not checked
TOL = 1e-9


@dataclass
class Expected:
    """Oracle answer for one query: the number of matching documents, the
    k-th best score, and every match scoring within 1e-6 of it or above."""
    k: int
    n_match: int
    kth: float
    scores: dict[int, float]


@dataclass(frozen=True)
class Spec:
    """A query in oracle terms. mode: and | or | phrase."""
    qid: str
    mode: str
    text: str
    k: int
    deny: str | None = None


class Oracle:
    def __init__(self, corpus_glob: str, threads: int, temp_dir: str):
        self.con = duckdb.connect(config={"threads": threads,
                                          "temp_directory": temp_dir})
        c = self.con
        c.execute(f"""
            CREATE TABLE docs AS
            SELECT (row_number() OVER (ORDER BY repo, path, commit)) - 1
                   AS doc_id, content
            FROM (SELECT *, row_number() OVER (PARTITION BY repo, path
                                               ORDER BY commit DESC) AS rn
                  FROM read_parquet('{corpus_glob}'))
            WHERE rn = 1""")
        c.execute("CREATE TABLE tokp AS "
                  + duckdb_tokens_pos_cte("docs", "doc_id", "content"))
        c.execute("""CREATE TABLE tf AS SELECT term, doc_id,
                     count(*)::DOUBLE AS tf FROM tokp GROUP BY term, doc_id""")
        c.execute(f"""
            CREATE TABLE contrib AS
            WITH dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tokp
                        GROUP BY doc_id),
                 st AS (SELECT (SELECT count(*) FROM docs)::DOUBLE AS n,
                               (SELECT sum(dl) FROM dl)
                               / (SELECT count(*) FROM docs) AS avgdl),
                 df AS (SELECT term, count(*)::DOUBLE AS df FROM tf
                        GROUP BY term)
            SELECT tf.term, tf.doc_id,
                   ln(1 + (st.n - df.df + 0.5) / (df.df + 0.5)) * tf.tf
                   * {BM25_K1 + 1} / (tf.tf + {BM25_K1} * (1 - {BM25_B}
                   + {BM25_B} * dl.dl / st.avgdl)) AS c
            FROM tf JOIN df USING (term) JOIN dl USING (doc_id)
            CROSS JOIN st""")

    def close(self) -> None:
        self.con.close()

    def expect(self, specs: list[Spec]) -> dict[str, Expected]:
        c = self.con
        qterms, qinfo, phrase_rows = [], [], []
        for s in specs:
            terms = query_terms(s.text)
            deny = query_terms(s.deny) if s.deny else []
            if s.mode == "or":
                terms = [t for t in terms if t not in deny]
            qterms += [(s.qid, t, "pos") for t in terms]
            qterms += [(s.qid, t, "neg") for t in deny]
            qinfo.append((s.qid, s.mode, len(terms), s.k))
            if s.mode == "phrase":
                phrase_rows += [(s.qid, d) for d in
                                self._phrase_docs(tokenize_text(s.text))]
        c.execute("CREATE OR REPLACE TEMP TABLE qt (qid VARCHAR, term VARCHAR,"
                  " role VARCHAR)")
        c.execute("CREATE OR REPLACE TEMP TABLE qi (qid VARCHAR, mode VARCHAR,"
                  " nt BIGINT, k BIGINT)")
        c.execute("CREATE OR REPLACE TEMP TABLE ph (qid VARCHAR, doc_id"
                  " BIGINT)")
        for table, rows in (("qt", qterms), ("qi", qinfo),
                            ("ph", phrase_rows)):
            if rows:
                c.executemany(f"INSERT INTO {table} VALUES "
                              f"({', '.join('?' * len(rows[0]))})", rows)
        res = c.execute("""
            WITH s AS (
              SELECT q.qid, x.doc_id, sum(x.c) AS score, count(*) AS nt
              FROM qt q JOIN contrib x USING (term) WHERE q.role = 'pos'
              GROUP BY q.qid, x.doc_id),
            m AS (
              SELECT s.qid, s.doc_id, s.score FROM s JOIN qi USING (qid)
              WHERE (qi.mode = 'or' OR s.nt = qi.nt)
                AND (qi.mode <> 'phrase' OR EXISTS (
                     SELECT 1 FROM ph WHERE ph.qid = s.qid
                                        AND ph.doc_id = s.doc_id))
                AND NOT EXISTS (
                     SELECT 1 FROM qt n JOIN tf USING (term)
                     WHERE n.role = 'neg' AND n.qid = s.qid
                       AND tf.doc_id = s.doc_id)),
            r AS (
              SELECT m.*, row_number() OVER (PARTITION BY qid
                        ORDER BY score DESC, doc_id) AS rk,
                     count(*) OVER (PARTITION BY qid) AS n
              FROM m),
            kth AS (
              SELECT r.qid, min(r.score) AS ks FROM r JOIN qi USING (qid)
              WHERE r.rk <= qi.k GROUP BY r.qid)
            SELECT r.qid, r.doc_id, r.score, r.n, kth.ks
            FROM r JOIN kth USING (qid) WHERE r.score >= kth.ks - 1e-6
        """).fetchall()
        out = {s.qid: Expected(s.k, 0, float("inf"), {}) for s in specs}
        for qid, doc, score, n, ks in res:
            e = out[qid]
            e.n_match, e.kth = int(n), float(ks)
            e.scores[int(doc)] = float(score)
        return out

    def _phrase_docs(self, toks: list[str]) -> list[int]:
        if not toks:
            return []
        joins = "".join(
            f" JOIN tokp a{i} ON a{i}.doc_id = a0.doc_id"
            f" AND a{i}.pos = a0.pos + {i} AND a{i}.term = ?"
            for i in range(1, len(toks)))
        rows = self.con.execute(
            f"SELECT DISTINCT a0.doc_id FROM tokp a0{joins}"
            f" WHERE a0.term = ?", [*toks[1:], toks[0]]).fetchall()
        return [int(r[0]) for r in rows]


class OracleJob:
    """Answers every spec in a child process, so that the oracle's memory is
    not counted as the benchmark's and its work can overlap untimed work."""

    def __init__(self, corpus_glob: str, threads: int, work_dir: Path,
                 specs: list[Spec]) -> None:
        self.src = work_dir / "oracle-specs.json"
        self.dst = work_dir / "oracle-expected.json"
        self.src.write_text(json.dumps([asdict(s) for s in specs]))
        self.proc = subprocess.Popen(
            [sys.executable, __file__, corpus_glob, str(threads),
             str(work_dir), str(self.src), str(self.dst)],
            stderr=subprocess.PIPE, text=True)

    def result(self) -> dict[str, Expected]:
        _, err = self.proc.communicate()
        if self.proc.returncode != 0:
            raise RuntimeError(f"oracle failed:\n{err}")
        return {qid: Expected(e["k"], e["n_match"], e["kth"],
                              {int(d): s for d, s in e["scores"].items()})
                for qid, e in json.loads(self.dst.read_text()).items()}


def _main(corpus_glob: str, threads: str, temp_dir: str, src: str,
          dst: str) -> None:
    specs = [Spec(**s) for s in json.loads(Path(src).read_text())]
    oracle = Oracle(corpus_glob, int(threads), temp_dir)
    try:
        out = oracle.expect(specs)
    finally:
        oracle.close()
    Path(dst).write_text(json.dumps({q: asdict(e) for q, e in out.items()}))


def check(rows: list[tuple[int, float]], exp: Expected) -> str | None:
    """Compare one engine result, in the engine's rank order, with the
    oracle. Returns None when it matches, else the first difference.

    Scores must agree within TOL and be non-increasing; the result must hold
    min(k, matches) documents, every document scoring above the k-th score
    by more than TOL, and only documents tied with or above the k-th."""
    want = min(exp.k, exp.n_match)
    if len(rows) != want:
        return f"{len(rows)} rows, expected {want}"
    prev = float("inf")
    got = set()
    for doc, score in rows:
        o = exp.scores.get(doc)
        if o is None:
            return f"doc {doc} is not among the top {exp.k}"
        if abs(o - score) > TOL:
            return f"doc {doc} scored {score!r}, expected {o!r}"
        if score > prev + TOL:
            return f"doc {doc} out of rank order"
        if score < exp.kth - TOL:
            return f"doc {doc} scores below the k-th score"
        prev = score
        got.add(doc)
    missing = [d for d, s in exp.scores.items()
               if s > exp.kth + TOL and d not in got]
    if missing:
        return f"missing docs {sorted(missing)[:5]}"
    return None


if __name__ == "__main__":
    _main(*sys.argv[1:])
