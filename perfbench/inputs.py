"""Seeded inputs: the corpus size, the ``serve`` request mix, the ``batch``
query sets and the upsert batches of the ingest probe.

Everything here is a pure function of the workload seed; the engine only
ever sees the generated corpus and query texts.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import numpy as np
import pandas as pd

from luceneindexer_spark.corpus import (_VOCAB, HOT_TERM, LANG_BY_EXT,
                                        PHRASE, RARE_TERM)
from luceneindexer_spark.query.oracle import query_terms

#: documents in the generated corpus (``synth_corpus`` adds ~5% second
#: revisions, which the docmap dedups): 8 doc ranges of 1024, two full
#: waves of scorer tasks on 4 cores
DOCS = 8_000
#: results per query, except the ``k100`` class
K = 10
#: queries per ``topk_batch`` pass
BATCH_QUERIES = 64
#: documents per upsert batch of the ingest probe; 5% of them are newer
#: revisions of keys that already exist
UPSERT_DOCS = 400
UPSERT_REVISED = 0.05


@dataclass(frozen=True)
class Request:
    """One engine call of the ``serve`` mix. ``qstring`` requests go through
    ``query_string``; the rest through ``topk``."""
    qid: str
    cls: str            # and | or | phrase | k100 | must_not | qstring
    text: str
    mode: str = "and"   # topk mode: and | or | phrase
    k: int = K
    must_not: str | None = None


def _words() -> tuple[list[str], list[str]]:
    """Vocabulary words in the corpus's Zipf rank order, split into
    single-token words and compound (camelCase / snake_case) words."""
    single = [w for w in _VOCAB if len(query_terms(w)) == 1]
    compound = [w for w in _VOCAB if len(query_terms(w)) > 1]
    return single, compound


def _distinct(rng: np.random.Generator, pool: list[str], n: int) -> list[str]:
    """n words from pool whose token sets do not overlap."""
    out: list[str] = []
    seen: set[str] = set()
    for i in rng.permutation(len(pool)):
        toks = set(query_terms(pool[i]))
        if toks & seen:
            continue
        out.append(pool[i])
        seen |= toks
        if len(out) == n:
            return out
    raise ValueError("vocabulary too small")


def serve_mix(seed: int) -> list[Request]:
    """The fixed 16-request cycle the ``serve`` client replays: seven ``and``
    shapes (1, 2 and 3 terms, hot, rare, camelCase, snake_case), two each of
    ``or``, ``phrase``, ``k100`` and ``must_not``, and one ``qstring``. The
    seed picks the words; the shapes and their order are fixed."""
    rng = np.random.default_rng((seed, 1))
    single, compound = _words()
    top = _VOCAB[:12]                     # the most frequent words
    snake = [w for w in compound if "_" in w]
    camel = [w for w in compound if "_" not in w]
    reqs: list[tuple] = []
    a1, = _distinct(rng, single, 1)
    a2 = _distinct(rng, single, 2)
    a3 = _distinct(rng, single, 3)
    reqs += [("and", a1), ("and", " ".join(a2)), ("and", " ".join(a3)),
             ("and", f"{HOT_TERM} {_distinct(rng, top, 1)[0]}"),
             ("and", RARE_TERM),
             ("and", _distinct(rng, camel, 1)[0]),
             ("and", snake[int(rng.integers(len(snake)))])]
    out = [Request(f"s{i}", c, t) for i, (c, t) in enumerate(reqs)]
    for j in range(2):
        w = _distinct(rng, single + compound, 2 + j)
        out.append(Request(f"o{j}", "or", " ".join(w), mode="or"))
    out.append(Request("p0", "phrase", " ".join(_distinct(rng, top, 2)),
                       mode="phrase"))
    out.append(Request("p1", "phrase", PHRASE, mode="phrase"))
    for j in range(2):
        w, = _distinct(rng, top, 1)
        out.append(Request(f"k{j}", "k100", w, k=100))
    for j in range(2):
        w = _distinct(rng, single, 3)
        out.append(Request(f"n{j}", "must_not", " ".join(w[:2]),
                           must_not=w[2]))
    w = _distinct(rng, single, 3)
    out.append(Request("q0", "qstring", f"+{w[0]} +{w[1]} -{w[2]}"))
    return out


def batch_sets(seed: int) -> dict[str, dict[str, str]]:
    """Two fixed 64-query sets, replayed alternately by the ``batch``
    client: distinct two-term conjunctions, and distinct 2-3 term
    disjunctions, all over single-token words."""
    rng = np.random.default_rng((seed, 2))
    tokens = sorted({t for w in _VOCAB for t in query_terms(w)})
    pairs = [(a, b) for i, a in enumerate(tokens) for b in tokens[i + 1:]]
    pick = rng.choice(len(pairs), size=BATCH_QUERIES, replace=False)
    and_q = {f"a{i}": " ".join(pairs[j]) for i, j in enumerate(pick)}
    or_q: dict[str, str] = {}
    seen: set[tuple[str, ...]] = set()
    while len(or_q) < BATCH_QUERIES:
        n = 2 + int(rng.integers(2))
        q = tuple(sorted(rng.choice(tokens, size=n, replace=False)))
        if q not in seen:
            seen.add(q)
            or_q[f"o{len(or_q)}"] = " ".join(q)
    return {"and": and_q, "or": or_q}


def planted_term(seed: int, batch: int) -> str:
    """A letters-only token that occurs in no generated document: every
    document of upsert batch ``batch`` carries it."""
    h = hashlib.sha256(f"{seed}/{batch}".encode()).digest()
    return "zq" + "".join(chr(ord("a") + x % 26) for x in h[:8])


def upsert_batch(seed: int, batch: int, corpus: pd.DataFrame,
                 previous: pd.DataFrame | None) -> pd.DataFrame:
    """Upsert batch ``batch``: new keys plus ~5% newer revisions of existing
    keys — of the previous batch's keys when there is one, so that its
    planted term then has to disappear from the superseded documents, else
    of corpus keys. ``corpus`` holds the live (repo, path, commit, content)
    rows. Every row carries the batch's planted term."""
    rng = np.random.default_rng((seed, 3, batch))
    plant = planted_term(seed, batch)
    n_rev = max(1, int(UPSERT_DOCS * UPSERT_REVISED))
    src = previous if previous is not None else corpus
    rev = src.iloc[rng.choice(len(src), size=n_rev, replace=False)]
    words = np.array(_VOCAB)
    rows = []
    for r in rev.itertuples():
        body = " ".join(rng.choice(words, size=40))
        # a commit string greater than the live one: strictly newer
        rows.append((r.repo, r.path, r.commit + "1", r.lang,
                     f"{body} {plant}"))
    exts = list(LANG_BY_EXT)
    for i in range(UPSERT_DOCS - n_rev):
        ext = exts[i % len(exts)]
        body = " ".join(rng.choice(words, size=int(rng.integers(20, 200))))
        rows.append((f"upsert/b{batch}", f"src/n{i}.{ext}",
                     hashlib.sha256(f"{seed}/{batch}/{i}".encode())
                     .hexdigest()[:40], LANG_BY_EXT[ext], f"{body} {plant}"))
    return pd.DataFrame(rows, columns=["repo", "path", "commit", "lang",
                                       "content"])
