"""spark-submit CLI surface: build → query → delete → wipe end-to-end via
the argparse entry point (north_star: packaged for spark-submit --py-files)."""

import json
import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from luceneindexer_spark.corpus import HOT_TERM, synth_corpus


def test_cli_build_query_delete_wipe(spark, tmp_path):
    corpus_dir = str(tmp_path / "corpus")
    synth_corpus(spark, 120, partitions=2).write.parquet(corpus_dir)
    idx = str(tmp_path / "idx")
    env = dict(os.environ, PYTHONPATH="/root/repo")

    def run(*argv):
        r = subprocess.run(
            [sys.executable, "-m", "luceneindexer_spark.cli",
             "--master", "local[2]", *argv],
            capture_output=True, text=True, env=env, timeout=420)
        assert r.returncode == 0, r.stderr[-2000:]
        return [json.loads(line) for line in r.stdout.splitlines()
                if line.startswith("{")]

    rep = run("build", "--input", corpus_dir, "--out", idx,
              "--range-size", "64", "--buckets", "4")
    assert rep[-1]["n_docs"] == 120

    hits = run("query", "--index", idx, HOT_TERM, "-k", "5")
    assert 0 < len(hits) <= 5 and "doc_id" in hits[0]
    top1 = hits[0]["doc_id"]

    run("delete", "--index", idx, "--doc-ids", str(top1))
    hits2 = run("query", "--index", idx, HOT_TERM, "-k", "5")
    assert top1 not in [h["doc_id"] for h in hits2]

    srch = run("search", "--index", idx, "--content", HOT_TERM,
               "--lang", "python", "-k", "3")
    assert all(h["lang"] == "python" for h in srch)

    # extended query modes reach the engine end-to-end
    orx = run("query", "--index", idx, f"{HOT_TERM} zzznope",
              "--mode", "or", "-k", "3")
    assert len(orx) == 3
    pfx = run("query", "--index", idx, HOT_TERM[:5],
              "--mode", "prefix", "-k", "3")
    assert len(pfx) == 3
    fz = run("query", "--index", idx, HOT_TERM[:-1],
             "--mode", "fuzzy", "-k", "3")
    assert len(fz) == 3
    fac = run("query", "--index", idx, HOT_TERM, "--facet", "lang")
    assert {"lang", "cnt"} <= set(fac[0]) and sum(
        f["cnt"] for f in fac) >= len(hits2)

    # batch subcommand: one shared-scan pass, per-query ids + ranks, and
    # the single-query rows agree with the `query` subcommand's answer
    bt = run("batch", "--index", idx, HOT_TERM, f"{HOT_TERM} zzznope",
             "-k", "5")
    assert {r["query_id"] for r in bt} == {"a0"}   # a1's MUST term absent
    assert [r["doc_id"] for r in bt] == [h["doc_id"] for h in hits2]

    run("wipe", "--index", idx)
    assert not os.path.exists(os.path.join(idx, "postings"))


def test_cli_snippet_and_msm(spark, tmp_path):
    corpus_dir = str(tmp_path / "corpus")
    synth_corpus(spark, 80, partitions=2).write.parquet(corpus_dir)
    idx = str(tmp_path / "idx")
    env = dict(os.environ, PYTHONPATH="/root/repo")

    def run(*argv):
        r = subprocess.run(
            [sys.executable, "-m", "luceneindexer_spark.cli",
             "--master", "local[2]", *argv],
            capture_output=True, text=True, env=env, timeout=420)
        assert r.returncode == 0, r.stderr[-2000:]
        return [json.loads(line) for line in r.stdout.splitlines()
                if line.startswith("{")]

    run("build", "--input", corpus_dir, "--out", idx,
        "--range-size", "64", "--buckets", "4")
    snip = run("query", "--index", idx, HOT_TERM, "-k", "3", "--snippet")
    assert len(snip) == 3 and all(
        HOT_TERM in s["snippet"].lower() for s in snip)
    msm = run("query", "--index", idx, f"{HOT_TERM} zzznope", "-k", "3",
              "--mode", "or", "--min-should-match", "2")
    assert msm == []

    # searchAfter pagination: page1 ++ page2(--after pivot) == top-6
    page1 = run("query", "--index", idx, HOT_TERM, "-k", "3")
    pivot = page1[-1]
    page2 = run("query", "--index", idx, HOT_TERM, "-k", "3",
                "--after", f"{pivot['score']}:{pivot['doc_id']}")
    full = run("query", "--index", idx, HOT_TERM, "-k", "6")
    assert ([h["doc_id"] for h in page1 + page2]
            == [h["doc_id"] for h in full])


def test_cli_explain_suggest_check(spark, tmp_path):
    corpus_dir = str(tmp_path / "corpus")
    synth_corpus(spark, 120, partitions=2).write.parquet(corpus_dir)
    idx = str(tmp_path / "idx")
    env = dict(os.environ, PYTHONPATH="/root/repo")

    def run(*argv):
        r = subprocess.run(
            [sys.executable, "-m", "luceneindexer_spark.cli",
             "--master", "local[2]", *argv],
            capture_output=True, text=True, env=env, timeout=420)
        assert r.returncode == 0, r.stderr[-2000:]
        return [json.loads(line) for line in r.stdout.splitlines()
                if line.startswith("{")]

    run("build", "--input", corpus_dir, "--out", idx,
        "--range-size", "64", "--buckets", "4")

    ex = run("explain", "--index", idx, HOT_TERM, "-k", "3")
    assert len(ex) == 3
    assert {"doc_id", "term", "tf", "doclen", "df", "idf",
            "contrib"} <= set(ex[0])

    sg = run("suggest", "--index", idx, HOT_TERM[:-1] + "x")
    assert any(s["suggestion"] == HOT_TERM.lower() for s in sg)

    cnt = run("count", "--index", idx, HOT_TERM)
    assert cnt[0]["n_matches"] > 0

    dym = run("query", "--index", idx, HOT_TERM[:-1] + "x")
    assert dym and "did_you_mean" in dym[-1]
    assert HOT_TERM.lower() in dym[-1]["did_you_mean"].get(
        HOT_TERM.lower()[:-1] + "x", [])

    chk = run("check", "--index", idx)
    assert chk[0]["structural_violations"] == 0
    assert chk[0]["stats_mismatches"] == 0


def test_cli_watch_ingests_and_drains(spark, tmp_path):
    """watch subcommand: availableNow catch-up over a source dir; with
    --debounce the quiet period holds the batch and the CLI's final drain
    flushes it, so the doc is queryable when the command exits."""
    corpus_dir = str(tmp_path / "wcorpus")
    synth_corpus(spark, 80, partitions=2).write.parquet(corpus_dir)
    idx = str(tmp_path / "widx")
    src = str(tmp_path / "wsrc")
    os.makedirs(src)
    (spark.createDataFrame(
        [("inc/w", "src/w.py", "c" * 40, "python",
          "def f(): return watchedCliToken")],
        "repo string, path string, commit string, lang string, "
        "content string").coalesce(1).write.mode("append").parquet(src))
    env = dict(os.environ, PYTHONPATH="/root/repo")

    def run(*argv):
        r = subprocess.run(
            [sys.executable, "-m", "luceneindexer_spark.cli",
             "--master", "local[2]", *argv],
            capture_output=True, text=True, env=env, timeout=420)
        assert r.returncode == 0, r.stderr[-2000:]
        return [json.loads(line) for line in r.stdout.splitlines()
                if line.startswith("{")]

    run("build", "--input", corpus_dir, "--out", idx,
        "--range-size", "64", "--buckets", "4")
    rep = run("watch", "--index", idx, "--source", src,
              "--checkpoint", str(tmp_path / "wckpt"),
              "--debounce", "30")
    assert rep[-1]["drained_pending"] == 1
    hits = run("query", "--index", idx, "watchedCliToken", "-k", "5")
    assert len(hits) == 1


def test_cli_query_multi_root_federation(spark, tmp_path):
    """query with repeated --index federates: per-root scored frames,
    exact merged top-k with root_id tags (reference searchAll)."""
    corpus_dir = str(tmp_path / "fcorpus")
    synth_corpus(spark, 80, partitions=2).write.parquet(corpus_dir)
    idx = str(tmp_path / "fidx")
    env = dict(os.environ, PYTHONPATH="/root/repo")

    def run(*argv):
        r = subprocess.run(
            [sys.executable, "-m", "luceneindexer_spark.cli",
             "--master", "local[2]", *argv],
            capture_output=True, text=True, env=env, timeout=420)
        assert r.returncode == 0, r.stderr[-2000:]
        return [json.loads(line) for line in r.stdout.splitlines()
                if line.startswith("{")]

    run("build", "--input", corpus_dir, "--out", idx,
        "--range-size", "64", "--buckets", "4")
    hits = run("query", "--index", idx, "--index", idx, HOT_TERM, "-k", "6")
    assert len(hits) == 6
    # identical roots: hits pair up (root 0 then root 1, same doc/score)
    assert [h["root_id"] for h in hits[:2]] == [0, 1]
    assert hits[0]["doc_id"] == hits[1]["doc_id"]


@pytest.mark.parametrize("flags", [
    ["--must-not", "segments"],
    ["--mode", "phrase", "--phrase-scoring", "phrase_freq"],
    ["--hydrate"]])
def test_cli_multi_root_rejects_unsupported_flags(monkeypatch, tmp_path,
                                                  flags):
    """federated_topk takes neither --must-not nor --phrase-scoring, so a
    query over repeated --index roots must reject them rather than
    silently drop them — and reject before any Spark session starts."""
    from luceneindexer_spark import cli
    started = []
    monkeypatch.setattr(cli, "_spark", lambda *a: started.append(a))
    with pytest.raises(SystemExit) as exc:
        cli.main(["query", "--index", str(tmp_path / "a"),
                  "--index", str(tmp_path / "b"), *flags, HOT_TERM])
    assert exc.value.code == 2
    assert not started
