#!/usr/bin/env python3
"""Benchmark of luceneindexer_spark: ``serve`` and ``batch`` workloads.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Prints one line per metric (name, value,
unit), then, as the last line, one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` reports the per-layer metrics and the
tracing overhead. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys
import time
from pathlib import Path

CHECKOUT = Path(__file__).resolve().parent.parent

#: (name, unit) of the end-to-end metrics, reported with --trace 0
END_TO_END = [
    ("setup_s", "s"),
    ("build_docs_per_s", "docs/s"),
    ("index_bytes_ratio", "ratio"),
    ("call_p50_ms", "ms"),
    ("call_p90_ms", "ms"),
    ("queries_per_s", "1/s"),
    ("peak_rss_mb", "MB"),
]

#: (name, unit) of the per-layer metrics, reported with --trace 1. A layer a
#: workload does not exercise reports 0 (no calls of that class).
PER_LAYER = [
    ("corpus.docmap_s", "s"),
    ("tokenizer.mb_per_s", "MB/s"),
    ("index.build.postings_s", "s"),
    ("index.build.stats_s", "s"),
    ("index.build.jobs", "count"),
    ("index.build.tasks", "count"),
    ("index.build.shuffle_write_mb", "MB"),
    ("index.build.executor_busy_s", "s"),
    ("index.build.gc_s", "s"),
    ("index.manifest.write_s", "s"),
    ("index.manifest.rows", "count"),
    ("streaming.incremental.append_p50_s", "s"),
    ("streaming.incremental.fresh_p50_s", "s"),
    ("streaming.incremental.ranges_built", "count"),
    ("streaming.incremental.jobs_per_append", "count"),
    ("ops.maintenance.tombstones", "count"),
    ("query.engine.open_disk_ms", "ms"),
    ("query.engine.disk_compile_ms", "ms"),
    ("query.engine.disk_execute_ms", "ms"),
    ("query.engine.open_cached_s", "s"),
    ("query.engine.cache_mb", "MB"),
    ("query.engine.compile_ms", "ms"),
    ("query.engine.execute_ms", "ms"),
    ("query.engine.jobs_per_call", "count"),
    ("query.engine.stages_per_call", "count"),
    ("query.engine.tasks_per_call", "count"),
    ("query.engine.executor_busy_ms_per_call", "ms"),
    ("query.engine.and_p50_ms", "ms"),
    ("query.engine.or_p50_ms", "ms"),
    ("query.engine.phrase_p50_ms", "ms"),
    ("query.engine.k100_p50_ms", "ms"),
    ("query.engine.must_not_p50_ms", "ms"),
    ("query.engine.qstring_p50_ms", "ms"),
    ("query.parser.parse_us", "us"),
    ("codecs.decode_us_per_1k", "us"),
    ("codecs.bytes_per_posting", "bytes"),
    ("trace.spans", "count"),
] + [(f"trace.overhead.{n}", u) for n, u in END_TO_END]

CLASSES = ("and", "or", "phrase", "k100", "must_not", "qstring")
WORKLOADS = ("serve", "batch")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # for the self-test: a smaller corpus, and a deliberately wrong
    # expected answer that the correctness gate must count as failed
    p.add_argument("--docs", type=int, default=None, help=argparse.SUPPRESS)
    p.add_argument("--corrupt-oracle", action="store_true",
                   help=argparse.SUPPRESS)
    return p.parse_args(argv)


def end_to_end(bench, calls) -> dict[str, float]:
    from workloads import call_metrics
    su = bench.setups
    return {
        "setup_s": statistics.median(s["setup_s"] for s in su),
        "build_docs_per_s": statistics.median(s["n_docs"] / s["build_s"]
                                              for s in su),
        "index_bytes_ratio": su[-1]["index_bytes"] / bench.corpus_bytes,
        **call_metrics(calls),
        "peak_rss_mb": bench.rss.total_mb(),
    }


def per_layer(bench, traced_calls, untraced, traced_e2e, probe,
              groups) -> dict[str, float]:
    """Layer metrics of the traced run: the last set-up repetition, the
    traced window and the probes, plus traced-minus-untraced overheads."""
    from workloads import percentile
    from probes import ingest_metrics
    su = bench.setups[-1]
    rep = su["report"]
    bg = groups.get(su["build_group"], {})
    out = {
        "corpus.docmap_s": rep["docmap_s"],
        "index.build.postings_s": rep["timings"].get("postings_write", 0.0),
        "index.build.stats_s": rep["stats_s"],
        "index.build.jobs": bg.get("jobs", 0.0),
        "index.build.tasks": bg.get("tasks", 0.0),
        "index.build.shuffle_write_mb":
            bg.get("shuffle_write_bytes", 0.0) / (1 << 20),
        "index.build.executor_busy_s": bg.get("busy_ms", 0.0) / 1e3,
        "index.build.gc_s": bg.get("gc_ms", 0.0) / 1e3,
        "index.manifest.write_s": rep["timings"].get("manifest", 0.0),
        "query.engine.open_cached_s": su["open_s"],
        **{k: v for k, v in probe.items() if k != "ingest"},
        **ingest_metrics(probe["ingest"], groups),
        "query.engine.compile_ms":
            1e3 * statistics.median(c.compile_s for c in traced_calls),
        "query.engine.execute_ms":
            1e3 * statistics.median(c.execute_s for c in traced_calls),
        "trace.spans": float(len(bench.tracer.spans)),
    }
    cg = [groups.get(c.group, {}) for c in traced_calls]
    for key, name in (("jobs", "jobs_per_call"),
                      ("stages", "stages_per_call"),
                      ("tasks", "tasks_per_call"),
                      ("busy_ms", "executor_busy_ms_per_call")):
        out[f"query.engine.{name}"] = statistics.mean(
            g.get(key, 0.0) for g in cg)
    for cls in CLASSES:
        lat = [c.latency_s for c in traced_calls if c.cls == cls]
        out[f"query.engine.{cls}_p50_ms"] = (
            1e3 * percentile(lat, 50) if lat else 0.0)
    for name, _ in END_TO_END:
        out[f"trace.overhead.{name}"] = traced_e2e[name] - untraced[name]
    return out


def _steal_ticks() -> int:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


class _Phases:
    """Wall time of each benchmark phase, logged to stderr."""

    def __init__(self) -> None:
        self.t = time.perf_counter()

    def __call__(self, name: str) -> None:
        now = time.perf_counter()
        print(f"perfbench: {name} {now - self.t:.2f} s", file=sys.stderr)
        self.t = now


def run(args) -> dict:
    from env import SparkRun
    from inputs import DOCS
    from spans import job_group_stats
    from workloads import Bench, file_bytes
    from luceneindexer_spark.index.manifest import read_manifest
    import probes

    traced = bool(args.trace)
    phase = _Phases()
    with SparkRun(CHECKOUT, event_log=traced) as env:
        phase("spark start")
        bench = Bench(env, args.workload, args.seed, traced,
                      docs=args.docs or DOCS, corrupt=args.corrupt_oracle)
        bench.generate()
        phase("generate")
        bench.setup()
        phase("setup")
        times = [(round(s["build_s"], 2), round(s["open_s"], 2))
                 for s in bench.setups]
        print(f"perfbench: set-ups (build s, open s) {times}",
              file=sys.stderr)
        bench.check_index_integrity(audit=traced)
        phase("integrity checks")
        bench.warm_up()
        phase("warm-up")
        steal0 = _steal_ticks()
        calls = bench.window(args.seconds, traced=False)
        phase("window")
        lat = sorted(round(1e3 * c.latency_s) for c in calls)
        print(f"perfbench: {len(calls)} calls, ms {lat}, steal "
              f"{_steal_ticks() - steal0} ticks", file=sys.stderr)
        bench.rss.sample()
        untraced = end_to_end(bench, calls)
        print(f"perfbench: peak RSS {bench.rss.breakdown()}", file=sys.stderr)
        if not traced:
            metrics = untraced
        else:
            traced_calls = bench.window(args.seconds, traced=True)
            phase("traced window")
            bench.rss.sample()
            traced_e2e = end_to_end(bench, traced_calls)
            # set-up overhead: the traced last repetition against the
            # untraced one before it
            a, b = bench.setups[-2], bench.setups[-1]
            traced_e2e["setup_s"] = untraced["setup_s"] + (
                b["setup_s"] - a["setup_s"])
            traced_e2e["build_docs_per_s"] = untraced["build_docs_per_s"] + (
                b["n_docs"] / b["build_s"] - a["n_docs"] / a["build_s"])
            traced_e2e["index_bytes_ratio"] = untraced["index_bytes_ratio"] + (
                b["index_bytes"] - a["index_bytes"]) / bench.corpus_bytes
            texts = ([r.text for r in bench.cycle]
                     if args.workload == "serve" else
                     [t for _, qs in bench.cycle for t in qs.values()])
            bench.tracer.enabled = True
            with bench.tracer.span("probes"):
                probe = {
                    "query.engine.cache_mb": probes.cache_mb(env.spark),
                    "tokenizer.mb_per_s":
                        probes.tokenizer_mb_per_s(str(bench.corpus_dir)),
                    "query.parser.parse_us": probes.parse_us(texts),
                    **probes.codec_metrics(
                        str(bench.index), texts,
                        file_bytes(bench.index / "postings")),
                    "index.manifest.rows": float(read_manifest(
                        env.spark, str(bench.index)).count()),
                }
                phase("layer probes")
                bench.qs.close()
                probe["ingest"] = probes.ingest(bench)
                phase("ingest probe")
            env.stop()
            groups = job_group_stats(env.event_log_dir)
            metrics = per_layer(bench, traced_calls, untraced, traced_e2e,
                                probe, groups)
            bench.tracer.write(CHECKOUT / ".perfbench_out"
                               / f"spans-{bench.run_id}.jsonl")
    phase("teardown")
    tally = bench.tally
    names = PER_LAYER if traced else END_TO_END
    return {
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {n: {"value": float(metrics[n]), "unit": u}
                    for n, u in names},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (CHECKOUT / "luceneindexer_spark" / "__init__.py").is_file():
        print(f"perfbench: no luceneindexer_spark package under {CHECKOUT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(CHECKOUT))
    result = run(args)
    for name, m in result["metrics"].items():
        print(f"{name:44s} {m['value']:16.6f} {m['unit']}")
    print(f"{'failed_frac':44s} "
          f"{result['failed'] / result['attempted']:16.6f} ratio "
          f"({result['failed']} of {result['attempted']})")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
