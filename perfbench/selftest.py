#!/usr/bin/env python3
"""Self-test of the benchmark at a tiny size (about four minutes):

1. an untraced ``serve`` run prints every end-to-end metric of
   BENCHMARK.json by name with its unit, in the JSON line and in the text
   lines, and all its checks pass;
2. the same run with a deliberately wrong expected answer reports
   ``correct: false`` with at least one failed call;
3. a traced ``batch`` run reports every per-layer metric of BENCHMARK.json;
4. in a directory holding only BENCHMARK.json and the benchmark's files,
   the benchmark exits non-zero without printing a result.

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
CHECKOUT = HERE.parent
TINY = ["--docs", "1500", "--seconds", "2"]


def bench(workload: str, trace: int, *extra: str,
          cwd: Path = CHECKOUT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "7", "--trace", str(trace), *TINY, *extra],
        cwd=cwd, capture_output=True, text=True, timeout=600)


def result(proc: subprocess.CompletedProcess) -> dict:
    if proc.returncode != 0:
        raise AssertionError(f"exit {proc.returncode}:\n{proc.stderr[-4000:]}")
    lines = proc.stdout.strip().splitlines()
    res = json.loads(lines[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, res
    assert isinstance(res["attempted"], int) and res["attempted"] >= 1
    assert isinstance(res["failed"], int)
    return res


def expect_metrics(proc, res: dict, declared: list[dict]) -> None:
    want = {m["name"]: m["unit"] for m in declared}
    got = {n: m["unit"] for n, m in res["metrics"].items()}
    assert got == want, (sorted(set(got) ^ set(want)), got, want)
    text = proc.stdout.splitlines()[:-1]
    for name, unit in want.items():
        assert any(line.split()[:1] == [name] and line.split()[2] == unit
                   for line in text), f"{name} ({unit}) not printed"
    assert any(line.startswith("failed_frac") for line in text)


def main() -> int:
    spec = json.loads((CHECKOUT / "BENCHMARK.json").read_text())

    proc = bench("serve", 0)
    res = result(proc)
    expect_metrics(proc, res, spec["end_to_end"])
    assert res["correct"] and res["failed"] == 0, res
    print("ok: serve prints every end-to-end metric and passes its checks")

    res = result(bench("serve", 0, "--corrupt-oracle"))
    assert not res["correct"] and res["failed"] >= 1, res
    print(f"ok: a wrong expected answer is caught "
          f"({res['failed']} of {res['attempted']} failed)")

    proc = bench("batch", 1)
    res = result(proc)
    expect_metrics(proc, res, spec["per_layer"])
    assert res["correct"] and res["failed"] == 0, res
    print("ok: a traced batch run prints every per-layer metric")

    runs = CHECKOUT / ".perfbench_tmp"
    runs.mkdir(exist_ok=True)
    bare = Path(tempfile.mkdtemp(prefix="bare-", dir=runs))
    try:
        shutil.copy(CHECKOUT / "BENCHMARK.json", bare)
        shutil.copytree(HERE, bare / "perfbench",
                        ignore=shutil.ignore_patterns("__pycache__"))
        proc = bench("serve", 0, cwd=bare)
        assert proc.returncode != 0, proc.stdout
        assert '"metrics"' not in proc.stdout, proc.stdout
    finally:
        shutil.rmtree(bare)
        try:
            runs.rmdir()
        except OSError:
            pass
    print("ok: without the package the benchmark fails without a result")
    return 0


if __name__ == "__main__":
    sys.exit(main())
