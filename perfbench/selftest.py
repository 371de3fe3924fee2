"""Self-test of the benchmark.

    python3 perfbench/selftest.py

Run from the repository root. It checks that

* one seed always yields byte-identical inputs, and another seed does not;
* every workload runs once with tracing off and once with it on, at the
  smallest run length, and emits every metric BENCHMARK.json declares,
  with its unit, on a result that reads ``correct``;
* in a directory holding only BENCHMARK.json and the benchmark, a run
  exits non-zero without printing a result.

Exit status 0 means every check passed.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()


def check_inputs(scratch: str) -> list[str]:
    sys.path.insert(0, HERE)
    import gen

    def make(seed: int) -> str:
        d = os.path.join(scratch, f"inputs-{seed}-{len(os.listdir(scratch))}")
        gen.write_tables(d, seed)
        gen.write_wordcount(d, seed, 2000, 50)
        return gen.digest(d)

    a, b, c = make(7), make(7), make(8)
    problems = []
    if a != b:
        problems.append("the same seed gave different inputs")
    if a == c:
        problems.append("two seeds gave the same inputs")
    return problems


def run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        command = json.load(f)["command"]
    args = ["--workload", workload, "--seed", "1", "--seconds", "1", "--trace", str(trace)]
    return subprocess.run(command + args, cwd=cwd, capture_output=True, text=True, timeout=300)


def check_runs() -> list[str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems = []
    for w in spec["workloads"]:
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            p = run(ROOT, w["name"], trace)
            where = f"{w['name']} --trace {trace}"
            if p.returncode != 0:
                problems.append(f"{where}: exit {p.returncode}: {p.stderr[-500:]}")
                continue
            result = json.loads(p.stdout.strip().splitlines()[-1])
            if set(result) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{where}: result keys {sorted(result)}")
                continue
            if not result["correct"] or result["failed"]:
                problems.append(f"{where}: not correct ({result['failed']} failed)")
            want = {m["name"]: m["unit"] for m in spec[kind]}
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            if got != want:
                problems.append(f"{where}: metrics differ from BENCHMARK.json {kind}")
            print(f"ok {where}: {len(got)} metrics", flush=True)
    return problems


def check_bare_dir(scratch: str) -> list[str]:
    bare = os.path.join(scratch, "bare")
    shutil.copytree(HERE, os.path.join(bare, os.path.basename(HERE)))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    p = run(bare, "wordcount", 0)
    if p.returncode == 0 or '"metrics"' in p.stdout:
        return ["a directory without the program still produced a result"]
    return []


def main() -> int:
    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    scratch = tempfile.mkdtemp(prefix="selftest-", dir=os.path.join(ROOT, ".perfbench"))
    try:
        problems = check_inputs(scratch) + check_bare_dir(scratch) + check_runs()
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    for p in problems:
        print(f"FAIL {p}")
    print("selftest:", "FAIL" if problems else "ok")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
