#!/usr/bin/env python3
"""Self-test of the benchmark: every workload path at tiny size.

    python3 perfbench/selftest.py

For each workload it runs ``run.py --size tiny`` untraced, traced, and
with ``--corrupt`` (one output perturbed before its check), and
asserts that the clean runs pass with every metric reported, that the
corrupted runs are flagged as failed, and that the benchmark exits
non-zero without a result when the program is missing. Takes about
six minutes on 4 cores.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def bench(*extra: str, cwd: str = ROOT) -> tuple[int, dict | None]:
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--seed", "7",
           "--seconds", "1", "--size", "tiny", *extra]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    try:
        return p.returncode, json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        return p.returncode, None


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    failures = []

    def expect(cond: bool, what: str) -> None:
        print(("ok   " if cond else "FAIL ") + what, flush=True)
        if not cond:
            failures.append(what)

    for w in (x["name"] for x in spec["workloads"]):
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            code, res = bench("--workload", w, "--trace", str(trace))
            expect(code == 0 and res is not None and res["correct"] and res["failed"] == 0,
                   f"{w} trace={trace}: clean run passes its checks")
            names = {m["name"] for m in spec[kind]}
            expect(res is not None and set(res["metrics"]) == names,
                   f"{w} trace={trace}: reports every {kind} metric")
            if res is not None and trace == 0:
                expect(all(v["value"] > 0 for v in res["metrics"].values()),
                       f"{w}: end-to-end metrics are positive")
        code, res = bench("--workload", w, "--trace", "0", "--corrupt")
        expect(res is not None and not res["correct"] and res["failed"] >= 1,
               f"{w}: a corrupted output fails its check")

    bare = os.path.join(ROOT, ".perfbench", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    code, res = bench("--workload", "ingest", "--trace", "0", cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    expect(code != 0 and res is None, "without the program: non-zero exit, no result")

    print(f"{len(failures)} failed" if failures else "all passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
