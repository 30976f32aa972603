"""Self-test of the benchmark at tiny size.

    python3 perfbench/selftest.py [workload ...]

For each workload (default: all in BENCHMARK.json) it runs ``run.py
--size tiny`` three times from the checkout root and asserts that:

* an untraced run exits 0, passes its correctness gate and prints every
  end-to-end metric of BENCHMARK.json with its unit;
* a traced run does the same for every per-layer metric, and every
  operation's build, plan and exec spans cover at least 90% of its
  latency (``trace.coverage_min``);
* a run with ``--perturb`` (one oracle hash or expected count altered)
  fails its gate and exits 1.

The tiny inputs are an sf0.001-based star twin and a 12-symbol lake.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _run(workload: str, *extra: str) -> tuple[int, dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", "3", "--seconds", "1", "--size", "tiny",
           *extra]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=600)
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines else {}
    return p.returncode, result


def _expect(cond: bool, what: str, failures: list) -> None:
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        failures.append(what)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = sys.argv[1:] or [w["name"] for w in spec["workloads"]]
    failures: list[str] = []
    for w in names:
        for trace, key in (("0", "end_to_end"), ("1", "per_layer")):
            code, res = _run(w, "--trace", trace)
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v.get("unit") for k, v in res.get("metrics", {}).items()}
            _expect(code == 0 and res.get("correct") is True
                    and res.get("failed") == 0,
                    f"{w} trace={trace}: gate passes", failures)
            _expect(got == want, f"{w} trace={trace}: {key} metrics and units",
                    failures)
            _expect(all(isinstance(v.get("value"), (int, float))
                        for v in res.get("metrics", {}).values()),
                    f"{w} trace={trace}: numeric values", failures)
            if trace == "1":
                cov = res.get("metrics", {}).get("trace.coverage_min", {})
                _expect(cov.get("value", 0) >= 0.9,
                        f"{w} trace=1: spans cover >= 90% of each op",
                        failures)
        code, res = _run(w, "--trace", "0", "--perturb")
        _expect(code == 1 and res.get("correct") is False
                and res.get("failed", 0) >= 1,
                f"{w}: perturbed expectation fails the gate", failures)
    print(f"{len(failures)} failed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
