"""Self-test of the benchmark on the ``small`` ER corpus.

    python3 perfbench/selftest.py

Runs every workload of ``BENCHMARK.json`` once untraced and once traced,
through ``run.py --scale small --selftest``, and asserts that

* each run exits 0 and its outputs pass their checks;
* the untraced run prints exactly the declared end-to-end metrics, and the
  traced run exactly the declared per-layer metrics, with the declared
  units;
* the same checks fail on a perturbed copy of each workload's output.

Takes about four minutes on 4 cores. Exits non-zero on the first failure.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, trace: int) -> tuple[dict, str]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace),
           "--scale", "small", "--selftest"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert p.returncode == 0, f"{workload} trace={trace} exited {p.returncode}:\n{p.stderr[-3000:]}"
    return json.loads(p.stdout.strip().splitlines()[-1]), p.stdout


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)
    end_to_end = {m["name"]: m["unit"] for m in declared["end_to_end"]}
    per_layer = {m["name"]: m["unit"] for m in declared["per_layer"]}
    for w in (w["name"] for w in declared["workloads"]):
        for trace in (0, 1):
            result, out = run(w, trace)
            assert result["correct"] and result["failed"] == 0, f"{w}: {result}"
            units = {k: v["unit"] for k, v in result["metrics"].items()}
            want = per_layer if trace else end_to_end
            assert units == want, (
                f"{w} trace={trace}: missing {sorted(want.keys() - units.keys())}, "
                f"undeclared {sorted(units.keys() - want.keys())}, "
                f"units {sorted(set(units.items()) ^ set(want.items()))}"
            )
            n = int(re.search(r"perturbed outputs failed (\d+) checks", out).group(1))
            assert n > 0, f"{w} trace={trace}: a perturbed output passed every check"
            print(f"ok  {w} trace={trace}: {len(units)} metrics, perturbed output failed {n} checks")
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
