"""Print every benchmark metric by name with its unit, for both
workloads, plus the tracing overhead: the traced iteration's wall time
minus the untraced one. Each run also runs the output checks.

    python3 perfbench/report.py [--seed N]
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent


def bench(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=HERE.parent, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, check=True,
    ).stdout.strip().splitlines()
    return json.loads(out[-2]), json.loads(out[-1])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    ok = True
    for w in spec["workloads"]:
        for trace in (0, 1):
            side, result = bench(w["name"], args.seed, spec["run_seconds"], trace)
            ok &= result["correct"]
            print(f"# {w['name']} trace={trace} correct={result['correct']} "
                  f"attempted={result['attempted']} failed={result['failed']}")
            for name, m in result["metrics"].items():
                print(f"{w['name']}\t{name}\t{m['value']:.6g}\t{m['unit']}")
            if trace:
                overhead = side["traced_iteration_s"] - untraced
                print(f"{w['name']}\ttrace_overhead_s\t{overhead:.6g}\ts")
            else:
                untraced = result["metrics"]["iteration_s"]["value"]
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
