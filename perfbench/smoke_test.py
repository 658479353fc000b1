#!/usr/bin/env python3
"""The benchmark's own test: every workload of BENCHMARK.json in --smoke
mode (sf0.001, one entry per in-process workload, tiny CLI inputs), traced
and untraced. Passes when each run prints exactly the metric names
BENCHMARK.json lists, with no failed output.

    python3 perfbench/smoke_test.py
"""
import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
SPEC = json.loads((HERE.parent / "BENCHMARK.json").read_text())


def main():
    bad = 0
    for w in SPEC["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            p = subprocess.run(
                [sys.executable, str(HERE / "run.py"), "--workload", w["name"],
                 "--seed", "1", "--trace", str(trace), "--smoke"],
                cwd=HERE.parent, capture_output=True, text=True)
            lines = p.stdout.strip().splitlines()
            line = json.loads(lines[-1]) if p.returncode == 0 and lines else None
            want = {m["name"] for m in SPEC[key]}
            ok = (line is not None and set(line["metrics"]) == want
                  and line["failed"] == 0 and line["attempted"] >= 1)
            print(f"{'ok  ' if ok else 'FAIL'} {w['name']} trace={trace}")
            if not ok:
                bad += 1
                sys.stderr.write(p.stderr[-2000:])
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
