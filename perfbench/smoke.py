"""Self-check of the benchmark: every metric named in BENCHMARK.json is
printed, with its unit, by a short run of each workload on its default
input (the committed sf0.001 test tables), untraced and traced.

    python3 perfbench/smoke.py            # from the repository root

Exits non-zero on the first missing metric, wrong unit or failed check.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for wl in spec["workloads"]:
        for trace, wanted in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl["name"],
                   "--seed", "1", "--seconds", "1", "--trace", str(trace)]
            out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            if out.returncode != 0:
                sys.stderr.write(out.stderr[-4000:])
                raise SystemExit(f"{wl['name']} trace={trace}: exit {out.returncode}")
            result = json.loads(out.stdout.strip().splitlines()[-1])
            assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
            assert result["correct"] and result["failed"] == 0, result
            got = result["metrics"]
            for m in wanted:
                assert m["name"] in got, f"{wl['name']}: {m['name']} not printed"
                assert got[m["name"]]["unit"] == m["unit"], (m, got[m["name"]])
                assert isinstance(got[m["name"]]["value"], (int, float)), got[m["name"]]
            assert set(got) == {m["name"] for m in wanted}, sorted(set(got) ^ {m["name"] for m in wanted})
            print(f"ok {wl['name']} trace={trace}: {len(got)} metrics")
    return 0


if __name__ == "__main__":
    sys.exit(main())
