"""Fast self-test of the benchmark harness (about two minutes on 4 cores).

    python3 perfbench/selftest.py

Runs each workload with ``--tiny`` (a 3-minute recording, sf0.001
tables, three registry queries, a few seconds of load), once untraced
and once traced, and asserts that

- the last line of output is the result object with exactly the keys
  ``correct``, ``attempted``, ``failed`` and ``metrics``;
- every metric BENCHMARK.json names for the mode is printed with its
  unit and a numeric value;
- clean runs report no failed operation, and a run that damages one
  answer (``--corrupt``) counts it as failed.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(workload: str, trace: int, corrupt: bool) -> dict:
    cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
           "--workload", workload, "--seed", "3", "--seconds", "2",
           "--trace", str(trace), "--tiny"] + (["--corrupt"] if corrupt else [])
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, f"{cmd} exited {out.returncode}:\n{out.stderr[-3000:]}"
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    cases = [("serve_viewer", 0, False), ("serve_viewer", 1, True),
             ("registry_headline", 0, True), ("registry_headline", 1, False)]
    for workload, trace, corrupt in cases:
        res = run(workload, trace, corrupt)
        assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
        wanted = spec["per_layer"] if trace else spec["end_to_end"]
        assert set(res["metrics"]) == {m["name"] for m in wanted}, sorted(res["metrics"])
        for m in wanted:
            got = res["metrics"][m["name"]]
            assert got["unit"] == m["unit"], (m["name"], got)
            assert isinstance(got["value"], (int, float)), (m["name"], got)
        assert res["attempted"] >= 1
        if corrupt:
            assert res["failed"] >= 1 and res["correct"] is False, res
        else:
            assert res["failed"] == 0 and res["correct"] is True, res
        print(f"ok  {workload} trace={trace} corrupt={corrupt} "
              f"attempted={res['attempted']} failed={res['failed']}")
    print("selftest passed")


if __name__ == "__main__":
    main()
