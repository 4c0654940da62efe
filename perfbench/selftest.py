"""Self-test of the benchmark, on short runs.

    python3 perfbench/selftest.py

For each workload it makes one short untraced run (first pass plus one
measured pass) in which one operation's output is deliberately made
wrong, and one short traced run. It checks that every end-to-end and
per-layer metric is printed with its unit, that the wrong output is
counted as failed (one operation per pass, by name) and makes the run
not correct, and that the traced run writes spans for operations and
set-up with their child spans.
Exits non-zero on the first failed check.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import E2E_UNITS, LAYER_UNITS, UNBOUNDED_UNITS  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def bench(workload: str, trace: int, *extra: str) -> tuple[dict, str]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "1", "--trace", str(trace), *extra]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=240)
    if out.returncode != 0:
        raise SystemExit(f"{' '.join(cmd)} exited {out.returncode}:\n{out.stderr[-3000:]}")
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-1]), out.stdout


def expect(cond: bool, what: str) -> None:
    print(("ok   " if cond else "FAIL ") + what)
    if not cond:
        raise SystemExit(1)


def main() -> int:
    for name, ops in WORKLOADS.items():
        victim = ops[0]
        res, text = bench(name, 0, "--corrupt", victim)
        expect(set(res) == {"correct", "attempted", "failed", "metrics"}, f"{name}: result keys")
        expect(
            all(res["metrics"].get(k, {}).get("unit") == u for k, u in E2E_UNITS.items()),
            f"{name}: every end-to-end metric printed with its unit",
        )
        expect(all(f"[{name}] {k} " in text for k in {**E2E_UNITS, **UNBOUNDED_UNITS}),
               f"{name}: metric lines, unbounded ones included")
        passes = res["attempted"] // len(ops)
        expect(res["failed"] == passes and f"FAILED {victim}:" in text,
               f"{name}: wrong output of {victim} counted as failed in each of {passes} passes")
        expect(res["correct"] is False, f"{name}: wrong output makes the run not correct")

        res, text = bench(name, 1)
        expect(res["failed"] == 0 and res["correct"], f"{name}: traced run has no failures")
        expect(
            all(res["metrics"].get(k, {}).get("unit") == u for k, u in LAYER_UNITS.items()),
            f"{name}: every per-layer metric printed with its unit",
        )
        trace_path = os.path.join(ROOT, text.split(f"[{name}] trace: ")[1].split()[0])
        with open(trace_path) as f:
            spans = json.load(f)["spans"]
        names = {s["name"] for s in spans}
        by_id = {s["id"]: s for s in spans}
        parents = {(by_id[s["parent"]]["name"], s["name"]) for s in spans if s["parent"] is not None}
        expect({("setup", "session.start"), ("setup", "sources.register"),
                ("setup", "worker.start"), ("operation", "plans.spec"),
                ("operation", "plans.optimize"), ("operation", "fetch")} <= parents,
               f"{name}: trace has set-up and operation spans with their children")
        ops = [s for s in spans if s["name"] == "operation"]
        expect(len(ops) == res["attempted"] and all("executor.jobs" in s["attrs"] for s in ops),
               f"{name}: one span per operation, status-store deltas attached")
        expect("session.clear" in names, f"{name}: clear spans recorded")
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
