"""Benchmark command: one fresh measured process per workload run.

    python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The command writes seeded inputs, wipes
the previous runs' derived state, starts ``child.py`` as a fresh process
on ``local[N]`` (N = cores), waits for it, checks every operation's
output from the first and the last measured pass against its DuckDB
oracle, and prints each metric with its unit. The last line of stdout is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(end-to-end metrics untraced, per-layer metrics with ``--trace 1``).
``failed`` counts operations that raised or whose output differs from
the oracle, in every pass of the run. ``correct`` is false when any
output differs from its oracle or an oracle could not run; an operation
that raised is counted in ``failed`` only.
State lives under ``.bench_build/perfbench`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".bench_build", "perfbench")
sys.path.insert(0, HERE)

from procstat import host_cpu_ticks, host_shares, tree  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

#: the child must be done by then (seconds after this process starts)
CHILD_DEADLINE_S = 165.0

E2E_UNITS = {
    "setup_s": "s",
    "first_pass_cpu_s": "s",
    "pass_cpu_s": "s",
}
#: defining modules of the workloads' operations (``family.<module>.*``)
FAMILIES = (
    "analytics", "tpch_shapes", "windows", "stats", "layout", "dq", "sketch",
    "models", "similarity", "dedup", "multimodal", "pipeline",
)
#: figures a user sees whose spread between runs is wider than any bound
#: allowed: wall times follow the host's steal share, memory follows G1's
#: heap growth (README.md, "Measured on this machine"). Untraced runs print
#: them outside the result; they are listed with the per-layer metrics.
UNBOUNDED_UNITS = {
    "first_pass_s": "s",
    "pass_s": "s",
    "op_p50_s": "s",
    "op_slowest_s": "s",
    "peak_rss_mb": "MB",
}
LAYER_UNITS = {
    **UNBOUNDED_UNITS,
    "session.start_s": "s",
    "sources.register_s": "s",
    "worker.start_s": "s",
    "session.clear_s": "s",
    "plans.spec_s": "s",
    "plans.optimize_s": "s",
    "fetch.s": "s",
    "fetch.rows": "count",
    "executor.jobs": "count",
    "executor.stages": "count",
    "executor.tasks": "count",
    "executor.run_s": "s",
    "executor.cpu_s": "s",
    "executor.gc_s": "s",
    "executor.shuffle_read_b": "B",
    "executor.shuffle_write_b": "B",
    "executor.spill_b": "B",
    "executor.input_b": "B",
    "executor.output_b": "B",
    "memo.built": "count",
    "memo.cached_b": "B",
    "models.s": "s",
    "models.files": "count",
    **{f"family.{f}.{m}": u for f in FAMILIES for m, u in
       (("s", "s"), ("cpu_s", "s"), ("jobs", "count"))},
}


def program_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")) and os.path.isdir(
        os.path.join(ROOT, "gcp_dbt_data_engineering_spark")
    )


def stop_session(sid: int) -> None:
    """Stop every process left in the child's session and wait until gone."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(sid, sig)
        except ProcessLookupError:
            return
        for _ in range(50):
            if not any(_in_session(p, sid) for p in tree(1)):
                return
            time.sleep(0.1)


def _in_session(pid: int, sid: int) -> bool:
    try:
        return os.getsid(pid) == sid
    except OSError:
        return False


def prepare_env(env: dict, tmp: str) -> None:
    """Make the program importable by Python workers and confine temp files.

    Python's and the JVM's temp files go to ``tmp``: the JVM's own
    (native libraries, artifacts) follow ``java.io.tmpdir``, and its perf
    counters stay in memory instead of /tmp.
    """
    env["PYTHONPATH"] = os.pathsep.join([ROOT, HERE, env.get("PYTHONPATH", "")]).rstrip(os.pathsep)
    os.makedirs(tmp, exist_ok=True)
    env["TMPDIR"] = tmp
    env["SPARK_SUBMIT_OPTS"] = " ".join(filter(None, (
        env.get("SPARK_SUBMIT_OPTS"), f"-Djava.io.tmpdir={tmp}", "-XX:+PerfDisableSharedMem")))


def run_child(wl: str, args, started: float) -> tuple[dict, str, str]:
    from inputs import ensure_inputs

    data_dir = ensure_inputs(os.path.join(STATE, "inputs"), args.seed)
    run_dir = os.path.join(STATE, "runs", f"{wl}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    prepare_env(env, os.path.join(run_dir, "tmp"))
    cmd = [
        sys.executable, os.path.join(HERE, "child.py"),
        "--workload", wl, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--data-dir", data_dir, "--run-dir", run_dir,
    ]
    if args.corrupt:
        cmd += ["--corrupt", args.corrupt]
    log_path = os.path.join(run_dir, "child.log")
    ticks0 = host_cpu_ticks()
    with open(log_path, "wb") as log:
        spawned = time.time()
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log,
                                stderr=subprocess.STDOUT, start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1.0, CHILD_DEADLINE_S - (time.time() - started)))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            exited = time.time()
            stop_session(proc.pid)
            proc.wait()
    host = host_shares(ticks0, host_cpu_ticks())
    if rc != 0:
        with open(log_path, errors="replace") as f:
            tail = f.read()[-3000:]
        reason = "timed out" if rc is None else f"exited with {rc}"
        raise RuntimeError(f"workload {wl}: measured process {reason}\n{tail}")
    with open(os.path.join(run_dir, "child.json")) as f:
        res = json.load(f)
    res["e2e"]["setup_s"] = res["ready_at"] - spawned
    res["timeline"] = {"inputs_s": spawned - started, "child_s": exited - spawned,
                       "passes_s": sum(p["wall_s"] for p in res["passes"])}
    res["env"].update(host)
    return res, data_dir, run_dir


def check(res: dict, data_dir: str, run_dir: str) -> tuple[dict[str, str], bool, dict]:
    """Failed operations (name -> reason), whether every output matched, oracle hashes.

    The flag is false when an output differs from its oracle or an oracle
    could not run; an operation that raised only counts as failed.
    """
    import pyarrow as pa

    from oracle import Oracle, arrow_canon, first_diff

    oracle = Oracle(data_dir, os.path.join(STATE, "oracle-cache"))
    wrong: dict[str, str] = {}
    matched = True
    try:
        for label, p in (("first", res["passes"][0]), ("last", res["passes"][-1])):
            for name in res["order"]:
                if name in wrong:
                    continue
                if name in p["errors"]:
                    wrong[name] = f"{label} pass: {p['errors'][name]}"
                    continue
                path = os.path.join(run_dir, "outputs", label, f"{name}.arrow")
                with pa.memory_map(path) as src:
                    got = arrow_canon(pa.ipc.open_file(src).read_all())
                try:
                    want = oracle.rows(name, res["oracles"][name])
                except Exception as exc:  # oracle itself broken: run not trustworthy
                    matched = False
                    wrong[name] = f"oracle failed: {exc}"
                    continue
                if got != want:
                    matched = False
                    wrong[name] = f"{label} pass: {first_diff(got, want)}"
    finally:
        oracle.close()
    return wrong, matched, dict(oracle.checked)


def run_workload(wl: str, args, started: float) -> dict:
    res, data_dir, run_dir = run_child(wl, args, started)
    wrong, matched, hashes = check(res, data_dir, run_dir)
    attempted = failed = 0
    for p in res["passes"]:
        attempted += len(p["latency"])
        failed += len(set(p["errors"]) | set(wrong))
    if args.trace:
        values = {k: {**res["e2e"], **res["per_layer"]}.get(k, 0.0) for k in LAYER_UNITS}
        units = LAYER_UNITS
    else:
        values, units = res["e2e"], E2E_UNITS
    metrics = {k: {"value": values[k], "unit": units[k]} for k in units}

    import duckdb

    res["env"]["duckdb"] = duckdb.__version__
    res["timeline"]["total_s"] = time.time() - started
    kinds = [p["kind"] for p in res["passes"]]
    print(f"[{wl}] env: {json.dumps(res['env'], sort_keys=True)}")
    print(f"[{wl}] cores: {os.cpu_count()}  order seed: {args.seed}  "
          f"measured passes: {kinds.count('measured')}  "
          f"op samples: {res['op_samples']}")
    print(f"[{wl}] timeline: " + " ".join(f"{k} {v:.1f}" for k, v in res["timeline"].items()))
    print(f"[{wl}] oracles checked (sha256/12): {json.dumps(hashes, sort_keys=True)}")
    for k, m in metrics.items():
        print(f"[{wl}] {k} {m['value']:.6g} {m['unit']}")
    if not args.trace:
        for k, u in UNBOUNDED_UNITS.items():
            print(f"[{wl}] {k} {res['e2e'][k]:.6g} {u} (no bound)")
    print(f"[{wl}] operations attempted {attempted} failed {failed}")
    for name, why in sorted(wrong.items()):
        print(f"[{wl}] FAILED {name}: {why}")
    if args.trace:
        print(f"[{wl}] trace: {os.path.relpath(res['trace'], ROOT)}")
    record = {"workload": wl, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "env": res["env"], "oracles": hashes,
              "timeline": res["timeline"], "passes": res["passes"],
              "metrics": metrics, "e2e": res["e2e"], "failed_ops": wrong}
    os.makedirs(os.path.join(STATE, "records"), exist_ok=True)
    with open(os.path.join(STATE, "records", f"{wl}-{args.seed}-t{args.trace}-"
                           f"{int(time.time())}.json"), "w") as f:
        json.dump(record, f, indent=1)
    return {"correct": matched, "attempted": attempted, "failed": failed, "metrics": metrics}


def main() -> int:
    started = time.time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", default=None,
                    help="self-test: drop a row from this operation's output")
    args = ap.parse_args()
    if not program_present():
        print(f"program sources not found under {ROOT}", file=sys.stderr)
        return 2
    # every run starts from the same on-disk state: no staged copies,
    # layouts or warehouses left by an earlier run or an earlier commit
    shutil.rmtree(os.path.join(STATE, "runs"), ignore_errors=True)
    names = list(WORKLOADS) if args.workload == "all" else [args.workload]
    results = {}
    for wl in names:
        try:
            results[wl] = run_workload(wl, args, started if len(names) == 1 else time.time())
        except RuntimeError as exc:
            print(exc, file=sys.stderr)
            return 1
    if len(names) == 1:
        out = results[names[0]]
    else:
        out = {
            "correct": all(r["correct"] for r in results.values()),
            "attempted": sum(r["attempted"] for r in results.values()),
            "failed": sum(r["failed"] for r in results.values()),
            "metrics": {f"{wl}.{k}": m for wl, r in results.items()
                        for k, m in r["metrics"].items()},
        }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
