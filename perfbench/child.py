"""The measured process of one benchmark run.

Started by ``run.py`` as a fresh process. It sets up a session, runs a
first pass over the workload's operations, then measured passes until
the requested time is used, always in the listed order. One operation
runs at a time (a closed loop with one client). There is no warm-up
phase; README.md gives the measurements behind that.

It measures from outside the program: it times calls into public
functions and, in a traced run only, reads Spark's status store between
operations. Results go to ``<run-dir>/child.json``; the fetched outputs
of the first and the last measured pass go to ``<run-dir>/outputs`` for
``run.py`` to check against the DuckDB oracles.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

from procstat import tree_cpu_s, tree_peak_rss_mb
from workloads import WORKLOADS

PKG = "gcp_dbt_data_engineering_spark"

#: status-store fields summed per operation, by per-layer metric name
STAGE_FIELDS = {
    "executor.run_s": ("executorRunTime", 1e-3),
    "executor.cpu_s": ("executorCpuTime", 1e-9),
    "executor.gc_s": ("jvmGcTime", 1e-3),
    "executor.shuffle_read_b": ("shuffleReadBytes", 1),
    "executor.shuffle_write_b": ("shuffleWriteBytes", 1),
    "executor.spill_b": (("memoryBytesSpilled", "diskBytesSpilled"), 1),
    "executor.input_b": ("inputBytes", 1),
    "executor.output_b": ("outputBytes", 1),
}


def redirect_output_roots(run_root: str) -> int:
    """Point the program's fixed ``.artifacts`` output roots into ``run_root``.

    Several modules write derived state (staged copies, layouts,
    warehouses, stream results) under an absolute ``.../.artifacts/...``
    path fixed in the code, outside any checkout but the one it names.
    The spec callables take no output path, so the benchmark rewrites
    those constants and parameter defaults in place, keeping each run's
    state in its own directory. Returns how many values were rewritten.
    """

    def fix(value):
        if isinstance(value, str) and value.startswith("/") and "/.artifacts" in value:
            return os.path.join(run_root, value.split("/.artifacts", 1)[1].lstrip("/"))
        return value

    def fix_function(fn) -> int:
        n = 0
        if fn.__defaults__:
            new = tuple(fix(v) for v in fn.__defaults__)
            n += sum(a is not b for a, b in zip(new, fn.__defaults__))
            fn.__defaults__ = new
        if fn.__kwdefaults__:
            new_kw = {k: fix(v) for k, v in fn.__kwdefaults__.items()}
            n += sum(new_kw[k] is not v for k, v in fn.__kwdefaults__.items())
            fn.__kwdefaults__ = new_kw
        return n

    changed = 0
    for modname, mod in list(sys.modules.items()):
        if not modname.startswith(PKG) or mod is None:
            continue
        for attr, value in list(vars(mod).items()):
            if isinstance(value, str) and fix(value) != value:
                setattr(mod, attr, fix(value))
                changed += 1
            elif callable(value) and getattr(value, "__module__", None) == modname:
                if isinstance(value, type):
                    for member in vars(value).values():
                        if hasattr(member, "__defaults__"):
                            changed += fix_function(member)
                elif hasattr(value, "__defaults__"):
                    changed += fix_function(value)
    return changed


class Tracer:
    """Spans kept in memory and written once, when the run ends."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield {}
            return
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start": time.time(),
            "attrs": dict(attrs),
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec["attrs"]
        finally:
            self._stack.pop()
            rec["end"] = time.time()


class StatusReader:
    """Per-operation deltas from Spark's status store (traced runs only).

    Job ids are sequential, so the jobs of one operation are those past
    the previous operation's watermark; their stages are read once each.
    """

    def __init__(self, spark) -> None:
        jsc = spark.sparkContext._jsc.sc()  # noqa: SLF001
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._jsc = jsc
        self._next_job = 0
        self._seen_stages: set[int] = set()
        self.delta()  # skip set-up jobs

    def delta(self) -> dict[str, float]:
        from py4j.protocol import Py4JJavaError

        self._bus.waitUntilEmpty(30_000)
        stage_ids: list[int] = []
        jobs = 0
        while True:
            try:
                job = self._store.job(self._next_job)
            except Py4JJavaError:
                break
            jobs += 1
            self._next_job += 1
            ids = job.stageIds()
            stage_ids.extend(ids.apply(i) for i in range(ids.size()))
        out = {k: 0.0 for k in STAGE_FIELDS}
        out.update({"executor.jobs": jobs, "executor.stages": 0, "executor.tasks": 0})
        for sid in sorted(set(stage_ids) - self._seen_stages):
            self._seen_stages.add(sid)
            try:
                st = self._store.lastStageAttempt(sid)
            except Py4JJavaError:
                continue
            if st.status().toString() == "SKIPPED":
                continue
            out["executor.stages"] += 1
            out["executor.tasks"] += st.numTasks()
            for metric, (fields, scale) in STAGE_FIELDS.items():
                names = fields if isinstance(fields, tuple) else (fields,)
                out[metric] += sum(getattr(st, f)() for f in names) * scale
        return out

    def cached_bytes(self) -> int:
        infos = self._jsc.getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos)


def memo_entries(spark) -> int:
    """Derived-memo entries hanging off the session (catalog memos excluded)."""
    from gcp_dbt_data_engineering_spark.session import _CATALOG_CACHES

    return sum(
        len(v)
        for k, v in spark.__dict__.items()
        if k.startswith("_graft_") and k.endswith("_cache") and k not in _CATALOG_CACHES
    )


def count_files(root: str) -> int:
    return sum(
        1
        for _, _, files in os.walk(root)
        for f in files
        if not f.startswith((".", "_"))
    )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--data-dir", required=True)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--corrupt", default=None)
    args = ap.parse_args()
    ops = WORKLOADS[args.workload]
    tracer = Tracer(bool(args.trace))
    root = os.getpid()
    out_root = os.path.join(args.run_dir, "artifacts")
    layers: dict[str, float] = {}

    with tracer.span("setup") as setup_attrs:
        import __spark_entry__

        from gcp_dbt_data_engineering_spark.session import clear_caches, get_spark
        from gcp_dbt_data_engineering_spark.sources.registry import TABLES, register_all

        specs = __spark_entry__._all_specs()  # noqa: SLF001
        missing = [n for n in ops if n not in specs]
        if missing:
            raise SystemExit(f"operations missing from the spec registry: {missing}")
        setup_attrs["redirected_roots"] = redirect_output_roots(out_root)

        t = time.perf_counter()
        with tracer.span("session.start"):
            spark = get_spark(app_name=f"perfbench-{args.workload}")
        layers["session.start_s"] = time.perf_counter() - t
        t = time.perf_counter()
        with tracer.span("sources.register", tables=len(TABLES)):
            register_all(spark, args.data_dir)
        layers["sources.register_s"] = time.perf_counter() - t
        t = time.perf_counter()
        with tracer.span("worker.start"):
            spark.range(1).mapInArrow(lambda it: it, "id long").collect()
        layers["worker.start_s"] = time.perf_counter() - t
    ready = time.time()

    status = StatusReader(spark) if args.trace else None
    order = list(ops)
    family = {n: specs[n].spark.__module__.removeprefix(PKG + ".").split(".")[-1] for n in order}

    def run_op(name: str, pass_no: int):
        """One operation; returns (latency_s, arrow table or None, error, layer deltas)."""
        spec = specs[name]
        d: dict[str, float] = defaultdict(float)
        with tracer.span("operation", op=name, family=family[name], pass_no=pass_no) as attrs:
            t = time.perf_counter()
            with tracer.span("session.clear"):
                clear_caches(spark, keep_table_handles=True)
            d["session.clear_s"] = time.perf_counter() - t
            cpu0 = tree_cpu_s(root) if args.trace else 0.0
            memo0 = memo_entries(spark) if args.trace else 0
            t0 = time.perf_counter()
            table, err = None, None
            try:
                with tracer.span("plans.spec"):
                    df = spec.spark(spark, args.data_dir)
                t1 = time.perf_counter()
                with tracer.span("plans.optimize"):
                    df._jdf.queryExecution().executedPlan()  # noqa: SLF001
                t2 = time.perf_counter()
                with tracer.span("fetch"):
                    table = df.toArrow()
                t3 = time.perf_counter()
                d["plans.spec_s"] = t1 - t0
                d["plans.optimize_s"] = t2 - t1
                d["fetch.s"] = t3 - t2
                d["fetch.rows"] = table.num_rows
            except Exception as exc:  # an operation's failure is counted, not fatal
                err = f"{type(exc).__name__}: {str(exc)[:300]}"
            latency = time.perf_counter() - t0
            if args.trace:
                d[f"family.{family[name]}.cpu_s"] = tree_cpu_s(root) - cpu0
                d["memo.built"] = max(0, memo_entries(spark) - memo0)
                delta = status.delta()
                d.update(delta)
                d[f"family.{family[name]}.jobs"] = delta["executor.jobs"]
                attrs.update(delta)
                attrs["memo.built"] = d["memo.built"]
                if err:
                    attrs["error"] = err
            d[f"family.{family[name]}.s"] = latency
            if family[name] == "models":
                d["models.s"] = latency
        return latency, table, err, d

    passes: list[dict] = []

    def run_pass(kind: str, keep_outputs: bool) -> dict:
        """Run every operation once; return the outputs when ``keep_outputs``."""
        cpu0 = tree_cpu_s(root)
        t0 = time.perf_counter()
        lat, errs, outputs = {}, {}, {}
        layer: dict[str, float] = defaultdict(float)
        with tracer.span("pass", kind=kind, index=len(passes)):
            for name in order:
                latency, table, err, d = run_op(name, len(passes))
                lat[name] = latency
                if err:
                    errs[name] = err
                elif keep_outputs:
                    outputs[name] = table
                for k, v in d.items():
                    layer[k] += v
            if args.trace:
                layer["memo.cached_b"] = status.cached_bytes()
                layer["models.files"] = count_files(out_root)
        rec = {
            "kind": kind,
            "wall_s": time.perf_counter() - t0,
            "cpu_s": tree_cpu_s(root) - cpu0,
            "latency": lat,
            "errors": errs,
            "layers": dict(layer),
        }
        passes.append(rec)
        return outputs

    first_outputs = run_pass("first", keep_outputs=True)
    t_measure = time.perf_counter()
    while True:
        last_outputs = run_pass("measured", keep_outputs=True)
        if time.perf_counter() - t_measure >= args.seconds:
            break
    peak_rss = tree_peak_rss_mb(root)

    env = {
        "spark": spark.version,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),  # noqa: SLF001
        "master": spark.sparkContext.master,
        "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory", "1g"),
        "jvm_max_heap_mb": spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory()  # noqa: SLF001
        // (1 << 20),
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "peak_rss_mb_by_process": peak_rss,
    }
    spark.stop()

    import pyarrow as pa

    for label, outputs in (("first", first_outputs), ("last", last_outputs)):
        d = os.path.join(args.run_dir, "outputs", label)
        os.makedirs(d, exist_ok=True)
        for name, table in outputs.items():
            if name == args.corrupt and table.num_rows:
                table = table.slice(1)  # deliberately wrong result (self-test)
            with pa.OSFile(os.path.join(d, f"{name}.arrow"), "wb") as f:
                with pa.ipc.new_file(f, table.schema) as w:
                    w.write_table(table)

    measured = [p for p in passes if p["kind"] == "measured"]
    samples = [v for p in measured for v in p["latency"].values()]
    per_op = [statistics.median(p["latency"][n] for p in measured) for n in order]
    result = {
        "ready_at": ready,
        "order": order,
        "oracles": {n: specs[n].oracle for n in order},
        "env": env,
        "passes": [{k: v for k, v in p.items() if k != "layers"} for p in passes],
        "e2e": {
            "first_pass_s": passes[0]["wall_s"],
            "first_pass_cpu_s": passes[0]["cpu_s"],
            "pass_s": statistics.median(p["wall_s"] for p in measured),
            "pass_cpu_s": statistics.median(p["cpu_s"] for p in measured),
            "op_p50_s": statistics.median(samples),
            "op_slowest_s": max(per_op),
            "peak_rss_mb": sum(peak_rss.values()),
        },
        "op_samples": len(samples),
    }
    if args.trace:
        keys = sorted({k for p in measured for k in p["layers"]})
        per_layer = {
            k: statistics.median(p["layers"].get(k, 0.0) for p in measured) for k in keys
        }
        per_layer.update(layers)
        result["per_layer"] = per_layer
        trace_path = os.path.join(args.run_dir, "trace.json")
        with open(trace_path, "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed, "spans": tracer.spans}, f)
        result["trace"] = trace_path
    with open(os.path.join(args.run_dir, "child.json"), "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
