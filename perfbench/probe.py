"""Probe behind the workloads' operation lists.

    python3 perfbench/probe.py [--seed 1] [--modules dedup,text]

Runs every registered spec (or those of the named defining modules) in
one process on the seeded inputs, twice in a row after
``clear_caches(spark, keep_table_handles=True)``, and prints per module:
the number of specs, the module's share of the summed second-call time
of its traffic group, and the spec whose cost (first plus second call)
is the module's lower median. ``workloads.py`` lists those picks.
Output roots are redirected into ``.bench_build/perfbench/probe``.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

from child import PKG, redirect_output_roots  # noqa: E402
from inputs import ensure_inputs  # noqa: E402
from run import STATE, prepare_env  # noqa: E402

#: traffic groups whose module shares are compared with each other
GROUPS = {
    "warehouse": ("analytics", "tpch_shapes", "windows", "stats", "layout", "dq",
                  "profile", "sketch", "events"),
    "corpus": ("dedup", "semdedup", "similarity", "text", "multimodal", "pipeline"),
}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--modules", default="", help="comma-separated defining modules")
    args = ap.parse_args()
    data_dir = ensure_inputs(os.path.join(STATE, "inputs"), args.seed)
    work = os.path.join(STATE, "probe")
    prepare_env(os.environ, os.path.join(work, "tmp"))

    import __spark_entry__

    from gcp_dbt_data_engineering_spark.session import clear_caches, get_spark
    from gcp_dbt_data_engineering_spark.sources.registry import register_all

    specs = __spark_entry__._all_specs()  # noqa: SLF001
    os.chdir(work)  # Spark's cwd-relative output stays inside the state directory
    redirect_output_roots(work)
    spark = get_spark(app_name="perfbench-probe")
    register_all(spark, data_dir)
    wanted = {m for m in args.modules.split(",") if m}

    by_module: dict[str, dict[str, tuple[float, float]]] = {}
    for name, spec in specs.items():
        module = spec.spark.__module__.removeprefix(PKG + ".").split(".")[-1]
        if spec.kind != "query":
            module = "materializations"
        if wanted and module not in wanted:
            continue
        calls = []
        for _ in range(2):
            clear_caches(spark, keep_table_handles=True)
            t = time.perf_counter()
            spec.spark(spark, data_dir).toArrow()
            calls.append(time.perf_counter() - t)
        by_module.setdefault(module, {})[name] = (calls[0], calls[1])
        print(f"{module:16s} {name:40s} {calls[0]:7.3f} {calls[1]:7.3f}", flush=True)
    spark.stop()

    groups = {**GROUPS, "materializations": ("materializations",)}
    for group, modules in groups.items():
        present = [m for m in modules if m in by_module]
        total = sum(c[1] for m in present for c in by_module[m].values())
        print(f"\n{group}: {sum(len(by_module[m]) for m in present)} specs, "
              f"{total:.2f} s of second calls")
        for m in present:
            cost = {n: c[0] + c[1] for n, c in by_module[m].items()}
            low = statistics.median_low(cost.values())
            pick = min(n for n, v in cost.items() if v == low)
            share = sum(c[1] for c in by_module[m].values()) / total if total else 0.0
            print(f"  {m:16s} specs {len(cost):3d}  share {share:6.1%}  "
                  f"pick {pick} ({low:.2f} s)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
