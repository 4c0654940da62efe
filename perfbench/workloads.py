"""Operation lists of the benchmark's workloads, as explicit names.

A workload never changes by itself: every name must exist in the spec
registry (``__spark_entry__._all_specs()``) or the run stops, and specs
added to the registry later are ignored until they are listed here.
Derived memos are dropped before every operation (catalog handles are
kept), so each operation rebuilds what it needs.

Each workload takes one spec per defining module: the one whose cost
(first plus second call in one process) is the module's lower median,
from a probe of every spec on seed-1 inputs. Modules with the smallest
share of a full pass are left out so that a set of runs fits its time;
README.md ("Workloads") gives the probe, each module's share and what
is left out.
"""

WORKLOADS: dict[str, tuple[str, ...]] = {
    "warehouse": (
        "orders_snapshot_diff",            # plans.analytics
        "small_quantity_revenue",          # plans.tpch_shapes
        "orders_daily_moving_stats",       # plans.windows
        "orders_cohort_ltv",               # plans.stats
        "events_zorder_locality",          # plans.layout (reads)
        "dq_psi_drift",                    # operators.dq
        "sketch_hll_distinct_users",       # operators.sketch
        "model_pipeline_segment_summary",  # plans.models (a materialization)
    ),
    "corpus": (
        "similarity_pq_adc",               # operators.similarity
        "dedup_simhash",                   # operators.dedup
        "multimodal_resize_plan",          # operators.multimodal
        "contamination_ngram_check",       # operators.pipeline
    ),
}
