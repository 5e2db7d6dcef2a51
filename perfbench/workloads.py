"""The benchmark's workloads: which registry queries run, on inputs of
which scale, and why each was chosen.

Layers and the workload that exercises each (per-layer metrics in
parentheses):

- session (``session.*``): both workloads, through ``setup_s``;
- registry construction, Catalyst planning and the scheduler
  (``registry.*``, ``catalyst.plan_s``, ``jvm.driver_cpu_s``,
  ``scheduler.*``): ``driver_floor``;
- executor operators, Python workers and sinks (``executor.*``,
  ``sources.*``, ``shuffle.*``, ``spill.bytes``, ``pyworker.cpu_s``,
  ``sink.output_bytes``, ``temp.bytes_left``): ``executor_bound``.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    scale: float
    queries: tuple[str, ...]
    why: str


WORKLOADS: dict[str, Workload] = {
    "driver_floor": Workload(
        scale=0.01,
        queries=("als_recommend_parts", "bfs_parts_distance"),
        why=("the two highest jobs-per-query queries (about 58 and 28 jobs); "
             "construction is over half the wall time, executors mostly idle"),
    ),
    "executor_bound": Workload(
        scale=0.1,
        queries=("tpch_q18_large_orders", "png_pixel_decode_stats",
                 "streaming_windowed_counts", "merge_upsert_orders"),
        why=("executor-side scan, shuffle, Arrow UDF and file/stream sink work "
             "on 600k lineitem rows; construction is a small share"),
    ),
}

# Queries named by the benchmark's design but kept out of the timed
# workloads, with the reason.  A workload may hold no query that fails.
EXCLUDED: dict[str, str] = {
    "compact_small_files": (
        "at scale 0.3 its ROUND(SUM(o_totalprice), 2) differs from the "
        "DuckDB oracle in the last cent (summation order over 450k "
        "doubles); an open scale-invariance item, see perfbench/README.md"),
}
