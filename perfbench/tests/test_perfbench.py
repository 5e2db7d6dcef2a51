"""Tests of the benchmark's own parts: input generator, oracle check,
job attribution, temp-directory handling and launch from any directory.

Run with ``python3 -m pytest perfbench/tests -q``.  Set
``VEGA_SOURCE_SF_DIR`` to a directory of the engine's reference tables
to also compare the generated schemas with them.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import subprocess
import sys
from operator import add

import pyarrow.parquet as pq
import pytest

from perfbench import bench, gen, probes
from perfbench.workloads import EXCLUDED, WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
SMALL = 0.002


def _schema(sf_dir: str, table: str):
    path = os.path.join(sf_dir, f"{table}.parquet")
    if os.path.isdir(path):
        path = os.path.join(path, sorted(os.listdir(path))[0])
    return pq.read_schema(path).remove_metadata()


def _digest(sf_dir: str, table: str) -> str:
    h = hashlib.sha256()
    tdir = os.path.join(sf_dir, f"{table}.parquet")
    for f in sorted(os.listdir(tdir)):
        with open(os.path.join(tdir, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def test_generated_schemas_match_declared(tmp_path):
    sf_dir = gen.ensure_inputs(str(tmp_path), SMALL, 7)
    for table, schema in gen.SCHEMAS.items():
        assert _schema(sf_dir, table).equals(schema), table


@pytest.mark.skipif(not os.environ.get("VEGA_SOURCE_SF_DIR"),
                    reason="VEGA_SOURCE_SF_DIR not set")
def test_declared_schemas_match_source():
    src = os.environ["VEGA_SOURCE_SF_DIR"]
    for table, schema in gen.SCHEMAS.items():
        assert _schema(src, table).equals(schema), table


def test_same_seed_same_files_other_seed_other_files(tmp_path):
    a = gen.ensure_inputs(str(tmp_path / "a"), SMALL, 1)
    b = gen.ensure_inputs(str(tmp_path / "b"), SMALL, 1)
    c = gen.ensure_inputs(str(tmp_path / "c"), SMALL, 2)
    for table in ("lineitem", "events", "documents", "embeddings"):
        assert _digest(a, table) == _digest(b, table)
        assert _digest(a, table) != _digest(c, table)


def test_ensure_inputs_keeps_only_the_current_seed(tmp_path):
    gen.ensure_inputs(str(tmp_path), SMALL, 1)
    gen.ensure_inputs(str(tmp_path), SMALL, 2)
    assert sorted(os.listdir(tmp_path)) == [f"sf{SMALL:g}-seed2"]


def test_workloads_name_registry_queries_with_oracles():
    from vega_spark import registry
    for w in WORKLOADS.values():
        for q in w.queries:
            assert q in registry.QUERIES and q in registry.ORACLES, q
            assert q not in EXCLUDED, q


def _verdicts(spark, sf_dir, names):
    from perfbench.oracle import Oracle
    from vega_spark import registry
    oracle = Oracle(sf_dir)
    try:
        out = {}
        for name in names:
            df = registry.QUERIES[name](spark, sf_dir)
            rows = [tuple(r) for r in df.collect()]
            types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
            out[name] = oracle.problems(name, df.columns, types, rows)
        return out
    finally:
        oracle.close()


def test_two_seeds_same_oracle_verdicts(bench_spark, tmp_path):
    names = ["tpch_q18_large_orders", "streaming_windowed_counts",
             "merge_upsert_orders", "bfs_parts_distance"]
    v1 = _verdicts(bench_spark, gen.ensure_inputs(str(tmp_path / "a"), SMALL, 1), names)
    v2 = _verdicts(bench_spark, gen.ensure_inputs(str(tmp_path / "b"), SMALL, 2), names)
    assert v1 == v2 == {n: [] for n in names}


def test_oracle_reports_a_wrong_result(bench_spark, tmp_path):
    from perfbench.oracle import Oracle
    from vega_spark import registry
    sf_dir = gen.ensure_inputs(str(tmp_path), SMALL, 3)
    df = registry.QUERIES["tpch_q18_large_orders"](bench_spark, sf_dir)
    rows = [tuple(r) for r in df.collect()]
    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    oracle = Oracle(sf_dir)
    try:
        assert oracle.problems("tpch_q18_large_orders", df.columns, types, rows) == []
        assert oracle.problems("tpch_q18_large_orders", df.columns, types, rows[1:])
    finally:
        oracle.close()


def test_job_range_counts_known_plans(bench_spark):
    sc = bench_spark.sparkContext
    store = probes.StatusStore(bench_spark)
    pairs = sc.parallelize(range(100), 4).map(lambda x: (x % 3, 1))

    j0 = store.next_job_id()
    pairs.reduceByKey(add, 2).collect()
    one = store.counters(j0, store.next_job_id())
    assert (one["jobs"], one["stages"], one["tasks"]) == (1, 2, 6)

    j0 = store.next_job_id()
    (pairs.reduceByKey(add, 2).map(lambda kv: (kv[1], kv[0]))
     .reduceByKey(add, 2).collect())
    two = store.counters(j0, store.next_job_id())
    assert (two["jobs"], two["stages"], two["tasks"]) == (1, 3, 8)
    assert two["shuffle.write_bytes"] > 0


def test_job_range_counts_jobs_on_helper_threads(bench_spark):
    """Jobs started by ``run_overlapped`` legs run on pool threads, which
    a job group set on the caller's thread does not reach."""
    from vega_spark.session import run_overlapped
    sc = bench_spark.sparkContext
    store = probes.StatusStore(bench_spark)
    j0 = store.next_job_id()
    run_overlapped(lambda: sc.parallelize(range(10), 2).count(),
                   lambda: sc.parallelize(range(10), 3).count())
    got = store.counters(j0, store.next_job_id())
    assert (got["jobs"], got["stages"], got["tasks"]) == (2, 2, 5)


def test_stop_session_leaves_no_process(tmp_path):
    """The set-up probe starts and stops its own JVM in a child process;
    neither the child nor anything it started may outlive it."""
    run_dir = tmp_path / "run"
    res = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
         "--setup-probe", str(run_dir)],
        cwd=tmp_path, capture_output=True, text=True, timeout=300,
        env={**os.environ, "TMPDIR": str(tmp_path)})
    assert res.returncode == 0, res.stderr[-2000:]
    assert '"setup_s"' in res.stdout.splitlines()[-1]
    leftovers = subprocess.run(["pgrep", "-f", str(run_dir)],
                               capture_output=True, text=True).stdout.split()
    assert leftovers == []


def test_python_udf_query_runs_from_another_cwd(tmp_path):
    """Python workers import the engine only when it is on their path;
    the benchmark puts it there, whatever the working directory."""
    script = f"""
import os, sys
sys.path.insert(0, {ROOT!r})
from perfbench import bench, gen
from perfbench.oracle import Oracle
from vega_spark import registry
paths = bench.Paths({ROOT!r}, {str(tmp_path / 'run')!r})
bench.prepare_env(paths)
sf_dir = gen.ensure_inputs({str(tmp_path / 'data')!r}, {SMALL}, 5)
spark = bench.start_session(paths)
try:
    df = registry.QUERIES["png_pixel_decode_stats"](spark, sf_dir)
    rows = [tuple(r) for r in df.collect()]
    types = {{f.name: f.dataType.simpleString() for f in df.schema.fields}}
    print("PROBLEMS", Oracle(sf_dir).problems("png_pixel_decode_stats", df.columns, types, rows))
finally:
    bench.stop_session(spark)
"""
    cwd = tmp_path / "elsewhere"
    cwd.mkdir()
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    res = subprocess.run([sys.executable, "-c", script], cwd=cwd, env=env,
                         capture_output=True, text=True, timeout=300)
    assert res.returncode == 0, res.stderr[-3000:]
    assert "PROBLEMS []" in res.stdout


def test_command_fails_without_engine_sources(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    res = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "driver_floor",
         "--seed", "1", "--seconds", "5", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert res.returncode != 0
    assert res.stdout == ""


def test_temp_bytes_counts_files_left_behind(tmp_path):
    (tmp_path / "a").mkdir()
    (tmp_path / "a" / "f").write_bytes(b"x" * 1000)
    (tmp_path / "g").write_bytes(b"y" * 24)
    assert probes.dir_bytes(str(tmp_path)) == 1024


def test_pass_layers_derives_shares():
    rec = {"wall_s": 10.0, "oracle.check_s": 0.5, "queries": {
        "q": {"build_s": 6.0, "action_s": 4.0, "executor.run_s": 8.0,
              "executor.cpu_s": 3.0, "jvm.cpu_s": 5.0, "temp.bytes_left": 7}}}
    layers = bench._pass_layers(rec, 4)
    assert layers["registry.build_share"] == 0.6
    assert layers["scheduler.exec_busy_share"] == 0.2
    assert layers["jvm.driver_cpu_s"] == 2.0
    assert layers["temp.bytes_left"] == 7
    assert set(layers) | {"session.start_s", "session.jvm_peak_rss_mb",
                          "trace.overhead_s"} == set(bench.LAYER_UNITS)


def test_benchmark_json_names_every_reported_metric():
    import json
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == bench.LAYER_UNITS
    assert [m["name"] for m in spec["end_to_end"]] == ["setup_s", "cold_pass_s", "warm_pass_s"]
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
