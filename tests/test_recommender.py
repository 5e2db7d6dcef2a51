"""ALS matrix factorization (functions/recommender.py) — the
collaborative-filtering family. Capability superset: the reference
has no ML layer (SURVEY.md §2.11)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from vega_spark.functions.recommender import (
    als_explicit,
    als_rmse,
    recommend_top_k,
)


def _lowrank_ratings(spark, n_u=25, n_i=30, rank=2, seed=2):
    rng = np.random.default_rng(seed)
    U = rng.normal(size=(n_u, rank))
    V = rng.normal(size=(n_i, rank))
    R = U @ V.T
    rows = [(u, i, float(R[u, i]))
            for u in range(n_u) for i in range(n_i)]
    return spark.createDataFrame(rows, "user long, item long, r double")


def test_als_recovers_low_rank_and_descends(spark):
    df = _lowrank_ratings(spark).cache()
    prev = None
    for iters in (1, 3):
        xu, yi = als_explicit(df, "user", "item", "r",
                              rank=3, iters=iters, reg=0.01)
        rmse = als_rmse(df, "user", "item", "r", xu, yi, rank=3)
        if prev is not None:
            # non-increase up to solver noise (both sides converge to
            # the ~1e-5 floor on exactly factorizable data)
            assert rmse <= prev * 1.05 + 1e-9
        prev = rmse
    # exactly factorizable matrix: near-perfect reconstruction
    assert prev < 0.05
    # factor frames are one row per entity
    assert xu.count() == 25 and yi.count() == 30


def test_als_determinism_and_recommendations(spark):
    df = _lowrank_ratings(spark, seed=7).cache()
    xu1, yi1 = als_explicit(df, "user", "item", "r", rank=2, iters=2)
    xu2, yi2 = als_explicit(df, "user", "item", "r", rank=2, iters=2)
    # md5 init + deterministic solves → identical factors across runs
    f1 = sorted((r.id, tuple(round(v, 9) for v in r.f))
                for r in xu1.collect())
    f2 = sorted((r.id, tuple(round(v, 9) for v in r.f))
                for r in xu2.collect())
    assert f1 == f2
    users = spark.createDataFrame([(0,), (3,)], "user long")
    # hold out items >= 25 → recommendations must come from there
    seen = df.filter("item < 25")
    rec = recommend_top_k(seen, "user", "item", xu1, yi1, users, k=2,
                          rank=2)
    rows = rec.collect()
    assert len(rows) == 4
    assert all(r.item >= 25 for r in rows)
    assert all(r.rk in (1, 2) for r in rows)


def test_release_local_checkpoint_frees_blocks(spark):
    # r8: iterative operators must release superseded checkpoints
    # deterministically (ALS half-steps swung 15s..112s at the 100x
    # smoke from accumulated block-manager state). Pin the helper's
    # contract: blocks present after localCheckpoint, gone after
    # release, and a non-checkpoint frame is a safe no-op.
    from vega_spark.session import release_local_checkpoint

    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    df = spark.range(10000).selectExpr("id", "id * 2 AS y") \
        .localCheckpoint()
    df.count()
    assert jsc.getPersistentRDDs().size() == before + 1
    release_local_checkpoint(df)
    assert jsc.getPersistentRDDs().size() == before
    # no-op on a plain frame
    release_local_checkpoint(spark.range(10))


def test_rmse_vs_baseline_matches_separate_jobs(spark):
    """r9 opt: the fused single-action (rmse, baseline-sd) helper must
    return exactly the two scalars the separate jobs produced."""
    from vega_spark.functions.recommender import als_rmse_vs_baseline

    df = _lowrank_ratings(spark).cache()
    xu, yi = als_explicit(df, "user", "item", "r",
                          rank=3, iters=2, reg=0.01)
    rmse_f, sd_f = als_rmse_vs_baseline(df, "user", "item", "r", xu, yi,
                                        rank=3)
    rmse_sep = als_rmse(df, "user", "item", "r", xu, yi, rank=3)
    sd_sep = float(
        df.agg(F.stddev_pop("r").alias("sd")).collect()[0]["sd"])
    assert rmse_f == rmse_sep
    assert sd_f == sd_sep


def _spd_stats(rng, rank: int, n_systems: int, singular: bool):
    """Random normal-equation systems A = Yᵀ Y, b = Yᵀ r in the
    ``_cholesky_solve`` input layout. ``singular`` gives each system
    fewer interactions than ``rank`` (a singular A, as for an entity
    with few ratings)."""
    rows, systems = [], []
    for e in range(n_systems):
        n = rng.integers(1, rank) if singular and rank > 1 else \
            rng.integers(rank, 4 * rank)
        Y = rng.normal(size=(n, rank))
        A, b = Y.T @ Y, Y.T @ rng.normal(size=n)
        rows.append((e, *(float(A[i, j]) for i in range(rank)
                          for j in range(i + 1)), *map(float, b)))
        systems.append((A, b))
    cols = (["id"] + [f"a{i}_{j}" for i in range(rank)
                      for j in range(i + 1)]
            + [f"b{i}" for i in range(rank)])
    return rows, cols, systems


def test_expression_solve_matches_numpy(spark):
    """The JVM Cholesky solve equals numpy's LU solve (the reference)
    on random SPD systems, ranks 1-6, including singular A made
    definite only by a small reg."""
    from vega_spark.functions.recommender import _cholesky_solve

    rng = np.random.default_rng(11)
    for rank in range(1, 7):
        for singular, reg in ((False, 0.1), (False, 1e-6),
                              (True, 1e-3)):
            if singular and rank == 1:
                continue
            rows, cols, systems = _spd_stats(rng, rank, 12, singular)
            got = {r.id: np.array(r.f) for r in _cholesky_solve(
                spark.createDataFrame(rows, cols), rank, reg).collect()}
            for e, (A, b) in enumerate(systems):
                want = np.linalg.solve(A + reg * np.eye(rank), b)
                np.testing.assert_allclose(
                    got[e], want, rtol=1e-9,
                    atol=1e-9 * np.linalg.norm(want),
                    err_msg=f"rank={rank} reg={reg} system={e}")


def test_als_rejects_nonpositive_reg_before_any_job(spark):
    df = _lowrank_ratings(spark)
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    before = dag.numTotalJobs()
    for reg in (0, 0.0, -0.1, float("nan")):
        with pytest.raises(ValueError, match="reg > 0"):
            als_explicit(df, "user", "item", "r", rank=2, reg=reg)
    assert dag.numTotalJobs() == before


def test_solved_factors_plan_has_no_python_node(spark):
    from vega_spark.functions.recommender import _init_factors, _solve_side

    df = _lowrank_ratings(spark)
    yi = _init_factors(df.select("item").distinct(), "item", 3, "als")
    xu = _solve_side(df, "user", "item", "r", yi, 3, 0.1,
                     broadcast_fixed=True)
    plan = xu._jdf.queryExecution().executedPlan().toString()
    for node in ("MapInPandas", "PythonMapInArrow", "ArrowEvalPython",
                 "BatchEvalPython"):
        assert node not in plan, plan
    assert xu.schema.simpleString() == "struct<id:bigint,f:array<double>>"
    assert xu.count() == 25
