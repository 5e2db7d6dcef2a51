"""Round-2 late analytics families: robust anomalies, spike z-scores,
association rules, item-item neighbors, BFS distances, seasonal-naive
backtest (functions/analytics, functions/graph.bfs_distances)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from vega_spark.functions.analytics import (
    association_rules,
    hourly_spikes,
    item_item_neighbors,
    robust_anomalies,
    seasonal_naive_backtest,
)
from vega_spark.functions.graph import bfs_distances
from vega_spark.plans.advisor import assert_scale_safe


def test_robust_anomalies_flags_only_outliers(spark):
    # group a: values 1..9 plus a wild 100 -> med 5.5, MAD 2.5
    rows = [(i, "a", float(v)) for i, v in enumerate([1, 2, 3, 4, 5,
                                                      6, 7, 8, 9, 100])]
    # group b: constant -> MAD 0 -> never flagged (z undefined)
    rows += [(100 + i, "b", 7.0) for i in range(5)]
    df = spark.createDataFrame(rows, "id long, k string, v double")
    out = robust_anomalies(df, "k", "v", id_cols=["id"], z_thresh=3.5)
    got = out.collect()
    assert [r.id for r in got] == [9]
    expect = round(0.6745 * (100 - 5.5) / 2.5, 3)
    assert got[0].robust_z == expect


def test_robust_anomalies_plan_scale_safe(spark):
    df = spark.createDataFrame([(1, "a", 1.0)], "id long, k string, v double")
    assert_scale_safe(robust_anomalies(df, "k", "v", id_cols=["id"]))


def test_hourly_spikes_z_values(spark):
    # type x: three hours with counts 1, 1, 4 -> mu=2, sd=sqrt(3)
    rows = [("x", "2024-01-01 00:00:05"),
            ("x", "2024-01-01 01:00:05"),
            ("x", "2024-01-01 02:00:05"), ("x", "2024-01-01 02:10:00"),
            ("x", "2024-01-01 02:20:00"), ("x", "2024-01-01 02:30:00"),
            # type y: a single hour -> sd undefined -> spike_z null
            ("y", "2024-01-01 00:00:01")]
    ev = spark.createDataFrame(rows, "event_type string, s string") \
        .select("event_type", F.col("s").cast("timestamp").alias("ts"))
    out = {(r.event_type, str(r.hour)): r
           for r in hourly_spikes(ev).collect()}
    sd = math.sqrt(3.0)
    assert out[("x", "2024-01-01 02:00:00")].spike_z == round(2 / sd, 3)
    assert out[("x", "2024-01-01 00:00:00")].spike_z == round(-1 / sd, 3)
    assert out[("y", "2024-01-01 00:00:00")].spike_z is None


def test_association_rules_hand_computed(spark):
    # baskets: {1,2} x3, {1,3} x1  -> N=4, n_1=4, n_2=3, n_3=1
    rows = [(1, 1), (1, 2), (2, 1), (2, 2), (3, 1), (3, 2), (4, 1), (4, 3)]
    df = spark.createDataFrame(rows, "b long, i long")
    out = {(r.ante, r.cons): r
           for r in association_rules(df, "b", "i", min_count=2).collect()}
    # only pair (1,2) reaches min_count; both directions emitted
    assert set(out) == {(1, 2), (2, 1)}
    r = out[(1, 2)]
    assert (r.n_baskets, r.support) == (3, round(3 / 4, 6))
    assert r.confidence == round(3 / 4, 6)           # P(2|1) = 3/4
    assert r.lift == round(3 * 4 / (4 * 3), 6)       # = 1.0
    assert out[(2, 1)].confidence == round(3 / 3, 6)  # P(1|2) = 1


def test_item_item_neighbors_topk_and_ties(spark):
    # item 1 co-occurs with 2 (x2) and 3 (x2); n_1=4, n_2=2, n_3=2
    # -> identical cosine; tie must break on the smaller neighbor id
    rows = [(1, 1), (1, 2), (2, 1), (2, 2), (3, 1), (3, 3), (4, 1), (4, 3)]
    df = spark.createDataFrame(rows, "b long, i long")
    out = item_item_neighbors(df, "b", "i", k=1, min_count=2).collect()
    mine = {r.item: r for r in out}
    assert mine[1].neighbor == 2 and mine[1].rank == 1
    cos = round(2 / math.sqrt(4 * 2), 6)
    assert mine[1].cosine == cos
    # every item emits at most k rows
    counts = {}
    for r in item_item_neighbors(df, "b", "i", k=1, min_count=2).collect():
        counts[r.item] = counts.get(r.item, 0) + 1
    assert max(counts.values()) == 1


def test_bfs_distances_hops_and_cap(spark):
    # path graph 1-2-3-4-5 plus isolated edge 8-9 (unreachable)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (8, 9)], "u long, v long")
    out = {r.node: r.dist for r in bfs_distances(edges, max_hops=2).collect()}
    assert out == {1: 0, 2: 1, 3: 2}          # capped at 2 hops
    full = {r.node: r.dist
            for r in bfs_distances(edges, max_hops=10).collect()}
    assert full == {1: 0, 2: 1, 3: 2, 4: 3, 5: 4}  # early-exits, 8/9 excluded


def test_bfs_explicit_source(spark):
    edges = spark.createDataFrame([(1, 2), (2, 3)], "u long, v long")
    src = spark.createDataFrame([(3,)], "node long")
    out = {r.node: r.dist
           for r in bfs_distances(edges, source=src, max_hops=4).collect()}
    assert out == {3: 0, 2: 1, 1: 2}


def test_seasonal_naive_backtest_mae(spark):
    # hours 0h,24h,48h with counts 1,2,4 -> two scored hours:
    # |2-1| and |4-2| -> MAE 1.5
    rows = ([("x", "2024-01-01 00:00:00")]
            + [("x", "2024-01-02 00:%02d:00" % m) for m in (1, 2)]
            + [("x", "2024-01-03 00:%02d:00" % m) for m in (1, 2, 3, 4)])
    ev = spark.createDataFrame(rows, "event_type string, s string") \
        .select("event_type", F.col("s").cast("timestamp").alias("ts"))
    r = seasonal_naive_backtest(ev, season_hours=24).collect()[0]
    assert (r.n_hours, r.mae) == (2, 1.5)


def test_rules_and_neighbors_plans_scale_safe(spark):
    df = spark.createDataFrame([(1, 1), (1, 2)], "b long, i long")
    assert_scale_safe(association_rules(df, "b", "i"))
    # the per-item window is PARTITIONED — advisor would flag a global one
    assert_scale_safe(item_item_neighbors(df, "b", "i"))


def test_dsir_weights_separate_domains(spark):
    from vega_spark.functions.pipeline import dsir_importance_weights
    # target docs speak "alpha beta", pool docs speak "gamma delta";
    # doc 5 is a pool doc written in pure target vocabulary
    rows = [(1, "alpha beta alpha", "en"), (2, "beta alpha beta", "en"),
            (3, "gamma delta gamma", "de"), (4, "delta gamma delta", "de"),
            (5, "alpha beta", "de")]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {r.doc_id: r for r in dsir_importance_weights(
        docs, F.col("lang") == "en").collect()}
    assert out[5].selected and out[1].selected
    assert not out[3].selected and not out[4].selected
    assert out[5].n_tokens == 2
    # target-vocab docs score strictly above pool-vocab docs
    assert out[5].llr_weight > 0 > out[3].llr_weight


def test_dsir_plan_scale_safe(spark):
    from vega_spark.functions.pipeline import dsir_importance_weights
    docs = spark.createDataFrame([(1, "a b", "en")],
                                 "doc_id long, text string, lang string")
    assert_scale_safe(dsir_importance_weights(docs, F.col("lang") == "en"))


def test_shortest_paths_weighted_relaxation(spark):
    from vega_spark.functions.graph import shortest_paths
    # 1-2 (w1), 2-3 (w1), 1-3 (w5): direct edge loses to the 2-hop path
    edges = spark.createDataFrame(
        [(1, 2, 1), (2, 3, 1), (1, 3, 5)], "u long, v long, w int")
    out = {r.node: r.dist
           for r in shortest_paths(edges, max_rounds=4).collect()}
    assert out == {1: 0, 2: 1, 3: 2}
    # with a single round the relaxation can't find the cheap detour
    one = {r.node: r.dist
           for r in shortest_paths(edges, max_rounds=1).collect()}
    assert one[3] == 5


def test_jackknife_mean_matches_closed_form(spark):
    from vega_spark.operators.stats import jackknife_mean
    # g=2 folds via md5 parity is opaque — instead verify invariants:
    # constant values => se 0; n and mean exact
    rows = [(i, "a", 10.0) for i in range(40)]
    df = spark.createDataFrame(rows, "id long, k string, v double")
    r = jackknife_mean(df, "v", "k", "id", g=4).collect()[0]
    assert (r.n, r.mean, r.g_folds) == (40, 10.0, 4)
    assert r.se_jack == 0.0
    # a single-fold group drops out (no leave-one-out sample)
    df1 = spark.createDataFrame([(1, "b", 5.0)], "id long, k string, v double")
    assert jackknife_mean(df1, "v", "k", "id", g=1).collect() == []


def test_jackknife_detects_spread(spark):
    from vega_spark.operators.stats import jackknife_mean
    rows = [(i, "a", float(i % 7)) for i in range(200)]
    df = spark.createDataFrame(rows, "id long, k string, v double")
    r = jackknife_mean(df, "v", "k", "id", g=10).collect()[0]
    assert r.se_jack > 0
    assert r.g_folds == 10


def test_sssp_plan_scale_safe(spark):
    from vega_spark.functions.graph import shortest_paths
    edges = spark.createDataFrame([(1, 2, 1)], "u long, v long, w int")
    assert_scale_safe(shortest_paths(edges, max_rounds=1))


def test_robust_stats_frame(spark):
    from vega_spark.functions.analytics import robust_stats
    rows = [(i, "a", float(v)) for i, v in enumerate([1, 2, 3, 4, 100])]
    df = spark.createDataFrame(rows, "id long, k string, v double")
    r = robust_stats(df, "k", "v").collect()[0]
    assert (r.k, r.med, r.mad) == ("a", 3.0, 1.0)  # |x-3| -> [0,1,1,2,97]


def test_hourly_trend_exact_ols(spark):
    from vega_spark.functions.analytics import hourly_trend
    # counts 1,2,3 in consecutive hours -> slope exactly 1, intercept 1
    rows = ([("x", "2024-01-01 00:00:00")]
            + [("x", "2024-01-01 01:%02d:00" % m) for m in (1, 2)]
            + [("x", "2024-01-01 02:%02d:00" % m) for m in (1, 2, 3)]
            # single-hour key -> NULL slope
            + [("y", "2024-01-01 05:00:00")])
    ev = spark.createDataFrame(rows, "event_type string, s string") \
        .select("event_type", F.col("s").cast("timestamp").alias("ts"))
    out = {r.event_type: r for r in hourly_trend(ev).collect()}
    assert (out["x"].slope, out["x"].intercept) == (1.0, 1.0)
    assert out["x"].n_hours == 3
    assert out["y"].slope is None


def test_mutual_information_known_values(spark):
    from vega_spark.operators.stats import mutual_information
    # perfectly dependent: x='a' -> low bin, x='b' -> high bin
    rows = [("a", 10.0)] * 8 + [("b", 90.0)] * 8
    df = spark.createDataFrame(rows, "x string, v double")
    r = mutual_information(df, "x", "v", y_bins=2, y_lo=0.0,
                           y_hi=100.0).collect()[0]
    assert (r.n, r.n_cells) == (16, 2)
    assert r.mi_nats == round(math.log(2.0), 6)   # 1 bit, in nats
    # independent: both x values spread evenly over both bins
    rows2 = [("a", 10.0), ("a", 90.0), ("b", 10.0), ("b", 90.0)] * 4
    df2 = spark.createDataFrame(rows2, "x string, v double")
    r2 = mutual_information(df2, "x", "v", y_bins=2, y_lo=0.0,
                            y_hi=100.0).collect()[0]
    assert r2.mi_nats == 0.0


def test_k_core_peels_tendrils(spark):
    from vega_spark.functions.graph import k_core
    # triangle 1-2-3 plus a tendril 3-4: node 4 peels off, then the
    # triangle is stable at degree 2
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "u long, v long")
    out = {r.node: r.deg for r in k_core(edges, k=2, max_rounds=2).collect()}
    assert out == {1: 2, 2: 2, 3: 2}
    # k=3 kills everything (no node survives a 3-core here)
    assert k_core(edges, k=3, max_rounds=2).collect() == []


def test_chi_squared_known_values(spark):
    from vega_spark.operators.stats import chi_squared
    # perfect dependence, 2x2, 8+8 rows: chi2 == n == 16, dof 1
    rows = [("a", 10.0)] * 8 + [("b", 90.0)] * 8
    df = spark.createDataFrame(rows, "x string, v double")
    r = chi_squared(df, "x", "v", y_bins=2, y_lo=0.0, y_hi=100.0).collect()[0]
    assert (r.n, r.n_cells, r.dof, r.chi2) == (16, 4, 1, 16.0)
    # independence: chi2 exactly 0
    rows2 = [("a", 10.0), ("a", 90.0), ("b", 10.0), ("b", 90.0)] * 4
    df2 = spark.createDataFrame(rows2, "x string, v double")
    assert chi_squared(df2, "x", "v", y_bins=2, y_lo=0.0,
                       y_hi=100.0).collect()[0].chi2 == 0.0


def test_weighted_sample_ares_properties(spark):
    from vega_spark.operators.sampling import weighted_sample_ares
    rows = [(i, float(1 + i % 10)) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, w double")
    got = weighted_sample_ares(df, "w", "doc_id", n=40).collect()
    assert len(got) == 40
    assert len({r.id for r in got}) == 40           # without replacement
    again = weighted_sample_ares(df, "w", "doc_id", n=40).collect()
    assert [r.id for r in got] == [r.id for r in again]  # deterministic
    # heavier rows are overrepresented: mean sampled weight > corpus mean
    corpus_mean = sum(w for _, w in rows) / len(rows)
    assert sum(r.weight for r in got) / 40 > corpus_mean
    # zero/negative weights never sampled
    dfz = spark.createDataFrame([(1, 0.0), (2, 5.0)], "doc_id long, w double")
    assert [r.id for r in weighted_sample_ares(dfz, "w", "doc_id", 5)
            .collect()] == [2]


def test_weighted_sample_plan_is_take_ordered(spark):
    from vega_spark.operators.sampling import weighted_sample_ares
    from vega_spark.plans import inspect as I
    df = spark.createDataFrame([(1, 2.0)], "doc_id long, w double")
    assert I.uses_take_ordered(weighted_sample_ares(df, "w", "doc_id", 5))


def test_category_diversity_known_values(spark):
    from vega_spark.functions.analytics import category_diversity
    # source s1: 2+2 over two langs -> H = ln 2, simpson = 0.5
    # source s2: single lang -> H = 0, simpson = 0
    rows = [("s1", "en"), ("s1", "en"), ("s1", "de"), ("s1", "de"),
            ("s2", "en")]
    df = spark.createDataFrame(rows, "source string, lang string")
    out = {r.source: r for r in category_diversity(df, "source",
                                                   "lang").collect()}
    assert (out["s1"].n, out["s1"].n_cats) == (4, 2)
    assert out["s1"].shannon_nats == round(math.log(2.0), 6)
    assert out["s1"].simpson == 0.5
    assert (out["s2"].shannon_nats, out["s2"].simpson) == (0.0, 0.0)


def test_benford_screen_separates_conforming_data(spark):
    from vega_spark.operators.stats import benford_screen
    # group "b": perfect Benford sample — one value per digit d with
    # multiplicity round(1000*log10(1+1/d)) -> tiny chi2
    import math as m
    rows = []
    for d in range(1, 10):
        rows += [("b", float(d))] * round(1000 * m.log10(1 + 1 / d))
    # group "u": all values lead with digit 9 -> huge chi2
    rows += [("u", 9.5)] * 100
    df = spark.createDataFrame(rows, "k string, v double")
    out = {r.k: r for r in benford_screen(df, "k", "v").collect()}
    assert out["b"].benford_chi2 < 1.0
    assert out["u"].benford_chi2 > 100.0
    # sub-cent values are excluded from n
    df2 = spark.createDataFrame([("x", 0.001), ("x", 1.0)],
                                "k string, v double")
    assert benford_screen(df2, "k", "v").collect()[0].n == 1


def test_weighted_sample_stratified_quota(spark):
    from vega_spark.operators.sampling import weighted_sample_ares_by
    rows = [(i, "s%d" % (i % 3), float(1 + i % 5)) for i in range(90)]
    df = spark.createDataFrame(rows, "doc_id long, g string, w double")
    got = weighted_sample_ares_by(df, "g", "w", "doc_id", n=7).collect()
    per = {}
    for r in got:
        per.setdefault(r.stratum, []).append(r.id)
    assert set(per) == {"s0", "s1", "s2"}
    assert all(len(v) == 7 == len(set(v)) for v in per.values())
    again = weighted_sample_ares_by(df, "g", "w", "doc_id", n=7).collect()
    assert sorted((r.stratum, r.id) for r in got) == \
        sorted((r.stratum, r.id) for r in again)
    assert_scale_safe(weighted_sample_ares_by(df, "g", "w", "doc_id", 7))


def test_markov_transitions_exact_matrix(spark):
    from vega_spark.functions.analytics import markov_transitions
    # user 1: a->b->a->b ; user 2: a->a
    rows = [(1, 1, "a", 10), (2, 1, "b", 20), (3, 1, "a", 30),
            (4, 1, "b", 40), (5, 2, "a", 10), (6, 2, "a", 20)]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts long")
    got = {(r.cur, r.next): (r.n, r.p)
           for r in markov_transitions(df).collect()}
    assert got[("a", "b")] == (2, round(2 / 3, 6))
    assert got[("a", "a")] == (1, round(1 / 3, 6))
    assert got[("b", "a")] == (1, 1.0)
    # lead pairing is per user: no cross-user (b -> a) leak from
    # user1's trailing b into user2's first a
    assert sum(n for (c, _), (n, _) in got.items() if c == "b") == 1


def test_bfs_distances_rows_both_state_paths(spark):
    # the broadcast-state fixture graph: the frontier empties at hop 4,
    # before max_hops=6 (early exit), and exactly at max_hops=3
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (0, 4), (4, 5), (5, 6), (2, 6),
         (6, 7), (1, 7)], "u long, v long")
    want = {0: 0, 1: 1, 4: 1, 2: 2, 3: 2, 5: 2, 7: 2, 6: 3}
    for broadcast_state in (False, True):
        for max_hops in (3, 6):
            rows = bfs_distances(edges, max_hops=max_hops,
                                 broadcast_state=broadcast_state).collect()
            assert len(rows) == len(want)          # no node twice
            assert {r.node: r.dist for r in rows} == want
    capped = {r.node: r.dist
              for r in bfs_distances(edges, max_hops=1).collect()}
    assert capped == {0: 0, 1: 1, 4: 1}
