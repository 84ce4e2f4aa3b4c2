"""Self-learning advisor: history → recommendation → applied layout, and the
payoff: bucketed tables join/aggregate without a shuffle Exchange."""

from __future__ import annotations

from pathlib import Path

import pyspark.sql.functions as F
import pytest

from lachesis_spark.advisor import (
    HistoryDB,
    KeyUsage,
    capture_usages,
    recommend,
    recommend_all,
    run_and_record,
)
from lachesis_spark.catalog import Catalog
from lachesis_spark.operators.graph import (
    AggregateComp,
    DataFrameSource,
    JoinComp,
    ScanSet,
)
from tests.conftest import SF_SMOKE


def test_history_weights_and_recommend():
    h = HistoryDB(":memory:")
    h.record_job("q_join", 10.0, [KeyUsage("db.orders", "join", ("o_custkey",))])
    h.record_job("q_join2", 5.0, [KeyUsage("db.orders", "join", ("o_custkey",))])
    h.record_job("q_agg", 2.0, [KeyUsage("db.orders", "aggregate", ("o_orderkey",))])
    rec = recommend(h, "db.orders", n_buckets=8)
    assert rec is not None
    assert rec.key_cols == ("o_custkey",)  # 15s of history beats 2s
    assert rec.weight == pytest.approx(15.0)
    assert recommend(h, "db.unknown") is None
    assert [r.dataset for r in recommend_all(h)] == ["db.orders"]


def test_capture_from_graph(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path))
    cat.register_testdata(SF_SMOKE)

    scan_o = ScanSet(cat, "testdata", "orders")
    agg = AggregateComp(
        key=["o_custkey"], values=[F.count(F.lit(1)).alias("n")]
    ).set_input(0, scan_o)
    usages = capture_usages(agg)
    assert KeyUsage("testdata.orders", "aggregate", ("o_custkey",)) in usages

    # join usage lands on both sides' source sets
    renamed = DataFrameSource(
        cat.read_set("testdata", "customer").withColumnRenamed("c_custkey", "o_custkey")
    )
    join = JoinComp(2, equi=["o_custkey"])
    join.set_input(0, scan_o).set_input(1, renamed)
    usages = capture_usages(join)
    assert KeyUsage("testdata.orders", "join", ("o_custkey",)) in usages

    # opaque expression keys are not recorded (reference learns only
    # attribute lambdas)
    agg2 = AggregateComp(
        key=[F.col("o_custkey") % 10], values=[F.count(F.lit(1)).alias("n")]
    ).set_input(0, scan_o)
    assert capture_usages(agg2) == []


def test_run_and_record_learns_runtime(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path))
    cat.register_testdata(SF_SMOKE)
    h = HistoryDB(":memory:")

    scan = ScanSet(cat, "testdata", "orders")
    agg = AggregateComp(
        key=["o_custkey"], values=[F.sum("o_totalprice").alias("t")]
    ).set_input(0, scan)
    run_and_record(h, "orders_by_cust", spark, agg)

    rec = recommend(h, "testdata.orders")
    assert rec is not None and rec.key_cols == ("o_custkey",)
    assert rec.weight > 0


def test_bucketed_layout_removes_exchange(spark, tmp_path):
    """Applying the recommendation converts shuffled joins/aggs into
    partition-local work: no 'Exchange hashpartitioning' in the plan."""
    cat = Catalog(spark, str(tmp_path))
    cat.register_testdata(SF_SMOKE)

    ords = cat.read_set("testdata", "orders").select(
        F.col("o_custkey").alias("custkey"), "o_totalprice"
    )
    cust = cat.read_set("testdata", "customer").select(
        F.col("c_custkey").alias("custkey"), "c_name"
    )
    rec_buckets = 4
    cat.write_set(ords, "layout", "orders_b", bucket_by=(rec_buckets, ["custkey"]))
    cat.write_set(cust, "layout", "customer_b", bucket_by=(rec_buckets, ["custkey"]))

    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        bucketed = spark.table("layout_orders_b").join(
            spark.table("layout_customer_b"), "custkey"
        )
        plan = bucketed._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan

        plain = ords.join(cust, "custkey")
        plan_plain = plain._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" in plan_plain

        # correctness unchanged by layout
        assert bucketed.count() == plain.count()

        # aggregation on the bucket key is also exchange-free
        agg = spark.table("layout_orders_b").groupBy("custkey").count()
        agg_plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in agg_plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)


def test_tpch_workload_learns_fact_placement(spark, tmp_path):
    """End-to-end Lachesis loop on the flagship workload: run a TPC-H
    slice, capture shuffle keys from the *executed plans*, let the
    recommender pick the facts' layout, apply it, and show the learned
    layout makes the orders⋈lineitem join exchange-free."""
    import time

    from lachesis_spark.advisor.recommender import capture_usages_from_plan
    from lachesis_spark.plans import tpch

    h = HistoryDB(":memory:")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    # disable broadcast so the workload's true shuffle demand is observable
    # (at cluster scale the fact-fact join shuffles regardless)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for name in ("tpch_q03", "tpch_q04", "tpch_q12", "tpch_q18"):
            t0 = time.perf_counter()
            df = tpch.QUERIES[name](spark, SF_SMOKE)
            df.count()
            h.record_job(name, time.perf_counter() - t0, capture_usages_from_plan(df))

        # the order key dominates both facts' shuffle history
        li_rec = recommend(h, "lineitem", n_buckets=8)
        o_rec = recommend(h, "orders", n_buckets=8)
        assert li_rec is not None and li_rec.key_cols == ("l_orderkey",)
        assert o_rec is not None and o_rec.key_cols == ("o_orderkey",)

        # apply the learned layout and re-run the join shape shuffle-free
        cat = Catalog(spark, str(tmp_path))
        cat.register_testdata(SF_SMOKE)
        cat.write_set(
            cat.read_set("testdata", "lineitem").select("l_orderkey", "l_quantity"),
            "layout", "lineitem_b", bucket_by=li_rec.as_bucket_by(),
        )
        cat.write_set(
            cat.read_set("testdata", "orders").select("o_orderkey", "o_orderpriority"),
            "layout", "orders_b", bucket_by=o_rec.as_bucket_by(),
        )
        joined = spark.table("layout_orders_b").join(
            spark.table("layout_lineitem_b"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bandit_explores_then_exploits():
    from lachesis_spark.advisor.bandit import BanditPlacementOptimizer

    h = HistoryDB(":memory:")
    h.record_job("j1", 10.0, [KeyUsage("db.t", "join", ("k1",))])
    h.record_job("j2", 8.0, [KeyUsage("db.t", "aggregate", ("k2",))])
    opt = BanditPlacementOptimizer(h, epsilon=0.0, seed=42)

    # both candidates untested → tries them in deterministic order first
    first = opt.choose("db.t")
    assert first.key_cols == ("k1",)
    opt.observe("db.t", ("k1",), runtime_before=10.0, runtime_after=9.0)  # +0.1
    second = opt.choose("db.t")
    assert second.key_cols == ("k2",)
    opt.observe("db.t", ("k2",), runtime_before=10.0, runtime_after=4.0)  # +0.6

    # ε=0 → pure exploitation of the better layout
    assert opt.choose("db.t").key_cols == ("k2",)

    # new evidence flips the decision
    for _ in range(5):
        opt.observe("db.t", ("k2",), 10.0, 12.0)   # regressions
        opt.observe("db.t", ("k1",), 10.0, 3.0)    # big wins
    assert opt.choose("db.t").key_cols == ("k1",)

    assert opt.choose("db.unknown") is None


def test_bandit_exploration_is_seeded():
    from lachesis_spark.advisor.bandit import BanditPlacementOptimizer

    h = HistoryDB(":memory:")
    h.record_job("j", 5.0, [KeyUsage("db.t", "join", ("a",))])
    h.record_job("j", 5.0, [KeyUsage("db.t", "join", ("b",))])
    o1 = BanditPlacementOptimizer(h, epsilon=1.0, seed=7)
    o2 = BanditPlacementOptimizer(h, epsilon=1.0, seed=7)
    for key in ("a", "b"):
        o1.observe("db.t", (key,), 10.0, 9.0)
        o2.observe("db.t", (key,), 10.0, 9.0)
    picks1 = [o1.choose("db.t").key_cols for _ in range(6)]
    picks2 = [o2.choose("db.t").key_cols for _ in range(6)]
    assert picks1 == picks2  # deterministic under a seed
    assert len(set(picks1)) == 2  # ε=1 explores both arms


def test_capture_usages_from_plan(spark, tmp_path):
    """Plan-level capture works on plain DataFrame queries: shuffle keys in
    the executed plan are attributed back to their source tables."""
    from lachesis_spark.advisor.recommender import capture_usages_from_plan

    cat = Catalog(spark, str(tmp_path))
    cat.register_testdata(SF_SMOKE)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        ords = cat.read_set("testdata", "orders")
        cust = cat.read_set("testdata", "customer")
        q = ords.join(cust, ords["o_custkey"] == cust["c_custkey"]).groupBy(
            "o_orderpriority"
        ).count()
        usages = capture_usages_from_plan(q)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    assert KeyUsage("orders", "shuffle", ("o_custkey",)) in usages
    assert KeyUsage("customer", "shuffle", ("c_custkey",)) in usages

    # feeds the same recommendation machinery: both observed keys carry the
    # job's runtime weight; more custkey-shuffling jobs tip the decision
    h = HistoryDB(":memory:")
    h.record_job("q", 3.0, usages)
    assert h.key_weights("orders") == {
        "o_custkey": 3.0, "o_orderpriority": 3.0
    }
    h.record_job("q2", 5.0, [KeyUsage("orders", "shuffle", ("o_custkey",))])
    rec = recommend(h, "orders")
    assert rec is not None and rec.key_cols == ("o_custkey",)


def test_plan_capture_records_pushed_filter_columns(spark, tmp_path):
    """Scan-filter columns land in the history as op='filter' usages
    (IsNotNull noise excluded) — the data-skipping signal."""
    from lachesis_spark.advisor.recommender import capture_usages_from_plan

    cat = Catalog(spark, str(tmp_path))
    cat.register_testdata(SF_SMOKE)
    ev = cat.read_set("testdata", "events")
    q = ev.where((F.col("user_id") == 7) & (F.col("value") > 100.0)).groupBy(
        "event_type"
    ).count()
    usages = capture_usages_from_plan(q)
    assert KeyUsage("events", "filter", ("user_id",)) in usages
    assert KeyUsage("events", "filter", ("value",)) in usages
    # IsNotNull-only columns are not recorded as filter signals
    assert not any(
        u.op == "filter" and u.key_cols == ("event_type",) for u in usages
    )


def test_recommend_layout_prefers_zorder_for_multi_column_filters():
    """Two heavy filter columns outweighing the best shuffle key → Z-order;
    a dominant shuffle key → bucket_by (the reference's original rule)."""
    from lachesis_spark.advisor import recommend_layout

    h = HistoryDB(":memory:")
    h.record_job("scan_u", 10.0, [KeyUsage("events", "filter", ("user_id",))])
    h.record_job("scan_v", 8.0, [KeyUsage("events", "filter", ("value",))])
    h.record_job("agg", 5.0, [KeyUsage("events", "aggregate", ("user_id",))])
    rec = recommend_layout(h, "events")
    assert rec is not None and rec.kind == "zorder"
    assert rec.key_cols == ("user_id", "value")

    # pile shuffle weight on user_id until bucketing wins back
    h.record_job("agg2", 20.0, [KeyUsage("events", "aggregate", ("user_id",))])
    rec2 = recommend_layout(h, "events")
    assert rec2 is not None and rec2.kind == "bucket_by"
    assert rec2.key_cols == ("user_id",)


def test_layout_recommendation_applies_end_to_end(spark, tmp_path):
    """Close the loop: observed multi-column filter history → zorder
    recommendation → Catalog.write_set(zorder_by=...) → the written files
    carry tight row-group stats on both filter columns."""
    import glob
    import os

    import pyarrow.parquet as pq

    from lachesis_spark.advisor import recommend_layout
    from lachesis_spark.advisor.recommender import capture_usages_from_plan

    cat = Catalog(spark, str(tmp_path))
    cat.register_testdata(SF_SMOKE)
    cat.create_database("db")
    ev = cat.read_set("testdata", "events")

    h = HistoryDB(":memory:")
    q1 = ev.where(F.col("user_id") == 7).groupBy("event_type").count()
    q2 = ev.where(F.col("value") > 500.0).groupBy((F.col("event_id") % 10)).count()
    h.record_job("by_user", 10.0, capture_usages_from_plan(q1))
    h.record_job("by_value", 9.0, capture_usages_from_plan(q2))

    rec = recommend_layout(h, "events")
    assert rec is not None and rec.kind == "zorder"
    assert set(rec.key_cols) == {"user_id", "value"}

    cat.write_set(
        ev.select("event_id", "user_id", "value"), "db", "events_z",
        zorder_by=list(rec.key_cols),
    )
    files = glob.glob(os.path.join(cat.set_path("db", "events_z"), "*.parquet"))
    assert len(files) > 4  # range-partitioned output, one tile per file

    def spread(col):
        spans = []
        for f in files:
            md = pq.ParquetFile(f).metadata
            i = md.schema.names.index(col)
            st = md.row_group(0).column(i).statistics
            spans.append(float(st.max) - float(st.min))
        return sorted(spans)

    full_u = ev.agg(F.max("user_id") - F.min("user_id")).first()[0]
    # median per-file span is a fraction of the full range on BOTH columns
    assert spread("user_id")[len(files) // 2] < full_u * 0.8


def test_file_size_recommendation_compacts_fragmented_set(spark, tmp_path):
    """The page-size dimension (reference
    RuleBasedDataPlacementOptimizerForLoadJob.h:15 picks partition lambda
    AND page size): a fragmented set draws a 'fragmented' recommendation
    whose target, applied via compact_set, fixes the layout — after which
    the advisor goes quiet (no churn on a roughly-right layout)."""
    import glob
    import os

    from lachesis_spark.advisor import (
        HistoryDB,
        recommend_file_size,
        scan_stat_for_set,
    )

    cat = Catalog(spark, str(tmp_path))
    cat.create_database("db")
    spark.range(0, 50_000).withColumnRenamed("id", "k").repartition(64) \
        .write.parquet(cat.set_path("db", "frag"))
    assert len(glob.glob(cat.set_path("db", "frag") + "/*.parquet")) >= 32

    h = HistoryDB(":memory:")
    h.record_job("scan_frag", 7.0, [], scans=[scan_stat_for_set(cat, "db", "frag")])

    # band floor dominates for a tiny table: everything into >=64MB files
    rec = recommend_file_size(h, "db.frag")
    assert rec is not None and rec.reason == "fragmented"
    assert rec.n_files_target == 1

    n_after = cat.compact_set("db", "frag", target_file_bytes=rec.target_file_bytes)
    assert n_after == rec.n_files_target
    h.record_job("scan_frag2", 7.0, [], scans=[scan_stat_for_set(cat, "db", "frag")])
    assert recommend_file_size(h, "db.frag") is None


def test_file_size_recommendation_sizes_for_parallelism():
    """With the size band scaled down (as a stand-in for a 100 TB table
    against a real cluster), the recommendation splits the table into one
    file per core, capped so no file drops below the band floor."""
    from lachesis_spark.advisor import HistoryDB, ScanStat, recommend_file_size

    h = HistoryDB(":memory:")
    # 800 "MB" in 3 giant files, 8 cores, band [10, 100] "MB" (scaled units)
    h.record_job("q", 60.0, [], scans=[ScanStat("db.big", 3, 800)])
    rec = recommend_file_size(h, "db.big", cores=8, min_file_bytes=10,
                              max_file_bytes=100)
    assert rec is not None
    assert rec.n_files_target == 8 and rec.target_file_bytes == 100

    # already ~right (10 files of 80): quiet
    h.record_job("q2", 60.0, [], scans=[ScanStat("db.big", 10, 800)])
    assert recommend_file_size(h, "db.big", cores=8, min_file_bytes=10,
                               max_file_bytes=100) is None


def test_read_set_preserves_bucketed_layout(spark, tmp_path):
    """read_set on a bucketed set must go through the table identity (bare
    path reads silently drop bucket metadata and re-shuffle every join) —
    and must NOT hijack a same-named table owned by a different catalog."""
    cat = Catalog(spark, str(tmp_path / "a"))
    cat.create_database("db")
    base = spark.range(0, 5_000).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("v")
    )
    cat.write_set(base, "db", "bkt", bucket_by=(4, ["k"]))

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        agg = cat.read_set("db", "bkt").groupBy("k").count()
        plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan
        assert agg.count() == 5_000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    # a different catalog with the same db/set name but no table falls back
    # to its own path read instead of the other catalog's table
    other = Catalog(spark, str(tmp_path / "b"))
    other.create_database("db")
    other.write_set(base.limit(10), "db", "bkt")
    assert other.read_set("db", "bkt").count() == 10


def _ctx(card, weight, bts=10**9, files=8):
    from lachesis_spark.advisor import PlacementContext

    return PlacementContext(total_bytes=bts, n_files=files,
                            key_cardinality=card, runtime_weight=weight)


def test_linucb_learns_against_frequency():
    """The workload's most-frequent key (high runtime weight, cardinality 3)
    loses to the high-cardinality key once rewards are observed: the
    contextual bandit overrides frequency where the ε-greedy/rule-based
    policies cannot."""
    from lachesis_spark.advisor import HistoryDB, LinUCBPlacementOptimizer

    h = HistoryDB(":memory:")
    opt = LinUCBPlacementOptimizer(h)
    contexts = {
        "l_returnflag": _ctx(card=3, weight=0.7),
        "l_orderkey": _ctx(card=150_000, weight=0.3),
    }
    # epoch loop: try what UCB asks for, observe the true outcome
    true_reward = {"l_returnflag": 0.05, "l_orderkey": 0.55}
    seen = []
    for _ in range(6):
        rec = opt.choose("lineitem", contexts)
        key = ",".join(sorted(rec.key_cols))
        seen.append(key)
        before = 10.0
        opt.observe("lineitem", rec.key_cols, contexts[key],
                    before, before * (1 - true_reward[key]))
    # both arms explored, then the high-cardinality key exploited
    assert set(seen) == set(contexts)
    assert seen[-1] == "l_orderkey" and seen[-2] == "l_orderkey"
    final = opt.choose("lineitem", contexts)
    assert final.key_cols == ("l_orderkey",)


def test_linucb_transfers_to_unseen_dataset():
    """Feature-based value model generalizes: trained only on dataset A,
    the optimizer ranks an UNSEEN dataset's high-cardinality key above its
    low-cardinality one on the point estimate (no optimism)."""
    from lachesis_spark.advisor import HistoryDB, LinUCBPlacementOptimizer

    h = HistoryDB(":memory:")
    opt = LinUCBPlacementOptimizer(h)
    for _ in range(4):
        opt.observe("a", ("low",), _ctx(card=4, weight=0.8), 10.0, 9.6)
        opt.observe("a", ("high",), _ctx(card=10**6, weight=0.2), 10.0, 4.5)
    lo, hi = _ctx(card=5, weight=0.9), _ctx(card=5 * 10**5, weight=0.1)
    assert opt.predict(hi) > opt.predict(lo)


def test_linucb_persists_and_rebuilds(tmp_path):
    """Observations survive a process restart: a fresh optimizer over the
    same SQLite file reproduces the same decision deterministically."""
    from lachesis_spark.advisor import HistoryDB, LinUCBPlacementOptimizer

    db = str(tmp_path / "h.db")
    h1 = HistoryDB(db)
    opt1 = LinUCBPlacementOptimizer(h1)
    ctxs = {"k1": _ctx(card=10, weight=0.9), "k2": _ctx(card=10**5, weight=0.1)}
    for _ in range(3):
        opt1.observe("ds", ("k1",), ctxs["k1"], 10.0, 9.8)
        opt1.observe("ds", ("k2",), ctxs["k2"], 10.0, 5.0)
    choice1 = opt1.choose("ds", ctxs).key_cols

    h2 = HistoryDB(db)
    opt2 = LinUCBPlacementOptimizer(h2)
    assert opt2.choose("ds", ctxs).key_cols == choice1 == ("k2",)


def test_measure_key_cardinality(spark):
    from lachesis_spark.advisor import measure_key_cardinality

    df = spark.range(1000).selectExpr("id % 3 AS a", "id AS b")
    small = measure_key_cardinality(df, ["a"])
    big = measure_key_cardinality(df, ["b"])
    assert small == 3
    assert abs(big - 1000) / 1000 < 0.1  # approx_count_distinct tolerance


# ---------------------------------------------------------------------------
# Skew-aware salting recommendation
def test_recommend_salting_flags_hot_key_and_sizes_salts():
    from lachesis_spark.advisor import KeyStat, recommend_salting

    h = HistoryDB(":memory:")
    # hot key owns 40% of 1M rows; P=16 → factor 6.4 → n_salts ceil(2·6.4) = 13
    h.record_job(
        "load", 1.0, [],
        key_stats=[KeyStat("db.fact", ("k",), 1_000_000, 10_000, 400_000)],
    )
    rec = recommend_salting(h, "db.fact", shuffle_partitions=16)
    assert rec is not None
    assert rec.key_cols == ("k",) and rec.n_salts == 13
    assert rec.top_share == pytest.approx(0.4)
    # uniform key → below threshold → no recommendation
    h.record_job(
        "load2", 1.0, [],
        key_stats=[KeyStat("db.uniform", ("k",), 1_000_000, 10_000, 150)],
    )
    assert recommend_salting(h, "db.uniform", shuffle_partitions=16) is None
    # n_salts never exceeds the stage's partition count
    h.record_job(
        "load3", 1.0, [],
        key_stats=[KeyStat("db.degenerate", ("k",), 100, 2, 99)],
    )
    rec2 = recommend_salting(h, "db.degenerate", shuffle_partitions=16)
    assert rec2 is not None and rec2.n_salts == 16


def test_recommend_salting_picks_most_skewed_key_and_latest_profile():
    from lachesis_spark.advisor import KeyStat, recommend_salting

    h = HistoryDB(":memory:")
    h.record_job(
        "load", 1.0, [],
        key_stats=[
            KeyStat("db.fact", ("a",), 1_000_000, 100, 300_000),
            KeyStat("db.fact", ("b",), 1_000_000, 100, 500_000),
        ],
    )
    rec = recommend_salting(h, "db.fact", shuffle_partitions=16)
    assert rec is not None and rec.key_cols == ("b",)
    # a newer profile supersedes: skew on b has been fixed upstream
    h.record_job(
        "load2", 1.0, [],
        key_stats=[KeyStat("db.fact", ("b",), 1_000_000, 100, 1_000)],
    )
    rec = recommend_salting(h, "db.fact", shuffle_partitions=16)
    assert rec is not None and rec.key_cols == ("a",)


def test_key_stat_for_measures_real_frame(spark):
    from lachesis_spark.advisor import key_stat_for

    df = spark.createDataFrame(
        [(0,)] * 40 + [(i,) for i in range(1, 61)], "k bigint"
    )
    st = key_stat_for(df, "db.t", ["k"])
    assert st.n_rows == 100 and st.n_distinct == 61 and st.top_cnt == 40
    assert st.top_share == pytest.approx(0.4)


def test_advise_combines_all_dimensions():
    from lachesis_spark.advisor import KeyStat, advise, advise_all
    from lachesis_spark.advisor.history import ScanStat

    h = HistoryDB(":memory:")
    h.record_job(
        "load", 10.0,
        [KeyUsage("db.fact", "join", ("k",))],
        scans=[ScanStat("db.fact", 4000, 2 * 1024**3)],  # badly fragmented
        key_stats=[KeyStat("db.fact", ("k",), 1_000_000, 10_000, 400_000)],
    )
    rep = advise(h, "db.fact", shuffle_partitions=16)
    assert rep.layout is not None and rep.layout.kind == "bucket_by"
    assert rep.layout.key_cols == ("k",)
    assert rep.file_size is not None and rep.file_size.reason == "fragmented"
    assert rep.salting is not None and rep.salting.n_salts == 13
    assert not rep.is_empty()
    # advise_all surfaces datasets known only through key_stats too
    h.record_job(
        "load2", 1.0, [],
        key_stats=[KeyStat("db.other", ("x",), 100, 2, 90)],
    )
    reports = advise_all(h, shuffle_partitions=16)
    assert {r.dataset for r in reports} == {"db.fact", "db.other"}
    other = next(r for r in reports if r.dataset == "db.other")
    assert other.layout is None and other.salting is not None


def test_apply_report_bucket_rewrite_end_to_end(spark, tmp_path):
    """apply_report's layout rewrite: rows preserved, layout sidecar
    survives the temp-set directory swap, and the recommended-key join
    plans ZERO exchanges through the public read_set router."""
    from lachesis_spark.advisor import (
        HistoryDB,
        KeyUsage,
        advise,
        apply_report,
    )

    cat = Catalog(spark, str(tmp_path))
    cat.create_database("db")
    li = spark.read.parquet(SF_SMOKE + "/lineitem.parquet")
    od = spark.read.parquet(SF_SMOKE + "/orders.parquet")
    cat.write_set(li, "db", "li")
    cat.write_set(od, "db", "od")
    n0 = cat.read_set("db", "li").count()

    h = HistoryDB(":memory:")
    for i in range(2):
        h.record_job(f"j{i}", 2.0, [
            KeyUsage("li", "join", ("l_orderkey",)),
            KeyUsage("od", "join", ("o_orderkey",)),
        ])
    acts = apply_report(cat, advise(h, "li", n_buckets=8), "db", "li", n_buckets=8)
    acts += apply_report(cat, advise(h, "od", n_buckets=8), "db", "od", n_buckets=8)
    assert [a.action for a in acts] == ["bucket_by", "bucket_by"]

    a, b = cat.read_set("db", "li"), cat.read_set("db", "od")
    assert a.count() == n0
    with_broadcast_off(spark)
    try:
        j = (
            a.join(b, a["l_orderkey"] == b["o_orderkey"])
            .groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("n"))
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange hashpartitioning") == 0, plan
    finally:
        with_broadcast_on(spark)


def with_broadcast_off(spark):
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")


def with_broadcast_on(spark):
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")


def test_salting_hint_roundtrip_and_hinted_join(spark, tmp_path):
    """Applying a SaltingRecommendation persists the sidecar hint;
    hinted_join salts exactly when the hint covers the join key, and the
    salted result equals the plain join bit-for-bit."""
    from lachesis_spark.advisor import (
        HistoryDB,
        apply_salting_hint,
        hinted_join,
        key_stat_for,
        read_hints,
        recommend_salting,
    )

    cat = Catalog(spark, str(tmp_path))
    cat.create_database("db")
    fact = spark.range(20_000).select(
        F.when(F.col("id") < 8000, F.lit(0))
        .otherwise((F.col("id") % 100).cast("long")).alias("k"),
        (F.col("id") % 7).alias("v"),
    )
    cat.write_set(fact, "db", "fact")
    dim = spark.range(100).select(F.col("id").alias("k"), (F.col("id") % 5).alias("w"))

    h = HistoryDB(":memory:")
    h.record_job("load", 1.0, [],
                 key_stats=[key_stat_for(cat.read_set("db", "fact"),
                                         "db.fact", ["k"])])
    rec = recommend_salting(h, "db.fact", shuffle_partitions=8)
    assert rec is not None and rec.n_salts >= 2
    apply_salting_hint(cat, "db", "fact", rec)
    hint = read_hints(cat, "db", "fact")["salted_join"]
    assert hint["key_cols"] == ["k"] and hint["n_salts"] == rec.n_salts

    f = cat.read_set("db", "fact")
    salted = hinted_join(cat, "db", "fact", f, dim, "k", "k")
    assert "__salt" not in salted.columns
    plain = f.join(dim, f["k"] == dim["k"], "inner")
    agg = lambda df: sorted(  # noqa: E731
        (r["w"], r["n"]) for r in
        df.groupBy("w").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    assert agg(salted) == agg(plain)
    # a key the hint does not cover joins plain
    other = hinted_join(cat, "db", "fact", f, dim.withColumnRenamed("k", "kk"),
                        "v", "kk")
    assert "Generate" not in other._jdf.queryExecution().executedPlan().toString()


def test_apply_all_compacts_scan_only_dataset(spark, tmp_path):
    """A dataset with ONLY scan-stats history (no key usage) still gets the
    file-size dimension through advise_all → apply_all."""
    from lachesis_spark.advisor import (
        HistoryDB,
        advise_all,
        apply_all,
        scan_stat_for_set,
    )

    cat = Catalog(spark, str(tmp_path))
    cat.create_database("db")
    li = spark.read.parquet(SF_SMOKE + "/lineitem.parquet")
    li.repartition(64).write.parquet(cat.set_path("db", "frag"))
    h = HistoryDB(":memory:")
    h.record_job("scan0", 1.0, [], scans=[scan_stat_for_set(cat, "db", "frag")])
    reports = advise_all(h, cores=8)
    acts = apply_all(cat, reports, resolve={"db.frag": ("db", "frag")}, cores=8)
    assert [a.action for a in acts] == ["compact"]
    n_files = scan_stat_for_set(cat, "db", "frag").n_files
    assert n_files < 64
    assert cat.read_set("db", "frag").count() == li.count()


def test_recommend_layout_range_zonemap_for_dominant_single_filter():
    """One filter column dominating (second under 20% of it, shuffle weight
    below it) → range-cluster + zone maps, not Z-order or bucketing."""
    from lachesis_spark.advisor import recommend_layout

    h = HistoryDB(":memory:")
    h.record_job("scan_k", 10.0, [KeyUsage("orders", "filter", ("o_orderkey",))])
    h.record_job("scan_k2", 10.0, [KeyUsage("orders", "filter", ("o_orderkey",))])
    h.record_job("tiny", 1.0, [KeyUsage("orders", "filter", ("o_custkey",))])
    h.record_job("agg", 5.0, [KeyUsage("orders", "aggregate", ("o_custkey",))])
    rec = recommend_layout(h, "orders")
    assert rec is not None and rec.kind == "range_zonemap"
    assert rec.key_cols == ("o_orderkey",)

    # grow the second filter column past 20% of the top: Z-order takes over
    h.record_job("scan_c", 9.0, [KeyUsage("orders", "filter", ("o_custkey",))])
    rec2 = recommend_layout(h, "orders")
    assert rec2 is not None and rec2.kind == "zorder"


def test_range_zonemap_applies_end_to_end_and_prunes(spark, tmp_path):
    """Full loop: range-filter history → range_zonemap recommendation →
    apply_report rewrites the set → read_set_pruned skips files."""
    import os

    from lachesis_spark.advisor import recommend_layout
    from lachesis_spark.advisor.apply import apply_report
    from lachesis_spark.advisor.recommender import (
        PlacementReport,
        capture_usages_from_plan,
    )
    from lachesis_spark.catalog import ZONEMAP_FILE

    cat = Catalog(spark, str(tmp_path))
    cat.create_database("db")
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    cat.write_set(orders.repartition(8), "db", "orders")

    h = HistoryDB(":memory:")
    q = cat.read_set("db", "orders").where(F.col("o_orderkey").between(100, 400))
    h.record_job("range_scan", 10.0, capture_usages_from_plan(q))
    rec = recommend_layout(h, "orders")
    assert rec is not None and rec.kind == "range_zonemap"
    assert rec.key_cols == ("o_orderkey",)

    apply_report(
        cat,
        PlacementReport("orders", rec, None, None),
        "db",
        "orders",
        n_buckets=8,
    )
    path = cat.set_path("db", "orders")
    assert os.path.isfile(os.path.join(path, ZONEMAP_FILE))
    pruned = cat.read_set_pruned("db", "orders", "o_orderkey", 100, 400)
    n_total = len(
        [f for f in os.listdir(path) if f.startswith("part-")]
    )
    assert 0 < len(pruned.inputFiles()) < n_total
    expect = orders.filter(F.col("o_orderkey").between(100, 400)).count()
    assert pruned.count() == expect


def test_zorder_rewrite_also_records_zonemap(spark, tmp_path):
    """The zorder apply path now writes zone maps on the z-columns."""
    import os

    from lachesis_spark.advisor.apply import rewrite_layout
    from lachesis_spark.catalog import ZONEMAP_FILE

    cat = Catalog(spark, str(tmp_path))
    cat.create_database("db")
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet").select(
        "event_id", "user_id", "value"
    )
    cat.write_set(ev, "db", "ev")
    rewrite_layout(cat, "db", "ev", "zorder", ["user_id", "value"])
    path = cat.set_path("db", "ev")
    assert os.path.isfile(os.path.join(path, ZONEMAP_FILE))
    pruned = cat.read_set_pruned("db", "ev", "user_id", 0, 5)
    expect = ev.filter(F.col("user_id").between(0, 5)).count()
    assert pruned.count() == expect


def test_join_strategy_broadcasts_measured_small_side(spark):
    from lachesis_spark.advisor.history import HistoryDB, KeyStat, ScanStat
    from lachesis_spark.advisor.recommender import (
        apply_join_strategy,
        recommend_join_strategy,
    )

    h = HistoryDB(":memory:")
    h.record_job(
        "load",
        1.0,
        [],
        scans=[ScanStat("db.fact", 400, 40 << 30), ScanStat("db.dim", 2, 4 << 20)],
    )
    rec = recommend_join_strategy(h, "db.fact", "db.dim", ("k",))
    assert rec.strategy == "broadcast_right", rec

    left = spark.range(1000).withColumnRenamed("id", "k")
    right = spark.range(10).withColumnRenamed("id", "k")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = apply_join_strategy(left, right, "k", rec)
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan, plan
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_join_strategy_buckets_two_large_sides():
    from lachesis_spark.advisor.history import HistoryDB, KeyStat, ScanStat
    from lachesis_spark.advisor.recommender import recommend_join_strategy

    h = HistoryDB(":memory:")
    h.record_job(
        "load",
        1.0,
        [],
        scans=[ScanStat("db.a", 400, 40 << 30), ScanStat("db.b", 300, 30 << 30)],
        key_stats=[
            KeyStat("db.a", ("k",), 10**9, 50_000, 100),
            KeyStat("db.b", ("k",), 10**8, 40_000, 50),
        ],
    )
    rec = recommend_join_strategy(h, "db.a", "db.b", ("k",))
    assert rec.strategy == "bucket_both", rec
    # low-NDV key cannot fill the buckets -> plain shuffle
    h2 = HistoryDB(":memory:")
    h2.record_job(
        "load",
        1.0,
        [],
        scans=[ScanStat("db.a", 400, 40 << 30), ScanStat("db.b", 300, 30 << 30)],
        key_stats=[
            KeyStat("db.a", ("k",), 10**9, 5, 100),
            KeyStat("db.b", ("k",), 10**8, 5, 50),
        ],
    )
    assert recommend_join_strategy(h2, "db.a", "db.b", ("k",)).strategy == "shuffle"


def test_profile_table_matches_hand_stats(spark):
    from lachesis_spark.plans.profile import profile_table

    df = spark.createDataFrame(
        [(1, "a", 2.5), (2, "a", None), (3, None, 0.5), (3, "b", 0.5)],
        "k long, s string, x double",
    )
    rows = {r["col"]: r for r in profile_table(df, ["k", "s", "x"]).collect()}
    assert rows["k"]["n_rows"] == 4 and rows["k"]["n_distinct"] == 3
    assert rows["k"]["min_num"] == 1.0 and rows["k"]["max_num"] == 3.0
    assert rows["s"]["n_nulls"] == 1 and rows["s"]["n_distinct"] == 2
    assert rows["s"]["min_num"] is None  # non-numeric column
    assert rows["x"]["n_nulls"] == 1 and rows["x"]["min_num"] == 0.5


def test_read_set_pruned_multi_prunes_both_dimensions(spark, tmp_path):
    """A z-ordered set read through a 2-D box prunes files on BOTH
    clustered columns and still returns exactly the filtered rows; the
    2-D prune reads no more files than either single-column prune."""
    import os

    from lachesis_spark.advisor.apply import rewrite_layout

    cat = Catalog(spark, str(tmp_path))
    cat.create_database("db")
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    cat.write_set(orders.repartition(8), "db", "odz")
    rewrite_layout(cat, "db", "odz", "zorder", ["o_custkey", "o_totalprice"])

    lo_c, hi_c = 10, 40
    lo_p, hi_p = 50_000.0, 150_000.0
    box = {"o_custkey": (lo_c, hi_c), "o_totalprice": (lo_p, hi_p)}
    pruned = cat.read_set_pruned_multi("db", "odz", box)
    path = cat.set_path("db", "odz")
    n_total = len([f for f in os.listdir(path) if f.startswith("part-")])
    n_box = len(pruned.inputFiles())
    n_cust = len(
        cat.read_set_pruned("db", "odz", "o_custkey", lo_c, hi_c).inputFiles()
    )
    n_price = len(
        cat.read_set_pruned("db", "odz", "o_totalprice", lo_p, hi_p).inputFiles()
    )
    assert 0 < n_box <= min(n_cust, n_price) < n_total

    expect = orders.filter(
        F.col("o_custkey").between(lo_c, hi_c)
        & F.col("o_totalprice").between(lo_p, hi_p)
    ).count()
    assert pruned.count() == expect


def test_record_registry_captures_real_workload_history(spark):
    """Round-9: the advisor's history can be populated from the REAL
    registry workload (tools/advisor_bench.py) — job rows carry
    runtimes, plan-captured usages name the base tables (never part-file
    paths), and advise() produces a recommendation from nothing but that
    recorded history."""
    from tools.advisor_bench import record_registry

    from lachesis_spark.advisor import HistoryDB, advise

    h = HistoryDB(":memory:")
    # three registry queries that shuffle/filter on lineitem and orders
    timings = record_registry(
        h, spark, SF_SMOKE, names=["tpch_q12", "tpch_q04", "tpch_q06"]
    )
    assert set(timings) == {"tpch_q12", "tpch_q04", "tpch_q06"}
    n_jobs = h.con.execute("SELECT count(*) FROM jobs").fetchone()[0]
    assert n_jobs == 4  # 3 queries + the load_base_tables scan-shape job
    li = Path(SF_SMOKE, "lineitem.parquet")
    files = [li] if li.is_file() else list(li.rglob("*.parquet"))
    n_files, n_bytes, _ = h.scan_profile("lineitem")
    assert n_files == len(files)
    assert n_bytes == sum(f.stat().st_size for f in files) > 1
    datasets = set(h.datasets())
    assert "lineitem" in datasets
    assert not any(d.startswith("part-") for d in datasets)
    # the recorded scan filters (l_shipdate pushdowns) and shuffle keys
    # are enough for a layout decision on lineitem
    rep = advise(h, "lineitem")
    assert rep.layout is not None and rep.layout.key_cols


def _contested_history() -> HistoryDB:
    """lineitem-shaped conflict: the workload puts comparable runtime on a
    join key (shuffle) and a date column (pushed scan filter)."""
    h = HistoryDB(":memory:")
    h.record_job("q_join", 5.0, [
        KeyUsage("li", "shuffle", ("l_orderkey",)),
        KeyUsage("od", "shuffle", ("o_orderkey",)),
    ])
    h.record_job("q_scan", 4.5, [KeyUsage("li", "filter", ("l_shipdate",))])
    h.record_job("q_scan2", 1.0, [KeyUsage("li", "filter", ("l_quantity",))])
    return h


def test_layout_candidates_contested_returns_alternates():
    """Material weight on BOTH dimensions → the rule's pick plus bucket_by
    and the bucket_range_grid hybrid; one-sided histories return only the
    rule's choice (no measurement cost for uncontested datasets)."""
    from lachesis_spark.advisor import layout_candidates

    h = _contested_history()
    cands = layout_candidates(h, "li", n_buckets=8)
    assert [c.kind for c in cands] == [
        "zorder", "bucket_by", "bucket_range_grid", "keep_flat",
    ]
    grid = cands[2]
    assert grid.key_cols == ("l_orderkey",)
    assert grid.range_cols == ("l_shipdate",)

    # join partner discoverable from the shared job id
    partners = h.co_shuffle_partners("li", "l_orderkey")
    assert partners and partners[0][:2] == ("od", "o_orderkey")

    # filter-only history: uncontested, single rule candidate
    h2 = HistoryDB(":memory:")
    h2.record_job("s", 9.0, [KeyUsage("t", "filter", ("d",))])
    h2.record_job("j", 1.0, [KeyUsage("t", "shuffle", ("k",))])
    only = layout_candidates(h2, "t")
    assert len(only) == 1 and only[0].kind == "range_zonemap"


def test_bucket_range_grid_serves_join_and_scan(spark, tmp_path):
    """The hybrid layout end-to-end: after a bucket_range_grid rewrite of
    both join sides, (a) rows are preserved, (b) the orderkey join plans
    ZERO shuffle Exchanges through the public read_set router, and (c) the
    zonemap sidecar prunes a shipdate range read to a strict subset of
    files with results identical to the plain filtered scan."""
    from lachesis_spark.advisor import LayoutRecommendation, PlacementReport
    from lachesis_spark.advisor.apply import apply_report

    cat = Catalog(spark, str(tmp_path))
    cat.create_database("db")
    li = spark.read.parquet(SF_SMOKE + "/lineitem.parquet")
    od = spark.read.parquet(SF_SMOKE + "/orders.parquet")
    cat.write_set(li, "db", "li")
    cat.write_set(od, "db", "od")
    n0 = cat.read_set("db", "li").count()

    for name, key, rng in (("li", "l_orderkey", "l_shipdate"),
                           ("od", "o_orderkey", "o_orderdate")):
        rep = PlacementReport(
            name,
            LayoutRecommendation(name, "bucket_range_grid", (key,), 9.5,
                                 range_cols=(rng,)),
            None, None,
        )
        acts = apply_report(cat, rep, "db", name, n_buckets=8)
        assert acts[0].action == "bucket_range_grid"

    a, b = cat.read_set("db", "li"), cat.read_set("db", "od")
    assert a.count() == n0
    with_broadcast_off(spark)
    try:
        j = (
            a.join(b, a["l_orderkey"] == b["o_orderkey"])
            .groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("n"))
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange hashpartitioning") == 0, plan
    finally:
        with_broadcast_on(spark)

    lo, hi = "1996-01-01", "1996-06-30"
    pruned = cat.read_set_pruned("db", "li", "l_shipdate", lo, hi)
    assert 0 < len(pruned.inputFiles()) < len(a.inputFiles())
    want = sorted(
        tuple(r)
        for r in a.filter((F.col("l_shipdate") >= lo) & (F.col("l_shipdate") <= hi))
        .collect()
    )
    assert sorted(tuple(r) for r in pruned.collect()) == want and want


def test_arbitrate_by_reward_picks_measured_winner():
    """The bandit arbitration: three contested candidates measured on the
    (fake) workload; the UCB-max choice is the one with the best measured
    payoff, the rewards land in the persistent model, and advise() only
    invokes the arbiter on contested datasets."""
    from lachesis_spark.advisor import (
        LinUCBPlacementOptimizer,
        PlacementContext,
        advise,
        arbitrate_by_reward,
        candidate_id,
        layout_candidates,
    )

    h = _contested_history()
    cands = layout_candidates(h, "li", n_buckets=8)
    # distinct feature vectors per candidate (cardinality of its key)
    contexts = {
        candidate_id(c): PlacementContext(
            2 * 1024**3, 16, {"zorder": 2500, "bucket_by": 150_000,
                              "bucket_range_grid": 150_000,
                              "keep_flat": 1}[c.kind],
            c.weight / 10.0,
        )
        for c in cands
    }
    # measured workload seconds: grid wins (join exchange-free AND pruned
    # scan), bucket second (join only), zorder and the keep_flat no-op last
    after = {"zorder": 9.0, "bucket_by": 7.0, "bucket_range_grid": 5.0,
             "keep_flat": 10.0}
    measured = []

    def measure(c):
        measured.append(c.kind)
        return 10.0, after[c.kind]

    linucb = LinUCBPlacementOptimizer(h, alpha=0.1)
    best = arbitrate_by_reward(linucb, "li", cands, contexts, measure)
    assert best.kind == "bucket_range_grid"
    assert sorted(measured) == [
        "bucket_by", "bucket_range_grid", "keep_flat", "zorder",
    ]
    n_obs = h.con.execute("SELECT count(*) FROM layout_ctx_rewards").fetchone()[0]
    assert n_obs == 4

    # advise() consults the arbiter exactly on the contested dataset ...
    calls = []

    def arbiter(ds, cs):
        calls.append(ds)
        return arbitrate_by_reward(
            LinUCBPlacementOptimizer(h, alpha=0.1), ds, cs, contexts, measure
        )

    rep = advise(h, "li", n_buckets=8, arbiter=arbiter)
    assert calls == ["li"] and rep.layout.kind == "bucket_range_grid"
    # ... and an arbiter answering None keeps the rule's choice
    rep2 = advise(h, "li", n_buckets=8, arbiter=lambda ds, cs: None)
    assert rep2.layout.kind == "zorder"


def test_joinpair_capture_disambiguates_partner_keys(spark):
    """A q03-shaped job shuffles orders on o_custkey (customer join) in the
    SAME job that shuffles lineitem on l_orderkey — co-occurrence alone
    would pin the wrong partner key.  The joinpair rows captured from the
    executed plan's SortMergeJoin key lists pin the key the join actually
    meets on."""
    from lachesis_spark.advisor import capture_usages_from_plan

    li = spark.read.parquet(SF_SMOKE + "/lineitem.parquet")
    od = spark.read.parquet(SF_SMOKE + "/orders.parquet")
    cu = spark.read.parquet(SF_SMOKE + "/customer.parquet")
    with_broadcast_off(spark)
    try:
        j = (
            li.join(od, li["l_orderkey"] == od["o_orderkey"])
            .join(cu, od["o_custkey"] == cu["c_custkey"])
            .groupBy("l_returnflag").count()
        )
        j.count()
        usages = capture_usages_from_plan(j)
    finally:
        with_broadcast_on(spark)
    pairs = {(u.dataset, u.key_cols[0]) for u in usages if u.op == "joinpair"}
    assert ("lineitem>orders", "l_orderkey>o_orderkey") in pairs
    assert ("orders>customer", "o_custkey>c_custkey") in pairs

    h = HistoryDB(":memory:")
    h.record_job("q03ish", 5.0, usages)
    assert h.co_shuffle_partners("lineitem", "l_orderkey")[0][:2] == (
        "orders", "o_orderkey",
    )
    # direction is symmetric: the right side resolves its left partner too
    assert h.co_shuffle_partners("customer", "c_custkey")[0][:2] == (
        "orders", "o_custkey",
    )


def test_layout_candidates_symmetric_when_rule_is_bucket_by():
    """Round-10 asymmetry (ADVICE r10): a contested dataset whose blind
    rule favored the SHUFFLE side returned a single candidate, so the
    measured arbiter never ran for exactly half the contested space.  Now
    a bucket_by rule on a contested history emits the filter-favoring
    alternate (range_zonemap for a dominant single column, zorder for
    two comparable ones) plus the grid hybrid — both dimensions reach the
    arbiter regardless of which one the rule picked."""
    from lachesis_spark.advisor import layout_candidates

    # shuffle dominates (rule = bucket_by) but one filter column carries
    # >= 50% of it -> contested, single dominant filter -> range_zonemap
    h = HistoryDB(":memory:")
    h.record_job("q_join", 6.0, [KeyUsage("li", "shuffle", ("l_orderkey",))])
    h.record_job("q_scan", 4.0, [KeyUsage("li", "filter", ("l_shipdate",))])
    cands = layout_candidates(h, "li", n_buckets=8)
    assert [c.kind for c in cands] == [
        "bucket_by", "range_zonemap", "bucket_range_grid", "keep_flat",
    ]
    assert cands[1].key_cols == ("l_shipdate",)
    assert cands[2].key_cols == ("l_orderkey",)
    assert cands[2].range_cols == ("l_shipdate",)

    # two comparable filter columns -> the alternate is zorder on both
    h2 = HistoryDB(":memory:")
    h2.record_job("q_join", 6.0, [KeyUsage("li", "shuffle", ("l_orderkey",))])
    h2.record_job("q_s1", 3.0, [KeyUsage("li", "filter", ("l_shipdate",))])
    h2.record_job("q_s2", 2.5, [KeyUsage("li", "filter", ("l_quantity",))])
    cands2 = layout_candidates(h2, "li", n_buckets=8)
    assert [c.kind for c in cands2] == [
        "bucket_by", "zorder", "bucket_range_grid", "keep_flat",
    ]
    assert cands2[1].key_cols == ("l_quantity", "l_shipdate")

    # uncontested shuffle-dominant history: rule only, no alternates
    h3 = HistoryDB(":memory:")
    h3.record_job("q_join", 9.0, [KeyUsage("li", "shuffle", ("l_orderkey",))])
    h3.record_job("q_scan", 1.0, [KeyUsage("li", "filter", ("l_shipdate",))])
    only = layout_candidates(h3, "li", n_buckets=8)
    assert [c.kind for c in only] == ["bucket_by"]


def test_datasets_excludes_joinpair_pseudo_rows():
    """joinpair usages record 'left>right' pair pseudo-datasets for partner
    pins; HistoryDB.datasets() must not surface them as advisable datasets
    (advise_all / recommend_all iterate datasets())."""
    h = HistoryDB(":memory:")
    h.record_job("q", 5.0, [
        KeyUsage("li", "shuffle", ("l_orderkey",)),
        KeyUsage("od", "shuffle", ("o_orderkey",)),
        KeyUsage("li>od", "joinpair", ("l_orderkey>o_orderkey",)),
    ])
    assert h.datasets() == ["li", "od"]
    # the pair row still serves its purpose: partner discovery
    partners = h.co_shuffle_partners("li", "l_orderkey")
    assert partners and partners[0][:2] == ("od", "o_orderkey")


def test_keep_flat_layout_applies_as_noop(spark, tmp_path):
    """A keep_flat winner must leave the dataset byte-identical: apply_report
    performs no rewrite, and the set's files and rows are untouched."""
    import os as _os

    from lachesis_spark.advisor import LayoutRecommendation, PlacementReport
    from lachesis_spark.advisor.apply import apply_report

    cat = Catalog(spark, str(tmp_path))
    cat.create_database("db")
    base = spark.range(0, 1_000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    cat.write_set(base, "db", "t")
    path = cat.set_path("db", "t")
    sig_before = sorted(
        (f, _os.stat(_os.path.join(path, f)).st_mtime_ns)
        for f in _os.listdir(path) if f.endswith(".parquet")
    )
    rep = PlacementReport(
        "t", LayoutRecommendation("t", "keep_flat", (), 1.0), None, None
    )
    actions = apply_report(cat, rep, "db", "t")
    sig_after = sorted(
        (f, _os.stat(_os.path.join(path, f)).st_mtime_ns)
        for f in _os.listdir(path) if f.endswith(".parquet")
    )
    assert sig_after == sig_before  # not rewritten, not even touched
    assert cat.read_set("db", "t").count() == 1_000
    assert [a.action for a in actions] == ["keep_flat"]


def test_paired_stats_detects_uniform_speedup():
    """Paired measurement statistics: a uniform 25% placed-side win must
    produce a CI bracketing x1.25, all-wins, and agreeing order-split
    halves (the tool's drift-cancellation report depends on all three)."""
    from tools.advisor_bench import paired_stats

    names = [f"q{i:02d}" for i in range(40)]
    flat = {n: 1.0 + (i % 5) * 0.1 for i, n in enumerate(names)}
    placed = {n: flat[n] / 1.25 for n in names}
    s = paired_stats(names, flat, placed)
    lo, hi = s["speedup_ci95"]
    assert lo <= 1.25 <= hi
    assert hi - lo < 0.05  # uniform effect, zero noise: tight CI
    assert s["wins"] == 40 and s["losses"] == 0
    assert s["order_split"]["flat_first_speedup"] == pytest.approx(
        1.25, abs=0.01)
    assert s["order_split"]["placed_first_speedup"] == pytest.approx(
        1.25, abs=0.01)


def test_run_paired_alternates_arm_order_and_compares_counts(
    spark, monkeypatch
):
    """The paired pass must (a) route each arm through ITS resolver,
    (b) alternate which arm runs first by query index so warmth can't
    systematically favor one side, and (c) report per-arm row counts
    for the parity check."""
    import lachesis_spark.registry as registry
    from lachesis_spark import binding
    from tools.advisor_bench import run_paired

    calls: list[tuple[str, str]] = []

    def make_query(name):
        def q(spark_, sf_dir):
            df = binding.base_table(spark_, sf_dir, "probe")
            calls.append((name, df.columns[0]))
            return df
        return q

    names = ["qa", "qb"]
    for n in names:
        monkeypatch.setitem(registry.QUERIES, n, make_query(n))

    def resolver(tag, rows):
        def r(spark_, sf_dir, name):
            return spark_.range(rows).select(F.col("id").alias(tag))
        return r

    flat_t, placed_t, flat_c, placed_c = run_paired(
        spark, "/nonexistent", names,
        resolver("flat", 3), resolver("placed", 3), reps=1,
    )
    assert set(flat_t) == set(placed_t) == set(names)
    assert all(v >= 0 for v in flat_t.values())
    assert flat_c == {"qa": 3, "qb": 3} and placed_c == {"qa": 3, "qb": 3}
    # arm order: query index 0 runs flat first, index 1 placed first
    assert [c for c in calls if c[0] == "qa"] == [
        ("qa", "flat"), ("qa", "placed")]
    assert [c for c in calls if c[0] == "qb"] == [
        ("qb", "placed"), ("qb", "flat")]
