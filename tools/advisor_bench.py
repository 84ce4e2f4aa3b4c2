"""One advisor harness: the self-learning placement loop, measured.

The reference records every job into its SelfLearningDB, lets the
rule-based optimizer choose a placement, then re-runs the same workload
(reference README.md:151-268).  Both modes run that loop on this engine
and print one JSON line (progress goes to stderr); ``--md`` appends the
mode's section to ADVISOR_DEMO.md and never rewrites the file.

``loop`` — from an EMPTY HistoryDB, instrumented runs record key usages,
scan shape and key skew; ONE ``advise_all`` → ``apply_all`` call
re-places the catalog; the identical workloads are re-measured.  One
workload per apply kind:

  lineitem⋈orders join+agg → bucket_by on the learned orderkey removes
                             every Exchange
  fragmented 512-file scan → compact to the file-size rule's target
  skewed fact ⋈ dim        → salting_hint sidecar that hinted_join salts
  key-range scan           → range_zonemap: files skipped at planning
  2-D box scan             → zorder: files skipped on both columns

plus the contextual bandit against the frequency rule on a workload mix
whose most frequent key is not its best layout key.  Broadcast joins are
disabled: at the design scale (100 TB) neither join side fits a broadcast
threshold, and locally Spark would hide the shuffles the loop is about.

``registry`` — the whole registry, unmodified, flat vs advisor-placed:

  0. every base table is copied into a catalog twice, ``db.t`` (the
     advisable copy) and ``db.t_flat`` (a frozen flat twin); both arms
     read catalog copies through the base-table binding
     (lachesis_spark.binding), so copy artifacts cancel and the measured
     delta is the layout;
  1. warm+record pass (:func:`record_registry`): the flat copies' scan
     shape, then every query's runtime and plan-captured usages;
  2. advise_all with measured arbitration: a contested dataset's
     candidates (incl. the keep_flat no-op arm) are A/B-measured on its
     own top recorded consumers; the measured-reward argmax wins unless
     it sits inside the session's noise floor.  Uncontested rewrites must
     beat keep_flat too, and a bucket winner's partner pin must beat the
     partner's own winner;
  3. everything reset flat, then apply_all places the final catalog;
  4. paired pass (:func:`run_paired`): each query runs flat and placed
     back-to-back, so session drift — ±8-11% over a sequential pass
     (ADVISOR_DEMO.md, round 11) — cancels per query;
  5. post-validation: a placed dataset whose readers net-lose under
     pairing is reverted to flat.

Row counts are compared per query between the arms (a layout must never
change answers).

Usage:
    python tools/advisor_bench.py loop SF_DIR [--md]
    python tools/advisor_bench.py registry SF_DIR [--limit N] [--md]
"""

from __future__ import annotations

import argparse
import dataclasses
import functools
import json
import os
import re
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from lachesis_spark.advisor import (
    HistoryDB,
    KeyUsage,
    LayoutRecommendation,
    LinUCBPlacementOptimizer,
    PlacementContext,
    ScanStat,
    advise_all,
    apply_all,
    arbitrate_by_reward,
    candidate_id,
    capture_usages_from_plan,
    hinted_join,
    key_stat_for,
    measure_key_cardinality,
    recommend,
    rewrite_layout,
    scan_stat_for_set,
)
from lachesis_spark.binding import bound, catalog_resolver
from lachesis_spark.catalog import Catalog
from lachesis_spark.session import get_spark

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REPS = 4  # the first run absorbs JIT and footer reads; min of the rest
BASE_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
BUCKET_KINDS = ("bucket_by", "bucket_range_grid")


# ---------------------------------------------------------------- shared core

def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def new_catalog(spark, prefix: str) -> Catalog:
    cat = Catalog(spark, tempfile.mkdtemp(prefix=prefix))
    cat.create_database("db")
    return cat


def release_blocks(spark) -> None:
    """bench.py's inter-query cleanup: cached tables and persisted RDDs."""
    spark.catalog.clearCache()
    for jrdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        jrdd.unpersist()


def run_timed(df) -> float:
    """Steady-state seconds: min over the post-warm-up runs (min is the
    stablest location statistic for a warm single-machine measurement)."""
    ts = []
    for _ in range(REPS):
        t0 = time.perf_counter()
        df.count()
        ts.append(time.perf_counter() - t0)
    return min(ts[1:])


def n_exchanges(df) -> int:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.count("Exchange hashpartitioning")


def emit(out: dict, md: str | None) -> None:
    """Print the run's JSON line; with ``md``, append that section to
    ADVISOR_DEMO.md, which keeps every earlier run's transcript."""
    print(json.dumps(out), flush=True)
    if md is not None:
        with open(os.path.join(REPO, "ADVISOR_DEMO.md"), "a") as f:
            f.write(md)


# ---------------------------------------------------------------- loop mode

LOOP_BUCKETS = 16
SHUFFLE_PARTS = 16
HOT_FRAC = 0.4
N_KEYS = 10_000
SKEW_ROWS = 5_000_000
RANGE_LO, RANGE_HI = 1000, 4000
# 2-D selection box, ~10% selective in each of two INDEPENDENT columns: a
# single-column range clustering can prune only one of them; the Z-curve
# keeps per-file spans bounded in both, so the box touches O(sqrt(files))
ZBOX = {"o_custkey": (1000, 2500), "o_totalprice": (150_000, 200_000)}


def join_workload(li, od):
    j = li.join(od, li["l_orderkey"] == od["o_orderkey"])
    return j.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
    )


def scan_workload(fr):
    return fr.groupBy("l_returnflag").agg(F.sum("l_extendedprice").alias("s"))


def skew_workload(cat, fact, dim):
    joined = hinted_join(cat, "db", "skewfact", fact, dim, "k", "k")
    return joined.groupBy("w").agg(F.sum("v").alias("sv"))


def range_read(cat):
    """Key-range read through the pruning entry point: a full scan plus
    filter until apply_all's range_zonemap rewrite lets it skip files."""
    return cat.read_set_pruned("db", "od_range", "o_orderkey", RANGE_LO, RANGE_HI)


def zorder_read(cat):
    """2-D box read through the multi-column pruning entry point: a full
    scan plus filters until apply_all's zorder rewrite lets it skip files
    on BOTH dimensions."""
    return cat.read_set_pruned_multi("db", "od_zorder", ZBOX)


def status_agg(df):
    return df.groupBy("o_orderstatus").agg(F.sum("o_totalprice").alias("s"))


def measure_loop(cat, dim, li, od, fr, sk) -> dict:
    return {
        "join_sec": run_timed(join_workload(li, od)),
        "join_exchanges": n_exchanges(join_workload(li, od)),
        "scan_sec": run_timed(scan_workload(fr)),
        "scan_files": scan_stat_for_set(cat, "db", "frag").n_files,
        "skew_sec": run_timed(skew_workload(cat, sk, dim)),
        "range_sec": run_timed(status_agg(range_read(cat))),
        "range_files": len(range_read(cat).inputFiles()),
        "zorder_sec": run_timed(status_agg(zorder_read(cat))),
        "zorder_files": len(zorder_read(cat).inputFiles()),
    }


def bandit_vs_rule(spark, cat, li, od) -> dict:
    """Contextual bandit vs the frequency rule.  In this workload mix the
    runtime-weighted most frequent key, l_returnflag (cardinality 3), is
    NOT the best layout key: its aggregation already collapses map-side,
    and bucketing on it caps the agg at 3 tasks, while the less frequent
    l_orderkey join is the mix's only real shuffle.  The rule must pick
    l_returnflag by construction of the history; LinUCB's cardinality
    feature learns from measured rewards to override frequency."""
    # orders stays bucketed on its join key in every arm: only lineitem's
    # layout is under test.  The plain baseline is written at ~1 file per
    # core (the file-size rule's target shape), so the flag-key layout's
    # parallelism collapse is measured against a competent plain layout.
    cat.write_set(od, "db", "orders_fixed",
                  bucket_by=(LOOP_BUCKETS, ["o_orderkey"]))
    od_fixed = spark.table("db_orders_fixed")
    # 8x key-shifted amplification: enough rows that stage parallelism and
    # shuffle volume, not task overhead, dominate the measurements
    cols = li.select("l_orderkey", "l_returnflag", "l_extendedprice",
                     "l_quantity")
    max_ok = cols.agg(F.max("l_orderkey")).first()[0] + 1
    amp = functools.reduce(DataFrame.unionByName, [
        cols.withColumn("l_orderkey", F.col("l_orderkey") + F.lit(i * max_ok))
        for i in range(8)
    ])
    cat.write_set(amp.repartition(32), "db", "li_base")
    base = cat.read_set("db", "li_base")

    def flag_agg(df):
        # CPU-bound per-row agg (t-digest sketches): wall time tracks the
        # stage's parallelism, so a layout that collapses it to 3 bucket
        # tasks pays for it
        return df.groupBy("l_returnflag").agg(
            F.expr("percentile_approx(l_extendedprice,"
                   " array(0.05,0.1,0.25,0.5,0.75,0.9,0.95), 50000)").alias("pct"),
            F.expr("percentile_approx(l_quantity, array(0.1,0.5,0.9), 50000)")
            .alias("pct_q"),
        )

    def ok_join(df):
        return (
            df.join(od_fixed, df["l_orderkey"] == od_fixed["o_orderkey"])
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("l_extendedprice").alias("s"))
        )

    t_flag, t_join = run_timed(flag_agg(base)), run_timed(ok_join(base))
    # the flag agg runs k_flag times per join run, so its runtime weight
    # dominates the history by construction
    k_flag = max(3, int(t_join / max(t_flag, 1e-6)) + 2)

    def mix(df) -> float:
        return k_flag * run_timed(flag_agg(df)) + run_timed(ok_join(df))

    h = HistoryDB(":memory:")
    scans = [scan_stat_for_set(cat, "db", "li_base")]
    for i in range(k_flag):
        h.record_job(f"flag_agg{i}", t_flag,
                     [KeyUsage("lineitem", "aggregate", ("l_returnflag",))],
                     scans=scans)
    h.record_job("ok_join", t_join,
                 [KeyUsage("lineitem", "join", ("l_orderkey",))], scans=scans)
    rule_rec = recommend(h, "lineitem", n_buckets=LOOP_BUCKETS)
    assert rule_rec.key_cols == ("l_returnflag",), rule_rec

    plain_t = mix(base)
    # the bandit pays one measurement per layout it explores; the rule
    # never re-examines its choice
    weights = h.key_weights("lineitem")
    total_w = sum(weights.values())
    n_files, n_bytes, _ = h.scan_profile("db.li_base")
    contexts = {
        key: PlacementContext(
            total_bytes=n_bytes, n_files=n_files,
            key_cardinality=measure_key_cardinality(base, [key]),
            runtime_weight=weights.get(key, 0.0) / max(total_w, 1e-9),
        )
        for key in ("l_returnflag", "l_orderkey")
    }
    opt = LinUCBPlacementOptimizer(h)
    layout_t: dict[str, float] = {}
    epochs = []
    for _ in range(4):
        key = opt.choose("lineitem", contexts, n_buckets=LOOP_BUCKETS).key_cols[0]
        if key not in layout_t:
            cat.write_set(base, "db", f"li_{key}", bucket_by=(LOOP_BUCKETS, [key]))
            layout_t[key] = mix(spark.table(f"db_li_{key}"))
        epochs.append(key)
        opt.observe("lineitem", (key,), contexts[key], plain_t, layout_t[key])
    return {
        "rule_key": list(rule_rec.key_cols),
        "ctx_key": epochs[-1],
        "epochs": epochs,
        "k_flag": k_flag,
        "card": {k: c.key_cardinality for k, c in contexts.items()},
        "plain_mix_sec": round(plain_t, 3),
        "rule_mix_sec": round(layout_t["l_returnflag"], 3),
        "ctx_mix_sec": round(layout_t["l_orderkey"], 3),
        "ctx_vs_rule_speedup": round(
            layout_t["l_returnflag"] / layout_t["l_orderkey"], 2),
    }


def run_loop(sf_dir: str, write_md: bool) -> None:
    spark = get_spark("advisor_bench_loop", shuffle_partitions=SHUFFLE_PARTS)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    cat = new_catalog(spark, "advisor_loop_")

    # ----- catalog setup: plain layouts only, nothing pre-optimized
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    od = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    cat.write_set(li, "db", "lineitem")
    cat.write_set(od, "db", "orders")
    li.repartition(512).write.parquet(cat.set_path("db", "frag"))
    hot = int(SKEW_ROWS * HOT_FRAC)
    fact = spark.range(SKEW_ROWS).select(
        F.when(F.col("id") < hot, F.lit(0))
        .otherwise((F.col("id") % N_KEYS).cast("long"))
        .alias("k"),
        (F.col("id") * 7 % 1000).alias("v"),
    )
    cat.write_set(fact.repartition(SHUFFLE_PARTS), "db", "skewfact")
    # range- and box-scanned sets are written UNCLUSTERED (random 32-way),
    # so every file spans the whole key range and zone maps prune nothing
    # until the advisor re-clusters them; the TWO filter columns in
    # od_zorder's history make recommend_layout pick zorder over range
    cat.write_set(od.repartition(32), "db", "od_range")
    cat.write_set(od.repartition(32), "db", "od_zorder")
    dim = spark.range(N_KEYS).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("w")
    ).cache()
    dim.count()

    # ----- phase 1: OBSERVE from an empty history
    h = HistoryDB(":memory:")

    def observe(name, df, usages=True, **shape):
        t0 = time.perf_counter()
        df.count()
        h.record_job(name, time.perf_counter() - t0,
                     capture_usages_from_plan(df) if usages else [], **shape)

    sets = ("lineitem", "orders", "frag", "skewfact")
    a, b, fr, sk = (cat.read_set("db", n) for n in sets)
    for i in range(3):
        observe(f"join_run{i}", join_workload(a, b),
                scans=[scan_stat_for_set(cat, "db", "lineitem"),
                       scan_stat_for_set(cat, "db", "orders")])
        # scan-only job: no key usages, the file-size rule runs on shape
        observe(f"scan_run{i}", scan_workload(fr), usages=False,
                scans=[scan_stat_for_set(cat, "db", "frag")])
    # load-time observation: the skewed set's key-frequency profile
    h.record_job("skew_load", run_timed(skew_workload(cat, sk, dim)), [],
                 key_stats=[key_stat_for(sk, "db.skewfact", ["k"])])
    # the pushed range predicate is the data-skipping signal range_zonemap
    # fires on; two pushed predicates on one scan are zorder's signal
    box = [F.col(c).between(lo, hi) for c, (lo, hi) in ZBOX.items()]
    for i in range(3):
        observe(f"range_run{i}", cat.read_set("db", "od_range").where(
            F.col("o_orderkey").between(RANGE_LO, RANGE_HI)))
    for i in range(3):
        observe(f"zorder_run{i}", cat.read_set("db", "od_zorder").where(
            functools.reduce(lambda x, y: x & y, box)))
    before = measure_loop(cat, dim, a, b, fr, sk)

    # ----- phase 2+3: ADVISE + APPLY (the one call under test)
    reports = advise_all(h, n_buckets=LOOP_BUCKETS, cores=SHUFFLE_PARTS,
                         shuffle_partitions=SHUFFLE_PARTS)
    applied = apply_all(
        cat, reports,
        resolve={
            "lineitem": ("db", "lineitem"),
            "orders": ("db", "orders"),
            "db.frag": ("db", "frag"),
            "db.skewfact": ("db", "skewfact"),
            "od_range": ("db", "od_range"),
            "od_zorder": ("db", "od_zorder"),
        },
        n_buckets=LOOP_BUCKETS,
    )
    assert applied, "advisor applied nothing — loop is broken"

    # ----- phase 4: identical workloads, re-measured
    # re-read: the rewrites swapped the sets' files and layout metadata
    after = measure_loop(cat, dim, *(cat.read_set("db", n) for n in sets))
    out = {
        "metric": "advisor_loop",
        "sf_dir": sf_dir,
        "cores": spark.sparkContext.defaultParallelism,
        "applied": [
            {"dataset": x.dataset, "action": x.action, "detail": x.detail}
            for x in applied
        ],
        "before": {k: round(v, 3) for k, v in before.items()},
        "after": {k: round(v, 3) for k, v in after.items()},
        **{f"{w}_speedup": round(before[f"{w}_sec"] / after[f"{w}_sec"], 2)
           for w in ("join", "scan", "skew", "range", "zorder")},
        "bandit": bandit_vs_rule(spark, cat, li, od),
    }
    # the bandit learning to override frequency is the experiment's claim;
    # a run where it did not still prints its measurements, then fails
    converged = out["bandit"]["ctx_key"] == "l_orderkey"
    emit(out, loop_md(out) if write_md and converged else None)
    if not converged:
        sys.exit(f"bandit did not override the frequency rule: "
                 f"{out['bandit']['epochs']}")


def loop_md(out: dict) -> str:
    b, a, bd = out["before"], out["after"], out["bandit"]
    actions = "; ".join(
        f"{x['dataset']}: {x['action']} ({x['detail']})" for x in out["applied"])
    return f"""

## Closed loop — advise_all → apply_all → re-run (one command, local[{out['cores']}])

Generated by `python tools/advisor_bench.py loop {out['sf_dir']} --md`: from
an EMPTY HistoryDB, the instrumented runs record usages/shape/skew, and ONE
`apply_all` call re-places the catalog — no manual steps anywhere.

Applied: {actions}

| workload | before | after | speedup |
|---|---|---|---|
| lineitem⋈orders join+agg | {b['join_sec']} s ({b['join_exchanges']} Exchanges) | {a['join_sec']} s ({a['join_exchanges']} Exchanges) | {out['join_speedup']}× |
| fragmented scan+agg | {b['scan_sec']} s ({b['scan_files']} files) | {a['scan_sec']} s ({a['scan_files']} files) | {out['scan_speedup']}× |
| skewed fact⋈dim (hint-salted) | {b['skew_sec']} s | {a['skew_sec']} s | {out['skew_speedup']}× |
| key-range scan (range_zonemap) | {b['range_sec']} s ({b['range_files']} files read) | {a['range_sec']} s ({a['range_files']} files read) | {out['range_speedup']}× |
| 2-D box scan (zorder) | {b['zorder_sec']} s ({b['zorder_files']} files read) | {a['zorder_sec']} s ({a['zorder_files']} files read) | {out['zorder_speedup']}× |

Contextual bandit vs the frequency rule: the flag agg on `l_returnflag`
(cardinality {bd['card']['l_returnflag']}) runs {bd['k_flag']}× per
`l_orderkey` join (cardinality {bd['card']['l_orderkey']}), so the rule
picks `{'/'.join(bd['rule_key'])}`; LinUCB explored
{' → '.join(bd['epochs'])} and converged on `{bd['ctx_key']}`:

| lineitem layout | workload-mix steady-state sec |
|---|---|
| plain parquet | {bd['plain_mix_sec']} |
| rule-based (bucket on {'/'.join(bd['rule_key'])}) | {bd['rule_mix_sec']} |
| contextual bandit (bucket on {bd['ctx_key']}) | {bd['ctx_mix_sec']} |

**Bandit beats the rule {bd['ctx_vs_rule_speedup']}× on the same history.**
"""


# ------------------------------------------------------------ registry mode

REG_BUCKETS = 32    # == local cores so parallelism_floor no-ops on buckets
REP_CAP_SEC = 5.0   # representatives cost-capped: arbitration is O(reps)
REP_FAMILIES = 5    # top consumer from each of the dataset's heaviest
# consumer FAMILIES measured per candidate — top-N-global reps let a
# layout win big on one family while silently taxing every other reader
# (round 11's paired pass caught events' bucket_by winning 2.0x on its
# top-3 reps while the full evt family regressed 0.79x)
REP_RUNS = 3        # 1 warm + 2 timed (min) per representative
GUARD_MARGIN = 0.03  # a rewrite must beat doing nothing by >3% measured —
# at 100 TB a relayout has a real write cost and a near-tie is noise
MIN_PLACE_BYTES = 4 << 20   # a table this small broadcasts at any scale
MIN_PLACE_RUNTIME = 5.0     # ... UNLESS its consumers carry real runtime:
# at bench SF the heavy tables (documents: the dedup family's whole input)
# are sub-MB on disk, so a dataset qualifies for placement by SIZE or by
# RECORDED CONSUMER RUNTIME, and everything else keeps flat (logged)
PAIRED_REPS = 2  # runs per arm per query in the paired pass (min taken)


def scan_stats_for_dir(sf_dir: str) -> list[ScanStat]:
    """Physical shape of every base table under ``sf_dir`` — the
    reference records the same observation at load time."""
    out = []
    for t in BASE_TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if not os.path.exists(path):
            continue
        n, size = 0, 0
        if os.path.isdir(path):
            for root, _dirs, files in os.walk(path):
                for f in files:
                    if f.endswith(".parquet"):
                        n += 1
                        size += os.path.getsize(os.path.join(root, f))
        else:
            n, size = 1, os.path.getsize(path)
        out.append(ScanStat(t, n, size))
    return out


def record_registry(
    history: HistoryDB, spark, sf_dir: str, names=None, scans=None
) -> dict[str, float]:
    """Run the registry workload as bench.py does (one rep, same block
    release between queries) and record every job into the history.
    First one ``load_base_tables`` job carries each base table's scan
    shape (``scans``, default: the files under ``sf_dir``), then one job
    per query carries its runtime and plan-captured key usages.  Returns
    {query: seconds}."""
    from lachesis_spark.registry import QUERIES

    history.record_job("load_base_tables", 0.0, [],
                       scans=scan_stats_for_dir(sf_dir) if scans is None else scans)
    timings: dict[str, float] = {}
    for name in sorted(names if names is not None else QUERIES):
        try:
            t0 = time.perf_counter()
            df = QUERIES[name](spark, sf_dir)
            df.count()
            runtime = time.perf_counter() - t0
            try:
                usages = [
                    u for u in capture_usages_from_plan(df)
                    # queries that scan explicit part-file lists (pruned
                    # reads, temp materializations) yield file-shaped
                    # "dataset" names — not placeable tables, drop them
                    if not re.match(r"part-\d{5}-", u.dataset)
                ]
            except Exception:
                usages = []  # driver-rebuilt frames carry no scan lineage
            history.record_job(name, runtime, usages)
            timings[name] = round(runtime, 3)
        except Exception as e:  # pragma: no cover - defensive, bench mirrors
            log(f"RECORD-FAIL {name}: {e}")
        finally:
            release_blocks(spark)
    return timings


def run_paired(spark, sf_dir, names, res_flat, res_placed,
               reps=PAIRED_REPS):
    """Paired per-query measurement: for each query, both arms run
    back-to-back (order alternating by query index so neither arm
    systematically goes first/warm-second), ``reps`` runs per arm, min
    per arm.  Host/session drift moves minutes-scale; within-pair runs
    are seconds apart, so the per-query comparison is drift-free to
    first order."""
    from lachesis_spark.registry import QUERIES

    times: dict[str, dict[str, list[float]]] = {
        n: {"flat": [], "placed": []} for n in names
    }
    flat_c, placed_c = {}, {}
    # reps are SEPARATED full-registry rounds (minutes apart), not
    # adjacent runs: a transient session pathology (round-11 observed a
    # Python-worker stall inflating one query 12x across two adjacent
    # reps) must persist for the whole pass to survive the cross-round
    # min.  Arm order flips with the round index too, so every query is
    # measured in BOTH orders and per-query order bias cancels in the
    # min, not just in the alternating-index aggregate.
    for rnd in range(reps):
        for i, name in enumerate(names):
            order = [("flat", res_flat), ("placed", res_placed)]
            if (i + rnd) % 2:
                order.reverse()
            for arm, res in order:
                with bound(res):
                    t0 = time.perf_counter()
                    n = QUERIES[name](spark, sf_dir).count()
                    times[name][arm].append(time.perf_counter() - t0)
                (flat_c if arm == "flat" else placed_c)[name] = n
                release_blocks(spark)
        log(f"   paired round {rnd + 1}/{reps} done")
    flat_t = {n: round(min(times[n]["flat"]), 3) for n in names}
    placed_t = {n: round(min(times[n]["placed"]), 3) for n in names}
    for n in names:
        log(f"   pair {n}: flat {flat_t[n]:.2f}s / placed {placed_t[n]:.2f}s")
    return flat_t, placed_t, flat_c, placed_c


def paired_stats(names, flat_t, placed_t):
    """Bootstrap 95% CI on the total-ratio speedup (resampling query
    PAIRS, so the per-query pairing is preserved) plus the index-split
    check: the speedup computed on even-index vs odd-index queries
    separately.  With round-flipped arm orders every query is measured
    in both orders, so the two halves are symmetric by construction and
    disagreement flags residual session effects, not order bias."""
    import numpy as np

    f = np.array([flat_t[n] for n in names])
    p = np.array([placed_t[n] for n in names])
    rng = np.random.RandomState(0)
    idx = rng.randint(0, len(names), size=(10_000, len(names)))
    ratios = f[idx].sum(axis=1) / p[idx].sum(axis=1)
    lo, hi = np.percentile(ratios, [2.5, 97.5])
    even = [i for i in range(len(names)) if i % 2 == 0]
    odd = [i for i in range(len(names)) if i % 2 == 1]
    return {
        "speedup_ci95": [round(float(lo), 3), round(float(hi), 3)],
        "wins": int((p < f).sum()),
        "losses": int((p > f).sum()),
        "order_split": {
            "flat_first_speedup": round(
                float(f[even].sum() / p[even].sum()), 3),
            "placed_first_speedup": round(
                float(f[odd].sum() / p[odd].sum()), 3),
        },
    }


def run_registry(sf_dir: str, limit: int | None, write_md: bool) -> None:
    spark = get_spark("advisor_bench_registry")
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()

    from lachesis_spark.registry import QUERIES

    names = sorted(QUERIES)[:limit] if limit else sorted(QUERIES)

    # ---- 0. catalog with flat advisable copies + frozen flat twins
    cat = new_catalog(spark, "advisor_registry_")
    for t in BASE_TABLES:
        df = spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet"))
        cat.write_set(df, "db", t)
        cat.write_set(df, "db", f"{t}_flat")
    res_placed = catalog_resolver(cat, "db", {t: t for t in BASE_TABLES})
    res_flat = catalog_resolver(cat, "db", {t: f"{t}_flat" for t in BASE_TABLES})

    def reset_flat(tables=BASE_TABLES) -> None:
        for t in tables:
            cat.write_set(cat.read_set("db", f"{t}_flat"), "db", t)

    def place(rec) -> None:
        rewrite_layout(cat, "db", rec.dataset, rec.kind, rec.key_cols,
                       n_buckets=REG_BUCKETS, range_cols=rec.range_cols)

    def too_few_keys(rec) -> bool:
        """A bucket layout needs key cardinality >= REG_BUCKETS: round 11
        measured orders into bucket_by(o_orderstatus), 3 distinct values
        over 32 buckets, a parallelism collapse no join win repays at any
        scale — a layout that cannot be right at 1000 executors must not
        be measurable into winning at sf0.1."""
        return rec.kind in BUCKET_KINDS and measure_key_cardinality(
            cat.read_set("db", f"{rec.dataset}_flat"), rec.key_cols
        ) < REG_BUCKETS

    # ---- 1. warm + record: the flat copies' shape, then every query
    history = HistoryDB(":memory:")
    shapes = {t: dataclasses.replace(scan_stat_for_set(cat, "db", f"{t}_flat"),
                                     dataset=t) for t in BASE_TABLES}
    log("== pass 0: warm + record ==")
    t0 = time.perf_counter()
    with bound(res_placed):
        warm_t = record_registry(history, spark, sf_dir, names,
                                 scans=list(shapes.values()))
    log(f"   {time.perf_counter() - t0:.1f}s")

    def readers(ds: str) -> list[tuple[str, float]]:
        """(query, recorded seconds) of every job that used ``ds``,
        slowest first."""
        return history.con.execute(
            """
            SELECT j.name, max(j.runtime_sec) AS rt
            FROM jobs j JOIN key_usage u ON u.job_id = j.id
            WHERE u.dataset = ? AND u.op != 'joinpair'
            GROUP BY j.name ORDER BY rt DESC
            """,
            (ds,),
        ).fetchall()

    placeable = {
        t for t in BASE_TABLES
        if shapes[t].total_bytes >= MIN_PLACE_BYTES
        or sum(rt for _, rt in readers(t)) >= MIN_PLACE_RUNTIME
    }
    log(f"below the placement floor ({MIN_PLACE_BYTES >> 20} MB or "
        f"{MIN_PLACE_RUNTIME}s recorded consumer runtime) — kept flat: "
        f"{sorted(set(BASE_TABLES) - placeable)}")

    def representatives(ds: str) -> list[str]:
        """The top recorded consumer of each of ``ds``'s heaviest consumer
        families, cost-capped."""
        fam_top: dict[str, str] = {}
        fam_rt: dict[str, float] = {}
        for n, rt in readers(ds):
            if n not in warm_t or rt > REP_CAP_SEC:
                continue
            f = n.split("_", 1)[0]
            fam_top.setdefault(f, n)  # rows ordered rt desc → family top
            fam_rt[f] = fam_rt.get(f, 0.0) + rt
        fams = sorted(fam_top, key=lambda f: -fam_rt[f])[:REP_FAMILIES]
        return [fam_top[f] for f in fams]

    def measure_reps(reps: list[str]) -> tuple[float, dict[str, float]]:
        """(total_sec, per-rep-query seconds) — the breakdown makes a
        blown-up arm attributable to the query that carried it."""
        per: dict[str, float] = {}
        with bound(res_placed):
            for name in reps:
                ts = []
                for _ in range(REP_RUNS):
                    t0 = time.perf_counter()
                    QUERIES[name](spark, sf_dir).count()
                    ts.append(time.perf_counter() - t0)
                    release_blocks(spark)
                per[name] = round(min(ts[1:]), 3)
        return sum(per.values()), per

    def keep_flat(r):
        return dataclasses.replace(r, layout=LayoutRecommendation(
            r.dataset, "keep_flat", (), r.layout.weight))

    # ---- 2. advise with measured arbitration (keep_flat arm included)
    linucb = LinUCBPlacementOptimizer(history, alpha=0.1)
    total_runtime = history.con.execute(
        "SELECT coalesce(sum(runtime_sec), 0) FROM jobs"
    ).fetchone()[0]
    arb_log: list[dict] = []
    pinned: dict[str, tuple] = {}  # partner -> (key_cols, winning pinner rec)
    arbitrated: set[str] = set()

    def bucketworthy_partner(dataset: str, key_cols):
        """The first co-shuffle partner a bucket pin could help: a base
        table other than ``dataset`` whose key has >= REG_BUCKETS values
        (a 3-value key in one garbage joinpair row would give 3 non-empty
        buckets out of 32)."""
        for d, k, _w in history.co_shuffle_partners(dataset, ",".join(key_cols)):
            rec = LayoutRecommendation(d, "bucket_by", tuple(k.split(",")), 0.0)
            if d in BASE_TABLES and d != dataset and not too_few_keys(rec):
                return rec
        return None

    def arbiter(dataset, cands):
        if dataset not in placeable:
            return None
        reps = representatives(dataset)
        if not reps:
            return None
        arbitrated.add(dataset)
        kept = []
        for c in cands:
            if too_few_keys(c):
                arb_log.append({
                    "dataset": dataset, "dropped": candidate_id(c),
                    "why": f"key cardinality < {REG_BUCKETS} buckets",
                })
            else:
                kept.append(c)
        cands = kept
        flat_arm = next(c for c in cands if c.kind == "keep_flat")
        if all(c.kind == "keep_flat" for c in cands):
            return flat_arm
        flat = cat.read_set("db", f"{dataset}_flat")
        n_files, n_bytes, _ = history.scan_profile(dataset)
        contexts = {
            candidate_id(c): PlacementContext(
                total_bytes=n_bytes, n_files=n_files,
                key_cardinality=(measure_key_cardinality(flat, c.key_cols)
                                 if c.key_cols else 1),
                runtime_weight=min(c.weight / max(total_runtime, 1e-9), 1.0),
            )
            for c in cands
        }

        def measure_candidate(cand):
            # the base is re-measured immediately before EACH candidate: a
            # single base taken at arbitration start lets session drift
            # accumulate into every later arm's reward
            reset_flat((dataset,))
            base, base_per = measure_reps(reps)
            place(cand)
            partner = (bucketworthy_partner(dataset, cand.key_cols)
                       if cand.kind in BUCKET_KINDS else None)
            if partner is not None:
                place(partner)
            after, after_per = measure_reps(reps)
            if partner is not None:
                reset_flat((partner.dataset,))
            arb_log.append({
                "dataset": dataset, "candidate": candidate_id(cand),
                "reps": reps, "before_sec": round(base, 3),
                "after_sec": round(after, 3),
                "before_per": base_per, "after_per": after_per,
                "reward": round((base - after) / max(base, 1e-9), 3),
            })
            log(f"   arb {dataset} {candidate_id(cand)}: "
                f"{base:.2f}s -> {after:.2f}s")
            return base, after

        win = arbitrate_by_reward(linucb, dataset, cands, contexts,
                                  measure_candidate)
        # keep_flat's arm measures flat against a flat base, so its
        # |reward| is the session's live noise floor for THIS dataset's
        # reps (observed swinging -0.10..+0.03 across round-11 runs); a real
        # layout effect must clear 2x that floor, not just GUARD_MARGIN
        rewards = {e["candidate"]: e["reward"] for e in arb_log
                   if e.get("dataset") == dataset and "candidate" in e}
        flat_rw = rewards[candidate_id(flat_arm)]
        floor = max(GUARD_MARGIN, 2.0 * abs(flat_rw))
        if win.kind != "keep_flat" and not rewards[candidate_id(win)] > flat_rw + floor:
            win = flat_arm
            arb_log.append({
                "dataset": dataset,
                "margin": f"winner within the measured noise floor "
                          f"({floor:.0%}) of keep_flat — staying flat"})
        arb_log.append({"dataset": dataset, "chosen": candidate_id(win)})
        if win.kind in BUCKET_KINDS:
            partner = bucketworthy_partner(dataset, win.key_cols)
            if partner is not None:
                pinned[partner.dataset] = (partner.key_cols, win)
        reset_flat((dataset,))
        return win

    log("== advise + arbitrate ==")
    reports = advise_all(history, n_buckets=REG_BUCKETS, arbiter=arbiter)

    # every rewrite must BEAT doing nothing: a layout the rule chose
    # UNCONTESTED never reached the arbiter but still rewrites data the
    # whole workload reads (embeddings' uncontested range_zonemap(vec_id)
    # regressed the ann family 0.76x), so it is measured against keep_flat
    # on the dataset's own top consumers
    guarded = []
    for r in reports:
        lay = r.layout
        if (lay is None or lay.kind == "keep_flat" or r.dataset in arbitrated
                or r.dataset not in BASE_TABLES):
            guarded.append(r)
        elif r.dataset not in placeable:
            arb_log.append({"dataset": r.dataset, "kept": "keep_flat:",
                            "why": "below placement floor"})
            guarded.append(keep_flat(r))
        elif not (reps := representatives(r.dataset)):
            guarded.append(r)
        elif too_few_keys(lay):
            arb_log.append({
                "dataset": r.dataset, "dropped": candidate_id(lay),
                "why": f"key cardinality < {REG_BUCKETS} buckets",
                "kept": "keep_flat:",
            })
            guarded.append(keep_flat(r))
        else:
            reset_flat((r.dataset,))
            base, base_per = measure_reps(reps)
            place(lay)
            placed_sec, placed_per = measure_reps(reps)
            reset_flat((r.dataset,))
            win = placed_sec < base * (1 - GUARD_MARGIN)
            arb_log.append({
                "dataset": r.dataset, "guard": candidate_id(lay), "reps": reps,
                "flat_sec": round(base, 3), "placed_sec": round(placed_sec, 3),
                "flat_per": base_per, "placed_per": placed_per,
                "kept": candidate_id(lay) if win else "keep_flat:",
            })
            log(f"   guard {r.dataset} {candidate_id(lay)}: flat {base:.2f}s"
                f" vs placed {placed_sec:.2f}s -> "
                f"{'apply' if win else 'keep flat'}")
            guarded.append(r if win else keep_flat(r))
    reports = guarded

    # partner pins: a bucket winner was MEASURED with its partner bucketed
    # alongside, so the final placement should honor that pairing — but a
    # pin that overrides the partner's OWN measured winner is itself an
    # unmeasured placement.  The pin must BEAT the partner's own winner in
    # a measured A/B on the partner's reps, with the pinner already placed
    # in its winning layout (the world the pairing claim is about).
    fixed = []
    for r in reports:
        pin, lay = pinned.get(r.dataset), r.layout
        if pin is not None and not (
            lay is not None and lay.kind in BUCKET_KINDS
            and tuple(lay.key_cols) == pin[0]
        ):
            pin_rec = LayoutRecommendation(r.dataset, "bucket_by", pin[0],
                                           lay.weight if lay else 0.0)
            pinner = pin[1]
            reps = representatives(r.dataset)
            if reps:
                reset_flat((r.dataset, pinner.dataset))
                place(pinner)
                if lay is not None:
                    place(lay)
                own_sec, own_per = measure_reps(reps)
                reset_flat((r.dataset,))
                place(pin_rec)
                pin_sec, pin_per = measure_reps(reps)
                reset_flat((r.dataset, pinner.dataset))
                take_pin = pin_sec < own_sec * (1 - GUARD_MARGIN)
                arb_log.append({
                    "dataset": r.dataset, "pin_ab": candidate_id(pin_rec),
                    "pinner": f"{pinner.dataset}:{candidate_id(pinner)}",
                    "own_sec": round(own_sec, 3), "pin_sec": round(pin_sec, 3),
                    "own_per": own_per, "pin_per": pin_per,
                    "kept": (candidate_id(pin_rec) if take_pin else
                             candidate_id(lay) if lay else "keep_flat:"),
                })
                log(f"   pin A/B {r.dataset}: own {own_sec:.2f}s vs pin "
                    f"{pin_sec:.2f}s -> {'pin' if take_pin else 'own winner'}")
                if take_pin:
                    lay = pin_rec
            else:
                arb_log.append({"dataset": r.dataset,
                                "pin_skipped": "no representatives"})
        fixed.append(dataclasses.replace(r, layout=lay))
    reports = fixed

    # ---- 3. reset, apply the final placement
    reset_flat()
    applied = apply_all(cat, reports, {t: ("db", t) for t in BASE_TABLES},
                        n_buckets=REG_BUCKETS)
    placement = [
        {"dataset": a.dataset, "action": a.action, "detail": a.detail}
        for a in applied
    ]
    log(f"APPLIED: {placement}")

    # ---- 4. paired pass: both arms back-to-back per query
    log(f"== paired pass (flat vs placed, {PAIRED_REPS} reps/arm,"
        " order alternating) ==")
    before, after, before_counts, after_counts = run_paired(
        spark, sf_dir, names, res_flat, res_placed)
    log(f"   flat {sum(before.values()):.1f}s vs placed "
        f"{sum(after.values()):.1f}s")
    mismatches = sorted(n for n in names if before_counts[n] != after_counts[n])

    # ---- 5. post-validation: the paired pass is the full-workload
    # measurement the ~5-representative arbitration approximated, so a
    # placed dataset whose READERS net-lose under pairing is reverted
    validation = []
    reader_sets: dict[str, set] = {}
    for p in placement:
        if p["action"] == "keep_flat":
            continue
        ds = p["dataset"]
        reader_sets[ds] = {n for n, _ in readers(ds)} & set(names)
        fsec = sum(before[q] for q in reader_sets[ds])
        psec = sum(after[q] for q in reader_sets[ds])
        confirmed = psec < fsec
        validation.append({
            "dataset": ds, "layout": f"{p['action']}:{p['detail']}",
            "n_readers": len(reader_sets[ds]),
            "readers_flat_sec": round(fsec, 2),
            "readers_placed_sec": round(psec, 2),
            "net_sec": round(fsec - psec, 2),
            "verdict": "confirmed" if confirmed else "reverted",
        })
        log(f"   validate {ds}: readers flat {fsec:.1f}s vs placed "
            f"{psec:.1f}s -> {'confirmed' if confirmed else 'REVERTED'}")
        if not confirmed:
            reset_flat((ds,))
            p["action"], p["detail"] = "keep_flat", ""
            p["note"] = "reverted by paired whole-workload validation"

    # projected total under the VALIDATED placement: a query reading only
    # reverted datasets runs at its measured flat time; a query touching
    # any confirmed placement keeps its measured placed time
    verdicts = {v["dataset"]: v["verdict"] for v in validation}
    projected = {}
    for q in names:
        touched = {verdicts[ds] for ds in reader_sets if q in reader_sets[ds]}
        projected[q] = before[q] if touched == {"reverted"} else after[q]

    def family(q: str) -> str:
        return q.split("_", 1)[0]

    fam_rows = []
    for f in sorted({family(n) for n in names}):
        qs = [n for n in names if family(n) == f]
        b, a = (sum(d[q] for q in qs) for d in (before, after))
        fam_rows.append({
            "family": f, "queries": len(qs), "before_sec": round(b, 2),
            "after_sec": round(a, 2),
            "speedup": round(b / a, 3) if a else None,
        })
    regressions = sorted(
        (
            {"query": n, "before_sec": before[n], "after_sec": after[n],
             "ratio": round(after[n] / before[n], 2)}
            for n in names
            if after[n] > 1.15 * before[n] and after[n] - before[n] > 0.1
        ),
        key=lambda r: -r["ratio"],
    )
    tb, ta = sum(before.values()), sum(after.values())
    out = {
        "sf_dir": sf_dir, "cores": spark.sparkContext.defaultParallelism,
        "n_queries": len(names),
        "total_before_sec": round(tb, 1), "total_after_sec": round(ta, 1),
        "workload_speedup": round(tb / ta, 3),
        "placement": placement,
        "arbitration": arb_log,
        "families": fam_rows,
        "regressions": regressions,
        "count_mismatches": mismatches,
        "paired_reps": PAIRED_REPS,
        "validation": validation,
        "validated_projection": {
            "projected_placed_sec": round(sum(projected.values()), 1),
            "projected_speedup": round(tb / sum(projected.values()), 3),
        },
        **paired_stats(names, before, after),
    }
    emit(out, registry_md(out) if write_md else None)


def registry_md(out: dict) -> str:
    fam_rows = "\n".join(
        f"| {f['family']} | {f['queries']} | {f['before_sec']} | "
        f"{f['after_sec']} | x{f['speedup']} |"
        for f in out["families"]
    )
    arb_rows = "\n".join(
        f"| {e['dataset']} | `{e['candidate']}` | {e['before_sec']} | "
        f"{e['after_sec']} | {e['reward']} |"
        for e in out["arbitration"] if "candidate" in e
    )
    placed = "; ".join(
        f"{p['dataset']}: {p['action']}({p['detail']})"
        + (" [reverted]" if "note" in p else "")
        for p in out["placement"]
    ) or "none"
    val_rows = "\n".join(
        f"| {v['dataset']} | `{v['layout']}` | {v['n_readers']} | "
        f"{v['readers_flat_sec']} | {v['readers_placed_sec']} | "
        f"{v['net_sec']} | **{v['verdict']}** |"
        for v in out["validation"]
    ) or "| (nothing placed) | | | | | | |"
    reg_rows = "\n".join(
        f"| `{r['query']}` | {r['before_sec']} | {r['after_sec']} | "
        f"x{r['ratio']} |"
        for r in out["regressions"]
    ) or "| (none above the 1.15x / 0.1s reporting floor) | | | |"
    lo, hi = out["speedup_ci95"]
    osplit = out["order_split"]
    proj = out["validated_projection"]
    bad = out["count_mismatches"]
    return f"""

## Paired whole-workload measurement: {out['n_queries']} queries, flat vs advisor-placed (local[{out['cores']}])

Generated by `python tools/advisor_bench.py registry {out['sf_dir']} --md`.
After the warm+record / measured-arbitration / placement steps, each
query's two arms run BACK-TO-BACK (seconds apart), in
{out['paired_reps']} full-registry rounds with the arm order flipping per
round (min per arm across rounds): drift cancels inside each pair, order
bias across rounds.

**Paired workload speedup: x{out['workload_speedup']}** (flat
{out['total_before_sec']} s vs placed {out['total_after_sec']} s;
bootstrap 95% CI over query resamples **x{lo}–x{hi}**; placed wins
{out['wins']} / loses {out['losses']} of {out['n_queries']} queries).
Index-split check (both halves saw both orders): even-half
x{osplit['flat_first_speedup']}, odd-half x{osplit['placed_first_speedup']}.

Final placement (a placed dataset whose readers net-lose under pairing
goes back to flat): {placed}.

| dataset | layout | readers | flat s | placed s | net s | verdict |
|---|---|---|---|---|---|---|
{val_rows}

Projected total under the VALIDATED placement (reverted datasets'
readers at their measured flat times): **x{proj['projected_speedup']}**
({proj['projected_placed_sec']} s).

| dataset | candidate | reps before s | reps after s | reward |
|---|---|---|---|---|
{arb_rows}

Per-family paired totals:

| family | n | flat s | placed s | speedup |
|---|---|---|---|---|
{fam_rows}

Every query regressing >15% and >0.1s under pairing:

| query | flat s | placed s | ratio |
|---|---|---|---|
{reg_rows}

Row-count parity held on {out['n_queries'] - len(bad)}
of {out['n_queries']} queries{' — MISMATCHES: ' + ', '.join(bad) if bad else ''}.
"""


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(
        description="Measure the advisor's self-learning placement loop.")
    sub = ap.add_subparsers(dest="mode", required=True)
    loop = sub.add_parser(
        "loop", help="closed loop over every apply kind + bandit vs rule")
    reg = sub.add_parser(
        "registry", help="whole registry, flat vs advisor-placed, paired")
    reg.add_argument("--limit", type=int,
                     help="only the first N registry queries by name")
    for p in (loop, reg):
        p.add_argument("sf_dir", help="directory of the NAME.parquet tables")
        p.add_argument("--md", action="store_true",
                       help="append this run's section to ADVISOR_DEMO.md")
    args = ap.parse_args(argv)
    if args.mode == "loop":
        run_loop(args.sf_dir, args.md)
    else:
        run_registry(args.sf_dir, args.limit, args.md)


if __name__ == "__main__":
    main()
