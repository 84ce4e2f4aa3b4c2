"""The benchmark's workloads: ``queries``, and ``ingest``, whose every pass
is a stream replay followed by the placement closed loop.

Each workload prepares its inputs from the seed, runs one untimed warm pass
that also captures the outputs to check, then runs timed passes.  A pass is
the workload's unit of work; its operations are the latencies the run
reports (a registry query on ``queries``, a query on the placed catalog on
``ingest``).
With tracing on, every operation is a root span whose children are the
layers it passes through, and per-layer counters are collected per pass.
"""

from __future__ import annotations

import os
import statistics
import time
from collections import defaultdict
from contextlib import closing
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

from perfbench import datagen
from perfbench.trace import SparkCounters, Tracer


def release_blocks(spark) -> None:
    """Drop cached and checkpointed blocks between operations, as bench.py
    does, so a late operation does not pay for the garbage of earlier ones."""
    spark.catalog.clearCache()
    for jrdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        jrdd.unpersist()


def dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``; hidden and sidecar files excluded."""
    n = size = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


@dataclass
class Ledger:
    """Operations attempted and failed; errors and wrong results both fail."""

    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)


class Workload:
    sf = 0.01

    def __init__(self, spark, work_dir: str, seed: int, tracer: Tracer,
                 traced: bool, sf: float | None = None):
        self.spark = spark
        self.sf = sf or self.sf
        self.work = work_dir
        self.seed = seed
        self.tracer = tracer
        self.data_dir = os.path.join(work_dir, "data")
        self.counters = SparkCounters(spark) if traced else None
        self.layers: list[dict] = []  # per-pass layer counters
        self.ledger = Ledger()

    # -- helpers -----------------------------------------------------------
    def fail(self, what: str) -> None:
        self.ledger.failed += 1
        self.ledger.errors.append(what)

    def count(self, df) -> int:
        """The final action.  Traced, it splits into Catalyst planning (the
        count plan's executedPlan) and execution of that same plan."""
        if not self.tracer.enabled:
            return df.count()
        with self.tracer.span("spark.plan"):
            agg = df.groupBy().count()
            agg._jdf.queryExecution().executedPlan()
        with self.tracer.span("spark.exec"):
            return agg.collect()[0][0]

    def add_spark(self, acc: dict, since) -> None:
        for k, v in self.counters.snapshot(since).items():
            acc["spark." + k] += v

    # -- interface ---------------------------------------------------------
    def install(self) -> None:
        """Before a traced pass: wrap this workload's layers (undone by
        ``Tracer.restore``) and skip status-store entries of earlier passes."""
        self.counters.resync()

    def prepare(self) -> None:
        datagen.generate(self.data_dir, self.sf, self.seed)
        self.prepare_inputs()

    def prepare_inputs(self) -> None:
        """Workload-specific inputs derived from the generated tables."""

    def warm(self) -> None:
        raise NotImplementedError

    def check(self) -> None:
        raise NotImplementedError

    def run_pass(self, i: int) -> list[float]:
        raise NotImplementedError


# ---------------------------------------------------------------------------
class QueriesWorkload(Workload):
    """Registry queries: short TPC-H scans and joins, whose wall time is
    mostly fixed per-query cost (relation resolution, planning, job launch),
    plus loop queries that spend most of theirs in driver-side build behind
    ``operators.core.barrier`` checkpoints."""

    TPCH = ["tpch_q01", "tpch_q03", "tpch_q05", "tpch_q06"]
    LOOPS = ["pagerank", "graph_lpa"]

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        from lachesis_spark.registry import QUERIES

        self.queries = {n: QUERIES[n] for n in self.TPCH + self.LOOPS}
        self.results: dict[str, tuple[list, list]] = {}
        self._bind_paths: list[str] = []

    def order(self, i: int) -> list[str]:
        rng = np.random.default_rng([self.seed, i + 1])
        names = list(self.queries)
        return [names[k] for k in rng.permutation(len(names))]

    def warm(self) -> None:
        for name in self.order(-1):
            df = self.queries[name](self.spark, self.data_dir)
            self.results[name] = (df.columns, df.collect())
            release_blocks(self.spark)

    def check(self) -> None:
        from perfbench.check import oracle_check, oracle_connection

        with closing(oracle_connection(self.data_dir)) as con:
            for name, (cols, rows) in self.results.items():
                self.ledger.attempted += 1
                problem = oracle_check(con, name, cols, rows)
                if problem:
                    self.fail(f"{name}: {problem}")

    def install(self) -> None:
        import lachesis_spark.binding as binding
        import lachesis_spark.operators.core as core

        def note_path(a):
            self._bind_paths.append(os.path.join(a["sf_dir"], a["name"]))

        super().install()
        self.tracer.patch_bindings(binding.base_table, "binding.base_table",
                                   on_result=note_path)
        self.tracer.patch_bindings(core.barrier, "operators.core.barrier")

    def run_pass(self, i: int) -> list[float]:
        lat = []
        acc: dict = defaultdict(float)
        t_pass = time.perf_counter()
        for name in self.order(i):
            self.ledger.attempted += 1
            t0 = time.perf_counter()
            try:
                if self.tracer.enabled:
                    n = self._traced(f"p{i}:{name}", name, acc)
                else:
                    n = self.queries[name](self.spark, self.data_dir).count()
            except Exception as e:  # noqa: BLE001 - a failed query is a result
                self.fail(f"{name}: {type(e).__name__}: {e}")
                release_blocks(self.spark)
                continue
            lat.append(time.perf_counter() - t0)
            if n != len(self.results[name][1]):
                self.fail(f"{name}: count {n} != warm pass {len(self.results[name][1])}")
            release_blocks(self.spark)
        if self.tracer.enabled:
            acc["pass_s"] = time.perf_counter() - t_pass
            acc["binding.distinct"] = len(set(self._bind_paths))
            self._bind_paths.clear()
            self.layers.append(dict(acc))
        return lat

    def _traced(self, qid: str, name: str, acc: dict) -> int:
        since = self.counters.mark()
        with self.tracer.query(qid):
            with self.tracer.span("registry.build"):
                df = self.queries[name](self.spark, self.data_dir)
            acc["registry.build_jobs"] += self.counters.mark()[0] - since[0]
            n = self.count(df)
        self.add_spark(acc, since)
        return n


# ---------------------------------------------------------------------------
class StreamWorkload(Workload):
    """Structured Streaming replay of ``stream_tumbling`` over the events
    table, rate-limited to one file per micro-batch.  The seed sets the batch
    boundaries; every batch is a contiguous ts range, so event-time order is
    kept.  Its micro-batch times are per-layer figures (``streaming.*``)."""

    QUERY = "stream_tumbling"
    BATCHES = 3
    WARM_BATCHES = 1

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.n_rows = 0
        self._builder = None  # (stream builder, output mode)

    def _chunk(self, dst: str, n_batches: int) -> None:
        tbl = pq.read_table(os.path.join(self.data_dir, "events.parquet"))
        self.n_rows = tbl.num_rows
        rng = np.random.default_rng([self.seed, n_batches])
        sizes = rng.dirichlet(np.full(n_batches, 8.0))
        cuts = np.round(np.cumsum(sizes) * tbl.num_rows).astype(int)
        cuts[-1] = tbl.num_rows
        out = os.path.join(dst, "events.parquet")
        os.makedirs(out, exist_ok=True)
        start, t0 = 0, time.time_ns()
        for k, end in enumerate(cuts):
            f = os.path.join(out, f"part-{k:05d}.parquet")
            pq.write_table(tbl.slice(start, end - start), f)
            # the file source admits files oldest first
            os.utime(f, ns=(t0 + k * 10**9, t0 + k * 10**9))
            start = end

    def prepare_inputs(self) -> None:
        self._chunk(os.path.join(self.work, "replay"), self.BATCHES)
        self._chunk(os.path.join(self.work, "warm"), self.WARM_BATCHES)

    def _replay(self, root: str, tag: str) -> list[dict]:
        """Run the stream query to completion; its progress reports."""
        from lachesis_spark.streaming import stream as S

        view = f"bench_{tag}_{self.QUERY}"
        if self._builder is None:
            self._builder = S._throughput_builders(self.spark, self.data_dir)[self.QUERY]
        build, mode = self._builder
        with self.tracer.span("streaming.build"):
            df = build(S.read_events_stream(self.spark, root, max_files_per_trigger=1))
        with S._state_partitions(self.spark), self.tracer.span("streaming.run"):
            q = S.run_to_memory(df, view, mode)
        self.spark.catalog.dropTempView(view)
        return S._progress_dicts(q)

    def _check_rows(self, progress: list[dict]) -> None:
        """The query's one source must have ingested every generated row."""
        n_sources = {len(p.get("sources", [])) for p in progress}
        rows = sum(int(src.get("numInputRows", 0))
                   for p in progress for src in p.get("sources", []))
        if n_sources != {1} or rows != self.n_rows:
            self.fail(f"{self.QUERY}: ingested {rows} of {self.n_rows} rows "
                      f"from {sorted(n_sources)} sources")

    def warm(self) -> None:
        self._warm = self._replay(os.path.join(self.work, "warm"), "warm")

    def check(self) -> None:
        self.ledger.attempted += 1
        self._check_rows(self._warm)

    def run_pass(self, i: int) -> list[float]:
        acc: dict = defaultdict(float)
        t_pass = time.perf_counter()
        self.ledger.attempted += 1
        since = self.counters.mark() if self.tracer.enabled else None
        progress: list[dict] = []
        try:
            with self.tracer.query(f"p{i}:{self.QUERY}"):
                progress = self._replay(os.path.join(self.work, "replay"), f"p{i}")
        except Exception as e:  # noqa: BLE001 - a failed query is a result
            self.fail(f"{self.QUERY}: {type(e).__name__}: {e}")
        else:
            self._check_rows(progress)
        if self.tracer.enabled:
            self.add_spark(acc, since)
            acc["pass_s"] = time.perf_counter() - t_pass
            acc.update(streaming_layers(
                [p for p in progress if p.get("numInputRows", 0) > 0]))
            self.layers.append(dict(acc))
        return []


def streaming_layers(progress: list[dict]) -> dict[str, float]:
    """Per-pass sums of the engine's own micro-batch phase timings, the
    median and largest micro-batch ``triggerExecution`` time, and the state
    held after each query's last batch."""
    out: dict[str, float] = defaultdict(float)
    keys = {"addBatch": "add_batch_ms", "queryPlanning": "query_planning_ms",
            "latestOffset": "latest_offset_ms", "walCommit": "wal_commit_ms",
            "commitOffsets": "commit_offsets_ms"}
    last: dict[str, dict] = {}
    trigger_ms: list[float] = []
    rows = 0.0
    for p in progress:
        d = p.get("durationMs", {})
        for k, name in keys.items():
            out["streaming." + name] += d.get(k, 0)
        trigger_ms.append(d.get("triggerExecution", 0))
        rows += p.get("numInputRows", 0)
        for op in p.get("stateOperators", []):
            out["streaming.state_commit_ms"] += op.get("commitTimeMs", 0)
        last[p["id"]] = p
    for p in last.values():
        for op in p.get("stateOperators", []):
            out["streaming.state_rows"] += op.get("numRowsTotal", 0)
            out["streaming.state_memory_bytes"] += op.get("memoryUsedBytes", 0)
    total_ms = sum(trigger_ms)
    out["streaming.rows_per_s"] = rows / (total_ms / 1e3) if total_ms else 0.0
    out["streaming.batch_p50_ms"] = statistics.median(trigger_ms) if trigger_ms else 0.0
    out["streaming.batch_max_ms"] = max(trigger_ms, default=0.0)
    return dict(out)


# ---------------------------------------------------------------------------
class PlacementWorkload(Workload):
    """The advisor's closed loop on catalog sets: load plain layouts →
    run and record → ``advise_all`` → ``apply_all`` → the same queries on
    the placed sets.  Two sets: lineitem⋈orders join+aggregate (learned
    bucketing) and a key-range scan of orders with seeded bounds (range
    clustering + zone maps).  The only workload that writes."""

    N_BUCKETS = 8
    PLACED_REPS = 3  # each placed query runs this often per loop

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        from lachesis_spark.catalog import Catalog

        self.cat = Catalog(self.spark, os.path.join(self.work, "catalog"))
        self.results: dict[str, list] = {}
        self.placed_results: dict[str, list[list]] = {}

    def prepare_inputs(self) -> None:
        rng = np.random.default_rng([self.seed, 7])
        n_orders = datagen.table_sizes(self.sf)["orders"]
        lo = int(rng.integers(0, int(n_orders * 0.8)))
        self.range_bounds = (lo, lo + int(n_orders * 0.2))

    # -- the workload's queries -------------------------------------------
    def _queries(self) -> dict:
        from pyspark.sql import functions as F

        cat = self.cat

        def join():
            li, od = cat.read_set("db", "lineitem"), cat.read_set("db", "orders")
            return li.join(od, li["l_orderkey"] == od["o_orderkey"]).groupBy("l_orderkey").agg(
                F.count(F.lit(1)).alias("n_lines"),
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"))

        def range_():
            return cat.read_set_pruned("db", "od_range", "o_orderkey", *self.range_bounds).groupBy(
                "o_orderstatus").agg(F.sum("o_totalprice").alias("s"))

        return {"join": join, "range": range_}

    def _range_filtered(self):
        """The range scan as a pushed filter, for the advisor's history."""
        from pyspark.sql import functions as F

        return self.cat.read_set("db", "od_range").where(
            F.col("o_orderkey").between(*self.range_bounds))

    # -- phases ------------------------------------------------------------
    def _load(self) -> None:
        """Plain layouts only, nothing pre-optimized."""
        sp, d, cat = self.spark, self.data_dir, self.cat
        cat.remove_database("db")
        cat.create_database("db")
        with self.tracer.span("query.build"):
            li = sp.read.parquet(os.path.join(d, "lineitem.parquet"))
            od = sp.read.parquet(os.path.join(d, "orders.parquet"))
        cat.write_set(li, "db", "lineitem")
        cat.write_set(od, "db", "orders")
        cat.write_set(od.repartition(8), "db", "od_range")

    def input_bytes(self) -> int:
        size = lambda t: os.path.getsize(os.path.join(self.data_dir, f"{t}.parquet"))  # noqa: E731
        return size("lineitem") + 2 * size("orders")

    def _timed(self, qid: str, fn, acc: dict, collect: bool):
        """One operation as a root span; returns (seconds, rows or count)."""
        since = self.counters.mark() if self.tracer.enabled else None
        t0 = time.perf_counter()
        with self.tracer.query(qid):
            out = fn(collect)
        dt = time.perf_counter() - t0
        if self.tracer.enabled:
            self.add_spark(acc, since)
        return dt, out

    def _loop(self, i: int, collect: bool, acc: dict) -> tuple[list[float], dict, dict]:
        """One closed loop; (placed-query latencies, results before, lists of
        results after)."""
        # broadcast joins off, as at the design scale where neither join side
        # fits a broadcast; locally Spark would hide the shuffles placement
        # is about
        key = "spark.sql.autoBroadcastJoinThreshold"
        old = self.spark.conf.get(key)
        self.spark.conf.set(key, "-1")
        try:
            return self._loop_body(i, collect, acc)
        finally:
            self.spark.conf.set(key, old)

    def _loop_body(self, i: int, collect: bool, acc: dict) -> tuple[list[float], dict, dict]:
        from lachesis_spark.advisor import (
            HistoryDB, advise_all, apply_all, capture_usages_from_plan,
            scan_stat_for_set,
        )

        qs = self._queries()
        tr = self.tracer
        cpus = int(self.spark.conf.get("spark.sql.shuffle.partitions"))

        def run(name):
            def go(collect_rows):
                with tr.span("query.build"):
                    df = qs[name]()
                if collect_rows:
                    with tr.span("spark.exec"):
                        return df.collect()
                return self.count(df)
            return go

        self._timed(f"p{i}:load", lambda _c: self._load(), acc, collect)
        h = HistoryDB(":memory:")
        before: dict = {}
        for name in qs:
            dt, before[name] = self._timed(f"p{i}:observe.{name}", run(name), acc, collect)
            release_blocks(self.spark)

            def record(_c, name=name, dt=dt):
                with tr.span("advisor.record"):
                    scans = []
                    if name == "join":
                        usages = capture_usages_from_plan(qs["join"]())
                        scans = [scan_stat_for_set(self.cat, "db", "lineitem"),
                                 scan_stat_for_set(self.cat, "db", "orders")]
                    else:
                        usages = capture_usages_from_plan(self._range_filtered())
                    h.record_job(f"{name}_run", dt, usages, scans=scans)

            self._timed(f"p{i}:record.{name}", record, acc, collect)
        resolve = {"lineitem": ("db", "lineitem"), "orders": ("db", "orders"),
                   "od_range": ("db", "od_range")}

        def place(_c):
            with tr.span("advisor.advise"):
                reports = advise_all(h, n_buckets=self.N_BUCKETS, cores=cpus,
                                     shuffle_partitions=cpus)
            with tr.span("advisor.apply"):
                return apply_all(self.cat, reports, resolve, n_buckets=self.N_BUCKETS)

        placement_s, applied = self._timed(f"p{i}:placement", place, acc, collect)
        h.close()
        acc["advisor.placement_s"] += placement_s
        acc["advisor.actions_applied"] += len(applied)
        if not applied:
            self.fail("advisor applied nothing")
        lat: list[float] = []
        after: dict = {name: [] for name in qs}
        for r in range(self.PLACED_REPS):
            for name in qs:
                dt, out = self._timed(f"p{i}:placed{r}.{name}", run(name), acc, collect)
                lat.append(dt)
                after[name].append(out)
                release_blocks(self.spark)
        return lat, before, after

    def install(self) -> None:
        from lachesis_spark.catalog import Catalog

        def note_write(a):
            n, b = dir_stats(a["self"].set_path(a["db"], a["name"]))
            self._acc["catalog.files_written"] += n
            self._acc["catalog.bytes_written"] += b

        super().install()
        self.tracer.patch_method(Catalog, "write_set", "catalog.write_set", note_write)
        self.tracer.patch_method(Catalog, "read_set", "catalog.read_set")

    def warm(self) -> None:
        self._acc = defaultdict(float)
        _lat, self.results, self.placed_results = self._loop(-1, True, self._acc)

    def check(self) -> None:
        from perfbench.check import same_rows

        for name, rows in self.results.items():
            cols = list(rows[0].asDict()) if rows else []
            for placed in self.placed_results[name]:
                self.ledger.attempted += 1
                if not rows or not same_rows(rows, placed, cols):
                    self.fail(f"{name}: result after placement differs from before")

    def run_pass(self, i: int) -> list[float]:
        self._acc = acc = defaultdict(float)
        t_pass = time.perf_counter()
        lat, before, after = self._loop(i, False, acc)
        for name in before:
            want = len(self.results[name])
            for n in [before[name], *after[name]]:
                self.ledger.attempted += 1
                if n != want:
                    self.fail(f"{name}: count {n} != warm pass {want}")
        if self.tracer.enabled:
            acc["pass_s"] = time.perf_counter() - t_pass
            acc["catalog.stored_bytes_ratio"] = dir_stats(self.cat.root)[1] / self.input_bytes()
            self.layers.append(dict(acc))
        return lat


class IngestWorkload(Workload):
    """The write side: a stream replay, then the placement closed loop, in
    every pass.  Neither goes through ``binding`` or ``barrier``.  Its
    latencies are those of the queries on the placed catalog."""

    def __init__(self, spark, work_dir, seed, tracer, traced, sf=None):
        super().__init__(spark, work_dir, seed, tracer, traced, sf)
        self.stream = StreamWorkload(spark, work_dir, seed, tracer, False, self.sf)
        self.placement = PlacementWorkload(spark, work_dir, seed, tracer, False, self.sf)
        for part in (self.stream, self.placement):
            part.counters, part.ledger = self.counters, self.ledger

    def prepare_inputs(self) -> None:
        self.stream.prepare_inputs()
        self.placement.prepare_inputs()

    def warm(self) -> None:
        self.stream.warm()
        self.placement.warm()

    def check(self) -> None:
        self.stream.check()
        self.placement.check()

    def install(self) -> None:
        self.placement.install()

    def run_pass(self, i: int) -> list[float]:
        self.stream.run_pass(i)
        lat = self.placement.run_pass(i)
        if self.tracer.enabled:
            merged: dict = defaultdict(float)
            for part in (self.stream, self.placement):
                for k, v in part.layers[-1].items():
                    merged[k] += v
            self.layers.append(dict(merged))
        return lat


WORKLOADS = {"queries": QueriesWorkload, "ingest": IngestWorkload}
