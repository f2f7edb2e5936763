"""The two workloads. Each is one closed-loop client in one process.

``operators`` runs a fixed set of registry operators as a lap, each through
the hash sink; the first lap is the cold lap, later laps are warm.
``pipeline_cache`` runs a seeded list of ``DataPipeline`` calls as its lap.
Every operation's answer is checked against DuckDB outside the timed
region.
"""

from __future__ import annotations

import functools
import importlib.util
import os
import random
import time
from collections import Counter
from collections.abc import Callable

from pyspark.sql import functions as F

from stats import median, tail
from tracing import SparkProbe, Tracer, layer_self_times, stream_listener

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# The ``operators`` workload: one lap runs every group below, in an order
# the seed shuffles per lap. Each group stresses a different layer, so the
# traced run can show one group moving while the others read the same.
GROUPS: dict[str, tuple[str, ...]] = {
    # the JVM-only path: Catalyst, shuffles, AQE, spread() sizing
    "relational": ("tpch_q3_shipping_priority",),
    # operators of examples/corpus_prep_demo.py: plans built by Python-side
    # builders (higher-order-function lambdas, eager jobs), run in the JVM
    "corpus": ("llm_dedup_minhash_lsh",),
    # applyInPandas: the Arrow/pandas Python-worker boundary
    "udf": ("udf_grouped_map",),
    # an AvailableNow drain of the staged 4-file events stream into a
    # windowed aggregate (JVM state)
    "stream": ("stream_tumbling_agg",),
}
GROUP_OF = {name: g for g, names in GROUPS.items() for name in names}

PER_LAP_TIMES = {
    "operators.build_s": "operators.build",
    "spark.plan_s": "spark.plan",
    "spark.exec_s": "spark.exec",
    "pipeline.memory_cache.put_s": "pipeline.memory_cache.put",
    "pipeline.parquet_cache.put_s": "pipeline.parquet_cache.put",
    "pipeline.fixture_source.get_s": "pipeline.fixture_source.get_many",
}
SELF_LAYERS = ("operators", "spark", "streaming", "pipeline")
PIPELINE_METRICS = (
    "pipeline.served.memory_cache", "pipeline.served.parquet_cache",
    "pipeline.served.fixture_source", "pipeline.memory_hit_ratio",
    "pipeline.memory_cache.put_s", "pipeline.parquet_cache.put_s",
    "pipeline.writeback_rows", "pipeline.writeback_bytes",
    "pipeline.fixture_source.get_s",
)
STREAMING_METRICS = (
    "streaming.batches", "streaming.batch_p50_ms", "streaming.add_batch_ms",
    "streaming.commit_ms", "streaming.state_rows",
)
# Per-layer metrics that a workload's path never reaches: they read 0.
# Every other metric must come from a span or a probe of the traced laps,
# so a probe that stops reporting shows up as a missing metric.
BYPASSED = {
    "operators": PIPELINE_METRICS,
    "pipeline_cache": (
        "operators.build_s", "operators.build_jobs", "spark.plan_s", "spark.exec_s",
        "spark.python_bytes", *STREAMING_METRICS,
        *(f"group.{g}_s" for g in GROUPS), *(f"group.{g}.python_bytes" for g in GROUPS),
    ),
}


def tree_cpu_s() -> float:
    """CPU seconds (user and system, reaped children included) used so far
    by every process of this session: the driver, the JVM and its Python
    workers (PySpark's worker daemon makes a process group of its own, so
    the session, not the group, holds them all)."""
    sid = os.getsid(0)
    ticks = 0
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid:
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def steal_s() -> float:
    """CPU seconds the host has taken from this machine so far, all cores."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def load_oracle_compare():
    """``scripts/check_oracle.py``, imported by path (it is a script)."""
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(REPO, "scripts", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Run:
    """State shared by every workload: failures, samples, traced counts."""

    def __init__(self, spark, registry, sf_dir: str, root: str, seed: int,
                 seconds: float, trace: bool) -> None:
        self.spark, self.registry, self.sf_dir, self.root = spark, registry, sf_dir, root
        self.rng = random.Random(seed)
        self.seconds, self.trace = seconds, trace
        self.oracle = load_oracle_compare()
        self.duck = self.oracle.duck_connect(sf_dir)
        self.tracer = Tracer()
        self.probe = SparkProbe(spark) if trace else None
        self.listener = None
        if trace:
            self.listener = stream_listener()
            spark.streams.addListener(self.listener)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.op_ms: list[float] = []          # operations of the counted laps
        self.laps: list[float] = []           # untraced laps, warm-up included
        self.counting = False                 # the lap now running is counted
        self.lap_wall: list[float] = []       # counted laps: untraced, warm
        self.lap_cpu: list[float] = []
        self.lap_steal: list[float] = []
        self.traced_laps: list[float] = []
        self.counts: Counter = Counter()      # traced laps only
        self.stream_batches: list[dict] = []  # traced laps only
        self.ratios: dict[str, float] = {}    # traced laps only, not per lap
        self.extra: dict = {}

    def fail(self, what: str, detail: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(f"{what}: {detail}"[:2000])

    def laps_for(self, lap: Callable[[bool], float | None],
                 warmup: int, counted: int) -> None:
        """Warm laps until ``seconds`` have passed and, after ``warmup``
        untraced laps, at least ``counted`` more. A lap returns its timed
        seconds, or None to be timed whole. In a traced run the laps after
        the warm-up alternate untraced/traced, at least untraced-traced-
        untraced so a warm-up trend cancels out of the tracing overhead."""
        deadline = time.perf_counter() + self.seconds
        need = 2 if self.trace else counted
        i = 0
        while True:
            traced = self.trace and i >= warmup and (i - warmup) % 2 == 1
            self.counting = not traced and i >= warmup
            first_job = self.probe.next_job_id() if traced else 0
            self.tracer.active = traced
            cpu0, steal0, t0 = tree_cpu_s(), steal_s(), time.perf_counter()
            with self.tracer.span("lap"):
                timed = lap(traced)
            took = time.perf_counter() - t0 if timed is None else timed
            cpu, steal = tree_cpu_s() - cpu0, steal_s() - steal0
            self.tracer.active = False
            if traced:
                self.probe.flush()
                self.counts.update({f"spark.{k}": v for k, v in self.probe.job_stats(
                    first_job, self.probe.next_job_id()).items()})
                self.traced_laps.append(took)
            else:
                self.laps.append(took)
            if self.counting:
                self.lap_wall.append(took)
                self.lap_cpu.append(cpu)
                self.lap_steal.append(steal)
            i += 1
            if time.perf_counter() >= deadline and len(self.lap_wall) >= need:
                self.counting = False
                return

    def stream_batches_since(self, seen: int) -> None:
        """Record the micro-batches reported since the ``seen``-th as spans
        under the open span, and their figures."""
        self.probe.flush()
        new = self.listener.batches[seen:]
        for b in new:
            self.tracer.record("streaming.batch", b["start"], b["start"] + b["ms"] / 1000)
        self.stream_batches.extend(new)
        if new:
            self.counts["streaming.state_rows"] += new[-1]["state_rows"]

    def layer_metrics(self, workload: str) -> dict[str, float]:
        n = max(1, len(self.traced_laps))
        out = dict.fromkeys(BYPASSED[workload], 0.0)
        for metric, span_name in PER_LAP_TIMES.items():
            took = [s.end - s.start for s in self.tracer.spans if s.name == span_name]
            if took:
                out[metric] = sum(took) / n
        for k, v in self.counts.items():
            out[k] = v / n
        own = layer_self_times(self.tracer.spans)
        for layer in SELF_LAYERS:
            out[f"self.{layer}_s"] = own.get(layer, 0.0) / n
        out["self.harness_s"] = (own.get("lap", 0.0) + own.get("op", 0.0)) / n
        b = self.stream_batches
        if b:
            out["streaming.batches"] = len(b) / n
            out["streaming.batch_p50_ms"] = median([x["ms"] for x in b])
            out["streaming.add_batch_ms"] = median([x["add_batch_ms"] for x in b])
            out["streaming.commit_ms"] = median([x["commit_ms"] for x in b])
        out["trace.overhead_s"] = median(self.traced_laps) - median(self.lap_wall)
        out["trace.spans"] = len(self.tracer.spans) / n
        out.update(self.ratios)
        return out


# ---------------------------------------------------------------------------
# Registry-operator workloads
# ---------------------------------------------------------------------------


def run_operators(run: Run) -> dict:
    names = list(GROUP_OF)
    spark, tr = run.spark, run.tracer
    expected: dict[str, int | None] = {}
    cold_ms: dict[str, float] = {}

    def one(name: str, traced: bool):
        spec = run.registry[name]
        with tr.span(f"op.{name}"):
            with tr.span("operators.build"):
                first_job = run.probe.next_job_id() if traced else 0
                seen = len(run.listener.batches) if traced else 0
                df = spec.fn(spark, run.sf_dir)
                if traced:
                    run.counts["operators.build_jobs"] += run.probe.next_job_id() - first_job
                    run.stream_batches_since(seen)
            sink = df.select(F.bit_xor(F.xxhash64(*[F.col(c) for c in df.columns])))
            if traced:
                with tr.span("spark.plan"):
                    sink._jdf.queryExecution().executedPlan()
            with tr.span("spark.exec"):
                value = sink.collect()[0][0]
            if traced:
                sent = run.probe.python_bytes(sink)
                run.counts["spark.python_bytes"] += sent
                run.counts[f"group.{GROUP_OF[name]}.python_bytes"] += sent
        return df, value

    def lap(traced: bool, cold: dict | None = None) -> None:
        # every lap runs the operators in the same order: with a seeded
        # order per lap, one seed's laps took 10% more CPU than another's
        for name in names:
            run.attempted += 1
            t0 = time.perf_counter()
            try:
                df, value = one(name, traced)
            except Exception as exc:  # a failed operation is counted, the run goes on
                run.fail(name, repr(exc))
                continue
            took = time.perf_counter() - t0
            if cold is not None:
                cold[name] = (df, value)
                cold_ms[name] = took * 1000
                continue
            if traced:
                run.counts[f"group.{GROUP_OF[name]}_s"] += took
            elif run.counting:
                run.op_ms.append(took * 1000)
            if name not in expected or value != expected[name]:
                run.fail(name, f"hash {value} != verified {expected.get(name)}")

    cold: dict = {}
    t0 = time.perf_counter()
    lap(False, cold)
    cold_s = time.perf_counter() - t0

    # outside the timed region: each operator's cold result against its
    # DuckDB oracle; the verified result's hash is what every lap must hit
    t0 = time.perf_counter()
    for name, (df, value) in cold.items():
        ok, msg = run.oracle.compare(name, df, run.duck.sql(run.registry[name].oracle))
        if ok:
            expected[name] = value
        else:
            run.fail(name, f"oracle mismatch: {msg}")

    verify_s = time.perf_counter() - t0
    run.laps_for(lap, warmup=2, counted=3)
    return {"cold_s": cold_s, "verify_s": verify_s, "cold_ms": cold_ms}


# ---------------------------------------------------------------------------
# pipeline_cache
# ---------------------------------------------------------------------------

MEMORY_TABLES = {"region", "nation", "supplier", "customer", "part",
                 "order_years", "segment_customers"}
POINT_TABLES = {  # table -> key column
    "nation": "n_nationkey",
    "supplier": "s_suppkey",
    "customer": "c_custkey",
    "part": "p_partkey",
    "orders": "o_orderkey",  # refused by the memory tier
}
ORDER_YEARS_SQL = ("SELECT o_custkey, YEAR(o_orderdate) AS o_year, COUNT(*) AS n_orders "
                   "FROM orders GROUP BY 1, 2")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
# One lap: how many operations of each kind. The counts are fixed so that
# every seed runs the same mix; the seed picks their keys.
LAP_MIX = {
    ("get", "nation"): 1, ("get", "supplier"): 1, ("get", "customer"): 4,
    ("get", "part"): 3, ("get", "orders"): 4,
    ("get_many", "order_years"): 2,  # through the orders->order_years chain
    ("get_many", "lineitem"): 2,
    ("put", "segment_customers"): 1,
    ("evict", "memory"): 1, ("evict", "orders"): 1, ("evict", "both"): 1,
}
ZIPF_S = 1.1


def pipeline_ops(rng: random.Random, keys: dict[str, list[int]]) -> list[tuple]:
    """The seeded lap: ``LAP_MIX`` with Zipf-skewed keys drawn from ``keys``
    (table -> its sorted key values; which keys are hot is seeded too).
    The order of the calls is the same for every seed: where a get falls
    relative to the evictions decides which tier serves it, and with a
    seeded order that moved a lap's cost by half between seeds."""
    hot = {}
    for table in POINT_TABLES:
        ranked = list(keys[table])
        rng.shuffle(ranked)
        hot[table] = (ranked, [1.0 / (r + 1) ** ZIPF_S for r in range(len(ranked))])

    def key(table: str) -> int:
        keys, weights = hot[table]
        return rng.choices(keys, weights)[0]

    ops: list[tuple] = []
    for (kind, table), count in LAP_MIX.items():
        for _ in range(count):
            if kind == "get":
                ops.append((kind, table, {POINT_TABLES[table]: key(table)}))
            elif table == "order_years":
                ops.append((kind, table, {"o_custkey": key("customer")}))
            elif table == "lineitem":
                ops.append((kind, table, {"l_orderkey": key("orders")}))
            elif kind == "put":
                ops.append((kind, table, {"c_mktsegment": rng.choice(SEGMENTS)}))
            else:
                ops.append((kind, table, {}))
    random.Random(0).shuffle(ops)
    return ops


def _where(query: dict) -> str:
    return " AND ".join(
        f"{k} = {v!r}" if isinstance(v, str) else f"{k} = {v}" for k, v in query.items())


def run_pipeline(run: Run) -> dict:
    from datapipelines_python_spark.pipeline import (
        DataPipeline, DataTransformer, FixtureSource, MemoryCache, ParquetCache)

    spark, tr, oracle = run.spark, run.tracer, run.oracle
    memory = MemoryCache(accepts=set(MEMORY_TABLES))
    parquet = ParquetCache(os.path.join(run.root, "parquet_cache"))
    fixtures = FixtureSource(run.sf_dir)

    def dates(df):
        return df.select("o_orderkey", "o_custkey", F.year("o_orderdate").alias("o_year"))

    def years(df):
        return df.groupBy("o_custkey", "o_year").agg(F.count("*").alias("n_orders"))

    def years_direct(df):
        return years(dates(df))

    pipe = DataPipeline(
        [memory, parquet, fixtures],
        transformers=[
            DataTransformer("orders", "order_dates", dates, cost=1),
            DataTransformer("order_dates", "order_years", years, cost=1),
            # dearer than the two-hop chain, which the planner must prefer
            DataTransformer("orders", "order_years", years_direct, cost=3),
        ],
        spark=spark,
    )
    served = {"name": None, "in_get": False}
    if run.trace:
        _instrument(run, pipe, served)

    get_ms: list[float] = []
    put_ms: list[float] = []

    def expected_sql(table: str, query: dict) -> str:
        if table == "order_years":
            return f"SELECT * FROM ({ORDER_YEARS_SQL}) WHERE {_where(query)}"
        return f"SELECT * FROM {table} WHERE {_where(query)}"

    @functools.cache
    def duck_answer(sql: str):
        # a lap repeats its calls, so each answer is asked of DuckDB once
        rel = run.duck.sql(sql)
        return oracle.normalize_result(list(rel.columns), rel.fetchall())

    def same(cols, rows, sql: str) -> bool:
        a = oracle.normalize_result(list(cols), [tuple(r) for r in rows])
        b = duck_answer(sql)
        return a[0] == b[0] and oracle.rows_equal(a[1], b[1])

    def call(op: tuple, traced: bool) -> float:
        kind, table, query = op
        t0 = time.perf_counter()
        if kind == "evict":
            if table in ("memory", "both"):
                memory.evict()
            if table in ("orders", "both"):
                parquet.evict("orders")
            return time.perf_counter() - t0
        if kind == "put":
            frame = (pipe.get_many("customer", query)
                     .select("c_custkey", "c_name", "c_mktsegment", "c_acctbal"))
            t0 = time.perf_counter()
            with tr.span("pipeline.put"):
                written = pipe.put(table, frame)
            took = time.perf_counter() - t0
            path = os.path.join(parquet.root, table)
            ok = written == 2 and same(
                *_duck_rows(run.duck, path),
                f"SELECT c_custkey, c_name, c_mktsegment, c_acctbal FROM customer "
                f"WHERE {_where(query)}")
            if run.counting:
                put_ms.append(took * 1000)
        else:
            served.update(name=None, in_get=True)
            try:
                with tr.span(f"pipeline.{kind}"):
                    if kind == "get":
                        row = pipe.get(table, query)
                        cols, rows = row.__fields__, [row]
                    else:
                        df = pipe.get_many(table, query)
                        cols, rows = df.columns, df.collect()
            finally:
                served["in_get"] = False
            took = time.perf_counter() - t0
            if traced:
                run.counts[f"pipeline.served.{served['name']}"] += 1
                run.counts["pipeline.gets"] += 1
            ok = same(cols, rows, expected_sql(table, query))
            if run.counting and kind == "get":
                get_ms.append(took * 1000)
        if run.counting:
            run.op_ms.append(took * 1000)
        if not ok:
            run.fail(f"{kind} {table} {query}", "differs from DuckDB")
        return took

    def attempt(op, traced) -> float:
        """Run one operation; returns its timed seconds (0 if it raised)."""
        run.attempted += 1
        try:
            return call(op, traced)
        except Exception as exc:  # a failed operation is counted, the run goes on
            run.fail(f"{op[0]} {op[1]} {op[2]}", repr(exc))
            return 0.0

    keys = {t: [r[0] for r in run.duck.sql(f"SELECT {c} FROM {t} ORDER BY 1").fetchall()]
            for t, c in POINT_TABLES.items()}
    ops = pipeline_ops(run.rng, keys)

    def lap(traced: bool) -> float:
        # the DuckDB check after each call is not part of the lap's time
        return sum(attempt(op, traced) for op in ops)

    # the first lap is the cold pass: the first get of every table, with
    # its write-back, happens in it
    run.laps_for(lap, warmup=3, counted=3)
    gets = run.counts.pop("pipeline.gets", 0)
    if gets:
        run.ratios["pipeline.memory_hit_ratio"] = (
            run.counts["pipeline.served.memory_cache"] / gets)
    get_tail = tail(get_ms)
    run.extra.update({
        "get_p50_ms": median(get_ms),
        "get_tail_ms": get_tail.value,
        "get_tail_percentile": get_tail.percentile,
        "get_samples": get_tail.samples,
        "put_p50_ms": median(put_ms),
        "put_samples": len(put_ms),
    })
    return {"cold_s": run.laps[0]}


def _duck_rows(duck, path: str):
    rel = duck.sql(f"SELECT * FROM read_parquet('{path}/*.parquet')")
    return rel.columns, rel.fetchall()


def _instrument(run: Run, pipe, served: dict) -> None:
    """Wrap each element's get_many/put in spans; record which element
    served a get and what write-back wrote to the parquet tier."""
    import pyarrow.parquet as pq

    from datapipelines_python_spark.pipeline import FixtureSource, MemoryCache, ParquetCache

    labels = {MemoryCache: "memory_cache", ParquetCache: "parquet_cache",
              FixtureSource: "fixture_source"}
    for name in (*(f"pipeline.served.{x}" for x in labels.values()),
                 "pipeline.writeback_rows", "pipeline.writeback_bytes"):
        run.counts[name] += 0  # instrumented: a count of 0 is now a reading
    for el in pipe.elements:
        label = labels[type(el)]

        def get_many(table, query, context, _orig=el.get_many, _label=label):
            with run.tracer.span(f"pipeline.{_label}.get_many"):
                out = _orig(table, query, context)
            served["name"] = _label
            return out

        el.get_many = get_many
        if not hasattr(el, "put"):
            continue

        def put(table, df, context, _orig=el.put, _label=label, _el=el):
            with run.tracer.span(f"pipeline.{_label}.put"):
                _orig(table, df, context)
            if run.tracer.active and served["in_get"] and _label == "parquet_cache":
                path = os.path.join(_el.root, table)
                for f in os.listdir(path):
                    if f.endswith(".parquet"):
                        full = os.path.join(path, f)
                        run.counts["pipeline.writeback_rows"] += pq.read_metadata(full).num_rows
                        run.counts["pipeline.writeback_bytes"] += os.path.getsize(full)

        el.put = put


def run_workload(run: Run, workload: str) -> dict:
    if workload == "pipeline_cache":
        out = run_pipeline(run)
    elif workload == "operators":
        out = run_operators(run)
    else:
        raise ValueError(f"unknown workload {workload!r}")
    out.update({
        "lap_s": median(run.lap_wall),
        "lap_cpu_s": median(run.lap_cpu),
        "steal_s": sum(run.lap_steal),
        "op_p50_ms": median(run.op_ms),
        "ops_per_s": len(run.op_ms) / sum(run.op_ms) * 1000 if run.op_ms else None,
        "laps": run.laps,
        "lap_cpu": run.lap_cpu,
        **run.extra,
    })
    return out
