"""Join operators (SURVEY.md §2B.3).

Strategy notes for scale (the plans Catalyst picks at 100 TB):

- Equi joins shuffle both sides on the key unless one side is broadcast;
  dimension tables (region/nation/customer at TPC-H ratios) are explicitly
  ``broadcast()``-hinted in the chain join so the fact table never shuffles.
- The theta/interval joins constrain one side to a small derived set first
  — an unconstrained BNLJ is O(n·m) and is never the scale path.
- The as-of join uses the union + running-window trick (sort within user
  partitions) instead of a range self-join: one shuffle by key, no pair
  explosion, works at any fan-in. DuckDB's native ASOF JOIN is the oracle.
- AQE (on by default) re-plans skewed shuffles at runtime; salting hooks
  are not needed for the fixture keys but the join shapes keep keys narrow.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from datapipelines_python_spark.catalog import load_table
from datapipelines_python_spark.operators._helpers import (
    _scan_meta,
    dsum,
    md5_coord,
    round4,
    sql_dsum,
    sql_md5_coord,
    sql_round4,
    task_count,
)
from datapipelines_python_spark.registry import query


@query(
    "join_inner_equi",
    oracle="""
        SELECT o.o_orderkey, o.o_totalprice, c.c_name, c.c_mktsegment
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    """,
    tags=("join",),
    bench=True,
)
def join_inner_equi(spark: SparkSession, sf: str) -> DataFrame:
    o = load_table(spark, sf, "orders")
    c = load_table(spark, sf, "customer")
    return o.join(c, o.o_custkey == c.c_custkey, "inner").select(
        "o_orderkey", "o_totalprice", "c_name", "c_mktsegment"
    )


@query(
    "join_left_outer",
    oracle="""
        SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice
        FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    """,
    tags=("join",),
)
def join_left_outer(spark: SparkSession, sf: str) -> DataFrame:
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left").select(
        "c_custkey", "c_name", "o_orderkey", "o_totalprice"
    )


@query(
    "join_right_outer",
    oracle="""
        SELECT c.c_custkey, c.c_name, o.o_orderkey
        FROM orders o RIGHT JOIN customer c ON o.o_custkey = c.c_custkey
    """,
    tags=("join",),
)
def join_right_outer(spark: SparkSession, sf: str) -> DataFrame:
    o = load_table(spark, sf, "orders")
    c = load_table(spark, sf, "customer")
    return o.join(c, o.o_custkey == c.c_custkey, "right").select(
        "c_custkey", "c_name", "o_orderkey"
    )


@query(
    "join_full_outer",
    oracle="""
        SELECT s.s_suppkey, s.s_name, c.c_custkey
        FROM (SELECT * FROM supplier WHERE s_nationkey < 5) s
        FULL JOIN (SELECT * FROM customer WHERE c_nationkey >= 20) c
          ON s.s_nationkey = c.c_nationkey
    """,
    tags=("join",),
)
def join_full_outer(spark: SparkSession, sf: str) -> DataFrame:
    """Full outer with disjoint-ish sides so both null wings are exercised."""
    s = load_table(spark, sf, "supplier").filter(F.col("s_nationkey") < 5)
    c = load_table(spark, sf, "customer").filter(F.col("c_nationkey") >= 20)
    return s.join(c, s.s_nationkey == c.c_nationkey, "full").select(
        "s_suppkey", "s_name", "c_custkey"
    )


@query(
    "join_left_semi",
    oracle="""
        SELECT c_custkey, c_name FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
    """,
    tags=("join", "semi"),
)
def join_left_semi(spark: SparkSession, sf: str) -> DataFrame:
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders").filter(F.col("o_totalprice") > 300000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@query(
    "join_left_anti",
    oracle="""
        SELECT c_custkey, c_name FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    tags=("join", "anti"),
)
def join_left_anti(spark: SparkSession, sf: str) -> DataFrame:
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@query(
    "join_cross",
    oracle="""
        SELECT r.r_name, n.n_name FROM region r CROSS JOIN nation n
    """,
    tags=("join", "cross"),
)
def join_cross(spark: SparkSession, sf: str) -> DataFrame:
    r = load_table(spark, sf, "region")
    n = load_table(spark, sf, "nation")
    return r.crossJoin(n).select("r_name", "n_name")


@query(
    "join_theta_range",
    oracle=f"""
        SELECT o.o_orderkey,
               CAST(COUNT(l.l_orderkey) AS BIGINT) AS n_shipped_within_30d,
               {sql_dsum('l.l_quantity')} AS qty_shipped
        FROM (SELECT * FROM orders WHERE o_orderkey % 500 = 0) o
        LEFT JOIN lineitem l
          ON l.l_shipdate >= o.o_orderdate
         AND l.l_shipdate < o.o_orderdate + INTERVAL 30 DAY
        GROUP BY o.o_orderkey
    """,
    tags=("join", "theta"),
)
def join_theta_range(spark: SparkSession, sf: str) -> DataFrame:
    """Pure inequality (range) join, probe side constrained to a 0.2% sample.

    Registered plan = the bucketized equi-join (shared with
    ``join_range_bucketed``): a naive theta join runs as a broadcast
    nested-loop that evaluates its condition |build|x|probe| times (~18 s
    at sf0.1 — measured in round 1, retired per VERDICT #3; the BNLJ
    formulation is kept below as ``_join_theta_bnlj_negative_example`` for
    the record). Bucketizing computes the identical answer in <1 s and,
    unlike the broadcast BNLJ, needs no small side at all — the 100 TB
    shape.
    """
    return _range_join_bucketed(spark, sf)


def _join_theta_bnlj_negative_example(spark: SparkSession, sf: str) -> DataFrame:
    """NEGATIVE EXAMPLE — not registered. The broadcast nested-loop
    formulation of ``join_theta_range``: O(|build|x|probe|) condition
    evaluations, ~18 s at sf0.1 vs <1 s bucketized, and a hard scale
    ceiling (the interval side must fit in a broadcast). Kept only so the
    trade is documented in code; hoisting the date_add out of the join
    condition (evaluated per PAIR) was still worth ~5x even here."""
    o = (
        load_table(spark, sf, "orders")
        .filter(F.col("o_orderkey") % 500 == 0)
        .select(
            "o_orderkey",
            F.col("o_orderdate").alias("lo"),
            F.date_add(F.col("o_orderdate").cast("date"), 30)
            .cast("timestamp")
            .alias("hi"),
        )
    )
    li = load_table(spark, sf, "lineitem")
    cond = (li.l_shipdate >= o.lo) & (li.l_shipdate < o.hi)
    return (
        F.broadcast(o)
        .join(li, cond, "left")
        .groupBy("o_orderkey")
        .agg(
            F.count("l_orderkey").alias("n_shipped_within_30d"),
            dsum(F.col("l_quantity")).alias("qty_shipped"),
        )
    )


@query(
    "join_range_bucketed",
    oracle=f"""
        SELECT o.o_orderkey,
               CAST(COUNT(l.l_orderkey) AS BIGINT) AS n_shipped_within_30d,
               {sql_dsum('l.l_quantity')} AS qty_shipped
        FROM (SELECT * FROM orders WHERE o_orderkey % 500 = 0) o
        LEFT JOIN lineitem l
          ON l.l_shipdate >= o.o_orderdate
         AND l.l_shipdate < o.o_orderdate + INTERVAL 30 DAY
        GROUP BY o.o_orderkey
    """,
    tags=("join", "theta", "scale-path"),
)
def join_range_bucketed(spark: SparkSession, sf: str) -> DataFrame:
    """Same result as ``join_theta_range``, computed the way a 100 TB run
    must: the range join is bucketized into an **equi-join** on a coarse
    time bucket plus a residual range filter. Each 30-day order window
    covers at most two 30-day buckets, so the interval side is exploded
    ≤2× and both sides shuffle-partition on the bucket key — no broadcast
    requirement, no nested-loop join, and AQE can split hot buckets. Each
    matching line falls in exactly one bucket (its shipdate's), so no
    dedup pass is needed."""
    return _range_join_bucketed(spark, sf)


def _range_join_bucketed(spark: SparkSession, sf: str) -> DataFrame:
    """Shared bucketized range-join plan for join_theta_range /
    join_range_bucketed."""
    bucket_days = 30
    epoch = "1995-01-01"

    def bkt(col: F.Column) -> F.Column:
        return F.floor(F.datediff(col.cast("date"), F.lit(epoch)) / bucket_days)

    o = load_table(spark, sf, "orders").filter(F.col("o_orderkey") % 500 == 0)
    end = F.date_add(F.col("o_orderdate").cast("date"), bucket_days).cast("timestamp")
    o_b = o.select(
        "o_orderkey",
        "o_orderdate",
        end.alias("o_end"),
        # explode_outer, not explode: a NULL o_orderdate yields a NULL
        # bucket sequence, and a plain explode would silently DROP the
        # left row — breaking the rewrite's left-join contract (the
        # NULL-bucket row simply matches nothing, like the naive plan)
        F.explode_outer(
            F.sequence(bkt(F.col("o_orderdate")), bkt(end))
        ).alias("bkt"),
    )
    li = load_table(spark, sf, "lineitem").withColumn("bkt", bkt(F.col("l_shipdate")))
    cond = (
        (o_b.bkt == li.bkt)
        & (li.l_shipdate >= o_b.o_orderdate)
        & (li.l_shipdate < o_b.o_end)
    )
    return (
        o_b.hint("shuffle_hash")
        .join(li, cond, "left")
        .groupBy("o_orderkey")
        .agg(
            F.count("l_orderkey").alias("n_shipped_within_30d"),
            dsum(F.col("l_quantity")).alias("qty_shipped"),
        )
    )


@query(
    "join_multi_key",
    oracle=f"""
        SELECT l.l_orderkey, l.l_linenumber, ps.n_lines, ps.total_qty
        FROM lineitem l
        JOIN (
            SELECT l_partkey, l_suppkey,
                   CAST(COUNT(*) AS BIGINT) AS n_lines,
                   {sql_dsum('l_quantity')} AS total_qty
            FROM lineitem GROUP BY l_partkey, l_suppkey
        ) ps ON l.l_partkey = ps.l_partkey AND l.l_suppkey = ps.l_suppkey
    """,
    tags=("join", "multikey"),
)
def join_multi_key(spark: SparkSession, sf: str) -> DataFrame:
    """Composite-key equi join (fact joined to a 2-key aggregate of itself)."""
    li = load_table(spark, sf, "lineitem")
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.count(F.lit(1)).alias("n_lines"),
        dsum(F.col("l_quantity")).alias("total_qty"),
    )
    return li.join(ps, ["l_partkey", "l_suppkey"], "inner").select(
        "l_orderkey", "l_linenumber", "n_lines", "total_qty"
    )


@query(
    "join_broadcast",
    oracle="""
        SELECT r.r_name, n.n_name,
               CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name, n.n_name
    """,
    tags=("join", "broadcast"),
    bench=True,
)
def join_broadcast(spark: SparkSession, sf: str) -> DataFrame:
    """Star-schema chain with explicit broadcast of every dimension —
    the fact table streams through three BroadcastHashJoins, zero shuffles
    until the final aggregate."""
    o = load_table(spark, sf, "orders")
    c = load_table(spark, sf, "customer")
    n = load_table(spark, sf, "nation")
    r = load_table(spark, sf, "region")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@query(
    "join_self",
    oracle="""
        SELECT a.n_name AS nation_a, b.n_name AS nation_b, a.n_regionkey
        FROM nation a JOIN nation b
          ON a.n_regionkey = b.n_regionkey AND a.n_nationkey < b.n_nationkey
    """,
    tags=("join", "self"),
)
def join_self(spark: SparkSession, sf: str) -> DataFrame:
    """Self join: unordered pairs of nations sharing a region."""
    n = load_table(spark, sf, "nation")
    a = n.alias("a")
    b = n.alias("b")
    return a.join(
        b,
        (F.col("a.n_regionkey") == F.col("b.n_regionkey"))
        & (F.col("a.n_nationkey") < F.col("b.n_nationkey")),
    ).select(
        F.col("a.n_name").alias("nation_a"),
        F.col("b.n_name").alias("nation_b"),
        F.col("a.n_regionkey").alias("n_regionkey"),
    )


@query(
    "join_asof",
    oracle="""
        WITH views AS (
            SELECT user_id, ts, ARG_MAX(event_id, event_id) AS view_id
            FROM events WHERE event_type = 'view'
            GROUP BY user_id, ts
        ),
        purchases AS (
            SELECT event_id AS purchase_id, user_id, ts
            FROM events WHERE event_type = 'purchase'
        )
        SELECT p.purchase_id, p.user_id, v.view_id AS last_view_id
        FROM purchases p
        ASOF LEFT JOIN views v
          ON p.user_id = v.user_id AND v.ts <= p.ts
    """,
    tags=("join", "asof"),
)
def join_asof(spark: SparkSession, sf: str) -> DataFrame:
    """As-of join: for each purchase, the user's latest view at or before it.

    Spark has no native batch as-of; the scalable pattern is union the two
    event sets, sort within user partitions, and carry the last view id
    forward with a running window — one shuffle on user_id, no pair
    explosion (vs the theta-join + row_number approach which is O(views ×
    purchases) per user). Views are deduped per (user, ts) to make the
    at-same-instant tiebreak deterministic (matches DuckDB ASOF).
    """
    e = load_table(spark, sf, "events")
    views = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("view_id"))
        .select("user_id", "ts", "view_id", F.lit(None).cast("long").alias("purchase_id"))
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.lit(None).cast("long").alias("view_id"),
        F.col("event_id").alias("purchase_id"),
    )
    # At equal ts a view sorts before the purchase (is_view desc) so "<= ts"
    # includes same-instant views, like DuckDB's ASOF.
    tagged = views.unionByName(purchases).withColumn(
        "is_view", F.col("view_id").isNotNull().cast("int")
    )
    w = (
        W.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("is_view").desc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    carried = tagged.withColumn("last_view_id", F.last("view_id", ignorenulls=True).over(w))
    return carried.filter(F.col("purchase_id").isNotNull()).select(
        "purchase_id", "user_id", "last_view_id"
    )


@query(
    "join_interval",
    oracle=f"""
        WITH bounds AS (
            SELECT CAST(MIN(ts) AS DATE) AS lo, CAST(MAX(ts) AS DATE) AS hi FROM events
        ),
        days AS (
            -- DuckDB generate_series over dates yields timestamps; Spark
            -- sequence yields dates — align on DATE.
            SELECT CAST(UNNEST(GENERATE_SERIES(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day
            FROM bounds
        )
        SELECT d.day,
               CAST(COUNT(e.event_id) AS BIGINT) AS n_events,
               {sql_dsum('e.value')} AS total_value
        FROM days d
        LEFT JOIN events e
          ON e.ts >= CAST(d.day AS TIMESTAMP)
         AND e.ts < CAST(d.day AS TIMESTAMP) + INTERVAL 18 HOUR
        GROUP BY d.day
    """,
    tags=("join", "interval"),
)
def join_interval(spark: SparkSession, sf: str) -> DataFrame:
    """Point-in-interval join against a derived interval table (18h windows,
    so it is not expressible as a truncation). Interval side is tiny and
    broadcast; at scale this is the dimension side by construction."""
    e = load_table(spark, sf, "events")
    bounds = e.agg(
        F.min(F.col("ts").cast("date")).alias("lo"), F.max(F.col("ts").cast("date")).alias("hi")
    )
    days = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))).alias("day")
    )
    lo = F.col("day").cast("timestamp")
    hi = lo + F.expr("INTERVAL 18 HOUR")
    return (
        F.broadcast(days)
        .join(e, (e.ts >= lo) & (e.ts < hi), "left")
        .groupBy("day")
        .agg(
            F.count("event_id").alias("n_events"),
            dsum(F.col("value")).alias("total_value"),
        )
    )


@query(
    "join_skew_salted",
    oracle=f"""
        SELECT user_id, event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               {sql_dsum('value * w')} AS weighted_value
        FROM events
        JOIN (
            SELECT n_nationkey AS dim_key,
                   1.0 + n_regionkey * 0.1 AS w
            FROM nation
        ) dim ON user_id % 25 = dim_key
        GROUP BY user_id, event_type
    """,
    tags=("join", "skew"),
)
def join_skew_salted(spark: SparkSession, sf: str) -> DataFrame:
    """Salted join for skewed keys: the probe side appends a random-free
    deterministic salt (row-hash mod S), the build side is exploded S ways,
    and the join key becomes (key, salt) — one hot key's rows spread over S
    tasks instead of one straggler. The result is provably identical to the
    unsalted join (the oracle IS the unsalted join); only the physical
    distribution changes. At 100 TB this is the manual fallback when AQE's
    skew-split can't apply (e.g. the skewed side feeds an agg with the same
    key); S=8 here, sized ~executor-count/hot-key-count in production."""
    S = 8
    e = load_table(spark, sf, "events").withColumn(
        "salt", F.pmod(F.xxhash64("event_id"), F.lit(S))
    )
    dim = (
        load_table(spark, sf, "nation")
        .select(
            F.col("n_nationkey").cast("long").alias("dim_key"),
            (1.0 + F.col("n_regionkey") * 0.1).alias("w"),
        )
        .withColumn("salt", F.explode(F.array(*[F.lit(i) for i in range(S)])))
        .withColumn("salt", F.col("salt").cast("long"))
    )
    j = e.join(
        dim,
        (F.pmod(F.col("user_id"), F.lit(25)) == F.col("dim_key"))
        & (e.salt == dim.salt),
    )
    return j.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum(F.col("value") * F.col("w")).alias("weighted_value"),
    )


@query(
    "join_bucketed_colocated",
    oracle="""
        SELECT o.o_orderkey, o.o_custkey, o.o_totalprice,
               l.l_linenumber, l.l_quantity, l.l_extendedprice
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        WHERE l.l_quantity > 45
    """,
    tags=("join", "scale"),
)
def join_bucketed_colocated(spark: SparkSession, sf: str) -> DataFrame:
    """Co-located join via table bucketing: both sides are written with
    ``bucketBy(8, key).sortBy(key)`` so rows with equal keys land in the
    same bucket file on both tables. The subsequent sort-merge join reads
    bucket i against bucket i directly — NO Exchange in the plan (pinned in
    tests/test_plan_quality.py). This is the 100 TB fact⋈fact primitive:
    a shuffle of two large tables is the single most expensive operation a
    cluster does, and bucketing amortizes it ONCE at write time for every
    future join/agg on that key. One file per bucket (repartition before
    write) also lets Spark skip the sort. Bucket count 8 here; in
    production size buckets to ~executor-core count × a small factor."""
    from datapipelines_python_spark.operators.scans import scratch_dir

    orders = load_table(spark, sf, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    line = load_table(spark, sf, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )
    B = 8
    for name, df, key in (
        ("bkt_orders", orders, "o_orderkey"),
        ("bkt_lineitem", line, "l_orderkey"),
    ):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            df.repartition(B, F.col(key))  # one file per bucket -> sort elided
            .write.mode("overwrite")
            .option("path", scratch_dir(name))
            .bucketBy(B, key)
            .sortBy(key)
            .saveAsTable(name)
        )
    o = spark.table("bkt_orders")
    l = spark.table("bkt_lineitem").filter(F.col("l_quantity") > 45)
    j = o.hint("merge").join(l, o.o_orderkey == l.l_orderkey)
    return j.select(
        "o_orderkey", "o_custkey", "o_totalprice",
        "l_linenumber", "l_quantity", "l_extendedprice",
    )


@query(
    "join_lateral_topk",
    oracle="""
        SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        FROM customer c, LATERAL (
            SELECT o_orderkey, o_totalprice
            FROM orders o
            WHERE o.o_custkey = c.c_custkey
            ORDER BY o_totalprice DESC, o_orderkey
            LIMIT 2
        ) t
    """,
    tags=("join", "correlated"),
)
def join_lateral_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Correlated LATERAL subquery — per outer row, the top-2 orders by
    price. Catalyst decorrelates this into a join + per-key window (see
    ``topk_per_group`` for the explicit form); writing it LATERAL keeps
    the per-row intent readable while still planning set-wise — it never
    executes as N point queries, which is the trap a literal
    interpretation would hit at scale."""
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders")
    c.createOrReplaceTempView("lat_customer")
    o.createOrReplaceTempView("lat_orders")
    return spark.sql(
        """
        SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        FROM lat_customer c, LATERAL (
            SELECT o_orderkey, o_totalprice
            FROM lat_orders o
            WHERE o.o_custkey = c.c_custkey
            ORDER BY o_totalprice DESC, o_orderkey
            LIMIT 2
        ) t
        """
    )


@query(
    "join_null_safe_eq",
    oracle="""
        WITH e AS (
            SELECT event_id, NULLIF(event_type, 'click') AS et, user_id
            FROM events
        ),
        d AS (
            SELECT NULLIF(t, 'click') AS et, w FROM (VALUES
                ('click', 1), ('view', 2), ('purchase', 3)
            ) v(t, w)
        )
        SELECT e.event_id, e.user_id, d.w
        FROM e JOIN d ON e.et IS NOT DISTINCT FROM d.et
    """,
    tags=("join",),
)
def join_null_safe_eq(spark: SparkSession, sf: str) -> DataFrame:
    """Null-safe equality join (``<=>`` / IS NOT DISTINCT FROM): NULL keys
    match each other instead of silently dropping — the semantics you want
    when NULL is a real category (unknown segment, unparsed field) rather
    than absent data. Still a hash equi-join in the plan (NULLs hash to one
    key — note that makes NULL itself a skew key if it dominates; pre-split
    or salt it when it does)."""
    e = load_table(spark, sf, "events").select(
        "event_id",
        F.nullif(F.col("event_type"), F.lit("click")).alias("et"),
        "user_id",
    )
    d = spark.createDataFrame(
        [("click", 1), ("view", 2), ("purchase", 3)], "t string, w int"
    ).select(F.nullif(F.col("t"), F.lit("click")).alias("et"), "w")
    j = e.join(F.broadcast(d), e.et.eqNullSafe(d.et))
    return j.select("event_id", "user_id", "w")


@query(
    "join_asof_nearest",
    oracle="""
        WITH e AS (
            SELECT event_id, user_id % 1500 AS k, CAST(ts AS TIMESTAMP) AS ts
            FROM events
        ),
        ranked AS (
            SELECT e.event_id, e.k, e.ts, o.o_orderkey, o.o_orderdate,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.event_id
                       ORDER BY ABS(EPOCH(e.ts) - EPOCH(o.o_orderdate)),
                                o.o_orderdate, o.o_orderkey
                   ) AS rn
            FROM e JOIN orders o ON o.o_custkey = e.k
        )
        SELECT event_id, k, ts, o_orderkey, o_orderdate
        FROM ranked WHERE rn = 1
    """,
    tags=("join", "asof"),
)
def join_asof_nearest(spark: SparkSession, sf: str) -> DataFrame:
    """NEAREST as-of join (either direction): each event pairs with the
    temporally closest order for its key — ties broken (earlier date,
    lower key) so the winner is unique. Beside the backward-only
    ``join_asof``: backward answers "state at event time", nearest
    answers "which transaction does this event belong to". Shape: equi
    join on the key then a per-event argmin window — candidate count is
    per-key order volume, never a cross product; at 100 TB add a coarse
    time-bucket equi-key to bound candidates per event."""
    e = load_table(spark, sf, "events").select(
        "event_id", F.pmod(F.col("user_id"), F.lit(1500)).alias("k"), "ts"
    )
    o = load_table(spark, sf, "orders").select(
        F.col("o_custkey").alias("k"), "o_orderkey", "o_orderdate"
    )
    j = e.join(o, "k")
    diff = F.abs(
        F.unix_timestamp("ts") - F.unix_timestamp("o_orderdate")
    )
    w = W.partitionBy("event_id").orderBy(diff, "o_orderdate", "o_orderkey")
    return (
        j.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_id", "k", "ts", "o_orderkey", "o_orderdate")
    )


@query(
    "join_asof_tolerance",
    oracle="""
        WITH views AS (
            SELECT user_id, ts, ARG_MAX(event_id, event_id) AS view_id
            FROM events WHERE event_type = 'view'
            GROUP BY user_id, ts
        ),
        purchases AS (
            SELECT event_id AS purchase_id, user_id, ts
            FROM events WHERE event_type = 'purchase'
        ),
        matched AS (
            SELECT p.purchase_id, p.user_id, p.ts AS p_ts,
                   v.view_id, v.ts AS v_ts
            FROM purchases p
            ASOF LEFT JOIN views v
              ON p.user_id = v.user_id AND v.ts <= p.ts
        )
        SELECT purchase_id, user_id,
               CASE WHEN (EPOCH_US(p_ts) - EPOCH_US(v_ts)) // 1000000 <= 3600
                    THEN view_id END AS matched_view_id,
               CASE WHEN (EPOCH_US(p_ts) - EPOCH_US(v_ts)) // 1000000 <= 3600
                    THEN CAST((EPOCH_US(p_ts) - EPOCH_US(v_ts)) // 1000000
                              AS BIGINT) END AS lag_seconds
        FROM matched
    """,
    tags=("join", "asof"),
)
def join_asof_tolerance(spark: SparkSession, sf: str) -> DataFrame:
    """As-of join with a staleness bound: each purchase takes the user's
    latest prior view only if it happened within the last hour — matches
    older than the tolerance become NULL (attribution windows, sensor
    lookups, quote-at-trade joins all carry this bound in practice).

    Same single-shuffle union+window plan as ``join_asof`` — the carried
    value is a (view_id, ts) struct so the match's age is known at the
    purchase row, and the tolerance is a post-window projection, not a
    join condition: state stays O(1) per user and no pair explosion. The
    oracle applies the identical cutoff on DuckDB's native ASOF result;
    lag arithmetic is integer epoch-seconds on both engines."""
    e = load_table(spark, sf, "events")
    views = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("view_id"))
        .select(
            "user_id", "ts", "view_id",
            F.lit(None).cast("long").alias("purchase_id"),
        )
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.lit(None).cast("long").alias("view_id"),
        F.col("event_id").alias("purchase_id"),
    )
    tagged = views.unionByName(purchases).withColumn(
        "is_view", F.col("view_id").isNotNull().cast("int")
    )
    w = (
        W.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("is_view").desc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    carried = tagged.withColumn(
        "last_view",
        F.last(
            F.when(
                F.col("is_view") == 1,
                F.struct(F.col("view_id"), F.col("ts").alias("v_ts")),
            ),
            ignorenulls=True,
        ).over(w),
    )
    lag_s = (
        F.unix_micros(F.col("ts")) - F.unix_micros(F.col("last_view.v_ts"))
    ) / F.lit(1000000)
    lag_floor = F.floor(lag_s).cast("bigint")
    fresh = lag_floor <= 3600
    return carried.filter(F.col("purchase_id").isNotNull()).select(
        "purchase_id",
        "user_id",
        F.when(fresh, F.col("last_view.view_id")).alias("matched_view_id"),
        F.when(fresh, lag_floor).alias("lag_seconds"),
    )


@query(
    "join_fuzzy_blocked",
    oracle="""
        SELECT a.p_partkey AS a_key, b.p_partkey AS b_key,
               a.p_name AS a_name, b.p_name AS b_name,
               CAST(LEVENSHTEIN(a.p_name, b.p_name) AS INT) AS dist
        FROM part a JOIN part b
          ON SUBSTRING(a.p_name, 1, 3) = SUBSTRING(b.p_name, 1, 3)
         AND a.p_partkey < b.p_partkey
        WHERE a.p_partkey % 5 = 0
          AND LEVENSHTEIN(a.p_name, b.p_name) <= 2
    """,
    tags=("join", "fuzzy", "entity-resolution"),
)
def join_fuzzy_blocked(spark: SparkSession, sf: str) -> DataFrame:
    """Blocked fuzzy self-join — the scalable entity-resolution pattern:
    candidate pairs come from an EQUI-join on a cheap blocking key
    (3-char name prefix), and the expensive edit-distance predicate runs
    only as a residual filter on those candidates — never as a condition
    of an O(n²) nested loop. Recall is bounded by the blocking choice
    (an edit in the first 3 chars escapes the block — the documented
    trade; production stacks multiple complementary blocks and unions),
    cost is Σ(block²), the same skew economics as
    `workload_basket_affinity`. The `<` key order de-mirrors pairs.
    Spark and DuckDB agree on Levenshtein exactly (unit costs), so the
    whole match set hashes.

    Three measured plan choices (10.5 s → ~1 s at sf0.1, identical
    result set):

    - the name-prefix blocks are few and fat here (8 distinct trigrams
      over 20k parts → 10M candidate pairs), so the equi-key is widened
      with a LOSSLESS length band: levenshtein ≤ 2 implies |Δlen| ≤ 2
      (each edit moves length by at most 1), so the build side explodes
      into its 5 admissible partner lengths and (prefix, len) becomes
      the join key — pairs that could never match are pruned inside the
      hash join, and the shuffle-key count rises ~40× (parallelism at
      fixture scale, skew relief at 100 TB);
    - shuffle-hash, not broadcast: a broadcast join would run the
      residual on the probe side's few input partitions, and neither
      side broadcasts at 100 TB anyway;
    - the residual uses the BOUNDED ``levenshtein(l, r, threshold)``
      form, whose banded DP early-exits at distance>2 (O(len·k) per
      pair instead of O(len²), -1 sentinel instead of a full distance).
    """
    p = load_table(spark, sf, "part")
    # Salt the blocking key (round 10, guide §2.5): (pfx, nlen) has only
    # ~32 distinct values here (8 prefixes × a few lengths), so the ~10M
    # candidate pairs hash onto a fraction of the shuffle partitions and
    # the Levenshtein residual — the op's real cost — runs on a handful
    # of cores while the rest idle. A deterministic salt
    # (pmod(xxhash64(key), S) — never rand(), which re-draws under task
    # retry) goes on side `a` — the NON-replicated side, which the
    # shuffle_hash hint below nominates as the hash-table build side —
    # and the S-way replication on side `b`, multiplying the key count
    # ~S× at an S× b-row cost (skinny strings); each (a, b) pair still
    # meets exactly once, at a's salt.
    # S is the part rows' task count in the pairwise (``vector``) class,
    # capped at 16 so build replication stays bounded.
    n_salt = min(16, task_count(spark, _scan_meta(sf, "part")[1], "vector"))
    a = p.filter(F.col("p_partkey") % 5 == 0).select(
        F.col("p_partkey").alias("ak"),
        F.col("p_name").alias("an"),
        F.substring("p_name", 1, 3).alias("pfx"),
        F.length("p_name").alias("nlen"),
        F.pmod(F.xxhash64("p_partkey"), F.lit(n_salt)).cast("int").alias("salt"),
    )
    # replicated side: each row admits partner lengths len-2..len+2,
    # copied across every salt (one generator per select → two chained
    # selects); the shuffle_hash hint on `a` makes `a` the hash-table
    # build side, so this replication lands on the streamed side
    b = (
        load_table(spark, sf, "part")
        .select(
            F.col("p_partkey").alias("bk"),
            F.col("p_name").alias("bn"),
            F.substring("p_name", 1, 3).alias("pfx"),
            F.explode(
                F.sequence(F.length("p_name") - 2, F.length("p_name") + 2)
            ).alias("nlen"),
        )
        .select(
            "bk", "bn", "pfx", "nlen",
            F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1))).alias("salt"),
        )
    )
    bounded = F.levenshtein(F.col("an"), F.col("bn"), 2)
    return (
        a.hint("shuffle_hash")
        .join(b, ["pfx", "nlen", "salt"])
        .filter((F.col("ak") < F.col("bk")) & (bounded >= 0))
        .select(
            F.col("ak").alias("a_key"),
            F.col("bk").alias("b_key"),
            F.col("an").alias("a_name"),
            F.col("bn").alias("b_name"),
            bounded.cast("int").alias("dist"),
        )
    )


@query(
    "join_null_aware_anti",
    oracle="""
        WITH sub AS (
            SELECT CASE WHEN o_orderkey % 1000 = 0 THEN NULL
                        ELSE o_custkey END AS k
            FROM orders WHERE o_orderstatus = 'P'
        )
        SELECT
            (SELECT CAST(COUNT(*) AS BIGINT) FROM customer
             WHERE c_custkey NOT IN (SELECT k FROM sub)) AS n_with_nulls,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM customer
             WHERE c_custkey NOT IN (SELECT k FROM sub WHERE k IS NOT NULL))
                AS n_null_filtered,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM customer c
             WHERE NOT EXISTS (SELECT 1 FROM sub s WHERE s.k = c.c_custkey))
                AS n_not_exists
    """,
    tags=("join", "anti", "null-semantics"),
)
def join_null_aware_anti(spark: SparkSession, sf: str) -> DataFrame:
    """NOT IN versus NOT EXISTS under NULLs — the ANSI three-valued-logic
    trap, measured: with even ONE NULL in the subquery, ``x NOT IN (…)``
    can never be TRUE (every comparison is at best UNKNOWN), so the
    count collapses to 0; filter the NULLs and the real complement
    appears; NOT EXISTS ignores NULLs by construction and equals the
    filtered form. Spark plans the NOT IN as a NULL-AWARE anti join — a
    different (and more expensive, broadcast-only) physical operator
    than the plain LeftAnti the EXISTS form gets, which is exactly why
    pipelines at scale should write NOT EXISTS. All three counts in one
    pass, oracle verbatim."""
    o = load_table(spark, sf, "orders")
    c = load_table(spark, sf, "customer")
    o.createOrReplaceTempView("_naa_orders")
    c.createOrReplaceTempView("_naa_customer")
    return spark.sql(
        """
        WITH sub AS (
            SELECT CASE WHEN o_orderkey % 1000 = 0 THEN NULL
                        ELSE o_custkey END AS k
            FROM _naa_orders WHERE o_orderstatus = 'P'
        )
        SELECT
            (SELECT CAST(COUNT(*) AS BIGINT) FROM _naa_customer
             WHERE c_custkey NOT IN (SELECT k FROM sub)) AS n_with_nulls,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM _naa_customer
             WHERE c_custkey NOT IN (SELECT k FROM sub WHERE k IS NOT NULL))
                AS n_null_filtered,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM _naa_customer c
             WHERE NOT EXISTS (SELECT 1 FROM sub s WHERE s.k = c.c_custkey))
                AS n_not_exists
        """
    )


@query(
    "join_correlated_scalar",
    oracle="""
        SELECT o_orderkey, o_totalprice,
               (SELECT MAX(l.l_quantity) FROM lineitem l
                WHERE l.l_orderkey = o.o_orderkey) AS max_qty,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem l
                WHERE l.l_orderkey = o.o_orderkey) AS n_lines
        FROM orders o
        WHERE o.o_orderkey % 7 = 0
    """,
    tags=("join", "subquery"),
)
def join_correlated_scalar(spark: SparkSession, sf: str) -> DataFrame:
    """Correlated SCALAR subqueries in the projection — "each order with
    its max line quantity and line count" written the way analysts write
    it. Catalyst decorrelates both subqueries into ONE left-outer
    aggregate join (they share the correlation key), so the naive
    O(orders × lineitem-probe) reading costs a single shuffled join at
    any scale — the same rewrite `join_lateral_topk` pins for LATERAL.
    Orders without lines keep NULL max and 0 count (COUNT's
    empty-group-is-zero contract survives decorrelation — the subtle
    part of the rewrite, handled with a post-join coalesce by the
    optimizer). Oracle verbatim."""
    o = load_table(spark, sf, "orders")
    li = load_table(spark, sf, "lineitem")
    o.createOrReplaceTempView("_cs_orders")
    li.createOrReplaceTempView("_cs_lineitem")
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice,
               (SELECT MAX(l.l_quantity) FROM _cs_lineitem l
                WHERE l.l_orderkey = o.o_orderkey) AS max_qty,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM _cs_lineitem l
                WHERE l.l_orderkey = o.o_orderkey) AS n_lines
        FROM _cs_orders o
        WHERE o.o_orderkey % 7 = 0
        """
    )


@query(
    "join_tuple_in_subquery",
    oracle="""
        SELECT o.o_orderkey, o.o_custkey, o.o_orderstatus, o.o_orderpriority
        FROM orders o
        JOIN (SELECT o_orderstatus, o_orderpriority
              FROM orders
              GROUP BY o_orderstatus, o_orderpriority
              HAVING COUNT(*) > 1200) f
          ON o.o_orderstatus = f.o_orderstatus
         AND o.o_orderpriority = f.o_orderpriority
    """,
    tags=("join", "subquery"),
)
def join_tuple_in_subquery(spark: SparkSession, sf: str) -> DataFrame:
    """Multi-column (tuple) IN subquery — ``(a, b) IN (SELECT x, y …)``:
    the set-membership test over a COMPOSITE key, which Catalyst plans
    as a left-semi join on both columns (never a per-row subquery
    evaluation). Here: keep orders belonging to (status, priority)
    combinations frequent enough to matter — the 'drop rare segments'
    filter pattern. Distinct from ``join_left_semi`` (single key) and
    ``join_correlated_scalar`` (scalar subquery); this pins the tuple-
    valued membership surface (the oracle rewrites it as the equivalent
    join against the distinct frequent-combo set — DuckDB 1.0 lacks
    multi-column IN, which is itself evidence the surface is
    non-trivial)."""
    o = load_table(spark, sf, "orders")
    o.createOrReplaceTempView("_tin_orders")
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority
        FROM _tin_orders
        WHERE (o_orderstatus, o_orderpriority) IN (
            SELECT o_orderstatus, o_orderpriority
            FROM _tin_orders
            GROUP BY o_orderstatus, o_orderpriority
            HAVING COUNT(*) > 1200
        )
        """
    )


@query(
    "sql_hint_merge_join",
    oracle="""
        SELECT n.n_name, r.r_name,
               CAST(COUNT(c.c_custkey) AS BIGINT) AS n_customers
        FROM nation n
        JOIN region r ON n.n_regionkey = r.r_regionkey
        LEFT JOIN customer c ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name, r.r_name
    """,
    tags=("sql", "hint", "join"),
)
def sql_hint_merge_join(spark: SparkSession, sf: str) -> DataFrame:
    """Join-strategy hints: ``MERGE`` forces a sort-merge join where the
    planner would otherwise broadcast the tiny dimension — the escape
    hatch for when the "small" side's size estimate is wrong (stale
    stats after a filter; the 100 TB incident this prevents is a
    multi-GB 'dimension' broadcast OOMing every executor). Values are
    strategy-invariant, so the oracle is the plain join; the forced
    SortMergeJoin is pinned in the plan suite. The opposite hint
    direction is ``join_broadcast``."""
    n = load_table(spark, sf, "nation")
    r = load_table(spark, sf, "region")
    c = load_table(spark, sf, "customer")
    n.createOrReplaceTempView("_mh_nation")
    r.createOrReplaceTempView("_mh_region")
    c.createOrReplaceTempView("_mh_customer")
    return spark.sql(
        """
        SELECT /*+ MERGE(r), MERGE(c) */
               n.n_name, r.r_name,
               CAST(COUNT(c.c_custkey) AS BIGINT) AS n_customers
        FROM _mh_nation n
        JOIN _mh_region r ON n.n_regionkey = r.r_regionkey
        LEFT JOIN _mh_customer c ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name, r.r_name
        """
    )


@query(
    "join_star_denormalize",
    oracle=f"""
        SELECT n.n_name AS cust_nation,
               r.r_name AS cust_region,
               p.p_brand,
               s.s_name AS supplier,
               CAST(COUNT(*) AS BIGINT) AS n_lines,
               {sql_dsum('l.l_extendedprice * (1 - l.l_discount)')}
                   AS revenue
        FROM lineitem l
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n   ON c.c_nationkey = n.n_nationkey
        JOIN region r   ON n.n_regionkey = r.r_regionkey
        JOIN part p     ON l.l_partkey = p.p_partkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        WHERE r.r_name = 'ASIA' AND p.p_brand = 'Brand#11'
        GROUP BY n.n_name, r.r_name, p.p_brand, s.s_name
    """,
    tags=("join", "star", "etl"),
)
def join_star_denormalize(spark: SparkSession, sf: str) -> DataFrame:
    """Full star-schema denormalization — the silver-layer ETL staple:
    the fact table joined through ALL six dimensions (orders → customer
    → nation → region, plus part and supplier) in one plan, filtered
    and re-aggregated so the oracle is checkable. The plan property
    this pins: every dimension is broadcast (AQE sizes them under the
    threshold at any realistic SF), so the fact table streams through
    six BroadcastHashJoins with ZERO fact-side shuffles until the final
    aggregate — at 100 TB this is the difference between a scan-bound
    job and six sort-merge catastrophes. Dimension filters (region,
    brand) reach their dimension scans and prune the broadcast before
    the probe — check PushedFilters in `.explain`."""
    li = load_table(spark, sf, "lineitem")
    o = load_table(spark, sf, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    r = load_table(spark, sf, "region").filter(F.col("r_name") == "ASIA")
    p = load_table(spark, sf, "part").filter(
        F.col("p_brand") == "Brand#11"
    ).select("p_partkey", "p_brand")
    s = load_table(spark, sf, "supplier").select("s_suppkey", "s_name")
    wide = (
        li.join(F.broadcast(o), li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
    )
    return wide.groupBy(
        F.col("n_name").alias("cust_nation"),
        F.col("r_name").alias("cust_region"),
        "p_brand",
        F.col("s_name").alias("supplier"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "revenue"
        ),
    )


@query(
    "join_exists_correlated",
    oracle="""
        SELECT c_mktsegment,
               CAST(COUNT(*) AS BIGINT) AS n_customers,
               CAST(SUM(CASE WHEN EXISTS (
                        SELECT 1 FROM orders o
                        WHERE o.o_custkey = c.c_custkey
                          AND o.o_totalprice > 150000)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_with_big_order,
               CAST(SUM(CASE WHEN NOT EXISTS (
                        SELECT 1 FROM orders o
                        WHERE o.o_custkey = c.c_custkey)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_never_ordered
        FROM customer c
        GROUP BY c_mktsegment
    """,
    tags=("join", "subquery", "sql"),
)
def join_exists_correlated(spark: SparkSession, sf: str) -> DataFrame:
    """Correlated EXISTS / NOT EXISTS through the SQL surface. Catalyst
    decorrelates both predicates into left-semi and left-anti hash joins
    on o_custkey (no per-row subquery execution — check the two Join
    nodes in `.explain`), which is exactly the rewrite a 100 TB run
    needs: the orders side aggregates/dedups by custkey under the join,
    and the EXISTS arm's price filter pushes below its join. The
    DataFrame twins are ``join_left_semi`` / ``join_left_anti``; this op
    pins the SQL-subquery route to the same plans."""
    from datapipelines_python_spark.catalog import register_views

    register_views(spark, sf, ("customer", "orders"))
    return spark.sql(
        """
        SELECT c_mktsegment,
               CAST(COUNT(*) AS BIGINT) AS n_customers,
               CAST(SUM(CASE WHEN EXISTS (
                        SELECT 1 FROM orders o
                        WHERE o.o_custkey = c.c_custkey
                          AND o.o_totalprice > 150000)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_with_big_order,
               CAST(SUM(CASE WHEN NOT EXISTS (
                        SELECT 1 FROM orders o
                        WHERE o.o_custkey = c.c_custkey)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_never_ordered
        FROM customer c
        GROUP BY c_mktsegment
        """
    )


@query(
    "join_geo_bucketed",
    oracle=f"""
        WITH pts AS (
            SELECT c_custkey,
                   {sql_md5_coord("c_custkey", ":lat", 120000, 60.0)} AS lat,
                   {sql_md5_coord("c_custkey", ":lon", 360000, 180.0)} AS lon
            FROM customer
        ),
        stores AS (SELECT * FROM pts WHERE c_custkey % 100 = 0),
        pairs AS (
            SELECT s.c_custkey AS store_id,
                   6371.0 * 2 * ASIN(SQRT(
                       POW(SIN(RADIANS(u.lat - s.lat) / 2), 2)
                       + COS(RADIANS(s.lat)) * COS(RADIANS(u.lat))
                         * POW(SIN(RADIANS(u.lon - s.lon) / 2), 2)
                   )) AS d_km
            FROM stores s JOIN pts u ON u.c_custkey <> s.c_custkey
        )
        SELECT store_id,
               CAST(COUNT(CASE WHEN d_km <= 50.0 THEN 1 END) AS BIGINT)
                   AS n_within_50km,
               {sql_round4('MIN(d_km)')} AS nearest_km
        FROM pairs
        GROUP BY store_id
    """,
    tags=("join", "geo", "spatial"),
)
def join_geo_bucketed(spark: SparkSession, sf: str) -> DataFrame:
    """Geo radius join via LOSSLESS grid blocking — the canonical spatial
    join at scale. Points are derived deterministically from customer keys
    (md5 → lat ∈ [-60, 60), lon ∈ [-180, 180), same hash both engines);
    each store explodes into its 3×3 neighborhood of 1° grid cells
    (longitude cells WRAP at ±180 — haversine is periodic in Δlon, so an
    unwrapped grid would silently drop cross-antimeridian neighbors) and
    the user side joins on its own cell — 1° latitude ≈ 111 km and 1°
    longitude ≥ 55 km at |lat| ≤ 60°, both > the 50 km radius, so every
    true neighbor shares one of the 9 cells (no recall loss), and the
    equi-join on cell replaces the all-pairs product. Exact haversine
    re-scores candidates; nearest_km is computed over ALL pairs (not just
    in-radius) so the oracle replays the unblocked formulation and any
    blocking recall loss in the candidate set would *also* surface as a
    wrong nearest distance... except nearest-overall needs the full pair
    set, so that column alone rides a separate per-store top-1 over the
    unblocked broadcast join of the tiny store table — the two-track shape
    (blocked candidates for the radius count, broadcast for the global
    argmin) documents where each tool applies."""
    c = load_table(spark, sf, "customer").select("c_custkey")
    pts = c.select(
        "c_custkey",
        md5_coord(F.col("c_custkey"), ":lat", 120000, 60.0).alias("lat"),
        md5_coord(F.col("c_custkey"), ":lon", 360000, 180.0).alias("lon"),
    )
    # Materialize the derived coordinates ONCE, behind a shuffle barrier
    # (round-7 sf1-decade finding): without it, CollapseProject inlines
    # the md5 derivation into the argmin track's broadcast nested-loop
    # join, so lat/lon are re-derived PER PAIR — |pts|·|stores| md5 calls
    # instead of |pts| (at sf1: ~9e8 vs 3e5 — measured as the entire op's
    # wall) — and the single-file customer scan gives that pair loop
    # exactly ONE task. The key-hash shuffle (150k skinny rows, trivial)
    # materializes the projection and fans the pair loop out to every
    # core; at 100 TB it is the difference between a one-task quadratic
    # straggler and an embarrassingly parallel broadcast scan. The
    # partition count is EXPLICIT: a bare repartition(col) is a shuffle
    # whose tiny byte size (150k skinny rows ≈ 5 MB) AQE coalesces
    # straight back to one partition — bytes are the wrong split driver
    # for a CPU-bound pair loop (measured at sf1: 377 s unpartitioned,
    # 55 s AQE-coalesced, ~8 s at the core count). The width is the
    # customer rows' task count in the pairwise (``vector``) class.
    pts = pts.repartition(
        task_count(spark, _scan_meta(sf, "customer")[1], "vector"),
        F.col("c_custkey"),
    )
    stores = pts.filter(F.col("c_custkey") % 100 == 0)

    def hav(slat, slon, ulat, ulon):
        dlat = F.radians(ulat - slat) / 2
        dlon = F.radians(ulon - slon) / 2
        a = F.sin(dlat) ** 2 + F.cos(F.radians(slat)) * F.cos(F.radians(ulat)) * F.sin(dlon) ** 2
        return 6371.0 * 2 * F.asin(F.sqrt(a))

    # blocked track: 3x3 cell neighborhood on the store side, cell equi-join
    cell = lambda col: F.floor(col).cast("int")  # noqa: E731
    s_cells = stores.select(
        F.col("c_custkey").alias("store_id"),
        F.col("lat").alias("slat"),
        F.col("lon").alias("slon"),
        F.explode(
            F.expr(
                "flatten(transform(sequence(-1, 1), dy ->"
                " transform(sequence(-1, 1), dx ->"
                " struct(CAST(floor(lat) + dy AS INT) AS cy,"
                "        CAST(pmod(floor(lon) + dx + 180, 360) - 180 AS INT) AS cx))))"
            )
        ).alias("cell"),
    ).select("store_id", "slat", "slon", F.col("cell.cy").alias("cy"), F.col("cell.cx").alias("cx"))
    u_cells = pts.select(
        F.col("c_custkey").alias("user_id"),
        F.col("lat").alias("ulat"),
        F.col("lon").alias("ulon"),
        cell(F.col("lat")).alias("cy"),
        cell(F.col("lon")).alias("cx"),
    )
    within = (
        s_cells.join(u_cells, ["cy", "cx"])
        .filter(F.col("user_id") != F.col("store_id"))
        .select(
            "store_id",
            hav(F.col("slat"), F.col("slon"), F.col("ulat"), F.col("ulon")).alias("d_km"),
        )
        .filter(F.col("d_km") <= 50.0)
        .groupBy("store_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_within_50km"))
    )
    # global-argmin track: tiny store table broadcast against all points
    nearest = (
        pts.join(F.broadcast(stores.select(
            F.col("c_custkey").alias("store_id"),
            F.col("lat").alias("slat"),
            F.col("lon").alias("slon"),
        )), F.col("c_custkey") != F.col("store_id"))
        .select(
            "store_id",
            hav(F.col("slat"), F.col("slon"), F.col("lat"), F.col("lon")).alias("d_km"),
        )
        .groupBy("store_id")
        .agg(round4(F.min("d_km")).alias("nearest_km"))
    )
    return (
        nearest.join(within, "store_id", "left")
        .select(
            "store_id",
            F.coalesce(F.col("n_within_50km"), F.lit(0).cast("bigint")).alias("n_within_50km"),
            "nearest_km",
        )
    )
