"""Cross-engine numeric determinism helpers.

The driver hashes values from Spark and DuckDB; doubles must match
bit-for-bit (or at a fixed decimal). Engine ``ROUND()`` is NOT portable:
Spark rounds the shortest decimal repr (via BigDecimal.valueOf), DuckDB
rounds the binary value — they disagree on e.g. 17947.60995. Conventions
used by every operator here:

- **Row-wise double math**: emit the raw double. Identical input bits +
  identical IEEE-754 expression ⇒ identical output bits on both engines.
- **Double aggregates (SUM/AVG)**: cast inputs to DECIMAL(38,8) first —
  decimal sums are exact and order-independent (float summation is not
  associative, and Spark's partial-agg order differs run to run) — then
  cast the final result back to DOUBLE. ``dsum`` / ``davg`` below.
- **Unavoidable rounding** (stddev/corr/percentile, where both engines do
  float math internally): ``round4`` = ``floor(x*1e4 + 0.5)/1e4`` — pure
  IEEE ops, so identical given identical/near-identical inputs, unlike
  engine ROUND.

At 100 TB the decimal-sum convention is also the *correct* choice for
money columns: float sums drift with partition count; decimal sums don't.
"""

from __future__ import annotations

import os
from functools import lru_cache

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEC = "decimal(38,8)"


@lru_cache(maxsize=None)
def _scan_meta(sf_dir: str, table: str) -> tuple[int, int | None]:
    """(scan parallelism upper bound, row count) of a fixture table.

    Parquet scan tasks are ROW-GROUP-granular: a task only produces rows
    for row groups whose midpoint falls inside its byte split, so the
    total row-group count across the table's files — not
    ``maxPartitionBytes`` and not the split count — bounds how many tasks
    can do real work. The fixture files ship exactly ONE row group each,
    so every scan-rooted stage runs serially regardless of cores; a
    production layout (many files / ~128 MB row groups) reaches the core
    count on its own. Footer-only reads, cached per (dir, table); any
    non-local or unreadable layout is reported as "already parallel"
    (rows unknown) so :func:`spread` degrades to a no-op rather than
    guessing.
    """
    path = f"{sf_dir.rstrip('/')}/{table}.parquet"
    try:
        if os.path.isdir(path):
            files = [
                os.path.join(path, f)
                for f in os.listdir(path)
                if f.endswith(".parquet")
            ]
        else:
            files = [path]
        if not files:
            return 1 << 30, None
        if len(files) >= 64:  # enough file-level tasks; skip footer reads
            return len(files), None
        import pyarrow.parquet as pq

        groups = rows = 0
        for f in files:
            md = pq.ParquetFile(f).metadata
            groups += md.num_row_groups
            rows += md.num_rows
        return groups, rows
    except Exception:
        return 1 << 30, None


# Work one task should carry, per cost class: rows (or, for the two
# streaming-state classes, bytes of replayed input) that take a task
# tens of milliseconds (guide §2.2 "fewer, larger partitions"). One table
# for every sizing site; to A/B a width, override an entry in-process
# (``PER_TASK["python"] = 1`` pins every Python stage at the core cap).
PER_TASK: dict[str, int] = {
    # dense JVM scan + multi-aggregate (decimal sums, percentiles)
    "agg": 20_000,
    # JVM join / exchange chains (tpch q3-q21, basket mining)
    "join_chain": 75_000,
    # rows through a Python worker: pandas UDFs, Python data sources
    "python": 7_500,
    # rows that each fan out into per-dimension or pairwise work
    # (embedding folds, salted fuzzy blocks, geo and ROUGE pair loops)
    "vector": 64,
    # replayed stream input bytes per JVM state partition
    "jvm_state": 8 << 20,
    # replayed stream input bytes per Python (pandas) state partition
    "python_state": 256 << 10,
}


def task_count(spark, work: int | None, cost: str) -> int:
    """The one partition-count rule: ``ceil(work / PER_TASK[cost])``
    tasks, at least 1 and at most the session's cores. Cores are only
    ever the cap: a small input keeps few tasks on any machine, and a
    large one never waits on fewer tasks than cores. Unknown work
    (``None``: a layout whose footers were not read) takes the cap."""
    cores = spark.sparkContext.defaultParallelism
    if work is None:
        return cores
    return max(1, min(cores, -(-work // PER_TASK[cost])))


def spread(
    df: DataFrame,
    *keys: str | Column,
    sf: str,
    table: str,
    cost: str = "agg",
    weight: float = 1.0,
) -> DataFrame:
    """Hash-redistribute a serial scan across idle cores.

    Guide §2.5 (input skew: "one huge unsplittable file … repartition
    immediately after the read") / §2.6 (idle capacity): when the parquet
    layout cannot feed more than a fraction of the cores (single-row-group
    fixture files ⇒ ONE working scan task), everything upstream of the
    first exchange — projections, decimal casts, explodes, partial
    aggregation — runs serially. One hash repartition on an existing
    high-cardinality key (never round-robin: keyless ``repartition(n)``
    pays the sort-before-repartition pass and re-draws under retry,
    SPARK-38388) converts that stage to several tasks.

    The width is :func:`task_count` of the table's footer rows times
    ``weight`` — the work one table row brings in cost class ``cost``'s
    units: a filter that keeps a fifth of the rows weighs 0.2, a row with
    an eighth of the class's per-row compute weighs 1/8. A flat core
    count anti-scales: an 8-vs-32-core probe showed tpch q9/q21 and
    ml_kmeans_lloyd slower at 32 cores, where near-empty shuffle
    partitions cost more exchange and scheduling overhead than the
    serial stage they replace. It is a no-op when that width does
    not beat the layout's own scan parallelism (measured row groups), so
    a production many-row-group layout that already feeds the cores is
    passed through untouched.

    Apply only AFTER pushed filters/projections (shuffle fewer bytes,
    guide §2.3) and only in operators whose aggregates are
    order-independent (decimal sums, counts, min/max, exact percentiles,
    totally-ordered windows) so results stay bit-identical under any
    partitioning.
    """
    scan_par, rows = _scan_meta(sf, table)
    n = task_count(
        df.sparkSession, None if rows is None else int(rows * weight), cost
    )
    if n <= max(1, scan_par):
        return df
    return df.repartition(n, *keys)


def round4(col: Column) -> Column:
    """Deterministic half-up rounding to 4 decimals (portable vs DuckDB)."""
    return F.floor(col * F.lit(10000.0) + F.lit(0.5)) / F.lit(10000.0)


def sql_round4(expr: str) -> str:
    """DuckDB-side twin of :func:`round4`."""
    return f"FLOOR(({expr}) * 10000.0 + 0.5) / 10000.0"


def dsum(col: Column) -> Column:
    """Order-independent SUM of a double column (exact decimal internally)."""
    return F.sum(col.cast(DEC)).cast("double")


def sql_dsum(expr: str) -> str:
    # VARCHAR round-trip: DuckDB's decimal→double cast double-rounds
    # (int128→double, then /1e8) and can be 1 ulp off Spark's correctly
    # rounded BigDecimal→double; string→double parse is correctly rounded.
    return f"CAST(CAST(SUM(CAST(({expr}) AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE)"


def davg(col: Column) -> Column:
    """Order-independent AVG: exact decimal sum, then one double division."""
    return F.sum(col.cast(DEC)).cast("double") / F.count(col)


def sql_davg(expr: str) -> str:
    return f"{sql_dsum(expr)} / COUNT({expr})"


def md5_coord(key, salt: str, span: int, shift: float) -> Column:
    """Deterministic synthetic coordinate from an integer key: md5 bucket
    scaled into [−shift, span/1000 − shift). Shared by the geo operators
    (``join_geo_bucketed``, ``fn_geohash_encode``) so the point scheme and
    both oracles can never drift apart."""
    h = F.conv(
        F.substring(F.md5(F.concat(key.cast("string"), F.lit(salt))), 1, 8), 16, 10
    ).cast("bigint")
    return (h % span) / 1000.0 - shift


def sql_md5_coord(key_expr: str, salt: str, span: int, shift: float) -> str:
    """DuckDB twin of :func:`md5_coord`."""
    return (
        f"('0x' || SUBSTRING(MD5(CAST({key_expr} AS VARCHAR) || '{salt}'), 1, 8))::BIGINT"
        f" % {span} / 1000.0 - {shift}"
    )
