"""Driver-canonicalizer-safe output schemas, applied centrally.

Round-1 evidence (CORRECTNESS_r01.json + VERDICT.md): the driver compares
Spark vs DuckDB results through a pandas canonicalizer that

- crashes on top-level ARRAY/MAP/STRUCT columns (``TypeError: unhashable
  type: 'list'`` — ``scan_json_nested``),
- hash-mismatches DECIMAL columns (Spark ``toPandas`` → ``object`` of
  ``decimal.Decimal``; DuckDB ``.df()`` → ``float64`` — ``project_cast``),
- is unproven for DATE columns (the sf fixtures carry only TIMESTAMP
  columns, which DO hash clean across 48 green round-1 checks).

Fix prescribed by VERDICT.md "Next round" #1: normalize final output
schemas on BOTH sides. This module does it centrally so no operator can
regress:

- Spark side: :func:`canonicalize_df` casts every top-level DecimalType
  column to double (both engines do correctly-rounded decimal→binary64).
  Applied by the ``@query`` decorator to every registered operator.
  DATE columns are left alone: the round-2 driver probe ``diag_probe_date``
  (CORRECTNESS_r02.json: hash_match=true on a computed DATE column) proved
  the driver's hasher handles DATE cleanly, so the round-2 DATE→string
  casts were dropped in round 3 (VERDICT r2 "Next round" #3).
- Oracle side: :func:`wrap_oracle` wraps the op's DuckDB SQL in
  ``SELECT * REPLACE (CAST(c AS VARCHAR) AS c, ...) FROM (...)`` using the
  committed snapshot in :mod:`canon_snapshot` (op → {col: kind}). The
  snapshot is generated by ``scripts/gen_canon.py`` from the *raw*
  (pre-canonicalization) Spark schemas and pinned by
  ``tests/test_schema_safety.py`` so it cannot drift.

Nested (ARRAY/MAP/STRUCT) outputs are NOT auto-wrapped: cross-engine JSON
text equality is format-sensitive, so those ~16 operators flatten by hand
(``array_join`` / ``to_json`` with matched formatting) in their own final
selects; the schema-safety test enforces that none remain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# kind label used in the snapshot (DATE was retired after diag_probe_date
# proved the driver hashes DATE columns clean — CORRECTNESS_r02.json)
DECIMAL = "decimal"

# The single source of truth for "driver-unsafe" output types, imported by
# tests/test_schema_safety.py: auto-fixable kinds (cast centrally here) vs
# nested kinds (must be flattened by hand in the operator's own final
# select).
AUTO_FIX_TYPES = (T.DecimalType,)
NESTED_TYPES = (T.ArrayType, T.MapType, T.StructType)
FORBIDDEN_TYPES = AUTO_FIX_TYPES + NESTED_TYPES


def risky_cols(schema: T.StructType) -> dict[str, str]:
    """Top-level DECIMAL columns of a schema (the auto-fixable kind)."""
    out: dict[str, str] = {}
    for f in schema.fields:
        if isinstance(f.dataType, T.DecimalType):
            out[f.name] = DECIMAL
    return out


def canonicalize_df(df: DataFrame) -> DataFrame:
    """Cast DECIMAL→double in the final select.

    No-op (returns the same plan object) when the schema is already clean,
    so Catalyst sees an unchanged plan for the ~90% of ops that never
    emitted a risky type.
    """
    bad = risky_cols(df.schema)
    if not bad:
        return df
    cols = []
    for f in df.schema.fields:
        if bad.get(f.name) == DECIMAL:
            cols.append(F.col(f.name).cast("double").alias(f.name))
        else:
            cols.append(F.col(f.name))
    return df.select(*cols)


def _quote(name: str) -> str:
    return '"' + name.replace('"', '""') + '"'


def wrap_oracle(sql: str, cols: dict[str, str]) -> str:
    """Wrap DuckDB oracle SQL so its risky columns match the Spark casts."""
    if not cols:
        return sql
    repls = []
    for name, kind in cols.items():
        if kind != DECIMAL:
            raise ValueError(
                f"canon_snapshot column {name!r} has unknown kind {kind!r}; "
                "only DECIMAL is castable — regenerate via scripts/gen_canon.py "
                "or teach wrap_oracle the new kind explicitly"
            )
        q = _quote(name)
        repls.append(f"CAST({q} AS DOUBLE) AS {q}")
    return f"SELECT * REPLACE ({', '.join(repls)}) FROM (\n{sql}\n) __canon"
