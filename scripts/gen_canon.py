"""Regenerate datapipelines_python_spark/canon_snapshot.py.

Reads every operator's RAW (pre-canonicalization) schema from the
registry walk (scripts/audit_plans.walk) at sf0.001, collects top-level
DECIMAL output columns, and rewrites the snapshot module. Run after
adding/changing any operator that emits those types;
tests/test_schema_safety.py fails if the committed snapshot drifts from
live schemas.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from datapipelines_python_spark import get_spark
from datapipelines_python_spark.canon import risky_cols
from scripts.audit_plans import walk

HEADER = '''"""GENERATED by scripts/gen_canon.py — do not edit by hand.

Per-operator map of top-level DATE/DECIMAL output columns of the RAW
(pre-canonicalization) Spark plan. Used by registry.query() to wrap the
DuckDB oracle with matching casts; pinned by tests/test_schema_safety.py.
"""

CANON_COLS: dict[str, dict[str, str]] = '''


def compute(sf: str = "/root/testdata/sf0.001") -> dict[str, dict[str, str]]:
    res = walk(get_spark(), sf)
    if res["errors"]:
        raise SystemExit(f"operators failed to build: {res['errors']}")
    return {
        name: cols
        for name, rec in sorted(res["ops"].items())
        if (cols := risky_cols(rec["raw_schema"]))
    }


def main() -> None:
    snap = compute()
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "datapipelines_python_spark",
        "canon_snapshot.py",
    )
    with open(path, "w") as f:
        f.write(HEADER + json.dumps(snap, indent=4) + "\n")
    print(f"wrote {path}: {len(snap)} ops")


if __name__ == "__main__":
    main()
