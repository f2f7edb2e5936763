"""The registry walk, and the registry-wide physical-plan audit built on it.

:func:`walk` is the one registry walk: it builds each non-digest
operator's raw plan once and records its raw schema, canonical schema and
executed-plan counters (a build also runs the operator's eager work:
connector writes, streaming drains). The plan audit below,
``gen_canon.py``, ``gen_digest_snapshot.py`` and the Tier-1
``registry_walk`` fixture all read it. Digests are skipped: their members
are walked as the standalone operators they are.

tests/test_plan_quality.py pins ~60 hand-picked plans; the audit tallies,
for every walked operator, the physical operators that matter at 100 TB:

- `Exchange` count (shuffle budget),
- join strategy mix (BroadcastHash / SortMerge / ShuffledHash),
- `CartesianProduct` and *conditional* BroadcastNestedLoopJoin — the two
  shapes that explode at scale (unconditioned BNLJ-Cross is the
  sanctioned broadcast-scalar assembly pattern and is counted
  separately),
- Python-eval nodes (`BatchEvalPython` row-at-a-time vs Arrow-batched
  `ArrowEvalPython` / `MapInPandas` / `FlatMapGroupsInPandas` …),
- `WholeStageCodegen` span count.

Writes PLAN_AUDIT.json; tests/test_plan_audit.py pins the repo-wide
invariants against the same walk so the artifact can't go stale silently.

Note on checkpointed loops: ``localCheckpoint`` — even with
``eager=False`` — replaces the logical plan with a LogicalRDD scan
immediately (only the materialization job is deferred), so ops like
``graph_kcore`` are audited at their truncated post-checkpoint shape,
matching what executes.

Usage: python scripts/audit_plans.py [--sf SF_DIR] [--only a,b]
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from datapipelines_python_spark import get_registry, get_spark
from datapipelines_python_spark.canon import canonicalize_df
from datapipelines_python_spark.operators.knn import drop_knn_cache

# ops whose *point* is the flagged shape: physical cartesian, and the
# row-at-a-time Python UDF surface (each has Arrow-batched siblings)
CARTESIAN_OK = {"join_cross"}
ROW_PYTHON_OK = {"udf_python_scalar", "sql_scalar_udf"}

_COUNTERS = {
    # every shuffle exchange prints "Exchange <Partitioning>" (hash, range,
    # SinglePartition, RoundRobinPartitioning from repartition(n)/REBALANCE);
    # BroadcastExchange is one word, so \b excludes it
    "exchange": re.compile(r"\bExchange \w+"),
    "bhj": re.compile(r"\bBroadcastHashJoin\b"),
    "smj": re.compile(r"\bSortMergeJoin\b"),
    "shj": re.compile(r"\bShuffledHashJoin\b"),
    "cartesian": re.compile(r"\bCartesianProduct\b"),
    "bnlj_cross": re.compile(r"BroadcastNestedLoopJoin Build(Left|Right), Cross(?!,)"),
    "bnlj_cond": re.compile(
        r"BroadcastNestedLoopJoin Build(?:Left|Right), (?!Cross)\w+|"
        r"BroadcastNestedLoopJoin Build(?:Left|Right), Cross, "
    ),
    "window": re.compile(r"\bWindow(Exec)?\b \["),
    "window_group_limit": re.compile(r"\bWindowGroupLimit\b"),
    "batch_eval_python": re.compile(r"\bBatchEvalPython\b"),
    "arrow_eval_python": re.compile(r"\bArrowEvalPython\b"),
    "pandas_map": re.compile(
        r"\b(MapInPandas|FlatMapGroupsInPandas|FlatMapCoGroupsInPandas|"
        r"AggregateInPandas|WindowInPandas|MapInArrow|PythonMapInArrow)\b"
    ),
    "codegen": re.compile(r"\*\(\d+\)"),
}


def _session_state(spark) -> tuple:
    """The session's conf (a JVM snapshot, compared in one call) and the
    process environment."""
    return spark._jsparkSession.conf().getAll(), dict(os.environ)


def _session_diff(spark, before: tuple, after: tuple) -> dict:
    """``{key: (before, after)}`` for each conf entry, and each ``env:``
    variable, that differs between two :func:`_session_state` calls."""
    if before[0].equals(after[0]) and before[1] == after[1]:
        return {}
    as_java = spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava
    b, a = ({**dict(as_java(conf)), **{f"env:{k}": v for k, v in env.items()}}
            for conf, env in (before, after))
    return {k: (b.get(k), a.get(k)) for k in b.keys() | a.keys() if b.get(k) != a.get(k)}


def walk(spark, sf: str, only=None) -> dict:
    """Build each non-digest operator once; per operator record
    ``{"raw_schema", "schema", "plan", "session_diff"}`` (the canonical
    schema, the executed-plan counters, and what the build changed in the
    caller's conf and environment). Build failures land in ``errors``.
    Each build starts without the shared kNN tables, so its counters do
    not depend on which operators were built before it."""
    reg = {n: s for n, s in get_registry().items() if "digest" not in s.tags}
    if only:
        unknown = set(only) - set(reg)
        if unknown:  # a typo'd --only must not exit 0 on zero ops walked
            raise SystemExit(
                f"unknown (or digest) operator name(s) in --only: {sorted(unknown)}")
    out, errors = {}, {}
    for name, spec in reg.items():
        if only and name not in only:
            continue
        # a built cached table prints its executed plan, and its real size
        # turns the joins above it into broadcasts
        drop_knn_cache()
        before = _session_state(spark)
        try:
            raw = spec.raw_fn(spark, sf)
            df = canonicalize_df(raw)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # streaming writers etc. surface here
            errors[name] = f"{type(e).__name__}: {e}"[:200]
            continue
        counts = {k: len(rx.findall(plan)) for k, rx in _COUNTERS.items()}
        counts["codegen"] = len(set(_COUNTERS["codegen"].findall(plan)))
        out[name] = {"raw_schema": raw.schema, "schema": df.schema, "plan": counts,
                     "session_diff": _session_diff(spark, before, _session_state(spark))}
    return {"sf": sf, "n_ops": len(out), "ops": out, "errors": errors}


def build_summary(ops: dict) -> dict:
    """Registry-wide rollup of the per-op counters. The *_op_names lists
    exist so an auditor can `jq .summary.row_python_op_names` straight to
    the offending ops instead of reverse-engineering which per-op counter
    fed each count (VERDICT r8 #5); tests/test_plan_audit.py asserts each
    count equals the length of its name list, derived from the same ops."""
    return {
        "total_exchanges": sum(c["exchange"] for c in ops.values()),
        "max_exchanges": max(
            ((c["exchange"], n) for n, c in ops.items()), default=(0, "")),
        "join_mix": {
            k: sum(c[k] for c in ops.values()) for k in ("bhj", "smj", "shj")
        },
        "bnlj_cross_scalar_assembly": sum(c["bnlj_cross"] for c in ops.values()),
        "arrow_python_ops": sum(
            1 for c in ops.values() if c["arrow_eval_python"] or c["pandas_map"]),
        "row_python_ops": sum(1 for c in ops.values() if c["batch_eval_python"]),
        "row_python_op_names": sorted(
            n for n, c in ops.items() if c["batch_eval_python"]),
        "arrow_python_op_names": sorted(
            n for n, c in ops.items()
            if c["arrow_eval_python"] or c["pandas_map"]),
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument("--only", default=None)
    ap.add_argument("--out", default=os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "PLAN_AUDIT.json"))
    args = ap.parse_args()

    spark = get_spark(app_name="plan-audit")
    res = walk(spark, args.sf, set(args.only.split(",")) if args.only else None)
    ops = res["ops"] = {n: r["plan"] for n, r in res["ops"].items()}
    bad_cart = [n for n, c in ops.items() if c["cartesian"] and n not in CARTESIAN_OK]
    bad_py = [
        n for n, c in ops.items()
        if c["batch_eval_python"] and n not in ROW_PYTHON_OK
    ]
    res["violations"] = {"cartesian": bad_cart, "row_python": bad_py}
    # Conditional BNLJ is legal ONLY against a bounded broadcast side
    # (scalar-subquery compares, generated calendars, sampled dims, query
    # sets, K·n edge tables). Boundedness isn't statically checkable, so
    # the audit *names* the set and tests/test_plan_audit.py pins it — a
    # new op acquiring a theta-BNLJ fails until reviewed + allowlisted.
    res["theta_bnlj_ops"] = sorted(n for n, c in ops.items() if c["bnlj_cond"])
    res["summary"] = build_summary(ops)
    with open(args.out, "w") as f:
        json.dump(res, f, indent=1, sort_keys=True)
    print(json.dumps({k: res[k] for k in ("n_ops", "violations", "summary")},
                     default=str))
    print(f"wrote {args.out}")
    return 1 if any(res["violations"].values()) else 0


if __name__ == "__main__":
    raise SystemExit(main())
