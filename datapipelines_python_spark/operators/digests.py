"""Family-digest operators: one driver-checkable row per sibling operator.

Each ``digest_<family>`` op runs every member operator's registered Spark
plan, reduces each result to an order-invariant ``(op_name, n_rows, fp)``
fingerprint row (see :mod:`datapipelines_python_spark.digest`), and unions
the rows; its DuckDB oracle composes the members' registered oracle SQL
through the identical fingerprint rendering. A green driver row for a
digest therefore hash-certifies the VALUES of all ~40 member operators at
once — the evidence-compression the 50-name driver slice needs to cover a
617-op registry (VERDICT r4 "Next round" #2).

Membership and per-op render columns are pinned in the committed
``digest_snapshot`` (generated by ``scripts/gen_digest_snapshot.py``);
this module must stay LAST in ``registry._OPERATOR_MODULES`` so every
member is registered before the digests compose them.

A digest runs down one path: every member builds and collects its 1-row
fingerprint on its own ``session.clone_session`` of the caller (same
SparkContext, cached data, staged fixtures, runtime confs and stream
listeners; its own SQL conf and temp views, so members cannot race each
other or the caller), from one ``ThreadPoolExecutor``. ``threads=1`` is
the sequential mode. The rows are assembled on the calling session,
value-identical to a union of the member fingerprints (same plans, same
rendering). A stream family passes its micro-batch split to each clone
as a session conf.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from datapipelines_python_spark.digest import oracle_member_sql, spark_fingerprint
from datapipelines_python_spark.digest_snapshot import DIGEST_COLS, DIGEST_FAMILIES
from datapipelines_python_spark.registry import _REGISTRY, query
from datapipelines_python_spark.session import clone_session, tune_session

# Micro-batch count for digest_stream member execution (VERDICT r7 #4:
# the digest was 130 s of every sf0.1 profile, most of it per-micro-batch
# state-store commit overhead × 19 members × 4 batches). Member VALUES are
# split-invariant by construction (ts-ordered staging, see
# streaming/ops.events_stream) and that axis is pinned independently at
# N ∈ {1,2,8} by tests/test_stream_split_invariance.py — so the digest
# certifies values at N=2, which still exercises real multi-batch
# execution at roughly half the batch overhead. Identical fingerprints at
# any N is precisely the property the invariance suite proves.
STREAM_DIGEST_SPLIT = 2

# Pool widths (VERDICT r8 #4: the digest lane was 572 s of the 1831 s
# full-registry sf1 profile — pure evidence machinery). Overlapping the
# ~0.4 s/member driver-side plan analysis with the member jobs took
# digest_fx from 44 s to ~13 s at sf0.1. Stream members each drain a
# multi-batch streaming query with its own state-store tasks, so 6 in
# flight keep the cores fed without stacking dozens of concurrent
# micro-batch stages.
BATCH_THREADS = 12
STREAM_THREADS = 6

_DIGEST_SCHEMA = T.StructType(
    [
        T.StructField("op_name", T.StringType(), False),
        T.StructField("n_rows", T.LongType(), False),
        T.StructField("fp", T.StringType(), False),
    ]
)


def _make_digest(
    members: tuple[str, ...], split: int | None = None, threads: int = BATCH_THREADS
):
    specs = []
    for m in members:
        spec = _REGISTRY.get(m)
        if spec is None or spec.oracle is None:
            raise RuntimeError(
                f"digest member {m!r} missing from registry or lost its oracle — "
                "regenerate via scripts/gen_digest_snapshot.py"
            )
        specs.append(spec)

    def digest_fn(spark: SparkSession, sf: str) -> DataFrame:
        from datapipelines_python_spark.streaming import ops as _sops

        confs = {} if split is None else {_sops.STREAM_FILES_CONF: str(split)}

        def one(spec):
            member = tune_session(clone_session(spark, confs))
            fp = spark_fingerprint(spec.fn(member, sf), spec.name, DIGEST_COLS[spec.name])
            return fp.collect()[0]

        try:
            if split is not None:
                # stage the shared ts-ordered events copy once, before
                # threads could race its write
                _sops.events_stream(clone_session(spark, confs), sf)
            with ThreadPoolExecutor(max_workers=threads) as ex:
                rows = list(ex.map(one, specs))
        finally:
            if split is not None:
                # StateStore.stop() is JVM-global: sweep the drained
                # members' providers once at the end, never mid-flight
                _sops.unload_state_stores(spark)
        return spark.createDataFrame(rows, _DIGEST_SCHEMA)

    oracle = "\nUNION ALL\n".join(
        oracle_member_sql(spec.name, spec.oracle, DIGEST_COLS[spec.name])
        for spec in specs
    )
    return digest_fn, oracle


for _fam, _members in DIGEST_FAMILIES.items():
    if _fam == "stream":
        _fn, _oracle = _make_digest(_members, STREAM_DIGEST_SPLIT, STREAM_THREADS)
    else:
        _fn, _oracle = _make_digest(_members)
    _fn.__name__ = f"digest_{_fam}"
    _fn.__doc__ = (
        f"Family digest over {len(_members)} operators: "
        + ", ".join(_members[:6])
        + ("..." if len(_members) > 6 else "")
    )
    query(f"digest_{_fam}", oracle=_oracle, tags=("digest",))(_fn)
