"""Generate the committed digest snapshot (digest_snapshot.py).

Membership policy (VERDICT r4 "Next round" #2): digests certify the ops
with NO driver-green history as of generation time — the evidence gap —
so each family digest is one driver row that hash-checks ~40 previously
unverified operators end to end. Excluded by design:

- rows-only ops (no oracle: nothing to compose),
- ops whose canonical output schema contains a kind the fingerprint
  cannot render portably (none today; the generator hard-fails so a new
  one can't slip in silently).

``stream_*`` ops get their own ``digest_stream`` family with a DIFFERENT
membership rule (VERDICT r5 missing #1): ALL registered streaming ops,
including driver-green ones — streaming emission is environment-
sensitive (micro-batch splits), so the family re-earns value
certification every round rather than relying on a past green under a
possibly different batching. It is the slowest digest (each member runs
a real streaming query, ~60–90 s total at sf0.01) — an accepted
evidence-only cost, cf. digest_graph.

For every member the script records the canonical output columns sorted
by name with their digest kinds — the shared render order — then chunks
each family into ≤MAX_FAMILY members and writes
``datapipelines_python_spark/digest_snapshot.py``.

Run AFTER any registry change, then re-verify with
``scripts/check_oracle.py --only digest_...``; tests/test_digests.py
pins snapshot ↔ live-registry agreement.

Usage: python scripts/gen_digest_snapshot.py [--sf /root/testdata/sf0.001]
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from datapipelines_python_spark import get_registry, get_spark
from datapipelines_python_spark.digest import kind_of
from scripts.audit_plans import walk

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(REPO, "datapipelines_python_spark", "digest_snapshot.py")
# Round 8 (VERDICT r7 "Next round" #2): coarser pools + bigger chunks
# compress the digest lane from 17 driver slots to ~8, freeing 9 slots
# for individual rotation (+27% per-round throughput on the long tail).
# A digest is a union of single-row member fingerprints, so chunk size
# changes slot count only — per-member work and certification strength
# are identical.
MAX_FAMILY = 70

# prefix -> pool; anything absent pools into 'fx' with the scalar/misc ops
_POOL = {
    "llm": "llm", "mm": "llm",
    "workload": "wl", "tpch": "wl",
    "ml": "ml",
    "fn": "fx", "graph": "fx", "sql": "fx",
}


def driver_green_names(rows_only: set[str]) -> set[str]:
    green: set[str] = set()
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        with open(path) as f:
            data = json.load(f)
        for name, row in data.items():
            if not isinstance(row, dict):
                continue
            ok = bool(row.get("rows_match")) and bool(row.get("schema_match"))
            if name not in rows_only:
                ok = ok and bool(row.get("hash_match"))
            if ok:
                green.add(name)
    return green


def family_of(name: str) -> str:
    p = name.split("_")[0]
    if p == "stream":
        return "stream"
    return _POOL.get(p, "fx")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    args = ap.parse_args()

    reg = get_registry()
    rows_only = {n for n, s in reg.items() if s.oracle is None}
    green = driver_green_names(rows_only)

    members = [
        n
        for n, s in reg.items()
        if s.oracle is not None
        and not n.startswith(("digest_", "stream_"))
        and n not in green
    ]
    # stream family: ALL streaming ops, green or not (emission is
    # micro-batch-split-sensitive; re-certify values every round).
    # stream_transform_with_state is protobuf-gated: only registered where
    # the package exists, so it is naturally absent from membership when
    # generated in this container — and must stay out even if present,
    # or the pinned snapshot would crash environments without protobuf.
    members += [
        n
        for n, s in reg.items()
        if n.startswith("stream_")
        and s.oracle is not None
        and n != "stream_transform_with_state"
    ]
    members.sort()
    print(f"{len(members)} exact-oracle ops to digest")

    res = walk(get_spark("digest-snapshot"), args.sf, set(members))
    if res["errors"]:
        raise SystemExit(f"members failed to build: {res['errors']}")
    cols: dict[str, tuple] = {}
    unsupported: dict[str, str] = {}
    for name in members:
        try:
            cols[name] = tuple(sorted(
                (f.name, kind_of(f.dataType))
                for f in res["ops"][name]["schema"].fields
            ))
        except TypeError as e:
            unsupported[name] = str(e)
    if unsupported:
        for n, msg in unsupported.items():
            print(f"UNSUPPORTED {n}: {msg}", file=sys.stderr)
        raise SystemExit(f"{len(unsupported)} ops with undigestable schemas")

    fams: dict[str, list[str]] = defaultdict(list)
    for n in members:
        fams[family_of(n)].append(n)

    families: dict[str, tuple] = {}
    for fam in sorted(fams):
        ms = sorted(fams[fam])
        if len(ms) <= MAX_FAMILY:
            families[fam] = tuple(ms)
        else:
            n_chunks = -(-len(ms) // MAX_FAMILY)
            size = -(-len(ms) // n_chunks)
            for i in range(n_chunks):
                families[f"{fam}_{i + 1}"] = tuple(ms[i * size:(i + 1) * size])

    with open(OUT, "w") as f:
        f.write('"""GENERATED by scripts/gen_digest_snapshot.py — do not edit.\n\n')
        f.write("Digest family membership + per-op canonical output columns\n")
        f.write("(sorted by name) with their cross-engine render kinds.\n")
        f.write('Pinned by tests/test_digests.py.\n"""\n\n')
        f.write("DIGEST_FAMILIES = {\n")
        for fam, ms in families.items():
            f.write(f"    {fam!r}: (\n")
            for m in ms:
                f.write(f"        {m!r},\n")
            f.write("    ),\n")
        f.write("}\n\nDIGEST_COLS = {\n")
        for n in members:
            f.write(f"    {n!r}: {cols[n]!r},\n")
        f.write("}\n")
    total = sum(len(v) for v in families.values())
    print(
        f"wrote {OUT}: {len(families)} digests over {total} ops "
        f"(max family {max(len(v) for v in families.values())})"
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
