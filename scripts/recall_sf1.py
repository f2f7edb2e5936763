"""Measure LSH recall at sf1 under the adaptive bit count (VERDICT r8 #3).

Round 8 made the sign-LSH bucket width grow with corpus size
(bits = 4 + bit_length((n-1) div 2000)), which provably pins candidate
WORK linear — but recall above the n = 2000 fixture scale was asserted
by LSH theory, not measured: the oracles replay whatever the bucketing
does, so a recall collapse at scale would be invisible to every
correctness gate. This script closes that hole with exact numpy ground
truth at sf1 (n = 20 000, where the single-bucket generator runs 8 sign
bits and each of the 8 bands carries 6 + 4 = 10 bits):

- **ANN recall@5** of the banded-LSH edge table
  (``knn.ANN.top5`` — the top-5 table behind all 13 ``*_ann`` kNN
  consumers) against the exact top-5 cosine neighbors.
- **Dedup pair-recall** of ``llm_dedup_embedding`` (single-bucket sign
  LSH + exact rescore, threshold 0.35) against ALL exact pairs with
  cosine ≥ 0.35.

Ground truth is float64 numpy (blocked matmul — fine for membership /
ranking truth; the bit-exact-vs-oracle concern only applies to values the
engines must agree on, and here we compare SETS of ids). Prints one JSON
line; the measured floors are pinned in tests/test_ann_recall_sf1.py and
recorded in SCALE.md §22.

Usage: python scripts/recall_sf1.py [--sf .localdata/sf1]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def exact_truth(sf_dir: str, topk: int = 5, tau: float = 0.35):
    """Exact top-k neighbor sets per vector and exact tau-pairs, float64."""
    tbl = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"),
                        columns=["vec_id", "embedding"])
    ids = np.asarray(tbl["vec_id"])
    X = np.asarray(tbl["embedding"].to_pylist(), dtype=np.float64)
    n = X.shape[0]
    norms = np.sqrt((X * X).sum(axis=1))
    Xn = X / norms[:, None]
    top = {}
    tau_pairs = set()
    block = 2048
    for s in range(0, n, block):
        e = min(s + block, n)
        sims = Xn[s:e] @ Xn.T  # (b, n) cosines
        for r in range(e - s):
            row = sims[r].copy()
            row[s + r] = -np.inf  # no self
            # top-k by (cos desc, id asc): argsort on (-cos, id)
            idx = np.lexsort((ids, -row))[:topk]
            top[int(ids[s + r])] = {int(ids[j]) for j in idx}
            hits = np.nonzero(row >= tau)[0]
            u = int(ids[s + r])
            for j in hits:
                v = int(ids[j])
                if u < v:
                    tau_pairs.add((u, v))
    return top, tau_pairs


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=".localdata/sf1")
    args = ap.parse_args()

    t0 = time.time()
    truth_top5, truth_pairs = exact_truth(args.sf)
    t_truth = time.time() - t0

    from datapipelines_python_spark.session import get_spark
    from datapipelines_python_spark.operators.knn import ANN
    from datapipelines_python_spark.registry import get_registry

    spark = get_spark(app_name="recall-sf1")
    reg = get_registry()

    t0 = time.time()
    pred = {}
    for row in ANN.top5(spark, args.sf).collect():
        pred.setdefault(row["u"], set()).add(row["v"])
    t_ann = time.time() - t0
    recalls = [
        len(pred.get(u, set()) & tset) / len(tset)
        for u, tset in truth_top5.items()
    ]
    recall_at_5 = float(np.mean(recalls))
    recall_p10 = float(np.percentile(recalls, 10))

    t0 = time.time()
    found = {
        (row["vec_a"], row["vec_b"])
        for row in reg["llm_dedup_embedding"].fn(spark, args.sf).collect()
    }
    t_dedup = time.time() - t0
    extra = found - truth_pairs  # must be empty: op rescans exact cosine
    pair_recall = len(found & truth_pairs) / len(truth_pairs) if truth_pairs else 1.0

    out = {
        "sf": args.sf,
        "n": len(truth_top5),
        "ann_recall_at_5_mean": round(recall_at_5, 4),
        "ann_recall_at_5_p10": round(recall_p10, 4),
        "dedup_true_pairs": len(truth_pairs),
        "dedup_found_pairs": len(found),
        "dedup_pair_recall": round(pair_recall, 4),
        "dedup_false_positives": len(extra),
        "walls_s": {"truth": round(t_truth, 1), "ann": round(t_ann, 1),
                    "dedup": round(t_dedup, 1)},
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
