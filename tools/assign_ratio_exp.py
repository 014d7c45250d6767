"""Round-12 experiment: pick the ADAPTIVE multi-assign cutoff tau
(plans/ann_index.build_index assign_ratio) that keeps the r11 recall
win (reranked recall@5 >= 0.97 at nprobe=6) while shedding the
interior-vector duplicate rows whose scan cost pushed the served
medians past the <=1.2x-of-r10 budget.

For each tau: build assign_n=2/ratio=tau, report codes fan-out
(rows / corpus), reranked recall@5 (all + near-dup), and served
wall-clock (2 reps — rep1 is the warm number; build excluded).

Usage: python tools/assign_ratio_exp.py [sf_dir] [tau ...]
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from id3c_spark.session import get_spark
from tools.ann_recall import recall, topk_sets


def main() -> int:
    args = sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    taus = [float(a) for a in args[1:]] or [1.5, 2.0, 3.0]
    k = 5

    from id3c_spark.operators import ann
    from id3c_spark.plans.ann_index import _tables, build_index, serve_topk

    spark = get_spark("assign_ratio_exp")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n = emb.count()
    exact_rows = ann.cosine_topk(emb, emb, k=k).collect()
    exact = topk_sets(exact_rows)
    strong = {
        r["query_id"]: r["neighbor_id"]
        for r in exact_rows
        if r["rank"] == 1 and r["sim"] >= 0.35
    }
    spark.catalog.clearCache()

    def near_dup(approx):
        return sum(
            1 for q, nb in strong.items() if nb in approx.get(q, set())
        ) / max(1, len(strong))

    root = tempfile.mkdtemp(prefix="assign_ratio_exp_")
    try:
        for tau in [None] + taus:
            path = f"{root}/t{tau}"
            build_index(
                emb, path, nlist=8, m=16, kcent=256, train_iter=2,
                assign_n=2, assign_ratio=tau,
            )
            rows = _tables(spark, path)["codes"].read().count()
            secs = []
            for _ in range(2):
                t0 = time.perf_counter()
                out = serve_topk(
                    spark, path, emb, k=k, nprobe=6, rerank_shortlist=4 * k
                ).collect()
                secs.append(round(time.perf_counter() - t0, 2))
                spark.catalog.clearCache()
            approx = topk_sets(out)
            print(json.dumps({
                "tau": tau,
                "fanout": round(rows / n, 3),
                "recall_all": round(recall(approx, exact, k), 3),
                "recall_neardup": round(near_dup(approx), 3),
                "serve_sec": secs,
            }), flush=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
