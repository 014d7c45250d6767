"""Round-10 experiment: which (nlist, nprobe, m, k*, iters, shortlist)
lifts IVFADC+R reranked recall@5 to >= 0.85 at nprobe <= 6? Measures the
coarse-stage ceiling (ivf_trained recall == probe recall, since its
candidates are exact-reranked) alongside full ivfpq+rerank configs."""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from id3c_spark.session import get_spark
from tools.ann_recall import recall, topk_sets


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    k = 5
    from id3c_spark.operators import ann
    from id3c_spark.operators.pq import ivfpq_topk

    spark = get_spark("recall_exp")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").persist()
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
            1 for q, n in strong.items() if n in approx.get(q, set())
        ) / max(1, len(strong))

    def report(name, fn):
        t0 = time.perf_counter()
        rows = fn().collect()
        sec = time.perf_counter() - t0
        spark.catalog.clearCache()
        a = topk_sets(rows)
        print(
            json.dumps(
                {
                    "cfg": name,
                    "recall": round(recall(a, exact, k), 3),
                    "near_dup": round(near_dup(a), 3),
                    "sec": round(sec, 1),
                }
            ),
            flush=True,
        )

    # coarse-stage ceilings (exact scoring inside probed cells)
    for nlist, nprobe, it in [
        (16, 6, 2), (16, 6, 4), (8, 4, 2), (8, 6, 2), (8, 6, 4), (8, 5, 4),
    ]:
        report(
            f"coarse nlist={nlist} nprobe={nprobe} it={it}",
            lambda nl=nlist, np_=nprobe, i=it: ann.ivf_trained_topk(
                emb, emb, k=k, nlist=nl, nprobe=np_, train_iter=i
            ),
        )

    # full IVFADC+R configs
    def ivfpq_rr(nlist, nprobe, m, kc, it, short):
        sl = ivfpq_topk(
            emb, emb, k=short, nlist=nlist, nprobe=nprobe, m=m, kcent=kc,
            train_iter=it,
        )
        return ann.exact_rerank(emb, emb, sl, k=k)

    for nlist, nprobe, m, kc, it, short in [
        (16, 6, 32, 16, 2, 20),   # current catalog config
        (16, 6, 16, 256, 2, 20),  # k*=256 same code bytes
        (8, 6, 16, 256, 2, 20),
        (8, 6, 16, 256, 4, 20),
        (8, 5, 16, 256, 4, 20),
    ]:
        report(
            f"ivfpq+rr nlist={nlist} nprobe={nprobe} m={m} k*={kc} it={it} short={short}",
            lambda a=nlist, b=nprobe, c=m, d=kc, e=it, f=short: ivfpq_rr(
                a, b, c, d, e, f
            ),
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
