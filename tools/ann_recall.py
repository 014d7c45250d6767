"""Committed ANN quality artifact: recall@k of every approximate index
against the exact blocked-GEMM baseline on the same embeddings, with
wall-clock per variant — the evidence that each rung of the ANN ladder
(LSH → IVF → PQ → IVFPQ) trades recall for cost deliberately, not
accidentally.

Recall@k here = |approx top-k ∩ exact top-k| / k averaged over queries
(PQ variants rank by ADC distance, the exact baseline by cosine; the
overlap measures how much the compression/probing loses).

Usage: python tools/ann_recall.py [OUT.md] [sf_dir] [k]
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from id3c_spark.session import get_spark


def topk_sets(rows) -> dict:
    out: dict = {}
    for r in rows:
        out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    return out


def recall(approx: dict, exact: dict, k: int) -> float:
    qs = set(exact)
    hit = sum(len(approx.get(q, set()) & exact[q]) for q in qs)
    return hit / (k * len(qs))


def main() -> int:
    args = sys.argv[1:]
    out_path = args[0] if args else "ANN_RECALL.md"
    sf_dir = args[1] if len(args) > 1 else "/root/testdata/sf0.01"
    k = int(args[2]) if len(args) > 2 else 5

    from id3c_spark.operators import ann, pq
    from id3c_spark.operators.pq import ivfpq_topk, pq_topk, pq_train

    spark = get_spark("ann_recall")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n = emb.count()

    def run(name, fn):
        t0 = time.perf_counter()
        rows = fn().collect()
        sec = time.perf_counter() - t0
        spark.catalog.clearCache()
        return name, rows, round(sec, 2)

    _, exact_rows, exact_sec = run("exact", lambda: ann.cosine_topk(emb, emb, k=k))
    exact = topk_sets(exact_rows)
    # the pipeline-relevant subset: queries with a genuinely close
    # neighbor (the planted near-duplicates semantic dedup exists to
    # find); random-point neighbors have tiny margins and depress recall
    # for every ANN method, so report both
    strong = {
        r["query_id"]: r["neighbor_id"]
        for r in exact_rows
        if r["rank"] == 1 and r["sim"] >= 0.35
    }
    books = pq_train(emb, m=8, k=16, max_iter=2)
    variants = [
        ("int8 quantized corpus, exact GEMM (¼ index bytes)",
         lambda: ann.cosine_topk(
             emb, ann.dequantize_int8(ann.quantize_int8(emb)), k=k)),
        ("lsh (16 planes, 4 bands)",
         lambda: ann.lsh_bucketed_topk(emb, emb, 64, k=k)),
        ("lsh tuned (16 planes, 8 bands)",
         lambda: ann.lsh_bucketed_topk(emb, emb, 64, k=k, bands=8)),
        ("lsh multiprobe (4 bands, 2 probes)",
         lambda: ann.lsh_bucketed_topk(emb, emb, 64, k=k, bands=4, multiprobe=2)),
        ("ivf (nlist=16, nprobe=2)",
         lambda: ann.ivf_topk(emb, emb, k=k, nlist=16, nprobe=2)),
        ("ivf tuned (nlist=16, nprobe=6)",
         lambda: ann.ivf_topk(emb, emb, k=k, nlist=16, nprobe=6)),
        ("ivf trained coarse (nlist=16, nprobe=6)",
         lambda: ann.ivf_trained_topk(emb, emb, k=k, nlist=16, nprobe=6)),
        ("pq + exact rerank (shortlist 4k)",
         lambda: ann.exact_rerank(
             emb, emb, pq.pq_topk(emb, emb, books, k=4 * k), k=k)),
        ("pq (m=8, k*=16, ADC)",
         lambda: pq_topk(emb, emb, books, k=k)),
        ("ivfpq raw codes (r6 shape, nprobe=6)",
         lambda: ivfpq_topk(emb, emb, books, k=k, nlist=16, nprobe=6)),
        ("ivfpq residual m=32 (trained coarse, nprobe=2)",
         lambda: ivfpq_topk(emb, emb, k=k, nlist=16, nprobe=2, m=32)),
        ("ivfpq residual m=32 (trained coarse, nprobe=6)",
         lambda: ivfpq_topk(emb, emb, k=k, nlist=16, nprobe=6, m=32)),
        ("ivfpq residual + exact rerank (shortlist 4k, nprobe=6)",
         lambda: ann.exact_rerank(
             emb, emb,
             ivfpq_topk(emb, emb, k=4 * k, nlist=16, nprobe=6, m=32), k=k)),
        # r10 serving config: 8-bit codebooks at the same code bytes
        # (m=16, k*=256) + nlist=8 — the persisted-index default
        ("ivfpq r10 config m=16 k*=256 (nlist=8, nprobe=6, ADC only)",
         lambda: ivfpq_topk(
             emb, emb, k=k, nlist=8, nprobe=6, m=16, kcent=256)),
        ("ivfpq r10 + exact rerank (shortlist 4k, nprobe=6) [catalog]",
         lambda: ann.exact_rerank(
             emb, emb,
             ivfpq_topk(emb, emb, k=4 * k, nlist=8, nprobe=6, m=16,
                        kcent=256), k=k)),
    ]
    results = [run(name, fn) for name, fn in variants]

    # ------------------------------------------------------------------
    # Drifted-ingest rebuild policy: build the PERSISTED index on the
    # e[0]-lower half of the corpus, ingest the upper half encode-only
    # (add_to_index never retrains — the ingested half lives outside the
    # trained distribution), measure served recall + the drift report's
    # verdict, then rebuild over the full corpus and measure again.
    # ------------------------------------------------------------------
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from id3c_spark.plans.ann_index import (
        add_to_index, build_index, index_drift_report, serve_topk,
    )

    # ------------------------------------------------------------------
    # r11 multi-assign serving configs (persisted index): corpus-side
    # top-2 assignment lifts the coarse probe ceiling itself — measured
    # against single-assign at the same nprobe, and at the reduced
    # nprobe=4 that matches the old nprobe=6 recall for less scan.
    # Build time is excluded (build-once/serve-many); timings are the
    # SERVE+rerank path, directly comparable to the catalog queries.
    # ------------------------------------------------------------------
    ma_dir = tempfile.mkdtemp(prefix="ann_recall_ma_")
    try:
        p_a1 = f"{ma_dir}/a1"
        p_a2 = f"{ma_dir}/a2"
        p_ad = f"{ma_dir}/ad"
        build_index(emb, p_a1, nlist=8, m=16, kcent=256, train_iter=2,
                    assign_n=1)
        build_index(emb, p_a2, nlist=8, m=16, kcent=256, train_iter=2,
                    assign_n=2)
        # adaptive cutoff (r12): secondary assignment only while
        # d2 <= 1.04 x d1 — on clustered corpora this sheds interior
        # vectors' duplicate rows; on THIS quasi-uniform synthetic corpus
        # the d2/d1 margins are tiny (p50 = 1.037), so the row documents
        # the measured recall/fan-out frontier rather than a free win
        build_index(emb, p_ad, nlist=8, m=16, kcent=256, train_iter=2,
                    assign_n=2, assign_ratio=1.04)
        for label, path_i, nprobe in (
            ("served assign_n=1 + rerank (nprobe=6) [r10 catalog]", p_a1, 6),
            ("served assign_n=2 + rerank (nprobe=4)", p_a2, 4),
            ("served assign_n=2 + rerank (nprobe=6) [r11 catalog]", p_a2, 6),
            ("served assign_n=2 adaptive ratio=1.04 + rerank (nprobe=6)",
             p_ad, 6),
        ):
            results.append(run(
                label,
                lambda p=path_i, np_=nprobe: serve_topk(
                    spark, p, emb, k=k, nprobe=np_, rerank_shortlist=4 * k
                ),
            ))
    finally:
        shutil.rmtree(ma_dir, ignore_errors=True)

    # split on the first embedding component (a genuine distribution
    # shift for the quantizer, unlike an iid id split)
    e0 = emb.withColumn("__e0", F.expr("embedding[0]"))
    cut = e0.approxQuantile("__e0", [0.5], 0.0)[0]
    lower = e0.filter(F.col("__e0") <= cut).drop("__e0")
    upper = e0.filter(F.col("__e0") > cut).drop("__e0")
    idx_dir = tempfile.mkdtemp(prefix="ann_recall_idx_")
    drift_rows = []
    # two configs: the r10 default, and the r12 adaptive multi-assign —
    # the drift → report → rebuild loop must hold (and the assign_ratio
    # must survive the rebuild) at BOTH (r12 verdict task #7)
    configs = (
        ("", dict()),
        (" [adaptive n=2 ratio=1.04]", dict(assign_n=2, assign_ratio=1.04)),
    )
    try:
        from id3c_spark.plans.ann_index import _read_assign_meta, _tables

        for tag, extra in configs:
            path = f"{idx_dir}/idx{tag and '_ad'}"
            build_index(lower, path, nlist=8, m=16, kcent=256,
                        train_iter=2, **extra)
            add_to_index(spark, path, upper)
            rep_rows = index_drift_report(spark, path).collect()
            flagged = any(r["rebuild"] for r in rep_rows)
            if not tag:        # footer cites the default config's ratios
                max_occ = max(r["occupancy_ratio"] for r in rep_rows)
                max_res = max(r["resid_ratio"] for r in rep_rows)

            def served(p=path):
                return serve_topk(
                    spark, p, emb, k=k, nprobe=6, rerank_shortlist=4 * k
                )

            name, rows, sec = run(
                f"stale quantizer after drifted ingest{tag}", served)
            approx = topk_sets(rows)
            drift_rows.append((name, approx, sec, flagged))

            # rebuild AT THE STORED PARAMS, the way `id3c ann-rebuild`
            # does: read the meta back and carry it into the new build,
            # then assert the adaptive config survived the round trip
            stored_n, stored_ratio = _read_assign_meta(
                spark, _tables(spark, path))
            shutil.rmtree(path)
            build_index(
                emb, path, nlist=8, m=16, kcent=256, train_iter=2,
                assign_n=stored_n,
                **({"assign_ratio": stored_ratio}
                   if stored_ratio is not None else {}),
            )
            got_n, got_ratio = _read_assign_meta(spark, _tables(spark, path))
            assert (got_n, got_ratio) == (stored_n, stored_ratio), (
                tag, got_n, got_ratio, stored_n, stored_ratio)
            flagged2 = any(
                r["rebuild"]
                for r in index_drift_report(spark, path).collect()
            )
            name, rows, sec = run(
                f"after rebuild over the full corpus{tag}", served)
            drift_rows.append((name, topk_sets(rows), sec, flagged2))
    finally:
        shutil.rmtree(idx_dir, ignore_errors=True)

    with open(out_path, "w") as f:
        f.write(
            f"# ANN recall vs exact cosine top-{k} — "
            f"{n} vectors at {sf_dir}\n\n"
            "Two recalls: overall recall@k over ALL queries (punishing on\n"
            "random-point neighbors, whose margins are tiny), and near-dup\n"
            f"recall — whether the true top-1 of the {len(strong)} queries\n"
            "with an exact-cosine >= 0.35 neighbor (the planted near-dup\n"
            "structure a dedup pipeline must find) appears in the approximate top-k.\n"
            "Wall-clock is local collect time (PQ codebooks train once\n"
            "before timing starts).\n\n"
            f"| variant | recall@{k} (all) | near-dup recall | sec |\n|---|---|---|---|\n"
            f"| exact blocked GEMM (baseline) | 1.000 | 1.000 | {exact_sec} |\n"
        )
        for name, rows, sec in results:
            approx = topk_sets(rows)
            near = (
                sum(strong[q] in approx.get(q, set()) for q in strong)
                / len(strong)
                if strong
                else float("nan")
            )
            f.write(
                f"| {name} | {recall(approx, exact, k):.3f} | {near:.3f} | {sec} |\n"
            )
        f.write(
            "\n## Drifted-ingest rebuild policy (persisted index)\n\n"
            "Index built on the embedding[0]-lower half, upper half added\n"
            "encode-only (add_to_index never retrains); served via\n"
            "serve_topk(nprobe=6, rerank_shortlist=4k). index_drift_report\n"
            "is the documented rebuild trigger.\n\n"
            "| stage | recall@5 (all) | near-dup recall | sec | drift report says rebuild? |\n"
            "|---|---|---|---|---|\n"
        )
        for name, approx, sec, flagged in drift_rows:
            near = (
                sum(strong[q] in approx.get(q, set()) for q in strong)
                / len(strong)
                if strong
                else float("nan")
            )
            f.write(
                f"| {name} | {recall(approx, exact, k):.3f} | {near:.3f} "
                f"| {sec} | {flagged} |\n"
            )
        f.write(
            f"\nMax per-cell ratios after the ingest: occupancy "
            f"{max_occ:.2f} (threshold 4.0), residual {max_res:.2f} "
            f"(threshold 1.3). When the report does NOT flag, recall loss\n"
            f"should be tolerable — compare the two rows above; the\n"
            f"concentrated-ingest case that DOES flag is pinned by\n"
            f"test_index_drift_report_flags_drifted_ingest.\n"
        )
    print(f"wrote {out_path}")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
