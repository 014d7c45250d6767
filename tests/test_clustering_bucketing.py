"""segment_dedup reconstruction, k-means clustering, bucketed layout."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from id3c_spark.operators.clustering import kmeans
from id3c_spark.operators.corpus import segment_dedup
from id3c_spark.sources.bucketing import (
    bucketed_join,
    shuffle_count,
    write_bucketed,
)


# ---------------------------------------------------------------------------
# segment_dedup
# ---------------------------------------------------------------------------

SEG_A = "a b c d e"          # window=5 → one segment
SEG_B = "f g h i j"
SEG_C = "k l m n o"


def seg_docs(spark):
    return spark.createDataFrame(
        [
            (1, f"{SEG_A} {SEG_B}"),       # first occurrence of A and B
            (2, f"{SEG_C} {SEG_A}"),       # C new; A repeats → dropped
            (3, f"{SEG_B} {SEG_C}"),       # both repeats → empty doc
            (4, "p q r"),                  # unique partial segment
        ],
        "doc_id long, text string",
    )


def test_segment_dedup_keeps_global_first_and_reconstructs(spark):
    out = {
        r["id"]: r
        for r in segment_dedup(seg_docs(spark), "doc_id", "text", window=5).collect()
    }
    assert out[1]["text_dedup"] == f"{SEG_A} {SEG_B}"
    assert (out[1]["n_segments"], out[1]["n_kept"]) == (2, 2)
    # doc 2 keeps only its novel segment, in original order
    assert out[2]["text_dedup"] == SEG_C
    assert (out[2]["n_segments"], out[2]["n_kept"]) == (2, 1)
    # doc 3 is boilerplate-only → present but empty
    assert out[3]["text_dedup"] == ""
    assert (out[3]["n_segments"], out[3]["n_kept"]) == (2, 0)
    # short unique doc untouched (partial trailing segment)
    assert out[4]["text_dedup"] == "p q r"
    assert (out[4]["n_segments"], out[4]["n_kept"]) == (1, 1)


def test_segment_dedup_first_is_min_id_then_seg(spark):
    # the same segment at a LATER position of a smaller id still wins over
    # an earlier position of a larger id: order is (id, seg) lexicographic
    docs = spark.createDataFrame(
        [(1, f"{SEG_B} {SEG_A}"), (2, f"{SEG_A} {SEG_C}")],
        "doc_id long, text string",
    )
    out = {
        r["id"]: r["text_dedup"]
        for r in segment_dedup(docs, "doc_id", "text", window=5).collect()
    }
    assert out[1] == f"{SEG_B} {SEG_A}"
    assert out[2] == SEG_C


# ---------------------------------------------------------------------------
# kmeans
# ---------------------------------------------------------------------------

def blob_vectors(spark):
    # two well-separated blobs in 4-d
    rows = []
    for i in range(10):
        rows.append((i, [10.0 + 0.01 * i, 10.0, 0.0, 0.0]))
    for i in range(10, 20):
        rows.append((i, [-10.0, -10.0 - 0.01 * i, 0.0, 0.0]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_kmeans_separates_blobs(spark):
    out = kmeans(blob_vectors(spark), k=2, max_iter=3).collect()
    by_blob = {0: set(), 1: set()}
    for r in out:
        by_blob[0 if r["vec_id"] < 10 else 1].add(r["cluster"])
    # each blob maps to exactly one cluster, and the clusters differ
    assert len(by_blob[0]) == 1 and len(by_blob[1]) == 1
    assert by_blob[0] != by_blob[1]
    # converged: distance to own centroid is tiny
    assert max(r["dist"] for r in out) < 0.1


def test_kmeans_deterministic(spark):
    df = blob_vectors(spark)
    a = sorted(map(tuple, kmeans(df, k=3, max_iter=2).collect()))
    b = sorted(map(tuple, kmeans(df, k=3, max_iter=2).collect()))
    assert a == b


def test_kmeans_empty_cluster_keeps_centroid(spark):
    # all points identical → every point lands in the first seed's cluster;
    # the other centroid keeps its (identical) seed and the run still
    # yields a single occupied cluster without error
    df = spark.createDataFrame(
        [(i, [1.0, 2.0]) for i in range(5)],
        "vec_id long, embedding array<float>",
    )
    out = kmeans(df, k=2, max_iter=2).collect()
    assert len(out) == 5
    assert len({r["cluster"] for r in out}) == 1
    assert all(r["dist"] == 0.0 for r in out)


# ---------------------------------------------------------------------------
# bucketed layout
# ---------------------------------------------------------------------------

def test_bucketed_join_is_exchange_free(spark, tmp_path):
    left = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("a")
    )
    right = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("b")
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # un-bucketed baseline: the same join shuffles both sides
        assert shuffle_count(left.join(right, "k")) > 0

        for name, df in [("tb_left", left), ("tb_right", right)]:
            write_bucketed(
                df, name, ["k"], num_buckets=8, path=str(tmp_path / name)
            )
        joined = bucketed_join(spark, "tb_left", "tb_right", ["k"])
        assert joined.count() == 1000
        # co-located buckets: zero shuffle exchanges on either side
        assert shuffle_count(bucketed_join(spark, "tb_left", "tb_right", ["k"])) == 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS tb_left")
        spark.sql("DROP TABLE IF EXISTS tb_right")


def test_write_bucketed_helper_roundtrip(spark, tmp_path):
    df = spark.range(0, 100).select(F.col("id").alias("k"), F.lit(1).alias("v"))
    try:
        write_bucketed(
            df, "tb_helper", ["k"], num_buckets=4, path=str(tmp_path / "tb_helper")
        )
        # aggregation on the bucket key also needs no exchange
        agg = spark.table("tb_helper").groupBy("k").agg(F.sum("v").alias("s"))
        assert agg.count() == 100
        assert shuffle_count(
            spark.table("tb_helper").groupBy("k").agg(F.sum("v").alias("s"))
        ) == 0
    finally:
        spark.sql("DROP TABLE IF EXISTS tb_helper")


# ---------------------------------------------------------------------------
# product quantization
# ---------------------------------------------------------------------------

def pq_vectors(spark):
    # 10 distinct base vectors in 8-d, each duplicated under id+100
    import numpy as np

    rng = [
        [float(((i * 37 + j * 11) % 19) - 9) / 3.0 for j in range(8)]
        for i in range(10)
    ]
    rows = [(i, v) for i, v in enumerate(rng)]
    rows += [(i + 100, v) for i, v in enumerate(rng)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_pq_train_shapes_and_determinism(spark):
    from id3c_spark.operators.pq import pq_train

    df = pq_vectors(spark)
    a = pq_train(df, m=4, k=4, max_iter=2)
    b = pq_train(df, m=4, k=4, max_iter=2)
    assert a.shape == (4, 4, 2)
    assert (a == b).all()


def test_pq_identical_vectors_share_codes_and_rank_first(spark):
    from id3c_spark.operators.pq import pq_encode, pq_topk, pq_train

    df = pq_vectors(spark)
    books = pq_train(df, m=4, k=8, max_iter=2)
    codes = {r["id"]: tuple(r["codes"]) for r in pq_encode(df, books).collect()}
    for i in range(10):
        assert codes[i] == codes[i + 100]          # same vector → same codes
        assert len(codes[i]) == 4
    top1 = {
        r["query_id"]: r
        for r in pq_topk(df, df, books, k=1).collect()
    }
    for i in range(10):
        # ADC scores a query against the candidate's CENTROIDS, so the
        # distance to an identical duplicate is the query's own
        # quantization error — the minimum any candidate can achieve —
        # making the duplicate rank 1, with the same dist in both
        # directions (shared codes → shared lookup entries)
        assert top1[i]["neighbor_id"] == i + 100
        assert top1[i + 100]["neighbor_id"] == i
        assert top1[i]["dist"] == top1[i + 100]["dist"]


def test_ivfpq_with_full_probe_matches_pq(spark):
    # nprobe = nlist → every query scores the whole corpus → IVFPQ must
    # reproduce plain PQ ADC top-k exactly (same codes, same LUT, same
    # tiebreaks); with fewer probes results stay a subset of the corpus
    from id3c_spark.operators.pq import ivfpq_topk, pq_topk, pq_train

    df = pq_vectors(spark)
    books = pq_train(df, m=4, k=8, max_iter=2)
    full = sorted(
        map(tuple, ivfpq_topk(df, df, books, k=3, nlist=4, nprobe=4).collect())
    )
    flat = sorted(map(tuple, pq_topk(df, df, books, k=3).collect()))
    assert full == flat
    probed = ivfpq_topk(df, df, books, k=3, nlist=4, nprobe=1).collect()
    assert 0 < len(probed) <= len(flat)


# ---------------------------------------------------------------------------
# skew mitigation + range-clustered layout
# ---------------------------------------------------------------------------

def test_salted_join_and_count_equal_unsalted(spark):
    from id3c_spark.operators.skew import salted_count, salted_join

    # one pathologically hot key (900 of 1000 rows) + a long tail
    skewed = spark.range(0, 1000).select(
        F.when(F.col("id") < 900, F.lit(7)).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("payload"),
    )
    dim = spark.createDataFrame(
        [(7, "hot"), (950, "cold"), (999, "cold2")], "k long, label string"
    )
    plain = sorted(map(tuple, skewed.join(dim, "k").collect()))
    salted = sorted(map(tuple, salted_join(skewed, dim, "k", salts=4).collect()))
    assert salted == plain
    left_plain = sorted(map(tuple, skewed.join(dim, "k", "left").collect()))
    left_salted = sorted(
        map(tuple, salted_join(skewed, dim, "k", salts=4, how="left").collect())
    )
    assert left_salted == left_plain

    counts = {r["k"]: r["count"] for r in salted_count(skewed, "k").collect()}
    assert counts[7] == 900 and len(counts) == 101


def _file_column_ranges(path: str, column: str) -> list[tuple]:
    """Per-file footer (min, max) of *column* — the evidence that a
    layout actually clusters."""
    import glob

    from id3c_spark.sources.store import footer_range

    ranges = [footer_range(f, column) for f in sorted(glob.glob(f"{path}/*.parquet"))]
    return [r for r in ranges if r is not None]


def test_range_clustered_files_are_disjoint(spark, tmp_path):
    from id3c_spark.sources.store import clustered

    df = spark.range(0, 10000).select(
        F.col("id").alias("ts"), (F.col("id") % 97).alias("v")
    )
    out = str(tmp_path / "clustered")
    clustered(df, ["ts"], partitions=8).write.parquet(out)
    ranges = sorted(_file_column_ranges(out, "ts"))
    assert len(ranges) >= 4
    # pairwise disjoint: each file owns a slice of the ts domain, so a
    # ts-range predicate skips every other file via footer stats
    for (lo1, hi1), (lo2, _) in zip(ranges, ranges[1:]):
        assert hi1 < lo2, ranges

    # contrast: a hash-shuffled write spreads the full domain into every
    # file — no stats-based skipping possible
    plain = str(tmp_path / "plain")
    df.repartition(8).write.parquet(plain)
    pranges = _file_column_ranges(plain, "ts")
    overlapping = sum(
        1 for (lo1, hi1) in pranges for (lo2, hi2) in pranges
        if (lo1, hi1) != (lo2, hi2) and lo1 <= hi2 and lo2 <= hi1
    )
    assert overlapping > 0


def test_zordered_files_have_narrow_spans_on_both_columns(spark, tmp_path):
    from id3c_spark.sources.store import clustered

    # two independent uniform dimensions — hash layout gives every file
    # the full domain on both; z-order confines each file to a small
    # hyper-rectangle
    df = spark.range(0, 16384).select(
        (F.col("id") % 128).alias("x"),
        ((F.col("id") * 2654435761) % 128).alias("y"),
    )
    zpath = str(tmp_path / "zordered")
    clustered(df, zorder_by=["x", "y"], partitions=16).write.parquet(zpath)

    def avg_span(path, col):
        rng = _file_column_ranges(path, col)
        return sum(hi - lo for lo, hi in rng) / len(rng)

    plain = str(tmp_path / "plain")
    df.repartition(16).write.parquet(plain)
    # both dimensions individually skippable: file spans well under the
    # 0..127 domain that every hash-layout file covers
    for col in ("x", "y"):
        assert avg_span(plain, col) > 100
        assert avg_span(zpath, col) < 70, (col, avg_span(zpath, col))


def test_zorder_key_constant_column_degenerates_gracefully(spark):
    from id3c_spark.sources.store import zorder_key_expr

    df = spark.range(0, 100).select(F.col("id").alias("a"), F.lit(7).alias("b"))
    keys = df.select(zorder_key_expr(df, ["a", "b"], bits=8).alias("z")).distinct().count()
    assert keys > 50  # the varying column still spreads the key space


def test_ivf_trained_pretrained_coarse_matches_in_call_training(spark):
    """Injecting a pretrained coarse model (train-once/serve-many) gives
    the same results as training inside the call."""
    from id3c_spark.operators.ann import ivf_trained_topk
    from id3c_spark.operators.pq import _normalized, _prep, pq_train

    df = pq_vectors(spark)
    vn = _normalized(_prep(df, "vec_id", "embedding"))
    model = pq_train(vn, "id", "v", m=1, k=4, max_iter=2)
    served = ivf_trained_topk(df, df, k=3, nlist=4, nprobe=2, coarse=model)
    trained = ivf_trained_topk(df, df, k=3, nlist=4, nprobe=2)
    assert sorted(map(tuple, served.collect())) == sorted(
        map(tuple, trained.collect())
    )
