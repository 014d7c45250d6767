"""Unit tests for round-3 north-star operators: PII scrub, BM25 search,
shared-span substring dedup, semantic (embedding) dedup."""

from __future__ import annotations

import math

import pytest


# ---------------------------------------------------------------------------
# PII
# ---------------------------------------------------------------------------

def test_pii_redaction_and_counts(spark):
    from id3c_spark.operators.pii import pii_findings, scrub_documents

    rows = [
        (1, "mail me at jane.doe+x@example.org or call 206-555-0101 today"),
        (2, "ssn 123-45-6789 ip 10.0.0.1 and again 123-45-6789"),
        (3, "no pii here, just text with numbers 12345 and dots..."),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in scrub_documents(df).collect()}

    assert "<EMAIL>" in out[1].text and "<PHONE>" in out[1].text
    assert "jane" not in out[1].text and "206-555" not in out[1].text
    assert out[1].n_email == 1 and out[1].n_phone == 1 and out[1].n_pii == 2
    assert out[2].text.count("<SSN>") == 2 and "<IPV4>" in out[2].text
    assert out[2].n_ssn == 2 and out[2].n_ipv4 == 1 and out[2].n_pii == 3
    assert out[3].text == rows[2][1] and out[3].n_pii == 0

    finds = pii_findings(df, "doc_id", "text").collect()
    got = {(r.id, r.kind, r.ord, r.match) for r in finds}
    assert (1, "email", 1, "jane.doe+x@example.org") in got
    assert (2, "ssn", 1, "123-45-6789") in got and (2, "ssn", 2, "123-45-6789") in got
    assert not any(r.id == 3 for r in finds)


def test_pii_phone_not_matched_as_ipv4(spark):
    from id3c_spark.operators.pii import scrub_documents

    df = spark.createDataFrame([(1, "call 555.123.4567 now")], "doc_id long, text string")
    r = scrub_documents(df).collect()[0]
    assert r.n_phone == 1 and r.n_ipv4 == 0
    assert "<PHONE>" in r.text


# ---------------------------------------------------------------------------
# BM25
# ---------------------------------------------------------------------------

def _bm25_brute(docs: list[tuple[int, str]], terms: list[str], k1=1.2, b=0.75):
    toks = {i: [w for w in "".join(c if c.isalpha() else " " for c in t.lower()).split()]
            for i, t in docs}
    n = len(docs)
    avgdl = sum(len(v) for v in toks.values()) / max(
        1, sum(1 for v in toks.values() if v)
    )
    # df over docs containing the term
    scores = {}
    for term in set(terms):
        df = sum(1 for v in toks.values() if term in v)
        if df == 0:
            continue
        idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
        for i, v in toks.items():
            tf = v.count(term)
            if not tf:
                continue
            s = idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * len(v) / avgdl))
            scores[i] = scores.get(i, 0.0) + round(s, 8)
    return {i: round(s, 6) for i, s in scores.items()}


def test_bm25_matches_bruteforce(spark):
    from id3c_spark.operators.search import bm25_topk

    docs = [
        (1, "spark join merge join spark"),
        (2, "the quick brown fox"),
        (3, "join the spark cluster; spark spark spark"),
        (4, "merge sort merge sort merge"),
        (5, ""),
    ]
    terms = ["spark", "merge"]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.doc_id: r.score for r in bm25_topk(df, terms, k=10).collect()}
    expect = _bm25_brute(docs, terms)
    assert got == pytest.approx(expect)

    top = bm25_topk(df, terms, k=2).collect()
    ranked = sorted(expect.items(), key=lambda kv: (-kv[1], kv[0]))[:2]
    assert [(r.doc_id, r.rank) for r in top] == [
        (doc, i + 1) for i, (doc, _) in enumerate(ranked)
    ]


def test_bm25_score_on_rounding_half_matches_oracle(spark):
    """Doc 1's exact 8-dp term-score sum is 2.05472750, a 6-dp rounding
    half. The double nearest to it lies just below the half, so the
    catalog's DuckDB oracle rounds it down to 2.054727; the engine must
    round the same double the same way (not half-up on its decimal
    string, which gives 2.054728)."""
    import duckdb
    import pandas as pd

    from id3c_spark.operators.search import bm25_topk
    from id3c_spark.plans.queries import _BM25_TERMS, ORACLES

    docs = [(0, "merge scan spark"), (1, "window join row join join row"), (2, "spark")]
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(docs, columns=["doc_id", "text"]))
    want = {r[0]: r[1] for r in con.sql(ORACLES["bm25_search_docs"]).fetchall()}
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.doc_id: r.score for r in bm25_topk(df, _BM25_TERMS, k=10).collect()}
    assert want[1] == 2.054727
    assert got == want


# ---------------------------------------------------------------------------
# Shared spans
# ---------------------------------------------------------------------------

def test_shared_span_pairs_finds_maximal_span(spark):
    from id3c_spark.operators.spans import shared_span_pairs

    shared = "one two three four five six seven eight nine ten"
    rows = [
        (1, f"alpha beta {shared} gamma delta"),
        (2, f"{shared} omega"),
        (3, "totally different words without any overlap at all here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = shared_span_pairs(df, k=3, min_words=5, max_df=None).collect()
    assert len(out) == 1
    r = out[0]
    # doc1 words: alpha(1) beta(2) one(3) ... ; doc2: one(1) ...
    assert (r.id_a, r.id_b, r.start_a, r.start_b, r.len_words) == (1, 2, 3, 1, 10)


def test_shared_span_pairs_two_disjoint_spans(spark):
    from id3c_spark.operators.spans import shared_span_pairs

    s1 = "red orange yellow green blue"
    s2 = "cat dog bird fish mouse"
    rows = [
        (1, f"{s1} filler words here {s2}"),
        (2, f"{s2} unrelated middle part {s1}"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = shared_span_pairs(df, k=3, min_words=5, max_df=None).collect()
    spans = sorted((r.start_a, r.start_b, r.len_words) for r in out)
    assert spans == [(1, 9, 5), (9, 1, 5)]


def test_shared_span_df_cap_drops_boilerplate(spark):
    from id3c_spark.operators.spans import shared_span_pairs

    boiler = "standard license header text five"
    rows = [(i, f"{boiler} unique{i} content{i} tail{i}") for i in range(1, 7)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    capped = shared_span_pairs(df, k=3, min_words=5, max_df=3).collect()
    assert capped == []
    uncapped = shared_span_pairs(df, k=3, min_words=5, max_df=None).collect()
    assert len(uncapped) == 15  # all C(6,2) pairs share the boilerplate


# ---------------------------------------------------------------------------
# Semantic dedup
# ---------------------------------------------------------------------------

def test_semantic_dedup_keeps_one_per_duplicate_group(spark):
    from id3c_spark.operators.ann import semantic_dedup

    base = [1.0, 0.0, 0.0, 0.0]
    near = [0.999, 0.01, 0.0, 0.0]
    other = [0.0, 1.0, 0.0, 0.0]
    far = [0.0, 0.0, 1.0, 0.0]
    rows = [(1, base), (2, near), (3, other), (4, far)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semantic_dedup(df, threshold=0.99, nlist=2)
    kept = {r.vec_id for r in out.filter("keep").collect()}
    clusters = {r.vec_id: r.cluster for r in out.collect()}
    assert clusters[1] == clusters[2] == 1
    assert kept == {1, 3, 4}

    # auto nlist (ceil(sqrt(4)) = 2 cells) matches the explicit run
    auto = {r.vec_id: r.cluster for r in semantic_dedup(df, threshold=0.99).collect()}
    assert auto == clusters

    # skew guard: forcing every cell into 1-row sub-blocks exercises the
    # cross-block GEMM orientation and must not change the components
    split = {
        r.vec_id: r.cluster
        for r in semantic_dedup(df, threshold=0.99, nlist=2, max_cell_rows=1).collect()
    }
    assert split == clusters


def test_auto_nlist_is_ceil_sqrt():
    from id3c_spark.operators.ann import _auto_nlist

    assert _auto_nlist(1) == 1
    assert _auto_nlist(4) == 2
    assert _auto_nlist(5) == 3
    assert _auto_nlist(500) == 23
    assert _auto_nlist(2000) == 45
    assert _auto_nlist(400) == 20  # perfect square stays exact (isqrt)


def test_rrf_fuse_merges_disjoint_and_overlapping(spark):
    from id3c_spark.operators.search import rrf_fuse

    a = spark.createDataFrame([(1, 1), (2, 2), (3, 3)], "doc_id long, rank int")
    b = spark.createDataFrame([(3, 1), (4, 2)], "doc_id long, rank int")
    out = {r["doc_id"]: r["rrf"] for r in rrf_fuse([a, b], k=10).collect()}
    # doc 3 appears in both lists → sum of both reciprocal terms
    assert abs(out[3] - round(1 / 63 + 1 / 61, 6)) < 1e-9
    assert abs(out[1] - round(1 / 61, 6)) < 1e-9
    assert set(out) == {1, 2, 3, 4}
    # 3 (two lists) outranks 1 (rank 1 in a single list)
    assert out[3] > out[1]
