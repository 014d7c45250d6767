"""BM25 keyword search over a document corpus (north-star family).

Training-data pipelines need lexical retrieval for quality audits,
targeted subset extraction, and contamination triage; BM25 (Robertson &
Spärck Jones probabilistic relevance, the Okapi BM25 formulation) is the
standard. The reference's closest analogue is barcode/identifier lookup
(point queries); this generalizes to ranked full-text retrieval.

Scale shape (100 TB):
  - One tokenization scan builds (doc, term, tf) — the inverted-index
    relation. On a real deployment this is materialized once, bucketed
    by term, and queries touch only their terms' buckets.
  - Query terms are a literal IN-list, so the term filter is pushed into
    the scan / index lookup; everything downstream (df, idf, scoring,
    top-k) runs over candidate postings only — no corpus-wide shuffle.
  - Corpus stats (N, avgdl) join in via a broadcast single-row frame,
    never a driver collect.

Determinism for the DuckDB oracle: tf·(k1+1) is an exact decimal
product, per-term scores are rounded to 8 dp and summed as DECIMAL
(exact, order-independent), and the final score is rounded to 6 dp the
way DuckDB rounds a double — round(x·10⁶)/10⁶ on the binary value, so a
sum such as 2.0716205 (stored just below the half) rounds down — before
ranking with doc-id tiebreak: both engines agree bit-for-bit (see
plans/queries.py discipline note).
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from id3c_spark.functions.text import words_array


def term_frequencies(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, term, tf, dl): the posting-list relation. Tokenizes ONCE —
    dl (document length in tokens) is re-aggregated from the tf relation
    (sum of a doc's term counts), not from a second tokens scan."""
    toks = docs.select(
        F.col(id_col).alias("id"), F.explode(words_array(F.col(text_col))).alias("term")
    )
    tf = toks.groupBy("id", "term").agg(F.count("*").alias("tf"))
    dl = tf.groupBy("id").agg(F.sum("tf").alias("dl"))
    return tf.join(dl, "id")


def tfidf_keywords(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Top-k TF-IDF keywords per document: (id, term, tf, score, rank).

        score = tf · ln((N + 1) / (df + 1))

    The standard per-document salient-term extraction (corpus audits,
    topic labeling, cluster naming). Plan shape at 100 TB: the tf
    relation aggregates map-side on (id, term); document frequency is a
    vocabulary-sized relation joined back ON THE TERM KEY (shuffle join —
    AQE broadcasts it when the vocabulary is small); the per-doc top-k
    window shuffles once on the doc key, which is unskewed by
    construction (documents have bounded length). No corpus-sized
    relation crosses the driver.

    Determinism: idf inputs are exact integers in both engines; score is
    rounded to 6 dp before ranking, term asc tiebreak.
    """
    toks = docs.select(
        F.col(id_col).alias("id"), F.explode(words_array(F.col(text_col))).alias("term")
    )
    tf = toks.groupBy("id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_by_term = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df_by_term, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.round(
                F.col("tf")
                * F.log((F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))),
                6,
            ),
        )
    )
    w = Window.partitionBy("id").orderBy(F.col("score").desc(), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select(F.col("id").alias(id_col), "term", "tf", "score", "rank")
    )


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-k documents by BM25 score for a bag-of-words query.

    idf = ln(1 + (N - df + 0.5)/(df + 0.5))  (Robertson/Okapi, always > 0)
    score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))

    The corpus is scanned, tokenized, and shuffled exactly ONCE, and the
    shuffle is narrow: because the query is a literal term list, per-doc
    stats aggregate in a single groupBy(id) whose row width is
    |query|+1 integers — dl = count(*) plus one conditional-sum tf column
    per (distinct) query term, all map-side combined. The former spelling
    shuffled the full (id, term, tf) posting relation — corpus-token-
    sized — only to derive dl; at 100 TB that shuffle IS the job. The
    wide-to-long unpivot (stack) and every later relation touch candidate
    docs only. One other corpus touch: a column-pruned count(*) for
    n_docs (parquet metadata read). For query vocabularies too large to
    widen into columns (thousands of terms), a materialized term-bucketed
    posting index is the right structure instead.
    """
    terms = sorted(set(query_terms))
    toks = docs.select(
        F.col(id_col).alias("id"), F.explode(words_array(F.col(text_col))).alias("term")
    )
    per_doc = toks.groupBy("id").agg(
        F.count(F.lit(1)).alias("dl"),
        *[
            F.sum(F.when(F.col("term") == t, 1).otherwise(0)).alias(f"__tf{i}")
            for i, t in enumerate(terms)
        ],
    )
    # avgdl over docs that HAVE tokens (empty docs score 0 anyway); n_docs
    # over all of them, per Okapi.
    stats = per_doc.agg((F.sum("dl") / F.count(F.lit(1))).alias("avgdl_raw")).crossJoin(
        F.broadcast(docs.agg(F.count(F.lit(1)).alias("n_docs")))
    )
    stack_args = ", ".join(
        "'{}', __tf{}".format(t.replace("'", "''"), i) for i, t in enumerate(terms)
    )
    matched = per_doc.select(
        "id", "dl",
        F.expr(f"stack({len(terms)}, {stack_args}) as (term, tf)"),
    ).filter(F.col("tf") > 0)
    df_by_term = matched.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        matched.join(F.broadcast(df_by_term), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            ),
        )
        .withColumn(
            "term_score",
            F.round(
                F.col("idf")
                * (F.col("tf") * F.lit(Decimal(repr(k1 + 1)))).cast("double")
                / (
                    F.col("tf")
                    + k1 * (1 - b + b * F.col("dl") / F.col("avgdl_raw"))
                ),
                8,
            ).cast("decimal(18,8)"),
        )
    )
    by_doc = scored.groupBy("id").agg(
        (F.round(F.sum("term_score").cast("double") * 1e6) / 1e6).alias("score"),
        F.count("*").alias("n_terms_matched"),
    )
    # orderBy+limit compiles to TakeOrderedAndProject (per-partition heaps,
    # driver merges k rows) — no global single-partition sort; the window
    # rank is then computed over k rows only.
    top = by_doc.orderBy(F.col("score").desc(), F.col("id")).limit(k)
    w = Window.orderBy(F.col("score").desc(), F.col("id"))
    return top.withColumn("rank", F.row_number().over(w).cast("int")).select(
        F.col("id").alias(id_col), "score", "n_terms_matched", "rank"
    )


def rrf_fuse(
    rankings: list[DataFrame],
    id_col: str = "doc_id",
    rank_col: str = "rank",
    k: int = 10,
    c: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion of N ranked lists: score(d) = Σ 1/(c+rank)
    over the lists that ranked d (Cormack et al.) — the standard way to
    merge lexical (BM25) and vector (cosine) retrieval without score
    calibration, since ranks are scale-free.

    Each input needs (id_col, rank_col). Missing membership contributes
    0. One full-outer join chain keyed on the id + a TakeOrdered top-k;
    per-list terms are single double divisions, so the fused score is
    engine-exact (6-dp rounded for rank stability).
    """
    fused = None
    for i, r in enumerate(rankings):
        side = r.select(
            F.col(id_col), F.col(rank_col).alias(f"__r{i}")
        )
        fused = side if fused is None else fused.join(side, id_col, "full_outer")
    score = None
    for i in range(len(rankings)):
        term = F.coalesce(
            F.lit(1.0) / (F.lit(c) + F.col(f"__r{i}")), F.lit(0.0)
        )
        score = term if score is None else score + term
    return (
        fused.withColumn("rrf", F.round(score, 6))
        .select(id_col, "rrf")
        .orderBy(F.desc("rrf"), F.col(id_col))
        .limit(k)
    )
