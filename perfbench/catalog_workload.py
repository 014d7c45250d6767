"""curation_catalog: fifteen query-catalog entries in seed-permuted rounds.

Setup starts the session and writes seeded tables (``catalog_data``) into
the run's directory. ``ivfpq_topk_embeddings`` is left out: building its
IVF-PQ index (``plans.ann_index.cached_index``) takes about 18 s on four
cores whatever the table size, more than the run's time allows.

Check (untimed, once per run): each entry's rows, collected with
``toPandas``, must equal its DuckDB oracle from ``plans.queries.all_oracles``
over the same parquet files. This pass is also the warm-up: it is the
first use of most code paths in the session and starts the Python workers.
DuckDB evaluates the oracles on a second thread meanwhile, which keeps
the run short.

Timed: rounds over the fifteen entries, each in a seed-permuted order,
until ``--seconds`` have passed (at least one round). Each entry is forced
with a ``noop`` write and followed by ``clearCache()`` outside its timing.
``batch_s`` sums each entry's median over the rounds. ``query_ms`` and
``query_p90_ms`` take every timed execution as one sample. ``query_ms`` is
their geometric mean, not their median: the median would be the single
execution of whichever entry ranks eighth, and so jump by the gap between
neighbouring entries from run to run.
"""

from __future__ import annotations

import importlib
import math
import os
import random
import time
from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor

import catalog_data
from harness import gmean, median, percentile
from layers import CATALOG_QUERIES, OPERATOR_MODULES, SQL_QUERIES



def normalize(pdf):
    """Columns sorted by name, values as comparable text, rows sorted."""
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].astype(str)
    return pdf.sort_values(by=list(pdf.columns), kind="mergesort").reset_index(drop=True)


def same_values(a, b) -> bool:
    import pandas as pd

    if isinstance(a, float) and isinstance(b, float) and math.isnan(a) and math.isnan(b):
        return True
    return a == b or (pd.isna(a) and pd.isna(b))


def matches_oracle(spark_pdf, duck_pdf) -> bool:
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns) or len(spark_pdf) != len(duck_pdf):
        return False
    s, d = normalize(spark_pdf), normalize(duck_pdf)
    return all(same_values(x, y) for c in s.columns for x, y in zip(s[c], d[c]))


def oracle_frames(sf_dir: str, sqls: list[str]) -> list:
    """Evaluate each oracle SQL in DuckDB over the run's parquet tables."""
    import duckdb

    with duckdb.connect() as con:
        for table in catalog_data.TABLES:
            con.sql(f"CREATE VIEW {table} AS SELECT * FROM '{sf_dir}/{table}.parquet'")
        return [con.sql(sql).df() for sql in sqls]


def instrument(tracer) -> None:
    from id3c_spark.plans import curation

    for name in OPERATOR_MODULES:
        tracer.wrap_module(importlib.import_module(f"id3c_spark.operators.{name}"),
                           f"operators.{name}")
    tracer.wrap_module(curation, "plans.curation")


def run(run) -> None:
    t_setup = time.perf_counter()
    start_s = run.start_spark()
    spark, tracer = run.spark, run.tracer
    instrument(tracer)

    sf_dir = os.path.join(run.tmp, "tables")
    size = catalog_data.TOY if run.toy else catalog_data.FULL
    catalog_data.write_tables(sf_dir, run.seed, size)
    setup_s = time.perf_counter() - t_setup

    from id3c_spark.plans.queries import all_oracles, all_queries

    os.environ["ID3C_ORACLE_SF_DIR"] = sf_dir
    catalog, oracles = all_queries(), all_oracles()

    # -- check against the oracles: untimed, and the warm-up pass -------------
    got = {}
    with ThreadPoolExecutor(1) as pool:
        wanted = pool.submit(oracle_frames, sf_dir, [oracles[q] for q in CATALOG_QUERIES])
        for name in CATALOG_QUERIES:
            got[name] = catalog[name](spark, sf_dir).toPandas()
            spark.catalog.clearCache()
        wanted = wanted.result()
    for name, want in zip(CATALOG_QUERIES, wanted):
        if run.args.corrupt_expected and name == CATALOG_QUERIES[0]:
            want = want.iloc[1:]
        run.check(matches_oracle(got[name], want), f"{name} differs from its DuckDB oracle")

    # -- timed rounds -------------------------------------------------------------
    rng = random.Random(run.seed)
    times: dict[str, list[float]] = defaultdict(list)
    samples: list[float] = []
    rounds = 0
    t_timed = time.perf_counter()
    with tracer.span("workload.rounds"):
        while rounds == 0 or time.perf_counter() - t_timed < run.seconds:
            order = list(CATALOG_QUERIES)
            rng.shuffle(order)
            for name in order:
                t = time.perf_counter()
                with tracer.span(f"plans.queries.{name}", count_jobs=True):
                    catalog[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
                d = time.perf_counter() - t
                times[name].append(d)
                samples.append(d)
                run.check(True, name)   # an execution that raised would not get here
                spark.catalog.clearCache()
            rounds += 1
        rounds_s = time.perf_counter() - t_timed
    run.memory_metrics()

    batch_s = sum(median(times[q]) for q in CATALOG_QUERIES)
    run.end_to_end.update({
        "setup_s": (setup_s, "s"),
        "batch_s": (batch_s, "s"),
        "query_ms": (gmean(samples) * 1e3, "ms"),
        "query_p90_ms": (percentile(samples, 90) * 1e3, "ms"),
    })
    if not tracer.enabled:
        return

    timed = tracer.subtree_self_times("workload.rounds")
    m = {"session.start_s": (start_s, "s")}
    for q in CATALOG_QUERIES:
        m[f"plans.queries.{q}_s"] = (median(times[q]), "s")
        m[f"plans.queries.{q}.spark_jobs"] = (median(tracer.jobs[f"plans.queries.{q}"]), "count")
        m[f"plans.queries.{q}.spark_stages"] = (median(tracer.stages[f"plans.queries.{q}"]),
                                                "count")
    for mod in OPERATOR_MODULES:
        m[f"operators.{mod}_s"] = (timed.get(f"operators.{mod}", 0.0) / rounds, "s")
    m["plans.curation_s"] = (timed.get("plans.curation", 0.0) / rounds, "s")
    m["plans.queries.sql_s"] = (sum(median(times[q]) for q in SQL_QUERIES), "s")
    m["trace.batch_s"] = (batch_s, "s")
    m["trace.unattributed_share"] = (timed.get("workload.rounds", 0.0) / rounds_s, "ratio")
    m["trace.spans"] = (len(tracer.spans), "count")
    run.per_layer.update(m)
