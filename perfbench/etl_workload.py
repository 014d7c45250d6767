"""etl_cycle_query: one receive -> ETL -> shipping cycle, then consumer queries.

Setup starts the session, mints a seeded universe of encounters and writes
its base part into the warehouse tables, together with the receiving-log
history and the processing markers earlier ETL runs would have left.

Timed phase 1, the cycle (``batch_s``): the batch is POSTed through the
receiving API's test client: new samples (enrollment, manifest and
presence-absence documents), corrections of base samples spread over the
key range (re-tests that flip ``present``, enrollments whose age changed)
and skip-rule documents (unknown barcode, old-format result, unknown
schemaVersion), plus bodies the API must reject. Then
``streaming.incremental.run_incremental`` runs the enrollment, manifest
and presence-absence ETLs in the reference's order over
``sources.readers.read_ndjson_receiving``; the shipping views are
registered again, and the probe reads the batch's encounters from
``observation_with_presence_absence_result_v1``. The cycle ends when the
probe has returned; its rows are compared with the generator's afterwards.

Timed phase 2 (``query_ms``, ``query_p90_ms``): one client runs a
seeded consumer mix of shipping queries in blocks of twenty for
``--seconds`` seconds (at least one block): seventeen point lookups of a
sample's results, and one each of positives per ISO week for one target,
age-bin x sex counts at one site, and residence-tract counts for one week.
``query_ms`` is the median, a lookup's latency, and the 90th percentile
an aggregate's.

Checks outside the timed phases: API status codes, rows seen per ETL,
the probe, every query's result, final row counts per table and an
order-independent checksum of ``presence_absence(identifier, present)``.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import math
import os
import random
import time
from collections import Counter, defaultdict
from functools import reduce

import etl_data as G
from harness import median, percentile
from layers import ETLS, SHIPPING_KINDS, STORE_TABLES, UPSERT_TABLES

FULL = {"base": 1500, "new": 200, "corrections": 50, "skip_each": 2}
TOY = {"base": 40, "new": 12, "corrections": 6, "skip_each": 1}
# One block of the consumer mix: mostly point lookups, one of each aggregate.
QUERY_BLOCK = ["lookup"] * 17 + ["target_week", "age_sex", "tract"]

VIEW_TABLES = ("sample", "presence_absence", "target", "encounter", "individual",
               "site", "encounter_location", "location")
UPSERT_METHODS = {
    "find_or_create_site": "site", "upsert_individual": "individual",
    "upsert_encounter": "encounter", "upsert_encounter_location": "encounter_location",
    "upsert_location": "location", "upsert_sample": "sample",
    "find_or_create_target": "target", "upsert_presence_absence": "presence_absence",
}
AGE_BIN_COARSE = [(0, 6), (6, 60), (60, 216), (216, 780), (780, None)]


# -- expectations ------------------------------------------------------------

def age_months(s: G.Sample) -> int:
    """The enrollment ETL's age: floor(years * 12), capped at 90 years."""
    return 1080 if s.age_years >= 90 else min(math.floor(s.age_years * 12), 1080)


def coarse_bin(months: int) -> str:
    for lo, hi in AGE_BIN_COARSE:
        if months >= lo and (hi is None or months < hi):
            return f"[{lo},{hi if hi is not None else ''})"
    raise ValueError(months)


def iso_week(s: G.Sample) -> str:
    y, w, _ = dt.date.fromisoformat(s.encountered[:10]).isocalendar()
    return f"{y}-W{w:02d}"


def pa_checksum_row(identifier: str, present: bool) -> int:
    h = hashlib.md5(f"{identifier}|{'true' if present else 'false'}".encode()).hexdigest()
    return int(h[:8], 16)


def pa_rows(samples: list[G.Sample]) -> dict[str, bool]:
    """identifier -> present for every presence_absence row, control included."""
    out = {}
    for s in samples:
        for t, p in s.results.items():
            out[f"NWGC/{s.nwgc_id}/{t}"] = p
        out[f"NWGC/{s.nwgc_id}/{G.CONTROL_TARGET}"] = True
    return out


# -- setup -------------------------------------------------------------------

def _arrow_type(dtype):
    import pyarrow as pa
    from pyspark.sql import types as T

    return {T.StringType: pa.string(), T.LongType: pa.int64(), T.IntegerType: pa.int32(),
            T.BooleanType: pa.bool_(), T.DateType: pa.date32(),
            T.TimestampType: pa.timestamp("us", tz="UTC"),
            T.MapType: pa.map_(pa.string(), pa.string())}[type(dtype)]


def write_version(table, schema, columns: dict[str, list], sort_by: list[str]) -> None:
    """Write *columns* as version 1 of the ParquetTable *table*: one file
    sorted on *sort_by*, which is the layout the program's clustered
    publish gives a table of this size, then flip the pointer."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = len(next(iter(columns.values())))
    arrays = [pa.array(columns.get(f.name, [None] * n), type=_arrow_type(f.dataType))
              for f in schema]
    data = pa.Table.from_arrays(arrays, names=[f.name for f in schema])
    data = data.sort_by([(c, "ascending") for c in sort_by])
    os.makedirs(os.path.join(table.path, "v1"))
    pq.write_table(data, os.path.join(table.path, "v1", "part-00000.parquet"))
    table.flip(1)


def fill_warehouse(wh, u: G.Universe, base: list[G.Sample]) -> None:
    """Write *base* into the empty warehouse as earlier ETL runs would have
    left it, with arbitrary unique surrogate ids. It is written directly
    with pyarrow, outside Spark, to keep set-up short."""
    from id3c_spark.schemas import WAREHOUSE_SCHEMAS as W

    def ts(s: G.Sample):
        return dt.datetime.fromisoformat(s.encountered.replace("Z", "+00:00"))

    tract_id = {t: 1000 + i for i, t in enumerate(u.tracts)}
    site_id = {s: i + 1 for i, s in enumerate(G.SITES)}
    people = sorted({(s.individual, s.sex) for s in base})
    person_id = {p: i + 1 for i, (p, _) in enumerate(people)}
    target_id = {t: i + 1 for i, t in enumerate(G.TARGETS + [G.CONTROL_TARGET])}
    enc_id = {s.encounter: i + 1 for i, s in enumerate(base)}
    pa_items = [(ident, s.index + 1, ident.rsplit("/", 1)[1], p)
                for s in base for ident, p in pa_rows([s]).items()]
    write = {
        "location": ({"location_id": list(tract_id.values()), "identifier": list(tract_id),
                      "scale": ["tract"] * len(tract_id),
                      "hierarchy": [list({"country": "us", "state": "wa", "tract": t}.items())
                                    for t in tract_id]},
                     ["scale", "identifier"]),
        "site": ({"site_id": list(site_id.values()), "identifier": list(site_id),
                  "details": [json.dumps({"type": "clinic"})] * len(site_id)}, ["identifier"]),
        "individual": ({"individual_id": list(person_id.values()),
                        "identifier": [p for p, _ in people], "sex": [x for _, x in people]},
                       ["identifier"]),
        "encounter": ({"encounter_id": [enc_id[s.encounter] for s in base],
                       "identifier": [s.encounter for s in base],
                       "individual_id": [person_id[s.individual] for s in base],
                       "site_id": [site_id[s.site] for s in base],
                       "encountered": [ts(s) for s in base],
                       "age_months": [age_months(s) for s in base],
                       "details": [json.dumps({"age": {"ninetyOrAbove": s.age_years >= 90,
                                                       "value": s.age_years}}) for s in base]},
                      ["identifier"]),
        "encounter_location": ({"encounter_id": [enc_id[s.encounter] for s in base],
                                "relation": ["residence"] * len(base),
                                "location_id": [tract_id[s.tract] for s in base]},
                               ["encounter_id"]),
        "sample": ({"sample_id": [s.index + 1 for s in base],
                    "identifier": [s.sample_uuid for s in base],
                    "collection_identifier": [s.collection_uuid for s in base],
                    "encounter_id": [enc_id[s.encounter] for s in base],
                    "collected": [ts(s).date() for s in base],
                    "details": [json.dumps({"nwgc_id": [s.nwgc_id]}) for s in base]},
                   ["identifier"]),
        "target": ({"target_id": list(target_id.values()), "identifier": list(target_id),
                    "control": [t == G.CONTROL_TARGET for t in target_id]}, ["identifier"]),
        "presence_absence": ({"presence_absence_id": list(range(1, len(pa_items) + 1)),
                              "identifier": [i for i, *_ in pa_items],
                              "sample_id": [sid for _, sid, _, _ in pa_items],
                              "target_id": [target_id[t] for _, _, t, _ in pa_items],
                              "present": [p for *_, p in pa_items]},
                             ["identifier"]),
    }
    for name, (columns, sort_by) in write.items():
        write_version(wh.tables[name], W[name], columns, sort_by)


def write_history(recv: str, status, base: list[G.Sample], etls) -> None:
    """Receiving-log lines for *base* and the processed markers an earlier
    incremental run left for them: the log and status table the anti-join
    of the next run has to scan."""
    from id3c_spark.schemas import PROCESSING_LOG

    docs = {"enrollment": [G.enrollment_doc(s) for s in base],
            "manifest": [G.manifest_doc(s) for s in base],
            "presence_absence": [G.pa_doc(s) for s in base]}
    os.makedirs(recv, exist_ok=True)
    markers: dict[str, list] = defaultdict(list)
    now = dt.datetime.now(dt.timezone.utc)
    for table, etl_name, revision, _ in etls:
        with open(os.path.join(recv, f"{table}.ndjson"), "w") as f:
            f.writelines(d + "\n" for d in docs[table])
        n = len(docs[table])
        markers["table_name"] += [table] * n
        markers["record_id"] += list(range(1, n + 1))
        markers["etl"] += [etl_name] * n
        markers["revision"] += [revision] * n
        markers["status"] += ["processed"] * n
        markers["timestamp"] += [now] * n
    write_version(status, PROCESSING_LOG, markers, ["table_name", "record_id"])


# -- instrumentation ---------------------------------------------------------

def instrument(tracer, store_counts: dict[str, int]) -> None:
    from id3c_spark.etl import enrollments, manifest, presence_absence
    from id3c_spark.etl.warehouse import Warehouse
    from id3c_spark.plans import shipping
    from id3c_spark.sources import readers
    from id3c_spark.sources.store import ParquetTable
    from id3c_spark.streaming import incremental

    tracer.wrap(readers, "read_ndjson_receiving", "sources.readers.read_ndjson_receiving")
    tracer.wrap(incremental, "run_incremental", "streaming.incremental.run", count_jobs=True)
    tracer.wrap(incremental, "unprocessed", "streaming.incremental.unprocessed")
    tracer.wrap(incremental, "mark", "streaming.incremental.mark")
    for name, mod in zip(ETLS, (enrollments, manifest, presence_absence)):
        tracer.wrap(mod, "run", f"etl.{name}.run", count_jobs=True)
    for method, table in UPSERT_METHODS.items():
        tracer.wrap(Warehouse, method, f"etl.warehouse.upsert.{table}")
    tracer.wrap(ParquetTable, "publish", "sources.store.publish")
    tracer.wrap(ParquetTable, "append", "sources.store.append")
    tracer.wrap(shipping, "create_views", "plans.shipping.create_views")

    def merge_publish(fn):
        def wrapper(self, *args, **kwargs):
            before = {os.path.basename(f): os.stat(f).st_ino for f in self.files()}
            with tracer.span("sources.store.merge_publish"):
                out = fn(self, *args, **kwargs)
            after = {os.path.basename(f): os.stat(f).st_ino for f in self.files()}
            carried = sum(1 for b, ino in after.items() if before.get(b) == ino)
            store_counts["files_carried"] += carried
            store_counts["files_rewritten"] += len(after) - carried
            store_counts["files_before"] += len(before)
            return out
        return wrapper

    tracer.patch(ParquetTable, "merge_publish", merge_publish)


# -- shipping queries ----------------------------------------------------------

class QueryMix:
    """Seeded shipping queries with the rows each must return."""

    def __init__(self, seed: int, samples: list[G.Sample]):
        self.rng = random.Random(seed * 1_000_003 + 17)
        self.samples = samples
        self.positives: dict[str, Counter] = defaultdict(Counter)
        self.age_sex: dict[str, Counter] = defaultdict(Counter)
        self.tracts: dict[str, Counter] = defaultdict(Counter)
        for s in samples:
            for t, p in s.results.items():
                if p:
                    self.positives[t][iso_week(s)] += 1
            self.age_sex[s.site][(coarse_bin(age_months(s)), s.sex)] += 1
            self.tracts[iso_week(s)][s.tract] += 1
        self.weeks = sorted(self.tracts)

    def block(self) -> list[str]:
        """One block of the consumer mix in a seeded order."""
        kinds = list(QUERY_BLOCK)
        self.rng.shuffle(kinds)
        return kinds

    def make(self, kind: str) -> tuple[str, set]:
        r = self.rng
        if kind == "lookup":
            s = r.choice(self.samples)
            return (f"SELECT target, present FROM presence_absence_result_v1 "
                    f"WHERE sample = '{s.sample_uuid}'",
                    set(s.results.items()))
        if kind == "target_week":
            t = r.choice(G.TARGETS)
            return (f"SELECT encountered_week, count(*) FROM "
                    f"observation_with_presence_absence_result_v1 "
                    f"WHERE target = '{t}' AND present GROUP BY encountered_week",
                    set(self.positives[t].items()))
        if kind == "age_sex":
            site = r.choice(G.SITES)
            return (f"SELECT age_range_coarse, sex, count(*) FROM incidence_model_observation_v2 "
                    f"WHERE site = '{site}' GROUP BY age_range_coarse, sex",
                    {(b, x, n) for (b, x), n in self.age_sex[site].items()})
        week = r.choice(self.weeks)
        return (f"SELECT residence_census_tract, count(*) FROM incidence_model_observation_v2 "
                f"WHERE encountered_week = '{week}' GROUP BY residence_census_tract",
                set(self.tracts[week].items()))


# -- the workload ----------------------------------------------------------------

def run(run) -> None:
    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    from id3c_spark.api import create_app
    from id3c_spark.etl import enrollments, manifest, presence_absence
    from id3c_spark.etl.warehouse import Warehouse
    from id3c_spark.plans import shipping
    from id3c_spark.sources import readers
    from id3c_spark.sources.store import ParquetTable
    from id3c_spark.streaming import incremental

    cfg = TOY if run.toy else FULL
    t_setup = time.perf_counter()
    start_s = run.start_spark()
    spark, tracer = run.spark, run.tracer
    store_counts: Counter = Counter()
    instrument(tracer, store_counts)

    # ETL steps in the reference's order: (receiving table, etl, revision, module)
    etls = [("enrollment", "enrollments", 1, enrollments),
            ("manifest", "manifest", 1, manifest),
            ("presence_absence", presence_absence.ETL_NAME, presence_absence.REVISION,
             presence_absence)]

    u = G.Universe(run.seed, cfg["base"] + cfg["new"])
    base, new = u.samples[:cfg["base"]], u.samples[cfg["base"]:]
    wh = Warehouse(spark, os.path.join(run.tmp, "warehouse"))
    fill_warehouse(wh, u, base)
    identifiers = spark.createDataFrame(
        u.identifier_rows(), "uuid string, barcode string, identifier_set_id long").cache()
    identifiers.count()
    recv = os.path.join(run.tmp, "receiving")
    status = ParquetTable(spark, os.path.join(run.tmp, "status"))
    write_history(recv, status, base, etls)
    client = create_app(recv).test_client()

    batch = G.new_samples_batch(new)
    G.correct(u, batch, u.rng.sample(base, cfg["corrections"]))
    G.add_skip_docs(u, batch, cfg["skip_each"])
    setup_s = time.perf_counter() - t_setup

    # -- phase 1: the cycle ---------------------------------------------------
    posts = ([("enrollments", d, 201) for d in batch.enrollments]
             + [("manifests", d, 201) for d in batch.manifests]
             + [("presence-absence", d, 201) for d in batch.presence_absence]
             + [("presence-absence", d, 400) for d in batch.rejected])
    touched = sorted({s.encounter for s in batch.touched})
    probe_sql = ("SELECT encounter, sample, target, present "
                 "FROM observation_with_presence_absence_result_v1 WHERE encounter IN ("
                 + ",".join(f"'{e}'" for e in touched) + ")")
    codes, seen = [], {}
    with tracer.span("workload.cycle"):
        t0 = time.perf_counter()
        for endpoint, body, _ in posts:
            with tracer.span("api.receive"):
                codes.append(client.post(f"/v1/receiving/{endpoint}", data=body,
                                         content_type="application/json").status_code)
        for table, etl_name, revision, mod in etls:
            receiving = readers.read_ndjson_receiving(spark, os.path.join(recv, f"{table}.ndjson"))
            stats = incremental.run_incremental(
                spark, receiving, status, table, etl_name, revision,
                lambda b, mod=mod: mod.run(spark, b, wh, identifiers))
            seen[table] = stats.seen
        shipping.create_views(spark, {n: wh.read(n) for n in VIEW_TABLES})
        with tracer.span("plans.shipping.probe"):
            probe_rows = spark.sql(probe_sql).collect()
        cycle_s = time.perf_counter() - t0

    for (endpoint, _, want), code in zip(posts, codes):
        run.check(code == want, f"POST {endpoint} answered {code}, expected {want}")
    want_seen = {"enrollment": len(batch.enrollments), "manifest": len(batch.manifests),
                 "presence_absence": len(batch.presence_absence)}
    for table, n in want_seen.items():
        run.check(seen.get(table) == n, f"{table} ETL saw {seen.get(table)} rows, expected {n}")
    want_probe = G.expected_rows(batch.touched)
    run.check({tuple(r) for r in probe_rows} == want_probe,
              f"probe returned {len(probe_rows)} rows, expected {len(want_probe)}")

    # -- phase 2: shipping queries ----------------------------------------------
    mix = QueryMix(run.seed, u.samples)
    latencies: list[float] = []
    answers = []
    with tracer.span("workload.queries"):
        deadline = time.perf_counter() + run.seconds
        blocks = 0
        while blocks == 0 or time.perf_counter() < deadline:
            for kind in mix.block():
                sql, want = mix.make(kind)
                t = time.perf_counter()
                with tracer.span(f"plans.shipping.query.{kind}"):
                    rows = spark.sql(sql).collect()
                latencies.append(time.perf_counter() - t)
                answers.append((kind, rows, want))
            blocks += 1
    run.memory_metrics()
    for kind, rows, want in answers:
        run.check({tuple(r) for r in rows} == want, f"shipping query {kind} mismatch")

    # -- final warehouse checks ----------------------------------------------------
    expected_pa = pa_rows(u.samples)
    want_counts = {
        "encounter": len(u.samples), "sample": len(u.samples),
        "individual": len({s.individual for s in u.samples}),
        "encounter_location": len(u.samples), "presence_absence": len(expected_pa),
        "target": len(G.TARGETS) + 1, "site": len(G.SITES),
    }
    if run.args.corrupt_expected:
        want_counts["encounter"] += 1
    counts = reduce(DataFrame.unionByName, [
        wh.read(t).groupBy().count().withColumn("table", F.lit(t)) for t in want_counts])
    got_counts = {r["table"]: r["count"] for r in counts.collect()}
    for table, n in want_counts.items():
        run.check(got_counts[table] == n, f"{table} has {got_counts[table]} rows, expected {n}")
    got_sum = wh.read("presence_absence").selectExpr(
        "sum(cast(conv(substr(md5(concat(identifier, '|', cast(present AS string))), 1, 8),"
        " 16, 10) AS bigint))").collect()[0][0]
    want_sum = sum(pa_checksum_row(i, p) for i, p in expected_pa.items())
    run.check(got_sum == want_sum, f"presence_absence checksum {got_sum} != {want_sum}")

    run.end_to_end.update({
        "setup_s": (setup_s, "s"),
        "batch_s": (cycle_s, "s"),
        "query_ms": (percentile(latencies, 50) * 1e3, "ms"),
        "query_p90_ms": (percentile(latencies, 90) * 1e3, "ms"),
    })
    if not tracer.enabled:
        return

    cyc = tracer.subtree_self_times("workload.cycle")
    jobs = {k: sum(v) for k, v in tracer.jobs.items()}
    stages = {k: sum(v) for k, v in tracer.stages.items()}
    m = {
        "session.start_s": (start_s, "s"),
        "api.receive_ms_p50": (median(tracer.durations("api.receive")) * 1e3, "ms"),
        "api.requests": (len(posts), "count"),
        "api.rejected": (sum(1 for c in codes if c >= 400), "count"),
        "sources.readers.read_ndjson_receiving_s":
            (cyc.get("sources.readers.read_ndjson_receiving", 0.0), "s"),
        "streaming.incremental.run_s": (cyc.get("streaming.incremental.run", 0.0), "s"),
        "streaming.incremental.unprocessed_s":
            (cyc.get("streaming.incremental.unprocessed", 0.0), "s"),
        "streaming.incremental.mark_s": (cyc.get("streaming.incremental.mark", 0.0), "s"),
        "streaming.incremental.rows_seen": (sum(seen.values()), "count"),
        "streaming.incremental.spark_jobs": (jobs.get("streaming.incremental.run", 0), "count"),
    }
    for name in ETLS:
        m[f"etl.{name}.run_s"] = (cyc.get(f"etl.{name}.run", 0.0), "s")
        m[f"etl.{name}.spark_jobs"] = (jobs.get(f"etl.{name}.run", 0), "count")
        m[f"etl.{name}.spark_stages"] = (stages.get(f"etl.{name}.run", 0), "count")
    for table in UPSERT_TABLES:
        m[f"etl.warehouse.upsert_s.{table}"] = (cyc.get(f"etl.warehouse.upsert.{table}", 0.0), "s")
    m["sources.store.merge_publish_s"] = (cyc.get("sources.store.merge_publish", 0.0), "s")
    m["sources.store.publish_s"] = (cyc.get("sources.store.publish", 0.0), "s")
    m["sources.store.append_s"] = (cyc.get("sources.store.append", 0.0), "s")
    m["sources.store.files_rewritten"] = (store_counts["files_rewritten"], "count")
    m["sources.store.files_carried"] = (store_counts["files_carried"], "count")
    m["sources.store.rewrite_ratio"] = (
        store_counts["files_rewritten"] / max(1, store_counts["files_before"]), "ratio")
    for table in STORE_TABLES:
        m[f"sources.store.table_files.{table}"] = (len(wh.tables[table].files()), "count")
    m["plans.shipping.create_views_s"] = (cyc.get("plans.shipping.create_views", 0.0), "s")
    m["plans.shipping.probe_s"] = (cyc.get("plans.shipping.probe", 0.0), "s")
    for kind in SHIPPING_KINDS:
        m[f"plans.shipping.query_ms_p50.{kind}"] = (
            median(tracer.durations(f"plans.shipping.query.{kind}")) * 1e3, "ms")
    m["trace.batch_s"] = (cycle_s, "s")
    m["trace.unattributed_share"] = (cyc.get("workload.cycle", 0.0) / cycle_s, "ratio")
    m["trace.spans"] = (len(tracer.spans), "count")
    run.per_layer.update(m)
