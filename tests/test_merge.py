"""MERGE/upsert semantics (SURVEY §2.9) — id3c write-path parity."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from id3c_spark.operators.merge import MultipleMatchError, merge


def df_of(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


SAMPLE_SCHEMA = (
    "sample_id long, identifier string, collection_identifier string, "
    "collected string, details string"
)


def test_insert_update_skip(spark):
    target = df_of(spark, [
        (1, "s1", "c1", "2020-01-01", '{"note":"old"}'),
        (2, "s2", None, "2020-01-02", None),
    ], SAMPLE_SCHEMA)
    updates = df_of(spark, [
        (None, "s1", None, "2020-01-05", '{"chip":"A1"}'),   # update s1
        (None, "s9", "c9", "2020-02-01", '{}'),              # insert
        (None, "s2", None, "2020-01-02", None),              # unchanged → skip
    ], SAMPLE_SCHEMA).drop("sample_id")

    res = merge(
        target, updates,
        key_cols=[["identifier"], ["collection_identifier"]],
        id_col="sample_id", update_cols=["collected"],
    )
    rows = {r.identifier: r for r in res.collect()}
    assert len(rows) == 3  # one updated, one unchanged, one inserted
    assert rows["s1"].collected == "2020-01-05"
    # details top-level merge, right biased
    assert json.loads(rows["s1"].details) == {"note": "old", "chip": "A1"}
    assert rows["s2"].collected == "2020-01-02"
    assert rows["s9"].sample_id is not None


def test_alternate_key_match(spark):
    """upsert_sample OR-key: identifier first, then collection_identifier."""
    target = df_of(spark, [
        (1, "s1", "c1", "2020-01-01", None),
        (2, None, "c2", "2020-01-02", None),
    ], SAMPLE_SCHEMA)
    updates = df_of(spark, [
        (None, None, "c2", "2020-03-01", None),  # matches row 2 via collection id
    ], SAMPLE_SCHEMA).drop("sample_id")
    res = merge(
        target, updates,
        key_cols=[["identifier"], ["collection_identifier"]],
        id_col="sample_id", update_cols=["collected"],
    )
    rows = {r.sample_id: r for r in res.collect()}
    assert rows[2].collected == "2020-03-01"
    assert len(rows) == 2


def test_multi_match_errors(spark):
    target = df_of(spark, [
        (1, "dup", None, "2020-01-01", None),
        (2, "dup", None, "2020-01-02", None),
    ], SAMPLE_SCHEMA)
    updates = df_of(spark, [
        (None, "dup", None, "2021-01-01", None),
    ], SAMPLE_SCHEMA).drop("sample_id")
    with pytest.raises(MultipleMatchError):
        merge(target, updates, [["identifier"]], id_col="sample_id",
              update_cols=["collected"])


def test_duplicate_update_keys_raise(spark):
    """Two update rows with the same key would both match one target (or
    both insert under one surrogate id) — a distributed batch has no 'last
    row wins' order, so merge refuses instead of writing a duplicate pk."""
    target = df_of(spark, [(1, "s1", "c1", "2020-01-01", None)], SAMPLE_SCHEMA)
    updates = df_of(spark, [
        (None, "s1", None, "2020-01-05", None),
        (None, "s1", None, "2020-01-06", None),
    ], SAMPLE_SCHEMA).drop("sample_id")
    with pytest.raises(MultipleMatchError, match="duplicate update rows"):
        merge(target, updates, [["identifier"]], id_col="sample_id",
              update_cols=["collected"])


def test_find_or_create(spark, tmp_path):
    """find_or_create_* parity (etl/__init__.py:33-63): insert missing
    keys, never update existing rows."""
    from id3c_spark.etl.warehouse import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.publish("site", df_of(
        spark, [(1, "kiosk", None)], "site_id long, identifier string, details string"
    ))
    wanted = df_of(spark, [("kiosk",), ("clinic",)], "identifier string")
    rows = {r.identifier: r for r in wh.find_or_create_site(wanted).collect()}
    assert set(rows) == {"kiosk", "clinic"}
    assert rows["kiosk"].site_id == 1  # existing row untouched


def test_single_pass_merge_matches_staged(spark):
    """r16 one-full-outer-join merge (single key, no details): must
    return EXACTLY the staged branch-family rows, including the
    error_on_multi=False corners — duplicate update keys where one copy
    changes and another does not (the unchanged copy is dropped), all
    copies unchanged (one target row emitted), null-key updates
    (insert), null-key target rows (untouched), and plain
    insert/update/skip."""
    schema = "k long, v string, extra string"
    target = df_of(spark, [
        (1, "a", "x"),
        (2, "b", "y"),
        (3, "c", "z"),
        (None, "nullkey", "w"),      # null-key target row → untouched
    ], schema)
    updates = df_of(spark, [
        (1, "a2", None),             # changed copy …
        (1, "a", None),              # … plus an unchanged copy, same key
        (2, "b", None),              # unchanged only → one passthrough
        (2, "b", None),              # duplicate unchanged copy
        (9, "new", None),            # insert
        (None, "nullk-upd", None),   # null key → insert
    ], schema).drop("extra")

    kw = dict(
        key_cols=["k"], id_col="k", update_cols=["v"],
        details_col=None, error_on_multi=False,
    )
    fast = merge(target, updates, single_pass=True, **kw)
    slow = merge(target, updates, single_pass=False, **kw)

    def norm(rows):
        return sorted(
            (tuple(r) for r in rows),
            key=lambda t: tuple((x is None, x) for x in t),
        )

    assert norm(fast.collect()) == norm(slow.collect())


def test_deterministic_insert_ids(spark):
    """Surrogate keys are stable across runs (hash of natural key)."""
    target = spark.createDataFrame([], SAMPLE_SCHEMA)
    updates = df_of(spark, [
        (None, "s1", None, "2020-01-01", None),
    ], SAMPLE_SCHEMA).drop("sample_id")
    id1 = merge(target, updates, [["identifier"]], "sample_id").collect()[0].sample_id
    id2 = merge(target, updates, [["identifier"]], "sample_id").collect()[0].sample_id
    assert id1 == id2
