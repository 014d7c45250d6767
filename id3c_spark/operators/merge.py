"""Generic MERGE/upsert with id3c warehouse-write semantics (SURVEY §2.9).

The reference's write path is row-at-a-time plpgsql/Python:
*select-for-update → compare → insert / update / skip*, erroring on >1
match (lib/id3c/db/__init__.py:182-326 ``upsert_sample``,
lib/id3c/cli/command/etl/__init__.py:66-649 the upsert_* family).

Here the whole batch is ONE distributed plan:

  1. alternate-key match passes (``identifier`` OR ``collection_identifier``
     — db/__init__.py:232-235) decomposed into sequential equi-joins over
     the unmatched residue, so each pass is a plain hash join;
  2. multi-match detection (db/__init__.py:316-318 "more than one match")
     as a groupBy-count assertion;
  3. skip-no-op-write change detection (``row(...)::text !=`` idiom,
     db/__init__.py:213-231) as a null-safe struct comparison — matched
     rows that did not change are passed through untouched, which matters
     on Delta/Iceberg for write amplification;
  4. top-level JSON details merge (``coalesce(details,'{}') || new``);
  5. unmatched inserts with deterministic surrogate keys.

Scale: both sides shuffle once per match pass on the join key; with Delta/
Iceberg this plan feeds MERGE INTO directly (file-pruning on match keys).
The parquet copy-on-write in sources/store.py is the local stand-in.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from id3c_spark.functions.json_ops import json_merge_udf


class MultipleMatchError(RuntimeError):
    """An update row matched more than one existing row — the reference
    raises the same way rather than guessing (db/__init__.py:316-318)."""


def _null_safe_changed(
    updates_prefixed: DataFrame, cols: Sequence[str], dtypes: dict[str, str]
) -> Column:
    """True where any column's RESOLVED value (null update = keep target,
    mirroring the coalesce in the output projection) differs from the
    target's — the skip-no-op-write discipline of db/__init__.py:213-231
    that keeps Delta/parquet file churn down.

    Maps are not orderable (<=> rejects them) → compared via key-sorted
    entry arrays, which also makes the comparison key-order independent,
    matching hstore equality semantics."""
    def canon(col: Column, dtype: str) -> Column:
        if dtype.startswith("map<"):
            return F.array_sort(F.map_entries(col))
        return col

    cond = F.lit(False)
    for c in cols:
        resolved = F.coalesce(F.col(f"u_{c}"), F.col(f"t_{c}"))
        dtype = dtypes.get(c, "")
        cond = cond | ~canon(resolved, dtype).eqNullSafe(canon(F.col(f"t_{c}"), dtype))
    return cond


def merge(
    target: DataFrame,
    updates: DataFrame,
    key_cols: Sequence[Sequence[str]] | Sequence[str],
    id_col: str,
    update_cols: Sequence[str] | None = None,
    details_col: str | None = "details",
    error_on_multi: bool = True,
    update_keys: bool = True,
    single_pass: bool | None = None,
) -> DataFrame:
    """Upsert ``updates`` into ``target``; returns the merged DataFrame.

    key_cols: one key, or a list of alternate keys tried in order (rows
    unmatched by key[0] are retried on key[1], matching upsert_sample's
    ``identifier OR collection_identifier``).
    id_col: surrogate key column of target; new rows get
    xxhash64(first-key columns) — deterministic across runs (SURVEY §7.3
    item 6 warns off monotonically_increasing_id).
    update_cols: columns overwritten on match (default: all shared columns
    except id and details). details_col merged top-level JSON.
    """
    alt_keys: list[list[str]] = (
        [list(k) for k in key_cols]
        if key_cols and not isinstance(key_cols[0], str)
        else [list(key_cols)]
    )
    # A batch may carry only a subset of the table's columns (e.g. the
    # presence-absence ETL updates samples by identifier only, while the
    # manifest ETL carries both identifier and collection_identifier —
    # reference upserts pass explicit column lists per call site). Key
    # passes and update columns are restricted to what the batch has.
    alt_keys = [k for k in alt_keys if all(c in updates.columns for c in k)]
    if not alt_keys:
        raise ValueError("updates carry none of the match keys")
    if update_cols is None:
        update_cols = [
            c for c in updates.columns
            if c in target.columns and c != id_col and c != details_col
        ]
    update_cols = [c for c in update_cols if c in updates.columns]
    if update_keys:
        # upsert_sample's update_identifiers semantics (db/__init__.py:
        # 182-326): a row matched via one alternate key takes the update's
        # value for the OTHER key columns too (null update values keep the
        # target's — coalesce below). find_or_create_* passes update_keys=False.
        for c in dict.fromkeys(sum(alt_keys, [])):
            if c in updates.columns and c != id_col and c not in update_cols:
                update_cols.append(c)
    if details_col and details_col not in updates.columns:
        details_col = None
    compare_cols = list(update_cols) + ([details_col] if details_col else [])

    t = target.select(*[F.col(c).alias(f"t_{c}") for c in target.columns])
    u = updates.select(*[F.col(c).alias(f"u_{c}") for c in updates.columns])

    # --- alternate-key match passes over the shrinking residue -------------
    matched_parts: list[DataFrame] = []
    residue = u
    for keys in alt_keys:
        cond = F.lit(True)
        for k in keys:
            cond = cond & F.col(f"u_{k}").eqNullSafe(F.col(f"t_{k}")) & F.col(f"u_{k}").isNotNull()
        joined = residue.join(t, cond, "inner")
        matched_parts.append(joined)
        residue = residue.join(t, cond, "left_anti")

    matched = matched_parts[0]
    for part in matched_parts[1:]:
        matched = matched.unionByName(part)

    if error_on_multi:
        # Eager by design: the reference aborts on >1 match rather than
        # writing ambiguous rows (db/__init__.py:316-318). Checked across
        # ALL alternate keys against the FULL update set — an update whose
        # identifier matches row A while its collection_identifier matches
        # row B is ambiguous even though the residue-based passes above
        # would only ever apply it to A.
        all_key_cols = sorted(set(sum(alt_keys, [])))
        check_parts = []
        for keys in alt_keys:
            cond = F.lit(True)
            for k in keys:
                cond = cond & F.col(f"u_{k}").eqNullSafe(F.col(f"t_{k}")) & F.col(f"u_{k}").isNotNull()
            check_parts.append(
                u.join(t, cond, "inner").select(
                    *[F.col(f"u_{k}") for k in all_key_cols], F.col(f"t_{id_col}")
                )
            )
        check = check_parts[0]
        for part in check_parts[1:]:
            check = check.unionByName(part)
        multi = (
            check.groupBy(*[f"u_{k}" for k in all_key_cols])
            .agg(F.countDistinct(f"t_{id_col}").alias("n"))
            .filter(F.col("n") > 1)
        )
        bad = multi.limit(1).collect()
        if bad:
            raise MultipleMatchError(f"update matched multiple rows: {bad[0].asDict()}")
        # The converse ambiguity: two update rows carrying the same key would
        # both match one target (or both insert under the same surrogate id).
        # The reference's row-at-a-time loop silently applies them in batch
        # order; a distributed batch has no order, so refuse instead of
        # guessing — callers that mean last-wins must pre-dedupe with an
        # explicit ordinal (e.g. redcap_det.complete_dets does).
        for keys in alt_keys:
            nn = u
            for k in keys:
                nn = nn.filter(F.col(f"u_{k}").isNotNull())
            dup = (
                nn.groupBy(*[f"u_{k}" for k in keys])
                .agg(F.count("*").alias("n"))
                .filter(F.col("n") > 1)
            )
            bad = dup.limit(1).collect()
            if bad:
                raise MultipleMatchError(
                    f"duplicate update rows for key {keys}: {bad[0].asDict()}"
                )

    # --- change detection + column resolution ------------------------------
    changed = _null_safe_changed(matched, update_cols, dict(target.dtypes))

    def ins_col(c: str) -> Column:
        if c == id_col and c not in updates.columns:
            all_keys = sum(alt_keys, [])
            return F.xxhash64(*[F.col(f"u_{k}") for k in all_keys])
        if c in updates.columns:
            return F.col(f"u_{c}")
        return F.lit(None).cast(dict(target.dtypes)[c])

    if single_pass is None:
        single_pass = len(alt_keys) == 1 and details_col is None
    if single_pass:
        assert len(alt_keys) == 1 and details_col is None
        # r16 (guide §2.4): the single-key, no-details merge — the whole
        # branch family (matched / untouched / unchanged / inserts) used
        # to re-derive the updates subplan 5× and the target 4× (Spark
        # does not dedupe common subplans within an action; the bench
        # query's plan showed 5 lineitem-aggregate scans, 13 orders
        # scans, 0 reused exchanges). ONE full-outer join now feeds one
        # branch-selecting projection. Semantics are the staged flow's,
        # including the duplicate-update-key corners error_on_multi=False
        # tolerates: a per-target-id window over MATCHED pairs only
        # (partition key falls back to a u-key hash for unmatched rows,
        # with the matched flag in the key so a hash collision can never
        # mix groups) replays "drop the unchanged copy when any pair of
        # the same target changed" and "emit one unchanged row per id"
        # (every unchanged pair of an id projects the identical target
        # row, so the row_number pick is content-deterministic). Target
        # ids are assumed unique (the surrogate-key contract — the
        # staged flow's distinct-matched_ids anti-joins assume the same).
        from pyspark.sql import Window

        keys = alt_keys[0]
        cond = F.lit(True)
        for k in keys:
            cond = (
                cond
                & F.col(f"u_{k}").eqNullSafe(F.col(f"t_{k}"))
                & F.col(f"u_{k}").isNotNull()
            )
        j = t.withColumn("__t", F.lit(True)).join(
            u.withColumn("__u", F.lit(True)), cond, "full_outer"
        )
        is_matched = F.col("__t").isNotNull() & F.col("__u").isNotNull()
        is_insert = F.col("__t").isNull()
        part_key = F.coalesce(
            F.col(f"t_{id_col}").cast("string"),
            F.xxhash64(*[F.col(f"u_{k}") for k in keys]).cast("string"),
        )
        w = Window.partitionBy(part_key, is_matched)
        j = j.withColumn(
            "__nch",
            F.sum(F.when(is_matched & changed, 1).otherwise(0)).over(w),
        ).withColumn("__rn", F.row_number().over(w.orderBy(F.lit(1))))
        n_changed, rn = F.col("__nch"), F.col("__rn")
        emit = (
            is_insert
            | ~is_matched                       # untouched target rows
            | changed                           # updated pairs
            | ((n_changed == 0) & (rn == 1))    # one unchanged row per id
        )

        def pick(c: str) -> Column:
            upd = (
                F.coalesce(F.col(f"u_{c}"), F.col(f"t_{c}"))
                if c in update_cols and c != id_col
                else F.col(f"t_{c}")
            )
            return (
                F.when(is_insert, ins_col(c))
                .when(is_matched & changed, upd)
                .otherwise(F.col(f"t_{c}"))
                .alias(c)
            )

        return j.filter(emit).select(*[pick(c) for c in target.columns])

    def out_cols(merged_details: Column | None) -> list[Column]:
        cols = []
        for c in target.columns:
            if c == id_col:
                cols.append(F.col(f"t_{id_col}").alias(id_col))
            elif details_col and c == details_col:
                cols.append(merged_details.alias(c))
            elif c in update_cols:
                cols.append(F.coalesce(F.col(f"u_{c}"), F.col(f"t_{c}")).alias(c))
            else:
                cols.append(F.col(f"t_{c}").alias(c))
        return cols

    if details_col:
        # The JSON merge is the one pandas UDF on the write path, so it is
        # gated hard: rows with null incoming details (= "no details in this
        # update", a no-op) never reach Python at all, and for the rest the
        # merge is materialized ONCE as a column (ArrowEvalPython attribute)
        # instead of being re-evaluated by change detection and the output
        # projection separately.
        m_noop = matched.filter(F.col(f"u_{details_col}").isNull())
        m_up = matched.filter(F.col(f"u_{details_col}").isNotNull()).withColumn(
            "__merged",
            json_merge_udf(
                F.coalesce(F.col(f"t_{details_col}"), F.lit("{}")),
                F.col(f"u_{details_col}"),
            ),
        )
        updated_rows = (
            m_noop.filter(changed)
            .select(*out_cols(F.col(f"t_{details_col}")))
            .unionByName(
                m_up.filter(
                    changed | ~F.col("__merged").eqNullSafe(F.col(f"t_{details_col}"))
                ).select(*out_cols(F.col("__merged")))
            )
        )
    else:
        updated_rows = matched.filter(changed).select(*out_cols(None))

    matched_ids = matched.select(F.col(f"t_{id_col}").alias(id_col)).distinct()
    untouched = target.join(matched_ids, id_col, "left_anti")
    unchanged_matched = (
        target.join(matched_ids, id_col, "left_semi")
        .join(updated_rows.select(id_col), id_col, "left_anti")
    )

    # --- inserts with deterministic surrogate keys -------------------------
    # If the surrogate id IS one of the match keys (natural-key tables like
    # orders), inserts keep the natural key; otherwise new rows get
    # xxhash64(match keys) — deterministic across runs (SURVEY §7.3 item 6
    # rules out monotonically_increasing_id).
    all_keys = sum(alt_keys, [])
    insert_cols = []
    for c in target.columns:
        if c == id_col and c not in updates.columns:
            insert_cols.append(
                F.xxhash64(*[F.col(f"u_{k}") for k in all_keys]).alias(id_col)
            )
        elif c in updates.columns:
            insert_cols.append(F.col(f"u_{c}").alias(c))
        else:
            insert_cols.append(F.lit(None).cast(dict(target.dtypes)[c]).alias(c))
    inserts = residue.select(*insert_cols)

    return (
        untouched.unionByName(unchanged_matched)
        .unionByName(updated_rows)
        .unionByName(inserts)
    )
