"""Copy-on-write parquet table store — the warehouse's one write path.

Local stand-in for a transactional table format: Delta/Iceberg jars are
not in this image (see pyspark guide), so writes go to a new versioned
directory and a ``_CURRENT`` pointer file flips atomically — readers never
see a partial write, and failed jobs leave the previous version intact
(the reference's "commit nothing on hard error" transaction guarantee,
SURVEY §7.3 item 5, via shadow-write-then-publish).

Each write-path decision is made once, here:

- **file statistics** — :func:`footer_range` is the one parquet footer
  reader and :func:`overlapping_files` the one test of which files a key
  batch or predicate may touch (merge_publish, pruned_files,
  pruned_files_in);
- **layout** — :func:`clustered` range-clusters rows on columns or on a
  Morton key (publish, stage, merge_publish, compact_incremental, and the
  ``corpus zorder`` CLI for plain parquet directories);
- **commit** — ``ParquetTable._commit`` writes a version, hard-links the
  carried files into it and flips the pointer (merge_publish, append,
  compact_incremental, publish).

On a real cluster, swap ParquetTable for Delta and operators/merge.py
feeds MERGE INTO unchanged.
"""

from __future__ import annotations

import bisect
import glob
import os
import shutil
from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def zorder_key_expr(
    df: DataFrame,
    cols: Sequence[str],
    bits: int = 16,
) -> Column:
    """Morton (Z-order) key expression interleaving the given numeric
    columns' bits — the multi-dimensional clustering layout (Delta's
    OPTIMIZE ZORDER BY): range-clustering files on the Z key keeps every
    participating column's per-file footer min/max range tight AT ONCE,
    so read_pruned / merge_publish skip files on ANY of the columns. A
    linear sort serves only its leading column.

    Each column is min/max-normalized to *bits* bits with one tiny
    global aggregate over *df* (collected: 2·|cols| scalars), then bits
    interleave JVM-side as a shiftright/and/shiftleft expression tree —
    whole-stage codegen, no UDF. NULLs map to bucket 0 (they cluster
    together at the low end). bits·|cols| must fit a long (≤ 62). The
    returned Column is name-bound (plain ``F.col`` refs), so it applies
    to any frame carrying *cols*.
    """
    assert bits * len(cols) <= 62, "z-key overflows a long"
    stats = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"mn_{c}") for c in cols],
        *[F.max(F.col(c).cast("double")).alias(f"mx_{c}") for c in cols],
    ).collect()[0]
    top = (1 << bits) - 1
    parts: list[Column] = []
    for ci, c in enumerate(cols):
        mn, mx = stats[f"mn_{c}"], stats[f"mx_{c}"]
        span = (mx - mn) if (mn is not None and mx is not None and mx > mn) else None
        if span is None:
            bucket = F.lit(0).cast("long")
        else:
            # coalesce INSIDE least: Spark's least() skips NULL args, so
            # least(top, NULL) is top — a NULL value would land in the
            # highest bucket instead of 0
            bucket = F.least(
                F.lit(top).cast("long"),
                F.coalesce(
                    F.floor(
                        (F.col(c).cast("double") - F.lit(mn))
                        / F.lit(span)
                        * F.lit(top + 1)
                    ),
                    F.lit(0).cast("long"),
                ),
            ).cast("long")
        for b in range(bits):
            parts.append(
                F.shiftleft(
                    F.shiftright(bucket, b).bitwiseAND(F.lit(1)),
                    b * len(cols) + ci,
                )
            )
    key = parts[0]
    for p in parts[1:]:
        key = key.bitwiseOR(p)
    return key


def with_zorder_key(
    df: DataFrame,
    cols: Sequence[str],
    bits: int = 16,
    key_col: str = "_zkey",
) -> DataFrame:
    """*df* plus the :func:`zorder_key_expr` Morton key as *key_col*."""
    return df.withColumn(key_col, zorder_key_expr(df, cols, bits))


# Distinct batch keys a merge collects for exact per-value pruning; past
# this many, pruning falls back to the batch's key range.
MERGE_KEY_CAP = 100_000


def clustered(
    df: DataFrame,
    cluster_by: Sequence[str] | None = None,
    zorder_by: Sequence[str] | None = None,
    partitions: int | None = None,
) -> DataFrame:
    """The write layout: range-partition + sort on the *cluster_by*
    columns, or on a Morton key over *zorder_by* (dropped before the
    write — it is a layout device, not data), so each output file's
    footer min/max covers a narrow slice of the key space and
    :func:`overlapping_files` skips the rest. *partitions* pins the file
    count (an explicit repartition count opts out of AQE's partition
    coalescing, which would otherwise fold a small table into one file
    and defeat layout tests / incremental compaction targets); None
    sizes by spark.sql.shuffle.partitions + AQE."""
    if zorder_by:
        df, keys = with_zorder_key(df, zorder_by), ["_zkey"]
    elif cluster_by:
        keys = list(cluster_by)
    elif partitions:  # honor an explicit file count even unclustered
        return df.repartition(partitions)
    else:
        return df
    args = ([partitions] if partitions else []) + [F.col(c) for c in keys]
    out = df.repartitionByRange(*args).sortWithinPartitions(*keys)
    return out.drop("_zkey") if zorder_by else out


def footer_range(fname: str, column: str) -> tuple | None:
    """(min, max) footer statistics for *column* across a parquet file's
    row groups, or None when the column or any row group's stats are
    absent (such a file can never be proven skippable). Truncated string
    stats are safe: parquet truncation keeps min a lower bound and max an
    upper."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(fname).metadata
    if column not in md.schema.names:
        return None
    idx = md.schema.names.index(column)
    mins, maxs = [], []
    for rg in range(md.num_row_groups):
        st = md.row_group(rg).column(idx).statistics
        if st is None or not st.has_min_max:
            return None
        mins.append(st.min)
        maxs.append(st.max)
    if not mins:
        return None
    return (min(mins), max(maxs))


def _admits(rng: tuple | None, bound: list | tuple) -> bool:
    """Whether a file whose footer range is *rng* may hold a row matching
    *bound*: a sorted list of values, or a (lo, hi) pair with None for an
    unbounded side. Missing or incomparable stats admit (stay safe)."""
    if rng is None:
        return True
    try:
        if isinstance(bound, list):
            i = bisect.bisect_left(bound, rng[0])
            return i < len(bound) and bound[i] <= rng[1]
        lo, hi = bound
        return not (
            (hi is not None and rng[0] > hi) or (lo is not None and rng[1] < lo)
        )
    except TypeError:
        return True


def overlapping_files(
    files: Sequence[str],
    bounds: dict[str, list | tuple],
    match: Callable = all,
) -> list[str]:
    """The *files* whose footer statistics may hold a matching row: per
    column, *bounds* gives a sorted value list (point set) or a (lo, hi)
    range; *match* combines the columns — ``all`` for a conjunctive
    predicate, ``any`` for alternate merge keys. Extra files are correct,
    missed ones are not, so a file is dropped only on proof."""
    return [
        f for f in files
        if match(_admits(footer_range(f, c), b) for c, b in bounds.items())
    ]


class ParquetTable:
    def __init__(self, spark: SparkSession, path: str, keep_versions: int = 2):
        """*keep_versions* controls vacuum retention: raise it (or pass a
        large value) to keep historical versions readable for time-travel
        — pinning the exact corpus snapshot a training run consumed is
        the reproducibility guarantee a data pipeline owes its models."""
        self.spark = spark
        self.path = path
        self.keep_versions = keep_versions
        os.makedirs(path, exist_ok=True)

    @property
    def _pointer(self) -> str:
        return os.path.join(self.path, "_CURRENT")

    def current_version(self) -> int | None:
        try:
            with open(self._pointer) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return None

    def exists(self) -> bool:
        return self.current_version() is not None

    def versions(self) -> list[int]:
        """Version numbers still on disk (ascending) — the time-travel
        horizon. Bounded by keep_versions at each flip."""
        return sorted(
            int(name[1:])
            for name in os.listdir(self.path)
            if name.startswith("v") and name[1:].isdigit()
        )

    def read(self, version: int | None = None) -> DataFrame:
        """Current version, or a pinned historical *version* (time
        travel). Raises FileNotFoundError for vacuumed/unknown versions."""
        v = self.current_version() if version is None else version
        if v is None:
            raise FileNotFoundError(f"no published version at {self.path}")
        out = os.path.join(self.path, f"v{v}")
        if not os.path.isdir(out):
            raise FileNotFoundError(
                f"version {v} not on disk at {self.path} "
                f"(kept: {self.versions()}; raise keep_versions to retain more)"
            )
        return self.spark.read.parquet(out)

    def files(self, version: int | None = None) -> list[str]:
        """Data files of a version — the unit of copy-on-write."""
        v = self.current_version() if version is None else version
        if v is None:
            return []
        return sorted(glob.glob(os.path.join(self.path, f"v{v}", "*.parquet")))

    def _read_files(self, files: Sequence[str], schema) -> DataFrame:
        """Rows of *files* read with *schema*, or an empty frame of it."""
        if not files:
            return self.spark.createDataFrame([], schema)
        return self.spark.read.schema(schema).parquet(*files)

    def merge_publish(
        self,
        updates: DataFrame,
        key_cols: Sequence[Sequence[str]] | Sequence[str],
        merge_fn: Callable[[DataFrame], DataFrame],
        cluster_by: Sequence[str] | None = None,
        zorder_by: Sequence[str] | None = None,
    ) -> int:
        """File-granular copy-on-write MERGE: rewrite ONLY the files whose
        footer statistics may hold one of the update batch's keys;
        hard-link every other file unchanged into the new version.

        This is the scale fix for the §2.9 write path (reference
        lib/id3c/db/__init__.py:182-326 upserts row-at-a-time; Delta/Iceberg
        MERGE prunes files the same way): a 100 TB table clustered on its
        merge key rewrites a few files per ETL batch, not the table.

        *key_cols* mirrors operators.merge.merge's alternate-key shape; the
        first column of each alternate key drives pruning (conservative —
        extra candidates are correct, missed ones are not, and footer
        non-overlap proves no row in the file can match). A batch's
        distinct keys prune per value up to MERGE_KEY_CAP of them (a
        min/max range dies the moment one insert key sits past the
        table's range, stretching it over every file); past the cap they
        prune by the batch's key range.
        *merge_fn* receives the candidate-file rows (never the whole table)
        and returns the merged replacement for exactly those rows plus any
        inserts — operators.merge.merge over the candidates is exact because
        matches can only live in candidate files.
        *cluster_by*/*zorder_by*: the :func:`clustered` layout of the
        rewritten files, so footer ranges stay tight for the NEXT merge.
        """
        if not self.exists():
            raise FileNotFoundError(
                f"no published version at {self.path}: bootstrap with "
                "publish() (the target schema is not derivable from updates)"
            )
        alt_keys: list[list[str]] = (
            [list(k) for k in key_cols]
            if key_cols and not isinstance(key_cols[0], str)
            else [list(key_cols)]
        )
        prune_cols = sorted(
            {k[0] for k in alt_keys if k and k[0] in updates.columns}
        )
        schema = self.read().schema
        files = self.files()
        candidates = files
        if prune_cols:
            bounds: dict[str, list | tuple] = {}
            for c in prune_cols:
                keys = [
                    r[0]
                    for r in updates.select(c)
                    .filter(F.col(c).isNotNull())
                    .distinct()
                    .limit(MERGE_KEY_CAP + 1)
                    .collect()
                ]
                if len(keys) > MERGE_KEY_CAP:
                    bounds[c] = tuple(updates.agg(F.min(c), F.max(c)).collect()[0])
                elif keys:  # a column with no non-null keys matches nothing
                    bounds[c] = sorted(keys)
            candidates = overlapping_files(files, bounds, match=any)
        carried = sorted(set(files) - set(candidates))
        merged = merge_fn(self._read_files(candidates, schema))
        return self._commit(clustered(merged, cluster_by, zorder_by), carried)

    def pruned_files(
        self,
        ranges: dict[str, tuple],
        version: int | None = None,
    ) -> list[str]:
        """The files a read_pruned(*ranges*) would open: footer min/max
        proven to overlap every [lo, hi] bound (None = unbounded), plus
        any file lacking usable stats (never prove-skip without proof)."""
        return overlapping_files(
            self.files(version), {c: tuple(b) for c, b in ranges.items()}
        )

    def pruned_files_in(
        self,
        column: str,
        values,
        version: int | None = None,
    ) -> list[str]:
        """The files a point-set lookup would open: footer min/max admits
        at least one of *values* (files lacking stats are kept — skipping
        must never drop rows). The IN-list analogue of pruned_files: on a
        table clustered by *column*, a scattered probe set (e.g. an ANN
        query's nprobe cells) touches only its cells' files."""
        return overlapping_files(
            self.files(version), {column: sorted(set(values))}
        )

    def read_pruned_in(
        self,
        column: str,
        values,
        version: int | None = None,
    ) -> DataFrame:
        """Data-skipping IN-list read: only files whose footer range
        admits one of *values*, with the exact membership filter on
        top."""
        schema = self.read(version).schema
        keep = self.pruned_files_in(column, values, version)
        return self._read_files(keep, schema).filter(
            F.col(column).isin(list(values))
        )

    def read_pruned(
        self,
        ranges: dict[str, tuple],
        version: int | None = None,
    ) -> DataFrame:
        """Data-skipping read: open ONLY the files whose footer min/max
        overlaps every [lo, hi] in *ranges* (either bound None =
        unbounded), with the residual row filter applied on top. The
        file-level analogue of partition pruning — on a table clustered
        with cluster_by/zorder_by, a point or range lookup touches a few
        files of a 100 TB table instead of scanning it. Files without
        usable stats are read (skipping must never drop rows)."""
        schema = self.read(version).schema
        df = self._read_files(self.pruned_files(ranges, version), schema)
        for c, (lo, hi) in ranges.items():
            if lo is not None:
                df = df.filter(F.col(c) >= lo)
            if hi is not None:
                df = df.filter(F.col(c) <= hi)
        return df

    def _write_version(self, df: DataFrame, carried: Sequence[str] = ()) -> int:
        """Write *df* as the next version directory and hard-link each
        *carried* file of the current version into it (zero-copy carry
        forward; a copy where links are unsupported). Not yet visible."""
        v = (self.current_version() or 0) + 1
        out = os.path.join(self.path, f"v{v}")
        df.write.mode("overwrite").parquet(out)
        for fname in carried:
            dst = os.path.join(out, os.path.basename(fname))
            try:
                os.link(fname, dst)
            except OSError:
                shutil.copy2(fname, dst)
        return v

    def _commit(self, df: DataFrame, carried: Sequence[str] = ()) -> int:
        """The one commit: stage *df* plus the *carried* files as the
        next version, then flip readers to it."""
        v = self._write_version(df, carried)
        self.flip(v)
        return v

    def stage(
        self,
        df: DataFrame,
        cluster_by: Sequence[str] | None = None,
        zorder_by: Sequence[str] | None = None,
        partitions: int | None = None,
    ) -> int:
        """Write a new version directory WITHOUT flipping the pointer.
        Readers keep seeing the old version until flip(); a failure after
        staging leaves only an unreferenced directory behind. Lets a
        multi-table promotion do all its expensive writes first and flip
        every pointer in one quick final pass. *cluster_by*/*zorder_by*
        pick the :func:`clustered` file layout (tight footer ranges →
        read_pruned and merge_publish skip files)."""
        return self._write_version(
            clustered(df, cluster_by, zorder_by, partitions)
        )

    def flip(self, v: int) -> None:
        """Atomically point readers at a previously staged version."""
        tmp = self._pointer + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(v))
        os.replace(tmp, self._pointer)
        self._vacuum(keep=self.keep_versions)

    def publish(
        self,
        df: DataFrame,
        cluster_by: Sequence[str] | None = None,
        zorder_by: Sequence[str] | None = None,
        partitions: int | None = None,
    ) -> int:
        """Write a new version, then flip the pointer (atomic rename)."""
        return self._commit(clustered(df, cluster_by, zorder_by, partitions))

    def append(self, df: DataFrame, evolve: bool = False) -> int:
        """Append rows as a new version. With *evolve*, either side may
        carry columns the other lacks (schema evolution on append): the
        union fills the gaps with NULLs, so old rows acquire new columns
        as NULL and late producers of a dropped column keep working —
        the additive-only evolution contract a training corpus needs
        (never silently drops or retypes existing columns).

        Same-schema appends are FILE-GRANULAR: only the new rows are
        written; every existing file hard-links into the new version
        untouched, so a streaming micro-batch append costs O(batch), not
        O(table) — the same scale fix as merge_publish (a 100 TB corpus
        ingest cannot rewrite the corpus per micro-batch). The
        union-rewrite path remains only for schema evolution, where old
        files must acquire the new columns."""
        if not self.exists():
            return self.publish(df)
        cur_schema = self.read().schema
        same = [f.name for f in cur_schema] == df.columns and all(
            f.dataType == g.dataType for f, g in zip(cur_schema, df.schema)
        )
        if not same and set(df.columns) == {f.name for f in cur_schema}:
            # column order differs only: align and retry the fast path
            aligned = df.select(*[f.name for f in cur_schema])
            if all(
                f.dataType == g.dataType
                for f, g in zip(cur_schema, aligned.schema)
            ):
                df, same = aligned, True
        if not same:
            return self.publish(
                self.read().unionByName(df, allowMissingColumns=evolve)
            )
        return self._commit(df, self.files())

    def compact(self, target_files: int) -> int:
        """Rewrite the current version into *target_files* files (small-
        file compaction after many incremental appends — the OPTIMIZE
        step). Data is unchanged: readers see the same rows, just fewer,
        larger files; published as a normal new version so time travel
        and the atomic pointer flip still hold. coalesce() not
        repartition(): no shuffle, partitions merge in place.

        Full-table rewrite — O(table). For routine post-ingest upkeep on
        a large table use :meth:`compact_incremental`, which touches only
        the undersized files."""
        return self.publish(self.read().coalesce(target_files))

    def compact_incremental(
        self,
        min_file_bytes: int = 64 << 20,
        cluster_by: Sequence[str] | None = None,
        zorder_by: Sequence[str] | None = None,
    ) -> int:
        """Incremental OPTIMIZE: bin-pack ONLY the files smaller than
        *min_file_bytes* into fewer files; every already-large file
        hard-links into the new version untouched. After many streaming
        micro-batch appends this is O(small-file debt), not O(table) —
        a 100 TB corpus pays for its stragglers, never for its bulk.
        No-op (returns the current version) when fewer than two files
        are undersized, so it is safe to run on a schedule.

        On a clustered table pass the SAME *cluster_by*/*zorder_by* as
        the original publish: the packed files then re-sort on the
        cluster key, so their footer ranges stay as tight as the bulk's
        and read_pruned keeps skipping them (a plain coalesce of
        interleaved appends would give the packed files full-width
        footers)."""
        small = [f for f in self.files() if os.path.getsize(f) < min_file_bytes]
        if len(small) < 2:
            return self.current_version() or 0
        large = [f for f in self.files() if f not in set(small)]
        bins = max(1, sum(os.path.getsize(f) for f in small) // min_file_bytes + 1)
        packed = self._read_files(small, self.read().schema)
        packed = (
            clustered(packed, cluster_by, zorder_by, int(bins))
            if (cluster_by or zorder_by)
            else packed.coalesce(int(bins))
        )
        return self._commit(packed, large)

    def changes(self, v_from: int, v_to: int | None = None) -> DataFrame:
        """Row-level change feed between two versions (the CDC read
        `table_changes()` gives on Delta): rows only in *v_to* tagged
        ``insert``, rows only in *v_from* tagged ``delete`` — a merge
        update surfaces as its delete+insert pair.

        FILE-GRANULAR: files carried forward between the versions by
        hard link (same basename — merge_publish/append/compact never
        reuse a basename for different content) contribute equal
        multisets to both sides of the diff, so they cancel exactly and
        are never read. The exceptAll runs over only the files that
        differ — on a 100 TB table where one ETL run rewrote a few key
        ranges, the change feed costs O(rewritten files), not two full
        snapshots. Both sides read with *v_to*'s schema, so columns
        added by an evolving append read as NULL on the old side."""
        f_old = {os.path.basename(f): f for f in self.files(v_from)}
        f_new = {os.path.basename(f): f for f in self.files(v_to)}
        schema = self.read(v_to).schema
        old_only = self._read_files(
            [f for b, f in f_old.items() if b not in f_new], schema
        )
        new_only = self._read_files(
            [f for b, f in f_new.items() if b not in f_old], schema
        )
        added = new_only.exceptAll(old_only)
        removed = old_only.exceptAll(new_only)
        return added.withColumn("_change_type", F.lit("insert")).unionByName(
            removed.withColumn("_change_type", F.lit("delete"))
        )

    def _vacuum(self, keep: int) -> None:
        v = self.current_version() or 0
        for name in os.listdir(self.path):
            if name.startswith("v") and name[1:].isdigit() and int(name[1:]) <= v - keep:
                shutil.rmtree(os.path.join(self.path, name), ignore_errors=True)
