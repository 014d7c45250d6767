"""Warehouse table bundle: the reference upsert family over one write path.

Each upsert method mirrors one reference upsert (citations inline), and
every ETL upsert — these methods and the kit and consensus-genome ETLs —
goes through :meth:`Warehouse._upsert`: bootstrap a missing table, else a
file-granular copy-on-write MERGE (sources/store.py ``merge_publish``),
both clustered on the first match key. All write paths are full plans —
no per-row loops.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from id3c_spark import schemas
from id3c_spark.operators.merge import merge
from id3c_spark.sources.store import ParquetTable


class Warehouse:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.tables: dict[str, ParquetTable] = {
            name: ParquetTable(spark, os.path.join(root, name))
            for name in schemas.WAREHOUSE_SCHEMAS
        }

    def read(self, name: str) -> DataFrame:
        tbl = self.tables[name]
        if tbl.exists():
            return tbl.read()
        return self.spark.createDataFrame([], schemas.WAREHOUSE_SCHEMAS[name])

    def publish(self, name: str, df: DataFrame) -> None:
        """Whole-table rewrite, for writes that are not keyed upserts."""
        self.tables[name].publish(df)

    def _upsert(
        self,
        name: str,
        updates: DataFrame,
        key_cols,
        run: Callable[[DataFrame], DataFrame],
    ) -> DataFrame:
        """The one ETL upsert: *run* maps target rows to their merged
        replacement (normally operators.merge.merge of *updates* on
        *key_cols*) and returns the merged table. A missing table is
        bootstrapped from an empty target; an existing one merges through
        ``merge_publish``, so footer pruning on the merge keys rewrites
        only the files a batch touches — the 100×-scale shape of the
        reference's per-row upsert transaction (db/__init__.py:182-326).
        Both range-cluster on the first match key's stored columns (a
        derived key column such as a hash is not stored), so later merges
        prune."""
        tbl = self.tables[name]
        schema = schemas.WAREHOUSE_SCHEMAS[name]
        first = [key_cols[0]] if isinstance(key_cols[0], str) else key_cols[0]
        cluster = [k for k in first if k in schema.fieldNames()]
        if tbl.exists():
            tbl.merge_publish(updates, key_cols, run, cluster_by=cluster)
        else:
            tbl.publish(run(self.spark.createDataFrame([], schema)), cluster_by=cluster)
        return self.read(name)

    # --- reference upsert family (SURVEY §2.9) ---------------------------

    def find_or_create_target(self, wanted: DataFrame) -> DataFrame:
        """find_or_create_target (etl/__init__.py:652-682): insert missing
        (identifier, control); never update existing."""
        return self._upsert("target", wanted, ["identifier"], lambda t: merge(
            t, wanted, ["identifier"], "target_id",
            update_cols=[], details_col=None, error_on_multi=False, update_keys=False,
        ))

    def find_or_create_site(self, wanted: DataFrame) -> DataFrame:
        """find_or_create_site (etl/__init__.py:33-63); site identifiers are
        unique case-insensitively (site.sql:12-14) — normalize before match."""
        return self._upsert("site", wanted, ["identifier"], lambda t: merge(
            t, wanted, ["identifier"], "site_id",
            update_cols=[], details_col=None, error_on_multi=False, update_keys=False,
        ))

    def upsert_individual(self, updates: DataFrame) -> DataFrame:
        """upsert_individual (etl/__init__.py:66-140): match identifier,
        update sex, merge details."""
        return self._upsert("individual", updates, ["identifier"], lambda t: merge(
            t, updates, ["identifier"], "individual_id", update_cols=["sex"],
        ))

    def upsert_encounter(self, updates: DataFrame) -> DataFrame:
        """upsert_encounter (etl/__init__.py:143-249): match identifier."""
        return self._upsert("encounter", updates, ["identifier"], lambda t: merge(
            t, updates, ["identifier"], "encounter_id",
            update_cols=["individual_id", "site_id", "encountered", "age_months"],
        ))

    def upsert_sample(self, updates: DataFrame) -> DataFrame:
        """upsert_sample (db/__init__.py:182-326): alternate-key match on
        identifier OR collection_identifier; error on multi-match."""
        keys = [["identifier"], ["collection_identifier"]]
        return self._upsert("sample", updates, keys, lambda t: merge(
            t, updates, keys, "sample_id",
            update_cols=["collection_identifier", "encounter_id", "collected", "access_role"],
        ))

    def upsert_presence_absence(self, updates: DataFrame) -> DataFrame:
        """upsert_presence_absence (etl/__init__.py:548-649): match
        identifier; re-tests are corrections (present may flip)."""
        return self._upsert("presence_absence", updates, ["identifier"], lambda t: merge(
            t, updates, ["identifier"], "presence_absence_id",
            update_cols=["sample_id", "target_id", "present"],
        ))

    def upsert_location(self, updates: DataFrame) -> DataFrame:
        """upsert_location (etl/__init__.py:378-466): match (scale,
        identifier); hierarchy right-biased concat happens in the caller."""
        keys = [["scale", "identifier"]]
        return self._upsert("location", updates, keys, lambda t: merge(
            t, updates, keys, "location_id",
            update_cols=["hierarchy", "point_wkt", "polygon_wkt", "simplified_polygon_wkt"],
        ))

    def upsert_encounter_location(self, updates: DataFrame) -> DataFrame:
        """upsert_encounter_location (etl/__init__.py:469-545): match
        (encounter_id, relation citext)."""
        keys = [["encounter_id", "relation"]]

        def run(target: DataFrame) -> DataFrame:
            current = target.withColumn(
                "el_id", F.xxhash64("encounter_id", "relation")  # composite PK surrogate
            )
            return merge(
                current, updates, keys, "el_id", update_cols=["location_id"],
            ).drop("el_id")

        return self._upsert("encounter_location", updates, keys, run)
