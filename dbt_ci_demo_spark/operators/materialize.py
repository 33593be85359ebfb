"""Warehouse + materialization writers (SURVEY.md §2.B.1-B.3, B1-B7).

The reference's materializations are SQL-generation macros (CTAS, CREATE
OR REPLACE VIEW, MERGE scripts) executed by BigQuery. Here they are writer
policies over a Spark-managed warehouse:

- table        → atomic CTAS: ``saveAsTable`` overwrite
  (bigquery__create_table_as @16759, materialization_table_bigquery @48682)
- view         → catalog view over the model's SQL, falling back to a
  session temp view for DataFrame-defined models
  (bigquery__create_view_as @18769)
- incremental  → first run CTAS, then strategy ∈ merge / delete+insert /
  insert_overwrite (materialization_incremental_bigquery @39833);
  insert_overwrite on a partitioned table uses Spark's native *dynamic
  partition overwrite* — only the partitions present in the new batch are
  rewritten, the 100 TB-safe path (bq_insert_overwrite @34992 ≡
  partitionOverwriteMode=dynamic)
- snapshot     → SCD2 cycle (operators/snapshot.py) + atomic swap
- seed         → CSV with inferred schema + per-column type overrides
  (default__create_csv_table @68626, bigquery__load_csv_rows @53188)
- copy         → table-to-table copy (materialization_copy_bigquery @45600)
- date-sharded → per-date partition writes (make_date_partitioned_table
  @47149) via dynamic overwrite

Atomicity: plain-parquet Spark cannot MERGE in place, and an incremental
rewrite reads the table it replaces. Writers therefore stage to
``<name>__dbt_tmp`` (the reference's temp-relation suffix) and swap with
DROP + ALTER TABLE RENAME — the same create-new/swap dance
materialization_table_default performs with backup/intermediate relations
(@125935). At true 100 TB scale the same writer API slots over a v2
catalog (Delta/Iceberg) whose MERGE INTO is row-level atomic; the
*transforms* (operators/incremental.py) are unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbt_ci_demo_spark.operators import incremental as incr
from dbt_ci_demo_spark.operators import snapshot as snap

TMP_SUFFIX = "__dbt_tmp"


def run_statements(spark: SparkSession, statements: list[str]) -> DataFrame | None:
    """B31 statement executor: run SQL statements in order, return the last
    result (the reference's ``statement``/``run_query`` call blocks —
    default__statement executes arbitrary SQL against the adapter and the
    caller reads ``load_result``; manifest.json:1 macro ``statement``).
    Spark-side each statement is one ``spark.sql`` call; DDL/DML return
    empty DataFrames, queries return their result lazily."""
    result: DataFrame | None = None
    for s in statements:
        result = spark.sql(s)
    return result


def _session_view(database: str, name: str) -> str:
    """Session temp-view alias for a DataFrame-lineage view (see
    Warehouse.create_view): database-scoped so two Warehouses can't
    collide."""
    return f"{database}__view__{name}"


def read_relation(spark: SparkSession, database: str, name: str) -> DataFrame:
    """Read ``<database>.<name>`` the way a :class:`Warehouse` over
    ``database`` would, without one (``ref()`` deferral reads another
    environment's relations). DataFrame-lineage views (create_view(df=...))
    live as session temp views under the scoped alias; before the r10
    review fix they were registered under the BARE name, which the
    qualified resolution could never see — every downstream ref() of a
    view-materialized model failed TABLE_OR_VIEW_NOT_FOUND."""
    sv = _session_view(database, name)
    if spark.catalog.tableExists(sv):
        return spark.table(sv)
    return spark.table(f"`{database}`.`{name}`")


class Warehouse:
    """One database (≈ BigQuery dataset / dbt schema) in the Spark catalog.

    DDL surface (B6): create/drop schema (bigquery__create_schema @19635,
    __drop_schema @20276), drop/rename relation (@20907, @27330), and the
    introspection used by materializations (list/exists).
    """

    def __init__(self, spark: SparkSession, database: str, location: str | None = None):
        self.spark = spark
        self.database = database
        # Escape the location literal like persist_docs does (r13 review,
        # same class as the r10 finding there): Spark SQL string literals
        # are backslash-escaped as well as quote-escaped, so a Windows
        # path or quoted directory name would otherwise corrupt or break
        # the DDL.
        loc = (
            " LOCATION '" + location.replace("\\", "\\\\").replace("'", "''") + "'"
            if location
            else ""
        )
        spark.sql(f"CREATE DATABASE IF NOT EXISTS `{database}`{loc}")

    def qualified(self, name: str) -> str:
        return f"`{self.database}`.`{name}`"

    def _session_view(self, name: str) -> str:
        return _session_view(self.database, name)

    def exists(self, name: str) -> bool:
        return self.spark.catalog.tableExists(
            f"{self.database}.{name}"
        ) or self.spark.catalog.tableExists(self._session_view(name))

    def read(self, name: str) -> DataFrame:
        return read_relation(self.spark, self.database, name)

    def drop(self, name: str) -> None:
        self.spark.sql(f"DROP TABLE IF EXISTS {self.qualified(name)}")
        self.spark.sql(f"DROP VIEW IF EXISTS {self.qualified(name)}")
        self.spark.catalog.dropTempView(self._session_view(name))

    def rename(self, old: str, new: str) -> None:
        self.spark.sql(f"ALTER TABLE {self.qualified(old)} RENAME TO {self.qualified(new)}")

    def drop_database(self) -> None:
        self.spark.sql(f"DROP DATABASE IF EXISTS `{self.database}` CASCADE")

    def list_tables(self) -> list[str]:
        return [t.name for t in self.spark.catalog.listTables(self.database)]

    def truncate(self, name: str) -> None:
        """default__truncate_relation (@181945). TRUNCATE TABLE works for
        Spark managed tables; partitioned tables drop all partitions."""
        self.spark.sql(f"TRUNCATE TABLE {self.qualified(name)}")

    def add_columns(self, name: str, columns: dict[str, str]) -> None:
        """bigquery__alter_relation_add_columns (@28020): metadata-only
        ALTER TABLE ADD COLUMNS — existing parquet files are unchanged,
        readers fill the new columns with NULL."""
        if not columns:
            return
        cols = ", ".join(f"`{c}` {t}" for c, t in columns.items())
        self.spark.sql(f"ALTER TABLE {self.qualified(name)} ADD COLUMNS ({cols})")

    def drop_columns(self, name: str, columns: list[str]) -> None:
        """bigquery__alter_relation_drop_columns (@28991): plain-parquet
        tables cannot drop columns in metadata, so this is the reference's
        CTAS-rewrite path (same as bigquery__alter_column_type): project
        the survivors and swap."""
        if not columns:
            return
        self.swap_in(self.read(name).drop(*columns), name)

    def alter_column_type(self, name: str, column: str, new_type: str) -> None:
        """bigquery__alter_column_type (@29950): CTAS rewrite with CAST —
        read, cast the one column, stage, swap. (Widening types on a v2
        catalog would be metadata-only; parquet v1 requires the rewrite,
        exactly like BigQuery.)"""
        df = self.read(name).withColumn(column, F.col(column).cast(new_type))
        self.swap_in(df, name)

    def persist_docs(
        self, name: str, description: str | None = None,
        column_comments: dict[str, str] | None = None,
    ) -> None:
        """bigquery__persist_docs (@25819): table description →
        TBLPROPERTIES comment; column docs → ALTER COLUMN COMMENT.

        Escaping (r10 review finding, verified live): Spark SQL string
        literals are BACKSLASH-escaped as well as quote-escaped — an
        unescaped 'C:\\temp' stored a TAB and a trailing backslash ate
        the closing quote (ParseException) — so both characters are
        escaped."""

        def _lit(s: str) -> str:
            return s.replace("\\", "\\\\").replace("'", "''")

        if description is not None:
            safe = _lit(description)
            self.spark.sql(
                f"ALTER TABLE {self.qualified(name)} SET TBLPROPERTIES ('comment' = '{safe}')"
            )
        for col, comment in (column_comments or {}).items():
            safe = _lit(comment)
            self.spark.sql(
                f"ALTER TABLE {self.qualified(name)} ALTER COLUMN `{col}` COMMENT '{safe}'"
            )

    # -- writers ----------------------------------------------------------

    def write_table(
        self,
        df: DataFrame,
        name: str,
        partition_by: str | None = None,
        cluster_by: list[str] | None = None,
        bucket_by: tuple[list[str], int] | None = None,
        mode: str = "overwrite",
    ) -> None:
        """CTAS (B1). partition_by → hive-style partition layout (the
        BigQuery ``partition by`` DDL); cluster_by → sortWithinPartitions
        before write, giving parquet row-group locality (the ``cluster by``
        analog — keeps AQE free to choose join strategies); bucket_by →
        ``bucketBy(n, cols) + sortBy(cols)``, the stricter contract: two
        tables bucketed on the same keys with the same bucket count join
        with NO shuffle on either side (verified by
        tests/test_runner.py::test_bucketed_join_is_shuffle_free) — the
        co-location lever for fact-to-fact joins that repeat every run,
        where paying one bucketed write amortizes across all later joins."""
        out = df
        if cluster_by and not bucket_by:
            out = out.sortWithinPartitions(*cluster_by)
        writer = out.write.format("parquet").mode(mode)
        if partition_by:
            writer = writer.partitionBy(partition_by)
        if bucket_by:
            cols, n_buckets = bucket_by
            writer = writer.bucketBy(n_buckets, *cols).sortBy(*(cluster_by or cols))
        writer.saveAsTable(f"{self.database}.{name}")
        # a model switching view -> table must not leave a stale session
        # view shadowing the new physical relation in read()
        self.spark.catalog.dropTempView(self._session_view(name))

    def _scrub_location(self, name: str) -> None:
        """Delete leftover files at a managed table's default location.

        A CTAS that aborts mid-write (task failure) can leave part/staging
        files under ``<db location>/<name>`` WITHOUT a catalog entry — so
        ``DROP TABLE IF EXISTS`` is a no-op and the next ``saveAsTable``
        refuses to create a managed table over a non-empty location
        (observed as the r06 full-suite flake of the swap_in
        fault-injection test: under load, task-abort cleanup races the
        next staging write). Uses the Hadoop FileSystem API so it works
        on any scheme, not just local disk."""
        try:
            loc = self.spark.catalog.getDatabase(self.database).locationUri
        except Exception:
            return
        jvm = self.spark._jvm
        jsc = self.spark._jsc
        path = jvm.org.apache.hadoop.fs.Path(f"{loc}/{name}")
        fs = path.getFileSystem(jsc.hadoopConfiguration())
        if fs.exists(path):
            fs.delete(path, True)

    def _partition_col(self, name: str) -> str | None:
        """First partition column of an existing table (None if
        unpartitioned or absent) — the layout swap_in preserves. One
        ``DESCRIBE TABLE`` round trip, not ``catalog.listColumns``, which
        PySpark reads through a local iterator: two Spark jobs and
        ~110-145 ms against ~25 ms and none (idle 4-core local JVM). The
        partition columns follow the ``# Partition Information`` and
        ``# col_name`` header rows."""
        try:
            rows = self.spark.sql(f"DESCRIBE TABLE {self.qualified(name)}").collect()
        except Exception:
            return None
        names = [r.col_name for r in rows]
        if "# Partition Information" not in names:
            return None
        i = names.index("# Partition Information") + 2
        return names[i] if i < len(names) else None

    def swap_in(self, df: DataFrame, name: str, partition_by: str | None = None,
                cluster_by: list[str] | None = None) -> None:
        """Stage-and-swap for results that read the table they replace.
        A failed staging write never leaves debris: the stale tmp catalog
        entry AND any orphaned files at the tmp location are scrubbed both
        up front (recovery from a prior crash) and on failure (so the
        exception propagates from a clean state).

        Partition preservation (r10 review finding): when ``partition_by``
        is omitted and the table being replaced is hive-partitioned, the
        replacement INHERITS the existing partition column — the DDL
        rewrites (drop_columns/alter_column_type) and snapshot merges
        were silently flattening partitioned tables, which besides losing
        pruning made a later dynamic insert_overwrite a full-table
        overwrite. A result that no longer carries the partition column
        (drop_columns of the partition key) writes unpartitioned."""
        if partition_by is None:
            inherited = self._partition_col(name)
            if inherited and inherited in df.columns:
                partition_by = inherited
        tmp = f"{name}{TMP_SUFFIX}"
        self.drop(tmp)
        self._scrub_location(tmp)
        try:
            self.write_table(df, tmp, partition_by=partition_by, cluster_by=cluster_by)
        except Exception:
            self.drop(tmp)
            self._scrub_location(tmp)
            raise
        self.drop(name)
        self.rename(tmp, name)

    def create_view(self, name: str, sql: str | None = None, df: DataFrame | None = None) -> None:
        """B2. With SQL text → a real catalog view (CREATE OR REPLACE VIEW);
        with only a DataFrame → a session temp view under the warehouse's
        SCOPED alias (documented parity gap: BigQuery views are
        server-side objects, Spark DataFrame lineage is session-side —
        but the relation is fully addressable through this Warehouse:
        read()/exists()/drop() resolve it, so a Runner view model and its
        downstream refs work; r10 review finding — the old bare-name temp
        view was invisible to the qualified read path). Any same-named
        physical relation is dropped first (CREATE OR REPLACE parity)."""
        if sql is not None:
            self.spark.sql(f"CREATE OR REPLACE VIEW {self.qualified(name)} AS {sql}")
        elif df is not None:
            self.spark.sql(f"DROP TABLE IF EXISTS {self.qualified(name)}")
            self.spark.sql(f"DROP VIEW IF EXISTS {self.qualified(name)}")
            df.createOrReplaceTempView(self._session_view(name))
        else:
            raise ValueError("view needs sql or df")

    def copy_table(self, sources: list[str], dest: str, mode: str = "overwrite") -> None:
        """B4: BigQuery table copy — N sources appended/overwritten into one
        destination (materialization_copy_bigquery @45600). Bare source
        names resolve in THIS warehouse's database (r10 review finding:
        ``spark.table(src)`` resolved them against the session's current
        database — wrong one, or a same-named foreign table, silently);
        dotted names pass through untouched."""
        first = True
        for src in sources:
            df = self.spark.table(src if "." in src else self.qualified(src))
            self.write_table(df, dest, mode=(mode if first else "append"))
            first = False

    def load_seed(
        self,
        path: str,
        name: str,
        column_types: dict[str, str] | None = None,
        delimiter: str = ",",
    ) -> None:
        """B3: seed CSV → table. Schema inference plus explicit per-column
        overrides (the reference's ``column_types`` config)."""
        df = (
            self.spark.read.option("header", "true")
            .option("inferSchema", "true")
            .option("delimiter", delimiter)
            .csv(path)
        )
        for col, dtype in (column_types or {}).items():
            df = df.withColumn(col, F.col(col).cast(dtype))
        self.write_table(df, name)

    # -- incremental ------------------------------------------------------

    def write_incremental(
        self,
        df: DataFrame,
        name: str,
        strategy: str = "merge",
        unique_key: str | list[str] | None = None,
        merge_update_columns: list[str] | None = None,
        partition_by: str | None = None,
        on_schema_change: str = "ignore",
        full_refresh: bool = False,
    ) -> str:
        """B7 dispatch: first run / full refresh → CTAS; else the chosen
        strategy. Returns the action taken (for run-result reporting)."""
        if full_refresh or not self.exists(name):
            self.write_table(df, name, partition_by=partition_by)
            return "ctas"
        # Config validation BEFORE any DDL side effect (ADVICE r10): a
        # misconfigured insert_overwrite (no partition_by) with a
        # column-adding schema policy used to ALTER the physical table
        # schema first and only then raise.
        if strategy == "insert_overwrite" and not partition_by:
            raise ValueError("insert_overwrite requires partition_by")
        target = self.read(name)
        physical_cols = set(target.columns)
        source, target = incr.apply_schema_change_policy(df, target, on_schema_change)
        # In-place write paths (insertInto / append) hit the PHYSICAL
        # table, so a policy that widened the in-memory target must be
        # persisted with an ALTER first — otherwise append_new_columns /
        # sync_all_columns silently degraded to 'ignore' here (the new
        # column was projected away forever; r10 review finding). A
        # policy that REMOVED columns cannot be applied in place (parquet
        # drop needs the CTAS rewrite) — fail loudly instead of writing
        # positionally-misaligned rows.
        added = {
            f.name: f.dataType.simpleString()
            for f in target.schema.fields
            if f.name not in physical_cols
        }
        removed = physical_cols - set(target.columns)
        in_place = strategy == "insert_overwrite" or (
            strategy == "merge" and unique_key is None
        )
        if in_place and removed:
            raise ValueError(
                "on_schema_change removed columns "
                f"{sorted(removed)}, which the in-place "
                f"{strategy} write cannot apply — use full_refresh "
                "(CTAS rewrite) to drop physical columns"
            )
        if in_place and added:
            self.add_columns(name, added)
        if strategy == "insert_overwrite" and partition_by:
            # Native dynamic partition overwrite: rewrites only the
            # partitions present in `source`. No staging swap, no read of
            # the target — the write cost is proportional to the delta.
            # Dynamic mode pinned on the WRITER (r10 review finding): the
            # session default is STATIC, which would truncate the whole
            # table down to the delta.
            cols = self.read(name).columns
            source.select(*cols).write.option(
                "partitionOverwriteMode", "dynamic"
            ).insertInto(f"{self.database}.{name}", overwrite=True)
            return "insert_overwrite_dynamic"
        if strategy == "merge":
            if unique_key is None:
                cols = self.read(name).columns
                source.select(*cols).write.mode("append").saveAsTable(
                    f"{self.database}.{name}"
                )
                return "append"
            result = incr.merge_upsert(target, source, unique_key, merge_update_columns)
        elif strategy in ("delete+insert", "delete_insert"):
            if unique_key is None:
                raise ValueError("delete+insert requires unique_key")
            result = incr.delete_insert(target, source, unique_key)
        else:
            raise ValueError(f"unknown incremental strategy: {strategy}")
        self.swap_in(result, name, partition_by=partition_by)
        return strategy

    # -- snapshot ---------------------------------------------------------

    def write_snapshot(
        self,
        df: DataFrame,
        name: str,
        unique_key: str,
        updated_at: str,
        strategy: str = "timestamp",
        check_cols: list[str] | None = None,
        invalidate_hard_deletes: bool = False,
    ) -> str:
        """B14: snapshot materialization over the SCD2 transforms."""
        existing = self.read(name) if self.exists(name) else None
        result = snap.snapshot_cycle(
            df,
            existing,
            unique_key,
            updated_at,
            strategy=strategy,
            check_cols=check_cols,
            invalidate_hard_deletes=invalidate_hard_deletes,
        )
        if existing is None:
            self.write_table(result, name)
            return "snapshot_build"
        self.swap_in(result, name)
        return "snapshot_merge"

    # -- date-sharded (B5) ------------------------------------------------

    def write_date_partitions(
        self,
        df_for_date,
        name: str,
        dates: list[str],
        partition_col: str = "ds",
    ) -> None:
        """make_date_partitioned_table (@47149): for each date, compute the
        day's DataFrame (the reference substitutes [DBT__PARTITION_DATE]
        into the SQL) and overwrite exactly that partition via dynamic
        overwrite. The dynamic mode is pinned ON THE WRITER (r10 review
        finding): relying on the session conf meant any session not built
        by dbt_ci_demo_spark.session ran Spark's default STATIC overwrite
        here — truncating every partition and keeping only the day's
        delta."""
        for i, ds in enumerate(dates):
            day = df_for_date(ds).withColumn(partition_col, F.lit(ds))
            if i == 0 and not self.exists(name):
                self.write_table(day, name, partition_by=partition_col)
            else:
                cols = self.read(name).columns
                day.select(*cols).write.option(
                    "partitionOverwriteMode", "dynamic"
                ).insertInto(f"{self.database}.{name}", overwrite=True)
