"""Incremental upsert / merge family (SURVEY.md §2.B.2, B7-B13).

The reference's incremental materialization emits one of three DML shapes
against BigQuery; here each is a pure ``(target, source) → DataFrame``
transform over plain parquet-backed DataFrames, plus helpers for the
``is_incremental()`` watermark pattern and schema-change handling. The
writer layer (operators/materialize.py) persists results atomically.

Scale notes:
- ``merge_upsert``/``delete_insert`` are one anti-join + union. The join
  shuffles on the unique key — the same key BigQuery's MERGE shuffles on —
  and broadcasts automatically when the new batch is small (the common
  incremental case: day's delta vs years of history). No full-table rewrite
  of untouched partitions happens at the *transform* level; pairing with
  partition-scoped writes (insert_overwrite) keeps the 100 TB write cost
  proportional to the delta.
- ``insert_overwrite_partitions`` maps to Spark's native dynamic partition
  overwrite: only partitions present in the source are rewritten, exactly
  like the reference's merge-on-FALSE partition replacement.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dbt_ci_demo_spark.session import checkpoint


def merge_upsert(
    target: DataFrame,
    source: DataFrame,
    unique_key: str | list[str] | None,
    merge_update_columns: list[str] | None = None,
) -> DataFrame:
    """MERGE semantics on a unique key (default__get_merge_sql,
    manifest.json:1@89014).

    - With a key: matched target rows are replaced by source rows ("update
      set *"), unmatched source rows are inserted. Plain-parquet idiom:
      ``target ANTI-JOIN source  UNION  source``.
    - ``merge_update_columns`` restricts which columns an update overwrites
      (the reference's ``merge_update_columns`` config): matched rows keep
      target values for the other columns.
    - With no key the reference emits ``on FALSE`` → pure append
      (``when not matched then insert`` fires for every source row).

    Source-uniqueness contract (r10 review finding): like a real MERGE
    (which ERRORS on multiple matches per target row), the source batch
    must be unique on the key. The full-replace path degrades gracefully
    (both duplicates land, append-style), but the
    ``merge_update_columns`` left join would FAN OUT each matched target
    row once per duplicate — so feed key-duplicated batches through
    :func:`cdc_apply` (latest-op-wins) or dedupe upstream.
    """
    if unique_key is None:
        return target.unionByName(source)
    keys = [unique_key] if isinstance(unique_key, str) else list(unique_key)
    if not merge_update_columns:
        kept_target = target.join(source.select(*keys).distinct(), on=keys, how="left_anti")
        return kept_target.unionByName(source.select(*target.columns))
    # Partial update: matched rows take source values only for the listed
    # columns; unmatched source rows insert whole.
    upd = set(merge_update_columns)
    src = source.select(*[F.col(c).alias(f"__src_{c}") for c in source.columns])
    key_cond = [F.col(k) == F.col(f"__src_{k}") for k in keys]
    joined = target.join(src, on=key_cond, how="left")
    matched_flag = F.col(f"__src_{keys[0]}").isNotNull()
    updated_target = joined.select(
        *[
            (
                F.when(matched_flag, F.col(f"__src_{c}")).otherwise(F.col(c)).alias(c)
                if c in upd
                else F.col(c)
            )
            for c in target.columns
        ]
    )
    inserts = source.join(target.select(*keys).distinct(), on=keys, how="left_anti")
    return updated_target.unionByName(inserts.select(*target.columns))


def delete_insert(
    target: DataFrame, source: DataFrame, unique_key: str | list[str]
) -> DataFrame:
    """delete+insert strategy (common_get_delete_insert_merge_sql,
    manifest.json:1@93622): ``delete from target where key in (select key
    from source); insert into target select * from source``.

    Same anti-join + union shape as :func:`merge_upsert`; semantics differ
    from MERGE only when the source carries duplicate keys (all source rows
    are inserted, not one-per-key) — preserved here.
    """
    keys = [unique_key] if isinstance(unique_key, str) else list(unique_key)
    kept = target.join(source.select(*keys).distinct(), on=keys, how="left_anti")
    return kept.unionByName(source.select(*target.columns))


def insert_overwrite_partitions(
    target: DataFrame,
    source: DataFrame,
    partition_expr: Column,
    partitions: list | None = None,
) -> DataFrame:
    """Partition-replacement semantics (bq_insert_overwrite,
    manifest.json:1@34992; default__get_insert_overwrite_merge_sql @90709).

    - Static branch (``partitions`` given): target rows in the listed
      partitions are deleted, then all source rows inserted — the
      reference's user-supplied partition list.
    - Dynamic branch: replaced partitions are those *present in the source*
      (the reference computes ``array_agg(distinct partition_expr)`` from
      the temp table; Spark's dynamic partition overwrite does the same
      natively at write time — this transform mirrors it for
      oracle-checking and for non-partitioned storage).

    ``partition_expr`` is evaluated against both target and source rows
    (e.g. ``F.to_date('l_shipdate')``).

    NULL-partition semantics (r10 review finding — three-valued logic
    made both branches silently wrong for rows whose partition expression
    is NULL): in the static branch ``~isin`` evaluates to NULL for them,
    so the filter DROPPED every NULL-partition target row even though no
    listed partition covered it (permanent data loss); in the dynamic
    branch the equi anti-join never matches NULL, so old NULL-partition
    rows were KEPT alongside the new ones (duplicates) — diverging from
    Spark's native dynamic overwrite, which replaces
    __HIVE_DEFAULT_PARTITION__ like any other. Now: unlisted/absent NULL
    partitions are kept (static), and a null-safe anti-join replaces the
    NULL partition whenever the source writes into it (dynamic).
    """
    part = partition_expr.alias("__part")
    tgt = target.withColumn("__part", partition_expr)
    if partitions is not None:
        kept = tgt.filter(
            F.col("__part").isNull() | ~F.col("__part").isin(partitions)
        ).drop("__part")
        return kept.unionByName(source.select(*target.columns))
    src_parts = source.select(part).distinct().alias("__sp")
    kept = (
        tgt.alias("__tg")
        .join(
            src_parts,
            on=F.col("__tg.__part").eqNullSafe(F.col("__sp.__part")),
            how="left_anti",
        )
        .drop("__part")
    )
    return kept.unionByName(source.select(*target.columns))


def cdc_apply(
    target: DataFrame,
    changes: DataFrame,
    unique_key: str | list[str],
    seq_col: str,
    op_col: str = "op",
    delete_op: str = "D",
) -> DataFrame:
    """Apply a CDC change feed (I/U/D rows with a monotone sequence) to a
    target: per key, the highest-``seq_col`` change wins; a winning delete
    removes the row, any other winning op upserts its payload. This is the
    change-data-capture generalization of :func:`merge_upsert` — the shape
    a warehouse MERGE takes when fed a replication log instead of a clean
    batch (WHEN MATCHED AND op='D' THEN DELETE / ... UPDATE / INSERT).

    Plan shape: one window shuffle over the *changes* feed keyed on the
    unique key (latest-op-wins; ties broken by preferring the delete so
    same-seq D+U batches resolve deterministically), then one anti-join of
    the target against the touched-key set and a union of the surviving
    upserts. The feed is typically ≪ target, so the anti-join broadcasts
    the keys; target partitions without touched keys stream through
    untouched — delta-proportional cost at 100 TB, like merge_upsert.

    The sort key ends with an xxhash64 over the full change row, making
    the order TOTAL: two non-delete changes sharing (key, seq, op) but
    carrying different payloads would otherwise have identical sort keys
    and row_number would pick a run-to-run-varying winner. With the hash,
    the winner is arbitrary-but-deterministic; rows that tie even on the
    hash are identical in every column, so either is the same result.
    """
    keys = [unique_key] if isinstance(unique_key, str) else list(unique_key)
    from pyspark.sql.window import Window

    is_del = (F.col(op_col) == delete_op).cast("int")
    w = Window.partitionBy(*keys).orderBy(
        F.col(seq_col).desc(),
        is_del.desc(),
        F.col(op_col),
        F.xxhash64(*[F.col(c) for c in changes.columns]),
    )
    latest = (
        changes.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    kept = target.join(latest.select(*keys).distinct(), on=keys, how="left_anti")
    upserts = latest.filter(F.col(op_col) != delete_op).select(*target.columns)
    return kept.unionByName(upserts)


def cdc_apply_versioned(
    state: DataFrame,
    changes: DataFrame,
    unique_key: str | list[str],
    seq_col: str,
    op_col: str = "op",
    delete_op: str = "D",
) -> DataFrame:
    """Out-of-order/replay-safe CDC apply. Unlike :func:`cdc_apply` —
    which assumes each batch's changes are newer than the target and
    would let a replayed OLD update overwrite or resurrect a newer row —
    the state here RETAINS the sequence column and keeps deletes as
    TOMBSTONE rows, so applying batches in any order (or twice)
    converges to the same state: per key, the max-seq row across
    state ∪ changes wins (max is associative and commutative, which is
    exactly what makes the operator batch-order-independent).

    ``state`` carries the same columns as ``changes`` (payload + seq +
    op); bootstrap an initial state from a plain table with
    ``seq = 0, op = 'U'``. Live rows are ``state.filter(op != 'D')``
    (:func:`cdc_live`); tombstones are retained so late-arriving older
    updates cannot resurrect deleted keys — compact them away only past
    the feed's maximum replay horizon.

    Ties: same-seq delete beats update; then the full-row content hash
    decides, so the winner depends ONLY on row content — never on which
    batch carried it — keeping the merge commutative and associative
    even when two batches disagree at the same (key, seq, op). The
    ``__src`` column breaks only content-identical ties (a no-op for the
    result set; it just makes replay of an exact duplicate stable).
    Plan shape: one anti-join splits the untouched state
    (streams through, feed-proportional cost like merge_upsert), one
    semi-join pulls the touched state rows into the feed-sized window.
    """
    keys = [unique_key] if isinstance(unique_key, str) else list(unique_key)
    from pyspark.sql.window import Window

    cols = state.columns
    feed_keys = changes.select(*keys).distinct()
    untouched = state.join(feed_keys, on=keys, how="left_anti")
    touched = state.join(feed_keys, on=keys, how="left_semi")
    merged = touched.withColumn("__src", F.lit(0)).unionByName(
        changes.select(*cols).withColumn("__src", F.lit(1))
    )
    is_del = (F.col(op_col) == delete_op).cast("int")
    w = Window.partitionBy(*keys).orderBy(
        F.col(seq_col).desc(),
        is_del.desc(),
        F.col(op_col),
        F.xxhash64(*[F.col(c) for c in cols]),
        F.col("__src").desc(),
    )
    latest = (
        merged.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(*cols)
    )
    return untouched.unionByName(latest)


def cdc_apply_versioned_chain(
    state: DataFrame,
    batches,
    unique_key: str | list[str],
    seq_col: str,
    op_col: str = "op",
    delete_op: str = "D",
) -> DataFrame:
    """Apply a SEQUENCE of change batches with :func:`cdc_apply_versioned`,
    checkpointing the state after each apply (the star-CC per-round
    precedent; SCALE.md "Materialization policy").

    Why this exists: each single apply references ``state`` twice (the
    anti-join/semi-join split) and ``changes`` twice (key set + merge), so
    a LAZILY CHAINED sequence re-expands the whole prior derivation per
    reference — plan leaf-relations grow ~2^batches (the r08 engine-wide
    lineage audit measured 26 leaf scans after 2 chained applies and 59
    after 3, on a feed built from 1-scan slices; the same defect class as
    the threshold-sampler re-expansion, but on CORPUS-sized state, where
    the re-derivation is a full CDC merge per extra reference, not a k-row
    aggregate). The per-apply pin truncates lineage, making every apply's
    plan read one materialized state plus its own feed — leaf count linear
    in batch count, asserted exactly by `tests/test_plans.py`.

    Cost model: one state copy written per apply — bounded and
    batch-proportional, versus exponential recompute without it; the
    streaming foreachBatch sink (`stream_cdc_versioned`) does the same
    per micro-batch. Single-shot callers should keep calling
    :func:`cdc_apply_versioned` directly — one apply's double state
    reference is a constant-factor scan, cheaper than a state copy.
    Semantics are untouched: this is a fold over the same operator, and
    batch-order invariance (max-seq merge, tombstone retention) holds
    exactly as for manual chaining — equality is property-tested.
    """
    for changes in batches:
        state = checkpoint(
            cdc_apply_versioned(
                state, changes, unique_key, seq_col, op_col=op_col, delete_op=delete_op
            )
        )
    return state


def cdc_live(state: DataFrame, op_col: str = "op", delete_op: str = "D") -> DataFrame:
    """Consumer view of a versioned CDC state: rows minus tombstones."""
    return state.filter(F.col(op_col) != delete_op)


def cdc_compact(
    state: DataFrame,
    horizon_seq,
    seq_col: str,
    op_col: str = "op",
    delete_op: str = "D",
) -> DataFrame:
    """Garbage-collect tombstones that can no longer matter: drop delete
    rows with ``seq < horizon_seq``, where ``horizon_seq`` is the feed's
    replay horizon — the guarantee that no batch carrying a sequence
    below it will ever arrive (again).

    Why this is safe: a tombstone at seq t exists solely to outrank a
    late/replayed row with seq s ≤ t for the same key. Under the horizon
    contract every future row has s ≥ horizon_seq > t, so it outranks
    the tombstone in :func:`cdc_apply_versioned`'s max-seq merge whether
    or not the tombstone is present — dropping it changes nothing.
    Tombstones at t ≥ horizon_seq are KEPT: a replayed s ∈ [horizon, t]
    would otherwise resurrect the key. Live rows are never touched.

    One narrow filter, no shuffle — run it as part of the periodic state
    rewrite (the parquet compaction job), not per batch. At 100 TB the
    point is bounding state growth: without compaction a churn-heavy
    feed's state is dominated by dead keys forever.
    """
    is_stale_tombstone = (F.col(op_col) == delete_op) & (
        F.col(seq_col) < F.lit(horizon_seq)
    )
    return state.filter(~is_stale_tombstone)


def max_watermark(target: DataFrame, column: str):
    """``_dbt_max_partition`` / is_incremental() watermark scalar
    (bq_insert_overwrite @34992 declare block; is_incremental @157947):
    ``select max(col) from target``, surfaced to the model closure so its
    filter can prune the source scan (Catalyst then pushes the resulting
    predicate into the parquet scan — storage partition pruning for free).
    """
    row = target.agg(F.max(F.col(column)).alias("wm")).first()
    return row["wm"]


def incremental_filter(source: DataFrame, column: str, watermark) -> DataFrame:
    """The model-side ``where ts > (select max(ts) from {{ this }})``
    pattern. With ``watermark`` None (first run / empty target) the source
    passes through unfiltered, matching is_incremental() == False.
    """
    if watermark is None:
        return source
    return source.filter(F.col(column) > F.lit(watermark))


# ---------------------------------------------------------------------------
# Schema-change handling (B13): on_schema_change ∈ ignore/fail/append_new_
# columns/sync_all_columns — check_for_schema_changes (manifest.json:1@133295),
# sync_column_schemas (@135344), diff_columns (@131137).
# ---------------------------------------------------------------------------


class SchemaChangeError(RuntimeError):
    pass


def diff_columns(source: DataFrame, target: DataFrame) -> dict:
    """Column-level diff between a source and target schema."""
    src = {f.name: f.dataType.simpleString() for f in source.schema.fields}
    tgt = {f.name: f.dataType.simpleString() for f in target.schema.fields}
    return {
        "added": [c for c in src if c not in tgt],
        "removed": [c for c in tgt if c not in src],
        "retyped": [c for c in src if c in tgt and src[c] != tgt[c]],
    }


def apply_schema_change_policy(
    source: DataFrame, target: DataFrame, on_schema_change: str = "ignore"
) -> tuple[DataFrame, DataFrame]:
    """Reconcile source/target schemas per the reference's policy.

    Returns (source', target') with compatible schemas:
    - ignore: source is projected down to the target's columns (new columns
      silently dropped — the reference's default; missing columns are an
      error just like in SQL).
    - fail: any difference raises :class:`SchemaChangeError`.
    - append_new_columns: target gains source's new columns as typed NULLs.
    - sync_all_columns: target adds new + drops removed + casts retyped
      columns to the source's types (the reference's full rewrite).
    """
    d = diff_columns(source, target)
    changed = any(d.values())
    if on_schema_change == "fail":
        if changed:
            raise SchemaChangeError(f"schema changed: {d}")
        return source, target
    if on_schema_change == "ignore" or not changed:
        return source.select(*target.columns), target
    if on_schema_change == "append_new_columns":
        tgt = target
        for f in source.schema.fields:
            if f.name in d["added"]:
                tgt = tgt.withColumn(f.name, F.lit(None).cast(f.dataType))
        return source.select(*tgt.columns), tgt
    if on_schema_change == "sync_all_columns":
        src_types = {f.name: f.dataType for f in source.schema.fields}
        tgt = target
        for c in d["removed"]:
            tgt = tgt.drop(c)
        for c in d["retyped"]:
            tgt = tgt.withColumn(c, F.col(c).cast(src_types[c]))
        for f in source.schema.fields:
            if f.name in d["added"]:
                tgt = tgt.withColumn(f.name, F.lit(None).cast(f.dataType))
        return source.select(*tgt.columns), tgt
    raise ValueError(f"unknown on_schema_change: {on_schema_change}")
