"""Query registry: every operator from SURVEY.md §2 as a
``(spark, sf_dir) → DataFrame`` callable paired with an equivalent ANSI-SQL
oracle string (run by DuckDB over the same parquet fixtures).

Conventions (driver contract, __spark_entry__.py):
- every computed column is aliased identically in the Spark plan and the
  oracle SQL (the comparator sorts columns by name before hashing);
- floating-point aggregates go through functions.exact_sum/exact_avg
  (decimal accumulation) so results are order-independent and
  hash-identical across engines;
- timestamps are hashed/compared at microsecond precision (the source
  layer already normalizes the nanosecond ``events.ts``);
- fixtures derived inside a query (e.g. the "new batch" for merge tests,
  the nested repo_languages table) are derived by the *same deterministic
  expressions* in both engines.

Each query exercises the real operator implementation from
``dbt_ci_demo_spark.operators`` — the correctness gate therefore covers the
engine code, not a parallel reimplementation.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbt_ci_demo_spark.operators import incremental as incr
from dbt_ci_demo_spark.operators import quality as dq
from dbt_ci_demo_spark.operators import snapshot as snap
from dbt_ci_demo_spark.sources.catalog import load_table

QueryFn = Callable[[SparkSession, str], DataFrame]

_REGISTRY: dict[str, tuple[QueryFn, str | Callable[[], str] | None]] = {}


def query(name: str, oracle: str | Callable[[], str] | None = None):
    """Register a query. ``oracle`` may be the DuckDB SQL string or a
    zero-arg callable returning it — the callable form defers evaluation
    to :func:`registry_oracles`, which lets an oracle builder import
    helpers from a sibling ``queries_*`` module without creating an
    import-time cycle (the modules all exist by the time any oracle is
    read)."""

    def deco(fn: QueryFn) -> QueryFn:
        _REGISTRY[name] = (fn, oracle)
        return fn

    return deco


def registry_queries() -> dict[str, QueryFn]:
    return {name: fn for name, (fn, _) in _REGISTRY.items()}


def registry_oracles() -> dict[str, str]:
    return {
        name: (sql() if callable(sql) else sql)
        for name, (_, sql) in _REGISTRY.items()
        if sql is not None
    }


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# Flagship (SURVEY §2.A1-A6): nested ARRAY<STRUCT> build → lateral explode →
# struct field access → count(distinct) → group-by-ordinal.
# Reference: models/aggr_repo_languages.sql:1-6.
# ---------------------------------------------------------------------------


def repo_languages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIXTURES.md §2 nested fixture: one row per order, with an
    ARRAY<STRUCT<name,bytes>> column mirroring github.languages."""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    o = _t(spark, sf_dir, "orders")
    return (
        l.join(p, l["l_partkey"] == p["p_partkey"])
        .join(o, l["l_orderkey"] == o["o_orderkey"])
        .groupBy(F.col("o_orderkey").alias("repo_name"))
        .agg(
            F.collect_list(
                F.struct(
                    F.col("p_type").alias("name"),
                    F.col("l_quantity").cast("bigint").alias("bytes"),
                )
            ).alias("language")
        )
    )


@query(
    "flagship_repo_languages",
    # Oracle is the algebraic equivalent over the un-nested rows: exploding
    # collect_list(struct(...)) returns exactly the joined rows it was built
    # from, so count(distinct) per name matches (and avoids depending on the
    # engine-specific array ordering of collect_list).
    oracle="""
    SELECT p.p_type AS name,
           count(DISTINCT o.o_orderkey) AS repositories_number
    FROM lineitem l
    JOIN part p   ON l.l_partkey = p.p_partkey
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1
    """,
)
def flagship_repo_languages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's one real query (models/aggr_repo_languages.sql:1-6):
    ``select lang.name, count(distinct repo_name) from t, unnest(language)
    as lang group by 1`` over the derived nested fixture."""
    rl = repo_languages(spark, sf_dir)
    return (
        rl.select("repo_name", F.explode("language").alias("lang"))
        .groupBy(F.col("lang.name").alias("name"))
        .agg(F.countDistinct("repo_name").alias("repositories_number"))
    )


@query(
    "flagship_sql_lateral",
    oracle="""
    SELECT p.p_type AS name,
           count(DISTINCT o.o_orderkey) AS repositories_number
    FROM lineitem l
    JOIN part p   ON l.l_partkey = p.p_partkey
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1
    """,
)
def flagship_sql_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same flagship semantics through the SQL surface: LATERAL VIEW explode
    + struct access + GROUP BY ordinal (spark.sql.groupByOrdinal), proving
    the engine's SQL entry point handles the BigQuery query shape."""
    repo_languages(spark, sf_dir).createOrReplaceTempView("repo_languages_v")
    return spark.sql(
        """
        SELECT lang.name AS name,
               count(DISTINCT repo_name) AS repositories_number
        FROM repo_languages_v
        LATERAL VIEW explode(language) AS lang
        GROUP BY 1
        """
    )


@query("test_model_literal", oracle="SELECT 1 AS a")
def test_model_literal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """models/test_model.sql:1 — ``select 1 as a`` (SURVEY §2.A7)."""
    return spark.sql("SELECT 1 AS a")


# ---------------------------------------------------------------------------
# Data-quality tests (SURVEY §2.B.4). Violations-returning queries.
# ---------------------------------------------------------------------------


@query(
    "dq_unique_violations",
    oracle="""
    SELECT l_orderkey AS unique_field, count(*) AS n_records
    FROM lineitem WHERE l_orderkey IS NOT NULL
    GROUP BY l_orderkey HAVING count(*) > 1
    """,
)
def dq_unique_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dq.test_unique(_t(spark, sf_dir, "lineitem"), "l_orderkey")


@query(
    "dq_unique_pass",
    oracle="""
    SELECT o_orderkey AS unique_field, count(*) AS n_records
    FROM orders WHERE o_orderkey IS NOT NULL
    GROUP BY o_orderkey HAVING count(*) > 1
    """,
)
def dq_unique_pass(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dq.test_unique(_t(spark, sf_dir, "orders"), "o_orderkey")


@query(
    "dq_not_null_violations",
    oracle="SELECT * FROM documents WHERE text IS NULL",
)
def dq_not_null_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dq.test_not_null(_t(spark, sf_dir, "documents"), "text")


@query(
    "dq_accepted_values",
    oracle="""
    SELECT o_orderstatus AS value_field, count(*) AS n_records
    FROM orders GROUP BY o_orderstatus
    HAVING o_orderstatus NOT IN ('O', 'F')
    """,
)
def dq_accepted_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dq.test_accepted_values(_t(spark, sf_dir, "orders"), "o_orderstatus", ["O", "F"])


@query(
    "dq_relationships",
    oracle="""
    SELECT DISTINCT from_field FROM (
      SELECT l.l_partkey AS from_field
      FROM lineitem l
      LEFT JOIN (SELECT p_partkey FROM part WHERE p_size <= 25) p
        ON l.l_partkey = p.p_partkey
      WHERE l.l_partkey IS NOT NULL AND p.p_partkey IS NULL
    ) v
    """,
)
def dq_relationships(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FK check with a deliberately filtered parent so violations are
    non-empty (lineitem.l_partkey → part restricted to p_size <= 25)."""
    child = _t(spark, sf_dir, "lineitem")
    parent = _t(spark, sf_dir, "part").filter(F.col("p_size") <= 25)
    return dq.test_relationships(child, "l_partkey", parent, "p_partkey").distinct()


@query(
    "dq_test_harness",
    oracle="""
    WITH viol AS (
      SELECT l_orderkey AS unique_field, count(*) AS n_records
      FROM lineitem WHERE l_orderkey IS NOT NULL
      GROUP BY l_orderkey HAVING count(*) > 1
    )
    SELECT count(*) AS failures,
           count(*) != 0 AS should_warn,
           count(*) > 100 AS should_error
    FROM viol
    """,
)
def dq_test_harness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fail_calc/warn_if/error_if harness row (B25) over the unique test."""
    viol = dq.test_unique(_t(spark, sf_dir, "lineitem"), "l_orderkey")
    return dq.run_test_harness(viol, warn_if="!= 0", error_if="> 100")[0]


@query(
    "dq_freshness_age",
    oracle="""
    SELECT max(ts) AS max_loaded_at,
           CAST(epoch_us(TIMESTAMP '2024-07-01 00:00:00')
                - epoch_us(max(ts)) AS DOUBLE) / 1000000.0 AS age_seconds
    FROM events
    """,
)
def dq_freshness_age(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source freshness (B29) against a fixed as-of for determinism."""
    return dq.freshness_age_seconds(
        _t(spark, sf_dir, "events"), "ts", F.lit("2024-07-01 00:00:00")
    )


@query(
    "dq_volume_anomaly",
    oracle="""
    WITH daily AS (
      SELECT CAST(CAST(ts AS DATE) AS TIMESTAMP) AS d, count(*) AS cnt
      FROM events GROUP BY 1
    ),
    w AS (
      SELECT d, cnt,
             count(*) OVER win AS n_trailing,
             SUM(cnt) OVER win AS s,
             SUM(cnt * cnt) OVER win AS sq
      FROM daily
      WINDOW win AS (ORDER BY d ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
    )
    SELECT d, cnt, CAST(n_trailing AS BIGINT) AS n_trailing,
           round(s::DOUBLE / n_trailing, 6) AS trailing_mean,
           round(CASE WHEN n_trailing >= 2
                 THEN (n_trailing * sq - s * s)::DOUBLE
                      / (n_trailing * (n_trailing - 1)) END, 6) AS trailing_var,
           CASE WHEN n_trailing >= 2 THEN
             (CAST(cnt * n_trailing - s AS HUGEINT)
               * CAST(cnt * n_trailing - s AS HUGEINT)
               * 10000 * (n_trailing - 1))
             > (200 * 200 * CAST(n_trailing * sq - s * s AS HUGEINT)
                * n_trailing)
           ELSE FALSE END AS is_anomaly
    FROM w
    """,
)
def dq_volume_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source volume monitoring (operators/quality.volume_anomalies):
    per-day event counts vs their trailing-7-day window — count, exact
    trailing mean/variance from integer window sums, and an anomaly
    flag at 2 trailing standard deviations. The variance and the flag
    decision are pure integer arithmetic (n·Σx² − (Σx)² and a squared
    threshold compare — no sqrt, no engine-specific streaming stddev),
    so every per-day decision hash-matches the oracle. One tiny window
    shuffle after the per-day aggregate; the aggregate is the only
    corpus-sized stage."""
    ev = _t(spark, sf_dir, "events").select(
        F.to_date("ts").cast("timestamp").alias("day")
    )
    return dq.volume_anomalies(ev, "day", window=7, threshold_pct=200)


@query(
    "dq_suite_all_tests",
    oracle="""
    WITH uq AS (
      SELECT count(*) AS failures FROM (
        SELECT l_orderkey FROM lineitem WHERE l_orderkey IS NOT NULL
        GROUP BY l_orderkey HAVING count(*) > 1) v),
    nn AS (SELECT count(*) AS failures FROM documents WHERE text IS NULL),
    av AS (
      SELECT count(*) AS failures FROM (
        SELECT o_orderstatus FROM orders GROUP BY o_orderstatus
        HAVING o_orderstatus NOT IN ('O', 'F')) v),
    rel AS (
      SELECT count(*) AS failures FROM (
        SELECT l.l_partkey FROM lineitem l
        LEFT JOIN (SELECT p_partkey FROM part WHERE p_size <= 25) p
          ON l.l_partkey = p.p_partkey
        WHERE l.l_partkey IS NOT NULL AND p.p_partkey IS NULL) v),
    fr AS (
      SELECT CAST(floor((epoch_us(TIMESTAMP '2024-07-01 00:00:00')
                         - epoch_us(max(ts))) / 1000000.0) AS BIGINT) AS failures
      FROM events)
    SELECT 'unique' AS check_name, failures,
           failures != 0 AS should_warn, failures > 100 AS should_error FROM uq
    UNION ALL SELECT 'not_null', failures, failures != 0, failures != 0 FROM nn
    UNION ALL SELECT 'accepted_values', failures, failures != 0, failures != 0 FROM av
    UNION ALL SELECT 'relationships', failures, failures != 0, failures != 0 FROM rel
    UNION ALL SELECT 'freshness', failures, failures > 86400, failures > 2592000 FROM fr
    """,
)
def dq_suite_all_tests(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full data-quality suite in one result frame: every generic test
    (unique B21, not_null B22, accepted_values B23, relationships B24) run
    through the fail_calc/warn_if/error_if harness (B25,
    default__get_test_sql @56739), plus the freshness probe (B29) with its
    warn_after/error_after thresholds evaluated on the floored age — one
    (check_name, failures, should_warn, should_error) row per check, the
    shape of a `dbt test` run summary.

    Scale: each branch is an independent single-shuffle aggregate (or a
    broadcast anti-join) producing one row; the union concatenates 1-row
    outputs, so the suite costs exactly the sum of its tests — no
    cross-test shuffle."""
    li = _t(spark, sf_dir, "lineitem")
    harness_rows = [
        (
            "unique",
            dq.test_harness_frame(
                dq.test_unique(li, "l_orderkey"), warn_if="!= 0", error_if="> 100"
            ),
        ),
        (
            "not_null",
            dq.test_harness_frame(dq.test_not_null(_t(spark, sf_dir, "documents"), "text")),
        ),
        (
            "accepted_values",
            dq.test_harness_frame(
                dq.test_accepted_values(_t(spark, sf_dir, "orders"), "o_orderstatus", ["O", "F"])
            ),
        ),
        (
            "relationships",
            dq.test_harness_frame(
                dq.test_relationships(
                    li, "l_partkey",
                    _t(spark, sf_dir, "part").filter(F.col("p_size") <= 25), "p_partkey",
                )
            ),
        ),
    ]
    suite = None
    for check_name, frame in harness_rows:
        labeled = frame.select(
            F.lit(check_name).alias("check_name"),
            "failures", "should_warn", "should_error",
        )
        suite = labeled if suite is None else suite.unionByName(labeled)
    # Freshness thresholds compare the *floored* age in both engines so the
    # boolean can never straddle the floor() boundary.
    fresh = (
        dq.freshness_age_seconds(
            _t(spark, sf_dir, "events"), "ts", F.lit("2024-07-01 00:00:00")
        )
        .select(F.floor("age_seconds").cast("long").alias("failures"))
        .select(
            F.lit("freshness").alias("check_name"),
            "failures",
            (F.col("failures") > 86400).alias("should_warn"),
            (F.col("failures") > 2592000).alias("should_error"),
        )
    )
    return suite.unionByName(fresh)


# ---------------------------------------------------------------------------
# Incremental family (SURVEY §2.B.2). Target/source derived deterministically
# from orders / lineitem / events so both engines see identical fixtures.
# ---------------------------------------------------------------------------

_ORD_TGT = "SELECT * FROM orders WHERE o_orderkey % 3 != 0"
_ORD_SRC = """
  SELECT o_orderkey, o_custkey, o_orderstatus,
         o_totalprice * 2 AS o_totalprice, o_orderdate, o_orderpriority
  FROM orders WHERE o_orderkey % 2 = 0
"""


def _orders_target(spark, sf_dir):
    return _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 3 != 0)


def _orders_source(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.filter(F.col("o_orderkey") % 2 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") * 2
    )


@query(
    "incr_merge_upsert",
    oracle=f"""
    WITH tgt AS ({_ORD_TGT}), src AS ({_ORD_SRC})
    SELECT * FROM tgt WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src)
    UNION ALL
    SELECT * FROM src
    """,
)
def incr_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE on unique_key (B8): update-matched + insert-unmatched."""
    return incr.merge_upsert(
        _orders_target(spark, sf_dir), _orders_source(spark, sf_dir), "o_orderkey"
    )


@query(
    "incr_merge_partial_update",
    oracle=f"""
    WITH tgt AS ({_ORD_TGT}), src AS ({_ORD_SRC})
    SELECT t.o_orderkey, t.o_custkey, t.o_orderstatus,
           CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_totalprice
                ELSE t.o_totalprice END AS o_totalprice,
           t.o_orderdate, t.o_orderpriority
    FROM tgt t LEFT JOIN src s ON t.o_orderkey = s.o_orderkey
    UNION ALL
    SELECT * FROM src WHERE o_orderkey NOT IN (SELECT o_orderkey FROM tgt)
    """,
)
def incr_merge_partial_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE with merge_update_columns=['o_totalprice'] (B8 partial update)."""
    return incr.merge_upsert(
        _orders_target(spark, sf_dir),
        _orders_source(spark, sf_dir),
        "o_orderkey",
        merge_update_columns=["o_totalprice"],
    )


@query(
    "incr_merge_append",
    oracle=f"""
    WITH tgt AS ({_ORD_TGT}), src AS ({_ORD_SRC})
    SELECT * FROM tgt UNION ALL SELECT * FROM src
    """,
)
def incr_merge_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE with no unique_key → ``on FALSE`` pure append (B8)."""
    return incr.merge_upsert(
        _orders_target(spark, sf_dir), _orders_source(spark, sf_dir), None
    )


@query(
    "incr_delete_insert",
    oracle=f"""
    WITH tgt AS ({_ORD_TGT}), src AS ({_ORD_SRC})
    SELECT * FROM tgt WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src)
    UNION ALL
    SELECT * FROM src
    """,
)
def incr_delete_insert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """delete+insert strategy (B11)."""
    return incr.delete_insert(
        _orders_target(spark, sf_dir), _orders_source(spark, sf_dir), "o_orderkey"
    )


_LI_SRC = """
  SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber,
         l_quantity + 1000 AS l_quantity, l_extendedprice, l_discount, l_tax,
         l_returnflag, l_linestatus, l_shipdate
  FROM lineitem WHERE date_trunc('month', l_shipdate) = TIMESTAMP '2024-03-01'
"""


@query(
    "incr_insert_overwrite_dynamic",
    oracle=f"""
    WITH src AS ({_LI_SRC})
    SELECT * FROM lineitem
    WHERE date_trunc('month', l_shipdate) NOT IN
          (SELECT DISTINCT date_trunc('month', l_shipdate) FROM src)
    UNION ALL
    SELECT * FROM src
    """,
)
def incr_insert_overwrite_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic insert_overwrite (B9/B10): partitions present in the new
    batch are replaced, others untouched."""
    li = _t(spark, sf_dir, "lineitem")
    src = li.filter(
        F.date_trunc("month", F.col("l_shipdate")) == F.lit("2024-03-01").cast("timestamp_ntz")
    ).withColumn("l_quantity", F.col("l_quantity") + 1000)
    return incr.insert_overwrite_partitions(
        li, src, F.date_trunc("month", F.col("l_shipdate"))
    )


@query(
    "incr_watermark",
    oracle="""
    SELECT * FROM events
    WHERE ts > (SELECT max(ts) FROM events WHERE ts <= TIMESTAMP '2024-01-20 00:00:00')
    """,
)
def incr_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """is_incremental() max-watermark pattern (B12/O5): the target's max(ts)
    is computed as a scalar and injected as a pushed-down filter (Catalyst
    turns it into a parquet-level predicate — storage pruning for free)."""
    ev = _t(spark, sf_dir, "events")
    target = ev.filter(F.col("ts") <= F.lit("2024-01-20 00:00:00").cast("timestamp_ntz"))
    wm = incr.max_watermark(target, "ts")
    return incr.incremental_filter(ev, "ts", wm)


_ORD_COLS = "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority"

# Shared by incr_cdc_apply (in-order apply) and incr_cdc_versioned
# (same feed applied OUT of order): latest-op-wins over the whole feed is
# the ground truth both must reach.
_CDC_ORACLE = f"""
    WITH changes AS (
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice * 2 AS o_totalprice,
             o_orderdate, o_orderpriority, 1 AS seq, 'U' AS op
      FROM orders WHERE o_orderkey % 2 = 0
      UNION ALL
      SELECT {_ORD_COLS}, 2, 'D'
      FROM orders WHERE o_orderkey % 10 = 0
      UNION ALL
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice * 3,
             o_orderdate, o_orderpriority, 2, 'U'
      FROM orders WHERE o_orderkey % 20 = 0
      UNION ALL
      SELECT o_orderkey + 10000000, o_custkey, 'O', o_totalprice,
             o_orderdate, o_orderpriority, 1, 'I'
      FROM orders WHERE o_orderkey % 7 = 0
    ),
    latest AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (
                 PARTITION BY o_orderkey
                 ORDER BY seq DESC,
                          CASE WHEN op = 'D' THEN 1 ELSE 0 END DESC, op) AS rn
        FROM changes) v
      WHERE rn = 1
    )
    SELECT o.* FROM orders o
    LEFT JOIN latest l ON l.o_orderkey = o.o_orderkey
    WHERE l.o_orderkey IS NULL
    UNION ALL
    SELECT {_ORD_COLS} FROM latest WHERE op != 'D'
    """


def _cdc_change_batches(o: DataFrame):
    """The shared CDC fixture, as (seq-1 batch, seq-2 batch): updates and
    fresh-key inserts at seq 1; deletes and competing updates at seq 2."""
    key = F.col("o_orderkey")
    u1 = (
        o.filter(key % 2 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") * 2)
        .withColumn("seq", F.lit(1))
        .withColumn("op", F.lit("U"))
    )
    d2 = o.filter(key % 10 == 0).withColumn("seq", F.lit(2)).withColumn("op", F.lit("D"))
    u2 = (
        o.filter(key % 20 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") * 3)
        .withColumn("seq", F.lit(2))
        .withColumn("op", F.lit("U"))
    )
    i1 = (
        o.filter(key % 7 == 0)
        .withColumn("o_orderkey", key + 10000000)
        .withColumn("o_orderstatus", F.lit("O"))
        .withColumn("seq", F.lit(1))
        .withColumn("op", F.lit("I"))
    )
    return u1.unionByName(i1), d2.unionByName(u2)


@query("incr_cdc_apply", oracle=_CDC_ORACLE)
def incr_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC change-feed apply (operators/incremental.cdc_apply): a derived
    replication log with conflicting I/U/D ops per key — updates at seq 1,
    deletes and competing updates at seq 2 (the same-seq D+U tie resolves
    to the delete), inserts under fresh keys — applied latest-op-wins onto
    the orders table. Generalizes the reference's MERGE materialization
    (default__get_merge_sql @89014) to log-structured input."""
    o = _t(spark, sf_dir, "orders")
    b1, b2 = _cdc_change_batches(o)
    return incr.cdc_apply(o, b1.unionByName(b2), "o_orderkey", "seq", "op")


@query("incr_cdc_versioned", oracle=_CDC_ORACLE)
def incr_cdc_versioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-order CDC (operators/incremental.cdc_apply_versioned): the
    SAME change feed as incr_cdc_apply, but the seq-2 batch (deletes +
    competing updates) is applied FIRST and the seq-1 batch replayed
    AFTER — the arrival order a real replication log produces under
    partition lag or a backfill. The versioned state retains seq and
    keeps tombstones, so the late-arriving older updates neither
    overwrite the newer rows nor resurrect the deleted keys, and the
    result hash-matches the in-order single-shot oracle. (The plain
    cdc_apply would get every %10 key wrong under this ordering.)"""
    o = _t(spark, sf_dir, "orders")
    b1, b2 = _cdc_change_batches(o)
    state = o.withColumn("seq", F.lit(0)).withColumn("op", F.lit("U"))
    # chain helper (r08 lineage audit): pinning between applies keeps the
    # plan's leaf count linear in batches (26 leaf scans unpinned here).
    state = incr.cdc_apply_versioned_chain(state, (b2, b1), "o_orderkey", "seq", "op")
    return incr.cdc_live(state).select(*o.columns)


_CDC_COMPACT_ORACLE = f"""
    WITH changes AS (
      SELECT {_ORD_COLS}, 0 AS seq, 'U' AS op FROM orders
      UNION ALL
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice * 2,
             o_orderdate, o_orderpriority, 1, 'U'
      FROM orders WHERE o_orderkey % 2 = 0
      UNION ALL
      SELECT o_orderkey + 10000000, o_custkey, 'O', o_totalprice,
             o_orderdate, o_orderpriority, 1, 'I'
      FROM orders WHERE o_orderkey % 7 = 0
      UNION ALL
      SELECT {_ORD_COLS}, 2, 'D' FROM orders WHERE o_orderkey % 10 = 0
      UNION ALL
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice * 3,
             o_orderdate, o_orderpriority, 2, 'U'
      FROM orders WHERE o_orderkey % 20 = 0
      UNION ALL
      SELECT {_ORD_COLS}, 4, 'D' FROM orders WHERE o_orderkey % 9 = 0
    ),
    state AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (
                 PARTITION BY o_orderkey
                 ORDER BY seq DESC,
                          CASE WHEN op = 'D' THEN 1 ELSE 0 END DESC, op) AS rn
        FROM changes) v
      WHERE rn = 1
    )
    SELECT {_ORD_COLS}, seq, op FROM state
    WHERE NOT (op = 'D' AND seq < 3)
    """


@query("incr_cdc_compact", oracle=_CDC_COMPACT_ORACLE)
def incr_cdc_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tombstone compaction on a versioned CDC state
    (operators/incremental.cdc_compact): the incr_cdc_versioned feed
    plus a later delete wave (seq 4 for %9 keys), compacted at replay
    horizon 3. The seq-2 tombstones (%10 keys) are strictly below the
    horizon — any future row outranks them anyway — so they are dropped
    and those keys vanish from the state entirely; the seq-4 tombstones
    are at/above the horizon and MUST remain (a replayed seq-3 update
    would otherwise resurrect them). The oracle checks the full
    post-compaction state rows including seq and op, so tombstone
    presence/absence is verified key-by-key, not just live-row counts.
    Plan: the compaction itself is one narrow filter — no shuffle."""
    o = _t(spark, sf_dir, "orders")
    b1, b2 = _cdc_change_batches(o)
    b3 = (
        o.filter(F.col("o_orderkey") % 9 == 0)
        .withColumn("seq", F.lit(4))
        .withColumn("op", F.lit("D"))
    )
    state = o.withColumn("seq", F.lit(0)).withColumn("op", F.lit("U"))
    # chain helper (r08 lineage audit): 3 lazily-chained applies held 59
    # leaf scans (~2^batches); the per-apply pin makes leaf count linear.
    state = incr.cdc_apply_versioned_chain(state, (b2, b1, b3), "o_orderkey", "seq", "op")
    return incr.cdc_compact(state, 3, "seq").select(*o.columns, "seq", "op")


# ---------------------------------------------------------------------------
# SCD2 snapshot family (SURVEY §2.B.3). customer-derived v1/v2 fixtures.
# v1 = customers with c_custkey % 7 != 0 @ 2024-01-01.
# v2 = all customers except % 11 == 0 (hard deletes), with acctbal bumped
#      where % 3 == 0 (changes); changed & new rows stamped 2024-02-01.
# ---------------------------------------------------------------------------

_CUST_COLS = "c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment"
_SNAP_V1 = f"""
  SELECT {_CUST_COLS}, TIMESTAMP '2024-01-01 00:00:00' AS updated_at
  FROM customer WHERE c_custkey % 7 != 0
"""
_SNAP_V2 = f"""
  SELECT c_custkey, c_name, c_nationkey,
         CASE WHEN c_custkey % 3 = 0 THEN c_acctbal + 10.0 ELSE c_acctbal END AS c_acctbal,
         c_mktsegment,
         CASE WHEN c_custkey % 3 = 0 OR c_custkey % 7 = 0
              THEN TIMESTAMP '2024-02-01 00:00:00'
              ELSE TIMESTAMP '2024-01-01 00:00:00' END AS updated_at
  FROM customer WHERE c_custkey % 11 != 0
"""
# The oracle's scd_id hash must match functions.scd_hash with timestamps
# hashed via epoch micros (engine-portable; see operators/snapshot.py).
_ORACLE_SCD_ID = (
    "md5(concat_ws('|', coalesce(CAST(c_custkey AS VARCHAR), ''), "
    "coalesce(CAST(epoch_us(updated_at) AS VARCHAR), '')))"
)


def _snap_v1(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    return c.filter(F.col("c_custkey") % 7 != 0).withColumn(
        "updated_at", F.lit("2024-01-01 00:00:00").cast("timestamp_ntz")
    )


def _snap_v2(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    return (
        c.filter(F.col("c_custkey") % 11 != 0)
        .withColumn(
            "c_acctbal",
            F.when(F.col("c_custkey") % 3 == 0, F.col("c_acctbal") + 10.0).otherwise(
                F.col("c_acctbal")
            ),
        )
        .withColumn(
            "updated_at",
            F.when(
                (F.col("c_custkey") % 3 == 0) | (F.col("c_custkey") % 7 == 0),
                F.lit("2024-02-01 00:00:00"),
            )
            .otherwise(F.lit("2024-01-01 00:00:00"))
            .cast("timestamp_ntz"),
        )
    )


@query(
    "snap_first_build",
    oracle=f"""
    WITH v1 AS ({_SNAP_V1})
    SELECT *, {_ORACLE_SCD_ID} AS dbt_scd_id,
           updated_at AS dbt_updated_at,
           updated_at AS dbt_valid_from,
           CAST(NULL AS TIMESTAMP) AS dbt_valid_to
    FROM v1
    """,
)
def snap_first_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First snapshot run (B15): CTAS of the SCD2-augmented source."""
    return snap.add_scd_metadata(_snap_v1(spark, sf_dir), "c_custkey", "updated_at")


_SNAP_T1 = f"""
  SELECT *, {_ORACLE_SCD_ID} AS dbt_scd_id,
         updated_at AS dbt_updated_at,
         updated_at AS dbt_valid_from,
         CAST(NULL AS TIMESTAMP) AS dbt_valid_to
  FROM ({_SNAP_V1}) v1
"""


@query(
    "snap_changeset_timestamp",
    oracle=f"""
    WITH snapshot AS ({_SNAP_T1}), src AS ({_SNAP_V2}),
    open_rows AS (SELECT * FROM snapshot WHERE dbt_valid_to IS NULL),
    insertions AS (
      SELECT 'insert' AS dbt_change_type, s.*,
             md5(concat_ws('|', coalesce(CAST(s.c_custkey AS VARCHAR), ''),
                 coalesce(CAST(epoch_us(s.updated_at) AS VARCHAR), ''))) AS dbt_scd_id,
             s.updated_at AS dbt_updated_at, s.updated_at AS dbt_valid_from,
             CAST(NULL AS TIMESTAMP) AS dbt_valid_to
      FROM src s LEFT JOIN open_rows o ON s.c_custkey = o.c_custkey
      WHERE o.c_custkey IS NULL OR o.dbt_valid_from < s.updated_at
    ),
    updates AS (
      SELECT 'update' AS dbt_change_type,
             s.c_custkey, s.c_name, s.c_nationkey, s.c_acctbal, s.c_mktsegment,
             s.updated_at,
             o.dbt_scd_id, o.dbt_updated_at, o.dbt_valid_from,
             s.updated_at AS dbt_valid_to
      FROM src s JOIN open_rows o ON s.c_custkey = o.c_custkey
      WHERE o.dbt_valid_from < s.updated_at
    ),
    deletes AS (
      SELECT 'delete' AS dbt_change_type,
             o.c_custkey, o.c_name, o.c_nationkey, o.c_acctbal, o.c_mktsegment,
             o.updated_at,
             o.dbt_scd_id, o.dbt_updated_at, o.dbt_valid_from,
             (SELECT max(updated_at) FROM src) AS dbt_valid_to
      FROM open_rows o LEFT JOIN src s ON o.c_custkey = s.c_custkey
      WHERE s.c_custkey IS NULL
    )
    SELECT * FROM insertions UNION ALL SELECT * FROM updates
    UNION ALL SELECT * FROM deletes
    """,
)
def snap_changeset_timestamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot staging changeset (B16) with the timestamp strategy (B17)
    and hard-delete invalidation: insertions + updates + deletes tagged
    with dbt_change_type."""
    v1 = snap.add_scd_metadata(_snap_v1(spark, sf_dir), "c_custkey", "updated_at")
    return snap.snapshot_changeset(
        _snap_v2(spark, sf_dir),
        v1,
        "c_custkey",
        "updated_at",
        snap.timestamp_strategy("updated_at"),
        invalidate_hard_deletes=True,
    )


@query(
    "snap_cycle_timestamp",
    oracle=f"""
    WITH snapshot AS ({_SNAP_T1}), src AS ({_SNAP_V2}),
    open_rows AS (SELECT * FROM snapshot WHERE dbt_valid_to IS NULL),
    closes AS (
      SELECT o.dbt_scd_id AS close_id, s.updated_at AS close_to
      FROM src s JOIN open_rows o ON s.c_custkey = o.c_custkey
      WHERE o.dbt_valid_from < s.updated_at
      UNION ALL
      SELECT o.dbt_scd_id, (SELECT max(updated_at) FROM src)
      FROM open_rows o LEFT JOIN src s ON o.c_custkey = s.c_custkey
      WHERE s.c_custkey IS NULL
    ),
    closed AS (
      SELECT sn.c_custkey, sn.c_name, sn.c_nationkey, sn.c_acctbal,
             sn.c_mktsegment, sn.updated_at, sn.dbt_scd_id, sn.dbt_updated_at,
             sn.dbt_valid_from,
             CASE WHEN c.close_id IS NOT NULL AND sn.dbt_valid_to IS NULL
                  THEN c.close_to ELSE sn.dbt_valid_to END AS dbt_valid_to
      FROM snapshot sn LEFT JOIN closes c ON sn.dbt_scd_id = c.close_id
    ),
    inserts AS (
      SELECT s.*,
             md5(concat_ws('|', coalesce(CAST(s.c_custkey AS VARCHAR), ''),
                 coalesce(CAST(epoch_us(s.updated_at) AS VARCHAR), ''))) AS dbt_scd_id,
             s.updated_at AS dbt_updated_at, s.updated_at AS dbt_valid_from,
             CAST(NULL AS TIMESTAMP) AS dbt_valid_to
      FROM src s LEFT JOIN open_rows o ON s.c_custkey = o.c_custkey
      WHERE o.c_custkey IS NULL OR o.dbt_valid_from < s.updated_at
    )
    SELECT * FROM closed UNION ALL SELECT * FROM inserts
    """,
)
def snap_cycle_timestamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full snapshot cycle (B14): v1 build, then v2 merge — final SCD2
    history with closed rows + new versions + delete invalidations."""
    v1 = snap.add_scd_metadata(_snap_v1(spark, sf_dir), "c_custkey", "updated_at")
    return snap.snapshot_cycle(
        _snap_v2(spark, sf_dir),
        v1,
        "c_custkey",
        "updated_at",
        strategy="timestamp",
        invalidate_hard_deletes=True,
    )


@query(
    "snap_check_strategy",
    oracle=f"""
    WITH snapshot AS ({_SNAP_T1}), src AS ({_SNAP_V2}),
    open_rows AS (SELECT * FROM snapshot WHERE dbt_valid_to IS NULL)
    SELECT s.c_custkey,
           (s.c_acctbal IS DISTINCT FROM o.c_acctbal
            OR s.c_mktsegment IS DISTINCT FROM o.c_mktsegment) AS row_changed
    FROM src s JOIN open_rows o ON s.c_custkey = o.c_custkey
    """,
)
def snap_check_strategy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The check strategy's change predicate (B18): null-safe column compare
    over tracked columns, surfaced per key for oracle verification."""
    v1 = snap.add_scd_metadata(_snap_v1(spark, sf_dir), "c_custkey", "updated_at")
    src = _snap_v2(spark, sf_dir).alias("src")
    open_rows = v1.filter(F.col("dbt_valid_to").isNull()).alias("snap")
    changed = snap.check_strategy(["c_acctbal", "c_mktsegment"])(src, open_rows)
    return src.join(
        open_rows, F.col("src.c_custkey") == F.col("snap.c_custkey"), "inner"
    ).select(F.col("src.c_custkey").alias("c_custkey"), changed.alias("row_changed"))


def _snap_v3_widened(spark, sf_dir):
    """v3 source for check_cols='all': the query WIDENS mid-cycle — it now
    derives c_phone, which the v1 snapshot never had — and stamps the run
    time (check snapshots stamp now(); a literal here for determinism)."""
    c = _t(spark, sf_dir, "customer")
    return c.filter(F.col("c_custkey") % 11 != 0).select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        "c_acctbal",
        "c_mktsegment",
        F.concat(F.lit("P-"), (F.col("c_custkey") % 1000).cast("string")).alias(
            "c_phone"
        ),
        F.lit("2024-03-01 00:00:00").cast("timestamp_ntz").alias("updated_at"),
    )


@query(
    "snap_check_all",
    oracle=f"""
    WITH snapshot AS (
      SELECT *, CAST(NULL AS VARCHAR) AS c_phone FROM ({_SNAP_T1}) t
    ),
    src AS (
      SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
             concat('P-', CAST(c_custkey % 1000 AS VARCHAR)) AS c_phone,
             TIMESTAMP '2024-03-01 00:00:00' AS updated_at
      FROM customer WHERE c_custkey % 11 != 0
    ),
    open_rows AS (SELECT * FROM snapshot WHERE dbt_valid_to IS NULL),
    -- column_added => row_changed = TRUE: every matched open row closes …
    closes AS (
      SELECT o.dbt_scd_id AS close_id, s.updated_at AS close_to
      FROM src s JOIN open_rows o ON s.c_custkey = o.c_custkey
    ),
    closed AS (
      SELECT sn.c_custkey, sn.c_name, sn.c_nationkey, sn.c_acctbal,
             sn.c_mktsegment, sn.updated_at, sn.dbt_scd_id, sn.dbt_updated_at,
             sn.dbt_valid_from,
             CASE WHEN c.close_id IS NOT NULL AND sn.dbt_valid_to IS NULL
                  THEN c.close_to ELSE sn.dbt_valid_to END AS dbt_valid_to,
             sn.c_phone
      FROM snapshot sn LEFT JOIN closes c ON sn.dbt_scd_id = c.close_id
    ),
    -- … and every source row re-inserts as the new open version
    inserts AS (
      SELECT s.c_custkey, s.c_name, s.c_nationkey, s.c_acctbal, s.c_mktsegment,
             s.updated_at,
             md5(concat_ws('|', coalesce(CAST(s.c_custkey AS VARCHAR), ''),
                 coalesce(CAST(epoch_us(s.updated_at) AS VARCHAR), ''))) AS dbt_scd_id,
             s.updated_at AS dbt_updated_at, s.updated_at AS dbt_valid_from,
             CAST(NULL AS TIMESTAMP) AS dbt_valid_to, s.c_phone
      FROM src s
    )
    SELECT * FROM closed UNION ALL SELECT * FROM inserts
    """,
)
def snap_check_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """check_cols='all' auto-introspection (B18 completion, VERDICT r08
    #3; snapshot_check_all_get_existing_columns manifest.json:1@121224):
    the source query widens mid-cycle (it now selects c_phone), so the
    strategy detects column_added against the PRE-evolution snapshot,
    marks every matched open row changed (the reference's TRUE branch —
    old rows can't be compared on a column they don't have), and the
    history gains c_phone as a typed NULL (B13 append_new_columns
    composition) before the SCD2 merge. Result: all v1 open rows whose
    key survives close at the run stamp, every v3 row opens a new
    version carrying c_phone, and v1 keys gone from v3 stay open (no
    hard-delete invalidation here)."""
    v1 = snap.add_scd_metadata(_snap_v1(spark, sf_dir), "c_custkey", "updated_at")
    return snap.snapshot_cycle(
        _snap_v3_widened(spark, sf_dir),
        v1,
        "c_custkey",
        "updated_at",
        strategy="check",
        check_cols="all",
    )


# ---------------------------------------------------------------------------
# Analytical queries (bench headliners). The reference's runtime executes
# arbitrary BigQuery SQL; these TPC-H-shaped queries prove the engine's
# general relational surface (multi-join, grouped aggregates, top-k) with
# order-independent exact aggregates (functions.exact_sum).
# ---------------------------------------------------------------------------

from dbt_ci_demo_spark.functions.bq_compat import exact_avg, exact_sum  # noqa: E402

_DEC = "decimal(30,6)"


@query(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) / count(l_quantity) AS avg_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE) / count(l_extendedprice) AS avg_price,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2024-10-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-filter-aggregate, the canonical columnar-scan
    benchmark. Catalyst gets partial aggregation (map-side combine) for
    free; decimal accumulation keeps doubles order-independent."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2024-10-01 00:00:00").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            exact_sum("l_quantity").alias("sum_qty"),
            exact_sum("l_extendedprice").alias("sum_base_price"),
            exact_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "sum_disc_price"
            ),
            exact_avg("l_quantity").alias("avg_qty"),
            exact_avg("l_extendedprice").alias("avg_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "q5_local_supplier_volume",
    oracle="""
    SELECT n.n_name,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
    GROUP BY n.n_name
    """,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join with small dims. nation/region/supplier
    are broadcast by Catalyst (under the 10MB default threshold even at
    100 TB fact scale — dims grow with sqrt(SF) at most), so the only
    shuffles are the two fact-fact joins on their natural keys."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .join(l, o["o_orderkey"] == l["l_orderkey"])
        .join(
            F.broadcast(s),
            (l["l_suppkey"] == s["s_suppkey"]) & (c["c_nationkey"] == s["s_nationkey"]),
        )
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .filter(F.col("r_name") == "ASIA")
        .groupBy("n_name")
        .agg(
            exact_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
        )
    )


@query(
    "q3_top_orders",
    oracle="""
    SELECT o.o_orderkey,
           CAST(o.o_orderdate AS TIMESTAMP) AS o_orderdate,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY o.o_orderkey, o.o_orderdate
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
)
def q3_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter + top-k. Spark executes
    LIMIT-after-ORDER BY as TakeOrderedAndProject — a per-partition top-k
    then a k-row driver merge, never a full sort at scale. Ordering ties
    are broken by o_orderkey; revenue values are exact decimals so the
    ordering itself is engine-independent."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .join(l, o["o_orderkey"] == l["l_orderkey"])
        .groupBy("o_orderkey", "o_orderdate")
        .agg(
            exact_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Window-function surface (absent in the reference — SURVEY §2.B.8 — but
# required by the north-star dedup/sessionization ops; FIXTURES.md §3).
# ---------------------------------------------------------------------------

from pyspark.sql.window import Window  # noqa: E402


@query(
    "win_running_total",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS running_spend
    FROM orders
    """,
)
def win_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running total per customer — cumulative window with a total
    (tie-broken) ordering so results are deterministic."""
    o = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast(_DEC)).over(w).cast("double").alias("running_spend"),
    )


@query(
    "win_rank_orders",
    oracle="""
    SELECT o_custkey, o_orderkey,
           rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS price_rank,
           dense_rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS price_dense_rank
    FROM orders
    """,
)
def win_rank_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc())
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.rank().over(w).alias("price_rank"),
        F.dense_rank().over(w).alias("price_dense_rank"),
    )


@query(
    "win_lead_lag_gaps",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(epoch_us(o_orderdate) -
                epoch_us(lag(o_orderdate) OVER w) AS BIGINT) AS micros_since_prev,
           lead(o_orderkey) OVER w AS next_orderkey
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def win_lead_lag_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lead/lag over a per-customer total order (orderdate with orderkey
    tiebreak): inter-order gap + next-order pointer. Both functions share
    one window spec, so Spark evaluates them in a single shuffle+sort."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gap = (
        F.unix_micros(F.col("o_orderdate").cast("timestamp"))
        - F.unix_micros(F.lag("o_orderdate").over(w).cast("timestamp"))
    ).cast("bigint")
    return o.select(
        "o_custkey",
        "o_orderkey",
        gap.alias("micros_since_prev"),
        F.lead("o_orderkey").over(w).alias("next_orderkey"),
    )


@query(
    "win_ntile_quartiles",
    oracle="""
    SELECT o_orderkey,
           ntile(4) OVER (ORDER BY o_totalprice, o_orderkey) AS price_quartile
    FROM orders
    """,
)
def win_ntile_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global ntile(4) over a deterministic total order. The oracle
    states the semantics as an unpartitioned ntile window — the one
    window shape that can NEVER scale (the whole fact table sorts in ONE
    task; found by the r07 second-pass window-skew audit, SCALE.md). The
    engine COMPUTES the identical quartiles with
    :func:`operators.sampling.ntile_histogram` (driver-held histogram
    thresholds, one global stratum): rows outside the three boundary
    bins take their quartile from a scan-side literal bin comparison —
    no shuffle — and only boundary-bin rows (~n/1024) are ranked in a
    bin-partitioned bounded window, ties included (equal prices share a
    bin, so the orderkey tie-break resolves inside the bounded
    window)."""
    from dbt_ci_demo_spark.operators.sampling import ntile_histogram

    o = _t(spark, sf_dir, "orders")
    t = ntile_histogram(
        o.select("o_orderkey", "o_totalprice"),
        4,
        "o_totalprice",
        "o_orderkey",
        [],
        ascending=True,
        tile_col="price_quartile",
    )
    return t.select("o_orderkey", "price_quartile")


@query(
    "win_ntile_highcard",
    oracle="""
    SELECT o_orderkey, o_orderkey % 1300 AS bucket_key,
           ntile(4) OVER (PARTITION BY o_orderkey % 1300
                          ORDER BY o_totalprice, o_orderkey) AS price_quartile
    FROM orders
    """,
)
def win_ntile_highcard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum ntile(4) over a HIGH-CARDINALITY stratum domain (1300
    hash-bucket strata — deliberately past ntile_histogram's 1024-strata
    literal-CASE ceiling, whose guard names this path). The engine
    computes it with :func:`operators.sampling.ntile_threshold` — the
    fully-declarative broadcast-threshold formulation (r08, VERDICT r07
    task 5a): per-stratum stats and tile-boundary structs stay
    DataFrames broadcast back onto the corpus (zero driver collects, no
    literal chains), rows outside boundary bins tile via a scan-side
    array expression, and only boundary-bin rows (~stratum/1024) rank in
    a (stratum, bin)-bounded window. At 100 TB this is the ntile path
    for per-domain / per-url-host strata where the stratum count is
    data-sized."""
    from dbt_ci_demo_spark.operators.sampling import ntile_threshold

    o = (
        _t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .withColumn("bucket_key", F.col("o_orderkey") % 1300)
    )
    t = ntile_threshold(
        o,
        4,
        "o_totalprice",
        "o_orderkey",
        ["bucket_key"],
        tile_col="price_quartile",
    )
    return t.select("o_orderkey", "bucket_key", "price_quartile")


@query(
    "dedup_latest_per_user",
    oracle="""
    SELECT event_id, ts, user_id, event_type, value, props FROM (
      SELECT *, row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) t WHERE rn = 1
    """,
)
def dedup_latest_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-latest-per-key dedup (north-star): row_number over a total
    ordering — the scalable idiom for 'latest record wins' compaction
    (single shuffle on the key, no self-join)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return ev.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1).drop("rn")


# ---------------------------------------------------------------------------
# Event-stream batch operators (sessionization, tumbling windows, JSON
# extraction, top-k) over the stream-shaped events table.
# ---------------------------------------------------------------------------


@query(
    "events_sessionize",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, ts, event_id,
             -- BIGINT cast: DuckDB integer SUM yields HUGEINT (float64 in
             -- pandas) while Spark yields LONG; the driver hash is strict.
             CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS session_seq
      FROM flagged
    )
    SELECT user_id, session_seq, min(ts) AS session_start,
           count(*) AS n_events,
           CAST(epoch_us(max(ts)) - epoch_us(min(ts)) AS DOUBLE) / 1000000.0
             AS duration_seconds
    FROM sess GROUP BY user_id, session_seq
    """,
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization with a 30-minute inactivity gap: lag → gap flag →
    cumulative session counter → per-session aggregates. One shuffle on
    user_id; both windows share it (same partitioning), so Spark runs them
    in a single exchange at any scale."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts").cast("timestamp")) - F.unix_micros(
        F.lag("ts").over(w).cast("timestamp")
    )
    flagged = ev.withColumn(
        "new_session",
        F.when(F.lag("ts").over(w).isNull() | (gap_us > 1800 * 1000000), F.lit(1)).otherwise(
            F.lit(0)
        ),
    )
    sess = flagged.withColumn(
        "session_seq",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    return sess.groupBy("user_id", "session_seq").agg(
        F.min("ts").alias("session_start"),
        F.count(F.lit(1)).alias("n_events"),
        (
            (
                F.unix_micros(F.max("ts").cast("timestamp"))
                - F.unix_micros(F.min("ts").cast("timestamp"))
            ).cast("double")
            / 1000000.0
        ).alias("duration_seconds"),
    )


@query(
    "events_tumbling_hourly",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           count(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def events_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window aggregate — the batch twin of the Structured
    Streaming windowed count (streaming/ has the readStream version)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("window_start"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            exact_sum("value").alias("sum_value"),
        )
    )


@query(
    "events_json_props",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(regexp_extract(props, '"k": (\\d+)', 1) AS BIGINT))
                AS BIGINT) AS sum_k,
           count(*) AS n_events
    FROM events GROUP BY event_type
    """,
)
def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: get_json_object over the JSON props
    column (the oracle uses an equivalent regexp since the fixture's JSON
    is single-key flat)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.sum(F.get_json_object("props", "$.k").cast("bigint")).alias("sum_k"),
        F.count(F.lit(1)).alias("n_events"),
    )


@query(
    "events_topk_users",
    oracle="""
    SELECT user_id, count(*) AS n_events
    FROM events GROUP BY user_id
    ORDER BY n_events DESC, user_id LIMIT 10
    """,
)
def events_topk_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy(F.col("n_events").desc(), F.col("user_id"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# BigQuery-idiom expression surface (SURVEY §2.B.6) and catalog
# introspection (B26-B28).
# ---------------------------------------------------------------------------


@query(
    "fx_scalar_idioms",
    oracle="""
    SELECT p_partkey,
           md5(concat_ws('|', coalesce(CAST(p_name AS VARCHAR), ''),
                              coalesce(CAST(p_brand AS VARCHAR), ''))) AS row_hash,
           regexp_extract(p_type, '^(\\w+)', 1) AS type_head,
           CAST(CASE WHEN p_size < 1 THEN 0
                WHEN p_size >= 41 THEN 5
                ELSE 1 + CAST(FLOOR((p_size - 1) / 10) AS INT) END
                AS BIGINT) AS size_bucket,
           CASE WHEN p_retailprice > 1500 THEN 'premium' ELSE 'standard' END AS tier,
           nullif(p_brand, 'Brand#13') AS brand_or_null
    FROM part
    """,
)
def fx_scalar_idioms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per part exercising the reference's scalar idioms: md5 row
    hash (snapshot_hash_arguments), regexp_extract (bigquery__get_catalog),
    range_bucket(x, generate_array(1,50,10)) (partition_by @13262),
    case-when, nullif."""
    from dbt_ci_demo_spark.functions.bq_compat import range_bucket, scd_hash

    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        scd_hash("p_name", "p_brand").alias("row_hash"),
        F.regexp_extract("p_type", r"^(\w+)", 1).alias("type_head"),
        range_bucket("p_size", 1, 50, 10).alias("size_bucket"),
        F.when(F.col("p_retailprice") > 1500, "premium").otherwise("standard").alias("tier"),
        F.nullif(F.col("p_brand"), F.lit("Brand#13")).alias("brand_or_null"),
    )


@query(
    "fx_array_agg_ordered",
    oracle="""
    SELECT c_nationkey,
           string_agg(DISTINCT c_mktsegment, ',' ORDER BY c_mktsegment) AS segments
    FROM customer GROUP BY c_nationkey
    """,
)
def fx_array_agg_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BigQuery ``array_to_string(array_agg(distinct x order by x))``
    (bigquery__get_catalog @3102) → sorted collect_set + array_join."""
    from dbt_ci_demo_spark.functions.bq_compat import array_agg_ordered

    c = _t(spark, sf_dir, "customer")
    return c.groupBy("c_nationkey").agg(
        F.array_join(array_agg_ordered("c_mktsegment", distinct=True), ",").alias("segments")
    )


_SPARK_TO_SQL_TYPE = {
    "bigint": "BIGINT",
    "int": "INTEGER",
    "integer": "INTEGER",
    "smallint": "SMALLINT",
    "double": "DOUBLE",
    "float": "FLOAT",
    "string": "VARCHAR",
    "timestamp": "TIMESTAMP",
    "timestamp_ntz": "TIMESTAMP",
    "date": "DATE",
    "boolean": "BOOLEAN",
    "array<float>": "FLOAT[]",
}


@query(
    "meta_columns_in_query",
    oracle="""
    SELECT column_name, column_type AS data_type
    FROM (DESCRIBE SELECT * FROM orders)
    """,
)
def meta_columns_in_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column introspection of an arbitrary query
    (default__get_columns_in_query @159512: ``select * from (sql) where
    false limit 0``). Spark's lazy analysis gives the schema for free —
    no cluster job runs; types are canonicalized to ANSI names."""
    df = _t(spark, sf_dir, "orders")
    rows = [
        (f.name, _SPARK_TO_SQL_TYPE.get(f.dataType.simpleString(), f.dataType.simpleString().upper()))
        for f in df.schema.fields
    ]
    return spark.createDataFrame(rows, "column_name string, data_type string")


# Register the remaining query families.
from dbt_ci_demo_spark import (  # noqa: E402,F401
    queries_behavior,
    queries_embed,
    queries_joins,
    queries_media,
    queries_meta,
    queries_northstar,
    queries_olap2,
    queries_relational,
    queries_sampling,
    queries_tpch2,
    queries_writer,
)

# ---------------------------------------------------------------------------
# Driver check order. The registry is an insertion-ordered dict and the
# driver verifies a bounded 50-slot prefix per round, so the order below is
# the coverage budget (SURVEY §7.7 AGE-BASED RE-VERIFICATION policy):
# slots 1-30 stay the compact SURVEY-§2-covering prefix (every B-operator
# keeps a driver-green representative; dq_suite_all_tests carries
# B21-B25+B29 in one slot); slots 31-50 rotate per round — new
# registrations jump the head, then the computed age queue
# (oldest-driver-check-first). The current rotation is documented inline
# at the slots-31-50 marker below and in SURVEY §7.7's per-round status.
# Queries rotated OUT of the window carry driver-green evidence in
# CORRECTNESS_r01..r{N}.json and stay in the tail; slots 31-50 re-verify
# previously-green rows oldest-driver-check-first, so no row's green
# evidence goes stale by more than ~6 rounds. EXEMPT:
# dedup_jaccard_pairs / sim_topk_bruteforce (VERDICT r05 task 7) stay
# registered as the documented all-pairs verifier twins of the LSH/IVF scale
# paths but are permanently excluded from promotion slates (the whitelist
# tightness test pins their exemption; window slots go to scale-path
# queries).
# Names not listed keep their insertion order after the listed ones, so a
# new query is never silently dropped — it lands in the breadth tail until
# it is slotted here (tests/test_oracle_correctness.py pins list == registry).
# ---------------------------------------------------------------------------

_PRIORITY: list[str] = [
    # -- slots 1-30: SURVEY §2 coverage (A1-A7, B1-B38, scalar idioms) --
    "flagship_repo_languages",
    "flagship_sql_lateral",
    "test_model_literal",
    "wr_ctas_roundtrip",
    "wr_view_roundtrip",
    "seed_csv_typed",
    "wr_copy_concat",
    "wr_date_sharded",
    "wr_ddl_suite",
    "wr_incremental_dispatch",
    "incr_merge_upsert",
    "incr_insert_overwrite_dynamic",
    "incr_delete_insert",
    "incr_watermark",
    "incr_schema_evolution",
    "snap_cycle_timestamp",
    "snap_first_build",
    "snap_changeset_timestamp",
    "snap_check_strategy",
    "dq_suite_all_tests",
    "meta_catalog_fixture",
    "meta_columns_in_query",
    "wr_list_relations",
    "wr_partitions_metadata",
    "wr_hooks_audit",
    "wr_dag_topo_run",
    "wr_state_cycle",
    "wr_defer",
    "wr_compile_schemas",
    "fx_scalar_idioms",
    # -- slots 31-50: ROUND-14 ROTATION (VERDICT r13 task 1 + the
    #    SURVEY §7.7 age policy): the r14 registration
    #    dedup_index_retry_replay jumps the head, then the computed r14
    #    slate's first 19 names — the r06-green remainder head-to-tail
    #    (samp_budget_allocation … q15_top_supplier);
    #    stats_sketch_quantiles slips to the r15 queue head. --
    "dedup_index_retry_replay",
    "samp_budget_allocation",
    "sim_ivf_quantized",
    "sim_topk_quantized",
    "emb_quantize_int8",
    "text_sentence_chunks",
    "meta_content_digest",
    "text_ccnet_buckets",
    "dq_volume_anomaly",
    "graph_pagerank",
    "wr_zorder_cluster",
    "text_badwords_filter",
    "text_url_domains",
    "stream_cdc_versioned",
    "incr_cdc_compact",
    "samp_quality_weighted",
    "pipe_decontaminate",
    "pipe_mixture_from_quality",
    "q2_min_cost_supplier",
    "q15_top_supplier",
    # -- tail: driver-green in r01..r13 (rotated out of the window;
    #    newest evidence first — the r13 window, then the r12/r11/r10
    #    windows; the r15 queue head is stats_sketch_quantiles, then
    #    the r07-green remainder, oldest-check-first) --
    "dedup_cluster_star",
    "dedup_containment",
    "text_source_quality",
    "pipe_curation_end_to_end",
    "events_retention_cohorts",
    "events_funnel_conversion",
    "events_continuous_aggregate",
    "events_json_struct",
    "stream_dedup_watermark",
    "stream_sliding_windows",
    "samp_stratified_lang",
    "text_redact_pii",
    "text_tfidf_topterms",
    "emb_label_affinity",
    "q7_nation_volume",
    "q8_market_share",
    "q14_promo_revenue_share",
    "q16_unsold_parts",
    "q20_excess_suppliers",
    "text_gopher_rules",
    "dedup_index_refresh_cycle",
    "dedup_incremental_minhash",
    "text_repetition",
    "sim_ivf_kmeans_trained",
    "mm_audio_chunks",
    "samp_source_mixture",
    "samp_pack_token_windows",
    "text_unigram_logprob",
    "text_line_dedup",
    "q9_product_profit",
    "q13_order_count_distribution",
    "q18_large_orders",
    "q19_disjunctive_revenue",
    "q22_idle_rich_customers",
    "olap_rollup_pricing",
    "stats_exact_moments",
    "ts_date_spine_gapfill",
    "samp_hash_fraction",
    "pipe_embedding_end_to_end",
    "incr_cdc_versioned",
    "wr_build_incremental_ci",
    "dedup_substring_splice",
    "emb_kmeans_converged",
    "emb_kmeans_step",
    "mm_image_metadata",
    "mm_resize",
    "text_winnowing",
    "text_langid",
    "events_salted_user_join",
    "events_salted_distinct",
    "stream_sessionize",
    "stream_foreachbatch_merge",
    "stream_stateful_totals",
    "q1_pricing_summary",
    "q3_top_orders",
    "q21_sole_late_supplier",
    "olap_grouping_sets",
    "win_percent_rank_cume",
    "incr_cdc_apply",
    "stream_interval_join",
    "dedup_substring_spans",
    "stream_session_late_accounting",
    "wr_build_e2e",
    "dedup_jaccard_pairs",
    "sim_topk_bruteforce",
    "events_json_props",
    "mm_features",
    "flagship_distinct_preagg",
    "sim_ivf_topk",
    "dedup_minhash_lsh",
    "sim_lsh_ann",
    "text_stats",
    "stream_tumbling_hourly",
    "events_asof_attribution",
    "samp_train_test_split",
    "emb_label_centroids",
    "dedup_simhash",
    "dedup_exact_groups",
    "dedup_cluster_components",
    "sim_embedding_neardup",
    "snap_check_all",
    "stream_late_data_accounting",
    "win_ntile_highcard",
    "samp_quota_threshold2",
    "events_topk_users",
    "dq_unique_pass",
    "incr_merge_partial_update",
    "incr_merge_append",
    "events_asof_tolerance",
    "q5_local_supplier_volume",
    "wr_bucketed_join",
    "dq_unique_violations",
    "dq_not_null_violations",
    "dq_accepted_values",
    "dq_relationships",
    "dq_test_harness",
    "dq_freshness_age",
    "src_json_roundtrip",
    "fx_array_agg_ordered",
    "events_sessionize",
    "samp_quota_threshold",
    "emb_assign_matrix",
    "src_orc_roundtrip",
    "events_sliding_windows",
    "events_top_transitions",
    "q4_late_shipment_priority",
    "q6_forecast_revenue",
    "q10_returned_revenue",
    "q11_important_parts",
    "q12_priority_by_status",
    "q17_small_qty_revenue",
    "olap_cube_volumes",
    "olap_pivot_status_counts",
    "olap_unpivot_metrics",
    "stats_exact_percentiles",
    "ts_moving_average",
    "olap_price_histogram",
    "join_full_outer_reconcile",
    "win_first_last_value",
    "set_repeat_vs_churned",
    "stats_sketch_quantiles",
    "stats_sketch_distinct_merge",
    "dedup_semantic_clusters",
    "wr_compact_small_files",
    "mm_image_metadata_codec",
    "pipe_budgeted_curation",
    "emb_normalize_digest",
    "mm_frame_sample",
    "text_token_counts",
    "text_fingerprint",
    "events_range_join_campaigns",
    "text_vocab_topk",
    "text_bigram_topk",
    "win_running_total",
    "win_rank_orders",
    "win_lead_lag_gaps",
    "win_ntile_quartiles",
    "dedup_latest_per_user",
    "dedup_exact_survivors",
    "events_tumbling_hourly",
]


def _reorder_registry() -> None:
    ordered = {n: _REGISTRY[n] for n in _PRIORITY if n in _REGISTRY}
    ordered.update((n, e) for n, e in _REGISTRY.items() if n not in ordered)
    _REGISTRY.clear()
    _REGISTRY.update(ordered)


_reorder_registry()
