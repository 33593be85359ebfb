"""Sampling / splitting / cleaning query registrations (north-star:
reproducible training-data curation; the reference has no sampling surface,
SURVEY.md §2.B.8).

Every keep/drop/assign decision is a pure md5 expression of a stable key,
so the DuckDB oracles check the *decisions* bit-for-bit — row counts alone
would accept a differently-seeded sample.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbt_ci_demo_spark.operators import sampling as sp
from dbt_ci_demo_spark.operators import text as tx
from dbt_ci_demo_spark.queries import _t, query
from dbt_ci_demo_spark.session import checkpoint, pinned

# DuckDB twin of sampling._key_hash: first 8 md5 hex chars as an integer.
_DUCK_HASH = "('0x' || substr(md5('{seed}|' || CAST({key} AS VARCHAR)), 1, 8))::BIGINT"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "documents").select("doc_id", "lang", "source", "n_chars")


@query(
    "samp_hash_fraction",
    oracle=f"""
    SELECT doc_id, lang, source, n_chars FROM documents
    WHERE {_DUCK_HASH.format(seed='sample', key='doc_id')} % {sp.BUCKETS} < {sp.BUCKETS // 10}
    """,
)
def samp_hash_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10% sample of the corpus, keyed on doc_id: scan-only
    (the keep predicate runs inside the scan's codegen stage — no shuffle,
    no RNG state), reproducible across runs/partitionings/engines, stable
    under appends. The decision itself is oracle-checked row-by-row."""
    return sp.hash_sample(_docs(spark, sf_dir), "doc_id", 0.1, seed="sample")


@query(
    "samp_train_test_split",
    oracle=f"""
    SELECT doc_id, lang,
           CASE WHEN {_DUCK_HASH.format(seed='split', key='doc_id')} % {sp.BUCKETS}
                     < {sp.BUCKETS // 10} THEN 'test'
                WHEN {_DUCK_HASH.format(seed='split', key='doc_id')} % {sp.BUCKETS}
                     < {sp.BUCKETS // 5} THEN 'val'
                ELSE 'train' END AS split
    FROM documents
    """,
)
def samp_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test assignment (10% test, 10% val) from the
    same hash-bucket family: disjoint, exhaustive, append-stable. Every
    per-document assignment is oracle-checked."""
    return sp.train_val_test_split(
        _docs(spark, sf_dir).select("doc_id", "lang"),
        "doc_id",
        test_fraction=0.1,
        val_fraction=0.1,
        seed="split",
    )


@query(
    "samp_stratified_lang",
    oracle=f"""
    SELECT doc_id, lang FROM (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY {_DUCK_HASH.format(seed='strat', key='doc_id')}, doc_id
             ) AS rk
      FROM documents
    ) WHERE rk <= 200
    """,
)
def samp_stratified_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced corpus: exactly min(200, |stratum|) documents per language,
    chosen uniformly by hash order — the bounded reservoir for rebalancing
    a skewed corpus. One shuffle on the strata column."""
    return sp.stratified_sample(
        _docs(spark, sf_dir).select("doc_id", "lang"), ["lang"], "doc_id", 200,
        seed="strat",
    )


# ---------------------------------------------------------------------------
# PII redaction over a deterministically PII-injected corpus (the fixture
# text contains no addresses, so both engines append the same synthetic
# contact block to every 10th document).
# ---------------------------------------------------------------------------

_PII_SUFFIX_SQL = (
    "' Contact user' || CAST(doc_id AS VARCHAR) || '@example.com'"
    " || ' or call 555-010-1234 or see https://example.com/u/' || CAST(doc_id AS VARCHAR)"
)


def _docs_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    suffix = F.concat(
        F.lit(" Contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or call 555-010-1234 or see https://example.com/u/"),
        F.col("doc_id").cast("string"),
    )
    return d.select(
        "doc_id",
        F.when(F.col("doc_id") % 10 == 0, F.concat(F.col("text"), suffix))
        .otherwise(F.col("text"))
        .alias("text"),
    ).repartition(spark.sparkContext.defaultParallelism)


def _redact_oracle() -> str:
    counts = ",\n           ".join(
        f"CAST(len(regexp_extract_all(text, '{pat}')) AS INT) AS n_{name}"
        for name, pat, _ in tx.PII_PATTERNS
    )
    redacted = "text"
    for _, pat, repl in tx.PII_PATTERNS:
        redacted = f"regexp_replace({redacted}, '{pat}', '{repl}', 'g')"
    return f"""
    WITH docs AS (
      SELECT doc_id,
             CASE WHEN doc_id % 10 = 0 THEN text || {_PII_SUFFIX_SQL} ELSE text END AS text
      FROM documents
    )
    SELECT doc_id, {redacted} AS redacted,
           {counts}
    FROM docs
    """


# ---------------------------------------------------------------------------
# End-to-end curation pipeline: quality filter → fingerprint dedup →
# stratified cap → leakage-safe split, composed from the real operators.
# ---------------------------------------------------------------------------

_NORM = (
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))"
)


def _pipeline_oracle() -> str:
    from dbt_ci_demo_spark.queries_northstar import _text_stats_oracle

    hash_expr = _DUCK_HASH.format(seed="strat", key="doc_id")
    split_hash = _DUCK_HASH.format(seed="split", key="doc_id")
    return f"""
    WITH stats AS ({_text_stats_oracle()}),
    kept AS (
      SELECT d.doc_id, d.lang, s.quality_score, md5({_NORM}) AS fp
      FROM documents d JOIN stats s ON s.doc_id = d.doc_id
      WHERE s.quality_score >= 0.5
    ),
    surv AS (SELECT min(doc_id) AS doc_id FROM kept GROUP BY fp),
    dedup AS (SELECT k.doc_id, k.lang, k.quality_score
              FROM kept k JOIN surv v ON v.doc_id = k.doc_id),
    strat AS (
      SELECT doc_id, lang, quality_score,
             row_number() OVER (PARTITION BY lang
                                ORDER BY {hash_expr}, doc_id) AS rk
      FROM dedup
    )
    SELECT doc_id, lang, quality_score,
           CASE WHEN {split_hash} % {sp.BUCKETS} < {sp.BUCKETS // 10} THEN 'test'
                ELSE 'train' END AS split
    FROM strat WHERE rk <= 100
    """


_MIX = {"src0": 1.0, "src1": 0.5, "src2": 0.25, "src3": 0.05}
_MIX_DEFAULT = 0.1


@query(
    "samp_source_mixture",
    oracle=f"""
    SELECT doc_id, lang, source, n_chars FROM documents
    WHERE {_DUCK_HASH.format(seed='mix', key='doc_id')} % {sp.BUCKETS} <
          CASE source
            WHEN 'src0' THEN {sp.BUCKETS}
            WHEN 'src1' THEN {sp.BUCKETS // 2}
            WHEN 'src2' THEN {sp.BUCKETS // 4}
            WHEN 'src3' THEN {sp.BUCKETS // 20}
            ELSE {sp.BUCKETS // 10} END
    """,
)
def samp_source_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source mixing-ratio sample (keep 100% of src0, 50% of src1,
    25% of src2, 5% of src3, 10% of everything else) — the data-mixing
    step that weights corpus sources for training. Scan-only: the
    per-source threshold is a CASE inside the keep predicate, so mixing
    100 TB is one scan with zero shuffles, append-stable, and every
    keep/drop decision is oracle-checked."""
    return sp.source_mixture_sample(
        _docs(spark, sf_dir), "source", "doc_id", _MIX, default_fraction=_MIX_DEFAULT,
        seed="mix",
    )


_PACK_W = 1024
_PACK_SHARDS = 8


@query(
    "samp_pack_token_windows",
    oracle=f"""
    WITH base AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tokens,
             {_DUCK_HASH.format(seed='pack', key='doc_id')} % {_PACK_SHARDS} AS shard
      FROM documents
    ),
    off AS (
      SELECT doc_id, shard, n_tokens,
             CAST(coalesce(SUM(n_tokens) OVER (
               PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS start_offset
      FROM base WHERE n_tokens > 0
    )
    SELECT doc_id, shard, n_tokens, start_offset,
           CAST(floor(start_offset / {_PACK_W}.0) AS BIGINT) AS first_window,
           CAST(floor((start_offset + n_tokens - 1) / {_PACK_W}.0) AS BIGINT) AS last_window
    FROM off
    """,
)
def samp_pack_token_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk packing accounting (the pretraining data layout):
    per document, its running token offset within a hash shard and the
    [first_window, last_window] span of {_PACK_W}-token training windows
    it occupies. One window cumsum per shard — shards pack independently,
    the way a large job emits parallel packed streams; offsets and spans
    are integer arithmetic, oracle-checked per document."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", tx.token_count(F.col("text")).alias("n_toks")
    )
    return sp.pack_token_windows(
        d, "doc_id", "n_toks", window_tokens=_PACK_W, shards=_PACK_SHARDS, seed="pack"
    )


@query("pipe_curation_end_to_end", oracle=_pipeline_oracle)
def pipe_curation_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full training-data curation pipeline as ONE composed plan:
    C4/Gopher-style quality filter (text_stats) → normalized-fingerprint
    dedup (min-id survivor) → per-language stratified cap of 100 →
    leakage-safe hash split. Every stage is the same operator the
    individual queries check; the oracle replays the whole composition, so
    stage *interactions* (filter-before-dedup, dedup-before-cap) are
    value-checked too. Plan shape: ONE corpus text pass (quality score
    and fingerprint are inline expressions computed together — no
    self-join to attach scores) materialized as a slim 4-column table,
    then two key-partitioned window shuffles (min-per-fingerprint,
    per-stratum rank) — nothing quadratic, nothing driver-side. The
    scored projection is checkpointed before the quality filter so the
    regex battery runs once (SCALE.md "Materialization policy")."""
    from pyspark.sql import Window

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    par = spark.sparkContext.defaultParallelism
    scored = d.repartition(par).select(
        "doc_id",
        "lang",
        tx.quality_metrics(F.col("text"))["quality_score"].alias("quality_score"),
        F.md5(tx.normalized_text(F.col("text"))).alias("fp"),
    )
    with pinned(scored):
        scored_ck = checkpoint(scored)
    kept = scored_ck.filter(F.col("quality_score") >= 0.5)
    # dedup = first row per fingerprint, as ONE window shuffle (equivalent
    # to min-id group + semi-join back, without the join).
    w_fp = Window.partitionBy("fp").orderBy(F.col("doc_id").asc())
    dedup = (
        kept.withColumn("__rn", F.row_number().over(w_fp))
        .filter(F.col("__rn") == 1)
        .select("doc_id", "lang", "quality_score")
    )
    capped = sp.stratified_sample(dedup, ["lang"], "doc_id", 100, seed="strat")
    split = sp.train_val_test_split(capped, "doc_id", test_fraction=0.1, seed="split")
    return split.select("doc_id", "lang", "quality_score", "split")


@query("text_redact_pii", oracle=_redact_oracle())
def text_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL/email/phone scrubbing with per-document match counts — the
    C4-style cleanup pass as one codegen'd scan. The oracle replays the
    same injection + patterns, checking redacted text byte-for-byte."""
    out = tx.redact_pii(_docs_pii(spark, sf_dir), "text", "doc_id")
    return out.select(
        "doc_id", "redacted",
        *[F.col(f"n_{name}").cast("int").alias(f"n_{name}") for name, _, _ in tx.PII_PATTERNS],
    )


@query(
    "pipe_mixture_from_quality",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, source, md5(text) AS hh,
             CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS toks
      FROM documents
    ),
    c AS (SELECT hh, count(*) AS cnt FROM h GROUP BY hh),
    clean AS (
      SELECT h.source, sum(h.toks) AS clean_tokens
      FROM h JOIN c USING (hh) WHERE c.cnt = 1
      GROUP BY h.source
    ),
    cuts AS (
      SELECT source,
             CAST(floor(({sp.BUCKETS} * (SELECT min(clean_tokens) FROM clean))::DOUBLE
                        / clean_tokens) AS BIGINT) AS cut
      FROM clean
    )
    SELECT d.doc_id, d.source, d.n_chars, cuts.cut
    FROM documents d JOIN cuts USING (source)
    WHERE {_DUCK_HASH.format(seed='mixq', key='d.doc_id')} % {sp.BUCKETS} < cuts.cut
    """,
)
def pipe_mixture_from_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture fractions DERIVED from measured per-source quality (the
    linkage text_source_quality's docstring promises; VERDICT r04 task
    8): per source, count CLEAN tokens (tokens of docs whose exact
    content hash is unique corpus-wide — duplication-discounted supply),
    set cut_s = floor(BUCKETS * min_clean / clean_s) so every source
    contributes the smallest source's clean-token volume in expectation
    (temperature-0 uniform mixing), then keep docs whose hash bucket
    falls under their source's cut.

    Scale shape: stats → cuts → filter is ONE declarative plan with no
    driver collect — the per-source clean-token aggregate is a hash
    shuffle, the k-row cut table broadcast-joins onto the corpus scan,
    and the keep decision is the same scan-side md5 predicate as every
    sampler here (append-stable, engine-portable, oracle-checked
    row-by-row). The smallest source is kept at cut = BUCKETS (100%).
    """
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        "n_chars",
        F.md5(F.col("text")).alias("hh"),
        tx.token_count(F.col("text")).cast("long").alias("toks"),
    )
    c = d.groupBy("hh").agg(F.count(F.lit(1)).alias("cnt"))
    clean = (
        d.join(c, on="hh")
        .filter(F.col("cnt") == 1)
        .groupBy("source")
        .agg(F.sum("toks").alias("clean_tokens"))
    )
    target = clean.agg(F.min("clean_tokens").alias("t"))
    # BUCKETS·t in decimal(38,0), then ::double — NOT a long product: at
    # ~9e12 clean tokens in the smallest source (a ~40 TB text corpus)
    # BUCKETS·t passes 2^63 and the long multiply wraps the cut negative,
    # silently dropping whole sources. The decimal product is exact and
    # its double cast rounds identically to the oracle's exact-BIGINT-
    # then-::DOUBLE, so parity holds at every scale.
    cuts = clean.crossJoin(F.broadcast(target)).select(
        "source",
        F.floor(
            (F.lit(sp.BUCKETS).cast("decimal(38,0)") * F.col("t")).cast("double")
            / F.col("clean_tokens")
        )
        .cast("long")
        .alias("cut"),
    )
    out = sp.source_mixture_sample_by_cuts(
        d.select("doc_id", "source", "n_chars"), "source", "doc_id", cuts, seed="mixq"
    )
    return out.select("doc_id", "source", "n_chars", "cut")


def _quality_weighted_oracle() -> str:
    from dbt_ci_demo_spark.queries_northstar import _text_stats_oracle

    hash_expr = _DUCK_HASH.format(seed="qw", key="s.doc_id")
    return f"""
    WITH stats AS ({_text_stats_oracle()})
    SELECT s.doc_id, d.lang, s.quality_score
    FROM stats s JOIN documents d USING (doc_id)
    WHERE {hash_expr} % {sp.BUCKETS} <
          least(CAST(floor(s.quality_score * {sp.BUCKETS}) AS BIGINT), {sp.BUCKETS})
    """


@query("samp_quality_weighted", oracle=_quality_weighted_oracle)
def samp_quality_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted sampling (operators/sampling.score_weighted_sample):
    each document survives with probability equal to its measured
    quality score — the soft alternative to pipe_curation's hard 0.5
    threshold. The score ladder {{0, .25, .5, .75, 1}} comes from the
    same quality_metrics whose cross-engine parity text_stats already
    pins, so the oracle checks every keep/drop decision bit-for-bit. The
    scored projection is checkpointed before the sampler's filter so the
    regex battery runs once (SCALE.md "Materialization policy")."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    scored = d.select(
        "doc_id",
        "lang",
        tx.quality_metrics(F.col("text"))["quality_score"].alias("quality_score"),
    )
    with pinned(scored):
        scored_ck = checkpoint(scored)
    out = sp.score_weighted_sample(scored_ck, "doc_id", "quality_score", seed="qw")
    return out.select("doc_id", "lang", "quality_score")


_BADWORDS_FIXTURE = ("slow", "dup", "deprecated")


@query(
    "text_badwords_filter",
    oracle=f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(lower(text),
                '\\b({"|".join(_BADWORDS_FIXTURE)})\\b')) AS INT) AS n_badwords,
           len(regexp_extract_all(lower(text),
                '\\b({"|".join(_BADWORDS_FIXTURE)})\\b')) = 0 AS keep
    FROM documents
    """,
)
def text_badwords_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style blocklist filter (operators/text.badword_filter): per
    document, blocklisted-word occurrences (word-boundary, lowercased)
    and the drop-on-any-hit keep decision. The whole blocklist compiles
    to ONE alternation regex, so filtering 100 TB is a single codegen'd
    scan — no joins, no shuffles; the oracle checks every count and
    keep/drop decision. (Fixture list uses neutral corpus words; the
    production list is a drop-in tuple.)"""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return tx.badword_filter(d, "text", "doc_id", words=_BADWORDS_FIXTURE)


@query(
    "text_url_domains",
    oracle=f"""
    WITH docs AS (
      SELECT doc_id,
             CASE WHEN doc_id % 10 = 0 THEN text || {_PII_SUFFIX_SQL} ELSE text END AS text
      FROM documents
    )
    SELECT doc_id, lower(domain) AS domain FROM (
      SELECT doc_id,
             unnest(regexp_extract_all(text, 'https?://([^/\\s:]+)', 1)) AS domain
      FROM docs
    )
    """,
)
def text_url_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL domain extraction (operators/text.url_domains) over the
    PII-injected corpus (every 10th document carries a synthetic
    https://example.com link): one (doc_id, domain) row per URL
    occurrence — the input for domain-level blocklists and quality
    priors (C4/RefinedWeb-style domain filtering). Pure regexp in the
    scan; occurrence-exact against the oracle."""
    return tx.url_domains(_docs_pii(spark, sf_dir), "text", "doc_id")


_BUDGET = 1000


@query(
    "samp_budget_allocation",
    oracle=f"""
    WITH counts AS (
      SELECT lang AS stratum, count(*) AS n_rows FROM documents GROUP BY lang
    ),
    tot AS (SELECT SUM(n_rows) AS N FROM counts),
    base AS (
      SELECT stratum, n_rows,
             ({_BUDGET} * n_rows) // (SELECT N FROM tot) AS base,
             ({_BUDGET} * n_rows) % (SELECT N FROM tot) AS rem
      FROM counts
    ),
    lo AS (SELECT {_BUDGET} - SUM(base) AS leftover FROM base)
    SELECT stratum, n_rows,
           CAST(base + CASE WHEN row_number() OVER (ORDER BY rem DESC, stratum)
                             <= (SELECT leftover FROM lo)
                        THEN 1 ELSE 0 END AS BIGINT) AS quota
    FROM base
    """,
)
def samp_budget_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder apportionment (operators/sampling.
    allocate_budget): split a 1000-document sampling budget across
    languages exactly proportionally — floor quotas plus leftover seats
    to the largest remainders, all integer arithmetic, so the quotas sum
    to exactly the budget and every per-language number hash-matches
    the oracle (float-rounded shares can over/under-shoot). The
    planning half of stratified sampling: feed each quota into
    stratified_sample's per-stratum cap. One corpus aggregate; the
    apportionment itself is window math over the k-row stratum table."""
    d = _t(spark, sf_dir, "documents").select("lang")
    return sp.allocate_budget(d, "lang", _BUDGET)


_CURATION_BUDGET = 200


def _budgeted_curation_oracle() -> str:
    from dbt_ci_demo_spark.queries_northstar import _text_stats_oracle

    hash_expr = _DUCK_HASH.format(seed="bcur", key="k.doc_id")
    return f"""
    WITH stats AS ({_text_stats_oracle()}),
    kept AS (
      SELECT s.doc_id, d.lang, s.quality_score
      FROM stats s JOIN documents d USING (doc_id)
      WHERE s.quality_score >= 0.5
    ),
    counts AS (SELECT lang AS stratum, count(*) AS n_rows FROM kept GROUP BY lang),
    tot AS (SELECT SUM(n_rows) AS N FROM counts),
    base AS (
      SELECT stratum, n_rows,
             ({_CURATION_BUDGET} * n_rows) // (SELECT N FROM tot) AS base,
             ({_CURATION_BUDGET} * n_rows) % (SELECT N FROM tot) AS rem
      FROM counts
    ),
    lo AS (SELECT {_CURATION_BUDGET} - SUM(base) AS leftover FROM base),
    quotas AS (
      SELECT stratum AS lang,
             CAST(base + CASE WHEN row_number() OVER (ORDER BY rem DESC, stratum)
                               <= (SELECT leftover FROM lo)
                          THEN 1 ELSE 0 END AS BIGINT) AS quota
      FROM base
    ),
    ranked AS (
      SELECT k.doc_id, k.lang, k.quality_score, q.quota,
             row_number() OVER (
               PARTITION BY k.lang ORDER BY {hash_expr}, k.doc_id
             ) AS rk
      FROM kept k JOIN quotas q USING (lang)
    )
    SELECT doc_id, lang, quality_score, quota FROM ranked WHERE rk <= quota
    """


@query("pipe_budgeted_curation", oracle=_budgeted_curation_oracle)
def pipe_budgeted_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budgeted curation end-to-end (r06, VERDICT r05 task 8 — the
    flagship 100 TB curation shape): measure per-document quality →
    hard-gate at 0.5 → apportion a global 200-document budget across
    languages by largest remainder over the SURVIVING corpus
    (allocate_budget) → enforce each language's quota with the
    hash-ordered stratified cap (stratified_sample_by_quota). The
    budget is planned from measured data, not config, and the whole
    chain — quality scan, k-row apportionment window, broadcast quota
    join, rank cap — is one declarative plan with no driver collect:
    quotas sum to exactly the budget, and every kept doc_id is
    oracle-checked. Scale shape: two corpus-sized passes (the quality
    aggregate feeding counts, the rank window on lang), both
    AQE-managed hash exchanges; everything else is k-row. The slim
    scored projection is checkpointed once, because the chain reads
    ``kept`` from several subtrees (SCALE.md "Materialization
    policy"); the downstream plan stays lazily composed."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    scored = d.select(
        "doc_id",
        "lang",
        tx.quality_metrics(F.col("text"))["quality_score"].alias("quality_score"),
    )
    with pinned(scored):
        scored_ck = checkpoint(scored)
    kept = scored_ck.filter(F.col("quality_score") >= 0.5)
    quotas = sp.allocate_budget(kept, "lang", _CURATION_BUDGET).select(
        F.col("stratum").alias("lang"), "quota"
    )
    out = sp.stratified_sample_by_quota(
        kept,
        ["lang"],
        "doc_id",
        quotas,
        seed="bcur",
        # Skew guard (r07): every largest-remainder quota is <= the total
        # budget, so the budget is the plan-time literal that lets Spark
        # plan a map-side WindowGroupLimit — without it the whole
        # surviving majority-language stratum sorts in ONE reduce task.
        max_quota=_CURATION_BUDGET,
    )
    return out.select("doc_id", "lang", "quality_score", "quota")


_QTH_BUDGET = 137  # odd on purpose: exercises largest-remainder leftovers


def _quota_threshold_oracle(seed: str = "qth") -> str:
    hash_expr = _DUCK_HASH.format(seed=seed, key="d.doc_id")
    return f"""
    WITH counts AS (
      SELECT lang AS stratum, count(*) AS n_rows FROM documents GROUP BY lang
    ),
    tot AS (SELECT SUM(n_rows) AS N FROM counts),
    base AS (
      SELECT stratum, n_rows,
             ({_QTH_BUDGET} * n_rows) // (SELECT N FROM tot) AS base,
             ({_QTH_BUDGET} * n_rows) % (SELECT N FROM tot) AS rem
      FROM counts
    ),
    lo AS (SELECT {_QTH_BUDGET} - SUM(base) AS leftover FROM base),
    quotas AS (
      SELECT stratum AS lang,
             CAST(base + CASE WHEN row_number() OVER (ORDER BY rem DESC, stratum)
                               <= (SELECT leftover FROM lo)
                          THEN 1 ELSE 0 END AS BIGINT) AS quota
      FROM base
    ),
    ranked AS (
      SELECT d.doc_id, d.lang, q.quota,
             row_number() OVER (
               PARTITION BY d.lang ORDER BY {hash_expr}, d.doc_id
             ) AS rk
      FROM documents d JOIN quotas q USING (lang)
    )
    SELECT doc_id, lang, quota FROM ranked WHERE rk <= quota
    """


@query("samp_quota_threshold", oracle=_quota_threshold_oracle)
def samp_quota_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-free budgeted sampling (r07 — the VERDICT r06 task-1
    stretch): enforce largest-remainder quotas with the HISTOGRAM
    THRESHOLD plan (`stratified_sample_by_quota_threshold`) instead of a
    whole-stratum rank window. The kept set is decision-identical to the
    rank formulation — the oracle ranks by (hash, key) and checks every
    kept doc_id bit-for-bit — but the plan bounds reduce-side work
    without ANY plan-time literal: bin counts are a k·1024-row aggregate,
    ~(1 − 1/1024) of kept rows decide via a scan-side bin predicate, and
    only boundary-bin rows (~stratum/1024) are ever ranked. This is the
    quota plan when the budget itself is data-sized (e.g. 'sample 10^9
    docs'), where `max_quota`'s literal WindowGroupLimit cap stops
    helping; equality with the window sampler is also property-tested at
    both paths' seeds (tests/test_sampling.py)."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    quotas = sp.allocate_budget(d, "lang", _QTH_BUDGET).select(
        F.col("stratum").alias("lang"), "quota"
    )
    out = sp.stratified_sample_by_quota_threshold(
        d, ["lang"], "doc_id", quotas, seed="qth"
    )
    return out.select("doc_id", "lang", "quota")


def _quota_threshold2_oracle() -> str:
    return _quota_threshold_oracle(seed="qth2")


@query("samp_quota_threshold2", oracle=_quota_threshold2_oracle)
def samp_quota_threshold2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO-level recursive histogram quota enforcement (r08, VERDICT r07
    task 5b): same largest-remainder quotas and the same kept set as
    `samp_quota_threshold` (oracle checks every kept doc_id bit-for-bit
    under its own seed), but the boundary-bin slice is re-binned on its
    interior hash range and threshold-selected AGAIN before any ranking —
    bounding the final rank window by ~stratum/1024² instead of
    ~stratum/1024. A tiny n_hist_buckets (8) makes the recursion do real
    work at fixture scale: level 1's boundary bin holds ~1/8 of a
    stratum, so level 2's selection is exercised on hundreds of rows,
    not an empty shell. Equality with the window sampler at both depths
    is property-tested (tests/test_sampling.py)."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    quotas = sp.allocate_budget(d, "lang", _QTH_BUDGET).select(
        F.col("stratum").alias("lang"), "quota"
    )
    out = sp.stratified_sample_by_quota_threshold(
        d, ["lang"], "doc_id", quotas, seed="qth2", n_hist_buckets=8, n_levels=2
    )
    return out.select("doc_id", "lang", "quota")
