"""Round-10 third batch — four more never-covered families:

- ``qini_uplift_curve`` — uplift-model evaluation: users rank by an
  activity score (distributed range-rank on the Spark side — never a
  single-partition sort), cut into deciles, and the Qini curve
  cumQ(d) = convT(d) - convC(d) * NT(d)/NC(d) compares against the
  random-targeting diagonal; the Qini coefficient is the mean gap.
  The UPLIFT eval beside score_decile_lift (response-model lift) and
  roc_auc (classification).
- ``sprt_poisson_audit`` — Wald sequential probability ratio test of
  daily order counts: H0 Poisson(lambda0) vs H1 Poisson(1.05*lambda0)
  with lambda0 the observed mean; per-day log-likelihood increments
  nano-quantized, the cumulative path rides the distributed
  range-prefix-sum primitive, first crossing of the exact +-ln(19)
  Wald boundaries (alpha = beta = 0.05) reported.  The SEQUENTIAL
  testing family beside ab_conversion_ztest (fixed horizon) and
  cusum (change detection).
- ``beta_binomial_shrinkage`` — empirical-Bayes shrinkage of
  per-source English rates under a Beta-Binomial: method-of-moments
  (alpha, beta) from the k per-source rates, shrunk rate =
  (alpha + x_g)/(alpha + beta + n_g).  The RATE analogue of
  james_stein_shrinkage (normal means).
- ``capture_recapture_dedup`` — Chapman capture-recapture estimate of
  the TRUE near-dup pair population from two independent detectors
  (MinHash-LSH banding vs stop-shingle exact Jaccard): pair-set sizes
  a, b, overlap m give N-hat = (a+1)(b+1)/(m+1) - 1 and per-detector
  coverage.  The dedup-completeness audit beside lsh_recall_audit
  (which needs ground truth; this estimates it without).

Dual-dialect per repo conventions throughout."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.dialect import DUCKDB, SPARK, Dialect, strip_order_by
from ..registry import register
from ..sources.tables import load_table

_LN19 = "2.9444389791664403e0"  # ln(19): Wald bounds for alpha=beta=0.05
_LN105 = "0.04879016416943205e0"  # ln(1.05)


# --------------------------------------------------------------------------
# Qini uplift curve
# --------------------------------------------------------------------------
def _qini_tail_sql(d: Dialect, users_ranked: str) -> str:
    """From (user_id, treated, converted, r) 1-based rank rows: deciles,
    cumulative counts via a triangular join on the bounded decile axis,
    Qini curve and coefficient."""
    return f"""
WITH u AS (SELECT * FROM {users_ranked}),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM u),
dec AS (
  SELECT CAST({d.idiv("(u.r - 1) * 10", "nn.n")} AS INT) AS decile,
         u.treated, u.converted
  FROM u CROSS JOIN n nn
),
cells AS (
  SELECT decile,
         CAST(SUM(treated) AS BIGINT) AS nt,
         CAST(SUM(1 - treated) AS BIGINT) AS nc,
         CAST(SUM(treated * converted) AS BIGINT) AS ct,
         CAST(SUM((1 - treated) * converted) AS BIGINT) AS cc
  FROM dec GROUP BY decile
),
-- cumulative over the bounded 10-row decile axis: triangular self-join,
-- no window needed
cum AS (
  SELECT a.decile,
         CAST(SUM(b.nt) AS BIGINT) AS cnt,
         CAST(SUM(b.nc) AS BIGINT) AS cnc,
         CAST(SUM(b.ct) AS BIGINT) AS cct,
         CAST(SUM(b.cc) AS BIGINT) AS ccc
  FROM cells a JOIN cells b ON b.decile <= a.decile
  GROUP BY a.decile
),
tot AS (
  SELECT CAST(SUM(ct) AS BIGINT) AS tct, CAST(SUM(cc) AS BIGINT) AS tcc,
         CAST(SUM(nt) AS BIGINT) AS tnt, CAST(SUM(nc) AS BIGINT) AS tnc
  FROM cells
),
curve AS (
  SELECT c.decile, c.cnt AS cum_treated, c.cnc AS cum_control,
         CAST(c.cct AS DOUBLE)
           - CAST(c.ccc AS DOUBLE) * c.cnt / NULLIF(c.cnc, 0) AS qini,
         -- random-targeting diagonal: overall uplift scaled by the
         -- cumulative treated fraction
         (CAST(t.tct AS DOUBLE) - CAST(t.tcc AS DOUBLE) * t.tnt
            / NULLIF(t.tnc, 0))
           * c.cnt / NULLIF(CAST(t.tnt AS DOUBLE), 0) AS random_line
  FROM cum c CROSS JOIN tot t
),
coef AS (
  SELECT CAST(SUM(CAST(FLOOR((qini - random_line) * 1e6) AS BIGINT))
              AS BIGINT) AS gap_micro,
         CAST(COUNT(*) AS BIGINT) AS k
  FROM curve
)
SELECT cv.decile,
       cv.cum_treated,
       cv.cum_control,
       CAST(ROUND(cv.qini, 6) AS DOUBLE) AS qini_uplift,
       CAST(ROUND(cv.random_line, 6) AS DOUBLE) AS random_uplift,
       CAST(ROUND(CAST(co.gap_micro AS DOUBLE) / 1e6 / co.k, 6) AS DOUBLE)
         AS qini_coefficient
FROM curve cv CROSS JOIN coef co
ORDER BY cv.decile
"""


def _qini_users_sql(d: Dialect, events: str) -> str:
    treat = f"({d.md5_prefix_int(f'(' + chr(39) + 'ipw|' + chr(39) + ' || ' + d.strcast('user_id') + ')')}) % 2"
    return f"""
SELECT user_id,
       CAST({treat} AS INT) AS treated,
       CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS INT)
         AS converted,
       CAST(COUNT(*) AS BIGINT) AS n_ev
FROM {events} GROUP BY user_id
"""


@register(
    "qini_uplift_curve",
    oracle=_qini_tail_sql(
        DUCKDB,
        "(SELECT user_id, treated, converted, "
        "ROW_NUMBER() OVER (ORDER BY n_ev DESC, user_id) AS r "
        f"FROM ({_qini_users_sql(DUCKDB, 'events')}) uu)",
    ),
    doc="Qini uplift curve of activity-score targeting under the "
    "hash-assigned experiment (same arms as ipw_ate_stratified): users "
    "rank by event count through the distributed range-rank primitive "
    "(oracle uses a plain window), deciles cut by exact integer "
    "arithmetic, cumulative counts from a triangular join on the "
    "bounded 10-row axis, Qini coefficient = mean gap to the "
    "random-targeting diagonal (per-decile gaps micro-quantized).  The "
    "uplift eval beside score_decile_lift (response lift).",
    tags=("evaluation", "causal", "distributed-rank"),
)
def qini_uplift_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .scalars_extra import range_ranked

    load_table(spark, sf_dir, "events").createOrReplaceTempView("sales_telegram_bot_data_pipeline_qn_ev")
    users = spark.sql(_qini_users_sql(SPARK, "sales_telegram_bot_data_pipeline_qn_ev")).withColumn(
        "neg_ev", -F.col("n_ev")
    )
    ranked, _ = range_ranked(spark, users, ["neg_ev", "user_id"])
    if ranked is None:
        return spark.sql(
            "SELECT CAST(0 AS INT) AS decile, CAST(0 AS BIGINT) AS cum_treated, "
            "CAST(0 AS BIGINT) AS cum_control, CAST(0.0 AS DOUBLE) AS qini_uplift, "
            "CAST(0.0 AS DOUBLE) AS random_uplift, "
            "CAST(0.0 AS DOUBLE) AS qini_coefficient WHERE 1 = 0"
        )
    ranked.createOrReplaceTempView("sales_telegram_bot_data_pipeline_qn_ranked")
    return spark.sql(
        _qini_tail_sql(
            SPARK,
            "(SELECT user_id, treated, converted, r FROM sales_telegram_bot_data_pipeline_qn_ranked)",
        )
    )


# --------------------------------------------------------------------------
# Wald SPRT on daily order counts (Poisson)
# --------------------------------------------------------------------------
_SPRT_DAILY = """
SELECT CAST({dayno} AS BIGINT) AS day, CAST(COUNT(*) AS BIGINT) AS x
FROM {orders} GROUP BY 1
"""

_SPRT_INC = """
SELECT day, x,
       -- per-day LLR increment x*ln(1.05) - 0.05*lambda0, nano-quantized
       CAST(FLOOR((x * {ln105} - 0.05e0 * lam.l0) * 1e9) AS BIGINT) AS inc_nano
FROM {daily} dd CROSS JOIN {lam} lam
"""

_SPRT_FINAL = """
SELECT t.n AS n_days,
       CAST(ROUND(t.l0, 6) AS DOUBLE) AS lambda0,
       CAST(ROUND(CAST(t.final_nano AS DOUBLE) / 1e9, 6) AS DOUBLE)
         AS final_llr,
       COALESCE(t.cross_day, CAST(0 AS BIGINT)) AS first_crossing_day,
       CASE WHEN t.cross_sign > 0 THEN 'accept_h1'
            WHEN t.cross_sign < 0 THEN 'accept_h0'
            ELSE 'continue' END AS decision
FROM {t} t
"""


def _sprt_oracle() -> str:
    dayno = "datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))"
    daily = _SPRT_DAILY.format(dayno=dayno, orders="orders")
    return f"""
WITH daily AS ({daily}),
lam AS (SELECT CAST(SUM(x) AS DOUBLE) / COUNT(*) AS l0 FROM daily),
inc AS ({_SPRT_INC.format(daily="daily", lam="lam", ln105=_LN105)}),
path AS (
  SELECT day,
         CAST(SUM(inc_nano) OVER (ORDER BY day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_nano
  FROM inc
),
crossed AS (
  SELECT day, cum_nano,
         CASE WHEN cum_nano > {_LN19} * 1e9 THEN 1
              WHEN cum_nano < -({_LN19}) * 1e9 THEN -1 ELSE 0 END AS sgn
  FROM path
),
t AS (
  SELECT (SELECT COUNT(*) FROM daily) AS n,
         (SELECT l0 FROM lam) AS l0,
         (SELECT cum_nano FROM path ORDER BY day DESC LIMIT 1) AS final_nano,
         (SELECT MIN(day) FROM crossed WHERE sgn <> 0) AS cross_day,
         COALESCE((SELECT sgn FROM crossed WHERE sgn <> 0
                   ORDER BY day LIMIT 1), 0) AS cross_sign
)
{_SPRT_FINAL.format(t="t")}
"""


@register(
    "sprt_poisson_audit",
    oracle=_sprt_oracle(),
    doc="Wald SPRT of daily order counts, H0 Poisson(lambda0) vs H1 "
    "Poisson(1.05 lambda0) with lambda0 the observed mean and exact "
    "+-ln(19) boundaries (alpha = beta = 0.05, both as literals): "
    "per-day LLR increments nano-quantized, the cumulative path via "
    "the distributed range-prefix-sum primitive (oracle: window "
    "cumsum), first boundary crossing and final decision reported.  "
    "The sequential-testing primitive beside the fixed-horizon z-test "
    "and CUSUM; self-referential lambda0 makes this the 'would the "
    "sequential monitor have fired' audit.",
    tags=("analytics", "experiment", "distributed-rank", "timeseries"),
)
def sprt_poisson_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .scalars_extra import range_prefix_summed

    load_table(spark, sf_dir, "orders").createOrReplaceTempView("sales_telegram_bot_data_pipeline_sp_o")
    dayno = "datediff(to_date(o_orderdate), to_date('1970-01-01'))"
    daily = spark.sql(
        _SPRT_DAILY.format(dayno=dayno, orders="sales_telegram_bot_data_pipeline_sp_o")
    ).localCheckpoint(eager=False)
    daily.createOrReplaceTempView("sales_telegram_bot_data_pipeline_sp_daily")
    inc = spark.sql(
        "WITH lam AS (SELECT CAST(SUM(x) AS DOUBLE) / COUNT(*) AS l0 "
        "FROM sales_telegram_bot_data_pipeline_sp_daily) "
        + _SPRT_INC.format(
            daily="sales_telegram_bot_data_pipeline_sp_daily", lam="lam", ln105=_LN105
        )
    )
    summed, _ = range_prefix_summed(spark, inc, ["day"], "inc_nano")
    if summed is None:
        return spark.sql(
            "SELECT CAST(0 AS BIGINT) AS n_days, CAST(0.0 AS DOUBLE) AS lambda0, "
            "CAST(0.0 AS DOUBLE) AS final_llr, CAST(0 AS BIGINT) AS "
            "first_crossing_day, CAST('continue' AS STRING) AS decision WHERE 1=0"
        )
    summed.withColumn(
        "cum_nano", (F.col("cum_before") + F.col("inc_nano")).cast("long")
    ).createOrReplaceTempView("sales_telegram_bot_data_pipeline_sp_path")
    return spark.sql(
        f"""
WITH crossed AS (
  SELECT day, cum_nano,
         CASE WHEN cum_nano > {_LN19} * 1e9 THEN 1
              WHEN cum_nano < -({_LN19}) * 1e9 THEN -1 ELSE 0 END AS sgn
  FROM sales_telegram_bot_data_pipeline_sp_path
),
t AS (
  SELECT (SELECT COUNT(*) FROM sales_telegram_bot_data_pipeline_sp_daily) AS n,
         (SELECT CAST(SUM(x) AS DOUBLE) / COUNT(*)
          FROM sales_telegram_bot_data_pipeline_sp_daily) AS l0,
         (SELECT cum_nano FROM sales_telegram_bot_data_pipeline_sp_path
          ORDER BY day DESC LIMIT 1) AS final_nano,
         (SELECT MIN(day) FROM crossed WHERE sgn <> 0) AS cross_day,
         COALESCE((SELECT sgn FROM crossed WHERE sgn <> 0
                   ORDER BY day LIMIT 1), 0) AS cross_sign
)
{_SPRT_FINAL.format(t="t")}
"""
    )


# --------------------------------------------------------------------------
# Beta-Binomial empirical-Bayes shrinkage of per-source rates
# --------------------------------------------------------------------------
def _betabin_sql(d: Dialect, table: str) -> str:
    return f"""
WITH g AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_g,
         CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS x_g
  FROM {table} GROUP BY source
),
rates AS (
  SELECT source, n_g, x_g, CAST(x_g AS DOUBLE) / n_g AS r FROM g
),
-- MoM over the k per-source rates: nano-quantized per group before the
-- bounded k-row moment sums
mom AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(CAST(FLOOR(r * 1e9) AS BIGINT)) AS BIGINT) AS s1_nano,
         CAST(SUM(CAST(FLOOR(r * r * 1e9) AS BIGINT)) AS BIGINT) AS s2_nano
  FROM rates
),
fit AS (
  SELECT k,
         CAST(s1_nano AS DOUBLE) / 1e9 / k AS mu,
         (CAST(s2_nano AS DOUBLE) / 1e9
          - (CAST(s1_nano AS DOUBLE) / 1e9) * (CAST(s1_nano AS DOUBLE) / 1e9) / k)
           / NULLIF(k - 1, 0) AS v
  FROM mom
),
ab AS (
  -- alpha+beta = mu(1-mu)/v - 1, clamped to >= 0 (v >= mu(1-mu): more
  -- dispersed than any Beta allows -> no shrinkage strength)
  SELECT k, mu, v,
         GREATEST(0.0e0, mu * (1.0e0 - mu) / NULLIF(v, 0) - 1.0e0) AS s
  FROM fit
)
SELECT r.source,
       r.n_g AS n_docs,
       CAST(ROUND(r.r, 6) AS DOUBLE) AS raw_rate,
       CAST(ROUND((ab.mu * ab.s + r.x_g) / (ab.s + r.n_g), 6) AS DOUBLE)
         AS shrunk_rate,
       CAST(ROUND(ab.mu * ab.s, 6) AS DOUBLE) AS alpha,
       CAST(ROUND((1.0e0 - ab.mu) * ab.s, 6) AS DOUBLE) AS beta,
       ab.k AS k_sources
FROM rates r CROSS JOIN ab
ORDER BY r.source
"""


@register(
    "beta_binomial_shrinkage",
    oracle=_betabin_sql(DUCKDB, "documents"),
    doc="Empirical-Bayes Beta-Binomial shrinkage of per-source English "
    "rates: method-of-moments (alpha, beta) from the k per-source rates "
    "(nano-quantized before the bounded moment sums; prior strength "
    "clamped at 0 when the rates are over-dispersed beyond any Beta), "
    "shrunk rate = (alpha + x_g)/(alpha + beta + n_g) — small sources "
    "pull hard toward the prior mean, big sources barely move.  The "
    "RATE analogue of james_stein_shrinkage (normal means).",
    tags=("analytics", "stats", "agg"),
)
def beta_binomial_shrinkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .curation import _doc_view

    view = _doc_view(spark, sf_dir, "sales_telegram_bot_data_pipeline_bb_docs")
    return spark.sql(_betabin_sql(SPARK, view))


# --------------------------------------------------------------------------
# Chapman capture-recapture estimate of the near-dup pair population
# --------------------------------------------------------------------------
def _capture_sql(
    d: Dialect,
    table: str,
    lsh_rel: str | None = None,
    jac_rel: str | None = None,
) -> str:
    from .dedup import _jaccard_stopshingle_sql, _lsh_pairs_sql

    lsh = lsh_rel or f"({strip_order_by(_lsh_pairs_sql(d, table))})"
    jac = jac_rel or f"({strip_order_by(_jaccard_stopshingle_sql(d, table))})"
    return f"""
WITH a AS (SELECT doc_a, doc_b FROM {lsh} aa),
b AS (SELECT doc_a, doc_b FROM {jac} bb),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS m
  FROM a JOIN b ON a.doc_a = b.doc_a AND a.doc_b = b.doc_b
),
s AS (
  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM a) AS na,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM b) AS nb,
         (SELECT m FROM m) AS m
)
SELECT na AS n_pairs_lsh,
       nb AS n_pairs_jaccard,
       m AS n_pairs_both,
       CAST(ROUND(CAST(na + 1 AS DOUBLE) * (nb + 1) / (m + 1) - 1, 2)
            AS DOUBLE) AS chapman_estimate,
       CAST(ROUND(na / NULLIF(CAST(na + 1 AS DOUBLE) * (nb + 1) / (m + 1)
                              - 1, 0), 6) AS DOUBLE) AS coverage_lsh,
       CAST(ROUND(nb / NULLIF(CAST(na + 1 AS DOUBLE) * (nb + 1) / (m + 1)
                              - 1, 0), 6) AS DOUBLE) AS coverage_jaccard
FROM s
"""


@register(
    "capture_recapture_dedup",
    oracle=_capture_sql(DUCKDB, "documents"),
    doc="Chapman capture-recapture estimate of the TRUE near-dup pair "
    "population from two INDEPENDENT detectors — MinHash-LSH banding "
    "(hash-family randomness) and stop-shingle exact Jaccard (token "
    "overlap): N-hat = (a+1)(b+1)/(m+1) - 1 from the pair-set sizes "
    "and their equi-join overlap, plus per-detector coverage.  "
    "Estimates dedup completeness WITHOUT ground truth (lsh_recall_"
    "audit needs it) — the ecology estimator applied to data curation. "
    "Spark side reads both stored pair relations.",
    tags=("dedup", "audit", "stats"),
)
def capture_recapture_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .curation import _doc_view
    from .dedup import (
        _jaccard_stopshingle_sql,
        _lsh_pairs_view,
        _shingle_df_session_rel,
        _shingles_session_rel,
        session_view,
    )

    view = _doc_view(spark, sf_dir)
    lsh = _lsh_pairs_view(spark, sf_dir)
    # stop-shingle pairs as a stored session relation built from the
    # shared shingle/df views (the twin stays live-measured by its op)
    jac = session_view(
        spark, sf_dir, "ssjac",
        lambda: spark.sql(
            strip_order_by(
                _jaccard_stopshingle_sql(
                    SPARK,
                    view,
                    shingles_rel=_shingles_session_rel(spark, sf_dir),
                    df_rel=_shingle_df_session_rel(spark, sf_dir),
                )
            )
        ),
    )
    return spark.sql(_capture_sql(SPARK, view, lsh_rel=lsh, jac_rel=jac))
