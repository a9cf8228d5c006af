"""Round-10 fourth batch — four more never-covered families:

- ``kruskal_wallis_doclen`` — tie-corrected Kruskal-Wallis k-sample
  rank test of doc length across sources: the corpus collapses to the
  bounded (value x source) grid, GLOBAL tie-averaged ranks come from
  the value-axis cumulative in 2x-scaled integers (R2(v) =
  2*cum_before + c_v + 1 — exact, no float ranks), per-source rank
  sums and the tie correction assemble in DECIMAL, one division at
  the end.  The INDEPENDENT-samples rank test beside
  friedman_rank_test (blocked) and source_quality_ranksum (two-sample).
- ``hodges_lehmann_shift`` — Hodges-Lehmann location-shift estimator
  between the two lexicographically-first sources: the median of all
  pairwise doc-length differences, computed on the BOUNDED difference
  grid (value-domain squared, never corpus squared) with weighted
  cumulative counts — the robust effect-size companion to
  ks_two_sample_sources (which only rejects).
- ``cochran_armitage_trend`` — Cochran-Armitage test for a linear
  trend in order-fulfillment rate across the ordered priority levels
  (scores 1..5 parsed from the priority prefix): one bounded 5-row
  grid, the z^2 statistic in closed form from exact integer sums.
  The ORDERED-categories test beside chi_squared_independence
  (unordered).
- ``mantel_haenszel_or`` — Mantel-Haenszel pooled odds ratio and CMH
  chi-squared of (hash-assigned exposure) x (order fulfilled) across
  market-segment strata: per-stratum 2x2 terms micro-quantized before
  the bounded strata sums.  The STRATIFIED association estimator
  beside ipw_ate_stratified (risk difference) — odds-ratio scale,
  confounder-adjusted.

Dual-dialect per repo conventions throughout."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..functions.dialect import DUCKDB, SPARK, Dialect
from ..registry import register
from ..sources.tables import load_table
from .curation import _doc_view


# --------------------------------------------------------------------------
# Kruskal-Wallis with tie correction (bounded value grid)
# --------------------------------------------------------------------------
def _kruskal_sql(d: Dialect, table: str) -> str:
    return f"""
WITH cells AS (
  SELECT source, CAST(n_chars AS BIGINT) AS v, CAST(COUNT(*) AS BIGINT) AS c
  FROM {table} GROUP BY source, n_chars
),
vals AS (SELECT v, CAST(SUM(c) AS BIGINT) AS cv FROM cells GROUP BY v),
-- value-axis cumulative via the triangular join on the BOUNDED value
-- grid (|distinct n_chars| rows — never the corpus); R2(v) =
-- 2*cum_before + c_v + 1 is 2x the tie-averaged global rank, exact
ranks AS (
  SELECT a.v,
         2 * COALESCE(SUM(CASE WHEN b.v < a.v THEN b.cv END), 0)
           + MAX(a.cv) + 1 AS r2
  FROM vals a LEFT JOIN vals b ON b.v <= a.v
  GROUP BY a.v
),
g AS (
  SELECT ce.source,
         CAST(SUM(ce.c) AS BIGINT) AS n_g,
         CAST(SUM(CAST(ce.c AS DECIMAL(38,0)) * r.r2) AS DECIMAL(38,0))
           AS r2_sum
  FROM cells ce JOIN ranks r ON r.v = ce.v
  GROUP BY ce.source
),
tot AS (
  SELECT CAST(SUM(n_g) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS k
  FROM g
),
ties AS (
  SELECT CAST(SUM(CAST(cv AS DECIMAL(38,0)) * cv * cv - cv)
              AS DECIMAL(38,0)) AS t3t
  FROM vals
),
-- H = 12/(N(N+1)) * sum R_g^2/n_g - 3(N+1), with R_g = r2_sum/2;
-- per-group term micro-quantized before the k-row sum
terms AS (
  SELECT gg.source, gg.n_g, gg.r2_sum,
         CAST(FLOOR(CAST(gg.r2_sum AS DOUBLE) * CAST(gg.r2_sum AS DOUBLE)
              / 4.0e0 / gg.n_g * 1e6) AS BIGINT) AS rr_micro
  FROM g gg
),
rr AS (SELECT CAST(SUM(rr_micro) AS BIGINT) AS rrm FROM terms),
-- every joined side is a one-row ungrouped aggregate, so the planner
-- broadcasts (BNLJ) instead of falling into a CartesianProduct (a
-- grouped aggregate OVER the cross join planned one initially)
h AS (
  SELECT t.n, t.k,
         12.0e0 / (CAST(t.n AS DOUBLE) * (t.n + 1))
           * (CAST(r.rrm AS DOUBLE) / 1e6)
           - 3.0e0 * (t.n + 1) AS h_raw,
         1.0e0 - CAST(ti.t3t AS DOUBLE)
           / (CAST(t.n AS DOUBLE) * t.n * t.n - t.n) AS tie_c
  FROM rr r CROSS JOIN tot t CROSS JOIN ties ti
)
SELECT gg.source,
       gg.n_g AS n_docs,
       CAST(ROUND(CAST(gg.r2_sum AS DOUBLE) / 2.0e0 / gg.n_g, 6) AS DOUBLE)
         AS mean_rank,
       h.n AS n_total,
       h.k AS k_groups,
       CAST(ROUND(h.h_raw / NULLIF(h.tie_c, 0), 6) AS DOUBLE)
         AS kw_h_statistic,
       CAST(CASE WHEN h.h_raw / NULLIF(h.tie_c, 0) > 30.144e0
                 THEN 1 ELSE 0 END AS INT) AS reject_equal_5pct
FROM g gg CROSS JOIN h
ORDER BY gg.source
"""


@register(
    "kruskal_wallis_doclen",
    oracle=_kruskal_sql(DUCKDB, "documents"),
    doc="Tie-corrected Kruskal-Wallis k-sample rank test of doc length "
    "across sources: global tie-averaged ranks in 2x-scaled exact "
    "integers from the bounded value grid's triangular cumulative "
    "(never a corpus sort or window), per-group R^2/n terms "
    "micro-quantized, tie correction from the counts-of-values, H vs "
    "the literal chi2_19 5% value 30.144e0.  The independent-samples "
    "rank test beside friedman (blocked) and ranksum (two-sample).",
    tags=("analytics", "stats", "agg"),
)
def kruskal_wallis_doclen(spark: SparkSession, sf_dir: str) -> DataFrame:
    view = _doc_view(spark, sf_dir, "sales_telegram_bot_data_pipeline_kw_docs")
    return spark.sql(_kruskal_sql(SPARK, view))


# --------------------------------------------------------------------------
# Hodges-Lehmann location shift between two sources
# --------------------------------------------------------------------------
def _hl_sources_rel(d: Dialect, table: str) -> str:
    return f"""
SELECT source FROM (
  SELECT DISTINCT source FROM {table}
) s ORDER BY source LIMIT 2
"""


def _src2_cells_sql(d: Dialect, table: str) -> str:
    """Side-tagged per-value count grid of the two lexicographically-first
    sources with the source labels carried on the rows — the head that
    cramer_von_mises and hellinger materialize once per call (both are
    measured keeps in PERF_NOTES.md); the bounded |V| value grid is orders
    of magnitude below the corpus."""
    return f"""
WITH two AS ({_hl_sources_rel(d, table)}),
lo AS (SELECT MIN(source) AS s FROM two),
hi AS (SELECT MAX(source) AS s FROM two),
ga AS (
  SELECT CAST(n_chars AS BIGINT) AS v, CAST(COUNT(*) AS BIGINT) AS c
  FROM {table} t JOIN lo ON t.source = lo.s GROUP BY n_chars
),
gb AS (
  SELECT CAST(n_chars AS BIGINT) AS v, CAST(COUNT(*) AS BIGINT) AS c
  FROM {table} t JOIN hi ON t.source = hi.s GROUP BY n_chars
)
SELECT 0 AS side, lo.s AS src, ga.v, ga.c FROM ga CROSS JOIN lo
UNION ALL
SELECT 1 AS side, hi.s AS src, gb.v, gb.c FROM gb CROSS JOIN hi
"""


def _src2_head_sql(d: Dialect, table: str, cells_rel: str | None = None) -> str:
    """The lo/hi/ga/gb WITH-clause head shared by the two-source grid
    tests: inline (oracle / default) or re-read from a materialized
    ``_src2_cells_sql`` view (Spark side).  MAX(src) over a side equals
    the lo/hi scalar because every row of a side carries its label."""
    if cells_rel:
        return f"""lo AS (SELECT MAX(src) AS s FROM {cells_rel} WHERE side = 0),
hi AS (SELECT MAX(src) AS s FROM {cells_rel} WHERE side = 1),
ga AS (SELECT v, c FROM {cells_rel} WHERE side = 0),
gb AS (SELECT v, c FROM {cells_rel} WHERE side = 1)"""
    return f"""two AS ({_hl_sources_rel(d, table)}),
lo AS (SELECT MIN(source) AS s FROM two),
hi AS (SELECT MAX(source) AS s FROM two),
ga AS (
  SELECT CAST(n_chars AS BIGINT) AS v, CAST(COUNT(*) AS BIGINT) AS c
  FROM {table} t JOIN lo ON t.source = lo.s GROUP BY n_chars
),
gb AS (
  SELECT CAST(n_chars AS BIGINT) AS v, CAST(COUNT(*) AS BIGINT) AS c
  FROM {table} t JOIN hi ON t.source = hi.s GROUP BY n_chars
)"""


def _hl_diffs_sql(d: Dialect, table: str) -> str:
    """The bounded pairwise-difference grid WITH the two source labels
    carried on every row — the relation every downstream CTE of the
    Hodges-Lehmann estimator references (7 references; CTE inlining
    expanded them into 38 executed corpus scans per statement, guide
    §3.3).  Split out so the Spark side materializes it once per call."""
    return f"""
  WITH two AS ({_hl_sources_rel(d, table)}),
  lo AS (SELECT MIN(source) AS s FROM two),
  hi AS (SELECT MAX(source) AS s FROM two),
  ga AS (
    SELECT CAST(n_chars AS BIGINT) AS v, CAST(COUNT(*) AS BIGINT) AS c
    FROM {table} t JOIN lo ON t.source = lo.s GROUP BY n_chars
  ),
  gb AS (
    SELECT CAST(n_chars AS BIGINT) AS v, CAST(COUNT(*) AS BIGINT) AS c
    FROM {table} t JOIN hi ON t.source = hi.s GROUP BY n_chars
  )
  SELECT a.v - b.v AS dd, CAST(SUM(a.c * b.c) AS BIGINT) AS w,
         MAX(lo.s) AS sa, MAX(hi.s) AS sb
  FROM ga a CROSS JOIN gb b CROSS JOIN lo CROSS JOIN hi
  GROUP BY a.v - b.v
"""


def _hl_sql(d: Dialect, table: str, diffs_rel: str | None = None) -> str:
    # pairwise-difference grid: |V_a| x |V_b| cells (value-domain squared,
    # NEVER corpus squared), weight = product of cell counts; the two
    # source labels ride the grid rows so the final projection never
    # re-derives the lo/hi scalar subtrees
    diffs = diffs_rel or _hl_diffs_sql(d, table)
    return f"""
WITH dgrid AS ({diffs}),
diffs AS (SELECT dd, w FROM dgrid),
lo AS (SELECT MAX(sa) AS s FROM dgrid),
hi AS (SELECT MAX(sb) AS s FROM dgrid),
tot AS (SELECT CAST(SUM(w) AS BIGINT) AS n FROM diffs),
-- weighted median via the triangular cumulative on the bounded
-- difference axis: med2 = d_(floor((n+1)/2)) + d_(floor((n+2)/2))
cum AS (
  SELECT a.dd,
         COALESCE(SUM(CASE WHEN b.dd < a.dd THEN b.w END), 0) + MAX(a.w)
           AS cu
  FROM diffs a LEFT JOIN diffs b ON b.dd <= a.dd
  GROUP BY a.dd
),
mlo AS (
  SELECT MIN(c2.dd) AS vlo FROM cum c2 CROSS JOIN tot t
  WHERE c2.cu >= {d.idiv("(t.n + 1)", "2")}
),
mhi AS (
  SELECT MIN(c2.dd) AS vhi FROM cum c2 CROSS JOIN tot t
  WHERE c2.cu >= {d.idiv("(t.n + 2)", "2")}
)
SELECT (SELECT s FROM lo) AS source_a,
       (SELECT s FROM hi) AS source_b,
       t.n AS n_pairs,
       CAST(ROUND((ml.vlo + mh.vhi) / 2.0e0, 6) AS DOUBLE)
         AS hodges_lehmann_shift,
       CAST((SELECT MIN(dd) FROM diffs) AS BIGINT) AS min_diff,
       CAST((SELECT MAX(dd) FROM diffs) AS BIGINT) AS max_diff
FROM tot t CROSS JOIN mlo ml CROSS JOIN mhi mh
"""


@register(
    "hodges_lehmann_shift",
    oracle=_hl_sql(DUCKDB, "documents"),
    doc="Hodges-Lehmann location-shift estimator between the two "
    "lexicographically-first sources: the median of ALL pairwise "
    "doc-length differences, but the n_a x n_b pair population "
    "collapses to the bounded |V|x|V| difference grid (weights = "
    "count products; value-domain squared, never corpus squared), "
    "weighted median from the triangular cumulative in exact "
    "integers.  The robust effect SIZE beside ks_two_sample_sources "
    "(which only rejects) and source_quality_ranksum (which only "
    "ranks).",
    tags=("analytics", "stats", "agg"),
)
def hodges_lehmann_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..session import materialize_once

    view = _doc_view(spark, sf_dir, "sales_telegram_bot_data_pipeline_hl_docs")
    dgrid = materialize_once(spark, _hl_diffs_sql(SPARK, view), "hl_diffs", key=sf_dir)
    return spark.sql(_hl_sql(SPARK, view, diffs_rel=f"SELECT * FROM {dgrid}"))


# --------------------------------------------------------------------------
# Cochran-Armitage trend test
# --------------------------------------------------------------------------
def _catrend_sql(d: Dialect, orders: str) -> str:
    score = "CAST(substr(o_orderpriority, 1, 1) AS BIGINT)"
    return f"""
WITH cells AS (
  SELECT {score} AS s,
         CAST(COUNT(*) AS BIGINT) AS n_i,
         CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
              AS BIGINT) AS x_i
  FROM {orders} GROUP BY 1
),
m AS (
  SELECT CAST(SUM(n_i) AS BIGINT) AS n,
         CAST(SUM(x_i) AS BIGINT) AS x,
         CAST(SUM(s * n_i) AS DECIMAL(38,0)) AS sn,
         CAST(SUM(s * x_i) AS DECIMAL(38,0)) AS sx,
         CAST(SUM(s * s * n_i) AS DECIMAL(38,0)) AS ssn
  FROM cells
),
-- z^2 = (sx - x*sn/n)^2 / (pbar(1-pbar)(ssn - sn^2/n)); everything
-- assembles from one exact aggregate row (scalar expression tree)
z AS (
  SELECT n, x,
         CAST(sx AS DOUBLE) - CAST(x AS DOUBLE) * CAST(sn AS DOUBLE) / n
           AS num,
         (CAST(x AS DOUBLE) / n) * (1.0e0 - CAST(x AS DOUBLE) / n)
           * (CAST(ssn AS DOUBLE)
              - CAST(sn AS DOUBLE) * CAST(sn AS DOUBLE) / n) AS den
  FROM m
)
SELECT c.s AS priority_score,
       c.n_i AS n_orders,
       CAST(ROUND(CAST(c.x_i AS DOUBLE) / c.n_i, 6) AS DOUBLE)
         AS fulfilled_rate,
       z.n AS n_total,
       CAST(ROUND(z.num * z.num / NULLIF(z.den, 0), 6) AS DOUBLE)
         AS ca_trend_chi2,
       CAST(CASE WHEN z.num * z.num / NULLIF(z.den, 0) > 3.841e0
                 THEN 1 ELSE 0 END AS INT) AS reject_no_trend_5pct
FROM cells c CROSS JOIN z
ORDER BY c.s
"""


@register(
    "cochran_armitage_trend",
    oracle=_catrend_sql(DUCKDB, "orders"),
    doc="Cochran-Armitage test for a linear trend in order-fulfillment "
    "rate across the five ORDERED priority levels (scores parsed from "
    "the priority prefix): one map-side-combinable groupBy to the "
    "bounded 5-row grid, the z^2 statistic from one exact aggregate "
    "row, chi2_1 vs the literal 3.841e0.  The ordered-categories test "
    "beside chi_squared_independence (which ignores the ordering).",
    tags=("analytics", "stats", "agg"),
)
def cochran_armitage_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("sales_telegram_bot_data_pipeline_ca_o")
    return spark.sql(_catrend_sql(SPARK, "sales_telegram_bot_data_pipeline_ca_o"))


# --------------------------------------------------------------------------
# Mantel-Haenszel pooled odds ratio + CMH chi-squared
# --------------------------------------------------------------------------
def _mh_sql(d: Dialect, orders: str, customer: str) -> str:
    arm = f"({d.md5_prefix_int(f'(' + chr(39) + 'mh|' + chr(39) + ' || ' + d.strcast('o_custkey') + ')')}) % 2"
    return f"""
WITH base AS (
  SELECT c.c_mktsegment AS stratum,
         CAST({arm} AS INT) AS exposed,
         CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END AS outcome
  FROM {orders} o JOIN {customer} c ON c.c_custkey = o.o_custkey
),
tab AS (
  SELECT stratum,
         CAST(SUM(exposed * outcome) AS BIGINT) AS a,
         CAST(SUM(exposed * (1 - outcome)) AS BIGINT) AS b,
         CAST(SUM((1 - exposed) * outcome) AS BIGINT) AS c,
         CAST(SUM((1 - exposed) * (1 - outcome)) AS BIGINT) AS dd
  FROM base GROUP BY stratum
),
-- per-stratum MH and CMH terms micro-quantized before the bounded
-- strata sums
terms AS (
  SELECT stratum, a, b, c, dd, a + b + c + dd AS n,
         CAST(FLOOR(CAST(a AS DOUBLE) * dd / (a + b + c + dd) * 1e6)
              AS BIGINT) AS ad_micro,
         CAST(FLOOR(CAST(b AS DOUBLE) * c / (a + b + c + dd) * 1e6)
              AS BIGINT) AS bc_micro,
         CAST(FLOOR(CAST(a + b AS DOUBLE) * (a + c)
              / (a + b + c + dd) * 1e6) AS BIGINT) AS e_micro,
         CAST(FLOOR(CAST(a + b AS DOUBLE) * (c + dd) * (a + c) * (b + dd)
              / (CAST(a + b + c + dd AS DOUBLE)
                 * (a + b + c + dd) * (a + b + c + dd - 1)) * 1e6)
              AS BIGINT) AS v_micro
  FROM tab
),
agg AS (
  SELECT CAST(SUM(a) AS BIGINT) AS sum_a,
         CAST(SUM(ad_micro) AS BIGINT) AS sad,
         CAST(SUM(bc_micro) AS BIGINT) AS sbc,
         CAST(SUM(e_micro) AS BIGINT) AS se,
         CAST(SUM(v_micro) AS BIGINT) AS sv
  FROM terms
)
SELECT t.stratum,
       t.a AS n_exposed_fulfilled,
       t.b AS n_exposed_other,
       t.c AS n_control_fulfilled,
       t.dd AS n_control_other,
       CAST(ROUND(CAST(ag.sad AS DOUBLE) / NULLIF(CAST(ag.sbc AS DOUBLE), 0),
                  6) AS DOUBLE) AS mh_odds_ratio,
       CAST(ROUND((ag.sum_a - CAST(ag.se AS DOUBLE) / 1e6)
                  * (ag.sum_a - CAST(ag.se AS DOUBLE) / 1e6)
                  / NULLIF(CAST(ag.sv AS DOUBLE) / 1e6, 0), 6) AS DOUBLE)
         AS cmh_chi2
FROM tab t CROSS JOIN agg ag
ORDER BY t.stratum
"""


@register(
    "mantel_haenszel_or",
    oracle=_mh_sql(DUCKDB, "orders", "customer"),
    doc="Mantel-Haenszel pooled odds ratio and CMH chi-squared of "
    "(hash-assigned exposure) x (order fulfilled) across market-"
    "segment strata: one groupBy to the bounded 5x2x2 table, "
    "per-stratum ad/n, bc/n, E, V terms micro-quantized before the "
    "strata sums.  The confounder-adjusted odds-ratio estimator beside "
    "ipw_ate_stratified (risk-difference scale) — the pair every "
    "stratified analysis reports together.",
    tags=("analytics", "causal", "stats"),
)
def mantel_haenszel_or(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("sales_telegram_bot_data_pipeline_mh_o")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("sales_telegram_bot_data_pipeline_mh_c")
    return spark.sql(
        _mh_sql(SPARK, "sales_telegram_bot_data_pipeline_mh_o", "sales_telegram_bot_data_pipeline_mh_c")
    )
