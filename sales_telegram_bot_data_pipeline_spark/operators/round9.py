"""Round-9 registry additions — causal-inference / calibration / layout
primitives the 301-query registry still lacked, each a classic
warehouse or experimentation-platform operator:

- ``cuped_variance_reduction`` — CUPED covariate adjustment (Deng et al.
  2013, public): pre-period spend as the control variate for an A/B
  readout; theta and the variance-reduction ratio derived in CLOSED FORM
  from exact integer moments (one groupBy shuffle, no per-row floats).
- ``did_estimator`` — 2x2 difference-in-differences over (hash-assigned
  treatment) x (date-midpoint period): four cell means from exact cent
  sums, the parallel-trends readout every experimentation warehouse
  ships.
- ``isotonic_calibration_bins`` — isotonic (monotone) calibration of a
  binned empirical rate via the MINIMAX closed form
  fit_k = max_{i<=k} min_{j>=k} avg(i..j) — equivalent to PAVA (pinned
  against a Python PAVA in pytest) but expressible as bounded
  K^2/K^3 joins over the K=10 aggregated bins, never an iterative
  driver loop.
- ``ipf_raking_weights`` — two-pass iterative proportional fitting
  (survey raking) of the (o_orderpriority x c_mktsegment) margin grid
  to uniform target margins, every scaling factor quantized to exact
  integer nano-units before the next cross-cell sum.
- ``zorder_layout_audit`` — Morton/Z-order bit interleave of
  (custkey, orderdate) vs a 1-D custkey sort: per-file 2-D bounding-box
  area under each layout (the data-skipping effectiveness argument for
  multi-dimensional clustering at 100 TB), file assignment via the
  distributed range-rank primitive.
- ``bradley_terry_priorities`` — Bradley-Terry preference strengths for
  the 5 order priorities from per-customer pairwise spend comparisons:
  bounded 5x5 win matrix, two MM iterations with nano-unit quantization
  between them.
- ``ks_two_sample_sources`` — exact two-sample Kolmogorov-Smirnov D for
  every source pair over doc-length distributions, the max CDF gap
  decided in cross-multiplied BIGINT form on the aggregated value axis.
- ``overdispersion_audit`` — dispersion index (variance/mean) of daily
  event counts per type, the Poisson-assumption diagnostic, from exact
  BIGINT moments.
- ``covariate_balance_smd`` — standardized mean difference per
  pre-treatment covariate between the hash-split arms (|SMD| < 0.1
  balance bar) — the gate before trusting DiD/CUPED.
- ``ab_power_mde`` — minimum detectable effect at alpha=.05/power=.8,
  raw and CUPED-adjusted, z quantiles as numeric literals (no engine
  erf).

All dual-dialect per repo conventions: exact integer/decimal aggregates
before any cross-partition sum, ROUND(...,6) fractional outputs, explicit
DOUBLE casts before any division (Spark decimal-division trap), NULLIF
guards on every data-dependent divisor.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..functions.dialect import DUCKDB, SPARK, Dialect
from ..registry import register
from ..sources.tables import load_table

_EPOCH_DIFF = {
    "spark": "datediff(to_date(o_orderdate), to_date('1970-01-01'))",
    "duckdb": "datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))",
}


def _orders_base(d: Dialect, orders: str) -> str:
    """(cust, treat, day_x, cents) — the shared experiment-unit scan:
    order value in exact integer cents, deterministic md5 treatment
    assignment (the same salted-hash-routing contract as
    dataset_hash_split: assignment is a pure function of the key, so
    both engines and any re-run agree)."""
    h = d.md5_prefix_int(d.strcast("o_custkey"))
    return f"""
SELECT o_custkey AS cust,
       CAST({h} % 2 AS INT) AS treat,
       CAST({_EPOCH_DIFF[d.name]} AS BIGINT) AS day_x,
       CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
FROM {orders}
"""


# --------------------------------------------------------------------------
# CUPED variance reduction
# --------------------------------------------------------------------------
def _cuped_sql(d: Dialect, orders: str) -> str:
    """CUPED (Controlled-experiment Using Pre-Experiment Data): adjust the
    experiment metric Y by the pre-period covariate X,
    Y_adj = Y - theta (X - mean X) with theta = cov(X,Y)/var(X), which
    shrinks readout variance by exactly rho^2 = corr(X,Y)^2.

    Scale shape: ONE groupBy(cust) shuffle builds the per-unit (x, y)
    panel (map-side combinable sums); every moment that crosses
    partitions is an exact DECIMAL(38,0) sum of BIGINT cents products;
    theta / the variance ratio are CLOSED-FORM scalars computed once from
    those exact moments (cast to DOUBLE only at the final expression), so
    there is no per-row floating arithmetic to drift between engines and
    no second pass over the data.  The date midpoint that splits
    pre-period from experiment period is a one-row scalar (bounds CTE)
    broadcast against the base scan."""
    return f"""
WITH base AS ({_orders_base(d, orders)}),
bounds AS (SELECT MIN(day_x) AS lo, MAX(day_x) AS hi FROM base),
per_cust AS (
  SELECT b.cust, b.treat,
         CAST(SUM(CASE WHEN b.day_x * 2 < t.lo + t.hi THEN b.cents ELSE 0 END)
              AS BIGINT) AS x,
         CAST(SUM(CASE WHEN b.day_x * 2 >= t.lo + t.hi THEN b.cents ELSE 0 END)
              AS BIGINT) AS y
  FROM base b CROSS JOIN bounds t
  GROUP BY b.cust, b.treat
),
mom AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS DECIMAL(38,0)) AS sx,
         CAST(SUM(y) AS DECIMAL(38,0)) AS sy,
         CAST(SUM(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,0)) AS sxx,
         CAST(SUM(CAST(x AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS sxy,
         CAST(SUM(CAST(y AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS syy
  FROM per_cust
),
grp AS (
  SELECT treat, CAST(COUNT(*) AS BIGINT) AS n_g,
         CAST(SUM(x) AS DECIMAL(38,0)) AS sx_g,
         CAST(SUM(y) AS DECIMAL(38,0)) AS sy_g
  FROM per_cust GROUP BY treat
),
wide AS (
  SELECT MAX(CASE WHEN treat = 1 THEN n_g END) AS n_t,
         MAX(CASE WHEN treat = 0 THEN n_g END) AS n_c,
         MAX(CASE WHEN treat = 1 THEN sx_g END) AS sx_t,
         MAX(CASE WHEN treat = 0 THEN sx_g END) AS sx_c,
         MAX(CASE WHEN treat = 1 THEN sy_g END) AS sy_t,
         MAX(CASE WHEN treat = 0 THEN sy_g END) AS sy_c
  FROM grp
),
scal AS (
  SELECT m.n, w.n_t, w.n_c,
         -- theta = cov(X,Y)/var(X) from exact integer moments; DOUBLE
         -- only at this final expression
         (CAST(m.n AS DOUBLE) * CAST(m.sxy AS DOUBLE)
          - CAST(m.sx AS DOUBLE) * CAST(m.sy AS DOUBLE))
         / NULLIF(CAST(m.n AS DOUBLE) * CAST(m.sxx AS DOUBLE)
                  - CAST(m.sx AS DOUBLE) * CAST(m.sx AS DOUBLE), 0) AS theta,
         CAST(w.sy_t AS DOUBLE) / NULLIF(CAST(w.n_t AS DOUBLE), 0)
           - CAST(w.sy_c AS DOUBLE) / NULLIF(CAST(w.n_c AS DOUBLE), 0)
           AS diff_raw_cents,
         CAST(w.sx_t AS DOUBLE) / NULLIF(CAST(w.n_t AS DOUBLE), 0)
           - CAST(w.sx_c AS DOUBLE) / NULLIF(CAST(w.n_c AS DOUBLE), 0)
           AS diff_x_cents,
         -- rho^2 = cov^2/(varX varY): exactly the variance reduction CUPED
         -- delivers (Var(Y_adj) = (1 - rho^2) Var(Y))
         (CAST(m.n AS DOUBLE) * CAST(m.sxy AS DOUBLE)
          - CAST(m.sx AS DOUBLE) * CAST(m.sy AS DOUBLE))
         * (CAST(m.n AS DOUBLE) * CAST(m.sxy AS DOUBLE)
            - CAST(m.sx AS DOUBLE) * CAST(m.sy AS DOUBLE))
         / NULLIF((CAST(m.n AS DOUBLE) * CAST(m.sxx AS DOUBLE)
                   - CAST(m.sx AS DOUBLE) * CAST(m.sx AS DOUBLE))
                  * (CAST(m.n AS DOUBLE) * CAST(m.syy AS DOUBLE)
                     - CAST(m.sy AS DOUBLE) * CAST(m.sy AS DOUBLE)), 0)
           AS rho2
  FROM mom m CROSS JOIN wide w
)
SELECT n AS n_units, n_t AS n_treat, n_c AS n_control,
       ROUND(theta, 6) AS theta,
       ROUND(diff_raw_cents / 100, 6) AS diff_raw_dollars,
       ROUND((diff_raw_cents - theta * diff_x_cents) / 100, 6)
         AS diff_cuped_dollars,
       ROUND(rho2, 6) AS variance_reduction
FROM scal
"""


@register(
    "cuped_variance_reduction",
    oracle=_cuped_sql(DUCKDB, "orders"),
    doc="CUPED covariate adjustment for an A/B readout (Deng et al. 2013): "
    "pre-period spend (first half of the date range) as the control "
    "variate for experiment-period spend, deterministic md5 treatment "
    "assignment. theta, the adjusted lift, and the variance-reduction "
    "ratio rho^2 all in CLOSED FORM from exact DECIMAL(38,0) moments — "
    "one groupBy(cust) shuffle, map-side combinable, no per-row floats, "
    "NULLIF-guarded divisors.",
    tags=("evaluation", "causal", "agg"),
)
def cuped_variance_reduction(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("sales_telegram_bot_data_pipeline_cuped_o")
    return spark.sql(_cuped_sql(SPARK, "sales_telegram_bot_data_pipeline_cuped_o"))


# --------------------------------------------------------------------------
# difference-in-differences
# --------------------------------------------------------------------------
def _did_sql(d: Dialect, orders: str) -> str:
    """2x2 DiD at the order grain: cells (treat x post) from the same
    hash assignment and date midpoint as CUPED; the estimator is the
    classic double difference of cell means.  All four cell sums are
    exact integer cents; a single groupBy(treat, post) shuffle; the 4-row
    cell relation pivots to one row with conditional MAX."""
    return f"""
WITH base AS ({_orders_base(d, orders)}),
bounds AS (SELECT MIN(day_x) AS lo, MAX(day_x) AS hi FROM base),
cells AS (
  SELECT b.treat,
         CASE WHEN b.day_x * 2 >= t.lo + t.hi THEN 1 ELSE 0 END AS post,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(b.cents) AS DECIMAL(38,0)) AS scents
  FROM base b CROSS JOIN bounds t
  GROUP BY 1, 2
),
wide AS (
  SELECT MAX(CASE WHEN treat = 1 AND post = 0 THEN n_orders END) AS n_t_pre,
         MAX(CASE WHEN treat = 1 AND post = 1 THEN n_orders END) AS n_t_post,
         MAX(CASE WHEN treat = 0 AND post = 0 THEN n_orders END) AS n_c_pre,
         MAX(CASE WHEN treat = 0 AND post = 1 THEN n_orders END) AS n_c_post,
         CAST(MAX(CASE WHEN treat = 1 AND post = 0 THEN scents END) AS DOUBLE)
           / NULLIF(CAST(MAX(CASE WHEN treat = 1 AND post = 0 THEN n_orders END)
                         AS DOUBLE), 0) AS m_t_pre,
         CAST(MAX(CASE WHEN treat = 1 AND post = 1 THEN scents END) AS DOUBLE)
           / NULLIF(CAST(MAX(CASE WHEN treat = 1 AND post = 1 THEN n_orders END)
                         AS DOUBLE), 0) AS m_t_post,
         CAST(MAX(CASE WHEN treat = 0 AND post = 0 THEN scents END) AS DOUBLE)
           / NULLIF(CAST(MAX(CASE WHEN treat = 0 AND post = 0 THEN n_orders END)
                         AS DOUBLE), 0) AS m_c_pre,
         CAST(MAX(CASE WHEN treat = 0 AND post = 1 THEN scents END) AS DOUBLE)
           / NULLIF(CAST(MAX(CASE WHEN treat = 0 AND post = 1 THEN n_orders END)
                         AS DOUBLE), 0) AS m_c_post
  FROM cells
)
SELECT n_t_pre, n_t_post, n_c_pre, n_c_post,
       ROUND(m_t_pre / 100, 6) AS mean_treat_pre_dollars,
       ROUND(m_t_post / 100, 6) AS mean_treat_post_dollars,
       ROUND(m_c_pre / 100, 6) AS mean_control_pre_dollars,
       ROUND(m_c_post / 100, 6) AS mean_control_post_dollars,
       ROUND(((m_t_post - m_t_pre) - (m_c_post - m_c_pre)) / 100, 6)
         AS did_dollars
FROM wide
"""


@register(
    "did_estimator",
    oracle=_did_sql(DUCKDB, "orders"),
    doc="2x2 difference-in-differences: (md5-assigned treatment) x "
    "(date-midpoint period) cell means of order value in exact cents, "
    "double-differenced — the parallel-trends causal readout. One "
    "groupBy(treat, post) shuffle; the 4-cell relation pivots via "
    "conditional MAX; NULLIF-guarded cell divisors (an empty cell "
    "yields NULL, never a crash).",
    tags=("evaluation", "causal", "agg"),
)
def did_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("sales_telegram_bot_data_pipeline_did_o")
    return spark.sql(_did_sql(SPARK, "sales_telegram_bot_data_pipeline_did_o"))


# --------------------------------------------------------------------------
# isotonic calibration via the minimax closed form
# --------------------------------------------------------------------------
ISO_BINS = 10


def _isotonic_sql(d: Dialect, orders: str) -> str:
    """Isotonic (non-decreasing) calibration of a binned empirical rate
    WITHOUT an iterative driver loop: over the K aggregated bins the
    isotonic-regression fit has the minimax closed form

        fit_k = max_{i<=k} min_{j>=k} avg(y over bins i..j)

    (weighted; identical to pool-adjacent-violators, which pytest pins via
    a Python PAVA reimplementation).  The signal: P(order is finished |
    order recency bin) — older orders are overwhelmingly 'F', recent ones
    'O', with real noise at the boundary, i.e. a genuinely monotone rate
    the raw bins violate locally.  Bins are indexed by recency (newest =
    highest x) so the fitted rate is non-DEcreasing in k.

    Scale shape: the corpus is touched ONCE (groupBy bin, map-side
    combinable); everything after lives on the K-row relation — prefix
    sums over K rows, the i<=k<=j triple constraint as bounded K^2/K^3
    joins (K=10 → at most 1000 combinations), exactly the bounded-model
    contract of the shapley coalition table.  Interval averages divide
    exact BIGINT prefix-sum differences; DOUBLE appears only there."""
    return f"""
WITH base AS (
  SELECT CAST({_EPOCH_DIFF[d.name]} AS BIGINT) AS day_x,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
  FROM {orders}
),
bounds AS (SELECT MIN(day_x) AS lo, MAX(day_x) AS hi FROM base),
binned AS (
  -- recency bin: 0 = oldest ... K-1 = newest; equi-width on the day axis
  -- (dialect idiv: bare CAST(x/y AS INT) truncates on Spark but ROUNDS
  -- on DuckDB — the round-3 drift class)
  SELECT CAST(LEAST({ISO_BINS} - 1,
               {d.idiv(f"({ISO_BINS} * (b.day_x - t.lo))", "(t.hi - t.lo + 1)")})
              AS INT) AS bin,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(y) AS BIGINT) AS s
  FROM base b CROSS JOIN bounds t
  WHERE t.hi > t.lo
  GROUP BY 1
),
-- K-row prefix sums (window over the bounded bin relation)
pre AS (
  SELECT bin, n, s,
         CAST(SUM(n) OVER (ORDER BY bin) AS BIGINT) AS cn,
         CAST(SUM(s) OVER (ORDER BY bin) AS BIGINT) AS cs
  FROM binned
),
iv AS (
  -- weighted interval averages avg(i..j): (K choose 2)+K rows
  SELECT i.bin AS i, j.bin AS j,
         CAST(j.cs - i.cs + i.s AS DOUBLE)
           / CAST(j.cn - i.cn + i.n AS DOUBLE) AS a
  FROM pre i JOIN pre j ON i.bin <= j.bin
),
inner_min AS (
  -- min over j >= k of avg(i..j), per (k, i<=k)
  SELECT k.bin AS k, iv.i, MIN(iv.a) AS mn
  FROM pre k JOIN iv ON iv.i <= k.bin AND iv.j >= k.bin
  GROUP BY k.bin, iv.i
)
SELECT p.bin AS recency_bin, p.n AS n_orders,
       ROUND(CAST(p.s AS DOUBLE) / CAST(p.n AS DOUBLE), 6) AS raw_rate,
       ROUND(MAX(m.mn), 6) AS isotonic_rate
FROM pre p JOIN inner_min m ON m.k = p.bin
GROUP BY p.bin, p.n, p.s
ORDER BY recency_bin
"""


@register(
    "isotonic_calibration_bins",
    oracle=_isotonic_sql(DUCKDB, "orders"),
    doc="Isotonic calibration of P(order finished | recency bin) via the "
    f"minimax closed form fit_k = max_(i<=k) min_(j>=k) avg(i..j) over "
    f"K={ISO_BINS} aggregated bins — PAVA without the sequential loop "
    "(equivalence pinned in pytest): corpus touched once (groupBy bin), "
    "then bounded K^2/K^3 joins on the 10-row relation. The monotone "
    "score-calibration step every quality-classifier pipeline needs "
    "before thresholding.",
    tags=("evaluation", "calibration", "agg"),
)
def isotonic_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("sales_telegram_bot_data_pipeline_iso_o")
    return spark.sql(_isotonic_sql(SPARK, "sales_telegram_bot_data_pipeline_iso_o"))


# --------------------------------------------------------------------------
# iterative proportional fitting (survey raking), two exact-unit passes
# --------------------------------------------------------------------------
def _ipf_cells_sql(d: Dialect, orders: str, customer: str) -> str:
    """The 25-cell (priority x segment) count grid — the one corpus touch
    of IPF, split out so the Spark side can materialize it once per call
    (guide §3.3: CTE inlining re-ran the orders-join-customer subtree per
    downstream reference, 30 executed scans for one statement)."""
    return f"""
  SELECT o.o_orderpriority AS priority, c.c_mktsegment AS segment,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM {orders} o JOIN {customer} c ON c.c_custkey = o.o_custkey
  GROUP BY 1, 2
"""


def _ipf_sql(d: Dialect, orders: str, customer: str, cells_rel: str | None = None) -> str:
    """One full IPF round (row pass then column pass) raking the
    (o_orderpriority x c_mktsegment) contingency grid to UNIFORM target
    margins — the survey-calibration primitive (Deming–Stephan 1940,
    public) behind demographic re-weighting of training corpora.

    Determinism discipline: every scaling factor is quantized to exact
    integer NANO-units via floor division BEFORE it participates in the
    next cross-cell sum (the repo's libm/float-sum rule) — the row factor
    r_p lands in BIGINT nano-units by integer floor-div, the column
    factor c_s divides two exact integers as DOUBLE and floors back to
    nano-units, and the achieved-margin audit sums n*r*c as
    DECIMAL(38,0) products of those integers.  Scale shape: the corpus
    is touched once (orders equi-joins the broadcastable customer dim,
    groupBy the 25-cell grid, map-side combinable); IPF itself runs
    entirely on the bounded grid — the shapley coalition-table
    contract."""
    return f"""
WITH cells AS ({cells_rel or _ipf_cells_sql(d, orders, customer)}),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t,
               CAST(COUNT(DISTINCT priority) AS BIGINT) AS np,
               CAST(COUNT(DISTINCT segment) AS BIGINT) AS ns
        FROM cells),
rowsums AS (SELECT priority, CAST(SUM(n) AS BIGINT) AS nr FROM cells GROUP BY 1),
-- row pass: r_p = target_row / rowsum in exact nano-units (floor div)
rfac AS (
  SELECT r.priority,
         {d.idiv("(CAST(1000000000 AS BIGINT) * t.t)", "(t.np * r.nr)")} AS r_nano
  FROM rowsums r CROSS JOIN tot t
),
-- column pass against the ROW-SCALED grid: denominator is an exact
-- BIGINT sum of n * r_nano products
colsums AS (
  SELECT c.segment,
         CAST(SUM(CAST(c.n AS DECIMAL(38,0)) * rf.r_nano) AS DECIMAL(38,0)) AS dr
  FROM cells c JOIN rfac rf ON rf.priority = c.priority
  GROUP BY c.segment
),
cfac AS (
  -- c_s = (t/ns) / (dr/1e9): floored to nano-units; the only floating
  -- step is one scalar division of two exact integers per segment
  SELECT cs.segment,
         CAST(FLOOR(1e18 * CAST(t.t AS DOUBLE)
                    / (CAST(t.ns AS DOUBLE) * CAST(cs.dr AS DOUBLE)))
              AS BIGINT) AS c_nano
  FROM colsums cs CROSS JOIN tot t
),
raked AS (
  SELECT c.priority, c.segment, c.n,
         CAST(CAST(rf.r_nano AS DECIMAL(38,0)) * cf.c_nano AS DECIMAL(38,0))
           AS w_atto  -- nano * nano = 1e-18 units
  FROM cells c
  JOIN rfac rf ON rf.priority = c.priority
  JOIN cfac cf ON cf.segment = c.segment
),
audit AS (
  -- achieved margins after the full round, from exact integer products
  SELECT priority,
         CAST(SUM(CAST(n AS DECIMAL(38,0)) * w_atto) AS DECIMAL(38,0)) AS got_r
  FROM raked GROUP BY priority
)
SELECT r.priority, r.segment, r.n AS n_orders,
       ROUND(CAST(r.w_atto AS DOUBLE) / 1e18, 6) AS weight,
       -- column margins are exact by construction of the second pass;
       -- the ROW margin drift after the column pass is the honest
       -- one-round IPF residual (relative error vs the uniform target)
       ROUND(CAST(a.got_r AS DOUBLE) / 1e18
             / (CAST(t.t AS DOUBLE) / CAST(t.np AS DOUBLE)) - 1, 6)
         AS row_margin_relerr
FROM raked r
JOIN audit a ON a.priority = r.priority
CROSS JOIN tot t
ORDER BY r.priority, r.segment
"""


@register(
    "ipf_raking_weights",
    oracle=_ipf_sql(DUCKDB, "orders", "customer"),
    doc="Survey raking (one full IPF round, Deming-Stephan) of the "
    "(o_orderpriority x c_mktsegment) grid to uniform margins: corpus "
    "touched once (broadcastable dim join + 25-cell groupBy), scaling "
    "factors quantized to exact integer nano-units between passes "
    "(floor div — no float sums ever cross cells), achieved-margin "
    "residual audited from exact DECIMAL(38,0) products. The "
    "demographic re-weighting primitive for training-corpus balance.",
    tags=("analytics", "calibration", "agg"),
)
def ipf_raking_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..session import materialize_once

    load_table(spark, sf_dir, "orders").createOrReplaceTempView("sales_telegram_bot_data_pipeline_ipf_o")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("sales_telegram_bot_data_pipeline_ipf_c")
    return spark.sql(
        _ipf_sql(
            SPARK,
            "sales_telegram_bot_data_pipeline_ipf_o",
            "sales_telegram_bot_data_pipeline_ipf_c",
            cells_rel="SELECT * FROM " + materialize_once(
                spark,
                _ipf_cells_sql(
                    SPARK, "sales_telegram_bot_data_pipeline_ipf_o", "sales_telegram_bot_data_pipeline_ipf_c"
                ),
                "ipf_cells",
                key=sf_dir,
            ),
        )
    )


# --------------------------------------------------------------------------
# Z-order (Morton) layout audit
# --------------------------------------------------------------------------
ZORDER_BITS = 8  # 256x256 grid per dimension
ZORDER_FILE_ROWS = 1024  # rows per simulated file


def _zorder_base_sql(d: Dialect, orders: str) -> str:
    """(okey, bx, by, z): both keys normalized to 8-bit grid coordinates
    (exact floor division), z = the 16-bit Morton interleave built from
    pure integer arithmetic ((b>>k & 1) * 4^k terms — no engine-specific
    bit builtins beyond >> and &, which Spark and DuckDB share)."""
    zx = " + ".join(
        f"({d.shr('bx', k)} & 1) * {4 ** k}" for k in range(ZORDER_BITS)
    )
    zy = " + ".join(
        f"({d.shr('by', k)} & 1) * {2 * 4 ** k}" for k in range(ZORDER_BITS)
    )
    grid = 1 << ZORDER_BITS
    return f"""
SELECT okey, bx, by, CAST({zx} + {zy} AS BIGINT) AS z
FROM (
  SELECT s.o_orderkey AS okey,
         CAST({d.idiv(f"({grid} * (s.o_custkey - t.mnc))", "(t.mxc - t.mnc + 1)")}
              AS BIGINT) AS bx,
         CAST({d.idiv(f"({grid} * (s.day_x - t.mnd))", "(t.mxd - t.mnd + 1)")}
              AS BIGINT) AS by
  FROM (
    SELECT o_orderkey, o_custkey,
           CAST({_EPOCH_DIFF[d.name]} AS BIGINT) AS day_x
    FROM {orders}
  ) s
  CROSS JOIN (
    -- key-domain bounds as a ONE-ROW aggregate broadcast, never a
    -- MIN() OVER () corpus window (the single-partition scale killer)
    SELECT MIN(o_custkey) AS mnc, MAX(o_custkey) AS mxc,
           MIN(CAST({_EPOCH_DIFF[d.name]} AS BIGINT)) AS mnd,
           MAX(CAST({_EPOCH_DIFF[d.name]} AS BIGINT)) AS mxd
    FROM {orders}
  ) t
) g
"""


_ZORDER_FINAL = """
SELECT layout,
       CAST(COUNT(*) AS BIGINT) AS n_files,
       ROUND(AVG(CAST(mx_bx - mn_bx + 1 AS DOUBLE)) / {grid}, 6)
         AS avg_x_span_frac,
       ROUND(AVG(CAST(mx_by - mn_by + 1 AS DOUBLE)) / {grid}, 6)
         AS avg_y_span_frac,
       ROUND(AVG(CAST((mx_bx - mn_bx + 1) AS DOUBLE)
                 * CAST((mx_by - mn_by + 1) AS DOUBLE)) / {grid2}, 6)
         AS avg_file_area_frac
FROM {files}
GROUP BY layout
ORDER BY layout
"""


def _zorder_oracle() -> str:
    d = DUCKDB
    grid = 1 << ZORDER_BITS
    return f"""
WITH base AS ({_zorder_base_sql(d, "orders")}),
assigned AS (
  SELECT 'custkey_1d' AS layout,
         (ROW_NUMBER() OVER (ORDER BY bx, okey) - 1) // {ZORDER_FILE_ROWS}
           AS file_id,
         bx, by
  FROM base
  UNION ALL
  SELECT 'zorder' AS layout,
         (ROW_NUMBER() OVER (ORDER BY z, okey) - 1) // {ZORDER_FILE_ROWS}
           AS file_id,
         bx, by
  FROM base
),
files AS (
  SELECT layout, file_id,
         MIN(bx) AS mn_bx, MAX(bx) AS mx_bx,
         MIN(by) AS mn_by, MAX(by) AS mx_by
  FROM assigned GROUP BY layout, file_id
)
{_ZORDER_FINAL.format(grid=grid, grid2=grid * grid, files="files")}
"""


@register(
    "zorder_layout_audit",
    oracle=_zorder_oracle(),
    doc="Data-skipping effectiveness of Z-order clustering: orders keyed by "
    "(custkey, orderdate) normalized to a 256x256 grid, Morton-interleaved "
    "with pure >>/& arithmetic, laid out into fixed-size files under (a) a "
    "1-D custkey sort and (b) the Z-order sort; per-file 2-D bounding-box "
    "spans/area compare the layouts (Z-order shrinks the area a "
    "2-predicate scan must touch — the min/max-pruning argument for "
    "multi-dimensional clustering at 100 TB). Spark side ranks via the "
    "distributed range-rank primitive (repartitionByRange + per-partition "
    "row_number + broadcast offsets), NEVER a single-partition global "
    "sort; the file-span aggregation is one groupBy on exact integers.",
    tags=("layout", "audit", "scale"),
)
def zorder_layout_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from .scalars_extra import range_ranked

    load_table(spark, sf_dir, "orders").createOrReplaceTempView("sales_telegram_bot_data_pipeline_zo_o")
    base = spark.sql(_zorder_base_sql(SPARK, "sales_telegram_bot_data_pipeline_zo_o")).localCheckpoint()
    # ONE distributed rank pass for BOTH layout axes (guide §2.4 — the
    # spearman/rfm axis-fusion): the two sort legs are axis-tagged and
    # unioned, and under (axis, key, okey) ordering each leg is a
    # contiguous block of exactly n rows, so the per-leg rank is the
    # global rank minus axis*n.  The per-leg form paid two
    # repartitionByRange samplings + two offset collects over the same
    # checkpointed base; sort keys bx and z are both BIGINT, so the fused
    # key column compares exactly as each leg did.
    axes = base.select(
        F.lit(0).alias("axis"), F.col("bx").alias("k"), "okey", "bx", "by"
    ).unionByName(
        base.select(F.lit(1).alias("axis"), F.col("z").alias("k"), "okey", "bx", "by")
    )
    ranked, total = range_ranked(spark, axes, ["axis", "k", "okey"])
    if ranked is None:
        return spark.sql(
            "SELECT CAST(NULL AS STRING) AS layout, CAST(0 AS BIGINT) AS n_files, "
            "CAST(NULL AS DOUBLE) AS avg_x_span_frac, "
            "CAST(NULL AS DOUBLE) AS avg_y_span_frac, "
            "CAST(NULL AS DOUBLE) AS avg_file_area_frac WHERE 1=0"
        )
    n = total // 2
    assigned = ranked.select(
        F.when(F.col("axis") == 0, F.lit("custkey_1d"))
        .otherwise(F.lit("zorder"))
        .alias("layout"),
        ((F.col("r") - F.col("axis") * n - 1) / ZORDER_FILE_ROWS)
        .cast("long")
        .alias("file_id"),
        "bx", "by",
    )
    assigned.createOrReplaceTempView("sales_telegram_bot_data_pipeline_zo_assigned")
    grid = 1 << ZORDER_BITS
    return spark.sql(
        "WITH files AS (SELECT layout, file_id, "
        "MIN(bx) AS mn_bx, MAX(bx) AS mx_bx, MIN(by) AS mn_by, MAX(by) AS mx_by "
        "FROM sales_telegram_bot_data_pipeline_zo_assigned GROUP BY layout, file_id) "
        + _ZORDER_FINAL.format(grid=grid, grid2=grid * grid, files="files")
    )


# --------------------------------------------------------------------------
# Bradley-Terry preference strengths (two MM iterations, exact units)
# --------------------------------------------------------------------------
def _bt_duels_sql(d: Dialect, orders: str) -> str:
    """The <= C(5,2)-row per-priority win matrix — the bounded relation
    every downstream MM-iteration CTE references; split out so the Spark
    side can materialize it once per call (guide §3.3: CTE inlining
    re-derived it — and its two orders scans — per reference, 36 executed
    scans for one statement) while the oracle keeps the single-statement
    form."""
    return f"""
  WITH ps AS (
    SELECT o_custkey AS cust, o_orderpriority AS pri,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
                AS DECIMAL(38,0)) AS sp
    FROM {orders}
    GROUP BY 1, 2
  )
  SELECT a.pri AS pi, b.pri AS pj,
         CAST(SUM(CASE WHEN a.sp > b.sp THEN 1 ELSE 0 END) AS BIGINT) AS wi,
         CAST(SUM(CASE WHEN b.sp > a.sp THEN 1 ELSE 0 END) AS BIGINT) AS wj
  FROM ps a JOIN ps b ON a.cust = b.cust AND a.pri < b.pri
  GROUP BY 1, 2
"""


def _bradley_terry_sql(d: Dialect, orders: str, duels_rel: str | None = None) -> str:
    """Bradley-Terry strengths for the 5 order priorities from
    per-customer pairwise spend duels (priority i "beats" j for a
    customer when the customer spent strictly more on i).

    Two iterations of the MM algorithm (Hunter 2004, public):
    p_i <- W_i / sum_j n_ij / (p_i + p_j).  From the uniform start the
    first iteration is the closed form 2 W_i / G_i, which lands in exact
    BIGINT nano-units by integer floor division; the second iteration's
    per-pair ratios are floored to exact integer units BEFORE the per-
    player sum (the repo's float-sum rule — both engines floor identical
    IEEE doubles, then sum exact BIGINTs), and the final normalization
    divides two exact integers.

    Scale shape: one groupBy(cust, priority) shuffle; the duel self-join
    fans out <= C(5,2) = 10 rows per customer (bounded by the fixed
    priority catalog, never by data); everything after the second
    groupBy lives on the <= 5x5 win matrix — the bounded-model contract
    of the shapley coalition table."""
    duels = duels_rel or _bt_duels_sql(d, orders)
    return f"""
WITH duels AS ({duels}),
pairs AS (
  SELECT pi AS i, pj AS j, wi AS w, wi + wj AS g FROM duels WHERE wi + wj > 0
  UNION ALL
  SELECT pj AS i, pi AS j, wj AS w, wi + wj AS g FROM duels WHERE wi + wj > 0
),
tot AS (SELECT i, CAST(SUM(w) AS BIGINT) AS wtot, CAST(SUM(g) AS BIGINT) AS gtot
        FROM pairs GROUP BY i),
p1 AS (
  -- uniform-start MM step in closed form: p1 = 2 W / G, exact nano-units
  SELECT i, {d.idiv("(CAST(2000000000 AS BIGINT) * wtot)", "gtot")} AS p1n
  FROM tot
),
q AS (
  -- n_ij / (p_i + p_j) in exact atto-units: identical IEEE division both
  -- engines, floored to BIGINT before any sum crosses rows
  SELECT p.i,
         CAST(FLOOR(CAST(p.g AS DOUBLE) * 1e18
                    / CAST(a.p1n + b.p1n AS DOUBLE)) AS BIGINT) AS qv
  FROM pairs p JOIN p1 a ON a.i = p.i JOIN p1 b ON b.i = p.j
),
sq AS (SELECT i, CAST(SUM(qv) AS BIGINT) AS s FROM q GROUP BY i),
p2 AS (
  SELECT t.i,
         CAST(FLOOR(1e9 * (CAST(t.wtot AS DOUBLE) * 1e18
                           / NULLIF(CAST(s.s AS DOUBLE), 0))) AS BIGINT) AS p2n
  FROM tot t JOIN sq s ON s.i = t.i
),
z AS (SELECT CAST(SUM(p2n) AS BIGINT) AS z FROM p2)
SELECT p2.i AS priority, t.wtot AS n_wins, t.gtot AS n_games,
       ROUND(CAST(p2.p2n AS DOUBLE) / NULLIF(CAST(z.z AS DOUBLE), 0), 6)
         AS bt_strength
FROM p2 JOIN tot t ON t.i = p2.i CROSS JOIN z
ORDER BY priority
"""


@register(
    "bradley_terry_priorities",
    oracle=_bradley_terry_sql(DUCKDB, "orders"),
    doc="Bradley-Terry preference strengths for the 5 order priorities "
    "from per-customer pairwise spend duels: two MM iterations (Hunter "
    "2004), first step in closed form as exact nano-unit floor division, "
    "second step's per-pair ratios floored to exact integer units before "
    "any cross-row sum. Duel fan-out bounded at C(5,2) per customer; the "
    "iteration runs on the 5x5 win matrix. The preference-ranking "
    "primitive behind LLM-judge / pairwise-comparison leaderboards.",
    tags=("analytics", "ranking", "agg"),
)
def bradley_terry_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..session import materialize_once

    load_table(spark, sf_dir, "orders").createOrReplaceTempView("sales_telegram_bot_data_pipeline_bt_o")
    duels = materialize_once(
        spark, _bt_duels_sql(SPARK, "sales_telegram_bot_data_pipeline_bt_o"), "bt_duels",
        key=sf_dir,
    )
    return spark.sql(
        _bradley_terry_sql(
            SPARK, "sales_telegram_bot_data_pipeline_bt_o", duels_rel=f"SELECT * FROM {duels}"
        )
    )


# --------------------------------------------------------------------------
# two-sample Kolmogorov-Smirnov over source pairs
# --------------------------------------------------------------------------
def _ks_sql(d: Dialect, docs: str) -> str:
    """Exact two-sample KS statistic D = max_x |F_a(x) - F_b(x)| for every
    source pair, over the document-length (n_chars) distributions — the
    distribution-shift detector between corpus slices (the nonparametric
    sibling of welch_ttest_sources / psi_split_drift).

    Exactness: D is compared in CROSS-MULTIPLIED integer form
    |cumA * n_b - cumB * n_a| (BIGINT), so the max is decided on exact
    integers and only the final normalization divides.  Scale shape: the
    corpus is touched once (groupBy (source, value) — the aggregated
    distinct-value relation, O(|sources| x |distinct lengths|), not
    corpus-sized); pair expansion joins that aggregated relation to the
    bounded source-pair catalog; the cumulative windows partition by
    pair OVER THE AGGREGATED VALUE AXIS (bounded per-pair row count by
    construction — the zipf_fit_audit contract, never a corpus window).
    Window SUM returns are cast back to BIGINT (DuckDB HUGEINT trap)."""
    return f"""
WITH vals AS (
  SELECT source, CAST(n_chars AS BIGINT) AS v, CAST(COUNT(*) AS BIGINT) AS c
  FROM {docs} GROUP BY 1, 2
),
tot AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM vals GROUP BY 1),
prs AS (
  SELECT a.source AS sa, b.source AS sb
  FROM tot a JOIN tot b ON a.source < b.source
),
merged AS (
  -- two EQUI-joins unioned, not one OR-join: an OR condition cannot
  -- hash-join and would plan a nested loop over pairs x values; each
  -- arm broadcasts the bounded pair catalog instead
  SELECT sa, sb, v,
         CAST(SUM(ca) AS BIGINT) AS ca, CAST(SUM(cb) AS BIGINT) AS cb
  FROM (
    SELECT p.sa, p.sb, v.v, v.c AS ca, CAST(0 AS BIGINT) AS cb
    FROM prs p JOIN vals v ON v.source = p.sa
    UNION ALL
    SELECT p.sa, p.sb, v.v, CAST(0 AS BIGINT) AS ca, v.c AS cb
    FROM prs p JOIN vals v ON v.source = p.sb
  ) u
  GROUP BY 1, 2, 3
),
cum AS (
  SELECT sa, sb,
         CAST(SUM(ca) OVER (PARTITION BY sa, sb ORDER BY v) AS BIGINT) AS cna,
         CAST(SUM(cb) OVER (PARTITION BY sa, sb ORDER BY v) AS BIGINT) AS cnb
  FROM merged
),
dmax AS (
  SELECT c.sa, c.sb, ta.n AS n_a, tb.n AS n_b,
         CAST(MAX(ABS(c.cna * tb.n - c.cnb * ta.n)) AS BIGINT) AS dnum
  FROM cum c
  JOIN tot ta ON ta.source = c.sa
  JOIN tot tb ON tb.source = c.sb
  GROUP BY c.sa, c.sb, ta.n, tb.n
)
SELECT sa AS source_a, sb AS source_b, n_a, n_b,
       ROUND(CAST(dnum AS DOUBLE)
             / NULLIF(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE), 0), 6)
         AS ks_d,
       -- the asymptotic test scaling sqrt(na*nb/(na+nb)) * D
       ROUND(CAST(dnum AS DOUBLE)
             / NULLIF(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE), 0)
             * SQRT(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
                    / NULLIF(CAST(n_a + n_b AS DOUBLE), 0)), 6)
         AS ks_lambda
FROM dmax
ORDER BY source_a, source_b
"""


@register(
    "ks_two_sample_sources",
    oracle=_ks_sql(DUCKDB, "documents"),
    doc="Exact two-sample Kolmogorov-Smirnov D for every source pair over "
    "doc-length distributions: the max CDF gap decided in cross-multiplied "
    "BIGINT form (|cumA*n_b - cumB*n_a|), divisions only at the final "
    "normalization. Corpus touched once into the aggregated "
    "(source, value) relation; pair expansion + cumulative windows run on "
    "that bounded axis (the zipf contract). Distribution-shift detection "
    "between corpus slices — the nonparametric sibling of "
    "welch_ttest_sources.",
    tags=("evaluation", "stats", "text"),
)
def ks_two_sample_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("sales_telegram_bot_data_pipeline_ks_d")
    return spark.sql(_ks_sql(SPARK, "sales_telegram_bot_data_pipeline_ks_d"))


# --------------------------------------------------------------------------
# overdispersion (variance-to-mean) audit of daily event counts
# --------------------------------------------------------------------------
_EV_DAY = {
    "spark": "datediff(to_date(ts), to_date('1970-01-01'))",
    "duckdb": "datediff('day', DATE '1970-01-01', CAST(ts AS DATE))",
}


def _overdispersion_sql(d: Dialect, events: str) -> str:
    """Variance-to-mean ratio (dispersion index) of DAILY counts per
    event type: VMR = 1 under Poisson arrivals; VMR >> 1 (clumped days —
    campaigns, batch backfills, bot bursts) means a Poisson rate model
    or a mean-based anomaly threshold will be miscalibrated.  The
    count-model diagnostic to run before control_chart_anomalies-style
    alerting.

    Exactness: daily counts are integers; per-type sample variance comes
    from exact (n, sum, sum-of-squares) BIGINT moments in the textbook
    closed form; DOUBLE enters only at the two final ratios.  Scale
    shape: corpus touched once (groupBy (type, day) — map-side
    combinable), moments on the bounded (types x days) relation."""
    return f"""
WITH daily AS (
  SELECT event_type, CAST({_EV_DAY[d.name]} AS BIGINT) AS day_x,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM {events} GROUP BY 1, 2
),
mom AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(c) AS BIGINT) AS s,
         CAST(SUM(c * c) AS BIGINT) AS ss
  FROM daily GROUP BY event_type
)
SELECT event_type, n AS n_days, s AS n_events,
       ROUND(CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean_daily,
       -- sample variance: (n*ss - s^2) / (n*(n-1)), then VMR = var/mean
       ROUND((CAST(n AS DOUBLE) * ss - CAST(s AS DOUBLE) * s)
             / NULLIF(CAST(n AS DOUBLE) * (n - 1), 0)
             / NULLIF(CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 0), 6)
         AS dispersion_index,
       CASE WHEN (CAST(n AS DOUBLE) * ss - CAST(s AS DOUBLE) * s)
                 / NULLIF(CAST(n AS DOUBLE) * (n - 1), 0)
                 > 1.5 * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
            THEN true ELSE false END AS overdispersed
FROM mom
ORDER BY event_type
"""


@register(
    "overdispersion_audit",
    oracle=_overdispersion_sql(DUCKDB, "events"),
    doc="Dispersion index (variance/mean of DAILY counts) per event type: "
    "the Poisson-assumption check (VMR=1 under Poisson; >1.5 flags "
    "clumped arrivals that break rate models and mean-based alert "
    "thresholds). Exact BIGINT (n, sum, sum-sq) moments over the bounded "
    "(type x day) relation, corpus touched once, DOUBLE only at the "
    "final ratios.",
    tags=("evaluation", "stats", "agg"),
)
def overdispersion_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("sales_telegram_bot_data_pipeline_od_e")
    return spark.sql(_overdispersion_sql(SPARK, "sales_telegram_bot_data_pipeline_od_e"))


# --------------------------------------------------------------------------
# covariate balance (standardized mean difference) for the hash split
# --------------------------------------------------------------------------
def _smd_sql(d: Dialect, orders: str, customer: str) -> str:
    """Standardized mean difference for each pre-treatment covariate
    between the md5 treatment arms: SMD = (mean_t - mean_c) /
    sqrt((var_t + var_c)/2), the covariate-balance check run BEFORE
    trusting a DiD/CUPED readout (|SMD| < 0.1 is the conventional
    balance bar).  Covariates per customer: account balance (cents),
    order count, total spend (cents) — unpivoted via a 3-row literal
    join so each covariate is one exact-moment row, never three separate
    scans.  Exactness: per-arm (n, sum, sum-sq) as DECIMAL(38,0); DOUBLE
    at the final SMD only.  Scale: one groupBy(cust) + broadcastable
    customer dim join; moments map-side combinable."""
    return f"""
WITH per_cust AS (
  SELECT c.c_custkey AS cust,
         CAST({d.md5_prefix_int(d.strcast("c.c_custkey"))} % 2 AS INT) AS treat,
         CAST(CAST(c.c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS acct_cents,
         CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders,
         CAST(COALESCE(SUM(CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100
                                AS BIGINT)), 0) AS BIGINT) AS spend_cents
  FROM {customer} c
  LEFT JOIN {orders} o ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2, 3
),
unp AS (
  SELECT p.treat, v.covariate,
         CASE v.covariate
           WHEN 'acctbal_cents' THEN p.acct_cents
           WHEN 'n_orders' THEN p.n_orders
           ELSE p.spend_cents
         END AS x
  FROM per_cust p
  JOIN (VALUES ('acctbal_cents'), ('n_orders'), ('spend_cents'))
       AS v(covariate) ON 1 = 1
),
mom AS (
  SELECT covariate, treat,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS DECIMAL(38,0)) AS s,
         CAST(SUM(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,0)) AS ss
  FROM unp GROUP BY covariate, treat
),
wide AS (
  SELECT covariate,
         MAX(CASE WHEN treat = 1 THEN n END) AS n_t,
         MAX(CASE WHEN treat = 0 THEN n END) AS n_c,
         CAST(MAX(CASE WHEN treat = 1 THEN s END) AS DOUBLE) AS s_t,
         CAST(MAX(CASE WHEN treat = 0 THEN s END) AS DOUBLE) AS s_c,
         CAST(MAX(CASE WHEN treat = 1 THEN ss END) AS DOUBLE) AS ss_t,
         CAST(MAX(CASE WHEN treat = 0 THEN ss END) AS DOUBLE) AS ss_c
  FROM mom GROUP BY covariate
)
SELECT covariate, n_t AS n_treat, n_c AS n_control,
       ROUND(s_t / n_t, 6) AS mean_treat,
       ROUND(s_c / n_c, 6) AS mean_control,
       ROUND((s_t / n_t - s_c / n_c)
             / NULLIF(SQRT(((n_t * ss_t - s_t * s_t) / (CAST(n_t AS DOUBLE) * (n_t - 1))
                            + (n_c * ss_c - s_c * s_c) / (CAST(n_c AS DOUBLE) * (n_c - 1)))
                           / 2), 0), 6) AS smd,
       CASE WHEN ABS((s_t / n_t - s_c / n_c)
                     / NULLIF(SQRT(((n_t * ss_t - s_t * s_t) / (CAST(n_t AS DOUBLE) * (n_t - 1))
                                    + (n_c * ss_c - s_c * s_c) / (CAST(n_c AS DOUBLE) * (n_c - 1)))
                                   / 2), 0)) < 0.1
            THEN true ELSE false END AS balanced
FROM wide
ORDER BY covariate
"""


@register(
    "covariate_balance_smd",
    oracle=_smd_sql(DUCKDB, "orders", "customer"),
    doc="Covariate-balance check for the md5 A/B assignment: standardized "
    "mean difference (mean gap over pooled SD) per pre-treatment "
    "covariate (account balance, order count, total spend), |SMD| < 0.1 "
    "= balanced — the sanity gate before any did_estimator / "
    "cuped_variance_reduction readout. One groupBy(cust) + a 3-row "
    "literal unpivot; exact DECIMAL(38,0) moments, DOUBLE at the final "
    "SMD only.",
    tags=("evaluation", "causal", "agg"),
)
def covariate_balance_smd(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("sales_telegram_bot_data_pipeline_smd_o")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("sales_telegram_bot_data_pipeline_smd_c")
    return spark.sql(
        _smd_sql(SPARK, "sales_telegram_bot_data_pipeline_smd_o", "sales_telegram_bot_data_pipeline_smd_c")
    )


# --------------------------------------------------------------------------
# A/B power analysis: minimum detectable effect, raw vs CUPED-adjusted
# --------------------------------------------------------------------------
Z_ALPHA_2SIDED_05 = 1.959964  # Phi^{-1}(0.975), literal — no engine erf
Z_POWER_80 = 0.841621  # Phi^{-1}(0.8)


def _mde_sql(d: Dialect, orders: str) -> str:
    """Minimum detectable effect of the hash-split experiment design at
    alpha=0.05 (two-sided) / power=0.8:
    MDE = (z_a + z_b) * sqrt(var_Y * (1/n_t + 1/n_c)), plus the
    CUPED-adjusted MDE using Var(Y_adj) = (1 - rho^2) Var(Y) — the
    design-phase readout that says how long to run before an effect of
    interest is visible, and how much CUPED shortens it.

    The z quantiles are numeric LITERALS (no engine erf/quantile
    function — the cross-engine libm ban); variance and rho^2 come from
    the same exact DECIMAL(38,0) per-customer moments as
    cuped_variance_reduction; one groupBy(cust) shuffle total."""
    za_zb = Z_ALPHA_2SIDED_05 + Z_POWER_80
    return f"""
WITH base AS ({_orders_base(d, orders)}),
bounds AS (SELECT MIN(day_x) AS lo, MAX(day_x) AS hi FROM base),
per_cust AS (
  SELECT b.cust, b.treat,
         CAST(SUM(CASE WHEN b.day_x * 2 < t.lo + t.hi THEN b.cents ELSE 0 END)
              AS BIGINT) AS x,
         CAST(SUM(CASE WHEN b.day_x * 2 >= t.lo + t.hi THEN b.cents ELSE 0 END)
              AS BIGINT) AS y
  FROM base b CROSS JOIN bounds t
  GROUP BY b.cust, b.treat
),
mom AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN treat = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
         CAST(SUM(CASE WHEN treat = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
         CAST(SUM(x) AS DECIMAL(38,0)) AS sx,
         CAST(SUM(y) AS DECIMAL(38,0)) AS sy,
         CAST(SUM(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,0)) AS sxx,
         CAST(SUM(CAST(x AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS sxy,
         CAST(SUM(CAST(y AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS syy
  FROM per_cust
),
scal AS (
  SELECT n, n_t, n_c,
         CAST(sy AS DOUBLE) / n AS mean_y,
         -- sample variance of Y from exact moments
         (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
          - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
         / (CAST(n AS DOUBLE) * (n - 1)) AS var_y,
         (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         / NULLIF((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                  * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)), 0) AS rho2
  FROM mom
)
SELECT n AS n_units, n_t AS n_treat, n_c AS n_control,
       ROUND(mean_y / 100, 6) AS mean_y_dollars,
       ROUND({za_zb} * SQRT(var_y * (1.0e0 / n_t + 1.0e0 / n_c)) / 100, 6)
         AS mde_dollars,
       ROUND({za_zb} * SQRT(var_y * (1 - rho2) * (1.0e0 / n_t + 1.0e0 / n_c)) / 100, 6)
         AS mde_cuped_dollars,
       ROUND({za_zb} * SQRT(var_y * (1.0e0 / n_t + 1.0e0 / n_c))
             / NULLIF(mean_y, 0), 6) AS mde_relative
FROM scal
"""


@register(
    "ab_power_mde",
    oracle=_mde_sql(DUCKDB, "orders"),
    doc="Experiment power analysis for the md5 hash split: minimum "
    "detectable effect at alpha=0.05 two-sided / power=0.8 "
    "((z_a+z_b)*sqrt(var*(1/n_t+1/n_c))), raw AND CUPED-adjusted "
    "(var scaled by 1-rho^2) — quantifies how much the covariate "
    "adjustment shortens an experiment. z quantiles are numeric "
    "literals (no engine erf); moments exact DECIMAL(38,0); one "
    "groupBy(cust) shuffle.",
    tags=("evaluation", "causal", "agg"),
)
def ab_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("sales_telegram_bot_data_pipeline_mde_o")
    return spark.sql(_mde_sql(SPARK, "sales_telegram_bot_data_pipeline_mde_o"))
