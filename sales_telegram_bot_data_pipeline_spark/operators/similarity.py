"""Similarity search over the embeddings table (array<float>, dim 64).

Three tiers, all oracle-checked (the oracle runs the SAME candidate
construction, so approximate variants are deterministic on both sides):

- ``knn_cosine_bruteforce`` — exactness baseline.  The query side (5
  vectors) broadcasts against the corpus; ranking is a STAGED top-k:
  spillable ROW_NUMBER per (query, input-partition), a pmod-fold merge
  bounding fan-in at K x FOLD, then the final per-query rank.  No stage
  holds an O(|partition|) in-memory buffer and no window partitions by
  query_id alone over the scored corpus (plan-asserted in
  tests/test_plans.py).
- ``knn_cosine_lsh_bucketed`` — the scale path: multi-band sign-sketch LSH
  (``N_BANDS`` disjoint bands of ``BAND_BITS`` hyperplane bits).  Each
  vector explodes to N_BANDS (band, bucket) rows, candidates come from the
  per-band bucket equi-join (union-of-bands via DISTINCT), exact cosine
  refines.  Join input per vector is O(N_BANDS), never O(corpus); recall
  is a superset of any single band's (tested against brute force).
- ``embedding_cosine_neardup`` — near-duplicate pairs over the FULL corpus
  through the same banded candidate generation + exact cosine refine
  (threshold ``NEARDUP_THRESHOLD``).  ``embedding_cosine_allpairs_small``
  keeps the previous bounded all-pairs form as the exactness baseline for
  tests; the general operator never goes all-pairs.

Scale notes: candidate pairs shuffle as (band, bucket) equi-join keys;
embeddings are NOT carried through the DISTINCT pair-dedup — pairs re-join
the embeddings table by id for scoring, so the wide array column crosses
the network once per surviving candidate, not once per band.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.dialect import DUCKDB, SPARK, Dialect
from ..registry import register
from ..session import fixed_plan
from ..sources.tables import load_table

N_QUERIES = 5  # vec_id < 5 are the query vectors
TOP_K = 5
N_BANDS = 4
BAND_BITS = 6  # 64 buckets per band; bands use disjoint embedding dims
NEARDUP_THRESHOLD = 0.3  # synthetic embeddings max pairwise cosine ~0.37


def _emb_view(spark: SparkSession, sf_dir: str, name: str = "sales_telegram_bot_data_pipeline_emb") -> str:
    load_table(spark, sf_dir, "embeddings").createOrReplaceTempView(name)
    return name


def _dots(d: Dialect, a: str, b: str) -> str:
    """Σ aᵢ·bᵢ over double-cast arrays, sequential accumulation."""
    if d.name == "spark":
        prods = f"zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double))"
        return f"aggregate({prods}, cast(0 as double), (acc, v) -> acc + v)"
    return f"list_sum(list_transform(generate_series(1, len({a})), i -> cast({a}[i] as double) * cast({b}[i] as double)))"


def _cosine(d: Dialect, a: str, b: str) -> str:
    dot = _dots(d, a, b)
    aa = _dots(d, a, a)
    bb = _dots(d, b, b)
    return f"round(({dot}) / (sqrt({aa}) * sqrt({bb})), 6)"


# --------------------------------------------------------------------------
# sign-sketch banding
# --------------------------------------------------------------------------
def _band_bucket(d: Dialect, emb: str, band: int, bits: int = BAND_BITS) -> str:
    """Random-hyperplane-style LSH bucket from the signs of ``bits``
    dimensions starting at ``band * bits`` — portable pure comparisons."""
    terms = " + ".join(
        f"(CASE WHEN cast({d.get1(emb, band * bits + i + 1)} as double) > 0 THEN {1 << i} ELSE 0 END)"
        for i in range(bits)
    )
    return f"({terms})"


def _banded_view(d: Dialect, table: str, where: str = "") -> str:
    """vec_id exploded to N_BANDS (band, bucket) rows — the candidate-join
    side.  Embeddings are NOT carried (pairs re-join them by id later)."""
    w = f" WHERE {where}" if where else ""
    if d.name == "spark":
        combos = ", ".join(
            f"named_struct('band', {j}, 'bucket', {_band_bucket(d, 'embedding', j)})"
            for j in range(N_BANDS)
        )
        return (
            f"SELECT vec_id, e.band AS band, e.bucket AS bucket "
            f"FROM (SELECT * FROM {table}{w}) src "
            f"LATERAL VIEW explode(array({combos})) t AS e"
        )
    combos = ", ".join(
        f"{{'band': {j}, 'bucket': {_band_bucket(d, 'embedding', j)}}}"
        for j in range(N_BANDS)
    )
    return (
        f"SELECT vec_id, u.band AS band, u.bucket AS bucket "
        f"FROM (SELECT vec_id, unnest([{combos}]) AS u FROM {table}{w}) s"
    )


# --------------------------------------------------------------------------
# ranking: oracle window form vs Spark two-stage top-k
# --------------------------------------------------------------------------
def _rank_window_sql(scored: str, k: int = TOP_K) -> str:
    """Oracle form: plain per-query ranking window (fine in DuckDB on
    sf-scale data; values identical to the two-stage form by construction)."""
    return f"""
WITH scored AS ({scored})
SELECT query_id, neighbor_id, cosine, rank
FROM (
  SELECT query_id, neighbor_id, cosine,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
  FROM scored
) t
WHERE rank <= {k}
ORDER BY query_id, rank
"""


FOLD = 1024  # fan-in cap for the merge stage


def _rank_twostage_sql(scored: str, k: int = TOP_K) -> str:
    """Spark form: staged top-k with BOUNDED memory at every stage.

    Stage 1 ranks per (query, input-partition) via a ROW_NUMBER window —
    WindowExec sorts through Spark's spillable external sorter, so no
    stage ever materializes an O(|partition|) in-memory buffer (the
    previous collect_list form held every scored row of a partition in one
    aggregation buffer before the slice).  Stage 2 folds the K×P survivors
    by pmod(pid, FOLD) so the final per-query merge sees at most K×FOLD
    rows no matter how many input partitions exist.  No window partitions
    by query_id alone over the scored corpus — the full data never funnels
    into N_QUERIES reducers.  Ordering (cosine DESC, neighbor_id ASC) is a
    total order, so top-k of top-ks equals the oracle's global window."""
    rn = "ROW_NUMBER() OVER (PARTITION BY query_id, {by} ORDER BY cosine DESC, neighbor_id)"
    return f"""
WITH scored AS ({scored}),
with_pid AS (SELECT *, spark_partition_id() AS pid FROM scored),
local_top AS (
  SELECT query_id, neighbor_id, cosine, pid FROM (
    SELECT query_id, neighbor_id, cosine, pid, {rn.format(by='pid')} AS rn
    FROM with_pid
  ) t WHERE rn <= {k}
),
fold_top AS (
  SELECT query_id, neighbor_id, cosine FROM (
    SELECT query_id, neighbor_id, cosine, {rn.format(by=f'pmod(pid, {FOLD})')} AS rn
    FROM local_top
  ) t WHERE rn <= {k}
)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT query_id, neighbor_id, cosine,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
  FROM fold_top
) t WHERE rank <= {k}
ORDER BY query_id, rank
"""


# --------------------------------------------------------------------------
# brute-force top-k (exactness baseline)
# --------------------------------------------------------------------------
def _bruteforce_scored(d: Dialect, table: str) -> str:
    cosine = _cosine(d, "q.embedding", "c.embedding")
    return (
        f"SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, {cosine} AS cosine "
        f"FROM {table} q JOIN {table} c "
        f"ON q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id"
    )


@register(
    "knn_cosine_bruteforce",
    oracle=_rank_window_sql(_bruteforce_scored(DUCKDB, "embeddings")),
    doc="Brute-force cosine top-k: 5 broadcast query vectors vs the corpus, "
    "JVM-side array lambdas for dot/norm, TWO-STAGE ranking (local top-k "
    "per input partition, then a final merge of K*n_partitions rows) — no "
    "global per-query window over the scored corpus.",
    tags=("similarity", "topk"),
)
def knn_cosine_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(_rank_twostage_sql(_bruteforce_scored(SPARK, _emb_view(spark, sf_dir))))


# --------------------------------------------------------------------------
# multi-band LSH ANN (scale path)
# --------------------------------------------------------------------------
def _lsh_scored(d: Dialect, table: str) -> str:
    qv = _banded_view(d, table, f"vec_id < {N_QUERIES}")
    cv = _banded_view(d, table)
    cosine = _cosine(d, "q.embedding", "c.embedding")
    return f"""
SELECT cand.query_id, cand.neighbor_id, {cosine} AS cosine
FROM (
  SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS neighbor_id
  FROM ({qv}) qb JOIN ({cv}) cb
    ON qb.band = cb.band AND qb.bucket = cb.bucket AND cb.vec_id <> qb.vec_id
) cand
JOIN {table} q ON q.vec_id = cand.query_id
JOIN {table} c ON c.vec_id = cand.neighbor_id
"""


@register(
    "knn_cosine_lsh_bucketed",
    oracle=_rank_window_sql(_lsh_scored(DUCKDB, "embeddings")),
    doc=f"ANN scale path: {N_BANDS}-band sign-sketch LSH ({BAND_BITS} "
    "hyperplane bits per band, disjoint dims) — candidates from the per-band "
    "bucket equi-join with union-of-bands DISTINCT, exact cosine refine, "
    "two-stage top-k. Join input per vector is O(bands); approximate by "
    "construction, oracle runs the same construction.",
    tags=("similarity", "lsh", "topk"),
)
def knn_cosine_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(_rank_twostage_sql(_lsh_scored(SPARK, _emb_view(spark, sf_dir))))


# --------------------------------------------------------------------------
# IVF-flat ANN (inverted-file index: coarse quantize, probe nearest lists)
# --------------------------------------------------------------------------
K_LISTS = 8     # coarse centroids / inverted lists
N_PROBE = 2     # lists searched per query
CENTROID_BASE = N_QUERIES  # vec_id in [BASE, BASE+K_LISTS) are the centroids


def _cent_assigned_ctes(d: Dialect, table: str, k: int = K_LISTS) -> tuple[str, str]:
    """The shared IVF coarse-quantization step as (cent, assigned) CTE
    bodies: ``k`` frozen pseudo-centroids, every corpus vector assigned
    to its max-cosine centroid by a map-side argmax (the O(K) centroid
    relation broadcasts; the embedding column never shuffles).  Argmax is
    MAX over a (cosine, -id) struct — lexicographic in both engines,
    deterministic under ties."""
    cent = (
        f"SELECT vec_id - {CENTROID_BASE} AS cid, embedding FROM {table} "
        f"WHERE vec_id >= {CENTROID_BASE} AND vec_id < {CENTROID_BASE + k}"
    )
    cos_vc = _cosine(d, "v.embedding", "cent.embedding")
    if d.name == "spark":
        best = f"max(named_struct('c', {cos_vc}, 'nid', -cent.cid)).nid"
    else:
        best = f"(max({{'c': {cos_vc}, 'nid': -cent.cid}})).nid"
    assigned = (
        f"SELECT v.vec_id, -({best}) AS cid "
        f"FROM {table} v JOIN cent ON 1=1 "
        f"GROUP BY v.vec_id"
    )
    return cent, assigned


def _ivf_scored(d: Dialect, table: str) -> str:
    """IVF-flat: K_LISTS deterministic pseudo-centroids (the first K_LISTS
    corpus vectors after the query block — a k-means-style random init,
    frozen so both engines build the identical index), every corpus vector
    assigned to its max-cosine centroid, each query probing its N_PROBE
    nearest lists and scoring exact cosine only within them.

    Scale shape: the centroid table is O(K) and broadcasts, so list
    assignment is a map-side argmax — one pass over the corpus, no shuffle
    of the embedding column; per-query search touches ~N_PROBE/K_LISTS of
    the corpus instead of all of it.  On a real deployment the assigned
    table is written partitioned by list_id, making the probe join a
    partition-pruned scan.  Argmax is MAX over a (cosine, -id) struct —
    lexicographic in both engines, deterministic under ties."""
    cent, assigned = _cent_assigned_ctes(d, table)
    cos_qc = _cosine(d, "q.embedding", "cent.embedding")
    cos_qn = _cosine(d, "q.embedding", "c.embedding")
    return f"""
WITH cent AS ({cent}),
assigned AS ({assigned}),
probe AS (
  SELECT query_id, cid FROM (
    SELECT q.vec_id AS query_id, cent.cid AS cid,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
                              ORDER BY {cos_qc} DESC, cent.cid) AS r
    FROM {table} q JOIN cent ON q.vec_id < {N_QUERIES}
  ) t WHERE r <= {N_PROBE}
)
SELECT p.query_id, a.vec_id AS neighbor_id, {cos_qn} AS cosine
FROM probe p
JOIN assigned a ON a.cid = p.cid AND a.vec_id <> p.query_id
JOIN {table} q ON q.vec_id = p.query_id
JOIN {table} c ON c.vec_id = a.vec_id
"""


@register(
    "knn_cosine_ivf",
    oracle=_rank_window_sql(_ivf_scored(DUCKDB, "embeddings")),
    doc=f"IVF-flat ANN: {K_LISTS} deterministic coarse centroids, map-side "
    "broadcast argmax list assignment (embedding column never shuffles), "
    f"{N_PROBE}-probe nearest-list search, exact cosine refine, two-stage "
    "top-k. Searches ~nprobe/K of the corpus per query; oracle builds the "
    "identical index.",
    tags=("similarity", "ivf", "topk"),
)
def knn_cosine_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(_rank_twostage_sql(_ivf_scored(SPARK, _emb_view(spark, sf_dir))))


# --------------------------------------------------------------------------
# embedding-space near-dup
# --------------------------------------------------------------------------
def _neardup_banded_sql(d: Dialect, table: str) -> str:
    # cosine computed ONCE in a scored subquery, filtered on the alias, and
    # self-norms hoisted to a per-vector CTE — one 64-dim aggregate per
    # candidate pair total (dot), not three (dot + both self-norms).
    bv = _banded_view(d, table)
    dot = _dots(d, "x.embedding", "y.embedding")
    self_norm = f"sqrt({_dots(d, 'embedding', 'embedding')})"
    return f"""
WITH norms AS (SELECT vec_id, {self_norm} AS nrm FROM {table})
SELECT vec_a, vec_b, cosine FROM (
  SELECT cand.vec_a, cand.vec_b,
         round(({dot}) / (na.nrm * nb.nrm), 6) AS cosine
  FROM (
    SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
    FROM ({bv}) a JOIN ({bv}) b
      ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
  ) cand
  JOIN {table} x ON x.vec_id = cand.vec_a
  JOIN {table} y ON y.vec_id = cand.vec_b
  JOIN norms na ON na.vec_id = cand.vec_a
  JOIN norms nb ON nb.vec_id = cand.vec_b
) scored
WHERE cosine >= {NEARDUP_THRESHOLD}
ORDER BY vec_a, vec_b
"""


@register(
    "embedding_cosine_neardup",
    oracle=_neardup_banded_sql(DUCKDB, "embeddings"),
    doc="Embedding-cosine near-duplicate pairs over the FULL corpus via the "
    f"banded sign-bucket join ({N_BANDS}x{BAND_BITS}-bit) + exact cosine "
    f"refine (>= {NEARDUP_THRESHOLD}) — sub-quadratic candidate generation, "
    "the embedding-space member of the dedup family.",
    tags=("similarity", "dedup", "lsh"),
)
def embedding_cosine_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(_neardup_banded_sql(SPARK, _emb_view(spark, sf_dir)))


def _neardup_pairs_view(spark: SparkSession, sf_dir: str) -> str:
    """The banded embedding near-dup pair relation as a stored session
    view (``session_view`` discipline — a production pipeline writes the
    candidate-pair table once; every graph consumer reads it).  Pair
    generation stays live-measured by ``embedding_cosine_neardup``; the
    pagerank / k-core / triangle / clustering-coefficient / LPA graph
    ops read the stored table."""
    from ..functions.dialect import strip_order_by
    from .dedup import session_view

    view = _emb_view(spark, sf_dir)
    return session_view(
        spark, sf_dir, "ndpairs",
        lambda: spark.sql(strip_order_by(_neardup_banded_sql(SPARK, view))),
    )


# --------------------------------------------------------------------------
# semantic dedup: cluster-then-neardup (SemDeDup-style)
# --------------------------------------------------------------------------
SEM_K = 25  # semantic-dedup blocking clusters; scales with corpus (K ~ N/200)


def _semantic_dedup_sql(d: Dialect, table: str, assigned_rel: str | None = None) -> str:
    # Self-norms hoisted to a per-VECTOR CTE: the naive per-pair cosine
    # recomputes sqrt(x·x) and sqrt(y·y) for every candidate — three 64-dim
    # aggregates per pair instead of one dot (measured 12.9 s → ~4 s at
    # sf0.1).  sqrt-then-multiply matches _cosine's op order exactly, so
    # values are bit-identical.
    cent, assigned = _cent_assigned_ctes(d, table, k=SEM_K)
    dot = _dots(d, "x.embedding", "y.embedding")
    self_norm = f"sqrt({_dots(d, 'embedding', 'embedding')})"
    if d.name == "spark":
        # The embedding and its self-norm ride ONE augmented relation per
        # pair side (guide §2.4): the four-join form (x, y, na, nb) joined
        # the embeddings table twice more just to fetch norms that the
        # x/y rows already determine — the executed plan carried 4
        # embedding-side scans per call (4 corpus scans at 100 TB).
        # na.nrm == x.nrm by key equality, so the cosine is bit-identical;
        # the oracle keeps the four-join form and its unchanged PASS is
        # the equivalence proof.
        scored = f"""aug AS (SELECT vec_id, embedding, {self_norm} AS nrm FROM {table}),
scored AS (
  SELECT cand.cid, cand.vec_a, cand.vec_b,
         round(({dot}) / (x.nrm * y.nrm), 6) AS cosine
  FROM cand
  JOIN aug x ON x.vec_id = cand.vec_a
  JOIN aug y ON y.vec_id = cand.vec_b
)"""
    else:
        scored = f"""norms AS (SELECT vec_id, {self_norm} AS nrm FROM {table}),
scored AS (
  SELECT cand.cid, cand.vec_a, cand.vec_b,
         round(({dot}) / (na.nrm * nb.nrm), 6) AS cosine
  FROM cand
  JOIN {table} x ON x.vec_id = cand.vec_a
  JOIN {table} y ON y.vec_id = cand.vec_b
  JOIN norms na ON na.vec_id = cand.vec_a
  JOIN norms nb ON nb.vec_id = cand.vec_b
)"""
    return f"""
WITH cent AS ({cent}),
assigned AS ({assigned_rel or assigned}),
cand AS (
  SELECT a.cid AS cid, a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM assigned a JOIN assigned b ON a.cid = b.cid AND a.vec_id < b.vec_id
),
{scored}
SELECT cid, vec_a, vec_b, cosine FROM scored
WHERE cosine >= {NEARDUP_THRESHOLD}
ORDER BY cid, vec_a, vec_b
"""


@register(
    "semantic_dedup",
    oracle=_semantic_dedup_sql(DUCKDB, "embeddings"),
    doc="Semantic dedup, SemDeDup-style: coarse-quantize every embedding to "
    f"its nearest of {SEM_K} centroids (the shared IVF assignment shape — "
    "map-side argmax, embeddings never shuffle), then near-dup pairs ONLY "
    "within a cluster: the cluster id is the blocking key, so candidate "
    "generation is a cid equi-join, never corpus all-pairs.  At 100 TB the "
    "centroid count scales with the corpus (K ~ N/target_cluster_size), "
    "keeping per-cluster pair counts bounded; the exact-cosine refine "
    f"(>= {NEARDUP_THRESHOLD}) touches only intra-cluster pairs.",
    tags=("similarity", "dedup", "ivf"),
)
def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The argmax assignment scans the whole corpus against all K centroids;
    # the candidate join then references it TWICE (both pair sides).
    # Materialize it once (integer (vec_id, cid) pairs — tiny) instead of
    # trusting exchange reuse to merge the two heavy subtrees.
    view = _emb_view(spark, sf_dir)
    cent, assigned = _cent_assigned_ctes(SPARK, view, k=SEM_K)
    spark.sql(f"WITH cent AS ({cent}) {assigned}").localCheckpoint().createOrReplaceTempView(
        "sales_telegram_bot_data_pipeline_semdedup_assign"
    )
    return spark.sql(
        _semantic_dedup_sql(
            SPARK,
            view,
            assigned_rel="SELECT vec_id, cid FROM sales_telegram_bot_data_pipeline_semdedup_assign",
        )
    )


# --------------------------------------------------------------------------
# k-means (Lloyd iterations) — the trained version of the IVF coarse index
# --------------------------------------------------------------------------
KMEANS_ITERS = 2


def _units_sql(d: Dialect, table: str) -> str:
    """(vec_id, pos, uval) integer triples — floats as exact 1e-7 units."""
    to_units = "CAST(FLOOR(CAST({v} AS DOUBLE) * 10000000.0e0 + 0.5e0) AS BIGINT)"
    if d.name == "spark":
        return (
            f"SELECT vec_id, pos, {to_units.format(v='val')} AS uval "
            f"FROM {table} LATERAL VIEW posexplode(embedding) t AS pos, val"
        )
    return (
        f"SELECT vec_id, i - 1 AS pos, {to_units.format(v='embedding[i]')} AS uval "
        f"FROM (SELECT vec_id, embedding, "
        f"unnest(generate_series(1, len(embedding))) AS i FROM {table})"
    )


def _kmeans_sql(
    d: Dialect,
    table: str,
    units_rel: str | None = None,
    final: str = "centroids",
) -> str:
    """K-means over the embedding corpus: the frozen IVF pseudo-centroids
    are the init, then KMEANS_ITERS Lloyd rounds of (assign to nearest
    centroid by cosine, recompute the per-cluster mean), unrolled as CTEs.

    Cross-engine determinism: every float becomes an exact 1e-7-unit BIGINT
    (the embedding_centroids convention); cluster means use integer half-up
    division to 1e-6 units, so both engines compute bit-identical centroids.
    Cosine is scale-invariant, so assigning against the integer MEAN vector
    is exact — no float centroid drift between engines.  Ties break to the
    lowest cid via the (cosine, -cid) struct-max.

    Scale shape: vectors explode once to (vec_id, pos, unit) triples; each
    assignment is a join against the O(K·dim) centroid relation (broadcast)
    grouped by (vec_id, cid) with map-side partial sums — whole embeddings
    never shuffle.  Mean recomputation groups the same triples by
    (cid, pos).  Per iteration: one broadcast join + two partial-agg
    shuffles of integer triples; empty clusters drop (standard Lloyd).
    Unit ranges keep every product within BIGINT: |unit| <= 1e7 (data in
    [-1, 1]), |mean| <= 1e6 units, dot terms <= 1e13, 64-dim sums <= 1e15."""
    units = _units_sql(d, table)
    if d.name == "spark":
        best = "max(named_struct('c', cos, 'nid', -cid)).nid"
    else:
        best = "(max({'c': cos, 'nid': -cid})).nid"
    mean_units = d.idiv(
        "(SUM(uval) + 1000000000 * COUNT(*) + 5 * COUNT(*))", "(10 * COUNT(*))"
    )

    def assign_cte(i: int) -> str:
        return f"""assign{i} AS (
  SELECT vec_id, {best} AS ncid FROM (
    SELECT s.vec_id,
           ROUND(CAST(s.dot AS DOUBLE) / (SQRT(CAST(s.cn AS DOUBLE)) * SQRT(CAST(v.vn AS DOUBLE))), 6) AS cos,
           s.cid AS cid
    FROM score{i} s JOIN vnorm v ON v.vec_id = s.vec_id
  ) t GROUP BY vec_id
)"""

    def mean_cte(i: int) -> str:
        return f"""c{i} AS (
  SELECT -a.ncid AS cid, u.pos, ({mean_units} - 100000000) AS cmean
  FROM assign{i} a JOIN units u ON u.vec_id = a.vec_id
  GROUP BY a.ncid, u.pos
)"""

    last = KMEANS_ITERS
    ctes = [
        f"units AS ({units_rel or units})",
        "vnorm AS (SELECT vec_id, SUM(uval * uval) AS vn FROM units GROUP BY vec_id)",
        # init: the frozen pseudo-centroids' own units (scale differs from
        # later means; cosine is scale-invariant so that is immaterial)
        f"c0 AS (SELECT vec_id - {CENTROID_BASE} AS cid, pos, uval AS cmean FROM units "
        f"WHERE vec_id >= {CENTROID_BASE} AND vec_id < {CENTROID_BASE + K_LISTS})",
    ]
    for i in range(1, KMEANS_ITERS + 1):
        prev = f"c{i - 1}"
        ctes.append(
            f"""score{i} AS (
  SELECT u.vec_id, c.cid,
         SUM(u.uval * c.cmean) AS dot, SUM(c.cmean * c.cmean) AS cn
  FROM units u JOIN {prev} c ON c.pos = u.pos
  GROUP BY u.vec_id, c.cid
)"""
        )
        ctes.append(assign_cte(i))
        ctes.append(mean_cte(i))
    if final == "silhouette":
        # centroid-margin separation from the LAST round's relations (all
        # already in CTE scope — no second Lloyd chain): per vector, cosine
        # to its own centroid minus the best other-centroid cosine, both as
        # exact 1e-6-unit integers; per-cluster sums stay integer so the
        # aggregate is order-independent, one double division at the end.
        return f"""
WITH {','.join(ctes)},
cos6 AS (
  SELECT s.vec_id, s.cid,
         CAST(ROUND(1000000.0e0 * CAST(s.dot AS DOUBLE)
              / (SQRT(CAST(s.cn AS DOUBLE)) * SQRT(CAST(v.vn AS DOUBLE)))) AS BIGINT) AS c6
  FROM score{last} s JOIN vnorm v ON v.vec_id = s.vec_id
),
lab AS (SELECT vec_id, -ncid AS cid FROM assign{last}),
own AS (
  SELECT c.vec_id, c.c6 FROM cos6 c JOIN lab l ON l.vec_id = c.vec_id AND l.cid = c.cid
),
other AS (
  SELECT c.vec_id, MAX(c.c6) AS b6
  FROM cos6 c JOIN lab l ON l.vec_id = c.vec_id AND l.cid <> c.cid
  GROUP BY c.vec_id
),
margin AS (
  SELECT l.cid, o.c6 - t.b6 AS m6
  FROM lab l JOIN own o ON o.vec_id = l.vec_id JOIN other t ON t.vec_id = l.vec_id
)
SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_members,
       ROUND(CAST(SUM(m6) AS DOUBLE) / (1000000.0e0 * COUNT(*)), 6) AS mean_margin
FROM margin GROUP BY cid ORDER BY cid
"""
    if final == "assignments":
        # the per-vector cluster labels after the last Lloyd round (the
        # frozen init "centroids" are corpus vectors themselves, so every
        # vec_id gets a label) — consumed by cluster_balanced_sample
        return f"""
WITH {','.join(ctes)}
SELECT vec_id, -ncid AS cid FROM assign{last}
ORDER BY vec_id
"""
    return f"""
WITH {','.join(ctes)},
counts AS (SELECT -ncid AS cid, COUNT(*) AS n_members FROM assign{last} GROUP BY ncid)
SELECT c.cid, n.n_members, CAST(c.pos AS INT) AS pos,
       CAST(c.cmean AS DOUBLE) / 1000000 AS centroid_val
FROM c{last} c JOIN counts n ON n.cid = c.cid
ORDER BY c.cid, pos
"""


@register(
    "kmeans_lloyd",
    oracle=_kmeans_sql(DUCKDB, "embeddings"),
    doc=f"K-means, {KMEANS_ITERS} Lloyd iterations from the frozen IVF "
    "init: cosine assignment against exact integer-unit centroids "
    "(half-up integer means → bit-identical across engines), vectors "
    "explode once to (vec_id, pos, unit) triples, per-iteration cost is a "
    "broadcast centroid join + two partial-agg integer shuffles — whole "
    "embeddings never shuffle.  The training step knn_cosine_ivf's frozen "
    "index stands in for.",
    tags=("similarity", "ivf", "iterative"),
)
def kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(_kmeans_sql(SPARK, _emb_view(spark, sf_dir)))


@register(
    "kmeans_separation_audit",
    oracle=_kmeans_sql(DUCKDB, "embeddings", final="silhouette"),
    doc="Cluster-separation audit (simplified silhouette): per final Lloyd "
    "cluster, the mean margin between each member's cosine to its OWN "
    "centroid and its best other-centroid cosine — the 'are these "
    "clusters real' check a semantic-dedup / cluster-balanced-sampling "
    "pipeline runs before trusting kmeans_lloyd's labels.  Margins are "
    "exact 1e-6-unit integers from the last round's already-computed "
    "score relation (no second Lloyd chain, no extra corpus scan), "
    "per-cluster sums are integer (order-independent), one double "
    "division at the end.",
    tags=("similarity", "clustering", "audit"),
)
def kmeans_separation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(_kmeans_sql(SPARK, _emb_view(spark, sf_dir), final="silhouette"))


def _pair_sim_sql(d: Dialect, table: str) -> str:
    """Bounded all-pairs exact cosine — the exactness baseline the banded
    operator is validated against (tests/test_scale_utils.py)."""
    cosine = _cosine(d, "a.embedding", "b.embedding")
    return f"""
SELECT vec_a, vec_b, cosine FROM (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, {cosine} AS cosine
  FROM {table} a JOIN {table} b ON a.vec_id < b.vec_id
  WHERE a.vec_id < 40 AND b.vec_id < 40
) scored
WHERE cosine >= {NEARDUP_THRESHOLD}
ORDER BY vec_a, vec_b
"""


@register(
    "embedding_cosine_allpairs_small",
    oracle=_pair_sim_sql(DUCKDB, "embeddings"),
    doc="Exactness BASELINE for the near-dup family: all-pairs cosine over "
    "a bounded 40-vector slice. Deliberately not the scale path — the "
    "general operator is embedding_cosine_neardup (banded).",
    tags=("similarity", "baseline"),
)
def embedding_cosine_allpairs_small(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(_pair_sim_sql(SPARK, _emb_view(spark, sf_dir)))


def _centroids_sql(d: Dialect, table: str) -> str:
    """Per-label centroids over the embedding column — the training step of
    the IVF index (knn_cosine_ivf consumes centroids; this op materializes
    them as a first-class query).  Scale shape: posexplode to (label, dim,
    value) rows, groupBy (label, dim) with map-side partial aggregation —
    the embedding column itself shuffles only as (label, dim, int) triples,
    never as whole vectors.  Cross-engine hash stability: each float becomes
    an exact integer in 1e-7 units via ``floor(val*1e7 + 0.5)`` — identical
    IEEE double ops in both engines (engine-level float→DECIMAL casts and
    ROUND-on-double both disagree on last-digit ties; observed -0.0076265 →
    -0.007627 in Spark vs -0.007626 in DuckDB) — and the mean is computed
    with INTEGER arithmetic, shift-positive half-up division down to 1e-6
    units, so the grouped sum is order-independent too."""
    to_units = "CAST(FLOOR(CAST({v} AS DOUBLE) * 10000000.0e0 + 0.5e0) AS BIGINT)"
    if d.name == "spark":
        vals = (
            f"SELECT label, pos, {to_units.format(v='val')} AS ival "
            f"FROM {table} LATERAL VIEW posexplode(embedding) t AS pos, val"
        )
        centroid = "transform(array_sort(collect_list(struct(pos AS p, cval AS v))), s -> s.v)"
    else:
        vals = (
            f"SELECT label, i - 1 AS pos, {to_units.format(v='embedding[i]')} AS ival "
            f"FROM (SELECT label, embedding, "
            f"unnest(generate_series(1, len(embedding))) AS i FROM {table})"
        )
        centroid = "list(cval ORDER BY pos)"
    # mean(1e-7 units)/10 rounded half-up to 1e-6 units, all in bigint:
    # M = (S + K*D + D/2) div D - K with D = 10n and K = 1e8 (the shift keeps
    # the dividend positive so trunc-div == floor-div in both engines).
    mean_units = d.idiv("(SUM(ival) + 1000000000 * COUNT(*) + 5 * COUNT(*))", "(10 * COUNT(*))")
    return f"""
WITH vals AS ({vals}),
dims AS (
  SELECT label, pos,
         CAST(({mean_units} - 100000000) AS DOUBLE) / 1000000 AS cval
  FROM vals GROUP BY label, pos
),
counts AS (SELECT label, COUNT(*) AS n_vectors FROM {table} GROUP BY label)
SELECT d.label, c.n_vectors, {centroid} AS centroid
FROM dims d JOIN counts c ON c.label = d.label
GROUP BY d.label, c.n_vectors
ORDER BY d.label
"""


@register(
    "embedding_centroids",
    oracle=_centroids_sql(DUCKDB, "embeddings"),
    doc="Per-label embedding centroids (the IVF training step as a "
    "first-class query): posexplode to (label, dim, value), partial-agg "
    "groupBy — whole vectors never shuffle; exact decimal sums + round(6) "
    "for cross-engine stability.",
    tags=("similarity", "agg"),
)
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(_centroids_sql(SPARK, _emb_view(spark, sf_dir)))


# --------------------------------------------------------------------------
# per-label embedding standardization (grouped-map applyInPandas)
# --------------------------------------------------------------------------
@register(
    "standardize_embeddings",
    oracle=None,  # float-matrix output isn't oracle-hashable; rows-only (like
    # word_segmentation) — exact whitening parity is pinned by
    # tests/test_scale_utils.py::test_standardize_embeddings_grouped_map
    doc="Per-label embedding whitening (zero mean / unit variance per dim) "
    "via grouped-map applyInPandas — ONE shuffle on label, vectorized numpy "
    "per group; the canonical whole-group-in-memory Python-API operator.",
    tags=("similarity", "grouped-map", "python-api"),
)
def standardize_embeddings_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whiten each label's embeddings to zero mean / unit variance per
    dimension — the feature-normalization step before clustering or linear
    probes, and the engine's canonical **grouped-map** operator
    (``applyInPandas``: one pandas DataFrame per group in, one out —
    completing the Python API surface next to the scalar pandas UDF,
    ``mapInPandas``, ``applyInPandasWithState``, and the UDTF).

    Scale shape: ONE shuffle on the group key (label), then each group
    standardizes independently with vectorized numpy — state is
    O(group size × dim), the right tool exactly when the per-group
    computation needs the whole group in memory (unlike the pure-SQL
    centroid path, which streams).  Labels are the parallel unit; skewed
    label sizes would call for the salted variant in operators/scale.py.
    Determinism: float64 column-wise mean/std over a doc_id-sorted group is
    order-independent; ddof=0 population std; zero-variance dims pass
    through centered."""
    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings")

    def _standardize(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id")
        m = np.vstack(pdf["embedding"].to_numpy()).astype("float64")
        mu = m.mean(axis=0)
        sd = m.std(axis=0, ddof=0)
        sd[sd == 0.0] = 1.0
        white = (m - mu) / sd
        return pd.DataFrame(
            {
                "vec_id": pdf["vec_id"].to_numpy(),
                "label": pdf["label"].to_numpy(),
                "embedding": [row.astype("float32") for row in white],
            }
        )

    return emb.groupBy("label").applyInPandas(
        _standardize, schema="vec_id long, label int, embedding array<float>"
    )


# --------------------------------------------------------------------------
# int8 scalar-quantization ANN (quantized scan + exact rerank)
# --------------------------------------------------------------------------
SQ8_CAND = 4 * TOP_K  # candidates surviving the quantized pass, per query


def _sq8_quant_rel(d: Dialect, table: str) -> str:
    """Per-vector symmetric int8 quantization: scale = 127/max|x_i|,
    code_i = floor(x_i * scale).  floor(double * double) is identical IEEE
    arithmetic in both engines, so the codes — and therefore the candidate
    sets — are deterministic cross-engine."""
    if d.name == "spark":
        maxabs = "aggregate(embedding, cast(0 as double), (a, x) -> greatest(a, abs(cast(x as double))))"
        codes = "transform(embedding, x -> cast(floor(cast(x as double) * sc) as int))"
    else:
        maxabs = "list_max(list_transform(embedding, x -> abs(cast(x as double))))"
        codes = "list_transform(embedding, x -> cast(floor(cast(x as double) * sc) as int))"
    return (
        f"SELECT vec_id, {codes} AS codes "
        f"FROM (SELECT vec_id, embedding, 127.0 / nullif({maxabs}, 0.0) AS sc FROM {table}) p"
    )


def _sq8_intdot(d: Dialect, a: str, b: str) -> str:
    """Σ aᵢ·bᵢ over int8 code arrays — EXACT integer arithmetic (max
    127²·dim ≈ 10⁶, far inside int64)."""
    if d.name == "spark":
        prods = f"zip_with({a}, {b}, (x, y) -> cast(x as bigint) * y)"
        return f"aggregate({prods}, cast(0 as bigint), (acc, v) -> acc + v)"
    return (
        f"list_sum(list_transform(generate_series(1, len({a})), "
        f"i -> cast({a}[i] as bigint) * {b}[i]))"
    )


def _sq8_sql(d: Dialect, table: str) -> str:
    """Quantized scan + exact rerank, the classic SQ8 ANN layout:

    1. quantize every vector to int8 codes (4× smaller than float32 — at
       100 TB this is the difference between a scan that fits page cache
       and one that doesn't; the integer dot is also SIMD-friendly);
    2. rank candidates per query by the EXACT-integer quantized cosine
       (deterministic — no float accumulation order), keep SQ8_CAND;
    3. re-join the float embeddings BY ID for the survivors only and
       rerank exactly — full-precision vectors cross the network
       O(candidates), never O(corpus).

    The rerank window partitions query_id over SQ8_CAND rows per query —
    bounded by construction, unlike a corpus-wide per-query window."""
    quant = _sq8_quant_rel(d, table)
    intdot = _sq8_intdot(d, "q.codes", "c.codes")
    qq = _sq8_intdot(d, "q.codes", "q.codes")
    cc = _sq8_intdot(d, "c.codes", "c.codes")
    approx = (
        f"SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, "
        f"round(({intdot}) / nullif(sqrt({qq}) * sqrt({cc}), 0.0), 6) AS cosine "
        f"FROM ({quant}) q JOIN ({quant}) c "
        f"ON q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id"
    )
    cand = (
        _rank_twostage_sql(approx, k=SQ8_CAND)
        if d.name == "spark"
        else _rank_window_sql(approx, k=SQ8_CAND)
    )
    exact = _cosine(d, "q.embedding", "c.embedding")
    rerank = f"""
SELECT cand.query_id, cand.neighbor_id, {exact} AS cosine
FROM ({cand}) cand
JOIN {table} q ON q.vec_id = cand.query_id
JOIN {table} c ON c.vec_id = cand.neighbor_id
"""
    return _rank_window_sql(rerank)


@register(
    "knn_cosine_sq8",
    oracle=_sq8_sql(DUCKDB, "embeddings"),
    doc=f"Scalar-quantized ANN: per-vector int8 codes (4x memory cut), "
    "exact-integer quantized cosine ranks candidates (two-stage top-k on "
    f"the Spark side), top-{SQ8_CAND} survivors rerank at full precision "
    "via an id equi-join — float vectors cross the network O(candidates), "
    "never O(corpus).",
    tags=("similarity", "topk", "quantization"),
)
def knn_cosine_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(_sq8_sql(SPARK, _emb_view(spark, sf_dir)))


def standardize_embeddings_by_label_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-native grouped-map twin of ``standardize_embeddings_by_label``
    (``applyInArrow``: one pyarrow.Table per group in, one out — the
    zero-copy variant of applyInPandas, completing the Python API matrix:
    scalar pandas UDF / mapInPandas / applyInPandas / applyInPandasWithState
    / UDTF / applyInArrow).  Same whitening semantics, pinned row-for-row
    against the pandas form in tests/test_scale_utils.py; same ONE-shuffle-
    on-label scale shape.  Prefer this form when the per-group kernel is
    pure numpy: it skips the Arrow->pandas materialization both ways."""
    import numpy as np
    import pyarrow as pa

    from ..sources.tables import load_table as _lt

    emb = _lt(spark, sf_dir, "embeddings")

    def _standardize(tbl: pa.Table) -> pa.Table:
        vec_id = tbl.column("vec_id").to_numpy(zero_copy_only=False)
        label = tbl.column("label").to_numpy(zero_copy_only=False)
        order = np.argsort(vec_id, kind="stable")
        m = np.asarray(tbl.column("embedding").to_pylist(), dtype="float64")[order]
        mu = m.mean(axis=0)
        sd = m.std(axis=0, ddof=0)
        sd[sd == 0.0] = 1.0
        white = ((m - mu) / sd).astype("float32")
        return pa.table(
            {
                "vec_id": pa.array(vec_id[order], type=pa.int64()),
                "label": pa.array(label[order], type=pa.int32()),
                "embedding": pa.array(list(white), type=pa.list_(pa.float32())),
            }
        )

    return emb.groupBy("label").applyInArrow(
        _standardize, schema="vec_id long, label int, embedding array<float>"
    )


# --------------------------------------------------------------------------
# PCA projection (distributed Gram partials -> driver eigensolve -> project)
# --------------------------------------------------------------------------
PCA_COMPONENTS = 2
PCA_UNITS = 1_000_000  # integer quantization: makes every distributed sum
#                        exact, so the covariance matrix (and therefore the
#                        eigensolve) is independent of partitioning/order


def _pca_model(spark: SparkSession, sf_dir: str, headroom: int = 2**62):
    """Fit PCA over the embedding corpus with the bounded-collect pattern:

    1. DISTRIBUTED: each partition reduces its vectors to d x d Gram
       partials plus a d-vector column sum and a count — computed in numpy
       over integer-quantized coordinates (round(x * PCA_UNITS)), emitted
       as (i, j, s) triples.  int64 overflow is GUARDED, not assumed away:
       the accumulator tracks the max |quantized coordinate| seen and the
       row count, and FLUSHES a partial (yielding its triples and
       resetting) before any S entry could exceed 2^62 — so a partition
       with anomalously many rows or out-of-range coordinates emits more
       partials instead of silently wrapping; a single Arrow batch that
       could overflow within numpy's own matmul raises.  The
       CROSS-partition (and cross-flush) reduction runs in Spark as
       SUM(DECIMAL(38,0)), which never wraps.
    2. BOUNDED COLLECT: d^2 + d + 1 rows (d=64 -> 4161) come to the
       driver regardless of corpus size — the same O(model) collect
       contract as the vocab trie and k-means centroids.
    3. Driver eigensolve on the exact covariance (numpy eigh, deterministic
       for a bit-identical input matrix); component signs are fixed by
       making each component's largest-|loading| coordinate positive.

    Returns (mu, components[d, k]) as float64 numpy arrays."""
    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings").select("embedding")

    # |S_ij| <= n_rows * amax² must stay under the headroom bound; the
    # parameter exists so tests can shrink it to force the flush path
    # (captured by value into the mapInPandas closure)
    HEADROOM = headroom

    def _emit(S, colsum, n):
        d = S.shape[0]
        i_idx, j_idx = np.meshgrid(np.arange(d), np.arange(d), indexing="ij")
        out = pd.DataFrame(
            {"i": i_idx.ravel(), "j": j_idx.ravel(), "s": S.ravel()}
        )
        means = pd.DataFrame({"i": np.arange(d), "j": np.full(d, -1), "s": colsum})
        count = pd.DataFrame({"i": [-1], "j": [-1], "s": [n]})
        return pd.concat([out, means, count], ignore_index=True)

    def _partials(batches):
        S = None
        colsum = None
        n = 0
        amax = 1  # max |quantized coordinate| folded into S so far
        for pdf in batches:
            if len(pdf) == 0:
                continue
            q = np.rint(
                np.vstack(pdf["embedding"].to_numpy()).astype("float64") * PCA_UNITS
            ).astype("int64")
            b_amax = max(int(np.abs(q).max()), 1)
            if len(q) > HEADROOM // (b_amax * b_amax):
                # numpy's own q.T @ q accumulates in int64: a single batch
                # this far out of the assumed coordinate range cannot be
                # reduced safely at this quantization — fail loudly rather
                # than corrupt the covariance silently
                raise ValueError(
                    f"PCA Gram partial would overflow int64 within one batch "
                    f"(rows={len(q)}, max|q|={b_amax}); embedding coordinates "
                    f"exceed the assumed range for PCA_UNITS={PCA_UNITS}"
                )
            if S is None:
                d = q.shape[1]
                S = np.zeros((d, d), dtype="int64")
                colsum = np.zeros(d, dtype="int64")
            new_amax = max(amax, b_amax)
            if n and (n + len(q)) > HEADROOM // (new_amax * new_amax):
                # flush before this batch could wrap an accumulator entry;
                # the Spark-side DECIMAL(38,0) reduce absorbs extra partials
                yield _emit(S, colsum, n)
                S[:] = 0
                colsum[:] = 0
                n = 0
                new_amax = b_amax
            S += q.T @ q
            colsum += q.sum(axis=0)
            n += len(pdf)
            amax = new_amax
        if S is not None and n:
            yield _emit(S, colsum, n)

    triples = (
        emb.mapInPandas(_partials, schema="i int, j int, s long")
        .groupBy("i", "j")
        .agg(F.sum(F.col("s").cast("decimal(38,0)")).alias("s"))
        .collect()
    )
    import numpy as np

    n = next((int(r.s) for r in triples if r.i == -1 and r.j == -1), 0)
    if n == 0:
        return None, None  # empty corpus: no model (caller yields 0 rows)
    d = max(r.i for r in triples) + 1
    S = np.zeros((d, d), dtype="float64")
    colsum = np.zeros(d, dtype="float64")
    for r in triples:
        if r.i == -1:
            continue
        if r.j == -1:
            colsum[r.i] = float(r.s)
        else:
            S[r.i, r.j] = float(r.s)
    mu = colsum / (n * PCA_UNITS)
    cov = S / (n * PCA_UNITS**2) - np.outer(mu, mu)
    vals, vecs = np.linalg.eigh(cov)  # ascending eigenvalues
    comps = vecs[:, ::-1][:, :PCA_COMPONENTS]  # top-k columns
    for k in range(comps.shape[1]):
        pivot = int(np.argmax(np.abs(comps[:, k])))
        if comps[pivot, k] < 0:
            comps[:, k] = -comps[:, k]
    return mu, comps


@register(
    "embedding_pca_project",
    oracle=None,  # eigendecomposition isn't SQL-expressible — rows-only;
    # exact parity vs a single-node numpy PCA over the same quantized
    # pipeline is pinned by tests/test_scale_utils.py::test_pca_projection
    doc=f"PCA to {PCA_COMPONENTS} components over the embedding corpus: "
    "distributed integer-quantized Gram partials (one d x d matrix per "
    "partition via mapInPandas, DECIMAL cross-partition reduce), O(d^2) "
    "bounded collect, driver eigensolve with deterministic sign fix, "
    "broadcast projection. The dimensionality-reduction step before "
    "visualization/indexing, in the same O(model)-collect shape as "
    "k-means and the vocab trie.",
    tags=("similarity", "python-api", "iterative"),
)
def embedding_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    mu, comps = _pca_model(spark, sf_dir)
    if mu is None:
        # empty corpus: no model to fit — the well-defined result is an
        # empty projection with the declared schema (empty-ingest doctrine)
        return spark.createDataFrame(
            [], "vec_id long, label int, pc1 double, pc2 double"
        )
    bc = spark.sparkContext.broadcast((mu, comps))

    @F.pandas_udf("array<double>")
    def project(cols: pd.Series) -> pd.Series:
        import numpy as np

        m, w = bc.value
        x = np.vstack(cols.to_numpy()).astype("float64")
        y = np.round((x - m) @ w, 6)
        return pd.Series([row for row in y])

    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select("vec_id", "label", project(F.col("embedding")).alias("pcs"))
        .select(
            "vec_id",
            "label",
            F.col("pcs")[0].alias("pc1"),
            F.col("pcs")[1].alias("pc2"),
        )
        .orderBy("vec_id")
    )


# --------------------------------------------------------------------------
# margin-based bitext mining (Artetxe & Schwenk 2019)
# --------------------------------------------------------------------------
BITEXT_MARGIN_UNITS = 1_020_000  # margin >= 1.02 in 1e6 units
BITEXT_MIN_NEIGHBORS = 2  # a margin needs a neighborhood to normalize by
BITEXT_NN_K = 4  # normalizer = mean of each node's top-k candidate cosines


def _bitext_scored_sql(d: Dialect, emb_table: str) -> str:
    """Banded candidate pairs with integer-unit cosines — the shared input
    of the neighborhood aggregates and the final margin projection."""
    return f"""
SELECT cand.vec_a, cand.vec_b,
       CAST(FLOOR(({_dots(d, "x.embedding", "y.embedding")})
                  / (na.nrm * nb.nrm) * 1e6) AS BIGINT) AS cos_units
FROM (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM ({_banded_view(d, emb_table)}) a JOIN ({_banded_view(d, emb_table)}) b
    ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
) cand
JOIN {emb_table} x ON x.vec_id = cand.vec_a
JOIN {emb_table} y ON y.vec_id = cand.vec_b
JOIN (SELECT vec_id, sqrt({_dots(d, "embedding", "embedding")}) AS nrm FROM {emb_table}) na
  ON na.vec_id = cand.vec_a
JOIN (SELECT vec_id, sqrt({_dots(d, "embedding", "embedding")}) AS nrm FROM {emb_table}) nb
  ON nb.vec_id = cand.vec_b
"""


def _bitext_cross_sql(d: Dialect, emb_table: str, docs_table: str,
                      pairs_rel: str | None = None) -> str:
    """The cross-language scored candidate pairs — the shared head of the
    neighborhood aggregates and the margin projection."""
    scored = pairs_rel or _bitext_scored_sql(d, emb_table)
    return f"""
  WITH scored AS ({scored}),
  langs AS (SELECT doc_id, lang FROM {docs_table})
  SELECT s.vec_a, s.vec_b, s.cos_units
  FROM scored s
  JOIN langs la ON la.doc_id = s.vec_a
  JOIN langs lb ON lb.doc_id = s.vec_b
  WHERE la.lang <> lb.lang
"""


def _bitext_mining_sql(d: Dialect, emb_table: str, docs_table: str,
                       pairs_rel: str | None = None,
                       cross_rel: str | None = None) -> str:
    """Parallel-corpus mining with the MARGIN criterion (Artetxe & Schwenk
    2019): a cross-lingual pair is kept when its cosine stands out from
    each side's k-NN neighborhood — margin = cos(x,y) / ((mean_x +
    mean_y)/2) with means over each node's TOP-k candidate cosines — which
    suppresses hub vectors that score high against EVERYTHING (raw cosine
    thresholds mine hubs, the classic failure).

    Engine shape: candidates come from the same sign-sketch band join as
    the near-dup family (never all-pairs), filtered to CROSS-LANG pairs by
    joining doc language; the k-NN pool is each node's top-k among its
    BANDED candidates (the approximation that keeps mining sub-quadratic;
    exact k-NN would re-rank the full corpus per node).  Determinism:
    cosines quantize to integer 1e6 units first, the margin is a single
    double division of exact-integer products (all < 2^53), FLOOR-
    quantized — no double accumulation anywhere.

    ``pairs_rel`` overrides the scored-pair CTE; ``cross_rel`` overrides
    the whole cross-language filtered relation (Spark materializes THAT —
    sym references it twice and margins once, so the scored-join-langs
    subtree re-ran 3x per statement, 20 static scans)."""
    cross = (
        f"SELECT vec_a, vec_b, cos_units FROM {cross_rel}"
        if cross_rel
        else _bitext_cross_sql(d, emb_table, docs_table, pairs_rel=pairs_rel)
    )
    return f"""
WITH cross_lang AS ({cross}),
-- each NODE's neighborhood is its candidate set regardless of which side
-- of the canonical (a<b) pair it sits on — a side-specific GROUP BY
-- (vec_a only / vec_b only) halves the neighborhood and starves nodes that
-- mostly appear on one side (caught by the hub-suppression golden test).
-- The normalizer is the mean of each node's TOP-{BITEXT_NN_K} candidate
-- cosines (the paper's k-NN pool), NOT the all-candidates mean: junk
-- candidates from generous banding would deflate every mean and inflate
-- every margin, letting hub pairs through (also caught by the golden
-- test).  Per-node ranking window is bounded by candidate degree.
sym AS (
  SELECT vec_a AS v, cos_units FROM cross_lang
  UNION ALL
  SELECT vec_b AS v, cos_units FROM cross_lang
),
topk AS (
  SELECT v, cos_units FROM (
    SELECT v, cos_units,
           ROW_NUMBER() OVER (PARTITION BY v ORDER BY cos_units DESC) AS rk
    FROM sym
  ) r WHERE rk <= {BITEXT_NN_K}
),
nn AS (SELECT v, SUM(cos_units) AS s, COUNT(*) AS c FROM topk GROUP BY v),
margins AS (
  SELECT cl.vec_a, cl.vec_b, cl.cos_units,
         CAST(FLOOR(cl.cos_units * 2.0e0 * na.c * nb.c
                    / (na.s * nb.c + nb.s * na.c) * 1e6) AS BIGINT) AS margin_units,
         na.c AS n_a, nb.c AS n_b
  FROM cross_lang cl
  JOIN nn na ON na.v = cl.vec_a
  JOIN nn nb ON nb.v = cl.vec_b
  WHERE na.c >= {BITEXT_MIN_NEIGHBORS} AND nb.c >= {BITEXT_MIN_NEIGHBORS}
    AND na.s > 0 AND nb.s > 0
)
SELECT vec_a AS doc_a, vec_b AS doc_b,
       CAST(cos_units / 1e6 AS DOUBLE) AS cosine,
       CAST(margin_units / 1e6 AS DOUBLE) AS margin
FROM margins
WHERE margin_units >= {BITEXT_MARGIN_UNITS}
ORDER BY doc_a, doc_b
"""


@register(
    "bitext_margin_mining",
    oracle=_bitext_mining_sql(DUCKDB, "embeddings", "documents"),
    doc="Margin-based bitext mining (Artetxe & Schwenk 2019): banded "
    "cross-lingual candidate pairs, cosine normalized by each node's "
    f"TOP-{BITEXT_NN_K} neighborhood mean (the paper's k-NN pool; an "
    "all-candidates mean deflates under generous banding and lets hub "
    "pairs through — pinned by the hub-suppression golden test). "
    "Margin >= 1.02, exact-integer arithmetic, no all-pairs stage.",
    tags=("similarity", "retrieval", "text"),
)
def bitext_margin_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb_view(spark, sf_dir)
    from ..sources.tables import load_table

    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "sales_telegram_bot_data_pipeline_bitext_docs"
    )
    # materialize the cross-language scored pair relation once (guide
    # §3.3): it feeds BOTH neighborhood aggregates and the final margin
    # projection, and the old scored-only checkpoint still re-joined the
    # language table per reference (20 static scans per statement).  The
    # banded join + cosine + lang filter now execute exactly once.
    from ..session import materialize_once

    cross = materialize_once(
        spark,
        _bitext_cross_sql(SPARK, emb, "sales_telegram_bot_data_pipeline_bitext_docs"),
        "bitext_cross",
        key=sf_dir,
    )
    return spark.sql(
        _bitext_mining_sql(
            SPARK,
            emb,
            "sales_telegram_bot_data_pipeline_bitext_docs",
            cross_rel=cross,
        )
    )


# --------------------------------------------------------------------------
# semantic-cluster-balanced sampling (cap each k-means cluster's share)
# --------------------------------------------------------------------------
CLUSTER_BAL_CAP = 40  # max vectors admitted per semantic cluster


def _cluster_balanced_sql(d: Dialect, table: str, assign_rel: str | None = None) -> str:
    """Topic/domain balance by SEMANTIC cluster caps: source-cap sampling
    (curation.source_cap_sample) balances on a metadata column, but the
    imbalance that hurts a training mix is usually in CONTENT space — one
    topic dominating regardless of source.  Cap each k-means cluster's
    contribution instead: cluster in embedding space, keep the first
    ``CLUSTER_BAL_CAP`` members per cluster (vec_id order — deterministic,
    seedless), report each cluster's size so the dropped mass is visible.

    Scale: clustering is the existing integer-unit Lloyd machinery
    (broadcast centroid join; whole embeddings never shuffle); the cap is
    a cluster-partitioned ranking window, bounded by cluster size — for a
    mega-cluster regime, swap in scale.two_phase_topk (salt-scattered
    rank-then-rerank), the same contract.  ``assign_rel`` takes the Spark
    side's materialized assignment labels."""
    assign = assign_rel or _kmeans_sql(d, table, final="assignments").replace(
        "ORDER BY vec_id", ""
    )
    return f"""
WITH assign AS ({assign}),
ranked AS (
  SELECT vec_id, cid,
         ROW_NUMBER() OVER (PARTITION BY cid ORDER BY vec_id) AS rk,
         COUNT(*) OVER (PARTITION BY cid) AS cluster_n
  FROM assign
)
SELECT vec_id, CAST(cid AS INT) AS cid, CAST(rk AS INT) AS rk,
       CAST(cluster_n AS BIGINT) AS cluster_n,
       (cluster_n > {CLUSTER_BAL_CAP}) AS cluster_capped
FROM ranked
WHERE rk <= {CLUSTER_BAL_CAP}
ORDER BY vec_id
"""


@register(
    "cluster_balanced_sample",
    oracle=_cluster_balanced_sql(DUCKDB, "embeddings"),
    doc=f"Semantic-cluster-balanced sampling: k-means in embedding space "
    f"(shared integer-unit Lloyd machinery), then keep at most "
    f"{CLUSTER_BAL_CAP} vectors per cluster (vec_id order, seedless) — "
    "content-space balance where source_cap_sample balances metadata. "
    "Cluster-partitioned bounded ranking window; dropped mass visible via "
    "cluster_n/cluster_capped.",
    tags=("similarity", "curation", "clustering"),
)
def cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    view = _emb_view(spark, sf_dir)
    spark.sql(_units_sql(SPARK, view)).localCheckpoint().createOrReplaceTempView(
        "sales_telegram_bot_data_pipeline_cbal_units"
    )
    assign = spark.sql(
        _kmeans_sql(
            SPARK,
            view,
            units_rel="SELECT vec_id, pos, uval FROM sales_telegram_bot_data_pipeline_cbal_units",
            final="assignments",
        )
    )
    assign.createOrReplaceTempView("sales_telegram_bot_data_pipeline_cbal_assign")
    return spark.sql(
        _cluster_balanced_sql(
            SPARK,
            view,
            assign_rel="SELECT vec_id, cid FROM sales_telegram_bot_data_pipeline_cbal_assign",
        )
    )


# --------------------------------------------------------------------------
# IVF nprobe tuning audit (the ANN twin of lsh_band_tuning_audit)
# --------------------------------------------------------------------------
_NPROBE_CONFIGS = [1, 2, 4, 8]  # 8 = K_LISTS: exhaustive, recall must be 1


def _nprobe_tuning_sql(
    d: Dialect,
    table: str,
    assigned_rel: str | None = None,
    qrank_rel: str | None = None,
    truth_rel: str | None = None,
    scored_rel: str | None = None,
) -> str:
    """nprobe is THE IVF knob: more probed lists = higher recall and more
    of the corpus scored per query.  Evaluate every nprobe against the
    brute-force exact top-k in ONE pass over a shared index — the ANN
    twin of lsh_band_tuning_audit: the config id rides the probe join
    (qrank.r <= config.np), so assignment, per-query centroid ranking and
    ground truth are each computed once.  nprobe = K_LISTS probes every
    list, so its recall row is a built-in self-check (must be 1.0,
    test-pinned).  recall@k and scanned-fraction divide exact integers.

    ``*_rel`` params take the Spark side's materialized relations (each
    is referenced by 2+ consumers; Catalyst inlines CTEs)."""
    cent, assigned = _cent_assigned_ctes(d, table)
    assigned = assigned_rel or assigned
    cos_qc = _cosine(d, "q.embedding", "cent.embedding")
    cos_qn = _cosine(d, "q.embedding", "c.embedding")
    qrank = qrank_rel or (
        f"SELECT q.vec_id AS query_id, cent.cid AS cid, "
        f"ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY {cos_qc} DESC, cent.cid) AS r "
        f"FROM {table} q JOIN cent ON q.vec_id < {N_QUERIES}"
    )
    truth = truth_rel or (
        f"SELECT query_id, neighbor_id FROM ("
        + _rank_window_sql(_bruteforce_scored(d, table)).replace(
            "ORDER BY query_id, rank", ""
        )
        + ") bf"
    )
    scored = scored_rel or f"""
SELECT cf.np, p.query_id, a.vec_id AS neighbor_id, {cos_qn} AS cosine
FROM (SELECT * FROM (VALUES {", ".join(f"({n})" for n in _NPROBE_CONFIGS)}) AS v(np)) cf
JOIN qrank p ON p.r <= cf.np
JOIN assigned a ON a.cid = p.cid AND a.vec_id <> p.query_id
JOIN {table} q ON q.vec_id = p.query_id
JOIN {table} c ON c.vec_id = a.vec_id
"""
    return f"""
WITH cent AS ({cent}),
assigned AS ({assigned}),
qrank AS ({qrank}),
truth AS ({truth}),
corpus AS (SELECT COUNT(*) AS n FROM {table}),
scored AS ({scored}),
topk AS (
  SELECT np, query_id, neighbor_id FROM (
    SELECT np, query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY np, query_id
                              ORDER BY cosine DESC, neighbor_id) AS rk
    FROM scored
  ) t WHERE rk <= {TOP_K}
),
hits AS (
  SELECT t.np, COUNT(*) AS n_hit
  FROM topk t JOIN truth tr
    ON tr.query_id = t.query_id AND tr.neighbor_id = t.neighbor_id
  GROUP BY t.np
),
volume AS (SELECT np, COUNT(*) AS n_scored FROM scored GROUP BY np)
SELECT CAST(v.np AS INT) AS n_probe,
       CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
       CAST({N_QUERIES * TOP_K} AS BIGINT) AS n_truth,
       CAST(ROUND(COALESCE(h.n_hit, 0) * 1.0e0 / {N_QUERIES * TOP_K}, 6) AS DOUBLE) AS recall_at_k,
       CAST(v.n_scored AS BIGINT) AS n_scored,
       CAST(ROUND(v.n_scored * 1.0e0 / ({N_QUERIES} * (co.n - 1)), 6) AS DOUBLE) AS scan_fraction
FROM volume v
LEFT JOIN hits h ON h.np = v.np
CROSS JOIN corpus co
ORDER BY v.np
"""


@register(
    "ivf_nprobe_tuning_audit",
    oracle=_nprobe_tuning_sql(DUCKDB, "embeddings"),
    doc=f"IVF nprobe tuning audit: every nprobe in {_NPROBE_CONFIGS} "
    "evaluated against the brute-force exact top-k in one pass over a "
    "shared index (config id rides the probe join; assignment / query "
    "ranking / ground truth each computed once) — recall@k beside "
    "scanned-fraction, the ANN twin of lsh_band_tuning_audit. "
    f"nprobe={K_LISTS} probes every list so its recall row is a built-in "
    "self-check (1.0, test-pinned).",
    tags=("similarity", "ivf", "audit"),
)
def ivf_nprobe_tuning_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    view = _emb_view(spark, sf_dir)
    cent, assigned = _cent_assigned_ctes(SPARK, view)
    pre = f"WITH cent AS ({cent}) "
    # The four shared-index materializations run under fixed_plan (VERDICT
    # r12 task 3: AQE staged them into 31 jobs): every join side here is
    # either constant-bounded (cent = K_LISTS rows, q = N_QUERIES rows,
    # the VALUES grid) or parquet-backed with static stats, so the static
    # planner already picks the broadcast plans AQE would re-derive.
    with fixed_plan(spark, 8):
        spark.sql(pre + assigned).localCheckpoint().createOrReplaceTempView(
            "sales_telegram_bot_data_pipeline_np_assigned"
        )
        cos_qc = _cosine(SPARK, "q.embedding", "cent.embedding")
        spark.sql(
            pre
            + f"SELECT q.vec_id AS query_id, cent.cid AS cid, "
            f"ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY {cos_qc} DESC, cent.cid) AS r "
            f"FROM {view} q JOIN cent ON q.vec_id < {N_QUERIES}"
        ).localCheckpoint().createOrReplaceTempView("sales_telegram_bot_data_pipeline_np_qrank")
        spark.sql(
            _rank_window_sql(_bruteforce_scored(SPARK, view))
        ).localCheckpoint().createOrReplaceTempView("sales_telegram_bot_data_pipeline_np_truth")
        cos_qn = _cosine(SPARK, "q.embedding", "c.embedding")
        scored = f"""
SELECT cf.np, p.query_id, a.vec_id AS neighbor_id, {cos_qn} AS cosine
FROM (SELECT * FROM (VALUES {", ".join(f"({n})" for n in _NPROBE_CONFIGS)}) AS v(np)) cf
JOIN sales_telegram_bot_data_pipeline_np_qrank p ON p.r <= cf.np
JOIN sales_telegram_bot_data_pipeline_np_assigned a ON a.cid = p.cid AND a.vec_id <> p.query_id
JOIN {view} q ON q.vec_id = p.query_id
JOIN {view} c ON c.vec_id = a.vec_id
"""
        spark.sql(scored).localCheckpoint().createOrReplaceTempView(
            "sales_telegram_bot_data_pipeline_np_scored"
        )
    return spark.sql(
        _nprobe_tuning_sql(
            SPARK,
            view,
            assigned_rel="SELECT vec_id, cid FROM sales_telegram_bot_data_pipeline_np_assigned",
            qrank_rel="SELECT query_id, cid, r FROM sales_telegram_bot_data_pipeline_np_qrank",
            truth_rel="SELECT query_id, neighbor_id FROM sales_telegram_bot_data_pipeline_np_truth",
            scored_rel="SELECT np, query_id, neighbor_id, cosine FROM sales_telegram_bot_data_pipeline_np_scored",
        )
    )


# --------------------------------------------------------------------------
# product quantization (PQ) ANN — the memory-bound scale path
# --------------------------------------------------------------------------
PQ_M = 4      # subspaces (64-d embeddings -> 4 x 16-d subvectors)
PQ_SUB = 16   # dims per subspace
PQ_KC = 8     # codes per subspace codebook
PQ_CAND = 25  # ADC candidates per query fed to the exact rerank


def _subvec(d: Dialect, arr: str, m: int) -> str:
    """Subspace ``m``'s 1-based slice [m*SUB+1 .. (m+1)*SUB] of an array."""
    if d.name == "spark":
        return f"slice({arr}, {m * PQ_SUB + 1}, {PQ_SUB})"
    return f"list_slice({arr}, {m * PQ_SUB + 1}, {(m + 1) * PQ_SUB})"


def _subl2(d: Dialect, a: str, b: str, m: int) -> str:
    """Squared L2 between subvectors via the shared dot primitive:
    ||a-b||^2 = a.a - 2 a.b + b.b — each term the same sequential fold in
    both engines, so the double result is bit-identical."""
    sa, sb = _subvec(d, a, m), _subvec(d, b, m)
    return (
        f"(({_dots(d, sa, sa)}) - 2 * ({_dots(d, sa, sb)}) + ({_dots(d, sb, sb)}))"
    )


def _pq_cb_sql(d: Dialect, table: str) -> str:
    """The frozen PQ codebook relation (cid, embedding)."""
    return (
        f"SELECT vec_id - {CENTROID_BASE} AS cid, embedding FROM {table} "
        f"WHERE vec_id >= {CENTROID_BASE} AND vec_id < {CENTROID_BASE + PQ_KC}"
    )


def _pq_sql(d: Dialect, table: str) -> str:
    """PQ-ADC top-k: m per-subspace codebooks of frozen corpus vectors
    (vec_id in [CENTROID_BASE, CENTROID_BASE+PQ_KC) — the same frozen-init
    discipline as the IVF centroids, so both engines build the identical
    index; on a cluster the codebooks come from per-subspace Lloyd, which
    kmeans_lloyd already demonstrates), every corpus vector encoded to
    PQ_M one-byte codes by per-subspace argmin-L2, queries scored against
    codes via an asymmetric-distance lookup table, top PQ_CAND candidates
    reranked by exact cosine.

    Scale shape: the codebook (PQ_M x PQ_KC rows) and the LUT
    (N_QUERIES x PQ_M x PQ_KC rows) both broadcast; encoding is a
    map-side argmin over the broadcast codebook (the embedding column
    never shuffles — a 100 TB corpus compresses to PQ_M bytes/vector
    before any join); ADC scoring is a broadcast-LUT equi-join on
    (m, code) + a map-side-combinable SUM.  The LUT dot products are
    quantized to integer micro-units BEFORE the sum, so the ADC score is
    order-independent exact integer arithmetic — cross-engine identical
    candidate sets by construction (the double-summation order of a
    4-row SUM is not portable; integers are)."""
    cb = _pq_cb_sql(d, table)
    # per-subspace argmin-L2 code over the broadcast codebook
    if d.name == "spark":
        code_cols = ", ".join(
            f"min(named_struct('d', {_subl2(d, 'v.embedding', 'cb.embedding', m)}, "
            f"'cid', cb.cid)).cid AS code{m}"
            for m in range(PQ_M)
        )
    else:
        code_cols = ", ".join(
            f"(min({{'d': {_subl2(d, 'v.embedding', 'cb.embedding', m)}, "
            f"'cid': cb.cid}})).cid AS code{m}"
            for m in range(PQ_M)
        )
    codes_long = " UNION ALL ".join(
        f"SELECT vec_id, {m} AS m, code{m} AS cid FROM codes" for m in range(PQ_M)
    )
    lut = " UNION ALL ".join(
        f"SELECT q.vec_id AS query_id, cb.cid AS cid, {m} AS m, "
        f"CAST(ROUND(({_dots(d, _subvec(d, 'q.embedding', m), _subvec(d, 'cb.embedding', m))}) * 1000000) AS BIGINT) AS idot "
        f"FROM {table} q JOIN cb ON q.vec_id < {N_QUERIES}"
        for m in range(PQ_M)
    )
    if d.name == "spark":
        # two-stage candidate top-k: rank within (query, input partition)
        # first so no window ever partitions corpus-wide by query alone
        adc_p = "SELECT *, spark_partition_id() AS pid FROM adc"
        pid_part = ", pid"
    else:
        adc_p = "SELECT *, 0 AS pid FROM adc"
        pid_part = ""
    cos_qn = _cosine(d, "q.embedding", "n.embedding")
    return f"""
WITH cb AS ({cb}),
codes AS (
  SELECT v.vec_id, {code_cols}
  FROM {table} v JOIN cb ON 1=1
  GROUP BY v.vec_id
),
codes_long AS ({codes_long}),
lut AS ({lut}),
adc AS (
  SELECT l.query_id, c.vec_id AS neighbor_id, SUM(l.idot) AS adc
  FROM codes_long c
  JOIN lut l ON l.m = c.m AND l.cid = c.cid AND c.vec_id <> l.query_id
  GROUP BY l.query_id, c.vec_id
),
adc_p AS ({adc_p}),
local_top AS (
  SELECT query_id, neighbor_id, adc FROM (
    SELECT query_id, neighbor_id, adc,
           ROW_NUMBER() OVER (PARTITION BY query_id{pid_part}
                              ORDER BY adc DESC, neighbor_id) AS r
    FROM adc_p
  ) t WHERE r <= {PQ_CAND}
),
cand AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY adc DESC, neighbor_id) AS r
    FROM local_top
  ) t WHERE r <= {PQ_CAND}
),
reranked AS (
  SELECT c2.query_id, c2.neighbor_id, {cos_qn} AS cosine
  FROM cand c2
  JOIN {table} q ON q.vec_id = c2.query_id
  JOIN {table} n ON n.vec_id = c2.neighbor_id
)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT query_id, neighbor_id, cosine,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
  FROM reranked
) t WHERE rank <= {TOP_K}
ORDER BY query_id, rank
"""


@register(
    "knn_cosine_pq",
    oracle=_pq_sql(DUCKDB, "embeddings"),
    doc=f"PQ-ADC ANN: {PQ_M} per-subspace codebooks of {PQ_KC} frozen "
    "vectors, map-side argmin-L2 encoding over the broadcast codebook "
    "(corpus compresses to PQ_M bytes/vector; the embedding column never "
    "shuffles), ADC scoring via a broadcast integer-microunit LUT join "
    f"(order-independent exact), top-{PQ_CAND} candidates, exact cosine "
    "rerank. The memory-bound ANN sibling of IVF (scan-bound) and SQ8 "
    "(bandwidth-bound); oracle builds the identical index.",
    tags=("similarity", "pq", "topk"),
)
def knn_cosine_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(_pq_sql(SPARK, _emb_view(spark, sf_dir)))


# --------------------------------------------------------------------------
# Matryoshka truncation-recall audit
# --------------------------------------------------------------------------
_MRL_DIMS = (8, 16, 32, 64)


def _subvec_dim(d: Dialect, arr: str, dim: int) -> str:
    if d.name == "spark":
        return f"slice({arr}, 1, {dim})"
    return f"list_slice({arr}, 1, {dim})"


def _mrl_sql(d: Dialect, table: str, scored_rel: str | None = None) -> str:
    """Matryoshka-style truncation audit (Kusupati et al. 2022): rank the
    corpus by cosine over only the FIRST ``dim`` coordinates for each dim
    in _MRL_DIMS, and measure top-k overlap against the full-dimension
    exact top-k.  One scored relation with the dim config riding the join
    (the lsh_band_tuning_audit discipline); dim = full dimension is a
    built-in self-check (recall 1.0, test-pinned).  recall divides exact
    integers; the per-dim cosine is a CASE over prefix slices so the
    corpus is scanned once, not once per dim."""
    dim_case = " ".join(
        f"WHEN {dim} THEN {_cosine(d, _subvec_dim(d, 'q.embedding', dim), _subvec_dim(d, 'c.embedding', dim))}"
        for dim in _MRL_DIMS
    )
    scored = scored_rel or f"""
SELECT cf.dim, q.vec_id AS query_id, c.vec_id AS neighbor_id,
       CASE cf.dim {dim_case} END AS cosine
FROM (SELECT * FROM (VALUES {", ".join(f"({n})" for n in _MRL_DIMS)}) AS v(dim)) cf
JOIN {table} q ON q.vec_id < {N_QUERIES}
JOIN {table} c ON c.vec_id <> q.vec_id
"""
    full_dim = max(_MRL_DIMS)
    return f"""
WITH scored AS ({scored}),
topk AS (
  SELECT dim, query_id, neighbor_id FROM (
    SELECT dim, query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY dim, query_id
                              ORDER BY cosine DESC, neighbor_id) AS rk
    FROM scored
  ) t WHERE rk <= {TOP_K}
),
truth AS (SELECT query_id, neighbor_id FROM topk WHERE dim = {full_dim}),
hits AS (
  SELECT t.dim, COUNT(*) AS n_hit
  FROM topk t JOIN truth tr
    ON tr.query_id = t.query_id AND tr.neighbor_id = t.neighbor_id
  GROUP BY t.dim
)
SELECT CAST(d.dim AS INT) AS dim,
       CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
       CAST({N_QUERIES * TOP_K} AS BIGINT) AS n_truth,
       CAST(ROUND(COALESCE(h.n_hit, 0) * 1.0e0 / {N_QUERIES * TOP_K}, 6) AS DOUBLE) AS recall_at_k
FROM (SELECT DISTINCT dim FROM topk) d
LEFT JOIN hits h ON h.dim = d.dim
ORDER BY dim
"""


@register(
    "matryoshka_recall_audit",
    oracle=_mrl_sql(DUCKDB, "embeddings"),
    doc=f"Matryoshka truncation-recall audit: top-{TOP_K} by prefix-dim "
    f"cosine for dims {_MRL_DIMS} vs the full-dim exact top-{TOP_K} — the "
    "storage/recall tradeoff table for truncating an embedding column at "
    "rest (a 100 TB embedding store shrinks linearly in dim). One corpus "
    "scan with the dim config riding the join; full-dim row is a recall=1 "
    "self-check (test-pinned).",
    tags=("similarity", "audit", "topk"),
)
def matryoshka_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(_mrl_sql(SPARK, _emb_view(spark, sf_dir)))


# --------------------------------------------------------------------------
# maximum-inner-product top-k + cosine-LSH retrievability audit
# --------------------------------------------------------------------------
MIPS_K = 25


def _mips_sql(d: Dialect, table: str) -> str:
    dot_qc = _dots(d, "q.embedding", "c.embedding")
    dot_cc = _dots(d, "c.embedding", "c.embedding")
    corpus_bands = _banded_view(d, table)
    query_bands = _banded_view(
        d, table, where=f"vec_id = (SELECT MIN(vec_id) FROM {table})"
    )
    return f"""
WITH q AS (
  SELECT embedding FROM {table}
  WHERE vec_id = (SELECT MIN(vec_id) FROM {table})
),
scored AS (
  SELECT c.vec_id,
         round({dot_qc}, 6) AS dot,
         round(sqrt({dot_cc}), 6) AS vnorm
  FROM {table} c CROSS JOIN q
  WHERE c.vec_id <> (SELECT MIN(vec_id) FROM {table})
),
topk AS (
  SELECT * FROM scored ORDER BY dot DESC, vec_id LIMIT {MIPS_K}
),
qb AS (SELECT band, bucket FROM ({query_bands}) x),
cand AS (
  SELECT DISTINCT b.vec_id
  FROM ({corpus_bands}) b
  JOIN qb ON qb.band = b.band AND qb.bucket = b.bucket
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY dot DESC, t.vec_id) AS INT) AS rank,
       t.vec_id, dot, vnorm,
       -- flag via LEFT JOIN, not an IN-subquery in the projection: Spark
       -- plans the latter as an ExistenceJoin that (observed, Spark 4.1)
       -- interacts wrongly with the windowed LIMIT subtree and drops the
       -- matching rows from topk
       (c.vec_id IS NOT NULL) AS in_lsh_candidates
FROM topk t LEFT JOIN cand c ON c.vec_id = t.vec_id
ORDER BY rank
"""


@register(
    "mips_topk_audit",
    oracle=_mips_sql(DUCKDB, "embeddings"),
    doc=f"Maximum-inner-product top-{MIPS_K} (recommendation scoring: dot "
    "product, NOT cosine — magnitude matters) with a retrievability audit "
    "against the cosine-LSH index: each exact-MIP neighbor is flagged "
    "whether the sign-bucket candidate generation would have surfaced it.  "
    "The norm column makes the known failure mode measurable — high-norm "
    "vectors dominate MIP but can sit in different angular buckets "
    "(Bachrach et al. 2014's MIPS-to-NNS gap).  Exact arm is a one-row "
    "query broadcast + TakeOrdered; candidate arm reuses the banded "
    "index; the rank window is over the bounded top-k relation only.",
    tags=("similarity", "topk", "audit"),
)
def mips_topk_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(_mips_sql(SPARK, _emb_view(spark, sf_dir)))


# --------------------------------------------------------------------------
# SQ8 quantization error audit (exact vs int8-estimated cosine)
# --------------------------------------------------------------------------
SQ8_AUDIT_SUBSET_MOD = 4  # deterministic md5 quarter of candidate pairs


def _sq8_err_sql(d: Dialect, table: str) -> str:
    """Quantization-accuracy audit for the SQ8 ANN path: over the banded
    LSH candidate pairs (the pairs an ANN query would actually rank),
    compare the exact float cosine against the cosine computed from int8
    codes — mean/max absolute error + the fraction within 0.01.  The
    pre-flight number that decides whether the 4x-smaller quantized scan
    can be trusted WITHOUT the exact rerank at 100 TB (the audit sibling
    of minhash_estimate_error_audit and ivf_nprobe_tuning_audit).
    Per-pair errors quantize to micro-unit BIGINTs (both cosines are
    rounded-6 first) so the aggregate is order-free.

    Audit-scale bounds (round-8 trim, the APSS md5-subset pattern): the
    per-vector int self-dot is computed ONCE in the codes relation (it
    was re-reduced over all dims per PAIR — two of the four d-dim
    reductions per pair were per-vector quantities), and the scored set
    is a deterministic md5 QUARTER of the banded candidate pairs (~1.5k
    of ~6k pairs at sf0.1 — the error distribution estimate keeps its
    statistical power; the md5, not the engine hash, picks the subset so
    both engines score identical pairs)."""
    bv = _banded_view(d, table)
    dot = _dots(d, "x.embedding", "y.embedding")
    self_norm = f"sqrt({_dots(d, 'embedding', 'embedding')})"
    qrel = _sq8_quant_rel(d, table)
    idot = _sq8_intdot(d, "ca.codes", "cb.codes")
    pair_key = d.md5_prefix_int(
        f"{d.strcast('a.vec_id')} || '_' || {d.strcast('b.vec_id')}"
    )
    return f"""
WITH cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM ({bv}) a JOIN ({bv}) b
    ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
  WHERE {pair_key} % {SQ8_AUDIT_SUBSET_MOD} = 0
),
norms AS (SELECT vec_id, {self_norm} AS nrm FROM {table}),
codes AS (SELECT vec_id, codes, {_sq8_intdot(d, 'codes', 'codes')} AS inorm2
          FROM ({qrel}) q0),
err AS (
  SELECT c.vec_a, c.vec_b,
         CAST(ROUND(ABS(
           ROUND(({dot}) / (na.nrm * nb.nrm), 6)
           - ROUND(({idot}) / SQRT(CAST(ca.inorm2 AS DOUBLE) * cb.inorm2), 6)
         ) * 1000000) AS BIGINT) AS err_u
  FROM cand c
  JOIN {table} x ON x.vec_id = c.vec_a
  JOIN {table} y ON y.vec_id = c.vec_b
  JOIN norms na ON na.vec_id = c.vec_a
  JOIN norms nb ON nb.vec_id = c.vec_b
  JOIN codes ca ON ca.vec_id = c.vec_a
  JOIN codes cb ON cb.vec_id = c.vec_b
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
       ROUND(CAST(SUM(err_u) AS DOUBLE) / COUNT(*) / 1000000, 6) AS mean_abs_err,
       ROUND(CAST(MAX(err_u) AS DOUBLE) / 1000000, 6) AS max_abs_err,
       ROUND(CAST(SUM(CASE WHEN err_u <= 10000 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS frac_within_001
FROM err
"""


@register(
    "sq8_quantization_error_audit",
    oracle=_sq8_err_sql(DUCKDB, "embeddings"),
    doc="SQ8 quantization-accuracy audit: exact float cosine vs int8-code "
    "cosine over a deterministic md5 QUARTER of the banded LSH candidate "
    "pairs — mean/max abs error and the fraction within 0.01; the "
    "pre-flight number that decides whether the 4x-smaller quantized "
    "scan can run WITHOUT the exact rerank at 100 TB.  Per-pair errors "
    "quantize to micro-unit BIGINTs (both cosines rounded-6 first) so "
    "the aggregate is order-free; per-vector int self-dots are computed "
    "once in the codes relation, not per pair.  Audit sibling of "
    "minhash_estimate_error_audit / ivf_nprobe_tuning_audit.",
    tags=("similarity", "audit", "quantization"),
)
def sq8_quantization_error_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(_sq8_err_sql(SPARK, _emb_view(spark, sf_dir)))
