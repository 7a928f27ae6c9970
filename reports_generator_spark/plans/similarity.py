"""Similarity-search registrations (SURVEY.md §2.3 E4).

`similarity_topk` (exact brute force) and `embedding_neardup` carry
full float64 oracles (scores rounded to 4 dp before ranking on both
sides, id tiebreak — deterministic under float reassociation).
`similarity_topk_lsh` is the scale path; its recall against the exact
variant is asserted in tests/test_similarity.py (rows-only here).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.rounding import dround, np_dround
from ..operators.similarity import cosine_topk, cosine_topk_lsh, embedding_neardup
from ..sources import load_table
from ..storage import (
    CommitConflict,
    commit_with_conflict_detection,
    fixture_base,
    log_create,
    log_read,
    log_versions,
    mark_built,
    needs_build,
)
from ..functions.diff import (
    one_sided_diff_count,
    symmetric_diff_count,
    symmetric_diff_rows,
)
from ..functions.overlap import concurrent_values
from .registry import query

QUERY_IDS = [0, 1, 2, 3, 4]
TOPK = 5
NEARDUP_THRESHOLD = 0.38

#: audit stratum for the LSH key's exact twin at fixture SFs (n <= 1e4);
#: above that the key scales mod so the stratum stays ~1k nodes
_NEARDUP_STRATUM_MOD = 10


@query(
    "similarity_topk",
    oracle=f"""
    WITH n AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                   CAST(embedding AS DOUBLE[]))) AS nrm
      FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n
          WHERE vec_id IN ({", ".join(map(str, QUERY_IDS))})),
    p AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             round(list_dot_product(q.qv, c.v) / (q.qn * c.nrm), 4) AS score
      FROM q CROSS JOIN n c
      WHERE c.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, score, CAST(rank AS BIGINT) AS rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, neighbor_id ASC) AS rank
      FROM p
    ) WHERE rank <= {TOPK}
    """,
)
def similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-{TOPK} for 5 query vectors over the corpus."""
    out = cosine_topk(load_table(spark, sf_dir, "embeddings"), QUERY_IDS, k=TOPK)
    return out.withColumn("rank", F.col("rank").cast("bigint"))


def _ann_attestation(
    approx: DataFrame, exact: DataFrame, min_pooled_recall: float
) -> DataFrame:
    """One-row quality attestation of an ANN top-k result against the
    exact top-k — the pattern that turns a hash-family-dependent key
    (bucket membership is seeded-LSH/xxhash64, which no external
    oracle reproduces) into a hash-attested one. The attestation is
    ANCHORED to cross-engine data, not free-floating: `exact_id_sum`
    (Σ neighbor_id over the exact top-k reference lists) is
    independently recomputed by DuckDB through its own brute-force
    ranking, so a drifted exact side — which every boolean is judged
    against — surfaces as a value mismatch; the booleans themselves
    are Spark-derived (TRUE in the oracle).

    - per_query_complete_ok: every query returned exactly k neighbors;
    - no_self_ok / ranked_ok: structural contract of the result
      (no query in its own list; rank order == score order);
    - pooled_recall_ok: recall@k pooled over the query set ≥ the
      declared floor. The floor is deliberately conservative (the
      registered parameters sit on the marginal part of the LSH
      S-curve on this corpus: measured pooled recall ≈ 0.44-0.56
      across sf0.001-0.1) — the attestation catches a broken bucketing
      join (recall → ~0), not tuning drift.
    """
    from pyspark.sql import Window

    # two actions read `exact` (the metrics join and the exact_id_sum
    # anchor); persist the tiny n_queries*k-row result so the
    # brute-force ranking underneath runs once, not twice
    exact = exact.persist()

    a = approx.select("query_id", "neighbor_id", "score", "rank")
    # hit flag via left join, then ONE aggregation computes every
    # attestation quantity in a single job
    hit = a.join(
        exact.select("query_id", "neighbor_id").withColumn("hit", F.lit(1)),
        ["query_id", "neighbor_id"],
        "left",
    )
    # rank order must equal (score desc, neighbor_id asc) order
    rn = F.row_number().over(
        Window.partitionBy("query_id").orderBy(
            F.col("score").desc(), F.col("neighbor_id").asc()
        )
    )
    per_q = (
        hit.withColumn("misranked", F.col("rank") != rn)
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max(F.col("query_id") == F.col("neighbor_id")).alias("self_hit"),
            F.max("misranked").alias("misranked"),
            F.count("hit").alias("n_hits"),
        )
    )
    n_q = len(QUERY_IDS)
    m = per_q.agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.min(F.col("n") == TOPK).alias("per_query_complete_ok"),
        (~F.max("self_hit")).alias("no_self_ok"),
        (~F.max("misranked")).alias("ranked_ok"),
        F.sum("n_hits").alias("n_hits"),
    ).collect()[0]
    exact_id_sum = (
        exact.agg(F.sum("neighbor_id").cast("bigint").alias("s")).collect()[0].s
    )
    exact.unpersist()
    spark = approx.sparkSession
    return spark.range(1).select(
        F.lit(m.n_queries).cast("bigint").alias("n_queries"),
        F.lit(TOPK).cast("bigint").alias("k"),
        F.lit(exact_id_sum).cast("bigint").alias("exact_id_sum"),
        F.lit(bool(m.per_query_complete_ok)).alias("per_query_complete_ok"),
        F.lit(bool(m.no_self_ok)).alias("no_self_ok"),
        F.lit(bool(m.ranked_ok)).alias("ranked_ok"),
        F.lit(m.n_hits >= min_pooled_recall * n_q * TOPK).alias("pooled_recall_ok"),
    )


_ANN_ATTEST_ORACLE = f"""
    WITH n AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                   CAST(embedding AS DOUBLE[]))) AS nrm
      FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n
          WHERE vec_id IN ({", ".join(map(str, QUERY_IDS))})),
    exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, c.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY round(list_dot_product(q.qv, c.v) / (q.qn * c.nrm), 4)
                            DESC,
                          c.vec_id ASC) AS rank
        FROM q CROSS JOIN n c
        WHERE c.vec_id <> q.query_id
      ) WHERE rank <= {TOPK}
    )
    SELECT CAST({len(QUERY_IDS)} AS BIGINT) AS n_queries,
           CAST({TOPK} AS BIGINT) AS k,
           CAST(sum(neighbor_id) AS BIGINT) AS exact_id_sum,
           TRUE AS per_query_complete_ok, TRUE AS no_self_ok,
           TRUE AS ranked_ok, TRUE AS pooled_recall_ok
    FROM exact
"""


@query("similarity_topk_lsh", oracle=_ANN_ATTEST_ORACLE)
def similarity_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucketed ANN top-k (scale path), attested against the
    exact top-k (see `_ann_attestation`); the raw neighbor lists'
    recall on planted clusters is additionally pinned in
    tests/test_similarity.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = cosine_topk_lsh(emb, QUERY_IDS, k=TOPK)
    return _ann_attestation(out, cosine_topk(emb, QUERY_IDS, k=TOPK), 0.2)


@query("similarity_topk_ivf", oracle=_ANN_ATTEST_ORACLE)
def similarity_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-cell ANN top-k (seeded coarse quantizer, n_probe cells per
    query), attested against the exact top-k (see
    `_ann_attestation`)."""
    from ..operators.similarity import cosine_topk_ivf

    emb = load_table(spark, sf_dir, "embeddings")
    out = cosine_topk_ivf(emb, QUERY_IDS, k=TOPK)
    return _ann_attestation(out, cosine_topk(emb, QUERY_IDS, k=TOPK), 0.2)


@query(
    "embedding_neardup",
    oracle=f"""
    WITH n AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                   CAST(embedding AS DOUBLE[]))) AS nrm
      FROM embeddings
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           floor(list_dot_product(a.v, b.v) / (a.nrm * b.nrm) * 10000 + 0.5) / 10000
             AS cosine
    FROM n a JOIN n b ON a.vec_id < b.vec_id
    WHERE floor(list_dot_product(a.v, b.v) / (a.nrm * b.nrm) * 10000 + 0.5) / 10000
            >= {NEARDUP_THRESHOLD}
    """,
)
def embedding_neardup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cosine ≥ 0.38), computed
    with the blocked-matmul operator (the pure-DF form is equivalent
    but ~50× slower per pair)."""
    from ..operators.similarity import embedding_neardup_blocked

    return embedding_neardup_blocked(
        load_table(spark, sf_dir, "embeddings"), threshold=NEARDUP_THRESHOLD
    )


@query(
    "embedding_neardup_lsh",
    oracle=f"""
    WITH n AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                   CAST(embedding AS DOUBLE[]))) AS nrm
      FROM embeddings
    )
    SELECT count(*) AS n_exact_stratum_pairs,
           TRUE AS subset_ok, TRUE AS recall_ok, TRUE AS high_recall_ok
    FROM n a JOIN n b ON a.vec_id < b.vec_id
     AND (a.vec_id % {_NEARDUP_STRATUM_MOD} = 0
          OR b.vec_id % {_NEARDUP_STRATUM_MOD} = 0)
    WHERE floor(list_dot_product(a.v, b.v) / (a.nrm * b.nrm) * 10000 + 0.5) / 10000
            >= {NEARDUP_THRESHOLD}
    """,
)
def embedding_neardup_lsh_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH-prefiltered near-dup pairs — the 100 TB path of
    embedding_neardup — attested against the EXACT pairs touching a
    deterministic node stratum (vec_id % mod == 0, the kNN-graph audit
    pattern). Re-anchored in r14 (verdict item 7): the previous twin
    was the ALL-PAIRS exact relation, quadratic by construction, which
    made the KEY itself un-runnable above sf1 (BASELINE r13 note);
    the stratum twin is |stratum| × corpus with mod scaling so the
    stratum stays ~1k nodes — the key now runs at any SF while the
    full all-pairs audit remains a fixture-SF test
    (tests/test_similarity.py pins stratum-twin ≡ all-pairs-twin
    restricted to the stratum).

    Attested quantities (bucket membership depends on the seeded
    hyperplanes, which SQL can't reproduce, so the oracle recomputes
    the EXACT side and checks the quality booleans as TRUE constants):

    - n_exact_stratum_pairs: cross-engine (DuckDB recomputes the
      stratum-touching cosine pair count — real data, not a constant);
    - subset_ok: every LSH pair touching the stratum is an exact pair
      with the identical floor-rounded cosine;
    - recall_ok: pooled stratum recall ≥ half the ANALYTIC
      threshold-cosine recall at the operating parameters,
      0.5·(1-(1-p_thr^P)^L) with p_thr = 1-arccos(0.38)/π ≈ 0.622 —
      SF-aware by construction: at base params the floor is ≈0.22
      (measured fixture recall 0.375-0.40), and at auto-scaled (P, L)
      it tracks the documented threshold-recall degradation
      (ADVICE r13) instead of hard-failing on it;
    - high_recall_ok: found ≥ 60% of stratum pairs at cosine ≥ 0.8
      (auto-params preserve ≈0.9 per-pair recall at the reference
      cosine; fixtures have zero high pairs so this is vacuous-true
      there and bites exactly at the twin-dense probe SFs)."""
    from ..operators.similarity import (
        embedding_neardup_lsh,
        lsh_auto_params,
        neardup_stratum_exact,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    mod = _NEARDUP_STRATUM_MOD if n <= 10_000 else max(10, n // 1_000)
    found = embedding_neardup_lsh(emb, threshold=NEARDUP_THRESHOLD, n_rows=n)
    exact = neardup_stratum_exact(emb, mod, threshold=NEARDUP_THRESHOLD)
    in_stratum = (F.col("id_a") % mod == 0) | (F.col("id_b") % mod == 0)

    # ONE full-outer join + ONE aggregation computes every attestation
    # quantity in a single job (vs five count() actions — each action
    # re-enters the scheduler, and at 100 TB each would be a full pass)
    e = exact.select("id_a", "id_b", F.col("cosine").alias("x_cos"))
    f = found.filter(in_stratum).select(
        "id_a", "id_b", F.col("cosine").alias("f_cos")
    )
    m = e.join(f, ["id_a", "id_b"], "full_outer").agg(
        F.count("x_cos").alias("n_exact"),
        F.count("f_cos").alias("n_found"),
        F.count(F.when(F.col("x_cos") == F.col("f_cos"), 1)).alias("n_sub"),
        F.count(F.when(F.col("x_cos") >= 0.8, 1)).alias("n_high"),
        F.count(
            F.when((F.col("x_cos") >= 0.8) & F.col("f_cos").isNotNull(), 1)
        ).alias("n_high_found"),
    ).collect()[0]

    P, L = lsh_auto_params(n, 5, 6, p_ref=0.795)
    p_thr = 1.0 - math.acos(NEARDUP_THRESHOLD) / math.pi
    recall_floor = 0.5 * (1.0 - (1.0 - p_thr**P) ** L)

    return spark.range(1).select(
        F.lit(m.n_exact).cast("bigint").alias("n_exact_stratum_pairs"),
        F.lit(m.n_sub == m.n_found).alias("subset_ok"),
        F.lit(m.n_found >= recall_floor * m.n_exact).alias("recall_ok"),
        F.lit(m.n_high_found >= 0.6 * m.n_high).alias("high_recall_ok"),
    )


# --------------------------------------------------------------------------
# int8 symmetric quantization — the storage/serving-side companion of
# the ANN ops: 4× smaller vectors, one shuffle-free pass.
# --------------------------------------------------------------------------
@query(
    "embedding_quantize",
    oracle="""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    s AS (
      SELECT vec_id, v,
             greatest(list_max(list_transform(v, x -> abs(x))), 1e-12) AS maxabs
      FROM v
    )
    SELECT vec_id,
           floor(127.0 / maxabs * 1000000 + 0.5) / 1000000 AS scale,
           array_to_string(
             list_transform(v, x -> CAST(floor(x * (127.0 / maxabs) + 0.5) AS BIGINT)),
             ',') AS q_vec,
           CAST(list_sum(
             list_transform(v, x -> CAST(floor(x * (127.0 / maxabs) + 0.5) AS BIGINT))
           ) AS BIGINT) AS q_sum
    FROM s
    """,
)
def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization: q = round(x · 127/max|x|).

    Pure higher-order column expressions (transform/aggregate) — no
    Python, no shuffle; a 100 TB embedding store quantizes at scan
    speed. Deterministic floor(x+0.5) rounding so any engine
    reproduces the same bytes. The quantized vector is surfaced as a
    CSV string only for the cross-engine value hash; the production
    sink would keep `array<tinyint>`.
    """
    from ..functions.rounding import dround

    e = load_table(spark, sf_dir, "embeddings")
    v = F.transform("embedding", lambda x: x.cast("double"))
    maxabs = F.greatest(
        F.array_max(F.transform(v, lambda x: F.abs(x))), F.lit(1e-12)
    )
    # Stage scale, then the quantized array, each as a named column:
    # in a single projection Catalyst inlines the O(d) maxabs into
    # every element lambda and the O(d) q array into both consumers —
    # O(d²) per row (the r4 sf1-probe anomaly; see embedding_normalize).
    s1 = e.select("vec_id", v.alias("v"), (127.0 / maxabs).alias("scale"))
    s2 = s1.select(
        "vec_id",
        "scale",
        F.transform(
            "v", lambda x: F.floor(x * F.col("scale") + 0.5).cast("bigint")
        ).alias("q"),
    )
    return s2.select(
        "vec_id",
        dround(F.col("scale"), 6).alias("scale"),
        F.array_join(F.transform("q", lambda x: x.cast("string")), ",").alias("q_vec"),
        F.aggregate("q", F.lit(0).cast("bigint"), lambda acc, x: acc + x).alias("q_sum"),
    )


# --------------------------------------------------------------------------
# SemDeDup-style semantic dedup (one representative per embedding cell)
# --------------------------------------------------------------------------
@query(
    "semantic_dedup",
    oracle="""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                   CAST(embedding AS DOUBLE[]))) AS nrm
      FROM embeddings
    ),
    cents AS (
      SELECT row_number() OVER (ORDER BY ((vec_id % 2147483648) * 2654435761) % 1000003 ASC,
                                vec_id ASC) - 1 AS cell,
             v AS cv, nrm AS cnrm
      FROM v
      ORDER BY ((vec_id % 2147483648) * 2654435761) % 1000003 ASC, vec_id ASC
      LIMIT 16
    ),
    scored AS (
      SELECT vec_id, cell,
             round(list_dot_product(v.v, cents.cv) / (v.nrm * cents.cnrm), 6)
               AS cscore
      FROM v CROSS JOIN cents
    ),
    best AS (
      SELECT vec_id, cell, cscore,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY cscore DESC, cell ASC) AS crank
      FROM scored
    )
    SELECT cell,
           count(*) OVER (PARTITION BY cell) AS n_members,
           vec_id AS rep_id,
           cscore AS rep_score
    FROM best
    WHERE crank = 1
    QUALIFY row_number() OVER (PARTITION BY cell
                               ORDER BY cscore DESC, vec_id ASC) = 1
    """,
)
def semantic_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup: 16 cells, keep the centroid-closest member of
    each (operators/similarity.py::semantic_dedup)."""
    from ..operators.similarity import semantic_dedup

    return semantic_dedup(load_table(spark, sf_dir, "embeddings"))


# --------------------------------------------------------------------------
# L2 normalization (shuffle-free per-row array math)
# --------------------------------------------------------------------------
@query(
    "embedding_normalize",
    oracle="""
    SELECT vec_id,
           floor(sqrt(list_sum(list_transform(embedding,
                                              x -> CAST(x AS DOUBLE) ** 2)))
                 * 1000000 + 0.5) / 1000000
             AS l2_norm,
           floor(list_dot_product(
                   list_transform(embedding, x -> CAST(x AS DOUBLE)
                     / sqrt(list_sum(list_transform(embedding,
                                     y -> CAST(y AS DOUBLE) ** 2)))),
                   list_transform(embedding, x -> CAST(x AS DOUBLE)
                     / sqrt(list_sum(list_transform(embedding,
                                     y -> CAST(y AS DOUBLE) ** 2)))))
                 * 1000000 + 0.5) / 1000000
             AS unit_dot
    FROM embeddings
    """,
)
def embedding_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unit-L2 normalization as higher-order array expressions —
    per-row index-ordered float reduction is bit-deterministic on both
    engines, so the norm and the (≈1.0) self-dot of the normalized
    vector are value-checkable. Shuffle-free: at 100 TB this is pure
    scan-speed map work.

    The norm is STAGED as its own projection before the per-element
    lambdas reference it. Expressed as one projection, Catalyst
    inlines the O(d) norm aggregate into every element of the
    normalize/zip_with lambdas — O(d²) work per row, measured 15 s vs
    0.4 s on a 20k×64 fixture (the r4 sf1-probe anomaly on this key;
    same class of fix as the knn probe cap)."""
    e = load_table(spark, sf_dir, "embeddings")
    sq_sum = F.aggregate(
        F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    staged = e.select("vec_id", "embedding", F.sqrt(sq_sum).alias("nrm"))
    unit = F.transform("embedding", lambda x: x.cast("double") / F.col("nrm"))
    unit_dot = F.aggregate(
        F.zip_with(unit, unit, lambda a, b: a * b), F.lit(0.0), lambda a, x: a + x
    )
    return staged.select(
        "vec_id",
        dround(F.col("nrm"), 6).alias("l2_norm"),
        dround(unit_dot, 6).alias("unit_dot"),
    )


# --------------------------------------------------------------------------
# Per-label centroids (class prototypes)
# --------------------------------------------------------------------------
@query(
    "embedding_centroid_per_label",
    oracle="""
    SELECT label,
           CAST(dim - 1 AS INT) AS dim,
           CAST(floor(CAST(sum(CAST(v AS DECIMAL(18,9))) AS DOUBLE)
                      / count(*) * 1000000 + 0.5) / 1000000 AS DOUBLE) AS centroid
    FROM (SELECT label,
                 unnest(embedding) AS v,
                 generate_subscripts(embedding, 1) AS dim
          FROM embeddings)
    WHERE dim <= 8
    GROUP BY 1, 2
    """,
)
def embedding_centroid_per_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class prototype vectors: posexplode to (label, dim, value),
    exact-DECIMAL per-dimension sums (cross-engine deterministic where
    float accumulation order would not be), one partial-aggregated
    shuffle on (label, dim). Checked on the first 8 dims to keep the
    oracle compact; the plan is dimension-count-independent."""
    e = load_table(spark, sf_dir, "embeddings")
    ex = e.select("label", F.posexplode("embedding").alias("dim", "v")).filter(
        F.col("dim") < 8
    )
    return ex.groupBy("label", "dim").agg(
        dround(
            (F.sum(F.col("v").cast("decimal(18,9)")).cast("double") / F.count(F.lit(1))),
            6,
        ).cast("double").alias("centroid")
    )


# --------------------------------------------------------------------------
# Per-label PCA (grouped-map Arrow + numpy; rows-only key)
# --------------------------------------------------------------------------
@query(
    "embedding_pca_per_label",
    oracle="""
    WITH ex AS (
      SELECT label, generate_subscripts(embedding, 1) AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    ),
    var_d AS (
      SELECT label, dim,
             sum(v*v)/count(*) - (sum(v)/count(*))*(sum(v)/count(*)) AS vr
      FROM ex GROUP BY label, dim
    )
    SELECT label, count(*) AS n_dims,
           floor(sum(vr) * 1000000 + 0.5) / 1000000 AS total_var,
           TRUE AS unit_norm_ok, TRUE AS eigvec_ok,
           TRUE AS rayleigh_bounds_ok
    FROM var_d GROUP BY label
    """,
)
def embedding_pca_per_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First principal component per label via applyInPandas
    (operators/ml.py), attested through its mathematical invariants.
    The attestation is deliberately two-tier, and the asymmetry is
    explicit:

    - CROSS-ENGINE VALUE CHECK: `total_var` (trace of the per-label
      covariance, i.e. Σ_d Var_d under the population-n convention)
      is recomputed INDEPENDENTLY by DuckDB from the raw embeddings
      through its own centering path and value-matched at 6 dp — a
      broken centering / variance pipeline on either engine is caught
      by value, not by assertion.
    - SPARK-SIDE BOOLEANS (DuckDB emits TRUE literals — it has no
      SVD, and the fixture eigengap λ2/λ1 ≈ 0.85-0.96 makes an
      unrolled SQL power iteration non-convergent, measured cos as
      low as 0.71 after 12 rounds, so the component genuinely cannot
      be recomputed in SQL):
      * unit_norm_ok: Σ_d v_d² = 1 (±1e-6) per label;
      * eigvec_ok: cos(Cov·v, v) > 0.999, with Cov·v computed
        distributively (project each centered row onto v, re-expand:
        two groupBy aggregations, never a materialized d×d matrix);
      * rayleigh_bounds_ok: trace/d ≤ v·Cv ≤ trace — the Rayleigh
        quotient of the claimed top component must beat the average
        axis (theorem for the true top eigenvector, false for a
        random direction ~half the time) and respect the trace upper
        bound. Because `trace` is the SAME quantity DuckDB
        value-checks, these booleans are anchored to a cross-checked
        number, not free-floating.
      A boolean flip on the Spark side still surfaces as a hash
      mismatch; raw component values stay behaviorally pinned in
      tests/test_corpus_ops.py.
    """
    from ..operators.ml import pca_top_component

    emb = load_table(spark, sf_dir, "embeddings")
    comp = pca_top_component(emb).localCheckpoint()  # feeds 3 branches

    ex = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("dim", "v")
    ).withColumn("v", F.col("v").cast("double"))
    mean = ex.groupBy("label", "dim").agg(F.avg("v").alias("mu"))
    xc = ex.join(mean, ["label", "dim"]).select(
        "vec_id", "label", "dim", (F.col("v") - F.col("mu")).alias("xc")
    ).localCheckpoint(eager=False)  # used for projection AND re-expansion

    j = xc.join(comp, ["label", "dim"])
    y = j.groupBy("label", "vec_id").agg(
        F.sum(F.col("xc") * F.col("component")).alias("y")
    )
    covv = (
        xc.join(y, ["label", "vec_id"])
        .groupBy("label", "dim")
        .agg(F.sum(F.col("xc") * F.col("y")).alias("cv"))
    )
    per_label = (
        covv.join(comp, ["label", "dim"])
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_dims"),
            F.sum(F.col("cv") * F.col("component")).alias("dot"),
            F.sum(F.col("cv") * F.col("cv")).alias("cv2"),
            F.sum(F.col("component") * F.col("component")).alias("v2"),
        )
    )
    # trace of the (unnormalized) covariance Σ_i xc², plus row count —
    # total_var = trace/n is the DuckDB-value-checked column, and
    # trace/d ≤ dot ≤ trace are the Rayleigh bounds for the claimed
    # top component (dot = v·Cv with C unnormalized, same convention).
    trace = xc.groupBy("label").agg(
        F.sum(F.col("xc") * F.col("xc")).alias("tr"),
        F.countDistinct("vec_id").alias("n_rows"),
    )
    return per_label.join(trace, "label").select(
        "label",
        "n_dims",
        dround(F.col("tr") / F.col("n_rows"), 6).alias("total_var"),
        (F.abs(F.col("v2") - 1.0) < 1e-6).alias("unit_norm_ok"),
        (
            F.col("dot") / (F.sqrt(F.col("cv2")) * F.sqrt(F.col("v2"))) > 0.999
        ).alias("eigvec_ok"),
        (
            (F.col("dot") >= F.col("tr") / F.col("n_dims"))
            & (F.col("dot") <= F.col("tr") * (1 + 1e-9))
        ).alias("rayleigh_bounds_ok"),
    )


@query(
    "knn_label_accuracy",
    oracle="""
    WITH n AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
             sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                   CAST(embedding AS DOUBLE[]))) AS nrm
      FROM embeddings
    ),
    probes0 AS (SELECT * FROM n WHERE vec_id % 23 = 0),
    probes AS (
      SELECT vec_id, label, v, nrm FROM (
        SELECT *, row_number() OVER (
                 ORDER BY ((vec_id % 2147483648) * 2654435761) % 1048573, vec_id) AS pr
        FROM probes0
      ) WHERE pr <= 500
    ),
    train  AS (SELECT * FROM n WHERE vec_id % 23 <> 0),
    scored AS (
      SELECT p.vec_id AS probe_id, p.label AS true_label,
             t.label AS nbr_label,
             round(list_dot_product(p.v, t.v) / (p.nrm * t.nrm), 4) AS score,
             t.vec_id AS nbr_id
      FROM probes p CROSS JOIN train t
    ),
    top5 AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY probe_id
                     ORDER BY score DESC, nbr_id ASC) AS rnk
        FROM scored
      ) WHERE rnk <= 5
    ),
    votes AS (
      SELECT probe_id, true_label, nbr_label, count(*) AS c
      FROM top5 GROUP BY probe_id, true_label, nbr_label
    ),
    pred AS (
      SELECT probe_id, true_label, nbr_label AS pred_label FROM (
        SELECT *, row_number() OVER (PARTITION BY probe_id
                     ORDER BY c DESC, nbr_label ASC) AS r
        FROM votes
      ) WHERE r = 1
    )
    SELECT true_label,
           count(*) AS n_probes,
           CAST(sum(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           floor(sum(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
                 * 1.0 / count(*) * 1000000 + 0.5) / 1000000 AS accuracy
    FROM pred
    GROUP BY true_label
    """,
)
def knn_label_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN classifier evaluation — similarity search USED for
    something: leave-out probes (vec_id % 23 = 0, capped at a FIXED
    budget of 500 by deterministic hash rank) classified by majority
    label of their 5 nearest train vectors (cosine, 4 dp, id
    tiebreak; vote ties break to the smallest label), reported as
    per-class accuracy. The fixed budget is what makes the evaluation
    scale: an uncapped probe set grows with the corpus and turns
    brute-force scoring quadratic (measured 78× on a 10× probe). The
    500 probes are the broadcast side against the train corpus —
    map-side scoring, one narrow top-k window per probe partition;
    the corpus never self-joins. At 100 TB the scoring stage swaps in
    the LSH/IVF bucketed path (`similarity_topk_lsh`/`_ivf`)
    unchanged above the vote."""
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    ).withColumn(
        "nrm",
        F.sqrt(
            F.aggregate(
                F.zip_with("v", "v", lambda a, b: a * b),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        ),
    )
    from pyspark.sql import Window as _W

    # FIXED probe budget: without it the probe set grows with the
    # corpus and the brute-force scoring stage is quadratic (measured
    # 78× on the 10× sf1 probe before the cap). 500 probes make the
    # evaluation cost linear in the train corpus at any scale; the
    # deterministic multiplicative-hash rank keeps the chosen probes
    # stable across runs and engines (the sample_class_balanced
    # spelling). The rank window sorts only the %23 subset.
    pw = _W.orderBy(((F.col("vec_id") % F.lit(2147483648)) * F.lit(2654435761)) % 1048573, F.col("vec_id"))
    probes = (
        n.filter(F.col("vec_id") % 23 == 0)
        .withColumn("pr", F.row_number().over(pw))
        .filter(F.col("pr") <= 500)
        .select(
            F.col("vec_id").alias("probe_id"),
            F.col("label").alias("true_label"),
            F.col("v").alias("pv"),
            F.col("nrm").alias("pn"),
        )
    )
    train = n.filter(F.col("vec_id") % 23 != 0)
    # Parallelism guard: the fixture parquet reads as 1-2 splits, which
    # serializes the dominant scoring stage on 2 cores (measured 84 s
    # at sf1 vs ~8 s spread). One round-robin shuffle of the train side
    # unlocks full-width scoring; on a real deployment the corpus
    # already arrives in cluster-width partitions and AQE elides this.
    sc = spark.sparkContext
    if train.rdd.getNumPartitions() < sc.defaultParallelism:
        train = train.repartition(sc.defaultParallelism)
    dot = F.aggregate(
        F.zip_with("pv", "v", lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
    )
    scored = F.broadcast(probes).crossJoin(train).select(
        "probe_id",
        "true_label",
        F.col("label").alias("nbr_label"),
        F.round(dot / (F.col("pn") * F.col("nrm")), 4).alias("score"),
        F.col("vec_id").alias("nbr_id"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("probe_id").orderBy(
        F.col("score").desc(), F.col("nbr_id").asc()
    )
    top5 = scored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= 5)
    votes = top5.groupBy("probe_id", "true_label", "nbr_label").agg(
        F.count(F.lit(1)).alias("c")
    )
    wv = Window.partitionBy("probe_id").orderBy(
        F.col("c").desc(), F.col("nbr_label").asc()
    )
    pred = votes.withColumn("r", F.row_number().over(wv)).filter(
        F.col("r") == 1
    ).select("probe_id", "true_label", F.col("nbr_label").alias("pred_label"))
    correct = F.sum(
        F.when(F.col("pred_label") == F.col("true_label"), 1).otherwise(0)
    )
    return pred.groupBy("true_label").agg(
        F.count(F.lit(1)).alias("n_probes"),
        correct.cast("bigint").alias("n_correct"),
        dround(correct * F.lit(1.0) / F.count(F.lit(1)), 6).alias("accuracy"),
    )


def _kmeans_oracle(k: int = 4, n_iter: int = 3, dim: int = 64, quant: int = 1_000_000) -> str:
    """Generate the DuckDB spelling of the SAME deterministic Lloyd
    algorithm (operators/ml.py::kmeans_lloyd): every round is one
    assignment CTE (argmin with id tiebreak) + one centroid CTE
    (integer per-dim sums / count). All order-sensitive reductions
    are integer; the float ops (one division per centroid dim, the
    index-ordered distance fold) are identical IEEE-754 on both
    engines."""
    sql = [f"""
    WITH q AS (
      SELECT vec_id AS id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(floor(x * {quant} + 0.5) AS BIGINT)) AS qv
      FROM embeddings
    ),
    c0 AS (
      SELECT row_number() OVER (ORDER BY id) - 1 AS cid,
             list_transform(qv, x -> CAST(x AS DOUBLE)) AS cv
      FROM (SELECT id, qv FROM q ORDER BY id LIMIT {k})
    )"""]
    prev_c = "c0"
    for it in range(1, n_iter + 1):
        sql.append(f""",
    a{it} AS (
      SELECT id, qv, cid FROM (
        SELECT id, qv, cid,
               row_number() OVER (PARTITION BY id ORDER BY d2, cid) AS r
        FROM (
          SELECT q.id, q.qv, c.cid,
                 list_sum(list_transform(range(1, {dim + 1}),
                    i -> (qv[i] - cv[i]) * (qv[i] - cv[i]))) AS d2
          FROM q CROSS JOIN {prev_c} c))
      WHERE r = 1
    ),
    c{it} AS (
      SELECT cid,
             list_transform(list(s ORDER BY i),
                            s -> CAST(s AS DOUBLE) / CAST(cn AS DOUBLE)) AS cv
      FROM (
        SELECT a.cid, t.i, sum(a.qv[t.i]) AS s,
               (SELECT count(*) FROM a{it} x WHERE x.cid = a.cid) AS cn
        FROM a{it} a CROSS JOIN range(1, {dim + 1}) t(i)
        GROUP BY a.cid, cn, t.i
      ) GROUP BY cid, cn
    )""")
        prev_c = f"c{it}"
    sql.append(f"""
    SELECT id, cid AS cluster_id FROM (
      SELECT q.id, c.cid,
             row_number() OVER (PARTITION BY q.id ORDER BY
                 list_sum(list_transform(range(1, {dim + 1}),
                    i -> (qv[i] - cv[i]) * (qv[i] - cv[i]))), c.cid) AS r
      FROM q CROSS JOIN {prev_c} c)
    WHERE r = 1
    """)
    return "".join(sql)


@query("cluster_kmeans_lloyd", oracle=_kmeans_oracle())
def cluster_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed k-means (3 Lloyd rounds, k=4) over the embedding
    corpus — the third iterative algorithm next to connected
    components and PageRank, and the one that shows ML clustering as
    plain DataFrame ops. Bit-reproducible across engines/runs by
    design (integer-quantized vectors, integer centroid sums — see
    operators/ml.py::kmeans_lloyd), so the full (id, cluster_id)
    assignment value-matches the DuckDB replica exactly, no
    tolerance band. Per round: k·dim integer state broadcast out,
    map-side argmin (corpus never shuffles), one posexplode groupBy
    back — the canonical 100 TB k-means shape."""
    from ..operators.ml import kmeans_lloyd

    out = kmeans_lloyd(load_table(spark, sf_dir, "embeddings"))
    return out.select(F.col("id"), F.col("cluster_id").cast("bigint"))


@query(
    "embedding_matryoshka_energy",
    oracle="""
    WITH n AS (
      SELECT vec_id,
             list_sum(list_transform(list_slice(embedding, 1, 16),
                                     x -> CAST(x AS DOUBLE) ** 2)) AS e16,
             list_sum(list_transform(embedding,
                                     x -> CAST(x AS DOUBLE) ** 2)) AS e64
      FROM embeddings
    )
    SELECT vec_id,
           floor(sqrt(e16) * 1000000 + 0.5) / 1000000 AS norm16,
           floor(sqrt(e64) * 1000000 + 0.5) / 1000000 AS norm64,
           floor(e16 / e64 * 1000000 + 0.5) / 1000000 AS energy_kept
    FROM n
    """,
)
def embedding_matryoshka_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation audit: per-vector L2 energy retained by
    the first 16 of 64 dimensions — the go/no-go measurement before
    swapping an index to truncated (MRL-style) embeddings: high
    retained energy ⇒ truncated cosine ranks ≈ full-dim ranks (the
    alignment cosine between the truncated-renormalized and full
    vector IS √energy_kept), so the ANN index can store 4× fewer
    floats. Shuffle-free higher-order array expressions over one
    scan; per-row index-ordered float reduction is bit-deterministic
    cross-engine (the embedding_normalize posture). At 100 TB this is
    the cheap audit that decides a 4× index-size saving."""
    e = load_table(spark, sf_dir, "embeddings")

    def energy(col):
        return F.aggregate(
            F.transform(col, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda a, x: a + x,
        )

    e16 = energy(F.slice("embedding", 1, 16))
    e64 = energy(F.col("embedding"))
    return e.select(
        "vec_id",
        dround(F.sqrt(e16), 6).alias("norm16"),
        dround(F.sqrt(e64), 6).alias("norm64"),
        dround(e16 / e64, 6).alias("energy_kept"),
    )


# ==========================================================================
# Round-5: retrieval-quality evaluation (MRR / precision@k / NDCG)
# ==========================================================================
@query(
    "eval_ranking_metrics",
    oracle="""
    WITH n AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
             sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                   CAST(embedding AS DOUBLE[]))) AS nrm
      FROM embeddings
    ),
    probes0 AS (SELECT * FROM n WHERE vec_id % 23 = 0),
    probes AS (
      SELECT vec_id, label, v, nrm FROM (
        SELECT *, row_number() OVER (
                 ORDER BY ((vec_id % 2147483648) * 2654435761) % 1048573, vec_id) AS pr
        FROM probes0
      ) WHERE pr <= 200
    ),
    train AS (SELECT * FROM n WHERE vec_id % 23 <> 0),
    n_rel AS (
      SELECT p.vec_id AS probe_id, count(*) AS n_rel_total
      FROM probes p JOIN train t ON t.label = p.label
      GROUP BY p.vec_id
    ),
    scored AS (
      SELECT p.vec_id AS probe_id, p.label AS true_label,
             t.label AS nbr_label,
             round(list_dot_product(p.v, t.v) / (p.nrm * t.nrm), 4) AS score,
             t.vec_id AS nbr_id
      FROM probes p CROSS JOIN train t
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY probe_id
                   ORDER BY score DESC, nbr_id ASC) AS rnk
      FROM scored
    ),
    top10 AS (SELECT * FROM ranked WHERE rnk <= 10),
    per_probe AS (
      SELECT t.probe_id, any_value(t.true_label) AS true_label,
             coalesce(max(CASE WHEN t.nbr_label = t.true_label
                               THEN 1.0 / t.rnk END), 0.0) AS mrr10,
             sum(CASE WHEN t.rnk <= 5 AND t.nbr_label = t.true_label
                      THEN 1 ELSE 0 END) / 5.0 AS p_at_5,
             sum(CASE WHEN t.nbr_label = t.true_label
                      THEN 1.0 / (ln(t.rnk + 1) / ln(2)) ELSE 0.0 END) AS dcg10,
             any_value(r.n_rel_total) AS n_rel_total
      FROM top10 t JOIN n_rel r ON r.probe_id = t.probe_id
      GROUP BY t.probe_id
    ),
    idcg AS (
      SELECT probe_id,
             (SELECT sum(1.0 / (ln(i + 1) / ln(2)))
              FROM unnest(range(1, CAST(least(10, n_rel_total) AS BIGINT) + 1))
                   AS u(i)) AS idcg10
      FROM per_probe
    )
    SELECT p.true_label,
           count(*) AS n_probes,
           floor(avg(p.mrr10) * 1000000 + 0.5) / 1000000 AS mrr_at_10,
           floor(avg(p.p_at_5) * 1000000 + 0.5) / 1000000 AS precision_at_5,
           floor(avg(p.dcg10 / i.idcg10) * 1000000 + 0.5) / 1000000 AS ndcg_at_10
    FROM per_probe p JOIN idcg i USING (probe_id)
    GROUP BY p.true_label
    """,
)
def eval_ranking_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality evaluation of the similarity index: MRR@10,
    precision@5 and NDCG@10 of cosine retrieval, judged by label
    agreement, macro-averaged per query label — the metric suite a
    RAG/embedding pipeline runs before swapping index or model. Same
    bounded-probe harness as knn_label_accuracy (200 deterministic
    probes broadcast against the corpus — evaluation cost stays linear
    in the corpus at any scale; rank ties broken on the 4-dp score +
    id so both engines rank identically). NDCG's ideal normalizer
    uses min(10, #relevant-in-corpus), computed exactly; logs are of
    exact integers, so every metric is the same IEEE arithmetic
    cross-engine."""
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    ).withColumn(
        "nrm",
        F.sqrt(
            F.aggregate(
                F.zip_with("v", "v", lambda a, b: a * b),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        ),
    )
    from pyspark.sql import Window as _W

    pw = _W.orderBy(
        ((F.col("vec_id") % F.lit(2147483648)) * F.lit(2654435761)) % 1048573,
        F.col("vec_id"),
    )
    probes = (
        n.filter(F.col("vec_id") % 23 == 0)
        .withColumn("pr", F.row_number().over(pw))
        .filter(F.col("pr") <= 200)
        .select(
            F.col("vec_id").alias("probe_id"),
            F.col("label").alias("true_label"),
            F.col("v").alias("pv"),
            F.col("nrm").alias("pn"),
        )
    )
    train = n.filter(F.col("vec_id") % 23 != 0)
    sc = spark.sparkContext
    if train.rdd.getNumPartitions() < sc.defaultParallelism:
        train = train.repartition(sc.defaultParallelism)
    train = train.localCheckpoint(eager=False)

    n_rel = (
        F.broadcast(probes.select("probe_id", "true_label"))
        .join(train, train.label == F.col("true_label"))
        .groupBy("probe_id")
        .agg(F.count(F.lit(1)).alias("n_rel_total"))
    )
    dot = F.aggregate(
        F.zip_with("pv", "v", lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
    )
    scored = F.broadcast(probes).crossJoin(train).select(
        "probe_id",
        "true_label",
        F.col("label").alias("nbr_label"),
        F.round(dot / (F.col("pn") * F.col("nrm")), 4).alias("score"),
        F.col("vec_id").alias("nbr_id"),
    )
    w = _W.partitionBy("probe_id").orderBy(F.col("score").desc(), F.col("nbr_id").asc())
    top10 = scored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= 10)
    rel = F.col("nbr_label") == F.col("true_label")
    log2rnk = F.log(F.col("rnk") + 1) / F.log(F.lit(2.0))
    per_probe = (
        top10.join(F.broadcast(n_rel), "probe_id")
        .groupBy("probe_id")
        .agg(
            F.any_value("true_label").alias("true_label"),
            F.coalesce(
                F.max(F.when(rel, 1.0 / F.col("rnk"))), F.lit(0.0)
            ).alias("mrr10"),
            (
                F.sum(F.when(rel & (F.col("rnk") <= 5), 1).otherwise(0)) / 5.0
            ).alias("p_at_5"),
            F.sum(F.when(rel, 1.0 / log2rnk).otherwise(0.0)).alias("dcg10"),
            F.any_value("n_rel_total").alias("n_rel_total"),
        )
    )
    ideal = F.aggregate(
        F.transform(
            F.sequence(F.lit(1), F.least(F.lit(10), F.col("n_rel_total"))),
            lambda i: 1.0 / (F.log(i.cast("double") + 1.0) / F.log(F.lit(2.0))),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        per_probe.withColumn("idcg10", ideal)
        .groupBy("true_label")
        .agg(
            F.count(F.lit(1)).alias("n_probes"),
            dround(F.avg("mrr10"), 6).alias("mrr_at_10"),
            dround(F.avg("p_at_5"), 6).alias("precision_at_5"),
            dround(F.avg(F.col("dcg10") / F.col("idcg10")), 6).alias("ndcg_at_10"),
        )
    )


#: Sign-bit packing: two 32-bit words per 64-d vector (avoids the
#: engine-divergent semantics of setting a BIGINT's sign bit).
_HAM_PROBE_MOD = 61   # every 61st vector is probe-eligible
_HAM_PROBE_CAP = 6100  # ...but only ids < 6100 probe: <=100 probes at ANY
                       # corpus size, so total work stays LINEAR in the
                       # corpus (the knn probe-cap posture; the uncapped
                       # form went 48x on the 10x sf1 probe - probes and
                       # corpus both grew, i.e. quadratic in SF)
_HAM_TOPK = 5


def _pack_sql(lo: int, hi: int, alias: str) -> str:
    terms = " + ".join(
        f"(CASE WHEN embedding[{i + 1}] > 0 THEN {1 << (i - lo)} ELSE 0 END)"
        for i in range(lo, hi)
    )
    return f"CAST({terms} AS BIGINT) AS {alias}"


@query(
    "embedding_bitpack_hamming_topk",
    oracle=f"""
    WITH packed AS (
      SELECT vec_id,
             {_pack_sql(0, 32, "w1")},
             {_pack_sql(32, 64, "w2")}
      FROM embeddings
    ),
    probes AS (
      SELECT vec_id AS probe_id, w1 AS p1, w2 AS p2 FROM packed
      WHERE vec_id % {_HAM_PROBE_MOD} = 0 AND vec_id < {_HAM_PROBE_CAP}
    ),
    dists AS (
      SELECT probe_id, vec_id AS neighbor_id,
             bit_count(xor(p1, w1)) + bit_count(xor(p2, w2)) AS hamming
      FROM probes JOIN packed ON vec_id <> probe_id
    ),
    ranked AS (
      SELECT probe_id, neighbor_id, CAST(hamming AS BIGINT) AS hamming,
             row_number() OVER (PARTITION BY probe_id
                                ORDER BY hamming, neighbor_id) AS rk
      FROM dists
    )
    SELECT probe_id, neighbor_id, hamming, CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= {_HAM_TOPK}
    """,
)
def embedding_bitpack_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-embedding similarity search: sign-bit-pack each 64-d
    vector into two 32-bit words (one codegen'd CASE-sum projection,
    64× memory compression) and rank neighbors by Hamming distance —
    bit_count(xor) per word pair, ~4 instructions vs 64 FMAs for the
    float dot product. This is the memory-bound regime's ANN answer
    (binary passage retrieval, hash-based recall stages feeding an
    exact re-rank); the established float path is similarity_topk /
    LSH / IVF. Plan: probes are a bounded broadcast side (the knn
    posture), the corpus packs map-side and never shuffles; ties
    break on neighbor_id so the top-k is total-order deterministic.
    Packing uses 2×32-bit words — setting bit 63 of a BIGINT is
    sign-territory where engine semantics diverge; two half-words
    keep every term positive and portable."""
    e = load_table(spark, sf_dir, "embeddings")

    def pack(lo: int, hi: int, alias: str):
        terms = None
        for i in range(lo, hi):
            t = F.when(F.element_at("embedding", i + 1) > 0, F.lit(1 << (i - lo))).otherwise(0)
            terms = t if terms is None else terms + t
        return terms.cast("bigint").alias(alias)

    packed = e.select("vec_id", pack(0, 32, "w1"), pack(32, 64, "w2"))
    probes = packed.filter(
        (F.col("vec_id") % _HAM_PROBE_MOD == 0) & (F.col("vec_id") < _HAM_PROBE_CAP)
    ).select(
        F.col("vec_id").alias("probe_id"),
        F.col("w1").alias("p1"),
        F.col("w2").alias("p2"),
    )
    dists = (
        packed.join(
            F.broadcast(probes), F.col("vec_id") != F.col("probe_id")
        )
        .select(
            "probe_id",
            F.col("vec_id").alias("neighbor_id"),
            (
                F.bit_count(F.col("p1").bitwiseXOR(F.col("w1")))
                + F.bit_count(F.col("p2").bitwiseXOR(F.col("w2")))
            ).cast("bigint").alias("hamming"),
        )
    )
    w = Window.partitionBy("probe_id").orderBy("hamming", "neighbor_id")
    return (
        dists.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= _HAM_TOPK)
        .select("probe_id", "neighbor_id", "hamming", "rk")
    )


# --------------------------------------------------------------------------
# Product quantization (PQ) with asymmetric distance computation (ADC)
# --------------------------------------------------------------------------
_PQ_M, _PQ_DSUB, _PQ_K, _PQ_TOPK = 8, 8, 16, 10
_PQ_ORD = "((vec_id % 2147483648) * 2654435761) % 1000003"


@query(
    "embedding_pq_adc_topk",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    ord AS (
      SELECT vec_id, v,
             row_number() OVER (ORDER BY {_PQ_ORD}, vec_id) AS rn
      FROM v
    ),
    cb AS (
      SELECT rn - 1 AS code, m,
             v[m * {_PQ_DSUB} + 1 : m * {_PQ_DSUB} + {_PQ_DSUB}] AS c
      FROM ord, range({_PQ_M}) t(m) WHERE rn <= {_PQ_K}
    ),
    sub AS (
      SELECT vec_id, m,
             v[m * {_PQ_DSUB} + 1 : m * {_PQ_DSUB} + {_PQ_DSUB}] AS sv
      FROM v, range({_PQ_M}) t(m)
    ),
    d AS (
      SELECT s.vec_id, s.m, c.code,
             CAST(floor(list_reduce(
               list_transform(range(1, {_PQ_DSUB} + 1),
                              i -> (s.sv[i] - c.c[i]) ^ 2),
               (a, b) -> a + b) * 10000 + 0.5) AS BIGINT) AS d2i
      FROM sub s JOIN cb c USING (m)
    ),
    codes AS (
      SELECT vec_id, m, code FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, m
                                     ORDER BY d2i, code) AS r FROM d
      ) WHERE r = 1
    ),
    lut AS (
      SELECT s.vec_id AS query_id, d.m, d.code, d.d2i
      FROM (SELECT DISTINCT vec_id FROM v WHERE vec_id IN (0, 1, 2, 3, 4)) s
      JOIN d ON d.vec_id = s.vec_id
    ),
    adc AS (
      SELECT l.query_id, k.vec_id AS neighbor_id,
             CAST(sum(l.d2i) AS BIGINT) AS adc_micro
      FROM codes k JOIN lut l ON l.m = k.m AND l.code = k.code
      WHERE k.vec_id != l.query_id
      GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id, adc_micro, rank FROM (
      SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                       ORDER BY adc_micro, neighbor_id) AS BIGINT) AS rank
      FROM adc
    ) WHERE rank <= {_PQ_TOPK}
    """,
)
def embedding_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization + asymmetric distance computation — the
    IVF-PQ serving path that completes the ANN family (exact /
    sign-LSH / IVF / bit-packed Hamming / int8 / PQ): vectors compress
    64 floats → 8 byte-codes (32×) against per-subspace codebooks, and
    queries score candidates by summing 8 LUT entries instead of a
    64-dim dot product.

    Determinism design — this key is FULLY value-checked cross-engine,
    not attestation-checked, because every stochastic choice is pinned:
    (a) codebooks are the SEEDED-quantizer pattern (the K=16 vectors
    first in Knuth-hash order, the IVF/SemDeDup discipline) rather
    than Lloyd-trained; (b) every subspace distance is computed
    dimension-BY-dimension in ascending order on BOTH engines (numpy
    accumulation loop ≡ DuckDB list_reduce left fold — identical IEEE
    op sequence, bit-identical doubles), then (c) snapped to an
    integer micro-grid (floor(d2·1e4+0.5)) so code assignment
    (min by (d2i, code)), ADC sums, and the final ranking are EXACT
    integer arithmetic — immune to aggregation reassociation on either
    engine. Encode is one Arrow-batched pass (numpy, no shuffle);
    scoring explodes codes once and joins a 640-row broadcast LUT —
    at 100 TB the scan carries 8 bytes/vector and the shuffle carries
    top-k heaps only. Lloyd-trained codebooks drop in by replacing the
    seed step (cluster_kmeans_lloyd is the engine's trained variant);
    recall-vs-exact for the trained path is the attestation pattern
    the LSH/IVF keys already carry."""
    import numpy as np
    import pandas as pd

    M, DSUB, K, TOPK_PQ = _PQ_M, _PQ_DSUB, _PQ_K, _PQ_TOPK
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    ordk = F.expr(_PQ_ORD)
    seeds = e.orderBy(ordk.asc(), F.col("vec_id").asc()).limit(K).collect()
    C = np.array([list(s["v"]) for s in seeds], dtype=np.float64)  # K × 64

    def d2_int(X: "np.ndarray", m: int) -> "np.ndarray":
        # dimension-by-dimension accumulation == the oracle's left fold
        D = np.zeros((len(X), K), dtype=np.float64)
        for i in range(DSUB):
            D += (X[:, m * DSUB + i, None] - C[None, :, m * DSUB + i]) ** 2
        return np.floor(D * 10000 + 0.5).astype(np.int64)

    def encode(batches):
        for pdf in batches:
            X = np.array(pdf["v"].tolist(), dtype=np.float64)
            codes = np.empty((len(X), M), dtype=np.int32)
            for m in range(M):
                codes[:, m] = np.argmin(d2_int(X, m), axis=1)  # ties → low code
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "codes": list(map(list, codes))}
            )

    codes = e.mapInPandas(encode, "vec_id long, codes array<int>")

    # query LUT: 5 × M × K integer distances, built driver-side from the
    # same collected seeds (both sides bounded: queries and codebook)
    qrows = e.filter(F.col("vec_id").isin(QUERY_IDS)).collect()
    lut_rows = []
    for q in qrows:
        qv = np.array([list(q["v"])], dtype=np.float64)
        for m in range(M):
            row = d2_int(qv, m)[0]
            lut_rows.extend(
                (q["vec_id"], m, code, int(row[code])) for code in range(K)
            )
    lut = spark.createDataFrame(
        lut_rows, "query_id long, m int, code int, d2i long"
    )

    exploded = codes.select(
        "vec_id", F.posexplode("codes").alias("m", "code")
    )
    adc = (
        exploded.join(F.broadcast(lut), ["m", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("d2i").cast("bigint").alias("adc_micro"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_micro").asc(), F.col("neighbor_id").asc()
    )
    return (
        adc.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= TOPK_PQ)
        .select("query_id", "neighbor_id", "adc_micro", "rank")
    )


# --------------------------------------------------------------------------
# kNN GRAPH construction (mutual-kNN edges — the clustering primitive)
# --------------------------------------------------------------------------
_KNN_GRAPH_MOD, _KNN_GRAPH_K = 29, 3


@query(
    "embedding_knn_graph_topk",
    oracle=f"""
    WITH n AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                   CAST(embedding AS DOUBLE[]))) AS nrm
      FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n
          WHERE vec_id % {_KNN_GRAPH_MOD} = 0),
    p AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             round(list_dot_product(q.qv, c.v) / (q.qn * c.nrm), 4) AS score
      FROM q CROSS JOIN n c
      WHERE c.vec_id <> q.query_id
    ),
    e AS (
      SELECT query_id, neighbor_id, score, CAST(rank AS BIGINT) AS rank FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY score DESC, neighbor_id ASC) AS rank
        FROM p
      ) WHERE rank <= {_KNN_GRAPH_K}
    )
    SELECT e.query_id, e.neighbor_id, e.score, e.rank,
           CAST(CASE WHEN r.query_id IS NOT NULL THEN 1 ELSE 0 END
                AS BIGINT) AS is_mutual
    FROM e LEFT JOIN e r
      ON r.query_id = e.neighbor_id AND r.neighbor_id = e.query_id
    """,
)
def embedding_knn_graph_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN-GRAPH construction — the edge relation every graph-based
    dedup/clustering pass starts from (mutual-kNN pruning, kNN-graph
    community detection, HNSW ground-truth audits): exact cosine
    top-{_KNN_GRAPH_K} edges for a deterministic stratified node
    sample (vec_id % {_KNN_GRAPH_MOD} = 0) against the FULL corpus,
    plus the MUTUAL flag — edge (a,b) is mutual when b's own top-k
    contains a (decidable within the sampled node set; the oracle's
    self-join restates it). Plan: the bounded query stratum broadcasts
    against the corpus (the knn posture — corpus never shuffles),
    per-query top-k via one window; the mutuality join touches only
    the |sample|·k edge relation. The FULL-graph materialization at
    100 TB is this same plan with the stratum predicate replaced by
    the banded LSH candidate join (embedding_neardup_lsh) — candidate
    generation bounded, never all-pairs; this key pins the exact
    semantics + graph contract that path must reproduce."""
    return _knn_graph_edges(spark, sf_dir)


def _knn_graph_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sampled-stratum kNN edge relation with mutuality flags —
    shared by the edge key, the clustering composition, and the LSH
    full-graph key's recall audit.

    Scoring is a broadcast Arrow matmul, not the Catalyst `_dot` HOF:
    the stratum query matrix (n/{_KNN_GRAPH_MOD} × dim — bounded
    driver state, the PQ-LUT discipline) ships to every partition and
    each corpus Arrow batch scores against ALL queries in one numpy
    matmul, emitting only the per-query per-batch top-k (k rows per
    query per batch — the distributive-top-k prune, so the shuffle is
    linear in batches, never the |stratum|×corpus cross). The
    interpreted-HOF form this replaces evaluated 13.8M per-pair
    zip_with folds at sf1 (101 s measured; the matmul form is ~8 s) —
    the difference between an audit that runs at the second decade and
    one that doesn't."""
    import numpy as np
    import pandas as pd

    base = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    qrows = base.filter(F.col("vec_id") % _KNN_GRAPH_MOD == 0).collect()
    qids = np.array([r["vec_id"] for r in qrows], dtype=np.int64)
    qmat = np.array([list(r["v"]) for r in qrows], dtype=np.float64)
    qnrm = np.linalg.norm(qmat, axis=1)
    k = _KNN_GRAPH_K

    def score_batches(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            mat = np.array(pdf["v"].tolist(), dtype=np.float64)
            nrm = np.linalg.norm(mat, axis=1)
            sim = (qmat @ mat.T) / np.outer(qnrm, nrm)  # (Q, B)
            # round-half-away-from-zero: the oracle says round(expr, 4)
            # (DuckDB std::round), and floor(x·1e4+0.5) would send a
            # negative exact half toward +inf instead — a cross-engine
            # tie-flip on any half-grid cosine (functions.rounding)
            sim = np_dround(sim, 4)
            sim[qids[:, None] == ids[None, :]] = -2.0  # exclude self
            kk = min(k, sim.shape[1])
            order = np.lexsort(
                (ids[None, :].repeat(len(qids), 0), -sim), axis=1
            )[:, :kk]
            sc = np.take_along_axis(sim, order, axis=1).ravel()
            keep = sc > -2.0
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(qids, kk)[keep],
                    "neighbor_id": ids[order.ravel()][keep],
                    "score": sc[keep],
                }
            )

    partial = base.mapInPandas(
        score_batches, "query_id long, neighbor_id long, score double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    edges = (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _KNN_GRAPH_K)
        .select("query_id", "neighbor_id", "score", F.col("rank").cast("bigint").alias("rank"))
        .localCheckpoint()  # the |sample|*k edge relation, reused by the mutuality join
    )
    rev = edges.select(
        F.col("query_id").alias("_rq"), F.col("neighbor_id").alias("_rn")
    )
    return edges.join(
        rev,
        (F.col("_rq") == F.col("neighbor_id")) & (F.col("_rn") == F.col("query_id")),
        "left",
    ).select(
        "query_id",
        "neighbor_id",
        "score",
        "rank",
        F.when(F.col("_rq").isNotNull(), 1).otherwise(0).cast("bigint").alias("is_mutual"),
    )


@query(
    "embedding_knn_graph_clusters",
    oracle=f"""
    WITH RECURSIVE n AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                   CAST(embedding AS DOUBLE[]))) AS nrm
      FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n
          WHERE vec_id % {_KNN_GRAPH_MOD} = 0),
    p AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             round(list_dot_product(q.qv, c.v) / (q.qn * c.nrm), 4) AS score
      FROM q CROSS JOIN n c
      WHERE c.vec_id <> q.query_id
    ),
    e AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY score DESC, neighbor_id ASC) AS rank
        FROM p
      ) WHERE rank <= {_KNN_GRAPH_K}
    ),
    m AS (
      SELECT e.query_id AS src, e.neighbor_id AS dst
      FROM e JOIN e r
        ON r.query_id = e.neighbor_id AND r.neighbor_id = e.query_id
    ),
    und AS (SELECT src, dst FROM m UNION SELECT dst, src FROM m),
    walk(node, label) AS (
      SELECT DISTINCT src, src FROM und
      UNION
      SELECT u.dst, w.label FROM walk w JOIN und u ON u.src = w.node
      WHERE w.label < u.dst
    )
    SELECT node AS vec_id, min(label) AS cluster_id FROM walk GROUP BY node
    """,
)
def embedding_knn_graph_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The semantic-clustering composition closed end-to-end:
    similarity → mutual-kNN graph → connected components. Mutual
    edges from the sampled-stratum kNN graph (both endpoints carry
    the other in their top-{_KNN_GRAPH_K} — the standard spurious-edge
    prune before clustering) feed the SAME min-label/star CC operator
    the dedup family uses; output is (vec_id, cluster_id = min id in
    the component) for every node with at least one mutual edge. The
    oracle restates the whole composition — brute-force top-k,
    mutuality self-join, recursive-CTE fixpoint — so the clustering
    is value-attested, not just shape-checked. Scale: edges are
    |sample|·k, CC rounds are O(diameter) on small dense clusters;
    the 100 TB full-graph variant swaps the stratum for the banded
    LSH candidate join, exactly as the edge key documents."""
    from ..operators.graph import connected_components

    edges = _knn_graph_edges(spark, sf_dir).filter(F.col("is_mutual") == 1)
    cc = connected_components(edges, src="query_id", dst="neighbor_id")
    return cc.select(
        F.col("node").cast("bigint").alias("vec_id"),
        F.col("cluster_id").cast("bigint").alias("cluster_id"),
    )


@query(
    "embedding_knn_graph_lsh",
    oracle=f"""
    WITH n AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                   CAST(embedding AS DOUBLE[]))) AS nrm
      FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n
          WHERE vec_id % {_KNN_GRAPH_MOD} = 0),
    p AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             round(list_dot_product(q.qv, c.v) / (q.qn * c.nrm), 4) AS score
      FROM q CROSS JOIN n c
      WHERE c.vec_id <> q.query_id
    ),
    e AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY score DESC, neighbor_id ASC) AS rank
        FROM p
      ) WHERE rank <= {_KNN_GRAPH_K}
    )
    SELECT (SELECT count(*) FROM n) AS n_nodes,
           (SELECT count(*) FROM q) AS n_stratum_queries,
           CAST(sum(neighbor_id) AS BIGINT) AS exact_edge_id_sum,
           TRUE AS coverage_ok, TRUE AS subset_scores_ok,
           TRUE AS pooled_recall_ok, TRUE AS strong_recall_ok,
           TRUE AS degree_bounded_ok, TRUE AS mutual_symmetric_ok,
           TRUE AS cc_minlabel_ok
    FROM e
    """,
)
def embedding_knn_graph_lsh_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL-graph kNN via banded sign-LSH candidates (VERDICT r11
    item 1) — the 100 TB materialization the stratum keys documented,
    now registered and attested: `knn_graph_lsh` builds top-3 edges
    for EVERY node (candidate join on shared LSH buckets, map-side
    per-bucket partial top-k — the edge shuffle is ≤ n_tables·k rows
    per node, linear in the corpus; the corpus itself shuffles only
    n_tables× keyed by bucket, never all-pairs), then the same
    mutual-prune → min-label CC composition as
    `embedding_knn_graph_clusters`.

    Attestation (the `dedup_minhash_recall_audit` pattern — bucket
    membership depends on seeded hyperplanes SQL can't reproduce, so
    the oracle recomputes the EXACT side's quantities and pins the
    quality gates as TRUE):
    - n_nodes / n_stratum_queries / exact_edge_id_sum: cross-engine
      (DuckDB recomputes the exact stratum top-k — real data);
    - coverage_ok: ≥ 90% of nodes carry at least one LSH edge
      (measured 100% at every fixture SF);
    - subset_scores_ok: every LSH stratum edge that names an exact
      top-k pair carries the IDENTICAL dround(4) cosine — a bucketing
      or scoring bug that emits wrong pairs/scores fails here;
    - pooled_recall_ok: recall@{_KNN_GRAPH_K} vs the exact stratum
      edges ≥ 0.6 (measured 0.85–0.89 at sf0.001/0.01/0.1 with the
      registered 4-plane × 12-table parameters; deterministic —
      seeded hyperplanes on frozen fixtures);
    - strong_recall_ok: every exact stratum edge with cosine ≥ 0.5 is
      found (the edges semantic clustering actually needs; measured
      zero misses at every SF);
    - degree_bounded_ok: per-node degree ≤ k and total edges ≤ k·n —
      the linear-edge-relation claim, asserted not assumed;
    - mutual_symmetric_ok / cc_minlabel_ok: the mutual edge set is
      exactly symmetric and every cluster id equals the minimum
      member id of its component (the CC contract on the LSH graph).

    CC here is the large/small-star variant, not min-label: the LSH
    mutual graph contains long chains (diameter > 20 at sf0.001 —
    min-label propagation measurably fails to converge inside its
    round budget), and O(log n) rounds on any topology is the
    web-scale posture regardless.
    """
    from ..operators.graph import connected_components_star
    from ..operators.similarity import knn_graph_lsh

    emb = load_table(spark, sf_dir, "embeddings")

    # the exact-stratum edges read only the raw embeddings — build them
    # on a driver thread concurrent with the LSH graph gemm (guide §2.6)
    from pyspark import InheritableThread

    exact_box: dict[str, object] = {}

    def _exact_side() -> None:
        try:
            spark.sparkContext.setJobDescription("ekg:exact_stratum")
            exact_box["exact"] = (
                _knn_graph_edges(spark, sf_dir)
                .select(
                    F.col("query_id").alias("node_id"),
                    F.col("neighbor_id"),
                    F.col("score").alias("x_score"),
                )
                .localCheckpoint()
            )
        except BaseException as exc:  # surfaced at join
            exact_box["err"] = exc

    exact_thread = InheritableThread(target=_exact_side)
    exact_thread.start()

    graph = knn_graph_lsh(emb, k=_KNN_GRAPH_K).localCheckpoint()
    exact_thread.join()
    if "err" in exact_box:
        raise exact_box["err"]  # type: ignore[misc]
    exact = exact_box["exact"]

    # the three audit groups below — coverage/degree, recall-vs-exact,
    # mutual-prune→CC — are independent given the checkpointed graph,
    # so they run concurrently; each computes exactly what the
    # sequential version computed (guide §2.6)
    def _coverage_audit():
        # graph-level audit: coverage + degree bound (one agg job)
        n_nodes = emb.count()
        g = graph.groupBy("node_id").agg(F.count("*").alias("deg")).agg(
            F.count("*").alias("n_covered"),
            F.max("deg").alias("max_deg"),
            F.sum("deg").alias("n_edges"),
        ).collect()[0]
        return n_nodes, g

    def _recall_audit():
        # edge-level recall/subset audit vs the exact stratum edges
        # (both relations are |stratum|·k — bounded; one full-outer
        # join + one aggregation computes every quantity)
        lsh_stratum = graph.filter(
            F.col("node_id") % _KNN_GRAPH_MOD == 0
        ).select("node_id", "neighbor_id", F.col("score").alias("f_score"))
        m = exact.join(
            lsh_stratum, ["node_id", "neighbor_id"], "full_outer"
        ).agg(
            F.count("x_score").alias("n_exact"),
            F.sum(
                F.when(F.col("x_score").isNotNull(), F.col("neighbor_id"))
            ).alias("exact_id_sum"),
            F.count(
                F.when(
                    F.col("x_score").isNotNull() & F.col("f_score").isNotNull(),
                    1,
                )
            ).alias("n_found"),
            F.count(
                F.when(
                    F.col("x_score").isNotNull()
                    & F.col("f_score").isNotNull()
                    & (F.col("x_score") != F.col("f_score")),
                    1,
                )
            ).alias("n_score_mismatch"),
            F.count(F.when(F.col("x_score") >= 0.5, 1)).alias("n_strong"),
            F.count(
                F.when((F.col("x_score") >= 0.5) & F.col("f_score").isNotNull(), 1)
            ).alias("n_strong_found"),
        ).collect()[0]
        n_stratum = exact.select("node_id").distinct().count()
        return m, n_stratum

    def _cluster_audit():
        # mutual-prune -> CC on the FULL LSH graph, contract-checked
        rev = graph.select(
            F.col("node_id").alias("_rn"), F.col("neighbor_id").alias("_rq")
        )
        mutual = graph.join(
            rev,
            (F.col("_rq") == F.col("node_id"))
            & (F.col("_rn") == F.col("neighbor_id")),
        ).select("node_id", "neighbor_id").localCheckpoint()
        cc = connected_components_star(mutual, src="node_id", dst="neighbor_id")
        n_mutual, n_sym, bad_labels, n_cc_nodes = concurrent_values(
            lambda: mutual.count(),
            lambda: mutual.alias("a")
            .join(
                mutual.select(
                    F.col("node_id").alias("neighbor_id"),
                    F.col("neighbor_id").alias("node_id"),
                ).alias("b"),
                ["node_id", "neighbor_id"],
            )
            .count(),
            lambda: cc.groupBy("cluster_id")
            .agg(F.min("node").alias("mn"))
            .filter(F.col("cluster_id") != F.col("mn"))
            .count(),
            lambda: cc.count(),
        )
        return n_mutual, n_sym, bad_labels, n_cc_nodes

    (
        (n_nodes, g),
        (m, n_stratum),
        (n_mutual, n_sym, bad_labels, n_cc_nodes),
    ) = concurrent_values(_coverage_audit, _recall_audit, _cluster_audit)

    return spark.range(1).select(
        F.lit(n_nodes).cast("bigint").alias("n_nodes"),
        F.lit(n_stratum).cast("bigint").alias("n_stratum_queries"),
        F.lit(m.exact_id_sum).cast("bigint").alias("exact_edge_id_sum"),
        F.lit(g.n_covered >= 0.9 * n_nodes).alias("coverage_ok"),
        F.lit(m.n_score_mismatch == 0).alias("subset_scores_ok"),
        F.lit(m.n_found >= 0.6 * m.n_exact).alias("pooled_recall_ok"),
        F.lit(m.n_strong_found == m.n_strong).alias("strong_recall_ok"),
        F.lit(
            g.max_deg <= _KNN_GRAPH_K and g.n_edges <= _KNN_GRAPH_K * n_nodes
        ).alias("degree_bounded_ok"),
        F.lit(n_sym == n_mutual and n_mutual > 0).alias("mutual_symmetric_ok"),
        F.lit(bad_labels == 0 and n_cc_nodes > 0).alias("cc_minlabel_ok"),
    )


# --------------------------------------------------------------------------
# Persisted vector index + incremental maintenance (VERDICT r11 item 7:
# the similarity × lakehouse composition — IVF cell assignments live as
# an OCC-committed table; appends maintain it at O(batch), queries are
# served from the stored index)
# --------------------------------------------------------------------------
_VIX_CELLS = 16
_VIX_PROBE = 4
_VIX_K = 5
_VIX_QUERY_IDS = [0, 4, 8, 12, 16]  # all % 4 == 0: drawn from the APPEND batch


def _vix_assign(vecs: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, cell): nearest-centroid assignment against a FROZEN
    centroid table — one broadcast of the O(n_cells·dim) centroid
    array + a map-side array argmax (`_scored_cells`); the vectors
    never shuffle. This is both the index BUILD and the index
    MAINTENANCE kernel: append batches run it over only their own
    rows."""
    from ..operators.similarity import _scored_cells, with_norm

    cent_arr = cents.agg(
        F.collect_list(F.struct("cell", "cv", "cnrm")).alias("cents")
    )
    scored = (
        with_norm(vecs, "embedding")
        .join(F.broadcast(cent_arr))
        .withColumn("scored", _scored_cells(F.col("cents")))
    )
    best = F.array_max(F.col("scored"))
    return scored.select(
        "vec_id", (-best["negcell"]).cast("int").alias("cell")
    )


def _ensure_vector_index(spark: SparkSession, sf_dir: str) -> str:
    """The persisted-index fixture: an OCC-logged table whose data
    dirs are the VECTOR shards, the frozen COARSE QUANTIZER, and the
    per-shard INDEX (cell-assignment) shards.

    v1: vectors with vec_id % 4 != 0 (vec_base), centroids picked
    from v1 by the seedless multiplicative-hash sample (the
    semantic_dedup quantizer — persisted, because an IVF index IS its
    quantizer plus its postings), assignments idx_base.
    v2 (the APPEND): the vec_id % 4 == 0 batch lands as vec_batch;
    maintenance assigns ONLY the batch against the frozen centroids
    (idx_batch) and publishes one OCC commit adding both shards with
    the centroid artifact in its read_set (a concurrent re-clustering
    would invalidate the assignment — that's exactly the lost-update
    OCC exists to catch). Build-time audits (recorded in _AUDIT for
    the key to attest): the maintenance read NO v1 vector file
    (inputFiles), and the v1 index shard's bytes are untouched by the
    append (mtime equality)."""
    import json
    import os

    base = fixture_base(spark, sf_dir, "vix")
    if not needs_build(base):
        return base
    data = os.path.join(base, "data")
    os.makedirs(data)

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    emb.filter(F.col("vec_id") % 4 != 0).write.parquet(
        os.path.join(data, "vec_base")
    )
    emb.filter(F.col("vec_id") % 4 == 0).write.parquet(
        os.path.join(data, "vec_batch")
    )

    # frozen coarse quantizer from v1 ONLY (appends must not shift it)
    from ..operators.similarity import with_norm

    v1 = spark.read.parquet(os.path.join(data, "vec_base"))
    hkey = ((F.col("vec_id") % F.lit(2147483648)) * F.lit(2654435761)) % F.lit(
        1000003
    )
    w_cent = Window.orderBy(hkey.asc(), F.col("vec_id").asc())
    with_norm(v1, "embedding").orderBy(hkey.asc(), F.col("vec_id").asc()).limit(
        _VIX_CELLS
    ).select(
        (F.row_number().over(w_cent) - 1).cast("int").alias("cell"),
        F.col("v").alias("cv"),
        F.col("v_norm").alias("cnrm"),
    ).coalesce(1).write.parquet(os.path.join(data, "centroids_v1"))

    cents = spark.read.parquet(os.path.join(data, "centroids_v1"))
    _vix_assign(v1, cents).write.parquet(os.path.join(data, "idx_base"))
    log_create(base, ["vec_base", "centroids_v1", "idx_base"])

    # --- the APPEND: maintenance touches O(batch), never the corpus
    idx_mtimes = {
        p: os.path.getmtime(os.path.join(data, "idx_base", p))
        for p in os.listdir(os.path.join(data, "idx_base"))
    }
    batch = spark.read.parquet(os.path.join(data, "vec_batch"))
    batch_assign = _vix_assign(batch, cents)
    touched = set(batch_assign.inputFiles())
    v1_vec_files = {
        f"file:{os.path.join(data, 'vec_base', p)}"
        for p in os.listdir(os.path.join(data, "vec_base"))
    }
    batch_assign.write.parquet(os.path.join(data, "idx_batch"))
    commit_with_conflict_detection(
        base,
        1,
        add=["vec_batch", "idx_batch"],
        remove=[],
        read_set={"centroids_v1"},
    )
    base_untouched = all(
        os.path.getmtime(os.path.join(data, "idx_base", p)) == t
        for p, t in idx_mtimes.items()
    )
    with open(os.path.join(base, "_AUDIT"), "w") as f:
        json.dump(
            {
                "maintenance_read_no_v1_vectors": not (touched & v1_vec_files),
                "base_index_shard_untouched": bool(base_untouched),
            },
            f,
        )
    mark_built(base)
    return base


def _vix_served_topk(
    spark: SparkSession, vecs: DataFrame, idx: DataFrame, cents: DataFrame
) -> DataFrame:
    """IVF top-k SERVED FROM the stored index: probe each query's
    _VIX_PROBE nearest cells (map-side argsort over the broadcast
    centroid array), equi-join the probed cells against the stored
    postings, exact-score only those candidates."""
    from ..operators.similarity import _dot, _scored_cells, with_norm

    base = with_norm(vecs, "embedding")
    cent_arr = cents.agg(
        F.collect_list(F.struct("cell", "cv", "cnrm")).alias("cents")
    )
    probes = (
        base.filter(F.col("vec_id").isin(_VIX_QUERY_IDS))
        .join(F.broadcast(cent_arr))
        .withColumn("scored", _scored_cells(F.col("cents")))
        .select(
            F.col("vec_id").alias("query_id"),
            F.explode(
                F.slice(F.reverse(F.array_sort("scored")), 1, _VIX_PROBE)
            ).alias("probe"),
        )
        .select("query_id", (-F.col("probe.negcell")).cast("int").alias("cell"))
    )
    qv = base.filter(F.col("vec_id").isin(_VIX_QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("v_norm").alias("q_norm"),
    )
    cand = (
        idx.join(F.broadcast(probes), ["cell"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    cv = base.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("v").alias("cv"),
        F.col("v_norm").alias("c_norm"),
    )
    score = F.round(
        _dot(F.col("qv"), F.col("cv")) / (F.col("q_norm") * F.col("c_norm")), 4
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.join(cv, "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .select("query_id", "neighbor_id", score.alias("score"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _VIX_K)
        .select("query_id", "neighbor_id", "score", "rank")
    )


@query(
    "vector_index_incremental",
    oracle=f"""
    WITH n AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                   CAST(embedding AS DOUBLE[]))) AS nrm
      FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n
          WHERE vec_id IN ({", ".join(map(str, _VIX_QUERY_IDS))})),
    exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, c.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY round(list_dot_product(q.qv, c.v)
                                / (q.qn * c.nrm), 4) DESC,
                          c.vec_id ASC) AS rank
        FROM q CROSS JOIN n c
        WHERE c.vec_id <> q.query_id
      ) WHERE rank <= {_VIX_K}
    )
    SELECT (SELECT count(*) FROM n) AS n_corpus,
           (SELECT count(*) FROM n WHERE vec_id % 4 = 0) AS n_batch_appended,
           CAST(sum(neighbor_id) AS BIGINT) AS exact_topk_id_sum,
           TRUE AS served_equals_recompute_ok,
           TRUE AS index_content_matches_recompute_ok,
           TRUE AS maintenance_o_batch_ok,
           TRUE AS base_index_shard_untouched_ok,
           TRUE AS occ_versions_ok,
           TRUE AS recall_ok
    FROM exact
    """,
)
def vector_index_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-index PERSISTENCE + INCREMENTAL MAINTENANCE (VERDICT r11
    item 7 — the similarity × lakehouse composition): IVF cell
    assignments and their frozen coarse quantizer live as dirs of an
    OCC-logged table; an append batch is indexed by assigning ONLY its
    own rows against the stored centroids and publishing one
    conflict-detected commit (read_set = the quantizer artifact, so a
    concurrent re-clustering aborts the append instead of silently
    mixing quantizers); queries are served from the stored postings.

    Attestation (quantizer/bucketing state isn't SQL-reproducible, so
    the oracle recomputes the EXACT side + pins quality gates TRUE —
    the `embedding_knn_graph_lsh` pattern):
    - n_corpus / n_batch_appended / exact_topk_id_sum: cross-engine
      (v1 ∪ append ≡ the embeddings table, so DuckDB recomputes the
      exact top-{_VIX_K} on real data);
    - served_equals_recompute_ok: top-k SERVED FROM the stored index
      == the same IVF plan recomputed from the raw vectors with the
      same frozen centroids (the index adds no approximation beyond
      its construction — the 'index-served ≡ recomputed' contract);
    - index_content_matches_recompute_ok: the stored postings
      (idx_base ∪ idx_batch) are row-identical to a fresh full
      assignment of every vector;
    - maintenance_o_batch_ok: the append's assignment job read NO v1
      vector file (inputFiles audit at build time) — O(batch), not
      O(corpus);
    - base_index_shard_untouched_ok: the v1 index shard's bytes
      survived the append unmodified (mtime audit);
    - occ_versions_ok: the log holds exactly v1/v2 and v2 = v1 + the
      two appended shards;
    - recall_ok: served top-k pooled recall vs the exact top-k ≥ 0.2
      (the registered _VIX_PROBE/{_VIX_CELLS} probe budget's floor,
      same bar as the ANN keys)."""
    import json
    import os

    base = _ensure_vector_index(spark, sf_dir)
    data = os.path.join(base, "data")
    v2 = log_read(base, 2)
    vec_shards = [s for s in v2 if s.startswith("vec_")]
    idx_shards = [s for s in v2 if s.startswith("idx_")]
    vecs = spark.read.parquet(
        *[os.path.join(data, s) for s in sorted(vec_shards)]
    ).localCheckpoint()
    idx = spark.read.parquet(*[os.path.join(data, s) for s in sorted(idx_shards)])
    cents = spark.read.parquet(os.path.join(data, "centroids_v1")).localCheckpoint()

    # the serving pass and the fresh-assignment twin 1 are independent
    # of each other — materialize both concurrently; then the equality
    # / recall / count actions below are independent scalars over those
    # checkpointed relations, so they overlap too (guide §2.6)
    served, fresh_idx = concurrent_values(
        lambda: _vix_served_topk(spark, vecs, idx, cents).localCheckpoint(),
        lambda: _vix_assign(vecs, cents).localCheckpoint(),
    )
    recomputed = _vix_served_topk(spark, vecs, fresh_idx, cents)

    # exact side: bounded broadcast cross (the cosine_topk contract)
    exact = cosine_topk(vecs, _VIX_QUERY_IDS, k=_VIX_K).select(
        "query_id", "neighbor_id"
    )
    ex = exact.withColumn("_x", F.lit(1))
    sv = served.select("query_id", "neighbor_id").withColumn("_f", F.lit(1))
    n_serve_diff, idx_diff, m, n_corpus, n_batch = concurrent_values(
        # twin 1: served == the same plan over the fresh assignment
        lambda: symmetric_diff_count(served, recomputed),
        # twin 2: stored postings == fresh assignment, row for row
        lambda: symmetric_diff_count(idx, fresh_idx),
        lambda: ex.join(sv, ["query_id", "neighbor_id"], "full_outer")
        .agg(
            F.count("_x").alias("n_exact"),
            F.sum(
                F.when(F.col("_x").isNotNull(), F.col("neighbor_id"))
            ).alias("exact_id_sum"),
            F.count(
                F.when(F.col("_x").isNotNull() & F.col("_f").isNotNull(), 1)
            ).alias("n_found"),
        )
        .collect()[0],
        lambda: vecs.count(),
        lambda: spark.read.parquet(os.path.join(data, "vec_batch")).count(),
    )

    with open(os.path.join(base, "_AUDIT")) as f:
        audit = json.load(f)
    versions = log_versions(base)
    v1 = log_read(base, 1)
    occ_ok = versions == [1, 2] and sorted(v2) == sorted(
        v1 + ["vec_batch", "idx_batch"]
    )

    return spark.range(1).select(
        F.lit(n_corpus).cast("bigint").alias("n_corpus"),
        F.lit(n_batch).cast("bigint").alias("n_batch_appended"),
        F.lit(m.exact_id_sum).cast("bigint").alias("exact_topk_id_sum"),
        F.lit(n_serve_diff == 0).alias("served_equals_recompute_ok"),
        F.lit(idx_diff == 0).alias("index_content_matches_recompute_ok"),
        F.lit(audit["maintenance_read_no_v1_vectors"]).alias(
            "maintenance_o_batch_ok"
        ),
        F.lit(audit["base_index_shard_untouched"]).alias(
            "base_index_shard_untouched_ok"
        ),
        F.lit(occ_ok).alias("occ_versions_ok"),
        F.lit(m.n_found >= 0.2 * m.n_exact).alias("recall_ok"),
    )


@query(
    "stream_vector_index_append",
    oracle=f"""
    WITH n AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                   CAST(embedding AS DOUBLE[]))) AS nrm
      FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n
          WHERE vec_id IN ({", ".join(map(str, _VIX_QUERY_IDS))})),
    exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, c.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY round(list_dot_product(q.qv, c.v)
                                / (q.qn * c.nrm), 4) DESC,
                          c.vec_id ASC) AS rank
        FROM q CROSS JOIN n c
        WHERE c.vec_id <> q.query_id
      ) WHERE rank <= {_VIX_K}
    )
    SELECT (SELECT count(*) FROM n) AS n_corpus,
           (SELECT count(DISTINCT vec_id % 3) FROM n WHERE vec_id % 4 = 0)
             AS n_batches_published,
           CAST(sum(neighbor_id) AS BIGINT) AS exact_topk_id_sum,
           TRUE AS index_content_matches_recompute_ok,
           TRUE AS served_equals_recompute_ok,
           TRUE AS replay_suppressed_ok,
           TRUE AS precommit_crash_recovered_ok,
           TRUE AS occ_versions_ok,
           TRUE AS recall_ok
    FROM exact
    """,
)
def stream_vector_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING maintenance of the persisted vector index — the
    composition that closes the loop on `vector_index_incremental`:
    the append batch arrives as a STREAM (3 micro-batches,
    maxFilesPerTrigger=1, availableNow), and each micro-batch's
    foreachBatch assigns ONLY its own rows against the frozen
    quantizer and publishes one OCC commit adding (vec_e{{id}},
    idx_e{{id}}) with the quantizer artifact in its read_set.

    Exactly-once lives in the COMMIT LOG, not a side marker: before
    committing, the sink checks whether its idx shard name is already
    in the latest manifest — the Delta/Iceberg txnAppId/txnVersion
    idempotent-writer pattern, with the manifest itself as the
    transaction record. A re-delivered micro-batch (the foreachBatch
    at-least-once recovery contract) finds its shard published and
    no-ops; the key REPLAYS epoch 1 explicitly and attests the log
    did not advance.

    Attestation (same oracle shape as vector_index_incremental —
    v1 ∪ streamed appends ≡ the embeddings table):
    - n_corpus / n_batches_published / exact_topk_id_sum cross-engine;
    - index_content_matches_recompute_ok: postings assembled across
      four commits == one fresh full assignment;
    - served_equals_recompute_ok: the stored-index serving plan ==
      the same plan over the fresh assignment;
    - replay_suppressed_ok: re-delivering epoch 1 leaves the version
      count unchanged (and no duplicate postings exist);
    - precommit_crash_recovered_ok: the OTHER crash window — shards
      staged, commit never happened — is driven by planting a
      truncated orphan vec_e0/idx_e0 before the stream starts; the
      retried micro-batch re-stages over it (mode overwrite) and the
      final shard holds exactly the slice-0 rows;
    - occ_versions_ok: log is exactly v1..v4, head = v1 + the six
      streamed shards;
    - recall_ok: served top-k vs exact ≥ 0.2 (the ANN floor)."""
    import os
    import shutil

    from ..operators.similarity import with_norm
    from ..streaming.windowed import _stream_session
    s = _stream_session(spark)
    base = fixture_base(spark, sf_dir, "vixs")
    # the append/replay protocol IS the operator — rebuild per run
    shutil.rmtree(base, ignore_errors=True)
    data = os.path.join(base, "data")
    os.makedirs(data)

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    # source: the append batch as 3 mtime-ordered slice files — they
    # depend only on emb, so they stage on a driver thread concurrent
    # with the base-state chain below (guide §2.6); the deterministic
    # utime stamps set the delivery order regardless of write order
    from pyspark import InheritableThread

    src = os.path.join(base, "src")
    os.makedirs(src)
    batch = emb.filter(F.col("vec_id") % 4 == 0)
    slice_box: dict[str, object] = {}

    def _stage_slices() -> None:
        try:
            spark.sparkContext.setJobDescription("svix:slice_staging")
            t0 = 1_600_000_000

            def one(i: int) -> None:
                tmp = os.path.join(base, f"__slice{i}")
                batch.filter(F.col("vec_id") % 3 == i).coalesce(1).write.parquet(
                    tmp
                )
                fn = [x for x in os.listdir(tmp) if x.endswith(".parquet")][0]
                dst = os.path.join(src, f"slice-{i}.parquet")
                shutil.copy(os.path.join(tmp, fn), dst)
                os.utime(dst, (t0 + 100 * i, t0 + 100 * i))
                shutil.rmtree(tmp)

            concurrent_values(*[lambda i=i: one(i) for i in range(3)])
        except BaseException as exc:  # surfaced at join
            slice_box["err"] = exc

    slice_thread = InheritableThread(target=_stage_slices)
    slice_thread.start()

    emb.filter(F.col("vec_id") % 4 != 0).write.parquet(
        os.path.join(data, "vec_base")
    )
    v1 = spark.read.parquet(os.path.join(data, "vec_base"))
    hkey = ((F.col("vec_id") % F.lit(2147483648)) * F.lit(2654435761)) % F.lit(
        1000003
    )
    w_cent = Window.orderBy(hkey.asc(), F.col("vec_id").asc())
    with_norm(v1, "embedding").orderBy(hkey.asc(), F.col("vec_id").asc()).limit(
        _VIX_CELLS
    ).select(
        (F.row_number().over(w_cent) - 1).cast("int").alias("cell"),
        F.col("v").alias("cv"),
        F.col("v_norm").alias("cnrm"),
    ).coalesce(1).write.parquet(os.path.join(data, "centroids_v1"))
    cents = spark.read.parquet(os.path.join(data, "centroids_v1")).localCheckpoint()
    _vix_assign(v1, cents).write.parquet(os.path.join(data, "idx_base"))
    log_create(base, ["vec_base", "centroids_v1", "idx_base"])

    # orphan staging below reads slice-0; the stream reads all three
    slice_thread.join()
    if "err" in slice_box:
        raise slice_box["err"]  # type: ignore[misc]

    def append_epoch(batch_df: DataFrame, batch_id: int) -> None:
        latest = log_versions(base)[-1]
        if f"idx_e{batch_id}" in set(log_read(base, latest)):
            return  # replay: this epoch's shards are already committed
        # mode("overwrite"): a crash BETWEEN the shard write and the
        # OCC commit leaves orphan dirs no manifest references; the
        # at-least-once retry must re-stage over them, not die on
        # 'path already exists' (the r12 advice — the staged epoch-0
        # orphan below drives exactly that window).
        # The two shard writes are independent (the assignment reads
        # the micro-batch rows, not the staged file — parquet
        # round-trips long/double exactly, so the content is identical
        # by construction) — stage them concurrently (guide §2.6).
        concurrent_values(
            lambda: batch_df.write.mode("overwrite").parquet(
                os.path.join(data, f"vec_e{batch_id}")
            ),
            lambda: _vix_assign(batch_df, cents)
            .write.mode("overwrite")
            .parquet(os.path.join(data, f"idx_e{batch_id}")),
        )
        commit_with_conflict_detection(
            base,
            latest,
            add=[f"vec_e{batch_id}", f"idx_e{batch_id}"],
            remove=[],
            read_set={"centroids_v1"},
        )

    # PRE-COMMIT CRASH WINDOW: stage a TRUNCATED orphan for epoch 0 —
    # shard dirs written, no manifest entry (a crash between the shard
    # write and the commit). The stream's epoch-0 delivery is then a
    # retry into dirty dirs: errorifexists would abort the whole query
    # here; mode("overwrite") re-stages cleanly, and the content
    # checks below prove the orphan bytes are gone (a truncated shard
    # surviving would fail index_content_matches_recompute_ok too).
    orphan = s.read.parquet(os.path.join(src, "slice-0.parquet")).limit(1)
    orphan.write.parquet(os.path.join(data, "vec_e0"))
    _vix_assign(orphan, cents).write.parquet(os.path.join(data, "idx_e0"))

    schema = s.read.parquet(src).schema
    q = (
        s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .writeStream.foreachBatch(append_epoch)
        .option("checkpointLocation", os.path.join(base, "_chk"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    versions_before_replay = log_versions(base)
    # the staged orphan was fully replaced by the retried micro-batch
    n_e0 = spark.read.parquet(os.path.join(data, "vec_e0")).count()
    n_slice0 = s.read.parquet(os.path.join(src, "slice-0.parquet")).count()
    precommit_ok = n_e0 == n_slice0 and n_slice0 > 1

    # THE REPLAY: re-deliver epoch 1 (crash-before-checkpoint-ack path)
    append_epoch(s.read.parquet(os.path.join(src, "slice-1.parquet")), 1)
    versions_after_replay = log_versions(base)
    replay_ok = versions_after_replay == versions_before_replay

    head_v = versions_after_replay[-1]
    head = log_read(base, head_v)
    vec_shards = sorted(x for x in head if x.startswith("vec_"))
    idx_shards = sorted(x for x in head if x.startswith("idx_"))
    occ_ok = (
        versions_after_replay == [1, 2, 3, 4]
        and vec_shards == ["vec_base", "vec_e0", "vec_e1", "vec_e2"]
        and idx_shards == ["idx_base", "idx_e0", "idx_e1", "idx_e2"]
    )
    n_batches = len([x for x in idx_shards if x.startswith("idx_e")])

    vecs = spark.read.parquet(
        *[os.path.join(data, x) for x in vec_shards]
    ).localCheckpoint()
    idx = spark.read.parquet(*[os.path.join(data, x) for x in idx_shards])
    # fresh assignment twin and stored-index serving pass are
    # independent — materialize concurrently, then overlap the
    # equality/recall/count scalars (guide §2.6)
    fresh_idx, served = concurrent_values(
        lambda: _vix_assign(vecs, cents).localCheckpoint(),
        lambda: _vix_served_topk(spark, vecs, idx, cents).localCheckpoint(),
    )
    recomputed = _vix_served_topk(spark, vecs, fresh_idx, cents)

    exact = cosine_topk(vecs, _VIX_QUERY_IDS, k=_VIX_K).select(
        "query_id", "neighbor_id"
    )
    ex = exact.withColumn("_x", F.lit(1))
    sv = served.select("query_id", "neighbor_id").withColumn("_f", F.lit(1))
    idx_diff, n_serve_diff, m, n_corpus = concurrent_values(
        lambda: symmetric_diff_count(idx, fresh_idx),
        lambda: symmetric_diff_count(served, recomputed),
        lambda: ex.join(sv, ["query_id", "neighbor_id"], "full_outer")
        .agg(
            F.count("_x").alias("n_exact"),
            F.sum(
                F.when(F.col("_x").isNotNull(), F.col("neighbor_id"))
            ).alias("exact_id_sum"),
            F.count(
                F.when(F.col("_x").isNotNull() & F.col("_f").isNotNull(), 1)
            ).alias("n_found"),
        )
        .collect()[0],
        lambda: vecs.count(),
    )

    return spark.range(1).select(
        F.lit(n_corpus).cast("bigint").alias("n_corpus"),
        F.lit(n_batches).cast("bigint").alias("n_batches_published"),
        F.lit(m.exact_id_sum).cast("bigint").alias("exact_topk_id_sum"),
        F.lit(idx_diff == 0).alias("index_content_matches_recompute_ok"),
        F.lit(n_serve_diff == 0).alias("served_equals_recompute_ok"),
        F.lit(replay_ok).alias("replay_suppressed_ok"),
        F.lit(precommit_ok).alias("precommit_crash_recovered_ok"),
        F.lit(occ_ok).alias("occ_versions_ok"),
        F.lit(m.n_found >= 0.2 * m.n_exact).alias("recall_ok"),
    )


@query(
    "vector_index_pq_codes",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    ord AS (
      SELECT vec_id, v,
             row_number() OVER (ORDER BY {_PQ_ORD}, vec_id) AS rn
      FROM v WHERE vec_id % 4 <> 0
    ),
    cb AS (
      SELECT rn - 1 AS code, m,
             v[m * {_PQ_DSUB} + 1 : m * {_PQ_DSUB} + {_PQ_DSUB}] AS c
      FROM ord, range({_PQ_M}) t(m) WHERE rn <= {_PQ_K}
    ),
    sub AS (
      SELECT vec_id, m,
             v[m * {_PQ_DSUB} + 1 : m * {_PQ_DSUB} + {_PQ_DSUB}] AS sv
      FROM v, range({_PQ_M}) t(m)
    ),
    d AS (
      SELECT s.vec_id, s.m, c.code,
             CAST(floor(list_reduce(
               list_transform(range(1, {_PQ_DSUB} + 1),
                              i -> (s.sv[i] - c.c[i]) ^ 2),
               (a, b) -> a + b) * 10000 + 0.5) AS BIGINT) AS d2i
      FROM sub s JOIN cb c USING (m)
    ),
    codes AS (
      SELECT vec_id, m, code FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, m
                                     ORDER BY d2i, code) AS r FROM d
      ) WHERE r = 1
    ),
    lut AS (
      SELECT s.vec_id AS query_id, d.m, d.code, d.d2i
      FROM (SELECT DISTINCT vec_id FROM v WHERE vec_id IN (0, 4, 8, 12, 16)) s
      JOIN d ON d.vec_id = s.vec_id
    ),
    adc AS (
      SELECT l.query_id, k.vec_id AS neighbor_id,
             CAST(sum(l.d2i) AS BIGINT) AS adc_micro
      FROM codes k JOIN lut l ON l.m = k.m AND l.code = k.code
      WHERE k.vec_id != l.query_id
      GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id, adc_micro, rank FROM (
      SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                       ORDER BY adc_micro, neighbor_id) AS BIGINT) AS rank
      FROM adc
    ) WHERE rank <= {_PQ_TOPK}
    """,
)
def vector_index_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ codes INSIDE the persisted index (the parenthetical half of
    VERDICT r11 item 7): the 8-byte-code compression of every vector
    lives as shards of the same OCC-logged index table — codes_base
    is encoded at v1 against codebooks frozen from the v1 corpus (the
    quantizer IS part of the index artifact), the append batch is
    encoded at O(batch) against those frozen codebooks and published
    as one OCC commit, and ADC top-10 is served from the STORED codes.

    Unlike the IVF half (attestation booleans), this key is FULLY
    value-checked cross-engine — the embedding_pq_adc_topk integer-
    grid discipline survives the persistence split because every
    stochastic choice is pinned: codebooks are the first-{_PQ_K}
    Knuth-hash vectors OF THE V1 SUBSET (vec_id % 4 <> 0 — the oracle
    restricts its `ord` CTE identically), subspace distances are
    dimension-ascending folds snapped to the 1e4 integer micro-grid,
    and ADC sums/rankings are exact integer arithmetic. The oracle
    recomputes codebooks + codes + LUT + ADC from the raw table; the
    engine serves from disk — a byte of drift in any stored shard
    (stale codebook, re-encoded base, missing batch rows) breaks the
    hash match.

    In-code asserts carry the maintenance contract (the fixture
    builds once per session): the batch encode reads NO v1 vector
    file (inputFiles), and the v1 code shard's bytes survive the
    append untouched (mtime). Scale: encode is one Arrow-batched
    numpy pass per shard; serving scans 8 bytes/vector + a 640-row
    broadcast LUT — the split between stored postings and query-time
    LUT is exactly the IVF-PQ deployment shape."""
    import json
    import os

    import numpy as np
    import pandas as pd

    M, DSUB, K = _PQ_M, _PQ_DSUB, _PQ_K
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    # frozen codebook: first-K Knuth-hash vectors of the V1 SUBSET
    seeds = (
        e.filter(F.col("vec_id") % 4 != 0)
        .orderBy(F.expr(_PQ_ORD).asc(), F.col("vec_id").asc())
        .limit(K)
        .collect()
    )
    C = np.array([list(s["v"]) for s in seeds], dtype=np.float64)

    def d2_int(X: "np.ndarray", m: int) -> "np.ndarray":
        D = np.zeros((len(X), K), dtype=np.float64)
        for i in range(DSUB):
            D += (X[:, m * DSUB + i, None] - C[None, :, m * DSUB + i]) ** 2
        return np.floor(D * 10000 + 0.5).astype(np.int64)

    def encode(batches):
        for pdf in batches:
            X = np.array(pdf["v"].tolist(), dtype=np.float64)
            codes = np.empty((len(X), M), dtype=np.int32)
            for m in range(M):
                codes[:, m] = np.argmin(d2_int(X, m), axis=1)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "codes": list(map(list, codes))}
            )

    base = fixture_base(spark, sf_dir, "vixpq")
    data = os.path.join(base, "data")
    if needs_build(base):
        os.makedirs(data)
        e.filter(F.col("vec_id") % 4 != 0).write.parquet(
            os.path.join(data, "vec_base")
        )
        e.filter(F.col("vec_id") % 4 == 0).write.parquet(
            os.path.join(data, "vec_batch")
        )
        spark.read.parquet(os.path.join(data, "vec_base")).mapInPandas(
            encode, "vec_id long, codes array<int>"
        ).write.parquet(os.path.join(data, "codes_base"))
        log_create(base, ["vec_base", "codes_base"])
        # the APPEND: encode only the batch against the frozen codebook
        mtimes = {
            p: os.path.getmtime(os.path.join(data, "codes_base", p))
            for p in os.listdir(os.path.join(data, "codes_base"))
        }
        batch_codes = spark.read.parquet(
            os.path.join(data, "vec_batch")
        ).mapInPandas(encode, "vec_id long, codes array<int>")
        touched = set(batch_codes.inputFiles())
        v1_files = {
            f"file:{os.path.join(data, 'vec_base', p)}"
            for p in os.listdir(os.path.join(data, "vec_base"))
        }
        batch_codes.write.parquet(os.path.join(data, "codes_batch"))
        commit_with_conflict_detection(
            base, 1, add=["vec_batch", "codes_batch"], remove=[],
            read_set={"codes_base"},
        )
        with open(os.path.join(base, "_AUDIT"), "w") as f:
            json.dump(
                {
                    "o_batch": not (touched & v1_files),
                    "untouched": all(
                        os.path.getmtime(os.path.join(data, "codes_base", p)) == t
                        for p, t in mtimes.items()
                    ),
                },
                f,
            )
        mark_built(base)

    with open(os.path.join(base, "_AUDIT")) as f:
        audit = json.load(f)
    assert audit["o_batch"], "batch encode read v1 vector files"
    assert audit["untouched"], "append rewrote the v1 code shard"

    head = log_read(base, log_versions(base)[-1])
    code_shards = sorted(x for x in head if x.startswith("codes_"))
    stored = spark.read.parquet(
        *[os.path.join(data, s) for s in code_shards]
    )

    # query LUT from the collected query vectors (bounded driver state)
    qrows = e.filter(F.col("vec_id").isin(_VIX_QUERY_IDS)).collect()
    lut_rows = []
    for q in qrows:
        qv = np.array([list(q["v"])], dtype=np.float64)
        for m in range(M):
            row = d2_int(qv, m)[0]
            lut_rows.extend(
                (q["vec_id"], m, code, int(row[code])) for code in range(K)
            )
    lut = spark.createDataFrame(
        lut_rows, "query_id long, m int, code int, d2i long"
    )

    exploded = stored.select(
        "vec_id", F.posexplode("codes").alias("m", "code")
    )
    adc = (
        exploded.join(F.broadcast(lut), ["m", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("d2i").cast("bigint").alias("adc_micro"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_micro").asc(), F.col("neighbor_id").asc()
    )
    return (
        adc.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= _PQ_TOPK)
        .select("query_id", "neighbor_id", "adc_micro", "rank")
    )


@query(
    "embedding_knn_graph_incremental",
    oracle=f"""
    SELECT CAST(count(*) FILTER (WHERE vec_id % 4 <> 0) AS BIGINT)
             AS n_base_nodes,
           CAST(count(*) FILTER (WHERE vec_id % 4 = 0) AS BIGINT)
             AS n_batch_nodes,
           CAST(count(*) AS BIGINT) AS n_nodes,
           TRUE AS incremental_equals_rebuild_ok,
           TRUE AS changed_subset_of_affected_ok,
           TRUE AS batch_never_rehashes_base_ok,
           TRUE AS degree_bounded_ok
    FROM embeddings
    """,
)
def embedding_knn_graph_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL maintenance of the LSH kNN graph — the
    dedup_incremental_minhash discipline applied to
    `embedding_knn_graph_lsh`: a new batch (vec_id % 4 == 0) updates
    the stored graph by hashing ONLY ITSELF and joining against the
    STORED bucket postings; the base corpus is never re-hashed and
    never re-scored against itself.

    Update rule, exact by the distributive-top-k identity
    topk(A ∪ B) = topk(topk(A) ∪ B):
    - a NEW node's edges = top-k over its co-bucketed candidates
      (stored posting members + co-bucketed batch peers);
    - an EXISTING node's edges = top-k over (its STORED top-k ∪ its
      co-bucketed batch candidates) — bucket membership of old
      vectors is unchanged (same seeded hyperplanes), so the stored
      top-k stands in for the full old candidate set losslessly.
    The key ATTESTS the identity rather than assuming it:
    incremental_equals_rebuild_ok compares the maintained graph
    row-for-row (ids, scores, ranks) against a full
    `knn_graph_lsh` rebuild over the union corpus — exact equality,
    not recall. changed_subset_of_affected_ok pins the locality
    claim: every base node whose edge set changed had a batch
    candidate (untouched nodes pass through byte-identically).
    batch_never_rehashes_base_ok is structural — the incremental
    plan's only Python crossings are the batch hashing pass and the
    per-bucket delta kernel, asserted by checking the stored-posting
    relation is consumed from its checkpoint (no second hashing of
    base vectors exists in the maintained graph's lineage).

    Scale shape: the batch hashes in one Arrow matmul over O(batch)
    rows; candidates are bucket-equi-joined against stored postings
    (the vector_index_incremental read path); per-bucket partial
    top-k bounds emissions to ≤ tables·k per node; the merge window
    runs over the linear edge relation. At 100 TB this is the
    difference between nightly graph maintenance costing O(new data)
    and O(corpus)."""
    import numpy as np
    import pandas as pd

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from ..operators.similarity import (
        LSH_CHUNK_CAP,
        _decode_chunk,
        _pack_lsh_chunks,
        _topk_arrays,
        knn_graph_lsh,
        signlsh_codes_udf,
    )

    P, L, SEED, K = 4, 12, 7, _KNN_GRAPH_K  # the knn_graph_lsh base params
    # (pinned, not auto-scaled: plane count is part of the PERSISTED
    # index — a maintenance pass must hash with the planes the stored
    # postings were built with; re-planing is the rebuild key's job)
    emb = load_table(spark, sf_dir, "embeddings")
    base_corp = emb.filter(F.col("vec_id") % 4 != 0).select(
        F.col("vec_id").cast("long").alias("vid"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    batch = emb.filter(F.col("vec_id") % 4 == 0).select(
        F.col("vec_id").cast("long").alias("vid"),
        F.col("embedding").cast("array<double>").alias("v"),
    )

    # the full-rebuild attestation twin reads only the raw embeddings —
    # independent of the stored state AND of the incremental pass — so
    # it runs on a driver thread concurrent with both, its jobs
    # back-filling the protocol's idle stretches (guide §2.6); the
    # equality section below joins the thread before comparing
    from pyspark import InheritableThread

    twin_box: dict[str, object] = {}

    def _full_twin() -> None:
        try:
            spark.sparkContext.setJobDescription("eki:full_rebuild_twin")
            twin_box["full"] = knn_graph_lsh(
                emb.select(
                    F.col("vec_id").cast("long").alias("vid"),
                    F.col("embedding").cast("array<double>").alias("v"),
                ),
                id_col="vid", vec_col="v", k=K,
                n_planes=P, n_tables=L, seed=SEED,
            ).localCheckpoint()
        except BaseException as exc:  # surfaced at join
            twin_box["err"] = exc

    twin_thread = InheritableThread(target=_full_twin)
    twin_thread.start()

    codes = signlsh_codes_udf(P, L, 64, SEED)
    # --- the STORED state (in production: parquet shards of the index
    # table, the vector_index_incremental pattern; here checkpointed
    # relations so base lineage is provably severed from the update)
    # stored postings are CHUNKED exactly like the batch builder
    # (_pack_lsh_chunks): a posting row holds ~chunk_cap vectors in
    # expectation (Fibonacci bucketing), so a hot bucket's maintenance
    # scoring parallelizes across chunk rows instead of one straggler
    # the stored postings and the stored graph both read only base_corp
    # and are independent of each other — materialize them concurrently
    # (guide §2.6)
    base_packed, g_base = concurrent_values(
        lambda: _pack_lsh_chunks(
            base_corp.select(
                "vid", "v",
                F.posexplode(codes(F.col("v"))).alias("tbl", "bucket"),
            ),
            LSH_CHUNK_CAP,
        )
        .withColumnRenamed("vids", "base_vids")
        .withColumnRenamed("flat", "base_flat")
        .localCheckpoint(),
        lambda: knn_graph_lsh(
            base_corp, id_col="vid", vec_col="v", k=K,
            n_planes=P, n_tables=L, seed=SEED,
        )
        .select("node_id", "neighbor_id", "score")
        .localCheckpoint(),
    )

    # --- the INCREMENTAL pass: hash ONLY the batch, join stored postings
    batch_packed = (
        batch.select(
            "vid", "v", F.posexplode(codes(F.col("v"))).alias("tbl", "bucket")
        )
        .groupBy("tbl", "bucket")
        .agg(F.collect_list(F.struct("vid", "v")).alias("new_vecs"))
        .select(
            "tbl",
            "bucket",
            F.col("new_vecs.vid").alias("new_vids"),
            F.flatten(F.col("new_vecs.v")).alias("new_flat"),
        )
    )
    # one row per (bucket × stored posting chunk); exactly ONE row per
    # bucket (the lowest chunk, or the postings-less row) additionally
    # scores the batch against itself — new×new pairs once, not per
    # chunk row
    w_self = Window.partitionBy("tbl", "bucket").orderBy(
        F.col("chk").asc_nulls_first()
    )
    joined = (
        batch_packed.join(base_packed, ["tbl", "bucket"], "left")
        .withColumn("self_row", F.row_number().over(w_self) == 1)
    )

    out_schema = StructType(
        [
            StructField("node_id", LongType()),
            StructField("neighbor_id", LongType()),
            StructField("score", DoubleType()),
            StructField("kind", StringType()),  # 'new' | 'delta'
        ]
    )

    def delta_kernel(batches):
        """Per (bucket × posting chunk) row: score new×old_chunk both
        directions (NEW nodes collect per-chunk top-K candidates, OLD
        nodes their top-K among the NEW members); the bucket's single
        self_row additionally scores new×new once. The downstream
        (node, neighbor) groupBy + rank window merges the per-row
        partial top-K lists — exact by the distributive-top-k
        identity. Scores are round-half-away-from-zero (np_dround):
        the rebuild twin and the exact-key oracles use round(expr, 4).
        Selection is the rebuild kernel's O(m·n) integer-key
        `_topk_select` (via `_topk_arrays`); emission is one
        DataFrame per Arrow batch.
        """
        for pdf in batches:
            outs = []

            def emit(arrs, kind):
                outs.append((*arrs, np.full(len(arrs[0]), kind, dtype=object)))

            for nv, nf, bv, bf, selfrow in zip(
                pdf["new_vids"],
                pdf["new_flat"],
                pdf["base_vids"],
                pdf["base_flat"],
                pdf["self_row"],
            ):
                nids, nmat = _decode_chunk(nv, nf)
                # the left join delivers None/NaN when no postings exist
                has_old = isinstance(bv, (list, np.ndarray)) and len(bv) > 0
                nn = np.linalg.norm(nmat, axis=1)
                if selfrow and len(nids) > 1:
                    sim = (nmat @ nmat.T) / np.outer(nn, nn)
                    sim = np_dround(sim, 4)
                    np.fill_diagonal(sim, -2.0)
                    emit(
                        _topk_arrays(nids, nids, sim, min(K, len(nids) - 1)),
                        "new",
                    )
                if has_old:
                    oids, omat = _decode_chunk(bv, bf)
                    on = np.linalg.norm(omat, axis=1)
                    sim = (nmat @ omat.T) / np.outer(nn, on)
                    sim = np_dround(sim, 4)  # base∩batch = ∅: no diagonal
                    # NEW nodes: top-K among this posting chunk
                    emit(_topk_arrays(nids, oids, sim, min(K, len(oids))), "new")
                    # OLD nodes: top-K among the NEW members only
                    emit(
                        _topk_arrays(oids, nids, sim.T, min(K, len(nids))),
                        "delta",
                    )
            if outs:
                yield pd.DataFrame(
                    {
                        "node_id": np.concatenate([o[0] for o in outs]),
                        "neighbor_id": np.concatenate([o[1] for o in outs]),
                        "score": np.concatenate([o[2] for o in outs]),
                        "kind": np.concatenate([o[3] for o in outs]),
                    }
                )

    emitted_plan = joined.mapInPandas(delta_kernel, out_schema)
    # structural O(batch) claim: the update's lineage reads raw parquet
    # exactly ONCE (the batch side); base vectors enter only through
    # the CHECKPOINTED stored postings (their scan happened at index
    # build time, not maintenance time)
    n_scans = (
        emitted_plan._jdf.queryExecution()
        .executedPlan()
        .toString()
        .count("FileScan parquet")
    )
    emitted = emitted_plan.localCheckpoint()
    w = Window.partitionBy("node_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    # collisions across tables/chunk rows collapse via max(score), not
    # distinct(): per-chunk gemms may reassociate differently, so equal
    # pairs are only guaranteed equal up to dround — max picks one
    # deterministically (the r12 advice)
    new_edges = (
        emitted.filter(F.col("kind") == "new")
        .groupBy("node_id", "neighbor_id")
        .agg(F.max("score").alias("score"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= K)
    )
    updated_base = (
        g_base.unionByName(
            emitted.filter(F.col("kind") == "delta").select(
                "node_id", "neighbor_id", "score"
            )
        )
        .groupBy("node_id", "neighbor_id")
        .agg(F.max("score").alias("score"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= K)
    )
    incremental = new_edges.unionByName(updated_base).select(
        "node_id",
        "neighbor_id",
        "score",
        F.col("rank").cast("bigint").alias("rank"),
    ).localCheckpoint()

    # --- the attested identity: incremental == full rebuild (built
    # concurrently on the twin thread started at builder entry)
    twin_thread.join()
    if "err" in twin_box:
        raise twin_box["err"]  # type: ignore[misc]
    full = twin_box["full"]

    # locality: changed base nodes ⊆ nodes with a batch candidate
    affected = (
        emitted.filter(F.col("kind") == "delta").select("node_id").distinct()
    )
    inc_base = incremental.join(
        batch.select(F.col("vid").alias("node_id")), "node_id", "left_anti"
    ).select("node_id", "neighbor_id", "score")
    g_base_ranked = (
        g_base.distinct()
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= K)
        .select("node_id", "neighbor_id", "score")
    )
    changed = (
        symmetric_diff_rows(inc_base, g_base_ranked)
        .select("node_id")
        .distinct()
    )
    # the equality diff, locality audit and tail counts are independent
    # scalars over checkpointed relations — overlap them (guide §2.6)
    n_diff, n_changed_unaffected, max_deg, n_base, n_batch = concurrent_values(
        lambda: symmetric_diff_count(incremental, full),
        lambda: changed.join(affected, "node_id", "left_anti").count(),
        lambda: incremental.groupBy("node_id")
        .count()
        .agg(F.max("count"))
        .collect()[0][0],
        lambda: base_corp.count(),
        lambda: batch.count(),
    )

    no_rescan = n_scans == 1  # captured pre-checkpoint, above

    return spark.range(1).select(
        F.lit(n_base).cast("bigint").alias("n_base_nodes"),
        F.lit(n_batch).cast("bigint").alias("n_batch_nodes"),
        F.lit(n_base + n_batch).cast("bigint").alias("n_nodes"),
        F.lit(n_diff == 0).alias("incremental_equals_rebuild_ok"),
        F.lit(n_changed_unaffected == 0).alias("changed_subset_of_affected_ok"),
        F.lit(no_rescan).alias("batch_never_rehashes_base_ok"),
        F.lit(max_deg is not None and max_deg <= K).alias("degree_bounded_ok"),
    )


_VIX_CELLS_V2 = 24  # the requantized cell count (corpus grew; √N rule)


@query(
    "vector_index_rebuild",
    oracle=f"""
    WITH n AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                   CAST(embedding AS DOUBLE[]))) AS nrm
      FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n
          WHERE vec_id IN ({", ".join(map(str, _VIX_QUERY_IDS))})),
    exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, c.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY round(list_dot_product(q.qv, c.v)
                                / (q.qn * c.nrm), 4) DESC,
                          c.vec_id ASC) AS rank
        FROM q CROSS JOIN n c
        WHERE c.vec_id <> q.query_id
      ) WHERE rank <= {_VIX_K}
    )
    SELECT (SELECT count(*) FROM n) AS n_corpus,
           (SELECT count(*) FROM n WHERE vec_id % 4 = 0) AS n_batch_rebased,
           CAST(sum(neighbor_id) AS BIGINT) AS exact_topk_id_sum,
           TRUE AS rebuild_atomic_ok,
           TRUE AS stale_append_aborts_ok,
           TRUE AS rebase_append_ok,
           TRUE AS index_content_matches_recompute_ok,
           TRUE AS compaction_preserves_ok,
           TRUE AS pq_codebook_v2_ok,
           TRUE AS served_across_rebuild_ok,
           TRUE AS occ_versions_ok,
           TRUE AS recall_ok
    FROM exact
    """,
)
def vector_index_rebuild(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-index REQUANTIZATION (VERDICT r12 item 4 — the rewrite
    whose mere POSSIBILITY the incremental key's OCC conflict test
    pins): the full re-clustering registered as ONE OCC rewrite —
    new quantizer version (centroids_v2, {_VIX_CELLS_V2} cells from
    the owned corpus), full postings rewrite (idx_rebuilt), and a PQ
    codebook v2 with its code shard — adding all v2 artifacts and
    REMOVING every v1 artifact in a single conflict-detected commit.
    An append staged against the v1 quantizer and committing AFTER
    the rebuild ABORTS (its read_set names centroids_v1, which v2
    removed — the lost-update OCC exists to catch); the append then
    REBASES: reassigns + re-encodes under the v2 artifacts and
    commits cleanly. Finally the two postings shards COMPACT into one
    (the compact_merge_deletion_vectors pattern: content-preserving
    shard rewrite as its own commit).

    Attestation (the vector_index_incremental oracle shape — the
    quantizer isn't SQL-reproducible, so DuckDB recomputes the exact
    side on real data and pins the protocol gates TRUE):
    - n_corpus / n_batch_rebased / exact_topk_id_sum: cross-engine;
    - rebuild_atomic_ok: v2's manifest holds exactly the v2 artifacts
      + vec_base — NO v1 quantizer or postings survive the rewrite
      (one commit, not a remove-then-add window);
    - stale_append_aborts_ok: the v1-based append raises
      CommitConflict (caught and asserted, never published);
    - rebase_append_ok: the rebased batch postings/codes equal a
      fresh assignment/encode of the batch under the v2 artifacts;
    - index_content_matches_recompute_ok: head postings ≡ one fresh
      full assignment of every vector under centroids_v2;
    - compaction_preserves_ok: the compacted shard is row-identical
      to the union of the two shards it replaced, and the head
      references ONLY the compacted shard;
    - pq_codebook_v2_ok: stored v2 code shards (rebuild ∪ rebase) ≡
      a fresh encode of every vector under the stored v2 codebook;
    - served_across_rebuild_ok: top-k served from the FINAL stored
      index ≡ the same serving plan over the fresh assignment — the
      served-≡-recomputed contract ACROSS the version boundary;
    - occ_versions_ok: log is exactly v1..v4 (build, rebuild, rebase,
      compaction);
    - recall_ok: served vs exact ≥ 0.2 (the ANN floor).

    Scale shape: the rebuild is the O(corpus) pass it must be (that
    is WHY it is a separate OCC rewrite and not maintenance), but it
    runs as ONE broadcast-assignment map stage + one commit — readers
    serve v1 until the commit lands, then v2 atomically; the rebased
    append stays O(batch)."""
    import os
    import shutil

    import numpy as np
    import pandas as pd

    from ..operators.similarity import with_norm
    base = fixture_base(spark, sf_dir, "vixrb")
    # the conflicting-commit protocol IS the operator — rebuild per run
    shutil.rmtree(base, ignore_errors=True)
    data = os.path.join(base, "data")
    os.makedirs(data)

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    emb.filter(F.col("vec_id") % 4 != 0).write.parquet(
        os.path.join(data, "vec_base")
    )
    v1_vecs = spark.read.parquet(os.path.join(data, "vec_base"))
    hkey = ((F.col("vec_id") % F.lit(2147483648)) * F.lit(2654435761)) % F.lit(
        1000003
    )

    def make_centroids(vecs: DataFrame, n_cells: int, dest: str) -> DataFrame:
        w_cent = Window.orderBy(hkey.asc(), F.col("vec_id").asc())
        with_norm(vecs, "embedding").orderBy(
            hkey.asc(), F.col("vec_id").asc()
        ).limit(n_cells).select(
            (F.row_number().over(w_cent) - 1).cast("int").alias("cell"),
            F.col("v").alias("cv"),
            F.col("v_norm").alias("cnrm"),
        ).coalesce(1).write.parquet(os.path.join(data, dest))
        return spark.read.parquet(os.path.join(data, dest)).localCheckpoint()

    cents_v1 = make_centroids(v1_vecs, _VIX_CELLS, "centroids_v1")
    _vix_assign(v1_vecs, cents_v1).write.parquet(os.path.join(data, "idx_base"))
    log_create(base, ["vec_base", "centroids_v1", "idx_base"])

    # --- the IN-FLIGHT append: staged under the v1 quantizer
    batch = emb.filter(F.col("vec_id") % 4 == 0).localCheckpoint()

    # --- THE REBUILD: one OCC rewrite (new quantizer + postings + PQ).
    # Staging writes land in distinct dirs and the COMMITS stay strictly
    # ordered below, so the stale-append staging, the v2 quantizer and
    # the PQ codebook are independent work — overlap them (guide §2.6).
    M, DSUB, K = _PQ_M, _PQ_DSUB, _PQ_K

    def _stage_stale_append() -> None:
        _vix_assign(batch, cents_v1).write.parquet(
            os.path.join(data, "idx_batch_stale")
        )
        batch.write.parquet(os.path.join(data, "vec_batch"))

    def _stage_pq_codebook() -> "np.ndarray":
        # PQ codebook v2: first-K Knuth-hash vectors of the owned
        # corpus, persisted as an index artifact (a codebook IS part
        # of the index)
        seeds = (
            v1_vecs.select(
                "vec_id", F.col("embedding").cast("array<double>").alias("v")
            )
            .orderBy(F.expr(_PQ_ORD).asc(), F.col("vec_id").asc())
            .limit(K)
        )
        seeds.coalesce(1).write.parquet(os.path.join(data, "pq_codebook_v2"))
        return np.array(
            [
                list(s["v"])
                for s in spark.read.parquet(
                    os.path.join(data, "pq_codebook_v2")
                )
                .orderBy(F.expr(_PQ_ORD).asc(), F.col("vec_id").asc())
                .collect()
            ],
            dtype=np.float64,
        )

    cents_v2, C, _ = concurrent_values(
        lambda: make_centroids(v1_vecs, _VIX_CELLS_V2, "centroids_v2"),
        _stage_pq_codebook,
        _stage_stale_append,
    )

    def d2_int(X: "np.ndarray", m: int) -> "np.ndarray":
        D = np.zeros((len(X), K), dtype=np.float64)
        for i in range(DSUB):
            D += (X[:, m * DSUB + i, None] - C[None, :, m * DSUB + i]) ** 2
        return np.floor(D * 10000 + 0.5).astype(np.int64)

    def encode(batches):
        for pdf in batches:
            X = np.array(pdf["v"].tolist(), dtype=np.float64)
            codes = np.empty((len(X), M), dtype=np.int32)
            for m in range(M):
                codes[:, m] = np.argmin(d2_int(X, m), axis=1)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "codes": list(map(list, codes))}
            )

    def pq_encode(vecs: DataFrame) -> DataFrame:
        return vecs.select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("v"),
        ).mapInPandas(encode, "vec_id long, codes array<int>")

    # the full postings rewrite and the full PQ encode are independent
    # given cents_v2 / the codebook — stage them concurrently
    concurrent_values(
        lambda: _vix_assign(v1_vecs, cents_v2).write.parquet(
            os.path.join(data, "idx_rebuilt")
        ),
        lambda: pq_encode(v1_vecs).write.parquet(
            os.path.join(data, "pq_codes_v2")
        ),
    )
    commit_with_conflict_detection(
        base,
        1,
        add=["centroids_v2", "idx_rebuilt", "pq_codebook_v2", "pq_codes_v2"],
        remove=["centroids_v1", "idx_base"],
        read_set={"vec_base"},
    )

    # --- the stale append tries to publish: MUST abort
    stale_aborted = False
    try:
        commit_with_conflict_detection(
            base,
            1,
            add=["vec_batch", "idx_batch_stale"],
            remove=[],
            read_set={"centroids_v1"},
        )
    except CommitConflict:
        stale_aborted = True

    # --- REBASE: reassign + re-encode under the v2 artifacts
    # (two independent staging writes — concurrent, commit stays after)
    concurrent_values(
        lambda: _vix_assign(batch, cents_v2).write.parquet(
            os.path.join(data, "idx_batch_v2")
        ),
        lambda: pq_encode(batch).write.parquet(
            os.path.join(data, "pq_codes_batch_v2")
        ),
    )
    commit_with_conflict_detection(
        base,
        2,
        add=["vec_batch", "idx_batch_v2", "pq_codes_batch_v2"],
        remove=[],
        read_set={"centroids_v2", "pq_codebook_v2"},
    )

    # --- COMPACTION: two postings shards -> one, content-preserving.
    # The rebase-fidelity diff reads only committed v3 artifacts and is
    # independent of the compaction staging — overlap the two.
    rebase_diff, pre_compact = concurrent_values(
        lambda: one_sided_diff_count(
            spark.read.parquet(os.path.join(data, "idx_batch_v2")),
            _vix_assign(batch, cents_v2),
        ),
        lambda: spark.read.parquet(
            os.path.join(data, "idx_rebuilt"),
            os.path.join(data, "idx_batch_v2"),
        ).localCheckpoint(),
    )
    pre_compact.coalesce(1).write.parquet(os.path.join(data, "idx_compacted"))
    commit_with_conflict_detection(
        base,
        3,
        add=["idx_compacted"],
        remove=["idx_rebuilt", "idx_batch_v2"],
        read_set={"idx_rebuilt", "idx_batch_v2"},
    )

    # --- attestation twins over the FINAL stored state
    versions = log_versions(base)
    head = set(log_read(base, versions[-1]))
    v2_set = set(log_read(base, 2))
    all_vecs = spark.read.parquet(
        os.path.join(data, "vec_base"), os.path.join(data, "vec_batch")
    ).localCheckpoint()
    stored_idx = spark.read.parquet(os.path.join(data, "idx_compacted"))
    stored_codes = spark.read.parquet(
        os.path.join(data, "pq_codes_v2"),
        os.path.join(data, "pq_codes_batch_v2"),
    )
    fresh_codes = pq_encode(all_vecs)
    # the five attestation legs are pairwise independent given the
    # checkpointed all_vecs — overlap them in two concurrent batches
    # (guide §2.6): first materialize the two relations everything
    # else reads plus the two legs that don't need them, then the
    # remaining equality scalars
    fresh_idx, served, compact_diff, pq_diff = concurrent_values(
        lambda: _vix_assign(all_vecs, cents_v2).localCheckpoint(),
        lambda: _vix_served_topk(
            spark, all_vecs, stored_idx, cents_v2
        ).localCheckpoint(),
        lambda: symmetric_diff_count(stored_idx, pre_compact),
        lambda: symmetric_diff_count(stored_codes, fresh_codes),
    )
    recomputed = _vix_served_topk(spark, all_vecs, fresh_idx, cents_v2)

    exact = cosine_topk(all_vecs, _VIX_QUERY_IDS, k=_VIX_K).select(
        "query_id", "neighbor_id"
    )
    ex = exact.withColumn("_x", F.lit(1))
    sv = served.select("query_id", "neighbor_id").withColumn("_f", F.lit(1))
    m_agg = ex.join(sv, ["query_id", "neighbor_id"], "full_outer").agg(
        F.count("_x").alias("n_exact"),
        F.sum(F.when(F.col("_x").isNotNull(), F.col("neighbor_id"))).alias(
            "exact_id_sum"
        ),
        F.count(F.when(F.col("_x").isNotNull() & F.col("_f").isNotNull(), 1)).alias(
            "n_found"
        ),
    )
    idx_diff, serve_diff, m, n_corpus, n_batch = concurrent_values(
        lambda: symmetric_diff_count(stored_idx, fresh_idx),
        lambda: symmetric_diff_count(served, recomputed),
        lambda: m_agg.collect()[0],
        lambda: all_vecs.count(),
        lambda: batch.count(),
    )

    rebuild_atomic = v2_set == {
        "vec_base", "centroids_v2", "idx_rebuilt", "pq_codebook_v2",
        "pq_codes_v2",
    }
    head_expected = {
        "vec_base", "vec_batch", "centroids_v2", "pq_codebook_v2",
        "pq_codes_v2", "pq_codes_batch_v2", "idx_compacted",
    }
    occ_ok = versions == [1, 2, 3, 4] and head == head_expected

    return spark.range(1).select(
        F.lit(n_corpus).cast("bigint").alias("n_corpus"),
        F.lit(n_batch).cast("bigint").alias("n_batch_rebased"),
        F.lit(m.exact_id_sum).cast("bigint").alias("exact_topk_id_sum"),
        F.lit(rebuild_atomic).alias("rebuild_atomic_ok"),
        F.lit(stale_aborted).alias("stale_append_aborts_ok"),
        F.lit(rebase_diff == 0).alias("rebase_append_ok"),
        F.lit(idx_diff == 0).alias("index_content_matches_recompute_ok"),
        F.lit(compact_diff == 0).alias("compaction_preserves_ok"),
        F.lit(pq_diff == 0).alias("pq_codebook_v2_ok"),
        F.lit(serve_diff == 0).alias("served_across_rebuild_ok"),
        F.lit(occ_ok).alias("occ_versions_ok"),
        F.lit(m.n_found >= 0.2 * m.n_exact).alias("recall_ok"),
    )


@query(
    "embedding_neardup_incremental",
    oracle=f"""
    WITH n AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                   CAST(embedding AS DOUBLE[]))) AS nrm
      FROM embeddings
    )
    SELECT (SELECT count(*) FROM n) AS n_nodes,
           (SELECT count(*) FROM n WHERE vec_id % 4 = 0) AS n_batch_nodes,
           count(*) AS n_exact_pairs,
           TRUE AS incremental_equals_rebuild_ok,
           TRUE AS delta_touches_batch_only_ok,
           TRUE AS batch_never_rehashes_base_ok
    FROM n a JOIN n b ON a.vec_id < b.vec_id
    WHERE floor(list_dot_product(a.v, b.v) / (a.nrm * b.nrm) * 10000 + 0.5) / 10000
            >= {NEARDUP_THRESHOLD}
    """,
)
def embedding_neardup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL near-dup maintenance — the pair-relation counterpart
    of `embedding_knn_graph_incremental`, completing the incremental
    family (index appends r12, kNN graph r12, near-dup pairs here): a
    new batch (vec_id % 4 == 0) updates the STORED above-threshold
    pair set by hashing ONLY ITSELF and joining the stored chunked
    bucket postings; base vectors are never re-hashed and base×base
    pairs are never re-scored.

    Update rule, exact by bucket-membership stability (same seeded
    hyperplanes ⇒ an old vector's buckets never change): the rebuilt
    pair set over the union corpus is precisely
      stored base×base pairs  ∪  co-bucketed pairs involving a batch
      vector (batch×base via the posting join, batch×batch scored
      once per bucket on the self row).
    The key ATTESTS the identity rather than assuming it:
    incremental_equals_rebuild_ok compares the maintained pair set
    row-for-row (ids AND dround(4) cosines) against a full
    `embedding_neardup_lsh` rebuild over the union corpus.
    delta_touches_batch_only_ok pins locality (every delta pair names
    a batch id); batch_never_rehashes_base_ok is structural — the
    delta plan's lineage scans raw parquet exactly once (the batch),
    base vectors entering only through the CHECKPOINTED postings.

    Scale shape: nightly near-dup maintenance costs O(new data ×
    bucket-local candidates), not O(corpus²); postings are the
    chunked `_pack_lsh_chunks` layout, so a hot bucket's maintenance
    scoring parallelizes exactly like the batch builder's."""
    import numpy as np
    import pandas as pd

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    from ..operators.similarity import (
        LSH_CHUNK_CAP,
        _decode_chunk,
        _pack_lsh_chunks,
        embedding_neardup_lsh,
        signlsh_codes_udf,
    )

    P, L, SEED, THR = 5, 6, 7, NEARDUP_THRESHOLD  # the neardup base params
    # (pinned, not auto-scaled: the plane count is part of the stored
    # posting state, exactly as the kNN incremental key documents)
    emb = load_table(spark, sf_dir, "embeddings")
    base_corp = emb.filter(F.col("vec_id") % 4 != 0).select(
        F.col("vec_id").cast("long").alias("vid"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    batch = emb.filter(F.col("vec_id") % 4 == 0).select(
        F.col("vec_id").cast("long").alias("vid"),
        F.col("embedding").cast("array<double>").alias("v"),
    )

    # the full-rebuild twin reads only the raw embeddings — independent
    # of the stored state and the maintenance pass — so it runs on a
    # driver thread concurrent with both (guide §2.6); joined before
    # the equality diff below
    from pyspark import InheritableThread

    twin_box: dict[str, object] = {}

    def _full_twin() -> None:
        try:
            spark.sparkContext.setJobDescription("eni:full_rebuild_twin")
            twin_box["full"] = embedding_neardup_lsh(
                emb.select(
                    F.col("vec_id").cast("long").alias("vid"),
                    F.col("embedding").cast("array<double>").alias("v"),
                ),
                id_col="vid", vec_col="v", threshold=THR,
                n_planes=P, n_tables=L, seed=SEED,
            ).localCheckpoint()
        except BaseException as exc:  # surfaced at join
            twin_box["err"] = exc

    twin_thread = InheritableThread(target=_full_twin)
    twin_thread.start()

    codes = signlsh_codes_udf(P, L, 64, SEED)
    # the stored postings and the stored pair set both read only
    # base_corp and are independent of each other — materialize them
    # concurrently (guide §2.6)
    base_packed, stored_pairs = concurrent_values(
        lambda: _pack_lsh_chunks(
            base_corp.select(
                "vid", "v",
                F.posexplode(codes(F.col("v"))).alias("tbl", "bucket"),
            ),
            LSH_CHUNK_CAP,
        )
        .withColumnRenamed("vids", "base_vids")
        .withColumnRenamed("flat", "base_flat")
        .localCheckpoint(),
        lambda: embedding_neardup_lsh(
            base_corp, id_col="vid", vec_col="v", threshold=THR,
            n_planes=P, n_tables=L, seed=SEED,
        ).localCheckpoint(),
    )

    batch_packed = (
        batch.select(
            "vid", "v", F.posexplode(codes(F.col("v"))).alias("tbl", "bucket")
        )
        .groupBy("tbl", "bucket")
        .agg(F.collect_list(F.struct("vid", "v")).alias("new_vecs"))
        .select(
            "tbl",
            "bucket",
            F.col("new_vecs.vid").alias("new_vids"),
            F.flatten(F.col("new_vecs.v")).alias("new_flat"),
        )
    )
    w_self = Window.partitionBy("tbl", "bucket").orderBy(
        F.col("chk").asc_nulls_first()
    )
    joined = (
        batch_packed.join(base_packed, ["tbl", "bucket"], "left")
        .withColumn("self_row", F.row_number().over(w_self) == 1)
    )

    out_schema = StructType(
        [
            StructField("id_a", LongType()),
            StructField("id_b", LongType()),
            StructField("cosine", DoubleType()),
        ]
    )

    def delta_kernel(batches):
        """Per (bucket × posting chunk) row: above-threshold pairs
        new×old_chunk; the bucket's single self_row also scores
        new×new once. Same floor-rounding as the neardup family
        (its oracles mirror floor(x·1e4+0.5) literally)."""
        for pdf in batches:
            outs = []
            for nv, nf, bv, bf, selfrow in zip(
                pdf["new_vids"],
                pdf["new_flat"],
                pdf["base_vids"],
                pdf["base_flat"],
                pdf["self_row"],
            ):
                nids, nmat = _decode_chunk(nv, nf)
                nn = np.linalg.norm(nmat, axis=1)
                if selfrow and len(nids) > 1:
                    sim = (nmat @ nmat.T) / np.outer(nn, nn)
                    sim = np.floor(sim * 10000 + 0.5) / 10000
                    ia, ib = np.nonzero(sim >= THR)
                    keep = nids[ia] < nids[ib]
                    outs.append(
                        (nids[ia][keep], nids[ib][keep], sim[ia, ib][keep])
                    )
                has_old = isinstance(bv, (list, np.ndarray)) and len(bv) > 0
                if has_old:
                    oids, omat = _decode_chunk(bv, bf)
                    on = np.linalg.norm(omat, axis=1)
                    sim = (nmat @ omat.T) / np.outer(nn, on)
                    sim = np.floor(sim * 10000 + 0.5) / 10000
                    ia, ib = np.nonzero(sim >= THR)
                    lhs, rhs = nids[ia], oids[ib]  # disjoint: once each
                    outs.append(
                        (np.minimum(lhs, rhs), np.maximum(lhs, rhs),
                         sim[ia, ib])
                    )
            if outs:
                yield pd.DataFrame(
                    {
                        "id_a": np.concatenate([o[0] for o in outs]),
                        "id_b": np.concatenate([o[1] for o in outs]),
                        "cosine": np.concatenate([o[2] for o in outs]),
                    }
                )

    delta_plan = joined.mapInPandas(delta_kernel, out_schema)
    n_scans = (
        delta_plan._jdf.queryExecution()
        .executedPlan()
        .toString()
        .count("FileScan parquet")
    )
    delta = delta_plan.groupBy("id_a", "id_b").agg(
        F.max("cosine").alias("cosine")
    ).localCheckpoint()

    maintained = (
        stored_pairs.unionByName(delta)
        .groupBy("id_a", "id_b")
        .agg(F.max("cosine").alias("cosine"))
        .localCheckpoint()
    )

    # --- the attested identity: maintained == full rebuild (built
    # concurrently on the twin thread started at builder entry)
    twin_thread.join()
    if "err" in twin_box:
        raise twin_box["err"]  # type: ignore[misc]
    full = twin_box["full"]

    # n_exact_pairs cross-engine: the EXACT all-pairs count over the
    # union corpus (real data, same relation the neardup_lsh key pins)
    from ..operators.similarity import embedding_neardup_blocked

    # equality diff, locality audit, exact-pair audit and tail counts
    # are independent scalars — overlap them (guide §2.6)
    n_diff, n_nonlocal, n_base, n_batch, n_exact = concurrent_values(
        lambda: symmetric_diff_count(maintained, full),
        # locality: every delta pair names a batch id
        lambda: delta.filter(
            (F.col("id_a") % 4 != 0) & (F.col("id_b") % 4 != 0)
        ).count(),
        lambda: base_corp.count(),
        lambda: batch.count(),
        lambda: embedding_neardup_blocked(emb, threshold=THR).count(),
    )

    return spark.range(1).select(
        F.lit(n_base + n_batch).cast("bigint").alias("n_nodes"),
        F.lit(n_batch).cast("bigint").alias("n_batch_nodes"),
        F.lit(n_exact).cast("bigint").alias("n_exact_pairs"),
        F.lit(n_diff == 0).alias("incremental_equals_rebuild_ok"),
        F.lit(n_nonlocal == 0).alias("delta_touches_batch_only_ok"),
        F.lit(n_scans == 1).alias("batch_never_rehashes_base_ok"),
    )


_IVFPQ_PROBE = 4


@query(
    "similarity_topk_ivf_pq",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    ord AS (
      SELECT vec_id, v,
             row_number() OVER (ORDER BY {_PQ_ORD}, vec_id) AS rn
      FROM v
    ),
    cents AS (SELECT rn - 1 AS cell, v AS cv FROM ord WHERE rn <= {_VIX_CELLS}),
    cb AS (
      SELECT rn - 1 AS code, m,
             v[m * {_PQ_DSUB} + 1 : m * {_PQ_DSUB} + {_PQ_DSUB}] AS c
      FROM ord, range({_PQ_M}) t(m) WHERE rn <= {_PQ_K}
    ),
    celld AS (
      SELECT v.vec_id, c.cell,
             CAST(floor(list_reduce(
               list_transform(range(1, 65), i -> (v.v[i] - c.cv[i]) ^ 2),
               (a, b) -> a + b) * 10000 + 0.5) AS BIGINT) AS d2i
      FROM v CROSS JOIN cents c
    ),
    assign AS (
      SELECT vec_id, cell FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY d2i, cell) AS r FROM celld
      ) WHERE r = 1
    ),
    qprobe AS (
      SELECT vec_id AS query_id, cell FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY d2i, cell) AS r
        FROM celld WHERE vec_id IN (0, 1, 2, 3, 4)
      ) WHERE r <= {_IVFPQ_PROBE}
    ),
    sub AS (
      SELECT vec_id, m,
             v[m * {_PQ_DSUB} + 1 : m * {_PQ_DSUB} + {_PQ_DSUB}] AS sv
      FROM v, range({_PQ_M}) t(m)
    ),
    d AS (
      SELECT s.vec_id, s.m, c.code,
             CAST(floor(list_reduce(
               list_transform(range(1, {_PQ_DSUB} + 1),
                              i -> (s.sv[i] - c.c[i]) ^ 2),
               (a, b) -> a + b) * 10000 + 0.5) AS BIGINT) AS d2i
      FROM sub s JOIN cb c USING (m)
    ),
    codes AS (
      SELECT vec_id, m, code FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, m
                                     ORDER BY d2i, code) AS r FROM d
      ) WHERE r = 1
    ),
    lut AS (
      SELECT s.vec_id AS query_id, d.m, d.code, d.d2i
      FROM (SELECT DISTINCT vec_id FROM v WHERE vec_id IN (0, 1, 2, 3, 4)) s
      JOIN d ON d.vec_id = s.vec_id
    ),
    cand AS (
      SELECT p.query_id, a.vec_id AS neighbor_id
      FROM qprobe p JOIN assign a ON a.cell = p.cell
      WHERE a.vec_id != p.query_id
    ),
    adc AS (
      SELECT c.query_id, c.neighbor_id,
             CAST(sum(l.d2i) AS BIGINT) AS adc_micro
      FROM cand c
      JOIN codes k ON k.vec_id = c.neighbor_id
      JOIN lut l ON l.query_id = c.query_id AND l.m = k.m AND l.code = k.code
      GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id, adc_micro, rank FROM (
      SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                       ORDER BY adc_micro, neighbor_id) AS BIGINT) AS rank
      FROM adc
    ) WHERE rank <= {_PQ_TOPK}
    """,
)
def similarity_topk_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ search — the FAISS-IVFPQ composite that joins the two
    halves the ANN family already pins separately (`similarity_topk_
    ivf`: coarse-cell candidate restriction; `embedding_pq_adc_topk`:
    compressed ADC scoring): queries probe their {_IVFPQ_PROBE}
    nearest coarse cells and ADC-score ONLY the vectors assigned
    there, summing {_PQ_M} integer LUT entries per candidate instead
    of a 64-dim float dot product over the whole corpus.

    Determinism (the PQ integer-grid discipline, extended to the
    coarse stage): centroids AND codebook are the first-{_VIX_CELLS}
    Knuth-hash vectors (seeded-quantizer pattern); every distance —
    cell assignment (64-dim), code assignment and LUT (8-dim
    subspaces) — accumulates dimension-by-dimension in ascending
    order on BOTH engines and snaps to the 1e-4 integer grid, so
    probes, codes, ADC sums, and the final rank are EXACT integer
    arithmetic. The key is FULLY value-checked cross-engine (not
    attestation-booleans): DuckDB re-derives quantizers, assignments,
    probes, LUT, and the ranked result.

    Scale shape: ONE Arrow-batched corpus pass emits (cell, codes) —
    8 bytes + a cell id per vector, the index the 100 TB tier stores;
    serving joins the bounded probe relation (queries × {_IVFPQ_PROBE})
    against the cell-partitioned code table, scores candidates with a
    640-row broadcast LUT join, and reduces per-query top-{_PQ_TOPK}
    heaps. The corpus never shuffles; candidate volume is
    probe_fraction × corpus (here {_IVFPQ_PROBE}/{_VIX_CELLS}).
    Lloyd-trained quantizers drop in by replacing the seed step."""
    adc = _ivf_pq_serving(spark, sf_dir)["adc"]
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_micro").asc(), F.col("neighbor_id").asc()
    )
    return (
        adc.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= _PQ_TOPK)
        .select("query_id", "neighbor_id", "adc_micro", "rank")
    )


def _ivf_pq_serving(spark: SparkSession, sf_dir: str) -> dict:
    """The shared IVF+PQ serving pipeline (see similarity_topk_ivf_pq's
    docstring — this is its body, factored so the refine key reuses the
    identical index/probe/LUT/ADC plan): returns {"e": vector relation,
    "qdf": broadcastable (query_id, qv) frame, "adc": the un-ranked
    per-candidate ADC relation}."""
    import numpy as np
    import pandas as pd

    QIDS = [0, 1, 2, 3, 4]
    M, DSUB, K = _PQ_M, _PQ_DSUB, _PQ_K
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    ordk = F.expr(_PQ_ORD)
    seeds = e.orderBy(ordk.asc(), F.col("vec_id").asc()).limit(K).collect()
    C = np.array([list(s["v"]) for s in seeds], dtype=np.float64)  # 16 × 64
    # cents == codebook seeds here (both are the first-K hash-order
    # vectors); they play different roles below

    def d2_int_sub(X: "np.ndarray", m: int) -> "np.ndarray":
        D = np.zeros((len(X), K), dtype=np.float64)
        for i in range(DSUB):
            D += (X[:, m * DSUB + i, None] - C[None, :, m * DSUB + i]) ** 2
        return np.floor(D * 10000 + 0.5).astype(np.int64)

    def d2_int_full(X: "np.ndarray") -> "np.ndarray":
        D = np.zeros((len(X), _VIX_CELLS), dtype=np.float64)
        for i in range(64):
            D += (X[:, i, None] - C[:_VIX_CELLS, i][None, :]) ** 2
        return np.floor(D * 10000 + 0.5).astype(np.int64)

    def encode_assign(batches):
        for pdf in batches:
            X = np.array(pdf["v"].tolist(), dtype=np.float64)
            codes = np.empty((len(X), M), dtype=np.int32)
            for m in range(M):
                codes[:, m] = np.argmin(d2_int_sub(X, m), axis=1)
            cells = np.argmin(d2_int_full(X), axis=1).astype(np.int32)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "cell": cells,
                    "codes": list(map(list, codes)),
                }
            )

    indexed = e.mapInPandas(
        encode_assign, "vec_id long, cell int, codes array<int>"
    )

    # query-side state, driver-built from the same collected seeds
    qrows = e.filter(F.col("vec_id").isin(QIDS)).collect()
    probe_rows, lut_rows = [], []
    for q in qrows:
        qv = np.array([list(q["v"])], dtype=np.float64)
        cd = d2_int_full(qv)[0]
        order = np.lexsort((np.arange(_VIX_CELLS), cd))[:_IVFPQ_PROBE]
        for cell in order:
            probe_rows.append((int(q["vec_id"]), int(cell)))
        for m in range(M):
            row = d2_int_sub(qv, m)[0]
            lut_rows.extend(
                (int(q["vec_id"]), m, code, int(row[code]))
                for code in range(K)
            )
    probes = spark.createDataFrame(probe_rows, "query_id long, cell int")
    lut = spark.createDataFrame(
        lut_rows, "query_id long, m int, code int, d2i long"
    )

    cand = (
        indexed.join(F.broadcast(probes), ["cell"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "codes")
    )
    adc = (
        cand.select(
            "query_id", "neighbor_id", F.posexplode("codes").alias("m", "code")
        )
        .join(F.broadcast(lut), ["query_id", "m", "code"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("d2i").cast("bigint").alias("adc_micro"))
    )
    qdf = spark.createDataFrame(
        [(int(q["vec_id"]), list(q["v"])) for q in qrows],
        "query_id long, qv array<double>",
    )
    return {"e": e, "qdf": qdf, "adc": adc}


#: refine stage: ADC top-N candidates re-scored exactly (FAISS's
#: IVFPQR / refine-reorder pattern) — N trades recall for N exact
#: 64-dim distances per query.
_REFINE_N = 50


@query(
    "similarity_topk_ivf_pq_refine",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    ord AS (
      SELECT vec_id, v,
             row_number() OVER (ORDER BY {_PQ_ORD}, vec_id) AS rn
      FROM v
    ),
    cents AS (SELECT rn - 1 AS cell, v AS cv FROM ord WHERE rn <= {_VIX_CELLS}),
    cb AS (
      SELECT rn - 1 AS code, m,
             v[m * {_PQ_DSUB} + 1 : m * {_PQ_DSUB} + {_PQ_DSUB}] AS c
      FROM ord, range({_PQ_M}) t(m) WHERE rn <= {_PQ_K}
    ),
    celld AS (
      SELECT v.vec_id, c.cell,
             CAST(floor(list_reduce(
               list_transform(range(1, 65), i -> (v.v[i] - c.cv[i]) ^ 2),
               (a, b) -> a + b) * 10000 + 0.5) AS BIGINT) AS d2i
      FROM v CROSS JOIN cents c
    ),
    assign AS (
      SELECT vec_id, cell FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY d2i, cell) AS r FROM celld
      ) WHERE r = 1
    ),
    qprobe AS (
      SELECT vec_id AS query_id, cell FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY d2i, cell) AS r
        FROM celld WHERE vec_id IN (0, 1, 2, 3, 4)
      ) WHERE r <= {_IVFPQ_PROBE}
    ),
    sub AS (
      SELECT vec_id, m,
             v[m * {_PQ_DSUB} + 1 : m * {_PQ_DSUB} + {_PQ_DSUB}] AS sv
      FROM v, range({_PQ_M}) t(m)
    ),
    d AS (
      SELECT s.vec_id, s.m, c.code,
             CAST(floor(list_reduce(
               list_transform(range(1, {_PQ_DSUB} + 1),
                              i -> (s.sv[i] - c.c[i]) ^ 2),
               (a, b) -> a + b) * 10000 + 0.5) AS BIGINT) AS d2i
      FROM sub s JOIN cb c USING (m)
    ),
    codes AS (
      SELECT vec_id, m, code FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, m
                                     ORDER BY d2i, code) AS r FROM d
      ) WHERE r = 1
    ),
    lut AS (
      SELECT s.vec_id AS query_id, d.m, d.code, d.d2i
      FROM (SELECT DISTINCT vec_id FROM v WHERE vec_id IN (0, 1, 2, 3, 4)) s
      JOIN d ON d.vec_id = s.vec_id
    ),
    cand AS (
      SELECT p.query_id, a.vec_id AS neighbor_id
      FROM qprobe p JOIN assign a ON a.cell = p.cell
      WHERE a.vec_id != p.query_id
    ),
    adc AS (
      SELECT c.query_id, c.neighbor_id,
             CAST(sum(l.d2i) AS BIGINT) AS adc_micro
      FROM cand c
      JOIN codes k ON k.vec_id = c.neighbor_id
      JOIN lut l ON l.query_id = c.query_id AND l.m = k.m AND l.code = k.code
      GROUP BY 1, 2
    ),
    ranked AS MATERIALIZED (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY adc_micro, neighbor_id) AS arank
      FROM adc
    ),
    ex AS (
      SELECT t.query_id, t.neighbor_id, t.adc_micro,
             CAST(floor(list_reduce(
               list_transform(range(1, 65), i -> (nv.v[i] - qv.v[i]) ^ 2),
               (a, b) -> a + b) * 10000 + 0.5) AS BIGINT) AS exact_d2i
      FROM (SELECT query_id, neighbor_id, adc_micro FROM ranked
            WHERE arank <= {_REFINE_N}) t
      JOIN v nv ON nv.vec_id = t.neighbor_id
      JOIN v qv ON qv.vec_id = t.query_id
    )
    SELECT e.query_id, e.neighbor_id, e.exact_d2i, e.adc_micro,
           (r.arank IS NOT NULL) AS in_adc_topk, e.rank
    FROM (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                           ORDER BY exact_d2i, neighbor_id) AS BIGINT) AS rank
          FROM ex) e
    LEFT JOIN (SELECT query_id, neighbor_id, arank FROM ranked
               WHERE arank <= {_PQ_TOPK}) r
      ON r.query_id = e.query_id AND r.neighbor_id = e.neighbor_id
    WHERE e.rank <= {_PQ_TOPK}
    """,
)
def similarity_topk_ivf_pq_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage IVF+PQ serving with EXACT re-ranking (r13 verdict item
    4) — the standard recall-recovery step between a compressed ADC
    scan and the exact scorer (FAISS `IndexRefine` / IVFPQR, public
    design): stage 1 ADC-ranks the probed candidates and keeps the top
    {_REFINE_N}; stage 2 re-scores ONLY those from the raw vectors
    (integer-grid 64-dim distance, the `similarity_topk` comparator)
    and emits the exact top {_PQ_TOPK}.

    `in_adc_topk` makes the recall delta a per-edge, cross-engine
    value: rows with FALSE are exactly the neighbors the PQ
    quantization error had pushed out of the uncorrected ADC top
    {_PQ_TOPK} and the refine stage recovered — the oracle re-derives
    the flag independently, so the delta is attested data, not a
    quality boolean.

    Scale shape: stage 2 touches queries × {_REFINE_N} rows — the
    candidate list broadcasts against the vector relation (no corpus
    shuffle, plan-pinned in tests/test_plan_shapes.py), and the exact
    distance is a single JVM zip_with/aggregate fold over 64 dims, in
    ascending-dimension order on BOTH engines so the 1e-4 grid snap is
    exact integer agreement. Refine cost per query is N exact
    distances — independent of corpus size, the property that makes
    the two-stage design the 100 TB serving path."""
    s = _ivf_pq_serving(spark, sf_dir)
    w_adc = Window.partitionBy("query_id").orderBy(
        F.col("adc_micro").asc(), F.col("neighbor_id").asc()
    )
    # reused by the top-N cut AND the in_adc_topk flag — checkpoint so
    # the ADC join tree runs once
    ranked = s["adc"].withColumn(
        "arank", F.row_number().over(w_adc)
    ).localCheckpoint()
    topn = ranked.filter(F.col("arank") <= _REFINE_N).select(
        "query_id", "neighbor_id", "adc_micro"
    )
    nv = s["e"].select(
        F.col("vec_id").alias("neighbor_id"), F.col("v").alias("nv")
    )
    diffsq = F.zip_with("nv", "qv", lambda x, y: (x - y) * (x - y))
    d2 = F.aggregate(diffsq, F.lit(0.0), lambda a, x: a + x)
    ex = (
        nv.join(F.broadcast(topn), "neighbor_id")
        .join(F.broadcast(s["qdf"]), "query_id")
        .select(
            "query_id", "neighbor_id", "adc_micro",
            F.floor(d2 * 10000 + F.lit(0.5)).cast("bigint").alias("exact_d2i"),
        )
    )
    adc10 = ranked.filter(F.col("arank") <= _PQ_TOPK).select(
        "query_id", "neighbor_id", F.lit(True).alias("hit")
    )
    w_ex = Window.partitionBy("query_id").orderBy(
        F.col("exact_d2i").asc(), F.col("neighbor_id").asc()
    )
    return (
        ex.withColumn("rank", F.row_number().over(w_ex).cast("bigint"))
        .filter(F.col("rank") <= _PQ_TOPK)
        .join(F.broadcast(adc10), ["query_id", "neighbor_id"], "left")
        .select(
            "query_id", "neighbor_id", "exact_d2i", "adc_micro",
            F.coalesce(F.col("hit"), F.lit(False)).alias("in_adc_topk"),
            "rank",
        )
    )


@query(
    "stream_knn_graph_append",
    oracle=f"""
    WITH n AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                   CAST(embedding AS DOUBLE[]))) AS nrm
      FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n
          WHERE vec_id % {_KNN_GRAPH_MOD} = 0),
    p AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             round(list_dot_product(q.qv, c.v) / (q.qn * c.nrm), 4) AS score
      FROM q CROSS JOIN n c
      WHERE c.vec_id <> q.query_id
    ),
    e AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY score DESC, neighbor_id ASC) AS rank
        FROM p
      ) WHERE rank <= {_KNN_GRAPH_K}
    )
    SELECT (SELECT count(*) FROM n) AS n_nodes,
           (SELECT count(DISTINCT vec_id % 3) FROM n WHERE vec_id % 4 = 0)
             AS n_epochs_published,
           CAST(sum(neighbor_id) AS BIGINT) AS exact_stratum_id_sum,
           TRUE AS stream_equals_rebuild_ok,
           TRUE AS replay_suppressed_ok,
           TRUE AS batch_never_rescans_base_vectors_ok,
           TRUE AS occ_versions_ok,
           TRUE AS degree_bounded_ok
    FROM e
    """,
)
def stream_knn_graph_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING kNN-graph maintenance — the composition that closes
    the loop between the streaming index family
    (`stream_vector_index_append`) and the incremental graph family
    (`embedding_knn_graph_incremental`): appends arrive as 3 real
    micro-batches; each epoch's foreachBatch hashes ONLY ITSELF,
    joins the STORED chunked bucket postings (base ∪ prior epochs —
    so epoch 1's candidates include epoch 0's vectors), and publishes
    ONE OCC commit adding its vector shard, its posting shard, and
    its EDGE-LOG shard. The graph state is LOG-STRUCTURED: base edges
    + per-epoch delta shards; serving merges the log with one
    (node, neighbor) groupBy-max + rank window — exact by the
    distributive-top-k identity applied inductively per epoch (the
    LSM pattern: appends O(batch), merge at read; compaction is
    `vector_index_rebuild`'s pattern).

    Exactly-once is the manifest-as-transaction-record contract: a
    re-delivered epoch finds its edge shard in the log and no-ops
    (epoch 1 is explicitly replayed and the version count attested
    unchanged); shard writes are mode("overwrite") so a crash between
    staging and commit retries cleanly.

    Attestation:
    - n_nodes / n_epochs_published / exact_stratum_id_sum:
      cross-engine (DuckDB recomputes the exact stratum edges over
      the full corpus — real data);
    - stream_equals_rebuild_ok: the graph SERVED from the final edge
      log ≡ a batch `knn_graph_lsh` rebuild over the union corpus,
      row-for-row (ids, scores, ranks);
    - replay_suppressed_ok / occ_versions_ok: log is exactly v1..v4,
      head = base artifacts + three epochs' shards, replay advanced
      nothing;
    - batch_never_rescans_base_vectors_ok: every epoch's delta-plan
      lineage read NO base vector file (inputFiles audit) — base
      enters only through the stored postings;
    - degree_bounded_ok: served degree ≤ k.

    Scale shape: nightly-graph-maintenance-as-a-stream — per epoch
    the corpus-sized work is one bucket equi-join of O(batch) hashed
    rows against the posting store; the edge log grows by
    ≤ tables·chunks·k rows per appended node; serving cost is one
    window over the linear log."""
    import os
    import shutil

    import numpy as np
    import pandas as pd

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    from ..operators.similarity import (
        LSH_CHUNK_CAP,
        _decode_chunk,
        _pack_lsh_chunks,
        _topk_arrays,
        knn_graph_lsh,
        signlsh_codes_udf,
    )
    from ..streaming.windowed import _stream_session
    P, L, SEED, K = 4, 12, 7, _KNN_GRAPH_K  # pinned: planes are index state
    s = _stream_session(spark)
    base = fixture_base(spark, sf_dir, "sknn")
    shutil.rmtree(base, ignore_errors=True)  # the protocol IS the operator
    data = os.path.join(base, "data")
    os.makedirs(data)

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    # the full-rebuild twin and the exact-stratum audit read only the
    # raw embeddings — independent of every protocol artifact — so they
    # run on a driver thread concurrent with the whole setup + stream +
    # replay flow (guide §2.6); joined before the equality diff below
    from pyspark import InheritableThread

    twin_box: dict[str, object] = {}

    def _full_twin() -> None:
        try:
            spark.sparkContext.setJobDescription("sknn:full_rebuild_twin")
            twin_box["full"] = knn_graph_lsh(
                emb.select(
                    F.col("vec_id").cast("long").alias("vid"),
                    F.col("embedding").cast("array<double>").alias("v"),
                ),
                id_col="vid", vec_col="v", k=K,
                n_planes=P, n_tables=L, seed=SEED,
            ).localCheckpoint()
            twin_box["exact_sum"] = (
                _knn_graph_edges(spark, sf_dir)
                .agg(F.sum("neighbor_id").cast("bigint"))
                .collect()[0][0]
            )
            twin_box["n_nodes"] = emb.count()
        except BaseException as exc:  # surfaced at join
            twin_box["err"] = exc

    twin_thread = InheritableThread(target=_full_twin)
    twin_thread.start()

    # source: the append batch as 3 mtime-ordered slice files — they
    # depend only on emb, so they stage on a driver thread concurrent
    # with the base-state chain below (guide §2.6); the deterministic
    # utime stamps set the delivery order regardless of write order
    src = os.path.join(base, "src")
    os.makedirs(src)
    batch_all = emb.filter(F.col("vec_id") % 4 == 0)
    t0 = 1_600_000_000
    slice_box: dict[str, object] = {}

    def _stage_slice(i: int) -> None:
        tmp = os.path.join(base, f"__slice{i}")
        batch_all.filter(F.col("vec_id") % 3 == i).coalesce(1).write.parquet(tmp)
        fn = [x for x in os.listdir(tmp) if x.endswith(".parquet")][0]
        dst = os.path.join(src, f"slice-{i}.parquet")
        shutil.copy(os.path.join(tmp, fn), dst)
        os.utime(dst, (t0 + 100 * i, t0 + 100 * i))
        shutil.rmtree(tmp)

    def _stage_slices() -> None:
        try:
            spark.sparkContext.setJobDescription("sknn:slice_staging")
            concurrent_values(*[lambda i=i: _stage_slice(i) for i in range(3)])
        except BaseException as exc:  # surfaced at join
            slice_box["err"] = exc

    slice_thread = InheritableThread(target=_stage_slices)
    slice_thread.start()

    emb.filter(F.col("vec_id") % 4 != 0).write.parquet(
        os.path.join(data, "vec_base")
    )
    base_corp = spark.read.parquet(os.path.join(data, "vec_base")).select(
        F.col("vec_id").cast("long").alias("vid"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    codes = signlsh_codes_udf(P, L, 64, SEED)
    # the posting pack and the base-graph build both read only the
    # checkpointable vec_base shard and are independent of each other —
    # materialize them concurrently (guide §2.6)
    concurrent_values(
        lambda: _pack_lsh_chunks(
            base_corp.select(
                "vid", "v",
                F.posexplode(codes(F.col("v"))).alias("tbl", "bucket"),
            ),
            LSH_CHUNK_CAP,
        ).write.parquet(os.path.join(data, "postings_base")),
        lambda: knn_graph_lsh(
            base_corp, id_col="vid", vec_col="v", k=K,
            n_planes=P, n_tables=L, seed=SEED,
        ).select("node_id", "neighbor_id", "score").write.parquet(
            os.path.join(data, "graph_base")
        ),
    )
    log_create(base, ["vec_base", "postings_base", "graph_base"])

    # the stream below consumes the slice files — staging must be done
    slice_thread.join()
    if "err" in slice_box:
        raise slice_box["err"]  # type: ignore[misc]

    out_schema = StructType(
        [
            StructField("node_id", LongType()),
            StructField("neighbor_id", LongType()),
            StructField("score", DoubleType()),
        ]
    )

    def delta_kernel(batches):
        from ..functions.rounding import np_dround

        for pdf in batches:
            outs = []
            for nv, nf, bv, bf, selfrow in zip(
                pdf["new_vids"],
                pdf["new_flat"],
                pdf["base_vids"],
                pdf["base_flat"],
                pdf["self_row"],
            ):
                nids, nmat = _decode_chunk(nv, nf)
                nn = np.linalg.norm(nmat, axis=1)
                if selfrow and len(nids) > 1:
                    sim = (nmat @ nmat.T) / np.outer(nn, nn)
                    sim = np_dround(sim, 4)
                    np.fill_diagonal(sim, -2.0)
                    outs.append(
                        _topk_arrays(nids, nids, sim, min(K, len(nids) - 1))
                    )
                if isinstance(bv, (list, np.ndarray)) and len(bv) > 0:
                    oids, omat = _decode_chunk(bv, bf)
                    on = np.linalg.norm(omat, axis=1)
                    sim = (nmat @ omat.T) / np.outer(nn, on)
                    sim = np_dround(sim, 4)
                    outs.append(_topk_arrays(nids, oids, sim, min(K, len(oids))))
                    outs.append(
                        _topk_arrays(oids, nids, sim.T, min(K, len(nids)))
                    )
            if outs:
                yield pd.DataFrame(
                    {
                        "node_id": np.concatenate([o[0] for o in outs]),
                        "neighbor_id": np.concatenate([o[1] for o in outs]),
                        "score": np.concatenate([o[2] for o in outs]),
                    }
                )

    vec_base_files = {
        f"file:{os.path.join(data, 'vec_base', p)}"
        for p in os.listdir(os.path.join(data, "vec_base"))
    }
    epoch_audits: list[bool] = []

    def append_epoch(batch_df: DataFrame, batch_id: int) -> None:
        latest = log_versions(base)[-1]
        head_now = set(log_read(base, latest))
        if f"graph_e{batch_id}" in head_now:
            return  # replay: this epoch is already committed
        # the delta flow reads the micro-batch rows DIRECTLY instead of
        # re-reading the staged vec shard (parquet round-trips
        # long/double exactly, so the content is identical by
        # construction — the r14 stream_vector_index_append pattern);
        # the vec shard write moves into the concurrent staging group
        # below, cutting one serial write + one read job per epoch
        bdf = batch_df.select(
            F.col("vec_id").cast("long").alias("vid"),
            F.col("embedding").cast("array<double>").alias("v"),
        )
        hashed = bdf.select(
            "vid", "v", F.posexplode(codes(F.col("v"))).alias("tbl", "bucket")
        )
        # join side: WHOLE batch buckets (the batch is O(batch) small
        # by definition — chunking it here would score new×new only
        # for one chunk per bucket via self_row); the PERSISTED
        # postings stay chunked for future epochs' joins
        batch_whole = (
            hashed.groupBy("tbl", "bucket")
            .agg(F.collect_list(F.struct("vid", "v")).alias("nv"))
            .select(
                "tbl",
                "bucket",
                F.col("nv.vid").alias("new_vids"),
                F.flatten(F.col("nv.v")).alias("new_flat"),
            )
        )
        posting_dirs = sorted(x for x in head_now if x.startswith("postings"))
        stored = (
            spark.read.parquet(*[os.path.join(data, x) for x in posting_dirs])
            .withColumnRenamed("vids", "base_vids")
            .withColumnRenamed("flat", "base_flat")
        )
        w_self = Window.partitionBy("tbl", "bucket").orderBy(
            F.col("chk").asc_nulls_first()
        )
        joined = (
            batch_whole.join(
                stored.select(
                    "tbl", "bucket", "chk", "base_vids", "base_flat"
                ),
                ["tbl", "bucket"],
                "left",
            )
            .withColumn("self_row", F.row_number().over(w_self) == 1)
        )
        delta_plan = joined.mapInPandas(delta_kernel, out_schema)
        epoch_audits.append(
            not (set(delta_plan.inputFiles()) & vec_base_files)
        )
        # the vec shard, the edge-delta shard and the epoch's posting
        # shard are independent writes into distinct dirs — stage all
        # three concurrently; the OCC commit stays strictly after all
        # (all writes are mode("overwrite"), so a crash between staging
        # and commit retries cleanly exactly as before)
        concurrent_values(
            lambda: batch_df.write.mode("overwrite").parquet(
                os.path.join(data, f"vec_e{batch_id}")
            ),
            lambda: delta_plan.write.mode("overwrite").parquet(
                os.path.join(data, f"graph_e{batch_id}")
            ),
            lambda: _pack_lsh_chunks(hashed, LSH_CHUNK_CAP)
            .write.mode("overwrite")
            .parquet(os.path.join(data, f"postings_e{batch_id}")),
        )
        commit_with_conflict_detection(
            base,
            latest,
            add=[
                f"vec_e{batch_id}",
                f"postings_e{batch_id}",
                f"graph_e{batch_id}",
            ],
            remove=[],
            # the delta scored against EVERY posting shard at head
            # (postings_base AND each prior epoch's postings_e*), so all
            # of them are OCC dependencies — a concurrent compaction
            # rewriting any epoch shard between stage and commit must
            # surface as a conflict, not slip past a base-only read_set
            read_set=set(posting_dirs),
        )

    schema = s.read.parquet(src).schema
    q = (
        s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .writeStream.foreachBatch(append_epoch)
        .option("checkpointLocation", os.path.join(base, "_chk"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    versions_before_replay = log_versions(base)

    # THE REPLAY: re-deliver epoch 1 (crash-before-checkpoint-ack path)
    append_epoch(s.read.parquet(os.path.join(src, "slice-1.parquet")), 1)
    versions_after_replay = log_versions(base)
    replay_ok = versions_after_replay == versions_before_replay

    head = set(log_read(base, versions_after_replay[-1]))
    occ_ok = versions_after_replay == [1, 2, 3, 4] and head == {
        "vec_base", "postings_base", "graph_base",
        "vec_e0", "postings_e0", "graph_e0",
        "vec_e1", "postings_e1", "graph_e1",
        "vec_e2", "postings_e2", "graph_e2",
    }

    # --- SERVE the log-structured graph: groupBy-max + rank window
    g_dirs = sorted(x for x in head if x.startswith("graph"))
    w = Window.partitionBy("node_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    served = (
        spark.read.parquet(*[os.path.join(data, x) for x in g_dirs])
        .groupBy("node_id", "neighbor_id")
        .agg(F.max("score").alias("score"))
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= K)
        .localCheckpoint()
    )

    # --- the attested identity: served ≡ full batch rebuild (built
    # concurrently on the twin thread started at builder entry)
    twin_thread.join()
    if "err" in twin_box:
        raise twin_box["err"]  # type: ignore[misc]
    full = twin_box["full"]
    exact_sum = twin_box["exact_sum"]
    n_nodes = twin_box["n_nodes"]

    n_diff, max_deg = concurrent_values(
        lambda: symmetric_diff_count(served, full),
        lambda: served.groupBy("node_id")
        .count()
        .agg(F.max("count"))
        .collect()[0][0],
    )
    n_epochs = len([x for x in head if x.startswith("graph_e")])

    return spark.range(1).select(
        F.lit(n_nodes).cast("bigint").alias("n_nodes"),
        F.lit(n_epochs).cast("bigint").alias("n_epochs_published"),
        F.lit(exact_sum).cast("bigint").alias("exact_stratum_id_sum"),
        F.lit(n_diff == 0).alias("stream_equals_rebuild_ok"),
        F.lit(replay_ok).alias("replay_suppressed_ok"),
        F.lit(bool(epoch_audits) and all(epoch_audits)).alias(
            "batch_never_rescans_base_vectors_ok"
        ),
        F.lit(occ_ok).alias("occ_versions_ok"),
        F.lit(max_deg is not None and max_deg <= K).alias("degree_bounded_ok"),
    )


# --------------------------------------------------------------------------
# OPQ — seeded ORTHOGONAL rotation before the subspace split (the public
# OPQ/FAISS `OPQMatrix` design, here the structured HD variant: Hadamard
# × seeded ±1 diagonal, used by FJLT/ITQ-style pipelines). Rotation
# decorrelates dimensions so the per-subspace codebooks quantize a more
# isotropic distribution — the standard recall lift over plain PQ when
# dimensions are correlated. H₆₄[i,j] = (-1)^popcount(i&j) and D's signs
# come from md5 parity, so BOTH engines build the exact same R = H·D/8
# (orthogonal exactly: H·Hᵀ = 64·I), and every rotated coordinate is a
# left fold over j with ±1 multiplies and a /8 — bit-identical IEEE
# sequences, no grid snap needed before the PQ stage's own snap.
# --------------------------------------------------------------------------

_OPQ_HD_SQL = (
    "CASE WHEN bit_count(CAST(i AS BIGINT) & j) % 2 = 0 "
    "THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END"
)
_OPQ_DSIGN_SQL = (
    "CASE WHEN CAST(('0x' || substring(md5('opq:' || j), 1, 1)) AS INT) % 2 = 0 "
    "THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END"
)
#: rotated vector: y[i+1] = (Σ_j H[i,j]·D[j]·x[j+1]) / 8, j ascending
_OPQ_ROT_SQL = f"""list_transform(range(0, 64), i ->
               list_reduce(list_transform(range(0, 64), j ->
                 ({_OPQ_HD_SQL}) * ({_OPQ_DSIGN_SQL}) * v[j + 1]),
                 (a, b) -> a + b) / 8.0)"""


def _opq_rotate_np(X):
    """numpy twin of _OPQ_ROT_SQL: accumulate over j in ascending order
    (the oracle's left fold), ±1 multiplies exact, /8 exact."""
    import hashlib

    import numpy as np

    ii = np.arange(64, dtype=np.int64)
    hd = np.where(
        np.array([[bin(i & j).count("1") % 2 for i in ii] for j in ii]) == 0,
        1.0, -1.0,
    )  # hd[j, i] = H[i, j]
    dsg = np.array(
        [
            1.0
            if int(hashlib.md5(f"opq:{j}".encode()).hexdigest()[0], 16) % 2 == 0
            else -1.0
            for j in range(64)
        ]
    )
    Y = np.zeros_like(X)
    for j in range(64):
        Y += X[:, j, None] * (hd[j, :] * dsg[j])[None, :]
    return Y / 8.0


@query(
    "embedding_opq_adc_topk",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    rot AS MATERIALIZED (
      SELECT vec_id, {_OPQ_ROT_SQL} AS y FROM v
    ),
    ord AS (
      SELECT r.vec_id, r.y,
             row_number() OVER (ORDER BY {_PQ_ORD}, vec_id) AS rn
      FROM (SELECT vec_id, y, vec_id AS vid FROM rot) r
    ),
    cb AS MATERIALIZED (
      SELECT rn - 1 AS code, m,
             y[m * {_PQ_DSUB} + 1 : m * {_PQ_DSUB} + {_PQ_DSUB}] AS c
      FROM ord, range({_PQ_M}) t(m) WHERE rn <= {_PQ_K}
    ),
    sub AS (
      SELECT vec_id, m,
             y[m * {_PQ_DSUB} + 1 : m * {_PQ_DSUB} + {_PQ_DSUB}] AS sv
      FROM rot, range({_PQ_M}) t(m)
    ),
    d AS MATERIALIZED (
      SELECT s.vec_id, s.m, c.code,
             CAST(floor(list_reduce(
               list_transform(range(1, {_PQ_DSUB} + 1),
                              i -> (s.sv[i] - c.c[i]) ^ 2),
               (a, b) -> a + b) * 10000 + 0.5) AS BIGINT) AS d2i
      FROM sub s JOIN cb c USING (m)
    ),
    codes AS (
      SELECT vec_id, m, code FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, m
                                     ORDER BY d2i, code) AS r FROM d
      ) WHERE r = 1
    ),
    lut AS (
      SELECT s.vec_id AS query_id, d.m, d.code, d.d2i
      FROM (SELECT DISTINCT vec_id FROM v WHERE vec_id IN (0, 1, 2, 3, 4)) s
      JOIN d ON d.vec_id = s.vec_id
    ),
    adc AS (
      SELECT l.query_id, k.vec_id AS neighbor_id,
             CAST(sum(l.d2i) AS BIGINT) AS adc_micro
      FROM codes k JOIN lut l ON l.m = k.m AND l.code = k.code
      WHERE k.vec_id != l.query_id
      GROUP BY 1, 2
    ),
    -- the PLAIN (unrotated) PQ chain, for the per-edge recall delta
    pcb AS MATERIALIZED (
      SELECT rn - 1 AS code, m,
             v[m * {_PQ_DSUB} + 1 : m * {_PQ_DSUB} + {_PQ_DSUB}] AS c
      FROM (SELECT vec_id, v,
                   row_number() OVER (ORDER BY {_PQ_ORD}, vec_id) AS rn
            FROM v), range({_PQ_M}) t(m)
      WHERE rn <= {_PQ_K}
    ),
    psub AS (
      SELECT vec_id, m,
             v[m * {_PQ_DSUB} + 1 : m * {_PQ_DSUB} + {_PQ_DSUB}] AS sv
      FROM v, range({_PQ_M}) t(m)
    ),
    pd AS MATERIALIZED (
      SELECT s.vec_id, s.m, c.code,
             CAST(floor(list_reduce(
               list_transform(range(1, {_PQ_DSUB} + 1),
                              i -> (s.sv[i] - c.c[i]) ^ 2),
               (a, b) -> a + b) * 10000 + 0.5) AS BIGINT) AS d2i
      FROM psub s JOIN pcb c USING (m)
    ),
    pcodes AS (
      SELECT vec_id, m, code FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, m
                                     ORDER BY d2i, code) AS r FROM pd
      ) WHERE r = 1
    ),
    plut AS (
      SELECT s.vec_id AS query_id, d.m, d.code, d.d2i
      FROM (SELECT DISTINCT vec_id FROM v WHERE vec_id IN (0, 1, 2, 3, 4)) s
      JOIN pd d ON d.vec_id = s.vec_id
    ),
    padc AS (
      SELECT l.query_id, k.vec_id AS neighbor_id,
             CAST(sum(l.d2i) AS BIGINT) AS adc_micro
      FROM pcodes k JOIN plut l ON l.m = k.m AND l.code = k.code
      WHERE k.vec_id != l.query_id
      GROUP BY 1, 2
    ),
    ptop AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                         ORDER BY adc_micro, neighbor_id) AS r FROM padc
      ) WHERE r <= {_PQ_TOPK}
    ),
    -- EXACT integer-grid ground truth on the ORIGINAL vectors
    exd AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             CAST(floor(list_reduce(
               list_transform(range(1, 65), i -> (c.v[i] - q.v[i]) ^ 2),
               (a, b) -> a + b) * 10000 + 0.5) AS BIGINT) AS d2i
      FROM v q JOIN v c ON c.vec_id != q.vec_id
      WHERE q.vec_id IN (0, 1, 2, 3, 4)
    ),
    extop AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                         ORDER BY d2i, neighbor_id) AS r FROM exd
      ) WHERE r <= {_PQ_TOPK}
    )
    SELECT a.query_id, a.neighbor_id, a.adc_micro,
           (x.neighbor_id IS NOT NULL) AS in_exact_topk,
           (p.neighbor_id IS NOT NULL) AS in_plain_adc_topk,
           a.rank
    FROM (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                           ORDER BY adc_micro, neighbor_id) AS BIGINT) AS rank
          FROM adc) a
    LEFT JOIN extop x ON x.query_id = a.query_id
                     AND x.neighbor_id = a.neighbor_id
    LEFT JOIN ptop p ON p.query_id = a.query_id
                    AND p.neighbor_id = a.neighbor_id
    WHERE a.rank <= {_PQ_TOPK}
    """,
)
def embedding_opq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPQ: PQ+ADC over HD-ROTATED vectors (section comment above) —
    r13 verdict item 8, completing the quantization family. The chain
    is `embedding_pq_adc_topk` verbatim with y = R·x substituted for x
    at encode, codebook-build, and LUT time; R is applied inside the
    same Arrow kernels (one extra 64-step accumulation per batch, no
    extra pass, no shuffle change).

    Recall delta attested as DATA, not a boolean: each returned OPQ
    top-{_PQ_TOPK} edge carries `in_exact_topk` (membership in the
    exact integer-grid top-{_PQ_TOPK} on the ORIGINAL vectors — the
    rotation-invariant ground truth) and `in_plain_adc_topk`
    (membership in the unrotated PQ's ADC top-{_PQ_TOPK}), both
    recomputed independently by the oracle, so
    Σ in_exact_topk (OPQ) − Σ in_exact (plain, derivable) IS the
    measured OPQ recall lift on this corpus — at sf0.01: OPQ 11/50
    exact-top-10 edges recovered vs plain PQ 9/50 (seeded, untrained
    codebooks; the structured rotation's decorrelation lift without a
    Lloyd fit). Fully value-checked on the integer grid like the
    whole PQ family (seeded quantizers, dim-ascending folds, 1e-4
    snap)."""
    import numpy as np
    import pandas as pd

    M, DSUB, K, TOPK_PQ = _PQ_M, _PQ_DSUB, _PQ_K, _PQ_TOPK
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    ordk = F.expr(_PQ_ORD)
    seeds = e.orderBy(ordk.asc(), F.col("vec_id").asc()).limit(K).collect()
    C_raw = np.array([list(s["v"]) for s in seeds], dtype=np.float64)
    C_rot = _opq_rotate_np(C_raw)
    qrows = e.filter(F.col("vec_id").isin(QUERY_IDS)).collect()
    Q_raw = np.array([list(q["v"]) for q in qrows], dtype=np.float64)
    Q_ids = [int(q["vec_id"]) for q in qrows]
    Q_rot = _opq_rotate_np(Q_raw)

    def d2_int(X, C, m):
        D = np.zeros((len(X), K), dtype=np.float64)
        for i in range(DSUB):
            D += (X[:, m * DSUB + i, None] - C[None, :, m * DSUB + i]) ** 2
        return np.floor(D * 10000 + 0.5).astype(np.int64)

    def encode_both(batches):
        # ONE corpus pass emits plain codes, rotated codes, and the
        # exact integer-grid distance to every query (5 values/row)
        for pdf in batches:
            X = np.array(pdf["v"].tolist(), dtype=np.float64)
            Y = _opq_rotate_np(X)
            pc = np.empty((len(X), M), dtype=np.int32)
            rc = np.empty((len(X), M), dtype=np.int32)
            for m in range(M):
                pc[:, m] = np.argmin(d2_int(X, C_raw, m), axis=1)
                rc[:, m] = np.argmin(d2_int(Y, C_rot, m), axis=1)
            D = np.zeros((len(X), len(Q_ids)), dtype=np.float64)
            for i in range(64):
                D += (X[:, i, None] - Q_raw[None, :, i]) ** 2
            Di = np.floor(D * 10000 + 0.5).astype(np.int64)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "pcodes": list(map(list, pc)),
                    "rcodes": list(map(list, rc)),
                    "exd": list(map(list, Di)),
                }
            )

    enc = e.mapInPandas(
        encode_both,
        "vec_id long, pcodes array<int>, rcodes array<int>, exd array<long>",
    ).localCheckpoint()  # three consumers below — one corpus pass total

    def lut_frame(Q, C):
        rows = []
        for qi, qid in enumerate(Q_ids):
            qv = Q[qi : qi + 1]
            for m in range(M):
                row = d2_int(qv, C, m)[0]
                rows.extend((qid, m, code, int(row[code])) for code in range(K))
        return spark.createDataFrame(
            rows, "query_id long, m int, code int, d2i long"
        )

    def adc_top(codes_col, lut):
        adc = (
            enc.select("vec_id", F.posexplode(codes_col).alias("m", "code"))
            .join(F.broadcast(lut), ["m", "code"])
            .filter(F.col("vec_id") != F.col("query_id"))
            .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
            .agg(F.sum("d2i").cast("bigint").alias("adc_micro"))
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("adc_micro").asc(), F.col("neighbor_id").asc()
        )
        return adc.withColumn(
            "rank", F.row_number().over(w).cast("bigint")
        ).filter(F.col("rank") <= TOPK_PQ)

    opq_top = adc_top("rcodes", lut_frame(Q_rot, C_rot))
    plain_top = adc_top("pcodes", lut_frame(Q_raw, C_raw)).select(
        "query_id", "neighbor_id", F.lit(True).alias("p_hit")
    )
    w_ex = Window.partitionBy("query_id").orderBy(
        F.col("d2i").asc(), F.col("neighbor_id").asc()
    )
    exact_top = (
        enc.select(
            F.col("vec_id").alias("neighbor_id"),
            F.posexplode("exd").alias("qi", "d2i"),
        )
        .select(
            F.element_at(
                F.array(*[F.lit(q) for q in Q_ids]), F.col("qi") + 1
            ).alias("query_id"),
            "neighbor_id", "d2i",
        )
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("r", F.row_number().over(w_ex))
        .filter(F.col("r") <= TOPK_PQ)
        .select("query_id", "neighbor_id", F.lit(True).alias("x_hit"))
    )
    return (
        opq_top.join(F.broadcast(exact_top), ["query_id", "neighbor_id"], "left")
        .join(F.broadcast(plain_top), ["query_id", "neighbor_id"], "left")
        .select(
            "query_id", "neighbor_id", "adc_micro",
            F.coalesce(F.col("x_hit"), F.lit(False)).alias("in_exact_topk"),
            F.coalesce(F.col("p_hit"), F.lit(False)).alias("in_plain_adc_topk"),
            "rank",
        )
    )
