"""Similarity search over embedding columns (array<float>).

Two paths, as the north star prescribes:

- brute-force exact cosine top-k: broadcast the (small) query set,
  stream the candidate corpus through a JVM-side dot product
  (zip_with + aggregate — no Python, no UDF), rank per query.
  At 100 TB the corpus side never shuffles: the only wide op is the
  per-query top-k, which TakeOrdered-style reduces.

- sign-LSH (random-hyperplane) bucketed ANN: H fixed hyperplanes give
  a 2^H-bucket code; queries probe only their own bucket, cutting the
  candidate set by ~2^H. Hyperplanes are seeded-deterministic and
  shipped as literal arrays (no fit step, no driver state).

Cosine is computed in float64 after an explicit cast so results are
reproducible against any float64 oracle.
"""

from __future__ import annotations

import math
import random

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product (matches a left-to-right sum)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def with_norm(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Adds float64 vector `v` and its L2 norm `v_norm` (computed once)."""
    v = F.col(vec_col).cast("array<double>")
    return df.withColumn("v", v).withColumn("v_norm", F.sqrt(_dot(F.col("v"), F.col("v"))))


def cosine_topk(
    emb: DataFrame,
    query_ids: list[int] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, score, rank).

    Ranking uses the 4-dp-rounded score with id tiebreak so the top-k
    set is deterministic under float reassociation.

    ``query_ids`` is required: the query side is broadcast, so an
    unbounded query set (the whole corpus) would OOM the executors at
    scale. For all-pairs similarity use ``embedding_neardup_blocked``,
    which never broadcasts or materializes the pair space.
    """
    if query_ids is None:
        raise ValueError(
            "cosine_topk requires an explicit bounded query_ids list — the "
            "query side is broadcast; for all-pairs use embedding_neardup_blocked"
        )
    base = with_norm(emb, vec_col)
    q = base.select(
        F.col(id_col).alias("query_id"), F.col("v").alias("qv"), F.col("v_norm").alias("q_norm")
    ).filter(F.col("query_id").isin(query_ids))
    c = base.select(
        F.col(id_col).alias("neighbor_id"), F.col("v").alias("cv"), F.col("v_norm").alias("c_norm")
    )
    score = F.round(_dot(F.col("qv"), F.col("cv")) / (F.col("q_norm") * F.col("c_norm")), 4)
    pairs = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", score.alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("neighbor_id").asc())
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


def random_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Seeded-deterministic Gaussian hyperplanes (driver-side literals)."""
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def signlsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Bucket code: one sign bit per hyperplane, packed into a long.

    Expression form (kept for single-table uses and as the semantic
    reference); the multi-table hot path is ``signlsh_codes_udf`` —
    this fold is interpreted per row (HOF lambdas never enter
    whole-stage codegen) and measured ~0.35 ms/row at 64-dim, which a
    corpus-scale hashing pass cannot afford."""
    code = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        d = _dot(vec, F.array(*[F.lit(x) for x in plane]))
        bit = F.when(d >= 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        code = code.bitwiseXOR(F.shiftleft(bit, i))
    return code


def signlsh_codes_udf(n_planes: int, n_tables: int, dim: int, seed: int):
    """All n_tables sign-LSH bucket codes in ONE Arrow-batched pandas
    UDF: batch matrix (B×dim) against every table's hyperplanes in a
    single numpy matmul, sign bits packed per table → ``array<long>``
    of length n_tables (index = table id, same plane seeds and bit
    order as ``signlsh_bucket``, so codes are value-compatible).

    This replaces a T×P×dim-literal Catalyst tree of interpreted
    aggregate/zip_with folds: measured at 64-dim × 6 tables the
    expression form costs ~0.35 ms/row (plus a seconds-scale first-run
    codegen of the giant tree) vs ~0.01 ms/row here — the difference
    between a hashing pass that works at corpus scale and one that
    doesn't. Only the (small) code array crosses Arrow; vectors stay
    JVM-side for the downstream explode/join."""
    from pyspark.sql.functions import pandas_udf

    flat = np.array(
        [random_hyperplanes(dim, n_planes, seed + 1000 * t) for t in range(n_tables)],
        dtype=np.float64,
    ).reshape(n_tables * n_planes, dim)
    weights = 1 << np.arange(n_planes, dtype=np.int64)

    @pandas_udf("array<long>")
    def codes(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype=object)
        mat = np.array(vs.tolist(), dtype=np.float64)
        bits = (mat @ flat.T) >= 0.0  # (B, T*P); sign rule matches d >= 0
        packed = (bits.reshape(len(mat), n_tables, n_planes) * weights).sum(axis=2)
        return pd.Series(list(packed))

    return codes


def cosine_topk_lsh(
    emb: DataFrame,
    query_ids: list[int],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = 4,
    n_tables: int = 4,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """ANN top-k via multi-table sign-LSH.

    L independent tables of P hyperplanes each; a candidate is scored
    if it shares the query's bucket in ANY table (recall ≈
    1-(1-p^P)^L for per-plane agreement p). Candidate volume is
    ~L/2^P of the corpus — the knob the deployment tunes. The
    per-table join is an equi-join on (table, bucket), hash-
    partitionable at any scale; candidates are deduped before the
    (more expensive) exact scoring.
    """
    base = with_norm(emb, vec_col)
    # all table codes in one vectorized Arrow pass (position = table id);
    # vectors never cross to Python — only the T-long code array does
    codes = signlsh_codes_udf(n_planes, n_tables, dim, seed)
    hashed = base.select(
        id_col, "v", "v_norm",
        F.posexplode(codes(F.col("v"))).alias("tbl", "bucket"),
    )
    q = hashed.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), "tbl", "bucket"
    )
    cand = (
        hashed.select(F.col(id_col).alias("neighbor_id"), "tbl", "bucket")
        .join(F.broadcast(q), ["tbl", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    qv = base.select(
        F.col(id_col).alias("query_id"), F.col("v").alias("qv"), F.col("v_norm").alias("q_norm")
    ).filter(F.col("query_id").isin(query_ids))
    cv = base.select(
        F.col(id_col).alias("neighbor_id"), F.col("v").alias("cv"), F.col("v_norm").alias("c_norm")
    )
    score = F.round(_dot(F.col("qv"), F.col("cv")) / (F.col("q_norm") * F.col("c_norm")), 4)
    pairs = (
        cand.join(cv, "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .select("query_id", "neighbor_id", score.alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("neighbor_id").asc())
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


def _scored_cells(cells_arr: Column, round_dp: int | None = None) -> Column:
    """Per-row array of (cscore, -cell) structs over a broadcast
    centroid array — the shuffle-free cell-assignment kernel.

    ``array_max`` of the result is argmax by (score desc, cell asc):
    struct comparison is lexicographic, and negating the cell makes the
    tie-break pick the SMALLEST cell. ``reverse(array_sort(...))`` gives
    the same ordering for multi-probe. Everything is a map-side
    expression over broadcast literals — the corpus never shuffles for
    assignment (the previous explode-n_cells×-then-window form shuffled
    n_cells× the corpus just to compute a per-row argmax).
    """

    def entry(c: Column) -> Column:
        s = _dot(F.col("v"), c["cv"]) / (F.col("v_norm") * c["cnrm"])
        if round_dp is not None:
            s = F.round(s, round_dp)
        return F.struct(s.alias("cscore"), (-c["cell"]).alias("negcell"))

    return F.transform(cells_arr, entry)


def cosine_topk_ivf(
    emb: DataFrame,
    query_ids: list[int],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    seed: int = 42,
) -> DataFrame:
    """ANN top-k via an IVF (inverted-file) index, pure DataFrame ops.

    Coarse quantizer: n_cells centroids chosen deterministically (the
    n_cells corpus vectors with the smallest xxhash64(seed, id) — a
    seeded uniform sample; no iterative k-means fit step, so the index
    build is a single broadcast-join pass, which is the right trade at
    ingest time). Every corpus vector is assigned to its nearest
    centroid's cell; a query probes its n_probe nearest cells and
    exact-scores only those candidates.

    Scale shape: centroids are O(n_cells·dim) — always broadcastable,
    packed into ONE array row; cell assignment is a map-side array
    argmax over that broadcast array (`_scored_cells` — zero shuffle of
    the corpus); the probe join is equi-key on `cell` so candidate
    volume is ~ (n_probe / n_cells) of the corpus per query.
    """
    base = with_norm(emb, vec_col)
    w_cent = Window.orderBy(F.xxhash64(F.lit(seed), F.col(id_col)))
    cents = (
        base.orderBy(F.xxhash64(F.lit(seed), F.col(id_col)))
        .limit(n_cells)
        .select(
            # row_number over the same hash order: a stable dense cell id
            # (the window runs over only n_cells rows post-limit)
            (F.row_number().over(w_cent) - 1).alias("cell"),
            F.col("v").alias("cv"),
            F.col("v_norm").alias("cnrm"),
        )
    )
    cent_arr = cents.agg(
        F.collect_list(F.struct("cell", "cv", "cnrm")).alias("cents")
    )
    scored = (
        base.select(id_col, "v", "v_norm")
        .join(F.broadcast(cent_arr))  # 1-row broadcast: adds `cents`
        .withColumn("scored", _scored_cells(F.col("cents")))
    )
    best = F.array_max(F.col("scored"))
    cells = scored.select(
        id_col, "v", "v_norm", (-best["negcell"]).alias("cell")
    )
    probes = (
        scored.filter(F.col(id_col).isin(query_ids))
        .select(
            F.col(id_col).alias("query_id"),
            F.explode(
                F.slice(F.reverse(F.array_sort("scored")), 1, n_probe)
            ).alias("probe"),
        )
        .select("query_id", (-F.col("probe.negcell")).alias("cell"))
    )
    qv = base.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col("v").alias("qv"), F.col("v_norm").alias("q_norm")
    )
    score = F.round(_dot(F.col("qv"), F.col("cv")) / (F.col("q_norm") * F.col("c_norm")), 4)
    pairs = (
        cells.select(F.col(id_col).alias("neighbor_id"), F.col("v").alias("cv"),
                     F.col("v_norm").alias("c_norm"), "cell")
        .join(F.broadcast(probes), ["cell"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "cv", "c_norm")
        .dropDuplicates(["query_id", "neighbor_id"])
        .join(F.broadcast(qv), "query_id")
        .select("query_id", "neighbor_id", score.alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("neighbor_id").asc())
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


def embedding_neardup(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.38,
) -> DataFrame:
    """All pairs with cosine ≥ threshold — simple pure-DataFrame form.

    O(n²) pair rows through the JVM expression path; correct at any
    size but the blocked variant below is the one to run (vectorized
    matmul, ~50× less per-pair overhead)."""
    base = with_norm(emb, vec_col)
    a = base.select(F.col(id_col).alias("id_a"), F.col("v").alias("va"), F.col("v_norm").alias("na"))
    b = base.select(F.col(id_col).alias("id_b"), F.col("v").alias("vb"), F.col("v_norm").alias("nb"))
    score = F.round(_dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 4)
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", score.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def embedding_neardup_blocked(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.38,
    n_blocks: int = 8,
) -> DataFrame:
    """All-pairs cosine ≥ threshold via block-matrix products.

    Vectors hash into n_blocks blocks; each of the B(B+1)/2 block
    pairs becomes one task computing a numpy matmul over its two
    (s×dim) matrices and emitting only the above-threshold pairs.
    Per-pair cost is a SIMD multiply-add instead of an interpreted
    expression; shuffle volume is O(n·dim·B) (each block ships to B
    partners), and the pair space never materializes as rows.

    At 100 TB scale the same operator runs after LSH bucketing (join
    blocks on bucket instead of all-pairs) — the matmul kernel is
    unchanged.
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    blk = emb.select(
        F.col(id_col).alias("vid").cast("long"),
        F.col(vec_col).cast("array<double>").alias("v"),
        F.pmod(F.col(id_col).cast("long"), F.lit(n_blocks)).alias("blk"),
    )
    packed = blk.groupBy("blk").agg(
        F.collect_list(F.struct("vid", "v")).alias("vecs")
    )
    pa = packed.select(F.col("blk").alias("blk_a"), F.col("vecs").alias("vecs_a"))
    pb = packed.select(F.col("blk").alias("blk_b"), F.col("vecs").alias("vecs_b"))
    block_pairs = pa.join(pb, F.col("blk_a") <= F.col("blk_b")).repartition(
        n_blocks * (n_blocks + 1) // 2
    )

    out_schema = StructType(
        [
            StructField("id_a", LongType()),
            StructField("id_b", LongType()),
            StructField("cosine", DoubleType()),
        ]
    )

    def score_blocks(batches):
        for pdf in batches:
            for _, row in pdf.iterrows():
                ids_a = np.array([x["vid"] for x in row["vecs_a"]], dtype=np.int64)
                mat_a = np.array([x["v"] for x in row["vecs_a"]], dtype=np.float64)
                ids_b = np.array([x["vid"] for x in row["vecs_b"]], dtype=np.int64)
                mat_b = np.array([x["v"] for x in row["vecs_b"]], dtype=np.float64)
                na = np.linalg.norm(mat_a, axis=1)
                nb = np.linalg.norm(mat_b, axis=1)
                sim = (mat_a @ mat_b.T) / np.outer(na, nb)
                sim = np.floor(sim * 10000 + 0.5) / 10000  # dround(4)
                ia, ib = np.nonzero(sim >= threshold)
                lhs, rhs = ids_a[ia], ids_b[ib]
                if row["blk_a"] == row["blk_b"]:
                    # same block: each unordered pair appears twice +
                    # the diagonal; keep the ordered half
                    keep = lhs < rhs
                    lo, hi, sc = lhs[keep], rhs[keep], sim[ia, ib][keep]
                else:
                    # disjoint blocks: each pair appears exactly once;
                    # normalize id order
                    lo = np.minimum(lhs, rhs)
                    hi = np.maximum(lhs, rhs)
                    sc = sim[ia, ib]
                yield pd.DataFrame({"id_a": lo, "id_b": hi, "cosine": sc})

    return block_pairs.mapInPandas(score_blocks, out_schema)


def lsh_auto_params(
    n_rows: int,
    base_planes: int,
    base_tables: int,
    p_ref: float,
    target_bucket: int = 128,
) -> tuple[int, int]:
    """Corpus-size-scaled sign-LSH parameters (planes P, tables L).

    With FIXED plane count, expected bucket size grows linearly with
    the corpus, so per-bucket candidate pairs grow QUADRATICALLY —
    the round-12 sf1→sf10 probe measured ~100× candidates on 10× data.
    The fix is the textbook one: P = max(base, ⌈log₂(n / target)⌉)
    keeps E[bucket] ≈ target, and L is re-solved so the pairwise miss
    probability at the reference cosine's per-plane agreement p_ref
    stays at the base operating point: (1-p^P)^L ≤ (1-p^base_P)^base_L.
    Candidate volume then scales as L·n·target ∝ n^(1+log₂(1/p_ref))
    — sub-quadratic (e.g. n^1.33 at p_ref 0.795, n^1.59 at 2/3) —
    instead of n².

    The preserved operating point is the REFERENCE cosine p_ref ONLY.
    Pairs closer to the decision threshold (lower per-plane agreement
    p' < p_ref) lose recall as P grows, and steeply: miss there is
    (1-p'^P)^L, and p'^P shrinks much faster than p_ref^P (e.g. for
    the neardup family at the threshold cosine 0.38, p' ≈ 0.62 — at
    n=200k, P≈11/L≈28 the threshold-pair miss rises from ~0.45 base
    to ~0.85). This is inherent to holding candidate volume
    sub-quadratic with a single-probe banded scheme; callers that
    need threshold-cosine recall at scale should lower p_ref (more
    tables) and pay the candidate growth. `tools/probe_lsh_candidates
    .py` reports the analytic recall at BOTH cosines per SF so the
    degradation is measured, not implied.

    At every attestation/bench fixture (≤ 2 000 vectors) the formula
    returns the base parameters unchanged, so attested recall gates
    and bench numbers are parameter-identical; the scaling engages
    from ~10⁴ rows upward (sf1 fixtures and beyond).
    """
    if n_rows <= target_bucket:
        return base_planes, base_tables
    P = max(base_planes, math.ceil(math.log2(n_rows / target_bucket)))
    if P <= base_planes:
        return base_planes, base_tables
    miss = (1.0 - p_ref**base_planes) ** base_tables
    L = math.ceil(math.log(miss) / math.log(1.0 - p_ref**P))
    return P, max(base_tables, L)


#: Target vectors per scoring row: keeps the EXPECTED per-task matrix
#: near chunk_cap² scores (~8 MB of float64 at 1024) however skewed a
#: bucket is — a hot bucket becomes ~⌈m/cap⌉² cooperating tasks
#: instead of one straggler holding an m² matrix.  Hash assignment
#: gives an expected-size bound, not a hard cap.
#:
#: 1024 (was 2048), an r15 measured change: at the sf1 probe the
#: scoring stage's TOTAL CPU inflated 3.7× when run 32-wide vs 8-wide
#: (118.8 s vs 31.9 s for the same 486 MB input) — 32 concurrent
#: 2048²-double matmuls saturate memory bandwidth, so wide executors
#: ran SLOWER than narrow ones. 8 MB sim matrices keep each task's
#: working set near cache and restored ~core-count scaling
#: (embedding_knn_graph_lsh sf1/32c median 16.1 → 11.9 s; sf0.1
#: unaffected — fixture buckets rarely exceed either cap). Chunked ≡
#: unchunked is pinned in tests/test_similarity.py, so the cap is a
#: pure performance constant.
LSH_CHUNK_CAP = 1024


def _pack_lsh_chunks(hashed: DataFrame, chunk_cap: int) -> DataFrame:
    """(vid, v, tbl, bucket) → one row per (tbl, bucket, chk) with
    bounded, kernel-ready arrays: `vids` (array<long>) and `flat`
    (the chunk's vectors flattened to ONE array<double>).

    Chunk count is ⌈bucket_size/cap⌉ (a count() over the unordered
    (tbl, bucket) window — the same hash exchange the pack groupBy
    needs, so Spark inserts no second shuffle); chunk assignment is
    Fibonacci bucketing — ``h = (vid·2654435761) mod 2³²`` then
    ``chk = (h·nch) >> 32`` — so the chunk comes from the hash's HIGH
    bits.  A raw ``h mod nch`` degenerates when vid strides share a
    factor with nch (e.g. the incremental batch families emit
    vid ≡ 0 mod 4; with even nch a raw mod folds them onto half the
    chunks), which re-creates the straggler the chunking exists to
    break.  The hash gives an EXPECTED size ≈ cap per chunk, not a
    hard bound — kernels accept any chunk size, and chunked ≡
    unchunked is tested, so an over-expected chunk costs time only.
    Assignment stays a deterministic function of vid, so a vector's
    chunk is stable across runs and incremental-maintenance batches.

    The flat layout is a measured ~10× kernel constant: Arrow hands
    the Python side ONE contiguous double array per chunk
    (np.asarray + reshape, no per-struct dict access over m·dim
    elements — at sf10 that access pattern, not BLAS, dominated the
    kernel). vid↔row correspondence is guaranteed by extracting both
    from the SAME collect_list(struct) — field extraction and
    flatten are JVM-side transforms of one array, not two separately
    ordered aggregates.
    """
    wb = Window.partitionBy("tbl", "bucket")
    nch = F.greatest(
        F.lit(1).cast("long"),
        F.ceil(F.count(F.lit(1)).over(wb) / F.lit(chunk_cap)).cast("long"),
    )
    h = F.pmod(
        F.pmod(F.col("vid"), F.lit(2147483648)) * F.lit(2654435761),
        F.lit(4294967296),
    )
    chk = F.shiftright(h * nch, 32).cast("int")
    return (
        hashed.withColumn("chk", chk)
        .groupBy("tbl", "bucket", "chk")
        .agg(F.collect_list(F.struct("vid", "v")).alias("vecs"))
        .select(
            "tbl",
            "bucket",
            "chk",
            F.col("vecs.vid").alias("vids"),
            F.flatten(F.col("vecs.v")).alias("flat"),
        )
    )


def _decode_chunk(vids, flat):
    """Decode one packed chunk: (ids int64[m], mat float64[m, dim]),
    sorted by id — `_topk_select`'s integer tie key needs ascending
    column ids."""
    ids = np.asarray(vids, dtype=np.int64)
    mat = np.asarray(flat, dtype=np.float64).reshape(len(ids), -1)
    o = np.argsort(ids)
    return ids[o], mat[o]


def _topk_select(sim_r, kk):
    """Per-row top-kk column indices by (score desc, id asc) in
    O(m·n) selection time — NOT an O(m·n log n) full lexsort, which
    measurably dominated the sf10 kernel over the actual gemm.

    sim_r must already be dround(4)-rounded and its columns sorted by
    ascending id: scores then live on the 1e-4 integer grid, so
    key = score_int·(n+1) − col gives the EXACT total order of the
    ranking comparator in one int64 (|score_int| ≤ 20001, n ≤
    chunk_cap ⇒ no overflow), and argpartition's arbitrary tie
    handling can never reorder equal keys — there are none."""
    n = sim_r.shape[1]
    key = np.rint(sim_r * 10000.0).astype(np.int64) * (n + 1) - np.arange(
        n, dtype=np.int64
    )
    if kk < n:
        part = np.argpartition(-key, kk - 1, axis=1)[:, :kk]
    else:
        part = np.broadcast_to(np.arange(n), sim_r.shape).copy()
    pk = np.take_along_axis(key, part, axis=1)
    order = np.argsort(-pk, axis=1)
    return np.take_along_axis(part, order, axis=1)


def _topk_arrays(row_ids, col_ids, sim_r, kk):
    """(node_id, neighbor_id, score) arrays of each row's top-kk;
    -2.0 sentinel entries (self-pairs / padding) are dropped."""
    top = _topk_select(sim_r, kk)
    sc = np.take_along_axis(sim_r, top, axis=1).ravel()
    keep = sc > -2.0
    return (
        np.repeat(row_ids, top.shape[1])[keep],
        col_ids[top.ravel()][keep],
        sc[keep],
    )


def _lsh_chunk_pairs(packed: DataFrame) -> DataFrame:
    """Self-join chunks within each (tbl, bucket): every unordered
    chunk pair once (chk_a ≤ chk_b) — an equi-join on the bucket key,
    hash-partitionable at any scale, never a cartesian product."""
    pa = packed.select(
        "tbl",
        "bucket",
        F.col("chk").alias("chk_a"),
        F.col("vids").alias("vids_a"),
        F.col("flat").alias("flat_a"),
    )
    pb = packed.select(
        "tbl",
        "bucket",
        F.col("chk").alias("chk_b"),
        F.col("vids").alias("vids_b"),
        F.col("flat").alias("flat_b"),
    )
    return pa.join(pb, ["tbl", "bucket"]).filter(F.col("chk_a") <= F.col("chk_b"))


def embedding_neardup_lsh(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.38,
    n_planes: int | None = None,
    n_tables: int | None = None,
    dim: int = 64,
    seed: int = 7,
    chunk_cap: int = LSH_CHUNK_CAP,
    target_bucket: int = 128,
    n_rows: int | None = None,
) -> DataFrame:
    """All-pairs cosine ≥ threshold with a sign-LSH prefilter — the
    100 TB path of `embedding_neardup_blocked`.

    Base 5 planes × 6 tables: for a cosine-0.8 pair the per-plane
    agreement is p = 1 − arccos(0.8)/π ≈ 0.795, so miss probability is
    (1 − p⁵)⁶ ≈ 0.10 — ~0.9 worst-case recall at the usual dedup
    thresholds. Pass n_planes/n_tables=None (the default) and both
    scale with corpus size via `lsh_auto_params` (p_ref 0.795, the
    recall-reference cosine): expected bucket size stays ≈
    target_bucket, the operating-point miss probability is preserved
    by raising table count alongside plane count, and candidate
    volume grows ~n^1.33 instead of n².

    Candidate pairs must share a bucket in ≥1 of n_tables hash tables;
    every (table, bucket, chunk-pair) becomes one bounded numpy-matmul
    task (`_pack_lsh_chunks`: chunks have EXPECTED size ≈ chunk_cap
    under Fibonacci bucketing, so a skewed hot bucket is ~⌈m/cap⌉²
    parallel tasks, not one straggler). Shuffle volume is n_tables × corpus
    rows keyed by (tbl, bucket); candidate volume is Σ bucket². A pair
    colliding in several tables/chunk-pairs is collapsed by a
    (id_a, id_b) groupBy taking max(cosine) — NOT distinct(), so no
    bitwise-reproducibility assumption on BLAS summation order is
    needed (collisions score equal up to reassociation; max picks one
    deterministically).
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    if n_planes is None or n_tables is None:
        # builder-call-time count only when the caller didn't pass
        # n_rows — for an expensive upstream emb, pass the known size
        # so DataFrame construction stays side-effect-free
        auto_p, auto_t = lsh_auto_params(
            emb.count() if n_rows is None else n_rows,
            5, 6, p_ref=0.795, target_bucket=target_bucket,
        )
        n_planes = n_planes if n_planes is not None else auto_p
        n_tables = n_tables if n_tables is not None else auto_t

    base = emb.select(
        F.col(id_col).cast("long").alias("vid"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    # all table codes in one vectorized Arrow pass (position = table id);
    # vectors never cross to Python — only the T-long code array does
    codes = signlsh_codes_udf(n_planes, n_tables, dim, seed)
    hashed = base.select(
        "vid", "v", F.posexplode(codes(F.col("v"))).alias("tbl", "bucket")
    )
    pairs = _lsh_chunk_pairs(_pack_lsh_chunks(hashed, chunk_cap))

    out_schema = StructType(
        [
            StructField("id_a", LongType()),
            StructField("id_b", LongType()),
            StructField("cosine", DoubleType()),
        ]
    )

    def score_chunk_pairs(batches):
        # zip over columns (iterrows builds a Series per row) and emit
        # ONE DataFrame per Arrow batch (one per chunk-pair row would
        # mean hundreds of thousands of tiny frames at sf10)
        for pdf in batches:
            outs = []
            for ca, cb, va, fa, vb, fb in zip(
                pdf["chk_a"],
                pdf["chk_b"],
                pdf["vids_a"],
                pdf["flat_a"],
                pdf["vids_b"],
                pdf["flat_b"],
            ):
                same = ca == cb
                ids_a, mat_a = _decode_chunk(va, fa)
                if same:
                    if len(ids_a) < 2:
                        continue
                    ids_b, mat_b = ids_a, mat_a
                else:
                    ids_b, mat_b = _decode_chunk(vb, fb)
                na = np.linalg.norm(mat_a, axis=1)
                nb = np.linalg.norm(mat_b, axis=1)
                sim = (mat_a @ mat_b.T) / np.outer(na, nb)
                sim = np.floor(sim * 10000 + 0.5) / 10000  # dround(4)
                ia, ib = np.nonzero(sim >= threshold)
                lhs, rhs = ids_a[ia], ids_b[ib]
                if same:
                    keep = lhs < rhs  # ordered half, no diagonal
                    outs.append((lhs[keep], rhs[keep], sim[ia, ib][keep]))
                else:
                    # disjoint chunks: each pair once; normalize order
                    outs.append(
                        (
                            np.minimum(lhs, rhs),
                            np.maximum(lhs, rhs),
                            sim[ia, ib],
                        )
                    )
            if outs:
                yield pd.DataFrame(
                    {
                        "id_a": np.concatenate([o[0] for o in outs]),
                        "id_b": np.concatenate([o[1] for o in outs]),
                        "cosine": np.concatenate([o[2] for o in outs]),
                    }
                )

    return (
        pairs.mapInPandas(score_chunk_pairs, out_schema)
        .groupBy("id_a", "id_b")
        .agg(F.max("cosine").alias("cosine"))
    )


def knn_graph_lsh(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    n_planes: int | None = None,
    n_tables: int | None = None,
    dim: int = 64,
    seed: int = 7,
    chunk_cap: int = LSH_CHUNK_CAP,
    target_bucket: int = 128,
    n_rows: int | None = None,
) -> DataFrame:
    """Approximate kNN graph for EVERY corpus node via banded sign-LSH
    candidates — the full-graph materialization of
    `embedding_knn_graph_topk`'s sampled-stratum contract (that key
    pins the exact semantics; this operator swaps the stratum
    predicate for the candidate join, exactly as its docstring
    promises).

    Returns (node_id, neighbor_id, score, rank): per node, its top-k
    among all candidates that share a bucket in ≥1 of n_tables hash
    tables, scored by dround(4) cosine — identical ranking comparator
    (score desc, id asc) to the exact key.

    Scale shape (what makes this the 100 TB path):
    - hashing is ONE Arrow-batched numpy matmul per batch
      (`signlsh_codes_udf`); vectors never cross to Python row-wise;
    - shuffle volume is n_tables × corpus keyed by (tbl, bucket) —
      never all-pairs;
    - each chunk-pair emits AT MOST k edges per member (map-side
      partial top-k inside the matmul kernel): global top-k over a
      node's candidate-set union equals top-k over the union of its
      per-chunk-pair top-k lists (a candidate's rank within any
      shared chunk-pair lower-bounds its rank in the union — the
      standard distributive-top-k argument), so the edge shuffle is
      ≤ n_tables·⌈bucket/chunk_cap⌉·k rows per node — linear in the
      corpus while buckets hold the `lsh_auto_params` target;
    - collisions across tables/chunk-pairs are collapsed by a
      (node_id, neighbor_id) groupBy taking max(score) — NOT
      distinct(), so no bitwise-reproducibility assumption on BLAS
      summation order is needed;
    - the final per-node top-k is one hash-partitioned window over
      that linear edge relation.

    Base 4 planes × 12 tables: measured pooled recall@3 vs the exact
    stratum edges is 0.85–0.89 on every fixture SF (all strong edges
    ≥ 0.5 cosine found, coverage 1.0). Pass n_planes/n_tables=None
    (the default) and both scale with corpus size via
    `lsh_auto_params` (p_ref = 1 − arccos(0.5)/π = 2/3, the
    strong-edge cosine): bucket size stays bounded, the strong-edge
    miss probability holds at the base operating point, and candidate
    volume grows ~n^1.59 instead of n². Per-bucket work is chunked
    (`_pack_lsh_chunks`) so a skewed hot bucket parallelizes instead
    of becoming one straggler task; the per-chunk-pair partial top-k
    keeps the distributive argument (rank within a chunk-pair
    lower-bounds rank within the bucket, which lower-bounds rank in
    the candidate union). Scores use round-half-away-from-zero
    (`np_dround`) — the knn-family oracles say round(expr, 4), and a
    negative cosine on a half-grid point must round identically
    cross-engine or a top-k tie flips.
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    from ..functions.rounding import np_dround

    if n_planes is None or n_tables is None:
        # see embedding_neardup_lsh: pass n_rows to skip this eager job
        auto_p, auto_t = lsh_auto_params(
            emb.count() if n_rows is None else n_rows,
            4, 12, p_ref=2.0 / 3.0, target_bucket=target_bucket,
        )
        n_planes = n_planes if n_planes is not None else auto_p
        n_tables = n_tables if n_tables is not None else auto_t

    base = emb.select(
        F.col(id_col).cast("long").alias("vid"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    codes = signlsh_codes_udf(n_planes, n_tables, dim, seed)
    hashed = base.select(
        "vid", "v", F.posexplode(codes(F.col("v"))).alias("tbl", "bucket")
    )
    pairs = _lsh_chunk_pairs(_pack_lsh_chunks(hashed, chunk_cap))

    out_schema = StructType(
        [
            StructField("node_id", LongType()),
            StructField("neighbor_id", LongType()),
            StructField("score", DoubleType()),
        ]
    )

    def chunk_pair_topk(batches):
        # zip over columns + one DataFrame per Arrow batch + O(m·n)
        # integer-key selection (_topk_select): at sf10 the iterrows /
        # per-bucket-DataFrame / full-lexsort overheads dominated the
        # actual gemm several-fold
        for pdf in batches:
            outs = []
            for ca, cb, va, fa, vb, fb in zip(
                pdf["chk_a"],
                pdf["chk_b"],
                pdf["vids_a"],
                pdf["flat_a"],
                pdf["vids_b"],
                pdf["flat_b"],
            ):
                same = ca == cb
                ids_a, mat_a = _decode_chunk(va, fa)
                if same:
                    if len(ids_a) < 2:
                        continue
                    na = np.linalg.norm(mat_a, axis=1)
                    sim = (mat_a @ mat_a.T) / np.outer(na, na)
                    sim = np_dround(sim, 4)
                    np.fill_diagonal(sim, -2.0)  # exclude self
                    kk = min(k, len(ids_a) - 1)
                    outs.append(_topk_arrays(ids_a, ids_a, sim, kk))
                else:
                    ids_b, mat_b = _decode_chunk(vb, fb)
                    na = np.linalg.norm(mat_a, axis=1)
                    nb = np.linalg.norm(mat_b, axis=1)
                    sim = (mat_a @ mat_b.T) / np.outer(na, nb)
                    sim = np_dround(sim, 4)
                    # disjoint chunks: no diagonal; emit BOTH directions
                    outs.append(
                        _topk_arrays(ids_a, ids_b, sim, min(k, len(ids_b)))
                    )
                    outs.append(
                        _topk_arrays(ids_b, ids_a, sim.T, min(k, len(ids_a)))
                    )
            if outs:
                yield pd.DataFrame(
                    {
                        "node_id": np.concatenate([o[0] for o in outs]),
                        "neighbor_id": np.concatenate([o[1] for o in outs]),
                        "score": np.concatenate([o[2] for o in outs]),
                    }
                )

    edges = (
        pairs.mapInPandas(chunk_pair_topk, out_schema)
        .groupBy("node_id", "neighbor_id")
        .agg(F.max("score").alias("score"))
    )
    w = Window.partitionBy("node_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        edges.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "node_id",
            "neighbor_id",
            "score",
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


def semantic_dedup(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
) -> DataFrame:
    """SemDeDup-style semantic dedup: partition the embedding space
    into n_cells (seedless deterministic coarse quantizer), keep ONE
    representative per cell — the member closest to its centroid.

    Returns (cell, n_members, rep_id, rep_score). Everything except
    the final per-cell pick is the IVF assignment pass: centroids are
    O(n_cells·dim), packed into one broadcast array row; assignment is
    a map-side array argmax (`_scored_cells` — zero shuffle of the
    corpus). The per-cell representative is a groupBy with map-side
    partial `max_by`, so the only shuffle in the whole operator moves
    n_cells × n_partitions partial rows, not the corpus. Centroid
    choice is the n_cells vectors minimizing (id·2654435761) mod
    1000003 — a fixed multiplicative hash both engines can compute
    (unlike xxhash64), so the whole operator is oracle-checkable. At
    corpus scale n_cells grows ~√N (documented upgrade: k-means
    centroids refreshed per ingest batch; the plan shape is unchanged).
    """
    base = with_norm(emb, vec_col)
    hkey = ((F.col(id_col) % F.lit(2147483648)) * F.lit(2654435761)) % F.lit(1000003)
    w_cent = Window.orderBy(hkey.asc(), F.col(id_col).asc())
    cents = (
        base.orderBy(hkey.asc(), F.col(id_col).asc())
        .limit(n_cells)
        .select(
            (F.row_number().over(w_cent) - 1).alias("cell"),
            F.col("v").alias("cv"),
            F.col("v_norm").alias("cnrm"),
        )
    )
    cent_arr = cents.agg(
        F.collect_list(F.struct("cell", "cv", "cnrm")).alias("cents")
    )
    best = F.array_max(_scored_cells(F.col("cents"), round_dp=6))
    assigned = (
        base.select(id_col, "v", "v_norm")
        .join(F.broadcast(cent_arr))  # 1-row broadcast: adds `cents`
        # explode(array(x)) barrier: unpacking two fields from the argmax
        # struct would otherwise inline the 16-dot-product transform twice
        .select(F.col(id_col), F.explode(F.array(best)).alias("best"))
        .select(
            F.col(id_col),
            (-F.col("best.negcell")).alias("cell"),
            F.col("best.cscore").alias("cscore"),
        )
    )
    # rep = member maximizing (cscore, -id): cscore desc, id asc —
    # partial-aggregable, unlike a per-cell window over all members.
    ordkey = F.struct(F.col("cscore"), (-F.col(id_col)).alias("negid"))
    return assigned.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.max_by(F.col(id_col), ordkey).alias("rep_id"),
        F.max(F.col("cscore")).alias("rep_score"),
    )


def neardup_stratum_exact(
    emb: DataFrame,
    mod: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.38,
) -> DataFrame:
    """EXACT near-dup pairs touching a deterministic node stratum
    (id % mod == 0) — the bounded ground-truth twin that lets the LSH
    key's recall attestation run at ANY scale factor (r13 verdict item
    7): cost is |stratum| × corpus, never corpus², and |stratum| is
    the caller's dial (the registered key scales mod with n so the
    stratum stays ~1k queries).

    Same posture as the kNN-graph audit (`_knn_graph_edges`): the
    stratum matrix is bounded driver state broadcast to every
    partition; each corpus Arrow batch scores against ALL stratum
    vectors in one numpy matmul and emits only the ≥-threshold pairs,
    id-normalized (lo, hi). A pair with BOTH endpoints in the stratum
    surfaces from each anchor; the groupBy-max collapse picks one
    (scores are the same product reassociated — the repo-wide
    no-float-distinct discipline). Rounding is the neardup family's
    floor(x·1e4+0.5) — the oracle mirrors it literally."""
    import numpy as np
    import pandas as pd

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    base = emb.select(
        F.col(id_col).cast("long").alias("vid"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    qrows = base.filter(F.col("vid") % mod == 0).collect()
    qids = np.array([r["vid"] for r in qrows], dtype=np.int64)
    qmat = np.array([list(r["v"]) for r in qrows], dtype=np.float64)
    qnrm = np.linalg.norm(qmat, axis=1)

    out_schema = StructType(
        [
            StructField("id_a", LongType()),
            StructField("id_b", LongType()),
            StructField("cosine", DoubleType()),
        ]
    )

    def score_batches(batches):
        for pdf in batches:
            if len(pdf) == 0 or len(qids) == 0:
                continue
            ids = pdf["vid"].to_numpy(dtype=np.int64)
            mat = np.array(pdf["v"].tolist(), dtype=np.float64)
            nrm = np.linalg.norm(mat, axis=1)
            sim = (qmat @ mat.T) / np.outer(qnrm, nrm)
            sim = np.floor(sim * 10000 + 0.5) / 10000
            qi, ci = np.nonzero(sim >= threshold)
            lhs, rhs = qids[qi], ids[ci]
            keep = lhs != rhs
            lo = np.minimum(lhs[keep], rhs[keep])
            hi = np.maximum(lhs[keep], rhs[keep])
            yield pd.DataFrame(
                {"id_a": lo, "id_b": hi, "cosine": sim[qi, ci][keep]}
            )

    return (
        base.mapInPandas(score_batches, out_schema)
        .groupBy("id_a", "id_b")
        .agg(F.max("cosine").alias("cosine"))
    )
