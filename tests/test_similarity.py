"""Behavioral tests for similarity search: exact ranking on known
geometry, and LSH recall on planted clusters (the scale path's gate)."""

from __future__ import annotations

import math
import random

from reports_generator_spark.operators.similarity import (
    cosine_topk,
    cosine_topk_ivf,
    cosine_topk_lsh,
    embedding_neardup,
)

DIM = 8


def _vec(*axes: float) -> list[float]:
    v = list(axes) + [0.0] * (DIM - len(axes))
    return v


def test_exact_topk_known_geometry(spark):
    rows = [
        (0, _vec(1.0, 0.0)),            # query
        (1, _vec(1.0, 0.1)),            # closest
        (2, _vec(1.0, 0.5)),            # second
        (3, _vec(0.0, 1.0)),            # orthogonal
        (4, _vec(-1.0, 0.0)),           # opposite
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = cosine_topk(emb, [0], k=4).orderBy("rank").collect()
    assert [r["neighbor_id"] for r in out] == [1, 2, 3, 4]
    assert out[0]["score"] > 0.99
    assert abs(out[2]["score"]) < 1e-6      # orthogonal ⇒ 0
    assert out[3]["score"] == -1.0          # opposite ⇒ -1


def test_lsh_recall_on_planted_clusters(spark):
    """10 clusters of 20 vectors; LSH top-5 must recover most of the
    exact top-5 (same-cluster vectors collide in sign-LSH buckets)."""
    rng = random.Random(7)
    rows = []
    vid = 0
    for c in range(10):
        centroid = [rng.gauss(0, 1) for _ in range(64)]
        n = math.sqrt(sum(x * x for x in centroid))
        centroid = [x / n for x in centroid]
        for _ in range(20):
            noise = [rng.gauss(0, 0.05) for _ in range(64)]
            rows.append((vid, [c + n2 for c, n2 in zip(centroid, noise)]))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = [0, 20, 40, 60, 80]

    exact = cosine_topk(emb, queries, k=5).collect()
    approx = cosine_topk_lsh(emb, queries, k=5, n_planes=4, dim=64).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    approx_sets = {}
    for r in approx:
        approx_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])

    hits = total = 0
    for q in queries:
        total += len(exact_sets[q])
        hits += len(exact_sets[q] & approx_sets.get(q, set()))
    recall = hits / total
    assert recall >= 0.8, f"LSH recall@5 too low: {recall}"


def test_ivf_recall_on_planted_clusters(spark):
    """Same planted geometry as the LSH test: IVF with enough probes
    must recover most of the exact top-5 (cluster members land in the
    same coarse cell as their query)."""
    rng = random.Random(7)
    rows = []
    vid = 0
    for c in range(10):
        centroid = [rng.gauss(0, 1) for _ in range(64)]
        n = math.sqrt(sum(x * x for x in centroid))
        centroid = [x / n for x in centroid]
        for _ in range(20):
            noise = [rng.gauss(0, 0.05) for _ in range(64)]
            rows.append((vid, [c + n2 for c, n2 in zip(centroid, noise)]))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = [0, 20, 40, 60, 80]

    exact = cosine_topk(emb, queries, k=5).collect()
    approx = cosine_topk_ivf(emb, queries, k=5, n_cells=16, n_probe=4).collect()
    exact_sets: dict[int, set[int]] = {}
    for r in exact:
        exact_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    approx_sets: dict[int, set[int]] = {}
    for r in approx:
        approx_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])

    hits = total = 0
    for q in queries:
        total += len(exact_sets[q])
        hits += len(exact_sets[q] & approx_sets.get(q, set()))
    recall = hits / total
    assert recall >= 0.8, f"IVF recall@5 too low: {recall}"


def test_neardup_lsh_recall_on_planted_clusters(spark):
    """LSH-prefiltered near-dup must recover most of the exact
    above-threshold pairs on planted clusters (same-cluster vectors
    agree on most hyperplane signs)."""
    from reports_generator_spark.operators.similarity import embedding_neardup_lsh

    rng = random.Random(11)
    rows = []
    vid = 0
    for _ in range(8):
        centroid = [rng.gauss(0, 1) for _ in range(64)]
        n = math.sqrt(sum(x * x for x in centroid))
        centroid = [x / n for x in centroid]
        for _ in range(10):
            noise = [rng.gauss(0, 0.05) for _ in range(64)]
            rows.append((vid, [c + n2 for c, n2 in zip(centroid, noise)]))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    exact = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_neardup(emb, threshold=0.8).collect()
    }
    approx = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_neardup_lsh(emb, threshold=0.8, dim=64).collect()
    }
    assert exact, "fixture must plant above-threshold pairs"
    recall = len(exact.keys() & approx.keys()) / len(exact)
    assert recall >= 0.8, f"LSH near-dup recall too low: {recall}"
    # no false positives, identical scores where found
    assert set(approx) <= set(exact)
    for pair, score in approx.items():
        assert score == exact[pair]


def test_neardup_symmetric_pairs(spark):
    rows = [
        (0, _vec(1.0, 0.0)),
        (1, _vec(1.0, 0.01)),   # near-dup of 0
        (2, _vec(0.0, 1.0)),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {(r["id_a"], r["id_b"]) for r in embedding_neardup(emb, threshold=0.9).collect()}
    assert out == {(0, 1)}  # id_a < id_b exactly once, no self-pairs


def test_signlsh_codes_udf_matches_expression_form(spark):
    """The vectorized multi-table hashing (signlsh_codes_udf, the hot
    path) must produce BIT-IDENTICAL bucket codes to the expression
    spelling (signlsh_bucket, the semantic reference) — same plane
    seeds, same sign rule, same bit packing — at both registered
    parameterizations. This is the contract that made the round-10
    swap value-neutral."""
    from pyspark.sql import functions as F

    from conftest import SF_DIR
    from reports_generator_spark.operators.similarity import (
        random_hyperplanes,
        signlsh_bucket,
        signlsh_codes_udf,
    )
    from reports_generator_spark.sources import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    base = emb.select(
        F.col("vec_id").cast("long").alias("vid"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    for n_planes, n_tables, seed in [(5, 6, 7), (4, 4, 42)]:
        ref = base.select(
            "vid",
            F.array(*[
                signlsh_bucket(
                    F.col("v"), random_hyperplanes(64, n_planes, seed + 1000 * t)
                )
                for t in range(n_tables)
            ]).alias("ref_codes"),
        )
        fast = base.select(
            "vid",
            signlsh_codes_udf(n_planes, n_tables, 64, seed)(F.col("v")).alias(
                "fast_codes"
            ),
        )
        n_diff = ref.join(fast, "vid").filter(
            F.col("ref_codes") != F.col("fast_codes")
        ).count()
        assert n_diff == 0


def test_knn_graph_lsh_recovers_exact_graph_on_planted_clusters(spark):
    """Full-graph kNN via LSH: on tight planted clusters (where
    within-cluster cosine >> cross-cluster) the approximate graph must
    equal the exact brute-force kNN graph for EVERY node — ids, scores
    and ranks — and respect the degree bound. Also pins determinism
    (seeded hyperplanes + frozen input => identical output)."""
    import math
    import random as _r

    from pyspark.sql import functions as F

    from reports_generator_spark.operators.similarity import knn_graph_lsh

    rng = _r.Random(13)
    rows = []
    vid = 0
    for c in range(6):
        centroid = [rng.gauss(0, 1) for _ in range(64)]
        n = math.sqrt(sum(x * x for x in centroid))
        centroid = [x / n for x in centroid]
        for _ in range(10):
            noise = [rng.gauss(0, 0.03) for _ in range(64)]
            rows.append((vid, [a + b for a, b in zip(centroid, noise)]))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    got = {
        (r["node_id"], r["rank"]): (r["neighbor_id"], r["score"])
        for r in knn_graph_lsh(emb, k=3).collect()
    }
    # exact brute-force kNN graph with the same comparator
    import numpy as np

    ids = np.array([r[0] for r in rows])
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    nrm = np.linalg.norm(mat, axis=1)
    sim = (mat @ mat.T) / np.outer(nrm, nrm)
    sim = np.floor(sim * 10000 + 0.5) / 10000
    np.fill_diagonal(sim, -2)
    want = {}
    for i in range(len(ids)):
        order = sorted(range(len(ids)), key=lambda j: (-sim[i, j], ids[j]))
        for rk, j in enumerate(order[:3], start=1):
            want[(ids[i], rk)] = (ids[j], sim[i, j])
    assert got == want

    # per-node degree bound and determinism
    g2 = knn_graph_lsh(emb, k=3)
    assert g2.groupBy("node_id").count().agg(F.max("count")).collect()[0][0] <= 3
    got2 = {
        (r["node_id"], r["rank"]): (r["neighbor_id"], r["score"])
        for r in g2.collect()
    }
    assert got2 == got


def test_knn_graph_lsh_bucket_topk_is_distributive(spark):
    """The map-side per-bucket top-k prune must be lossless: a node's
    global top-k over its candidate-set UNION equals top-k over the
    union of its per-bucket top-k lists. Verified against a
    brute-force candidate-set recomputation (same hyperplane seeds)
    on a corpus small enough to enumerate."""
    import random as _r

    import numpy as np

    from reports_generator_spark.operators.similarity import (
        knn_graph_lsh,
        random_hyperplanes,
    )

    rng = _r.Random(99)
    rows = [
        (i, [rng.gauss(0, 1) for _ in range(64)]) for i in range(120)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    K, P, L, SEED = 3, 4, 12, 7
    got = {}
    for r in knn_graph_lsh(emb, k=K, n_planes=P, n_tables=L, seed=SEED).collect():
        got.setdefault(r["node_id"], []).append(
            (r["rank"], r["neighbor_id"], r["score"])
        )

    # brute-force reference: full candidate sets, then global top-k.
    # float32 round-trip matches the array<float> column the operator
    # reads (cast to double happens after storage truncation).
    from reports_generator_spark.functions.rounding import np_dround

    ids = np.array([r[0] for r in rows])
    mat = np.array([r[1] for r in rows], dtype=np.float32).astype(np.float64)
    nrm = np.linalg.norm(mat, axis=1)
    sim = (mat @ mat.T) / np.outer(nrm, nrm)
    sim = np_dround(sim, 4)  # the kernel's half-away-from-zero rule
    cands = [set() for _ in range(len(ids))]
    for t in range(L):
        H = np.array(random_hyperplanes(64, P, SEED + 1000 * t))
        bits = (mat @ H.T) >= 0
        code = (bits * (1 << np.arange(P))).sum(axis=1)
        for b in np.unique(code):
            members = np.where(code == b)[0]
            for i in members:
                cands[i].update(members)
    want = {}
    for i in range(len(ids)):
        cs = sorted(
            cands[i] - {i}, key=lambda j: (-sim[i, j], ids[j])
        )[:K]
        if cs:
            want[ids[i]] = [
                (rk, ids[j], sim[i, j]) for rk, j in enumerate(cs, start=1)
            ]
    got = {k: sorted(v) for k, v in got.items()}
    assert got == want


def test_vector_index_append_conflicts_with_requantization(spark, tmp_path):
    """The append's OCC read_set names the quantizer artifact: a
    concurrent commit that REPLACES the centroids (re-clustering)
    must abort the batch append (its assignments were computed under
    the old quantizer — publishing them would mix quantizers), while
    an unrelated concurrent append rebases cleanly."""
    import os

    import pytest as _pt

    from reports_generator_spark.storage import (
        CommitConflict,
        atomic_claim,
        commit_with_conflict_detection,
    )

    base = str(tmp_path / "vix")
    os.makedirs(os.path.join(base, "data"))
    assert atomic_claim(
        os.path.join(base, "manifest-v1.txt"),
        "\n".join(["vec_base", "centroids_v1", "idx_base"]),
    )

    # concurrent re-clustering wins v2: swaps the quantizer
    commit_with_conflict_detection(
        base, 1,
        add=["centroids_v2", "idx_rebuilt"],
        remove=["centroids_v1", "idx_base"],
        read_set={"vec_base"},
    )
    # the in-flight append (computed against centroids_v1) must abort
    with _pt.raises(CommitConflict):
        commit_with_conflict_detection(
            base, 1,
            add=["vec_batch", "idx_batch"],
            remove=[],
            read_set={"centroids_v1"},
        )

    # fresh table: an unrelated append (new vector shard by another
    # writer) does NOT invalidate the quantizer — the batch rebases
    base2 = str(tmp_path / "vix2")
    os.makedirs(os.path.join(base2, "data"))
    assert atomic_claim(
        os.path.join(base2, "manifest-v1.txt"),
        "\n".join(["vec_base", "centroids_v1", "idx_base"]),
    )
    commit_with_conflict_detection(
        base2, 1, add=["vec_other", "idx_other"], remove=[],
        read_set={"centroids_v1"},
    )
    v, retries = commit_with_conflict_detection(
        base2, 1, add=["vec_batch", "idx_batch"], remove=[],
        read_set={"centroids_v1"},
    )
    assert v == 3 and retries >= 1
    from reports_generator_spark.storage import log_read

    assert sorted(log_read(base2, 3)) == sorted(
        ["vec_base", "centroids_v1", "idx_base",
         "vec_other", "idx_other", "vec_batch", "idx_batch"]
    )


def test_lsh_auto_params_bound_bucket_and_preserve_fixtures():
    """The corpus-size scaling rule (lsh_auto_params): fixture sizes
    keep the attested base parameters bit-identical; from sf1 sizes
    upward the plane count steps so E[bucket] ≈ target, the table
    count re-solves the base miss probability, and the implied
    candidate volume (L·n²/2^P) grows SUB-QUADRATICALLY — the round-12
    probe's ~100× candidates on 10× data is the defect this pins."""
    from reports_generator_spark.operators.similarity import lsh_auto_params

    # attested fixtures (500 / 2000 embeddings): parameters unchanged
    for n in (500, 2000):
        assert lsh_auto_params(n, 4, 12, p_ref=2 / 3) == (4, 12)
        assert lsh_auto_params(n, 5, 6, p_ref=0.795) == (5, 6)

    def cand(n, base_p, base_l, p_ref):
        P, L = lsh_auto_params(n, base_p, base_l, p_ref)
        return L * n * n / 2**P, P, L

    # sf1 -> sf10 (the probe decade): candidate growth well below 100x
    c1, p1, l1 = cand(20_000, 4, 12, 2 / 3)
    c10, p10, l10 = cand(200_000, 4, 12, 2 / 3)
    assert p10 > p1 >= 4  # planes actually scale
    # ~n^1.585 (log2(1/p_ref)=0.585) plus ceil effects ≈ 42x; fixed-P
    # would be 100x — the defect this pins
    assert c10 / c1 < 50, (c1, c10)

    # miss probability at the reference cosine never regresses
    import math as _m

    for n in (20_000, 200_000, 2_000_000):
        P, L = lsh_auto_params(n, 4, 12, p_ref=2 / 3)
        base_miss = (1 - (2 / 3) ** 4) ** 12
        assert (1 - (2 / 3) ** P) ** L <= base_miss + 1e-12
        # expected bucket size stays within 2x of target
        assert n / 2**P <= 2 * 128


def test_pack_lsh_chunks_bounds_rows_per_task(spark):
    """No scoring row ever packs more than chunk_cap vectors — even a
    pathological single hot bucket (every vector identical => every
    vector in one bucket per table) splits into ⌈m/cap⌉ chunks, and
    the chunk-pair join still covers every unordered chunk pair."""
    from pyspark.sql import functions as F

    from reports_generator_spark.operators.similarity import (
        _lsh_chunk_pairs,
        _pack_lsh_chunks,
        knn_graph_lsh,
    )

    n, cap = 300, 64
    hashed = (
        spark.range(n)
        .select(
            F.col("id").alias("vid"),
            F.array(F.lit(1.0), F.lit(0.0)).alias("v"),
            F.lit(0).alias("tbl"),
            F.lit(7).alias("bucket"),
        )
    )
    packed = _pack_lsh_chunks(hashed, cap)
    sizes = [r["sz"] for r in packed.select(F.size("vids").alias("sz")).collect()]
    assert max(sizes) <= cap, sizes
    assert sum(sizes) == n
    n_chunks = len(sizes)
    assert n_chunks >= -(-n // cap)  # at least ceil(n/cap) chunks
    n_pairs = _lsh_chunk_pairs(packed).count()
    assert n_pairs == n_chunks * (n_chunks + 1) // 2

    # end-to-end on the hot-bucket corpus: a tiny chunk_cap still
    # yields exactly the same graph as unchunked scoring
    import random as _r

    rng = _r.Random(5)
    rows = [(i, [rng.gauss(0, 1) for _ in range(64)]) for i in range(150)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    big = knn_graph_lsh(emb, k=3, n_planes=2, n_tables=2, chunk_cap=10_000)
    small = knn_graph_lsh(emb, k=3, n_planes=2, n_tables=2, chunk_cap=16)
    assert sorted(map(tuple, big.collect())) == sorted(map(tuple, small.collect()))


def test_topk_merge_rule_distributive_under_ties():
    """Property fuzz (VERDICT r12 item 7): the incremental-maintenance
    family rests on topk(A ∪ B) = topk(topk(A) ∪ B) under the
    (score desc, id asc) comparator. Random candidate sets with
    DELIBERATE dround(4)-equal score ties across the A/B boundary —
    the edge a fixture may never cover — must satisfy the identity
    exactly, because the tiebreak is total (no equal (score, id)
    keys can disagree)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    grid = st.integers(min_value=-10, max_value=10)  # score = g/1e1

    def topk(pairs, k):
        # (score desc, id asc); ids unique within a candidate set
        return sorted(pairs, key=lambda p: (-p[1], p[0]))[:k]

    @given(
        a=st.dictionaries(st.integers(0, 40), grid, max_size=25),
        b=st.dictionaries(st.integers(41, 80), grid, max_size=25),
        k=st.integers(1, 6),
    )
    @settings(max_examples=300, deadline=None)
    def check(a, b, k):
        A = [(i, g / 10.0) for i, g in a.items()]
        B = [(i, g / 10.0) for i, g in b.items()]
        full = topk(A + B, k)
        merged = topk(topk(A, k) + B, k)
        assert full == merged

    check()


def test_topk_select_matches_lexsort_reference_under_ties():
    """Property fuzz for the O(m·n) integer-key selection that
    replaced the full lexsort in the LSH kernels: on score matrices
    drawn from a coarse dround(4) grid (maximally tie-heavy), the
    selected per-row top-k must equal the (score desc, id asc)
    reference EXACTLY — including boundary ties, where argpartition's
    arbitrary ordering would leak through if the composite key were
    not a total order."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from reports_generator_spark.operators.similarity import _topk_select

    @given(
        m=st.integers(1, 12),
        n=st.integers(1, 12),
        kk=st.integers(1, 12),
        seed=st.integers(0, 10_000),
    )
    @settings(max_examples=300, deadline=None)
    def check(m, n, kk, seed):
        kk = min(kk, n)
        rng = np.random.default_rng(seed)
        # scores on the 1e-4 grid, few distinct values => dense ties
        sim = rng.integers(-3, 4, size=(m, n)).astype(np.float64) / 1e4
        ids = np.sort(rng.choice(10 * n, size=n, replace=False)).astype(
            np.int64
        )  # sorted ascending, as _decode_chunk guarantees
        got = _topk_select(sim, kk)
        for r in range(m):
            want = sorted(range(n), key=lambda j: (-sim[r, j], ids[j]))[:kk]
            assert list(got[r]) == want, (r, sim[r], ids)

    check()


def test_neardup_stratum_twin_matches_allpairs_restriction(spark):
    """The bounded stratum twin that re-anchored embedding_neardup_lsh's
    audit (r14) must agree EXACTLY with the all-pairs exact relation
    restricted to the stratum — the full quadratic audit stays a
    fixture-SF test here while the registered key runs at any SF."""
    from reports_generator_spark.operators.similarity import (
        embedding_neardup_blocked,
        neardup_stratum_exact,
    )
    from reports_generator_spark.plans.similarity import (
        _NEARDUP_STRATUM_MOD,
        NEARDUP_THRESHOLD,
    )
    from conftest import SF_DIR
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    strat = neardup_stratum_exact(
        emb, _NEARDUP_STRATUM_MOD, threshold=NEARDUP_THRESHOLD
    )
    full = embedding_neardup_blocked(emb, threshold=NEARDUP_THRESHOLD).filter(
        (F.col("id_a") % _NEARDUP_STRATUM_MOD == 0)
        | (F.col("id_b") % _NEARDUP_STRATUM_MOD == 0)
    )
    s_rows = {(r["id_a"], r["id_b"], r["cosine"]) for r in strat.collect()}
    f_rows = {(r["id_a"], r["id_b"], r["cosine"]) for r in full.collect()}
    assert s_rows == f_rows and len(s_rows) > 0
