"""Behavioral tests for the dedup operator family on planted data —
the rows-only queries' real correctness gate (their hash families are
Spark-internal, so no SQL oracle can check them)."""

from __future__ import annotations

import pytest

from reports_generator_spark.operators.dedup import (
    dedup_exact,
    dedup_minhash_lsh,
    dedup_ngram_jaccard,
    dedup_simhash,
    minhash_signatures,
    simhash_fingerprint,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill and the birds sing in the garden trees"
)
NEAR = BASE.replace("warm", "cold")  # one-token edit
OTHER = (
    "completely different content about distributed query engines and "
    "columnar storage formats with vectorized execution pipelines here"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, BASE),
        (1, BASE),        # exact dup of 0
        (2, NEAR),        # near dup of 0
        (3, OTHER),
        (4, "tiny doc"),  # too short for 3-gram shingles
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_dedup_exact_keeps_min_id(docs):
    out = {r["doc_id"]: r["n_dups"] for r in dedup_exact(docs).collect()}
    assert out[0] == 2          # doc 1 collapsed into doc 0
    assert 1 not in out
    assert out[3] == 1 and out[4] == 1


def test_minhash_signature_stability(docs):
    """Identical texts ⇒ identical signatures (run-to-run too)."""
    sig = minhash_signatures(docs)
    s0 = sig.filter("doc_id = 0").collect()[0]["sig"]
    s1 = sig.filter("doc_id = 1").collect()[0]["sig"]
    assert s0 == s1
    assert len(s0) == 32


def test_minhash_lsh_finds_planted_pair(docs):
    pairs = dedup_minhash_lsh(docs, jaccard_threshold=0.5)
    got = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in pairs.collect()}
    assert (0, 1) in got and got[(0, 1)] == 1.0   # exact dup: all mins agree
    assert (0, 2) in got                           # near dup caught by a band
    assert all({a, b} != {0, 3} and {a, b} != {2, 3} for a, b in got)


def test_simhash_hamming(docs):
    fp = {r["doc_id"]: r["simhash"] for r in simhash_fingerprint(docs).collect()}
    assert fp[0] == fp[1]
    ham_near = bin(fp[0] ^ fp[2]).count("1")
    ham_far = bin(fp[0] ^ fp[3]).count("1")
    assert ham_near < ham_far

    pairs = {(r["id_a"], r["id_b"]) for r in dedup_simhash(docs).collect()}
    assert (0, 1) in pairs
    assert (0, 3) not in pairs


def test_ngram_jaccard_planted(docs):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
             dedup_ngram_jaccard(docs, threshold=0.2).collect()}
    assert pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs and 0.5 < pairs[(0, 2)] < 1.0
    assert (0, 3) not in pairs


def test_ngram_jaccard_hot_shingle_cap(spark):
    """Shingles above the df cap are dropped before the self-join: a
    pair related ONLY through boilerplate disappears, while a genuine
    near-dup pair (many rare shared shingles) survives."""
    boiler = "all rights reserved by the example corporation of earth"
    rows = [
        (0, BASE + " " + boiler),
        (1, NEAR + " " + boiler),          # near-dup of 0 via BASE shingles
        (2, OTHER + " " + boiler),         # related to 0/1 ONLY via boiler
        (3, "unique content entirely " + boiler),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    capped = {
        (r["id_a"], r["id_b"])
        for r in dedup_ngram_jaccard(df, threshold=0.05, max_shingle_df=3).collect()
    }
    assert (0, 1) in capped                 # genuine pair survives
    assert not any(2 in p or 3 in p for p in capped)  # boiler-only pairs gone
    uncapped = {
        (r["id_a"], r["id_b"])
        for r in dedup_ngram_jaccard(df, threshold=0.05).collect()
    }
    assert any(2 in p for p in uncapped)    # cap was what removed them


def test_spread_skips_well_partitioned_input(spark):
    """_spread must be a no-op when the source already has enough
    partitions — a production read must not pay a gratuitous full
    round-robin shuffle before shingling."""
    from reports_generator_spark.operators.dedup import _spread

    par = spark.sparkContext.defaultParallelism
    wide = spark.range(0, 1000).repartition(par * 2)
    assert _spread(wide) is wide
    narrow = spark.range(0, 1000).coalesce(1)
    assert _spread(narrow).rdd.getNumPartitions() == par


def test_pack_sequences_edges(spark):
    """Greedy next-fit: exact-fit stays, overflow opens a bin, an
    oversized doc occupies a bin alone."""
    import pandas as pd
    from reports_generator_spark.operators.packing import pack_sequences

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4, 5],
                "lang": ["en"] * 5,
                "n_tok": [60, 40, 1, 200, 10],  # 60+40 fills 100 exactly
            }
        )
    )
    out = {
        r["doc_id"]: r["bin_id"]
        for r in pack_sequences(df, capacity=100, shard_col="lang").collect()
    }
    assert out == {1: 0, 2: 0, 3: 1, 4: 2, 5: 3}


def test_star_cc_matches_label_propagation(spark):
    """large-star/small-star must produce identical components to
    min-label propagation on adversarial topologies: a long chain
    (worst case for propagation), a star, disjoint cliques, and a
    deterministic random graph."""
    import random

    from reports_generator_spark.operators.graph import (
        connected_components,
        connected_components_star,
    )

    rng = random.Random(7)
    chain = [(i, i + 1) for i in range(0, 40)]
    star = [(100, 100 + i) for i in range(1, 10)]
    cliques = [
        (200 + a, 200 + b) for a in range(5) for b in range(a + 1, 5)
    ] + [(300 + a, 300 + b) for a in range(4) for b in range(a + 1, 4)]
    rand = [(rng.randrange(400, 460), rng.randrange(400, 460)) for _ in range(80)]
    edges = [e for e in chain + star + cliques + rand if e[0] != e[1]]
    df = spark.createDataFrame(edges, ["src", "dst"])

    a = {
        (r["node"], r["cluster_id"])
        for r in connected_components(df, max_iter=50).collect()
    }
    b = {
        (r["node"], r["cluster_id"])
        for r in connected_components_star(df).collect()
    }
    assert a == b
    # chain component must collapse to min label 0
    assert (40, 0) in b


def test_cc_local_fast_path_matches_iterative(spark, monkeypatch):
    """The single-task union-find fast path (engaged when the edge
    list is at most _CC_LOCAL_EDGE_CAP rows) must be row-identical to
    the distributed min-label loop on the same adversarial topologies
    — chain, star, cliques, random, plus duplicate/reversed edges and
    self-loop-free multi-edges."""
    import random

    from reports_generator_spark.operators import graph as G

    rng = random.Random(11)
    chain = [(i, i + 1) for i in range(0, 30)]
    star = [(100, 100 + i) for i in range(1, 8)]
    dup = [(200, 201), (201, 200), (200, 201)]  # dup + reversed
    rand = [(rng.randrange(300, 350), rng.randrange(300, 350)) for _ in range(60)]
    edges = [e for e in chain + star + dup + rand if e[0] != e[1]]
    df = spark.createDataFrame(edges, "src long, dst long")

    fast = {
        (r["node"], r["cluster_id"])
        for r in G.connected_components(df, max_iter=50).collect()
    }
    # force the distributed path by disabling the gate
    monkeypatch.setattr(G, "_CC_LOCAL_EDGE_CAP", -1)
    dist = {
        (r["node"], r["cluster_id"])
        for r in G.connected_components(df, max_iter=50).collect()
    }
    assert fast == dist
    # every node present exactly once on the fast path
    nodes = sorted(n for n, _ in fast)
    assert len(nodes) == len(set(nodes))
    assert (30, 0) in fast  # chain collapses to min label 0


def test_cc_null_endpoint_dropped_identically_on_every_path(spark, monkeypatch):
    """An edge with a null endpoint is dropped before anything else:
    the union-find fast path, the iterative path and large/small-star
    return the same long-typed rows, and null is never a node (a null
    used to reach the fast path as a NaN float id, on which its
    union-find never terminates)."""
    from pyspark.sql.types import LongType

    from reports_generator_spark.operators import graph as G

    df = spark.createDataFrame(
        [(1, 2), (2, 3), (7, None), (10, 11)], "src long, dst long"
    )
    expected = {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}

    def rows(out):
        assert [f.dataType for f in out.schema.fields] == [LongType(), LongType()]
        got = [(r["node"], r["cluster_id"]) for r in out.collect()]
        assert all(isinstance(v, int) for pair in got for v in pair)
        assert len(got) == len(set(got))
        return set(got)

    fast = rows(G.connected_components(df))
    star = rows(G.connected_components_star(df))
    monkeypatch.setattr(G, "_CC_LOCAL_EDGE_CAP", -1)
    iterative = rows(G.connected_components(df))
    assert fast == iterative == star == expected


def test_pagerank_isolated_pair_and_star(spark):
    """Stationary sanity on known topologies: an isolated edge
    converges to rank 1.0 on both ends; a star's hub outranks its
    leaves; total mass = |V| everywhere."""
    from reports_generator_spark.operators.graph import pagerank_undirected

    edges = [(1, 2)] + [(100, 100 + i) for i in range(1, 6)]
    df = spark.createDataFrame(edges, "src long, dst long")
    r = {row["node"]: row["rank"] for row in pagerank_undirected(df).collect()}
    assert abs(r[1] - 1.0) < 1e-3 and abs(r[2] - 1.0) < 1e-3
    hub, leaves = r[100], [r[100 + i] for i in range(1, 6)]
    assert all(hub > lv for lv in leaves)
    assert abs(sum(r.values()) - len(r)) < 1e-6 * len(r)


# --------------------------------------------------------------------------
# triangle_stats: planted graphs with known closed-form answers
# --------------------------------------------------------------------------
def test_triangle_stats_clique(spark):
    from reports_generator_spark.operators.graph import triangle_stats

    # K4: 6 edges, C(4,3)=4 triangles, wedges = 4 * C(3,2) = 12
    edges = spark.createDataFrame(
        [(a, b) for a in range(1, 5) for b in range(a + 1, 5)],
        "id_a long, id_b long",
    )
    r = triangle_stats(edges).collect()[0]
    assert (r.n_nodes, r.n_edges, r.n_wedges, r.n_triangles) == (4, 6, 12, 4)


def test_triangle_stats_path_graph_has_no_triangles(spark):
    from reports_generator_spark.operators.graph import triangle_stats

    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "id_a long, id_b long")
    r = triangle_stats(edges).collect()[0]
    assert (r.n_nodes, r.n_edges, r.n_wedges, r.n_triangles) == (4, 3, 2, 0)


def test_exploded_shingles_matches_hof_spelling(spark):
    """The codegen'd lead()-window shingle spelling must produce the
    EXACT multiset the HOF reference spelling (explode(shingles_col))
    yields — including empty-doc / short-doc edges and k=1/2/5 — since
    every dedup-family key was re-attested on this equivalence."""
    from pyspark.sql import functions as F

    from reports_generator_spark.functions import (
        exploded_shingles,
        shingles_col,
        with_token_array,
    )

    rows = [
        (0, BASE),
        (1, NEAR),
        (2, "tiny doc"),
        (3, "one"),
        (4, ""),
        (5, "  spaced   out   tokens  "),
        (6, "a b c d e"),
        # duplicate id: two PHYSICAL ROWS share doc_id — the window
        # spelling must emit each row's own shingles (the __uid row-
        # boundary guard), never blend tokens across the seam
        (7, "p q r s"),
        (7, "u v w"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for k in (1, 2, 3, 5):
        new = exploded_shingles(df, "doc_id", "text", k, "sh")
        ref = with_token_array(df).select(
            "doc_id", F.explode(shingles_col(F.col("toks"), k)).alias("sh")
        )
        got = sorted(map(tuple, new.collect()))
        want = sorted(map(tuple, ref.collect()))
        assert got == want, f"k={k}: {got} != {want}"
