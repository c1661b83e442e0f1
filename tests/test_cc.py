"""Connected components (C1) vs plain union-find on random graphs, plus the
C2 canonicalization contract (component id = min member)."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from nise_dedup.cc import canonical_clusters, connected_components

import oracle as O


def _uf_components(edges):
    uf = O.UnionFind()
    for a, b in edges:
        uf.union(a, b)
    return uf.components()


def _check(spark, edges):
    df = spark.createDataFrame(
        [(int(a), int(b)) for a, b in edges] or [(0, 0)],
        "src long, dst long")
    want = _uf_components(edges)
    nodes = {n for e in edges for n in e if e[0] != e[1]}
    # ALL code paths must agree with the oracle: the driver union-find
    # fast path (default at this size), the distributed star rounds
    # (small_graph=0 forces them), and the salt-balanced star rounds
    # (the BTS-style skew escape hatch)
    for kwargs in ({}, {"small_graph": 0},
                   {"small_graph": 0, "balance_salts": 3}):
        got = {r["node"]: r["component"]
               for r in connected_components(df, **kwargs).collect()}
        assert set(got) == nodes, kwargs
        for n in nodes:
            assert got[n] == want[n], (kwargs, n, got[n], want[n])


def test_cc_empty(spark):
    df = spark.createDataFrame([], "src long, dst long")
    assert connected_components(df).count() == 0


def test_cc_chain_and_star(spark):
    _check(spark, [(i, i + 1) for i in range(20)])            # long chain
    _check(spark, [(0, i) for i in range(1, 15)])             # star
    _check(spark, [(5, 1), (2, 5), (9, 8), (3, 3)])           # mixed + self


def test_cc_random_graphs(spark):
    rng = random.Random(13)
    for _ in range(5):
        n = rng.randint(5, 60)
        m = rng.randint(1, 90)
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
        _check(spark, edges)


def test_canonical_clusters_singletons(spark):
    verified = spark.createDataFrame(
        [(1, 2, True), (3, 4, False), (2, 5, True)],
        "a long, b long, passed boolean")
    nodes = spark.createDataFrame([(i,) for i in range(1, 7)], "file_id long")
    got = {r["file_id"]: r["cluster_id"]
           for r in canonical_clusters(verified, nodes).collect()}
    assert got == {1: 1, 2: 1, 5: 1, 3: 3, 4: 4, 6: 6}


def test_cc_idempotent_relabel(spark):
    # feeding back (node, component) edges is a fixpoint
    edges = [(1, 2), (2, 3), (10, 11)]
    df = spark.createDataFrame(edges, "src long, dst long")
    comp = connected_components(df)
    again = connected_components(
        comp.where(F.col("node") != F.col("component"))
        .select(F.col("node").alias("src"), F.col("component").alias("dst")))
    assert sorted(comp.collect()) == sorted(again.collect())


def test_cc_adaptive_salting_engages_on_hot_hub(spark):
    """VERDICT r4 next #5: nothing used to turn `balance_salts` on — at
    100x a giant component appears precisely when nobody is tuning flags.
    With balance_salts=0 (the adaptive default) the signature agg measures
    the live hot-key row count and salting must engage IN-LOOP, without
    the caller asking, the moment a hub exceeds `auto_balance_rows` —
    scaled to the skew and capped at 64."""
    star = spark.range(1, 5_001).select(
        F.col("id").alias("src"), F.lit(0).alias("dst"))
    stats = {}
    comp = connected_components(star, max_iter=8, small_graph=0,
                                auto_balance_rows=1_000, stats=stats)
    assert stats["salts_used"] >= 2, stats          # engaged unprompted
    assert stats["max_hot_rows"] >= 5_000, stats    # hub degree seen
    assert not stats["driver_path"]
    # labels identical to the plain path (parity under salting)
    assert comp.select("component").distinct().collect()[0]["component"] == 0
    assert comp.count() == 5_001


def test_cc_adaptive_salting_stays_off_when_balanced(spark):
    """The adaptive default must NOT pay the salted-join replication on a
    balanced graph: a chain's max per-key degree is 2."""
    chain = spark.createDataFrame([(i, i + 1) for i in range(200)],
                                  "src long, dst long")
    stats = {}
    comp = connected_components(chain, small_graph=0, stats=stats)
    assert stats["salts_used"] == 1, stats
    # hot-key rows grow toward the component size as labels converge
    # (every node ends up pointing at the root) but never near the
    # default 500k activation threshold here
    assert stats["max_hot_rows"] <= 200, stats
    assert comp.select("component").distinct().count() == 1


def test_cc_hub_on_src_side_is_seen(spark):
    """The input orientation is arbitrary: a hub sitting entirely on the
    SRC side must still trip the adaptive measurement (the first signature
    agg counts degree over BOTH directions)."""
    star = spark.range(1, 3_001).select(
        F.lit(0).alias("src"), F.col("id").alias("dst"))
    flipped = star.select(F.col("dst").alias("src"),
                          F.col("src").alias("dst"))
    for df in (star, flipped):
        stats = {}
        connected_components(df, max_iter=8, small_graph=0,
                             auto_balance_rows=1_000, stats=stats)
        assert stats["max_hot_rows"] >= 3_000, stats
        assert stats["salts_used"] >= 2, stats


def test_cc_distributed_frees_superseded_checkpoints(spark):
    """The distributed path frees its input checkpoint and every
    superseded round: a call leaves at most one new persistent RDD (the
    last round, which the returned labels read), and the labels are
    unchanged."""
    chain = spark.createDataFrame([(i, i + 1) for i in range(200)],
                                  "src long, dst long")
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    stats = {}
    comp = connected_components(chain, small_graph=0, stats=stats)
    got = {r["node"]: r["component"] for r in comp.collect()}
    assert stats["iterations"] > 2, stats
    assert jsc.getPersistentRDDs().size() - before <= 1
    assert got == {n: 0 for n in range(201)}
