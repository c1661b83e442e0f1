"""End-to-end recall contract (SURVEY §5.3–5.4, BASELINE.json):

- tiny corpus: Spark cluster partition == oracle partition EXACTLY,
  dup-pair recall vs oracle == 1.0, sha256 invariant, zero false merges.
- small corpus (5k files): recall vs oracle >= 0.99 and vs planted ground
  truth >= 0.99, precision guard on the `license` negative class.
- aggressive salting (bucket_cap=2): oracle parity must survive skew breaking.
- permutation invariance: repartitioned input -> identical clusters.
"""

from __future__ import annotations

from collections import defaultdict

import pytest

from nise_dedup import corpus as C
from nise_dedup.config import DedupConfig
from nise_dedup.pipeline import assert_sha_invariant, run_pipeline

import oracle as O

KEY = ["repo", "path", "commit"]


def _spark_clusters(spark, rows, cfg, ckpt=""):
    df = spark.createDataFrame(C.to_pandas(rows))
    res = run_pipeline(spark, df, cfg, ckpt=ckpt)
    pred = {(r["repo"], r["path"], r["commit"]): r["cluster_id"]
            for r in res.clusters.collect()}
    return df, res, pred


def _partitions(assign: dict) -> set:
    groups = defaultdict(set)
    for k, v in assign.items():
        groups[v].add(k)
    return {frozenset(s) for s in groups.values()}


def test_tiny_exact_oracle_parity(spark):
    cfg = DedupConfig(shuffle_partitions=8)
    rows = C.generate("tiny", seed=42)
    df, res, pred = _spark_clusters(spark, rows, cfg)
    want = O.run_oracle([r.__dict__ for r in rows], cfg,
                        fast_signatures=True)
    assert _partitions(pred) == _partitions(want.clusters)
    op, pp = O.dup_pairs(want.clusters), O.dup_pairs(pred)
    assert op == pp  # recall 1.0 AND precision 1.0 vs reference
    assert_sha_invariant(df, res.clusters)


def test_tiny_salted_parity(spark):
    # bucket_cap=2 forces salting on nearly every bucket; representative
    # pairs must preserve connectivity -> same clusters as the uncapped oracle
    cfg = DedupConfig(shuffle_partitions=8, bucket_cap=2)
    rows = C.generate("tiny", seed=42)
    _, _, pred = _spark_clusters(spark, rows, cfg)
    want = O.run_oracle([r.__dict__ for r in rows], cfg,
                        fast_signatures=True)
    op, pp = O.dup_pairs(want.clusters), O.dup_pairs(pred)
    hit = len(op & pp)
    assert hit / max(1, len(op)) >= 0.99
    # salting may only LOSE pairs relative to full pairwise, never invent
    assert pp <= op


def test_tiny_permutation_invariance(spark):
    cfg = DedupConfig(shuffle_partitions=8)
    rows = C.generate("tiny", seed=42)
    df = spark.createDataFrame(C.to_pandas(rows))
    a = run_pipeline(spark, df, cfg).clusters
    b = run_pipeline(spark, df.repartition(13), cfg).clusters
    pa = {(r["repo"], r["path"], r["commit"]): r["cluster_id"]
          for r in a.collect()}
    pb = {(r["repo"], r["path"], r["commit"]): r["cluster_id"]
          for r in b.collect()}
    assert pa == pb


@pytest.mark.slow
def test_small_recall_contract(spark):
    cfg = DedupConfig(shuffle_partitions=16)
    rows = C.generate("small", seed=42)
    df, res, pred = _spark_clusters(spark, rows, cfg)
    want = O.run_oracle([r.__dict__ for r in rows], cfg, fast_signatures=True)

    op, pp = O.dup_pairs(want.clusters), O.dup_pairs(pred)
    recall_vs_oracle = len(op & pp) / max(1, len(op))
    assert recall_vs_oracle >= 0.99, recall_vs_oracle

    tp = C.truth_dup_pairs(rows)
    recall_vs_truth = len(tp & pp) / max(1, len(tp))
    assert recall_vs_truth >= 0.99, recall_vs_truth

    # precision guard: license-header negatives must not merge
    cls = {(r.repo, r.path, r.commit): r.dup_class for r in rows}
    content = {(r.repo, r.path, r.commit): r.content for r in rows}
    false_merges = [p for p in pp
                    if p not in tp and content[p[0]] != content[p[1]]]
    assert len(false_merges) <= 0.001 * max(1, len(pp)), false_merges[:5]
    assert not any(cls[a] == cls[b] == "license" for a, b in false_merges)


def test_single_scan_ingest(spark, tmp_path):
    """VERDICT round 1: the source must be scanned + sha256-hashed ONCE.
    No-ckpt mode: downstream stages read the persisted ingest relation
    (InMemoryTableScan), never a second FileScan of the source. Ckpt mode:
    downstream stages read the ingest checkpoint parquet, not the source."""
    src = str(tmp_path / "corpus.parquet")
    C.to_pandas(C.generate("tiny", 42)).to_parquet(src)
    cfg = DedupConfig(shuffle_partitions=8)

    res = run_pipeline(spark, spark.read.parquet(src), cfg,
                       collect_metrics=False)
    uplan = res.stages["uniq"]._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in uplan
    p1 = {(r["repo"], r["path"], r["commit"]): r["cluster_id"]
          for r in res.clusters.collect()}
    res.release()

    ckpt = str(tmp_path / "ck")
    res2 = run_pipeline(spark, spark.read.parquet(src), cfg, ckpt=ckpt,
                        collect_metrics=False)
    for name in ["uniq", "signatures", "cand_pairs", "verified_pairs",
                 "clusters_uniq", "clusters"]:
        plan = res2.stages[name]._jdf.queryExecution().optimizedPlan().toString()
        assert "corpus.parquet" not in plan, name
    # identical outputs across both modes
    p2 = {(r["repo"], r["path"], r["commit"]): r["cluster_id"]
          for r in res2.clusters.collect()}
    assert p1 == p2


def test_id_collision_fallback(spark, monkeypatch):
    """F2 fallback: inject a colliding id function (hash of repo only) and
    assert the pipeline deterministically re-salts to unique ids while
    producing the same clusters as the collision-free run."""
    from pyspark.sql import functions as F

    from nise_dedup import ingest as I

    cfg = DedupConfig(shuffle_partitions=8)
    rows = C.generate("tiny", seed=42)
    df = spark.createDataFrame(C.to_pandas(rows))
    baseline = {frozenset(g) for g in _partitions(
        {(r["repo"], r["path"], r["commit"]): r["cluster_id"]
         for r in run_pipeline(spark, df, cfg,
                               collect_metrics=False).clusters.collect()})}

    def colliding(d):
        return d.withColumn("file_id", F.xxhash64("repo"))

    monkeypatch.setattr(I, "with_file_id", colliding)
    res = run_pipeline(spark, df, cfg, collect_metrics=False)
    got = res.clusters.collect()
    ids = [r["file_id"] for r in got]
    assert len(ids) == len(set(ids)) == len(rows)   # resolved to unique
    parts = {frozenset(g) for g in _partitions(
        {(r["repo"], r["path"], r["commit"]): r["cluster_id"] for r in got})}
    assert parts == baseline
    res.release()


# every stage after signatures that a no-checkpoint run stores apart from
# wave 1, which is reached through the published union; bucket_cap=2 salts
# the tiny corpus' buckets and fails rep pairs, so wave 2 runs
STORED = ("cand_pairs", "rep_verify", "esc_pairs", "verified_pairs_esc",
          "clusters_uniq")


def _stored_plan(plan, spark) -> bool:
    """``plan`` is one LogicalRDD whose RDD the session still holds."""
    pers = spark.sparkContext._jsc.getPersistentRDDs()
    return (plan.nodeName() == "LogicalRDD"
            and pers.containsKey(plan.rdd().id()))


def _checkpointed(df) -> bool:
    """``df`` reads a stored local checkpoint."""
    return _stored_plan(df._jdf.queryExecution().analyzed(), df.sparkSession)


def test_post_signature_stages_stored(spark):
    """Without a checkpoint every stage after signatures is materialized
    once and passed on with its lineage cut, whatever collect_metrics
    says: the published verified pairs read only stored rows (no join,
    no deep mapper left to re-plan), uniq and signatures stay cached, and
    the content-bearing ingest cache is released."""
    rows = C.generate("tiny", seed=42)
    df = spark.createDataFrame(C.to_pandas(rows))
    cfg = DedupConfig(shuffle_partitions=8, bucket_cap=2)
    for collect_metrics in (False, True):
        # storageLevel consults the CacheManager by canonicalized PLAN, so
        # a cached identical plan from an earlier run would read as cached
        spark.catalog.clearCache()
        res = run_pipeline(spark, df, cfg, collect_metrics=collect_metrics)
        for name in STORED:
            assert _checkpointed(res.stages[name]), (name, collect_metrics)
        plan = (res.verified_pairs._jdf.queryExecution().optimizedPlan()
                .toString())
        assert "Join" not in plan and "MapInPandas" not in plan, plan
        # the published pairs are the union of the two stored waves
        leaves = res.verified_pairs._jdf.queryExecution().analyzed() \
            .collectLeaves()
        leaves = [leaves.apply(i) for i in range(leaves.size())]
        assert len(leaves) == 2, leaves
        assert all(_stored_plan(p, spark) for p in leaves)
        esc_rdd = (res.stages["verified_pairs_esc"]._jdf.queryExecution()
                   .analyzed().rdd().id())
        assert sorted(p.rdd().id() == esc_rdd for p in leaves) == \
            [False, True]
        level = {n: res.stages[n].storageLevel
                 for n in ("ingest", "uniq", "signatures")}
        assert level["uniq"].useMemory and level["signatures"].useMemory
        assert not (level["ingest"].useMemory or level["ingest"].useDisk)
        res.release()


def test_stage_widths_follow_session(spark):
    """Stage widths come from the session, not the config: under a
    config asking for 16 shuffle partitions, the local[4] session's cap
    of 8 sizes both the ingest stage and the salted buckets."""
    from nise_dedup import lsh
    from nise_dedup.session import task_width

    assert task_width(spark) == 8
    rows = C.generate("tiny", seed=42)
    df = spark.createDataFrame(C.to_pandas(rows))
    cfg = DedupConfig(shuffle_partitions=16)
    res = run_pipeline(spark, df, cfg, collect_metrics=False)
    salted = lsh.salted_buckets(lsh.explode_bands(res.stages["signatures"]),
                                cfg)
    assert res.stages["ingest"].rdd.getNumPartitions() == 8
    assert salted.rdd.getNumPartitions() == 8
    res.release()


def test_release_frees_stored_stages(spark):
    """Repeated runs, each followed by release(), leave the session's
    storage as they found it: no persistent RDD and no stored byte
    accumulates. DataFrame.unpersist alone never frees a local
    checkpoint, so this pins that release() does."""
    import time

    rows = C.generate("tiny", seed=42)
    df = spark.createDataFrame(C.to_pandas(rows))
    cfg = DedupConfig(shuffle_partitions=8, bucket_cap=2)
    jsc = spark.sparkContext._jsc

    def storage():
        infos = jsc.sc().getRDDStorageInfo()
        return (jsc.getPersistentRDDs().size(),
                sum(i.memSize() + i.diskSize() for i in infos))

    spark.catalog.clearCache()
    before = storage()
    for _ in range(3):
        res = run_pipeline(spark, df, cfg, collect_metrics=False)
        res.clusters.count()
        res.release()
    # block removal is asynchronous: give it a moment to land
    deadline = time.time() + 30
    while storage() != before and time.time() < deadline:
        time.sleep(0.5)
    assert storage() == before


def test_id_collision_fallback_ckpt(spark, monkeypatch, tmp_path):
    """ADVICE r2 (medium): in ckpt mode the fallback republishes the ingest
    stage it is READING — without lineage truncation Spark raises
    UNSUPPORTED_OVERWRITE and the run (and every resume) wedges. Assert the
    checkpointed fallback completes, resolves ids, and resumes stably."""
    from pyspark.sql import functions as F

    from nise_dedup import ingest as I

    cfg = DedupConfig(shuffle_partitions=8)
    rows = C.generate("tiny", seed=42)
    df = spark.createDataFrame(C.to_pandas(rows))

    def colliding(d):
        return d.withColumn("file_id", F.xxhash64("repo"))

    monkeypatch.setattr(I, "with_file_id", colliding)
    ckpt = str(tmp_path / "ck")
    res = run_pipeline(spark, df, cfg, ckpt=ckpt, collect_metrics=False)
    got = sorted((r["repo"], r["path"], r["commit"], r["file_id"],
                  r["cluster_id"]) for r in res.clusters.collect())
    ids = [g[3] for g in got]
    assert len(ids) == len(set(ids)) == len(rows)   # resolved to unique
    # resume: the republished stage already has unique ids -> no re-publish,
    # byte-identical output
    res2 = run_pipeline(spark, df, cfg, ckpt=ckpt, collect_metrics=False)
    got2 = sorted((r["repo"], r["path"], r["commit"], r["file_id"],
                   r["cluster_id"]) for r in res2.clusters.collect())
    assert got == got2


def test_resolve_id_collisions_deterministic(spark):
    from pyspark.sql import functions as F

    from nise_dedup.ingest import resolve_id_collisions

    df = spark.createDataFrame(
        [("r1", "a", "c1"), ("r1", "b", "c1"), ("r2", "a", "c2")],
        "repo string, path string, commit string"
    ).withColumn("file_id", F.lit(7))          # everyone collides
    a = {(r["repo"], r["path"]): r["file_id"]
         for r in resolve_id_collisions(df).collect()}
    b = {(r["repo"], r["path"]): r["file_id"]
         for r in resolve_id_collisions(df.repartition(5)).collect()}
    assert a == b                               # deterministic
    assert len(set(a.values())) == 3            # unique


def test_true_duplicate_natural_keys_raise(spark):
    import pytest as _pytest
    from pyspark.sql import functions as F

    from nise_dedup.ingest import resolve_id_collisions

    df = spark.createDataFrame(
        [("r", "p", "c"), ("r", "p", "c")],
        "repo string, path string, commit string"
    ).withColumn("file_id", F.xxhash64("repo", "path", "commit"))
    with _pytest.raises(RuntimeError, match="natural keys"):
        resolve_id_collisions(df)
