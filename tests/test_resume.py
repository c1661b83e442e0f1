"""Resumability F4/F5 (SURVEY §3.2, BASELINE.json): stage manifests, skip
semantics, config-hash invalidation, kill-after-stage-k equivalence."""

from __future__ import annotations

import json
import os
import shutil

from nise_dedup import corpus as C
from nise_dedup.config import DedupConfig
from nise_dedup.io import read_manifest, run_stage, stage_complete
from nise_dedup.pipeline import run_pipeline

STAGES = ["ingest", "uniq", "signatures", "cand_pairs",
          "verified_pairs", "clusters_uniq", "clusters"]
MANIFEST_KEYS = {"stage", "config_hash", "rows", "schema", "wall_s",
                 "partitions", "completed_at_epoch"}


def _clusters(res):
    return sorted((r["repo"], r["path"], r["commit"], r["cluster_id"])
                  for r in res.clusters.collect())


def test_stage_gate_skips_completed(spark, tmp_path):
    ckpt = str(tmp_path / "ck")
    calls = []

    def make(_):
        calls.append(1)
        return spark.range(5).withColumnRenamed("id", "x")

    df1 = run_stage(spark, ckpt, "h1", "s1", make)
    df2 = run_stage(spark, ckpt, "h1", "s1", make)
    assert len(calls) == 1          # second call reloaded from manifest
    assert df1.count() == df2.count() == 5
    run_stage(spark, ckpt, "h2", "s1", make)
    assert len(calls) == 2          # different config hash -> recompute
    m = read_manifest(ckpt, "s1")
    assert m["rows"] == 5 and m["config_hash"] == "h2"
    assert sum(p["rows_out"] for p in m["partitions"]) == 5


def test_kill_after_stage_k_resume_identical(spark, tmp_path):
    cfg = DedupConfig(shuffle_partitions=8)
    rows = C.generate("tiny", seed=42)
    df = spark.createDataFrame(C.to_pandas(rows))

    ckpt = str(tmp_path / "run1")
    baseline = _clusters(run_pipeline(spark, df, cfg, ckpt=ckpt))
    for s in STAGES:
        assert stage_complete(ckpt, s, cfg.config_hash()), s

    # simulate a kill mid-verification: wipe verification + downstream
    for s in ["verified_pairs", "clusters_uniq", "clusters"]:
        shutil.rmtree(os.path.join(ckpt, s))
    sig_manifest_before = read_manifest(ckpt, "signatures")

    resumed = _clusters(run_pipeline(spark, df, cfg, ckpt=ckpt))
    assert resumed == baseline
    # upstream stages were NOT recomputed (manifest untouched)
    assert read_manifest(ckpt, "signatures") == sig_manifest_before


def test_partial_stage_write_is_recomputed(spark, tmp_path):
    # data written but manifest missing == killed mid-write -> recompute
    cfg = DedupConfig(shuffle_partitions=8)
    rows = C.generate("tiny", seed=7)
    df = spark.createDataFrame(C.to_pandas(rows))
    ckpt = str(tmp_path / "run2")
    baseline = _clusters(run_pipeline(spark, df, cfg, ckpt=ckpt))
    os.remove(os.path.join(ckpt, "cand_pairs", "manifest.json"))
    resumed = _clusters(run_pipeline(spark, df, cfg, ckpt=ckpt))
    assert resumed == baseline


def test_corrupt_manifest_is_recomputed(spark, tmp_path):
    ckpt = str(tmp_path / "ck3")
    run_stage(spark, ckpt, "h", "s", lambda _: spark.range(3))
    with open(os.path.join(ckpt, "s", "manifest.json"), "w") as f:
        f.write("{not json")
    assert not stage_complete(ckpt, "s", "h")
    df = run_stage(spark, ckpt, "h", "s", lambda _: spark.range(3))
    assert df.count() == 3
    assert json.load(open(os.path.join(ckpt, "s", "manifest.json")))["rows"] == 3


def test_killed_rerun_does_not_resurrect_old_manifest(spark, tmp_path,
                                                      monkeypatch):
    """ADVICE round 1: a rerun under a NEW config hash killed after the data
    overwrite but before the manifest publish must not leave the OLD
    manifest describing the new partial data as complete."""
    import pytest

    import nise_dedup.io as io_mod

    ckpt = str(tmp_path / "ck_kill")
    run_stage(spark, ckpt, "hashA", "s", lambda _: spark.range(4))
    assert stage_complete(ckpt, "s", "hashA")

    def boom(*a, **k):
        raise RuntimeError("killed before manifest publish")

    monkeypatch.setattr(io_mod.json, "dump", boom)
    with pytest.raises(RuntimeError):
        io_mod.write_stage(spark.range(2), "s", ckpt, "hashB")
    monkeypatch.undo()
    assert not stage_complete(ckpt, "s", "hashA")
    assert not stage_complete(ckpt, "s", "hashB")
    df = run_stage(spark, ckpt, "hashA", "s", lambda _: spark.range(4))
    assert df.count() == 4
    assert stage_complete(ckpt, "s", "hashA")


def test_row_count_mismatch_recomputed(spark, tmp_path):
    """Resume gate reconciles the parquet row count against the manifest —
    out-of-band data loss (a deleted part file) triggers recompute."""
    import glob

    ckpt = str(tmp_path / "ck_count")
    calls = []

    def make(_):
        calls.append(1)
        return spark.range(10).repartition(4)

    run_stage(spark, ckpt, "h", "s", make)
    parts = glob.glob(os.path.join(ckpt, "s", "data", "part-*"))
    assert len(parts) >= 2
    os.remove(parts[0])
    df = run_stage(spark, ckpt, "h", "s", make)
    assert len(calls) == 2
    assert df.count() == 10


def test_bucket_gate_kill_mid_stage_resumes_missing_only(spark, tmp_path):
    """F5b (run_stage with buckets=4) unit semantics: a kill after bucket
    1 of 4 leaves a journal with buckets 0-1; resume recomputes ONLY 2-3
    and the final output is byte-identical to an uninterrupted run."""
    import pytest
    from pyspark.sql import functions as F

    base = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 7).alias("v"))

    def make_fn(log, fail_at=None):
        def fn(b):
            if b == fail_at:
                raise RuntimeError("injected kill")
            log.append(b)
            return base.where(F.pmod("k", F.lit(4)) == b)
        return fn

    ckpt = str(tmp_path / "ck")
    first: list[int] = []
    with pytest.raises(RuntimeError, match="injected kill"):
        run_stage(spark, ckpt, "h1", "s", make_fn(first, fail_at=2), 4)
    assert first == [0, 1]
    assert not stage_complete(ckpt, "s", "h1")    # no manifest yet

    second: list[int] = []
    out = run_stage(spark, ckpt, "h1", "s", make_fn(second), 4)
    assert second == [2, 3]                       # missing buckets only
    assert stage_complete(ckpt, "s", "h1")
    clean = run_stage(
        spark, str(tmp_path / "ck2"), "h1", "s", make_fn([]), 4)
    assert sorted(map(tuple, out.collect())) == \
        sorted(map(tuple, clean.collect()))
    assert out.columns == ["k", "v"]              # bucket col is internal

    # config-hash change wipes the journal and recomputes everything
    third: list[int] = []
    run_stage(spark, ckpt, "h2", "s", make_fn(third), 4)
    assert third == [0, 1, 2, 3]


def test_incremental_pipeline_kill_and_resume(spark, tmp_path, monkeypatch):
    """Pipeline-level per-partition resume (VERDICT r3 next #5): kill the
    signature stage mid-way; resume recomputes only the missing buckets
    (partition-pruned against the bucketed uniq layout) and the clusters
    are byte-identical to the non-incremental run."""
    import pytest
    from pyspark.sql import functions as F

    from nise_dedup import pipeline as P

    rows = C.generate("tiny", seed=42)
    df = spark.createDataFrame(C.to_pandas(rows))
    plain = _clusters(run_pipeline(
        spark, df, DedupConfig(shuffle_partitions=8), collect_metrics=False))

    cfg = DedupConfig(shuffle_partitions=8, incremental_buckets=3)
    real = P.compute_signatures
    calls: list[int] = []

    def failing(uniq, c, **kw):
        calls.append(1)
        if len(calls) == 3:
            raise RuntimeError("injected kill")
        return real(uniq, c, **kw)

    ckpt = str(tmp_path / "ck")
    monkeypatch.setattr(P, "compute_signatures", failing)
    with pytest.raises(RuntimeError, match="injected kill"):
        run_pipeline(spark, df, cfg, ckpt=ckpt, collect_metrics=False)
    assert len(calls) == 3                       # died on bucket 2 of 3

    calls.clear()
    monkeypatch.setattr(
        P, "compute_signatures",
        lambda uniq, c, **kw: (calls.append(1), real(uniq, c, **kw))[1])
    res = run_pipeline(spark, df, cfg, ckpt=ckpt, collect_metrics=False)
    assert len(calls) == 1                       # ONLY the missing bucket
    assert _clusters(res) == plain
    # the uniq stage really is laid out for partition pruning
    udirs = sorted(os.listdir(os.path.join(ckpt, "uniq", "data")))
    assert [d for d in udirs if d.startswith("part_bucket=")] == \
        ["part_bucket=0", "part_bucket=1", "part_bucket=2"]


def test_incremental_verify_kill_and_resume(spark, tmp_path, monkeypatch):
    """VERDICT r4 next #4: verified_pairs — the dominant stage (723s of the
    1097s 1M local[2] run) — commits per pair-bucket under
    incremental_buckets; a kill mid-verify resumes from the first missing
    bucket ONLY (upstream untouched, no full re-verify) and the final
    clusters are byte-identical to the flat run."""
    import pytest

    from nise_dedup import verify as V

    rows = C.generate("tiny", seed=42)
    df = spark.createDataFrame(C.to_pandas(rows))
    plain = _clusters(run_pipeline(
        spark, df, DedupConfig(shuffle_partitions=8), collect_metrics=False))

    cfg = DedupConfig(shuffle_partitions=8, incremental_buckets=3)
    real = V.verify_pairs
    calls: list[int] = []

    def failing(*a, **k):
        calls.append(1)
        if len(calls) == 3:
            raise RuntimeError("injected kill")
        return real(*a, **k)

    ckpt = str(tmp_path / "ck")
    monkeypatch.setattr(V, "verify_pairs", failing)
    with pytest.raises(RuntimeError, match="injected kill"):
        run_pipeline(spark, df, cfg, ckpt=ckpt, collect_metrics=False)
    assert len(calls) == 3                  # died on wave-1 bucket 2 of 3
    sig_manifest = read_manifest(ckpt, "signatures")

    calls.clear()
    monkeypatch.setattr(
        V, "verify_pairs",
        lambda *a, **k: (calls.append(1), real(*a, **k))[1])
    res = run_pipeline(spark, df, cfg, ckpt=ckpt, collect_metrics=False)
    assert len(calls) == 1                  # ONLY the missing bucket
    assert _clusters(res) == plain
    assert read_manifest(ckpt, "signatures") == sig_manifest  # no upstream
    # wave 2 landed as its own (empty here: nothing salted) gated stage
    assert stage_complete(ckpt, "verified_pairs_esc", cfg.config_hash())


def test_incremental_toggle_recomputes_layout(spark, tmp_path):
    """ADVICE r4 (medium): `incremental_buckets` is execution-only in the
    config hash but changes the persisted uniq/signatures LAYOUT. Toggling
    it between runs over the same checkpoint must recompute those stages —
    the round-4 formulation reused the old flat uniq and
    `uniq.where(part_bucket == b)` raised AnalysisException on exactly the
    kill-then-resume path the feature advertises; the reverse toggle
    leaked a stray part_bucket column into downstream frames."""
    rows = C.generate("tiny", seed=42)
    df = spark.createDataFrame(C.to_pandas(rows))
    ckpt = str(tmp_path / "ck")

    flat = DedupConfig(shuffle_partitions=8)
    plain_res = run_pipeline(spark, df, flat, ckpt=ckpt,
                             collect_metrics=False)
    plain = _clusters(plain_res)
    n_verified_flat = plain_res.verified_pairs.count()

    # toggle ON over the same checkpoint: must not die, must not reuse the
    # flat uniq, clusters identical
    inc = DedupConfig(shuffle_partitions=8, incremental_buckets=3)
    res = run_pipeline(spark, df, inc, ckpt=ckpt, collect_metrics=False)
    assert _clusters(res) == plain
    # the flat verified_pairs stage (which already folds wave-2 rows in)
    # must NOT be reused as the bucketed wave-1 stage — that would verify
    # escalation pairs twice and duplicate rows (vp_buckets layout pin)
    assert res.verified_pairs.count() == n_verified_flat
    udirs = os.listdir(os.path.join(ckpt, "uniq", "data"))
    assert any(d.startswith("part_bucket=") for d in udirs)

    # toggle OFF again: flat layout restored, no stray part_bucket column
    res2 = run_pipeline(spark, df, flat, ckpt=ckpt, collect_metrics=False)
    assert _clusters(res2) == plain
    from nise_dedup.io import read_stage
    for stage in ("uniq", "signatures"):
        assert "part_bucket" not in read_stage(spark, ckpt, stage).columns


def test_bucket_journal_detects_corrupted_slice(spark, tmp_path):
    """ADVICE r4 (medium): out-of-band corruption INSIDE a committed
    bucket must recompute that bucket on resume — the journal records each
    bucket's row count and re-verifies it, so a complete-looking journal
    can no longer republish a corrupted stage as done."""
    import glob

    from pyspark.sql import functions as F

    base = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 7).alias("v"))
    log: list[int] = []

    def fn(b):
        log.append(b)
        return base.where(F.pmod("k", F.lit(4)) == b)

    ckpt = str(tmp_path / "ck")
    out = run_stage(spark, ckpt, "h1", "s", fn, 4)
    want = sorted(map(tuple, out.collect()))
    assert log == [0, 1, 2, 3]

    # corrupt bucket 1 out-of-band: delete one of its part files AND the
    # stage manifest's row count no longer reconciles
    bdir = os.path.join(ckpt, "s", "data", "part_bucket=1")
    parts = glob.glob(os.path.join(bdir, "part-*"))
    assert parts
    for p in parts:
        os.remove(p)

    log.clear()
    out2 = run_stage(spark, ckpt, "h1", "s", fn, 4)
    assert log == [1]                  # ONLY the corrupted bucket recomputed
    assert sorted(map(tuple, out2.collect())) == want


def test_bucketed_rewrite_clears_flat_part_files(spark, tmp_path):
    """A stage written flat and then recomputed bucketed over the same
    checkpoint (an ``incremental_buckets`` toggle) keeps no flat part
    files: with no journal for the current header, ``data/`` is cleared
    before the first bucket commits."""
    from pyspark.sql import functions as F

    base = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 7).alias("v"))
    ckpt = str(tmp_path / "ck")
    run_stage(spark, ckpt, "h1", "s", lambda _: base, pin={"layout": "flat"})
    data = os.path.join(ckpt, "s", "data")
    assert any(d.startswith("part-") for d in os.listdir(data))

    out = run_stage(
        spark, ckpt, "h1", "s",
        lambda b: base.where(F.pmod("k", F.lit(4)) == b),
        buckets=4, pin={"layout": "b4"})
    assert sorted(os.listdir(data)) == [f"part_bucket={b}" for b in range(4)]
    assert out.count() == 100
    assert read_manifest(ckpt, "s")["rows"] == 100


def _pairs(res):
    return [(r["a"], r["b"], r["passed"])
            for r in res.verified_pairs.collect()]


def test_mode_parity_with_escalation(spark, tmp_path):
    """With wave 2 active (bucket_cap=2 salts the tiny corpus' buckets and
    fails rep pairs; at seed 2 wave 2 verifies two pairs), a run without a checkpoint, with a flat checkpoint
    and with incremental_buckets=3 verify the same pairs, each once, and
    give the same clusters; both checkpoint layouts store each verify wave
    as its own stage."""
    rows = C.generate("tiny", seed=2)
    df = spark.createDataFrame(C.to_pandas(rows))
    flat = DedupConfig(shuffle_partitions=8, bucket_cap=2)
    inc = DedupConfig(shuffle_partitions=8, bucket_cap=2,
                      incremental_buckets=3)
    out = {}
    for mode, cfg, ckpt in (("stored", flat, ""),
                            ("flat", flat, str(tmp_path / "flat")),
                            ("bucketed", inc, str(tmp_path / "inc"))):
        res = run_pipeline(spark, df, cfg, ckpt=ckpt, collect_metrics=False)
        pairs = _pairs(res)
        assert len({p[:2] for p in pairs}) == len(pairs), mode
        assert res.stages["verified_pairs_esc"].count() > 0, mode
        out[mode] = (set(pairs), _clusters(res))
        for s in ("verified_pairs", "verified_pairs_esc"):
            assert not ckpt or stage_complete(ckpt, s, cfg.config_hash()), \
                (mode, s)
        # the manifest contract, side tables included: the same base keys
        # and per-partition lineage that sums to the stage's rows
        for s in sorted(os.listdir(ckpt)) if ckpt else ():
            m = read_manifest(ckpt, s)
            assert MANIFEST_KEYS <= set(m), (mode, s)
            parts = m["partitions"]
            assert sum(p["rows_out"] for p in parts) == m["rows"], (mode, s)
            assert parts or m["rows"] == 0, (mode, s)
        res.release()
    assert out["stored"] == out["flat"] == out["bucketed"]


def test_flat_two_wave_verified_pairs_recomputes(spark, tmp_path,
                                                 monkeypatch):
    """A flat verified_pairs checkpoint that holds BOTH verify waves under
    the manifest pin vp_buckets: 0 (the layout from before wave 2 became
    its own stage) is not reused as wave 1: wave 1 recomputes, wave 2
    comes from its own stage, and no pair is counted twice."""
    from nise_dedup import verify as V
    from nise_dedup.io import write_stage

    rows = C.generate("tiny", seed=2)
    df = spark.createDataFrame(C.to_pandas(rows))
    cfg = DedupConfig(shuffle_partitions=8, bucket_cap=2)
    ckpt = str(tmp_path / "ck")
    res = run_pipeline(spark, df, cfg, ckpt=ckpt, collect_metrics=False)
    want = _clusters(res)
    both = res.verified_pairs.collect()
    assert res.stages["verified_pairs_esc"].count() > 0
    write_stage(spark.createDataFrame(both, res.verified_pairs.schema),
                "verified_pairs", ckpt, cfg.config_hash(),
                pin={"vp_buckets": 0})
    assert "w1_buckets" not in read_manifest(ckpt, "verified_pairs")

    real = V.verify_pairs
    calls: list[int] = []
    monkeypatch.setattr(
        V, "verify_pairs",
        lambda *a, **k: (calls.append(1), real(*a, **k))[1])
    res2 = run_pipeline(spark, df, cfg, ckpt=ckpt, collect_metrics=False)
    assert calls == [1]                     # wave 1 only; wave 2 reused
    pairs = _pairs(res2)
    assert len({p[:2] for p in pairs}) == len(pairs) == len(both)
    assert _clusters(res2) == want
