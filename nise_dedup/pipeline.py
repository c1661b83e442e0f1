"""End-to-end stage DAG (SURVEY §3.1): ingest → uniq → signatures → pairs →
verify → cluster → publish.

Stored-stage rule. Every stage passes through ONE gate (``gate`` in
``run_pipeline``), the only code that knows the run mode:
- with a checkpoint, a stage is written as parquet (bucket by bucket when
  ``incremental_buckets`` > 0) and read back, so consumers plan against
  the stored rows and a resume skips completed stages (io.py);
- without one, ingest, uniq and signatures are persisted and filled by
  the F2 agg and the signature count; every later stage (candidate
  pairs, rep-pair verdicts, escalated pairs, both verify waves,
  clusters_uniq) is stored once by ``localCheckpoint(eager=True)`` in its
  own barrier ``p_<stage>``, its lineage cut. Left lazy, the CC probe ran
  both waves and the CC input as one fused action re-planning the whole
  LSH/verify DAG (perfbench hot_buckets, 4 cores: 80 -> 105 files/s with
  the cuts; persist + count per stage measured slower);
- the publish stays lazy without a checkpoint: the caller reads it once;
- ``PipelineResult.release()`` frees every cache and checkpoint the run
  stored.

Shuffle discipline (the 100-TB design, SURVEY §4): the source is scanned
and sha256-hashed exactly once (``files`` is a column-pruned projection of
the ingest stage and ``uniq`` collapses from the same relation);
``content`` is shuffled once (the uniq collapse) and re-joined only for
the gated deep-verify residue; every other stage moves ids and
fixed-width sketches.
"""

from __future__ import annotations

import threading
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nise_dedup import cc, ingest, lsh, verify
from nise_dedup.instrument import barrier
from nise_dedup.config import DedupConfig
from nise_dedup.io import read_stage, run_stage, write_stage
from nise_dedup.session import free_stored, spread_width
from nise_dedup.signatures import compute_signatures

FILES_COLS = ["file_id", "repo", "path", "commit", "lang",
              "content_sha256", "n_bytes"]


def ensure_min_partitions(df: DataFrame, n: int) -> DataFrame:
    """Repartition ONLY when underpartitioned (e.g. the corpus arrived as a
    single unsplittable parquet row group, so every narrow stage — including
    the Arrow signature UDF — would run on one core). On a real cluster the
    scan has natural splits and this is a no-op; the check is plan metadata,
    not an action."""
    if df.rdd.getNumPartitions() < n:
        return df.repartition(n)
    return df


@dataclass
class PipelineResult:
    """Result handle for one pipeline run. Without a checkpoint the frames
    read the run's stored stages; call :meth:`release` once done reading
    them."""

    clusters: DataFrame        # one row per input row: keys + cluster_id
    clusters_uniq: DataFrame   # per canonical content: file_id, cluster_id
    verified_pairs: DataFrame
    metrics: dict
    stages: dict = field(default_factory=dict)   # name -> stage DataFrame
    _persisted: list = field(default_factory=list)

    def release(self) -> None:
        """Free every cache and local checkpoint this run stored
        (no-checkpoint mode). Frames over a released checkpoint can no
        longer be read."""
        for df in self._persisted:
            free_stored(df)
        self._persisted.clear()


def run_pipeline(spark: SparkSession, corpus: DataFrame,
                 cfg: DedupConfig | None = None,
                 ckpt: str = "",
                 collect_metrics: bool = True) -> PipelineResult:
    cfg = cfg or DedupConfig()
    ch = cfg.config_hash()
    B = cfg.incremental_buckets
    stage_caches: list[DataFrame] = []   # released by PipelineResult.release
    stored: dict[str, DataFrame] = {}    # stages stored in place, by name
    cand_internals: list[DataFrame] = []    # salted-bucket cache (L2/L3)
    verify_internals: list[DataFrame] = []  # pair-metadata caches (V0)

    def store(name, df):
        """Materialize a stage once, with its lineage cut (the rep
        verdicts and the escalated list, in every mode)."""
        with barrier(f"p_{name}"):
            df = df.localCheckpoint(eager=True)
        stage_caches.append(df)
        stored[name] = df
        return df

    def gate(name, fn, buckets=0, pin=None, cache=False, partition_by=""):
        """Build stage ``name``: ``fn(b)`` returns bucket ``b`` of it, or
        all of it when ``b`` is None. With a checkpoint io.run_stage
        commits or reuses it, whole or per bucket when ``buckets`` is
        set; ``pin`` is the layout its manifest records and must carry to
        be reused. Without one the stage is stored, or for a ``cache``
        stage persisted lazily."""
        if ckpt:
            return run_stage(spark, ckpt, ch, name, fn, buckets, pin,
                             partition_by)
        if not cache:
            return store(name, fn(None))
        df = fn(None).persist()
        stage_caches.append(df)
        return df

    # --- ingest: ONE scan of the source computes ids + shas and carries
    # content; everything downstream derives from this stage ---
    def _ingest(_):
        df = ingest.basic_filters(corpus, cfg)
        df = ingest.with_sha(ingest.with_file_id(df))
        # the repartition exists to parallelize the CPU-heavy signature
        # pass, whose round-robin rows are uniform; every downstream scan
        # of the ingest/uniq/signature caches inherits this width
        return ensure_min_partitions(
            df.select(*FILES_COLS, "content"),
            spread_width(cfg.shuffle_partitions,
                         spark.sparkContext.defaultParallelism))
    hashed = gate("ingest", _ingest, cache=True)
    # `files` is a projection, not a stage: column pruning means metadata
    # consumers never read content pages. Without a checkpoint it is
    # cached, because the publish reads it after the ingest cache is gone.
    files = hashed.select(*FILES_COLS)
    if not ckpt:
        files = files.persist()
        stage_caches.append(files)

    # F2 uniqueness: an exact (count, countDistinct) agg over `files` right
    # after ingest (HLL is useless here: the ~2.7e4 collisions expected at
    # 10^12 rows sit inside its error band); only 8-byte ids shuffle.
    # Without a checkpoint it also fills the ingest cache and `files`, so
    # the signature fill reads hot cache. On a collision the ids are
    # re-keyed once, deterministically, before uniq reads any id.
    with barrier("p_files_agg"):
        row = files.agg(F.count("*").alias("n"),
                        F.countDistinct("file_id").alias("d")).first()
    n_files = row["n"]
    if row["n"] != row["d"]:
        # the lineage cut lets checkpoint mode overwrite the ingest parquet
        # the re-key reads (ADVICE r2: UNSUPPORTED_OVERWRITE wedge)
        resolved = ingest.resolve_id_collisions(hashed).localCheckpoint(
            eager=True)
        stage_caches.append(resolved)
        hashed.unpersist()
        files.unpersist()
        hashed = resolved
        if ckpt:
            write_stage(hashed, "ingest", ckpt, ch)
            hashed = read_stage(spark, ckpt, "ingest")
        files = hashed.select(*FILES_COLS)

    # uniq (content for signatures and deep verify) and signatures (bands,
    # verify metadata, C2's all-nodes frame). With B > 0 the checkpointed
    # uniq is dir-partitioned on part_bucket, so each signature bucket
    # re-reads a partition-PRUNED slice and a kill resumes from the first
    # missing bucket. B is not in config_hash but changes the stored
    # layout, so both manifests pin it (ADVICE r4): a resume under another
    # layout recomputes.
    def _uniq(_):
        u = ingest.uniq_with_content(hashed)
        return u.withColumn("part_bucket", F.pmod(
            F.xxhash64("file_id"), F.lit(B)).cast("int")) if B else u
    uniq = gate("uniq", _uniq, pin={"uniq_buckets": B}, cache=True,
                partition_by="part_bucket" if B else "")
    # keep_minhash=False: the pipeline never reads the raw minhash array
    # (pairs compare the packed b-bit sketch + band keys)
    signatures = gate(
        "signatures",
        lambda b: compute_signatures(
            uniq if b is None else uniq.where(F.col("part_bucket") == b),
            cfg, keep_minhash=False),
        buckets=B, pin={"sig_buckets": B}, cache=True)
    if B:
        uniq = uniq.drop("part_bucket")
    if not ckpt:
        with barrier("p_signatures_fill"):
            signatures.count()     # ONE action fills uniq AND signatures
    # content now lives only in uniq (VERDICT r2 wrong #1); with a
    # checkpoint this is a no-op
    hashed.unpersist()

    cand_stats: dict = {}

    cand = gate("cand_pairs", lambda _: lsh.candidate_pairs(
        lsh.explode_bands(signatures), cfg, handles=cand_internals,
        stats=cand_stats))
    box: dict = {}    # wave 2's stage, and what metrics read of its input

    def _esc_pairs():
        """Escalation pairs (wave-2 input): salt pairs whose rep_k^2 rep
        chances ALL failed get their cross-salt member pairs re-verified,
        else a true dup split across salts of a capped bucket stays
        disconnected. None when escalation is off or nothing salted. The
        decision reads its own verified rep-pair table (<= rep_k^2 rows
        per salted sub-bucket pair, same cascade), never wave 1."""
        if not cfg.escalate_failed_rep_pairs:
            return None
        # no salted rows, no cross-salt risk. A resume that skipped the cand
        # stage rebuilds the salted frame (cached: read 4 times below).
        if cand_internals:
            if cand_stats.get("n_salted_rows", 0) == 0:
                return None
            salted = cand_internals[0]
        else:
            salted = lsh.salted_buckets(
                lsh.explode_bands(signatures), cfg).persist()
            stage_caches.append(salted)
            if salted.where(F.col("nsplits") > 1).limit(1).count() == 0:
                return None
        # small bounded call (rep_k^2 per salted sub-bucket pair): no barrier
        rep_verd = store("rep_verify", verify.verify_pairs(
            lsh.cross_rep_pairs(salted, cfg.rep_k), signatures, uniq, cfg,
            handles=verify_internals, eager_meta=False))
        esc = store("esc_pairs",
                    lsh.escalation_pairs(salted, rep_verd, cfg)
                    .join(cand.select("a", "b"), on=["a", "b"],
                          how="left_anti"))
        box.update(salted=salted, rep_verd=rep_verd, esc=esc)   # for metrics
        return esc

    def _wave1(b):
        """Wave 1: the cascade over every LSH candidate. Bucket b holds
        the pairs with pmod(xxhash64(a), B) == b (pushed down to the cand
        parquet scan), so a kill in the dominant stage resumes from its
        first missing bucket."""
        pairs = cand if b is None else cand.where(
            F.pmod(F.xxhash64("a"), F.lit(B)) == b)
        return verify.verify_pairs(pairs, signatures, uniq, cfg,
                                   handles=verify_internals)

    def _wave2(_):
        """Wave 2: the escalated pairs through the same cascade (small:
        no meta barrier, the escalation deep budget), or an empty frame."""
        esc = _esc_pairs()
        if esc is None:     # zero partitions: no task and no Python worker
            return spark.createDataFrame(spark.sparkContext.emptyRDD(),
                                         verify.VERIFIED_SCHEMA)
        return verify.verify_pairs(esc, signatures, uniq, cfg,
                                   handles=verify_internals, eager_meta=False,
                                   deep_budget=cfg.escalate_deep_budget)

    # Wave 2 reads only cand, the caches and its own stored stages, never
    # wave 1's verdicts, so its whole stage runs from a second driver
    # thread while wave 1's Spark jobs run (job submission is
    # thread-safe). Wave 1 pins w1_buckets: a flat verified_pairs stage
    # from before the waves were split holds BOTH waves under vp_buckets,
    # and reusing it as wave 1 would count wave 2 twice.
    def _wave2_stage():
        try:
            box["v2"] = gate("verified_pairs_esc", _wave2)
        except BaseException as e:     # re-raised on the main thread
            box["err"] = e
    t = threading.Thread(target=_wave2_stage, daemon=True)
    t.start()
    try:
        w1 = gate("verified_pairs", _wave1, buckets=B,
                  pin={"w1_buckets": B})
    finally:
        t.join()    # a failed wave 1 never leaves wave 2 writing behind it
    if "err" in box:
        raise box["err"]
    verified = w1.unionByName(box["v2"])
    for h in cand_internals + verify_internals:
        h.unpersist()     # the salted-bucket and pair-metadata caches

    clusters_uniq = gate(
        "clusters_uniq",
        lambda _: cc.canonical_clusters(verified, signatures))
    # uniq holds one row per sha whose file_id is that sha's minimum: it
    # is the sha -> canonical map. Without a checkpoint run_stage returns
    # the lazy frame.
    clusters = run_stage(spark, ckpt, ch, "clusters", lambda _: (
        ingest.expand_exact(clusters_uniq, files,
                            winners=uniq.select("content_sha256",
                                                "file_id"))))

    metrics = {"config_hash": ch, "n_files": n_files}
    health = None
    if collect_metrics or ckpt:
        bands = lsh.explode_bands(signatures)
        health = lsh.rep_pair_health(
            lsh.cross_rep_pairs(lsh.salted_buckets(bands, cfg), cfg.rep_k),
            verified)
    if collect_metrics:
        hrow = health.first()
        metrics.update({
            "n_uniq": uniq.count(),
            "n_cand_pairs": cand.count(),
            "n_verified_pairs": verified.where("passed").count(),
            "n_clusters": clusters_uniq.select("cluster_id").distinct().count(),
            "n_rep_pairs": hrow["n_rep_pairs"],
            "n_rep_pairs_failed": hrow["n_rep_pairs_failed"] or 0,
            # 0 when no bucket salted, every rep pair passed, or the
            # verified_pairs_esc stage was reused from the checkpoint (its
            # escalated list is then never rebuilt)
            "n_escalation_pairs": (box["esc"].count()
                                   if "esc" in box else 0),
        })
        if "esc" in box:
            # no-silent-caps: both escalation bounds (per-bucket oversize
            # + the run-level escalate_max_pairs budget) surface here —
            # computed from the SAME salted frame and stored rep-pair
            # verdicts the hot path's decision used, never by re-running
            # the wave-1 cascade
            drow = lsh.escalation_diag(
                box["salted"], box["rep_verd"], cfg).first()
            metrics.update({k: drow[k] or 0 for k in
                            ("n_failed_salt_pairs", "n_skipped_oversize",
                             "n_skipped_budget", "n_budgeted_pairs")})
            # deep-budget accounting (escalate_deep_budget docstring):
            # how many wave-2 pairs the cascade WOULD deep-verify vs the
            # est-descending budget actually spent
            n_gated = verify.count_deep_gated(
                box["esc"].select("a", "b"), signatures, cfg)
            bud = cfg.escalate_deep_budget
            metrics.update({
                "n_esc_deep_gated": n_gated,
                "n_esc_deep_dropped": (max(0, n_gated - bud) if bud > 0
                                       else 0)})
    if ckpt:
        bands = lsh.explode_bands(signatures)
        write_stage(lsh.bucket_metrics(bands, cfg), "bucket_metrics",
                    ckpt, ch)
        write_stage(health, "rep_pair_health", ckpt, ch)
    return PipelineResult(clusters=clusters, clusters_uniq=clusters_uniq,
                          verified_pairs=verified, metrics=metrics,
                          stages={"ingest": hashed, "uniq": uniq,
                                  "signatures": signatures, **stored,
                                  "cand_pairs": cand,
                                  "verified_pairs": verified,
                                  "verified_pairs_esc": box["v2"],
                                  "clusters_uniq": clusters_uniq,
                                  "clusters": clusters},
                          _persisted=stage_caches)


def assert_sha_invariant(corpus: DataFrame, clusters: DataFrame) -> None:
    """BASELINE.json per-row invariant: the published table's content_sha256
    must equal sha256(content) of the input, row for row (natural key join)."""
    expected = corpus.select(
        "repo", "path", "commit",
        F.sha2("content", 256).alias("expected_sha"))
    joined = clusters.join(expected, on=["repo", "path", "commit"], how="full")
    bad = joined.where(
        F.col("content_sha256").isNull()
        | F.col("expected_sha").isNull()
        | (F.col("content_sha256") != F.col("expected_sha"))).count()
    if bad:
        raise AssertionError(f"sha256 invariant violated for {bad} rows")
