"""Traced run: per-layer spans, Spark stage metrics and checkpoint I/O.

Order, in one session (every run's output is checked, and each must give
the same cluster partition):

1. after the set-up's warm-up run (``harness.warm_up``), one
   ``run_pipeline`` without a checkpoint inside ``instrument.enable()``,
   which only timestamps the pipeline's own driver barriers: barrier
   spans, the gap no barrier covers, job and task counts. Its wall is the
   untraced wall the checkpoint cost and the tracing overhead are taken
   against;
2. a checkpointed run (``incremental_buckets`` > 0): its wall minus the
   warm run's is the checkpoint cost. The count and lineage jobs that
   follow each stage's parquet write are then replayed on the written
   stages and timed alone;
3. a simulated kill mid-verification (the verified_pairs, clusters_uniq
   and clusters stages deleted, as tests/test_resume.py does); the row
   count reconciliation of the surviving stages, which the resume repeats
   before reusing each, timed alone; then the resume;
4. the composition: each layer's public function called on the previous
   layer's materialized output, inside a span under its own job group.
   Its wall minus step 1's is the tracing overhead.
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import contextmanager

import metrics as M
import sparkstats as S
from harness import log

# Barriers the pipeline records on the workloads here (the distributed CC
# path's cc_sig_agg / cc_input_ckpt never run below 2M verified edges).
BARRIERS = ("p_signatures_fill", "p_files_agg", "l_salted_fill",
            "v_meta_agg", "p_rep_verify", "cc_probe_collect",
            "cc_driver_uf", "final_collect")
KILLED = ("verified_pairs", "clusters_uniq", "clusters")
CKPT_BUCKETS = 2


class Spans:
    """Wall-clock spans per layer, each under its own Spark job group, plus
    the Python-worker CPU each span used (JVM task CPU comes from REST)."""

    def __init__(self, sess):
        self.sc = sess.spark.sparkContext
        self.jvm_pid = sess.jvm.pid
        self.wall: dict[str, float] = {}
        self.py_cpu: dict[str, float] = {}

    def _worker_cpu(self) -> float:
        return S.cpu_s(S.descendants(self.jvm_pid))

    @contextmanager
    def span(self, layer: str):
        self.sc.setJobGroup(layer, f"perfbench layer {layer}")
        c0, t0 = self._worker_cpu(), time.time()
        try:
            yield
        finally:
            self.wall[layer] = self.wall.get(layer, 0.0) + time.time() - t0
            self.py_cpu[layer] = (self.py_cpu.get(layer, 0.0)
                                  + self._worker_cpu() - c0)
            self.sc.setJobGroup("", "")


def compose(sess, corpus, spans: Spans) -> dict:
    """The pipeline's no-checkpoint dataflow rebuilt from public layer
    functions, one forced materialization per call. Returns the published
    rows and the stored layer outputs."""
    from nise_dedup import cc, ingest, lsh, verify
    from nise_dedup.pipeline import FILES_COLS, ensure_min_partitions
    from nise_dedup.signatures import compute_signatures

    cfg, spark = sess.cfg, sess.spark

    def hold(df):
        # materialized with its lineage cut, so the next layer (and the
        # counts below) plan against stored rows, never the layer's plan
        return df.localCheckpoint(eager=True)

    with spans.span("ingest"):
        hashed = ingest.with_sha(ingest.with_file_id(
            ingest.basic_filters(corpus, cfg)))
        spread = min(cfg.shuffle_partitions,
                     max(spark.sparkContext.defaultParallelism, 16))
        hashed = hold(ensure_min_partitions(
            hashed.select(*FILES_COLS, "content"), spread))
        uniq = hold(ingest.uniq_with_content(hashed))
    with spans.span("signatures"):
        sigs = hold(compute_signatures(uniq, cfg, keep_minhash=False))
    with spans.span("lsh"):
        stats, handles = {}, []
        cand = hold(lsh.candidate_pairs(lsh.explode_bands(sigs), cfg,
                                        handles=handles, stats=stats))
        salted = handles[0]
        escalate = (cfg.escalate_failed_rep_pairs
                    and stats["n_salted_rows"] > 0)
        if escalate:
            cross = hold(lsh.cross_rep_pairs(salted, cfg.rep_k))
    with spans.span("verify"):
        verified = v1 = hold(verify.verify_pairs(cand, sigs, uniq, cfg))
        if escalate:
            rep_verd = hold(verify.verify_pairs(
                cross, sigs, uniq, cfg, eager_meta=False,
                formulation="joined"))
    if escalate:
        with spans.span("lsh"):
            esc = hold(lsh.escalation_pairs(salted, rep_verd, cfg)
                       .join(cand.select("a", "b"), on=["a", "b"],
                             how="left_anti"))
        with spans.span("verify"):
            v2 = hold(verify.verify_pairs(
                esc, sigs, uniq, cfg, eager_meta=False,
                formulation="joined",
                deep_budget=cfg.escalate_deep_budget))
            verified = v1.unionByName(v2)
    with spans.span("cc"):
        clusters_uniq = hold(cc.canonical_clusters(verified, sigs))
    with spans.span("ingest.publish"):
        files = hashed.select(*FILES_COLS)
        rows = (ingest.expand_exact(clusters_uniq, files)
                .select("repo", "path", "commit", "content_sha256",
                        "cluster_id").collect())
    for df in handles:
        df.unpersist()
    return {"rows": rows, "frames": locals()}


def counts(frames: dict, cfg) -> dict:
    """The composition's counts, taken from its stored layer outputs after
    the traced wall closes."""
    from pyspark.sql import functions as F

    from nise_dedup import lsh, verify

    f = frames
    n = {"files": f["hashed"].count(), "uniq": f["uniq"].count(),
         "cand_pairs": f["cand"].count(),
         "salted_rows": f["stats"]["n_salted_rows"],
         "rep_pairs": 0, "rep_pairs_failed": 0, "esc_pairs": 0,
         "esc_deep_gated": 0}
    if f["escalate"]:
        n["rep_pairs"] = f["cross"].dropDuplicates(["a", "b"]).count()
        health = lsh.rep_pair_health(f["cross"], f["verified"]).first()
        n["rep_pairs_failed"] = health["n_rep_pairs_failed"] or 0
        n["esc_pairs"] = f["esc"].count()
        n["esc_deep_gated"] = verify.count_deep_gated(f["esc"], f["sigs"],
                                                      cfg)
    row = f["verified"].agg(
        F.count("*").alias("n"),
        F.sum(F.col("passed").cast("long")).alias("p")).first()
    n["verified"], n["edges"] = row["n"], row["p"] or 0
    return n


def _timed(fn) -> float:
    t0 = time.time()
    fn()
    return time.time() - t0


def _stages(ckpt: str) -> list[str]:
    return sorted(d for d in os.listdir(ckpt)
                  if os.path.exists(os.path.join(ckpt, d, "manifest.json")))


def _post_write(spark, ckpt: str) -> None:
    """The jobs ``io.write_stage`` / ``io.run_stage_buckets`` run after
    each parquet write: row counts (per bucket, then per stage) and the
    per-partition lineage agg."""
    from nise_dedup.io import partition_lineage, read_manifest, read_stage

    for stage in _stages(ckpt):
        m = read_manifest(ckpt, stage)
        for b in range(m.get("n_buckets", 0)):
            spark.read.parquet(os.path.join(
                ckpt, stage, "data", f"part_bucket={b}")).count()
        written = read_stage(spark, ckpt, stage)
        written.count()
        if m["partitions"]:
            partition_lineage(written)


def _reconcile(spark, ckpt: str) -> None:
    """The row count check ``io.run_stage`` makes before reusing a stage."""
    from nise_dedup.io import read_stage

    for stage in _stages(ckpt):
        read_stage(spark, ckpt, stage).count()


def _checkpoint_io(sess, inputs, chk, corpus, work: str, rc,
                   warm_wall: float) -> dict:
    """Steps 2-3 of the module docstring."""
    import dataclasses

    from nise_dedup.io import read_manifest
    from harness import pipeline_run

    cfg = dataclasses.replace(sess.cfg, incremental_buckets=CKPT_BUCKETS)
    ckpt = os.path.join(work, "ckpt")
    first = max([j["jobId"] for j in rc.settle()], default=-1)
    out = chk.attempt("checkpointed run",
                      lambda: pipeline_run(sess, corpus, cfg, ckpt=ckpt))
    if out is None:
        return {}
    jobs = [j for j in rc.settle() if j["jobId"] > first and j.get("jobGroup")]
    written = S.du_bytes(ckpt)
    log("replaying the post-write jobs")
    post_write_s = _timed(lambda: _post_write(sess.spark, ckpt))
    sig_manifest = read_manifest(ckpt, "signatures")
    for stage in KILLED:
        shutil.rmtree(os.path.join(ckpt, stage))
    log("replaying the stage reconciliation")
    resume_read_s = _timed(lambda: _reconcile(sess.spark, ckpt))
    res = chk.attempt("resume after kill",
                      lambda: pipeline_run(sess, corpus, cfg, ckpt=ckpt))
    if read_manifest(ckpt, "signatures") != sig_manifest:
        chk.fail("resume rewrote the upstream signatures stage")
    if res is None:
        return {}
    return {
        "io.ckpt_cost_s": (out[1] - warm_wall, "s"),
        "io.post_write_s": (post_write_s, "s"),
        "io.bytes_written_mb": (written / 2**20, "MiB"),
        "io.jobs_per_stage": (len(jobs) / len({j.get("jobGroup")
                                               for j in jobs}), "count"),
        "io.resume_s": (res[1], "s"),
        "io.resume_read_s": (resume_read_s, "s"),
        "io.ckpt_bytes_per_input_byte":
            (M.bytes_ratio(written, inputs.content_bytes), "ratio"),
    }


def _barriers(sess, chk, corpus, rc) -> dict:
    """Step 1 of the module docstring."""
    from nise_dedup import instrument
    from nise_dedup.pipeline import run_pipeline
    from harness import collect_clusters

    def run():
        sess.spark.catalog.clearCache()
        instrument.enable()
        t0 = time.time()
        try:
            res = run_pipeline(sess.spark, corpus, sess.cfg,
                               collect_metrics=False)
            with instrument.barrier("final_collect"):
                rows = collect_clusters(res.clusters)
            wall = time.time() - t0
        finally:
            blog = instrument.disable()
        res.release()
        return rows, wall, blog

    first = max([j["jobId"] for j in rc.settle()], default=-1)
    out = chk.attempt("instrumented run", run)
    if out is None:
        return {}
    _, wall, blog = out
    jobs = [j for j in rc.settle() if j["jobId"] > first]
    spans = [b for b in blog if b["s"] > 0]
    m = {f"pipeline.barrier.{name}_s":
         (sum(b["s"] for b in spans if b["name"] == name), "s")
         for name in BARRIERS}
    m["pipeline.wall_s"] = (wall, "s")
    m["pipeline.unattributed_s"] = (M.unattributed_s(
        wall, [(b["t0"], b["t0"] + b["s"]) for b in spans]), "s")
    m["pipeline.spark_jobs"] = (len(jobs), "count")
    m["pipeline.tasks"] = (rc.stage_metrics(jobs)["tasks"], "count")
    return m


def traced(sess, inputs, chk, corpus, work: str) -> dict:
    from nise_dedup import instrument

    rc = S.RestClient(sess.spark)
    m = _barriers(sess, chk, corpus, rc)
    if not m:
        return {}
    untraced_wall = m["pipeline.wall_s"][0]
    m.update(_checkpoint_io(sess, inputs, chk, corpus, work, rc,
                            untraced_wall))

    spans = Spans(sess)
    first = max([j["jobId"] for j in rc.settle()], default=-1)
    sess.spark.catalog.clearCache()

    def run():
        instrument.enable()
        t0 = time.time()
        try:
            out = compose(sess, corpus, spans)
            wall = time.time() - t0
        finally:
            blog = instrument.disable()
        return out["rows"], out, wall, blog

    res = chk.attempt("traced composition", run)
    if res is None:
        return {}
    _, out, wall, blog = res
    log("layer counts and stage metrics")
    n = counts(out["frames"], sess.cfg)
    jobs = [j for j in rc.settle() if j["jobId"] > first]
    layer = {g: rc.stage_metrics([j for j in jobs if j.get("jobGroup") == g])
             for g in spans.wall}

    def cpu(g):
        return layer[g]["executor_cpu_s"] + spans.py_cpu[g]

    notes = {b["name"]: b["value"] for b in blog if "value" in b}
    budget = sess.cfg.escalate_deep_budget
    esc_deep = min(n["esc_deep_gated"], budget) if budget else \
        n["esc_deep_gated"]
    deep = notes.get("n_deep", 0) + esc_deep
    barrier_names = [b["name"] for b in blog if "value" not in b]
    m.update({
        "ingest.wall_s": (spans.wall["ingest"], "s"),
        "ingest.shuffle_write_mb": (layer["ingest"]["shuffle_write_mb"],
                                    "MiB"),
        "ingest.uniq_ratio": (n["uniq"] / n["files"], "ratio"),
        "ingest.publish_s": (spans.wall["ingest.publish"], "s"),
        "signatures.wall_s": (spans.wall["signatures"], "s"),
        "signatures.executor_cpu_s": (cpu("signatures"), "s"),
        "signatures.us_per_doc": (cpu("signatures") * 1e6 / n["uniq"],
                                  "us"),
        "lsh.wall_s": (spans.wall["lsh"], "s"),
        "lsh.shuffle_write_mb": (layer["lsh"]["shuffle_write_mb"], "MiB"),
        "lsh.cand_pairs": (n["cand_pairs"], "count"),
        "lsh.salted_rows": (n["salted_rows"], "count"),
        "lsh.rep_pairs": (n["rep_pairs"], "count"),
        "lsh.max_task_s": (layer["lsh"]["max_task_s"], "s"),
        "verify.wall_s": (spans.wall["verify"], "s"),
        "verify.executor_cpu_s": (cpu("verify"), "s"),
        "verify.deep_pairs": (deep, "count"),
        "verify.us_per_deep_pair": (cpu("verify") * 1e6 / max(deep, 1),
                                    "us"),
        "verify.pass_ratio": (n["edges"] / max(n["verified"], 1), "ratio"),
        "verify.rep_pairs_failed": (n["rep_pairs_failed"], "count"),
        "verify.escalation_pairs": (n["esc_pairs"], "count"),
        "verify.esc_deep_dropped": (n["esc_deep_gated"] - esc_deep,
                                    "count"),
        "cc.wall_s": (spans.wall["cc"], "s"),
        "cc.edges": (n["edges"], "count"),
        "cc.iterations": (barrier_names.count("cc_sig_agg"), "count"),
        "cc.driver_path": (int("cc_driver_uf" in barrier_names), "bool"),
        "trace.wall_s": (wall, "s"),
        "trace.unspanned_s": (wall - sum(spans.wall.values()), "s"),
        "trace.overhead_s": (wall - untraced_wall, "s"),
        "driver.peak_rss_mb": (sess.peak_rss_mb(), "MiB"),
    })
    _self_checks(chk, m)
    return m


def _self_checks(chk, m: dict) -> None:
    """A workload must keep exercising the layer it was chosen for."""
    v = {k: val for k, (val, _) in m.items()}
    if chk.workload == "hot_buckets":
        for k in ("lsh.salted_rows", "verify.rep_pairs_failed",
                  "verify.escalation_pairs"):
            if not v[k] > 0:
                chk.fail(f"hot_buckets stopped exercising its layer: {k} = 0")
    if chk.workload == "planted_10k" and v["lsh.rep_pairs"] != 0:
        chk.fail("planted_10k salted: lsh.rep_pairs = "
                 f"{v['lsh.rep_pairs']}")
