"""Pieces shared by the timed and the traced runs: generated inputs, the
Spark session's lifecycle, and the output checks of every pipeline run."""

from __future__ import annotations

import hashlib
import os
import subprocess
import sys
import time
import traceback

import metrics as M
import sparkstats as S

KEY = ("repo", "path", "commit")
RECALL_FLOOR = {"planted_10k": 0.99}
T0 = time.time()


def log(msg: str) -> None:
    """Progress line on stderr, stamped with seconds since start."""
    print(f"[perfbench {time.time() - T0:6.1f}s] {msg}", file=sys.stderr,
          flush=True)


class Inputs:
    """A workload's generated rows, written as parquet, plus what the
    checks need: per-key content sha and planted family."""

    def __init__(self, workload: str, seed: int, work: str):
        import workloads as W
        from nise_dedup import corpus as C

        rows = W.WORKLOADS[workload](seed)
        self.n_files = len(rows)
        self.content_bytes = sum(len(r.content.encode()) for r in rows)
        self.sha = {(r.repo, r.path, r.commit):
                    hashlib.sha256(r.content.encode()).hexdigest()
                    for r in rows}
        self.family = {(r.repo, r.path, r.commit):
                       (r.gt_cluster if r.gt_cluster > 0 else None)
                       for r in rows}
        self.path = os.path.join(work, "input.parquet")
        C.to_pandas(rows).to_parquet(self.path)


class Session:
    """The Spark session plus the driver JVM it launched; ``close`` stops
    both and waits for the JVM to exit."""

    def __init__(self, cpus: int):
        from nise_dedup.config import DedupConfig
        from nise_dedup.session import build_session

        self.cfg = DedupConfig(shuffle_partitions=2 * cpus)
        self.spark = build_session(master=f"local[{cpus}]", cfg=self.cfg,
                                   app_name="nise-dedup-perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        from pyspark import SparkContext
        self.jvm = SparkContext._gateway.proc

    def peak_rss_mb(self) -> float:
        return S.vm_hwm_mb(self.jvm.pid) + S.vm_hwm_mb(os.getpid())

    def close(self) -> None:
        from pyspark import SparkContext
        try:
            self.spark.stop()
        finally:
            gw = SparkContext._gateway
            if gw is not None:
                gw.shutdown()
                SparkContext._gateway = None
                SparkContext._jvm = None
            self.jvm.stdin.close()
            try:
                self.jvm.wait(timeout=60)
            except subprocess.TimeoutExpired:
                self.jvm.kill()
                self.jvm.wait()


class Checker:
    """Output checks of every pipeline run; failures are counted, not
    raised, so one run's result still prints."""

    def __init__(self, inputs: Inputs, workload: str, spark):
        self.inputs = inputs
        self.workload = workload
        self.spark = spark
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.digest = None
        self.scores = None
        self._scored: dict[str, dict] = {}

    def fail(self, msg: str) -> None:
        self.errors.append(msg)
        print(f"CHECK FAILED: {msg}", file=sys.stderr)

    def check(self, label: str, rows) -> bool:
        """``rows``: collected (repo, path, commit, content_sha256,
        cluster_id) of one run."""
        inp = self.inputs
        before = len(self.errors)
        keys = [tuple(r[k] for k in KEY) for r in rows]
        if len(keys) != inp.n_files or set(keys) != set(inp.sha):
            self.fail(f"{label}: {len(keys)} output rows for "
                      f"{inp.n_files} input rows, or keys differ")
        else:
            bad = sum(r["content_sha256"] != inp.sha[k]
                      for k, r in zip(keys, rows))
            if bad:
                self.fail(f"{label}: sha256 differs on {bad} rows")
            labels = [r["cluster_id"] for r in rows]
            digest = M.partition_digest(keys, labels)
            if self.digest is None:
                self.digest = digest
            elif digest != self.digest:
                self.fail(f"{label}: cluster partition differs from the "
                          "first run's")
            # equal partitions score equally: score each partition once
            if digest not in self._scored:
                self._scored[digest] = self._pair_scores(keys, labels)
            self.scores = self._scored[digest]
            floor = RECALL_FLOOR.get(self.workload)
            if floor is not None and self.scores["recall"] < floor:
                self.fail(f"{label}: recall {self.scores['recall']:.4f} "
                          f"< {floor}")
        return len(self.errors) == before

    def _pair_scores(self, keys: list, labels: list) -> dict:
        """Same-cluster pair recall and precision against the planted
        families, by the package's evaluator (``recall.dup_pair_recall``);
        a row planted as a non-duplicate is a family of its own."""
        import pandas as pd

        from nise_dedup.recall import dup_pair_recall

        ids = ["|".join(k) for k in keys]
        truth = [self.inputs.family[k] if self.inputs.family[k] is not None
                 else -1 - i for i, k in enumerate(keys)]
        got = dup_pair_recall(
            self.spark.createDataFrame(pd.DataFrame(
                {"file_id": ids, "cluster_id": labels})),
            self.spark.createDataFrame(pd.DataFrame(
                {"file_id": ids, "cluster_id": truth})))
        log("partition scored")
        n_pred = got["n_pred_pairs"]
        got["precision"] = got["n_hit_pairs"] / n_pred if n_pred else 1.0
        return got

    def attempt(self, label: str, fn, check=None):
        """Run ``fn`` (returns collected rows, or (rows, extra)), check
        its output (with ``check(rows)`` when given, else against the
        workload's inputs); returns fn's value, or None when it raised."""
        self.attempted += 1
        log(label)
        try:
            out = fn()
            rows = out[0] if isinstance(out, tuple) else out
            ok = check(rows) if check else self.check(label, rows)
        except Exception:
            self.failed += 1
            self.fail(f"{label} raised:\n{traceback.format_exc()}")
            return None
        if not ok:
            self.failed += 1
        return out


def collect_clusters(df):
    return df.select(*KEY, "content_sha256", "cluster_id").collect()


def pipeline_run(sess: Session, corpus, cfg=None, ckpt: str = ""):
    """One ``run_pipeline`` plus materializing ``clusters``; returns
    (rows, wall_s)."""
    from nise_dedup.pipeline import run_pipeline

    sess.spark.catalog.clearCache()
    t0 = time.time()
    res = run_pipeline(sess.spark, corpus, cfg or sess.cfg, ckpt=ckpt,
                       collect_metrics=False)
    rows = collect_clusters(res.clusters)
    wall = time.time() - t0
    res.release()
    return rows, wall


def warm_up(sess: Session, chk: Checker, seed: int, work: str) -> None:
    """The process's first, cold pipeline run, on the planted "tiny"
    corpus (200 files): the JIT and Python worker start-up it absorbs
    belong to set-up, never to a timed or traced run. Its output must
    have one row per input row."""
    from nise_dedup import corpus as C
    from nise_dedup.ingest import read_corpus

    rows = C.generate("tiny", seed)
    path = os.path.join(work, "warm_up.parquet")
    C.to_pandas(rows).to_parquet(path)
    corpus = read_corpus(sess.spark, path)

    def one_row_per_input(out) -> bool:
        if len(out) != len(rows):
            chk.fail(f"warm-up run: {len(out)} output rows for "
                     f"{len(rows)} input rows")
        return len(out) == len(rows)

    chk.attempt("warm-up run", lambda: pipeline_run(sess, corpus),
                check=one_row_per_input)


def assert_sha_invariant(sess: Session, corpus, rows) -> None:
    """The pipeline's own per-row sha256 check on a run's output rows."""
    from nise_dedup.pipeline import assert_sha_invariant as check
    import pandas as pd

    out = sess.spark.createDataFrame(pd.DataFrame(
        [r.asDict() for r in rows]))
    check(corpus, out)
