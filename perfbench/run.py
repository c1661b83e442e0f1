"""Dedup benchmark: one workload, one process, local[nproc].

    python3 perfbench/run.py --workload planted_10k --seed 1 --seconds 5 --trace 0

Run from the repository root. The inputs are generated from ``--seed`` and
written as parquet; the program reads only that parquet, through
``ingest.read_corpus``.

--trace 0 times ``run_pipeline`` plus materializing ``clusters`` untraced
and prints the end-to-end metrics. --trace 1 prints the per-layer metrics
(see layers.py). Every pipeline run's output is checked; the last stdout
line is one JSON object {"correct", "attempted", "failed", "metrics"}.
See README.md for the workloads and what each metric should move.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import metrics as M  # noqa: E402
import sparkstats as S  # noqa: E402
from harness import (Checker, Inputs, Session,  # noqa: E402
                     assert_sha_invariant, log, pipeline_run, warm_up)

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))


def configure_env() -> None:
    """Process environment for Spark on this machine, set before the JVM
    and the Python workers start (workers inherit it)."""
    mem = S.mem_total_bytes()
    # a quarter of the machine (or cgroup) memory, 1-8 GiB: the session's
    # 24g default does not fit a 15 GB box
    gib = min(8, max(1, mem // 4 // 2**30))
    os.environ.setdefault("NISE_DRIVER_MEM", f"{gib}g")
    # workers import nise_dedup from the checkout, wherever they start
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    for k in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS",
              "NUMEXPR_NUM_THREADS"):
        os.environ[k] = "1"
    os.environ["NISE_SPARK_CONF"] = json.dumps({
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"})
    os.makedirs(os.environ["SPARK_LOCAL_DIRS"], exist_ok=True)
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)


def timed(sess: Session, inputs: Inputs, chk: Checker, corpus,
          seconds: float) -> dict:
    """Warm untraced reps for ``seconds`` (at least one)."""
    walls, last = [], None
    t_end = time.time() + seconds
    while not walls or time.time() < t_end:
        out = chk.attempt(f"rep {len(walls) + 1}",
                          lambda: pipeline_run(sess, corpus))
        if out is None:
            break
        last, wall = out
        walls.append(wall)
    if last is not None:
        def sha_check():
            assert_sha_invariant(sess, corpus, last)
            return last
        chk.attempt("assert_sha_invariant", sha_check)
    if not walls or chk.scores is None:
        return {}
    return {
        "files_per_s": (inputs.n_files / M.median(walls), "files/s"),
        "recall_truth": (chk.scores["recall"], "ratio"),
        "precision_truth": (chk.scores["precision"], "ratio"),
    }


def stamp(sess: Session, cpus: int) -> dict:
    try:
        head = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or None
    except OSError:
        head = None
    sc = sess.spark.sparkContext
    return {"nproc": cpus, "mem_total_bytes": S.mem_total_bytes(),
            "spark_version": sc.version,
            "session_conf": dict(sorted(sc.getConf().getAll())),
            "config_hash": sess.cfg.config_hash(), "git_head": head}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "nise_dedup")):
        print("run from the repository root (no nise_dedup/ here)",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import workloads as W
    if args.workload not in W.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of "
              f"{sorted(W.WORKLOADS)}", file=sys.stderr)
        return 2

    cpus = os.cpu_count() or 1
    configure_env()
    steal0, t_steal = S.read_steal(), time.time()
    sess = None
    try:
        inputs = Inputs(args.workload, args.seed, WORK)
        log(f"{inputs.n_files} input files written")
        sess = Session(cpus)
        log("session up")
        chk = Checker(inputs, args.workload, sess.spark)
        from nise_dedup.ingest import read_corpus
        corpus = read_corpus(sess.spark, inputs.path)
        warm_up(sess, chk, args.seed, WORK)
        setup_s = time.time() - T_START
        if args.trace:
            import layers
            metrics = layers.traced(sess, inputs, chk, corpus, WORK)
        else:
            metrics = timed(sess, inputs, chk, corpus, args.seconds)
            if metrics:
                metrics["setup_s"] = (setup_s, "s")
        info = stamp(sess, cpus)
    finally:
        if sess is not None:
            log("stopping the session")
            sess.close()
        log("done")
        shutil.rmtree(WORK, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(WORK))
        except OSError:
            pass    # another run's work directory is still there
    wall = time.time() - t_steal
    info["steal_share"] = ((S.read_steal() - steal0)
                           / (wall * os.sysconf("SC_CLK_TCK") * cpus))
    info["errors"] = chk.errors
    print(json.dumps({"stamp": info}))
    correct = not chk.errors and bool(metrics)
    print(json.dumps({
        "correct": correct, "attempted": chk.attempted,
        "failed": chk.failed if correct else max(chk.failed, 1),
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()}}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
