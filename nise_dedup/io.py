"""Stage sinks, manifests and the one resumable gate, F4–F5c (SURVEY §3.2).

``run_stage`` is the only function that commits or reuses a stage, flat
or bucketed. One reuse check: the stage is reused iff its manifest
exists, its config hash and every ``pin`` key/value match, and the
stored parquet row count equals the manifest's. Otherwise the stale
manifest is removed FIRST, the data is written (whole, or one journaled
bucket at a time), and ``_publish`` replaces ``manifest.json``
atomically LAST: config hash, row count, schema, per-partition lineage,
wall time and the pins. A kill leaves no manifest, so a resume
recomputes that stage (or its missing buckets) only. This is what makes
every stage resumable mid-run per BASELINE.json.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from contextlib import contextmanager
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST = "manifest.json"
BUCKET_JOURNAL = "buckets.jsonl"


def _stage_dir(ckpt: str, stage: str) -> str:
    return os.path.join(ckpt, stage)


def partition_lineage(df: DataFrame) -> list[dict]:
    """Per-partition row counts (lineage contract, BASELINE.json).

    spark_partition_id is evaluated at WRITE layout time; rows land in the
    manifest, not in a shuffled side table. Their sum is the stage's row
    count, so a stage write runs this one agg and no separate count."""
    rows = (df.groupBy(F.spark_partition_id().alias("partition_id"))
            .agg(F.count("*").alias("rows_out"))
            .collect())
    return [{"partition_id": r["partition_id"], "rows_out": r["rows_out"]}
            for r in rows]


def read_manifest(ckpt: str, stage: str) -> dict:
    with open(os.path.join(_stage_dir(ckpt, stage), MANIFEST)) as f:
        return json.load(f)


def read_stage(spark: SparkSession, ckpt: str, stage: str) -> DataFrame:
    return spark.read.parquet(os.path.join(_stage_dir(ckpt, stage), "data"))


def _complete(ckpt: str, stage: str, config_hash: str) -> dict | None:
    """The stage's manifest if it is complete under ``config_hash``."""
    try:
        m = read_manifest(ckpt, stage)
    except (OSError, json.JSONDecodeError):    # missing or torn
        return None
    return m if m.get("config_hash") == config_hash and "rows" in m else None


def stage_complete(ckpt: str, stage: str, config_hash: str) -> bool:
    return _complete(ckpt, stage, config_hash) is not None


def _invalidate(ckpt: str, stage: str) -> str:
    """Drop the stale manifest before the data is touched, so a killed
    rerun never leaves an OLD manifest over NEW partial data."""
    sdir = _stage_dir(ckpt, stage)
    os.makedirs(sdir, exist_ok=True)
    mpath = os.path.join(sdir, MANIFEST)
    if os.path.exists(mpath):
        os.remove(mpath)
    return os.path.join(sdir, "data")


def _publish(spark: SparkSession, ckpt: str, stage: str, config_hash: str,
             t0: float, pin: dict) -> None:
    """The one manifest writer: the lineage agg over the written data
    (its sum is the row count), then an atomic replace."""
    written = read_stage(spark, ckpt, stage)
    parts = partition_lineage(written)
    manifest = {
        "stage": stage,
        "config_hash": config_hash,
        "rows": sum(p["rows_out"] for p in parts),
        "schema": written.schema.jsonValue(),
        "wall_s": round(time.time() - t0, 3),
        "partitions": parts,
        "completed_at_epoch": int(time.time()),
        **pin,
    }
    mpath = os.path.join(_stage_dir(ckpt, stage), MANIFEST)
    with open(mpath + ".tmp", "w") as f:
        json.dump(manifest, f, indent=1)
    os.replace(mpath + ".tmp", mpath)


@contextmanager
def _job_group(spark: SparkSession, stage: str):
    spark.sparkContext.setJobGroup(stage, f"nise-dedup stage {stage}")
    try:
        yield
    finally:
        spark.sparkContext.setJobGroup("", "")


def write_stage(df: DataFrame, stage: str, ckpt: str, config_hash: str,
                partition_by: str = "", pin: dict | None = None) -> str:
    """F4 — overwrite the stage's parquet, then publish its manifest.
    ``partition_by`` lays the data out in directories (part_bucket=N/...)
    so bucket-granular consumers get partition-PRUNED scans."""
    data = _invalidate(ckpt, stage)
    t0 = time.time()
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(partition_by)
    w.parquet(data)
    _publish(df.sparkSession, ckpt, stage, config_hash, t0, pin or {})
    return data


def run_stage(spark: SparkSession, ckpt: str, config_hash: str, stage: str,
              fn: Callable[[int | None], DataFrame], buckets: int = 0,
              pin: dict | None = None,
              partition_by: str = "") -> DataFrame:
    """F5 — the resumable gate. ``fn(b)`` builds bucket ``b`` and
    ``fn(None)`` the whole stage; without ``ckpt`` this returns
    ``fn(None)``. A complete stage (module docstring) is read back; else
    it is written whole, or per bucket when ``buckets`` > 0, and read back.

    ``pin`` (ADVICE r4) is what the manifest records and must carry to be
    reused: the layout of EXECUTION-only knobs kept out of the config hash
    (``uniq_buckets``, ``sig_buckets``, ``w1_buckets``). A mismatch, or a
    manifest from before the key existed, recomputes."""
    if not ckpt:
        return fn(None)
    pin = pin or {}

    def _read() -> DataFrame:
        df = read_stage(spark, ckpt, stage)
        # a bucketed stage reads back with the flat stage's schema
        return df.drop("part_bucket") if buckets else df

    m = _complete(ckpt, stage, config_hash)
    if m is not None and all(m.get(k) == v for k, v in pin.items()):
        try:
            # footer-metadata-only count: catches out-of-band data loss
            df = _read()
            if df.count() == m["rows"]:
                return df
        except Exception:
            pass   # unreadable/partial data -> recompute below
    if buckets:
        _commit_buckets(spark, ckpt, config_hash, stage, buckets, fn, pin)
    else:
        df = fn(None)
        with _job_group(spark, stage):
            write_stage(df, stage, ckpt, config_hash, partition_by, pin)
    return _read()


def _commit_buckets(spark: SparkSession, ckpt: str, config_hash: str,
                    stage: str, n_buckets: int,
                    fn: Callable[[int], DataFrame], pin: dict) -> None:
    """F5b — per-bucket commit (SURVEY §3.2): ``fn(b)`` lands under
    ``data/part_bucket=b/`` as its own parquet write, then a journal line
    with its row count, so a kill loses at most the in-flight bucket. A
    resume skips a bucket iff its line, directory and footer row count
    all hold (ADVICE r4: a corrupted bucket recomputes; so do count-less
    lines). The journal header pins (config_hash, n_buckets), which fix
    bucket membership: a mismatch or no journal wipes ``data/``. Buckets
    are sequential Spark jobs: keep B small (<=32)."""
    data = _invalidate(ckpt, stage)
    jpath = os.path.join(_stage_dir(ckpt, stage), BUCKET_JOURNAL)
    header = {"config_hash": config_hash, "n_buckets": n_buckets}
    done: set[int] = set()
    if os.path.exists(jpath):
        lines = []
        with open(jpath) as f:
            for line in f:
                try:
                    lines.append(json.loads(line))
                except json.JSONDecodeError:
                    continue
        if lines and lines[0] == header:
            for j in lines[1:]:
                bdir = os.path.join(data, f"part_bucket={j['bucket']}")
                if "rows" not in j or not os.path.isdir(bdir):
                    continue    # unverifiable/missing -> recompute
                try:
                    if spark.read.parquet(bdir).count() == j["rows"]:
                        done.add(j["bucket"])
                except Exception:
                    pass        # unreadable slice -> recompute
        else:
            os.remove(jpath)
    if not os.path.exists(jpath):
        shutil.rmtree(data, ignore_errors=True)
        with open(jpath, "w") as f:
            f.write(json.dumps(header) + "\n")

    t0 = time.time()
    with _job_group(spark, stage):
        for b in range(n_buckets):
            if b in done:
                continue
            bdir = os.path.join(data, f"part_bucket={b}")
            fn(b).write.mode("overwrite").parquet(bdir)
            rows = spark.read.parquet(bdir).count()
            with open(jpath, "a") as f:
                f.write(json.dumps({"bucket": b, "rows": rows}) + "\n")
    _publish(spark, ckpt, stage, config_hash, t0,
             {"n_buckets": n_buckets, **pin})


def write_production(df: DataFrame, table: str, *, bucket_col: str,
                     n_buckets: int = 1024, sort_cols: tuple = (),
                     fmt: str = "iceberg", mode: str = "overwrite") -> None:
    """Production write-side layout (SURVEY §4 physical-layout plan):
    store signatures/bands bucketed + sorted by their join keys so the
    verify-stage joins read co-located, key-run data instead of
    re-shuffling the big side.

    ``mode`` gives both formats the SAME re-run semantics:
    - "overwrite" (default, idempotent): Iceberg createOrReplace resets
      the table (schema + partition spec + data) before the append;
      parquet overwrites the directory.
    - "append": Iceberg appends to the existing table (created with the
      declared layout if absent); parquet appends files (the directory
      layout stays bucketed because every write repartitions on the key).

    Iceberg path (no runtime jar in the sandbox — exercised to the catalog/
    DataSource lookup by a skip-if-unavailable test, like the read seam):
    create the table partitioned by the bucket(n, key) transform with
    hash distribution, declare the write sort order as table metadata,
    then append — every subsequent write (this one included) is clustered
    and sorted by Iceberg itself, and Spark 4's storage-partitioned joins
    can skip the shuffle on reads that join on the bucket key.

    Parquet fallback (sandbox-runnable): explicit repartition on the key +
    sortWithinPartitions — the same physical layout without the catalog.
    """
    if mode not in ("overwrite", "append"):
        raise ValueError(f"unsupported write mode: {mode!r}")
    if fmt == "iceberg":
        from pyspark.sql.functions.partitioning import bucket as iceberg_bucket
        spark = df.sparkSession
        if mode == "overwrite" or not spark.catalog.tableExists(table):
            writer = (spark.createDataFrame([], df.schema)
                      .writeTo(table)
                      .using("iceberg")
                      .partitionedBy(
                          iceberg_bucket(n_buckets, F.col(bucket_col)))
                      .tableProperty("write.distribution-mode", "hash"))
            writer.createOrReplace()
            if sort_cols:
                spark.sql(f"ALTER TABLE {table} WRITE ORDERED BY "
                          f"({', '.join(sort_cols)})")
        df.writeTo(table).append()
        return
    out = df.repartition(n_buckets, F.col(bucket_col))
    if sort_cols:
        out = out.sortWithinPartitions(*sort_cols)
    out.write.mode(mode).parquet(table)
