"""Stage sinks, manifests, and resumable gates F4–F5 (SURVEY §2.1, §3.2).

A stage write is: (1) overwrite parquet under <ckpt>/<stage>/data, then
(2) atomically publish <ckpt>/<stage>/manifest.json recording the config
hash, row count, schema, per-partition lineage, and wall time. A stage is
complete iff its manifest exists AND its config hash matches AND the parquet
row count reconciles. ``run_stage`` skips complete stages on resume — this is
what makes every stage (signature, banding, verification, clustering)
resumable mid-run per BASELINE.json. Ordering (data first, manifest last)
makes the publish atomic at stage granularity: a killed write leaves no
manifest, so resume recomputes that stage only.
"""

from __future__ import annotations

import json
import os
import time
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST = "manifest.json"


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


def write_stage(df: DataFrame, stage: str, ckpt: str, config_hash: str,
                lineage: bool = True, partition_by: str = "",
                extra_manifest: dict | None = None) -> str:
    sdir = _stage_dir(ckpt, stage)
    data = os.path.join(sdir, "data")
    # invalidate FIRST: a rerun (e.g. under a new config hash) killed after
    # the data overwrite but before the manifest replace must not leave the
    # OLD manifest describing NEW partial data as complete
    old_manifest = os.path.join(sdir, MANIFEST)
    if os.path.exists(old_manifest):
        os.remove(old_manifest)
    t0 = time.time()
    w = df.write.mode("overwrite")
    if partition_by:
        # directory-partitioned layout (part_bucket=N/...) so downstream
        # bucket-granular consumers get partition-PRUNED scans, not filters
        w = w.partitionBy(partition_by)
    w.parquet(data)
    spark = df.sparkSession
    written = spark.read.parquet(data)
    if lineage:
        parts = partition_lineage(written)
        rows = sum(p["rows_out"] for p in parts)
    else:
        parts, rows = [], written.count()
    manifest = {
        "stage": stage,
        "config_hash": config_hash,
        "rows": rows,
        "schema": written.schema.jsonValue(),
        "wall_s": round(time.time() - t0, 3),
        "partitions": parts,
        "completed_at_epoch": int(time.time()),
        **(extra_manifest or {}),
    }
    tmp = os.path.join(sdir, MANIFEST + ".tmp")
    os.makedirs(sdir, exist_ok=True)
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1)
    os.replace(tmp, os.path.join(sdir, MANIFEST))
    return data


def stage_complete(ckpt: str, stage: str, config_hash: str) -> bool:
    mpath = os.path.join(_stage_dir(ckpt, stage), MANIFEST)
    if not os.path.exists(mpath):
        return False
    try:
        with open(mpath) as f:
            m = json.load(f)
    except (OSError, json.JSONDecodeError):
        return False
    return m.get("config_hash") == config_hash and "rows" in m


def read_stage(spark: SparkSession, ckpt: str, stage: str) -> DataFrame:
    return spark.read.parquet(os.path.join(_stage_dir(ckpt, stage), "data"))


def run_stage(spark: SparkSession, ckpt: str, config_hash: str, stage: str,
              fn: Callable[[], DataFrame], lineage: bool = True,
              partition_by: str = "",
              extra_manifest: dict | None = None,
              require_manifest: dict | None = None) -> DataFrame:
    """F5 — resumable gate: skip + reload if the manifest says complete
    under the same config hash AND the parquet row count reconciles with the
    manifest (belt-and-braces vs out-of-band data corruption; the count is
    footer-metadata-only so the check is cheap and runs only on resume);
    else compute, persist, publish manifest.

    ``require_manifest`` (ADVICE r4): key/values the stored manifest must
    also carry for the checkpoint to be reusable — the escape hatch for
    EXECUTION-only knobs that nonetheless change the persisted *layout*
    (e.g. ``incremental_buckets`` dir-partitions the uniq stage but is
    excluded from config_hash because the dedup output is identical).
    Callers pin the layout via ``extra_manifest`` on write and the same
    dict via ``require_manifest`` on resume; a mismatch — including a
    manifest written before the key existed — recomputes, exactly like a
    config-hash mismatch. The pipeline pins ``uniq_buckets``,
    ``sig_buckets`` and ``w1_buckets`` (wave-1 verified pairs; an older
    flat ``verified_pairs`` stage held both verify waves under
    ``vp_buckets`` and so must not be reused as wave 1)."""
    if ckpt and stage_complete(ckpt, stage, config_hash):
        try:
            m = read_manifest(ckpt, stage)
            layout_ok = all(m.get(k) == v
                            for k, v in (require_manifest or {}).items())
            if layout_ok:
                df = read_stage(spark, ckpt, stage)
                if df.count() == m["rows"]:
                    return df
        except Exception:
            pass   # unreadable/partial data -> recompute below
    df = fn()
    if not ckpt:
        return df
    spark.sparkContext.setJobGroup(stage, f"nise-dedup stage {stage}")
    try:
        write_stage(df, stage, ckpt, config_hash, lineage=lineage,
                    partition_by=partition_by, extra_manifest=extra_manifest)
    finally:
        spark.sparkContext.setJobGroup("", "")
    return read_stage(spark, ckpt, stage)


BUCKET_JOURNAL = "buckets.jsonl"


def run_stage_buckets(spark: SparkSession, ckpt: str, config_hash: str,
                      stage: str, n_buckets: int,
                      bucket_fn: Callable[[int], DataFrame],
                      extra_manifest: dict | None = None,
                      require_manifest: dict | None = None) -> DataFrame:
    """F5b — per-partition incremental resume (SURVEY §3.2's promised
    granularity below the stage boundary; VERDICT r3 next #5).

    The stage's output is computed one *input bucket* at a time —
    ``bucket_fn(b)`` returns bucket ``b``'s slice, which lands under
    ``data/part_bucket=b/`` as its own committed parquet write, followed by
    an appended journal line. A kill therefore loses at most the in-flight
    bucket: on resume, buckets whose journal line AND data directory exist
    are skipped and only the missing slices recompute (against a
    bucket-partitioned upstream stage the re-read is partition-pruned, so
    resume cost is proportional to the missing work, not the stage).
    Crash-ordering is safe in both directions — data-then-journal means a
    kill between the two leaves an orphan directory that is simply
    overwritten on resume; the stage manifest is published only after every
    bucket commits, so the whole-stage gate (stage_complete) never sees a
    partial stage as done.

    A journal header pins (config_hash, n_buckets); any mismatch wipes the
    stage directory and restarts — bucket membership depends on both. Each
    bucket's journal line records its ROW COUNT, re-verified (parquet
    footer metadata only) on every resume: out-of-band corruption inside a
    committed bucket therefore recomputes that bucket instead of being
    republished as complete (ADVICE r4 — the round-4 formulation fell
    through a failed manifest reconciliation to a journal that still
    listed every bucket as done). Lines without a count (older journals)
    are treated as unverifiable and recomputed.

    NOTE: buckets execute as sequential Spark jobs (B driver barriers +
    journal appends) — keep B small (<=32) or the per-run serial term
    grows; this is the opt-in durability trade `incremental_buckets`
    defaults to 0 for.
    """
    import shutil

    def _read() -> DataFrame:
        # the inferred dir-partition column is an internal bucketing
        # detail; returned schema matches the non-incremental stage
        return read_stage(spark, ckpt, stage).drop("part_bucket")

    if stage_complete(ckpt, stage, config_hash):
        try:
            m = read_manifest(ckpt, stage)
            # layout pinning, same contract as run_stage (ADVICE r4): a
            # stage written FLAT under the same config hash must not be
            # reused by a bucketed resume (and vice versa) — the caller
            # states what the manifest must carry
            layout_ok = all(m.get(k) == v
                            for k, v in (require_manifest or {}).items())
            if layout_ok:
                df = _read()
                if df.count() == m["rows"]:
                    return df
        except Exception:
            pass   # unreadable/partial data -> recompute below
    sdir = _stage_dir(ckpt, stage)
    data = os.path.join(sdir, "data")
    os.makedirs(sdir, exist_ok=True)
    # stale-manifest-first, same contract as write_stage
    mpath = os.path.join(sdir, MANIFEST)
    if os.path.exists(mpath):
        os.remove(mpath)

    jpath = os.path.join(sdir, BUCKET_JOURNAL)
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
                    # footer-metadata-only count per committed bucket
                    if spark.read.parquet(bdir).count() == j["rows"]:
                        done.add(j["bucket"])
                except Exception:
                    pass        # unreadable slice -> recompute
        else:       # different config/bucketing: nothing is reusable
            shutil.rmtree(data, ignore_errors=True)
            os.remove(jpath)
    if not os.path.exists(jpath):
        with open(jpath, "w") as f:
            f.write(json.dumps(header) + "\n")

    t0 = time.time()
    spark.sparkContext.setJobGroup(stage, f"nise-dedup stage {stage}")
    try:
        for b in range(n_buckets):
            if b in done:
                continue
            bdir = os.path.join(data, f"part_bucket={b}")
            bucket_fn(b).write.mode("overwrite").parquet(bdir)
            rows = spark.read.parquet(bdir).count()
            with open(jpath, "a") as f:
                f.write(json.dumps({"bucket": b, "rows": rows}) + "\n")
    finally:
        spark.sparkContext.setJobGroup("", "")

    written = spark.read.parquet(data)
    parts = partition_lineage(written)
    manifest = {
        "stage": stage,
        "config_hash": config_hash,
        "rows": sum(p["rows_out"] for p in parts),
        "schema": written.schema.jsonValue(),
        "wall_s": round(time.time() - t0, 3),
        "partitions": parts,
        "n_buckets": n_buckets,
        "completed_at_epoch": int(time.time()),
        **(extra_manifest or {}),
    }
    tmp = mpath + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1)
    os.replace(tmp, mpath)
    return _read()


def read_manifest(ckpt: str, stage: str) -> dict:
    with open(os.path.join(_stage_dir(ckpt, stage), MANIFEST)) as f:
        return json.load(f)


def write_production(df: DataFrame, table: str, *, bucket_col: str,
                     n_buckets: int = 1024, sort_cols: tuple = (),
                     fmt: str = "iceberg", mode: str = "overwrite") -> None:
    """Production write-side layout (SURVEY §4 physical-layout plan):
    store signatures/bands bucketed + sorted by their join keys so the
    verify-stage joins read co-located, key-run data instead of
    re-shuffling the big side.

    ``mode`` gives both formats the SAME re-run semantics (ADVICE r3:
    the round-3 Iceberg branch appended while parquet overwrote, and
    re-runs threw TableAlreadyExistsException):
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
