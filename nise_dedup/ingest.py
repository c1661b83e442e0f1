"""Ingest operators F1–F3 and row-level transforms R1–R3 (SURVEY §2.1–2.2).

All pure DataFrame expressions — Catalyst pushes the filters into the scan
and prunes columns; nothing here leaves the JVM.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nise_dedup.config import DedupConfig

CORPUS_COLS = ["repo", "path", "commit", "lang", "content"]


def read_corpus(spark: SparkSession, uri: str, fmt: str = "parquet") -> DataFrame:
    """F1 — corpus scan behind a format seam.

    Production path is Iceberg (`fmt='iceberg'`: hidden partitioning +
    min/max file skipping); the sandbox has no Iceberg runtime jar
    (SURVEY §7.4), so tests/benches use parquet. Both return the
    BASELINE.json input relation (repo, path, commit, lang, content).
    """
    if fmt == "iceberg":
        df = spark.read.format("iceberg").load(uri)
    else:
        df = spark.read.parquet(uri)
    return df.select(*CORPUS_COLS)


def with_file_id(df: DataFrame) -> DataFrame:
    """F2 — deterministic 64-bit id from the natural key (repo, path, commit).

    xxhash64 is stable across runs/partitionings, unlike
    monotonically_increasing_id — resumability and oracle-recall comparisons
    both depend on this. At the 10^12-row target the 64-bit birthday bound
    EXPECTS ~n^2/2^65 ~= 2.7e4 collisions (near-certain, not rare), so the
    pipeline verifies uniqueness on every ingest (one agg) and falls back to
    ``resolve_id_collisions`` — deterministic salted re-hash of the
    colliding natural keys — when any are found.
    """
    return df.withColumn("file_id", F.xxhash64("repo", "path", "commit"))


def resolve_id_collisions(df: DataFrame, max_rounds: int = 3) -> DataFrame:
    """F2 collision fallback: rows whose 64-bit id collides are re-keyed
    with xxhash64(repo, path, commit, salt) — deterministic (depends only
    on the natural key), so resume and recall comparisons stay stable.

    Collisions are ~1e4 out of 1e12 rows, so the colliding-id table is tiny
    and broadcast; each round is one map-side-partial groupBy plus a
    broadcast join. Identical natural keys (true input duplicates) re-hash
    to the same value every round and raise after ``max_rounds``.
    """
    for salt in range(1, max_rounds + 1):
        dup_ids = (df.groupBy("file_id").agg(F.count("*").alias("c"))
                   .where(F.col("c") > 1)
                   .select("file_id", F.lit(True).alias("_dup")))
        df = (df.join(F.broadcast(dup_ids), on="file_id", how="left")
              .withColumn("file_id",
                          F.when(F.col("_dup").isNotNull(),
                                 F.xxhash64("repo", "path", "commit",
                                            F.lit(salt)))
                          .otherwise(F.col("file_id")))
              .drop("_dup"))
        row = df.agg(F.count("*").alias("n"),
                     F.countDistinct("file_id").alias("d")).first()
        if row["n"] == row["d"]:
            return df
    raise RuntimeError(
        "file_id collisions persist after salted re-hash: the corpus "
        "contains rows with identical (repo, path, commit) natural keys — "
        "dedupe the input before ingest")


def with_sha(df: DataFrame) -> DataFrame:
    """F3 — content_sha256 + n_bytes. sha2() matches hashlib.sha256 hexdigest
    over UTF-8 bytes; the per-row invariant (BASELINE.json input_hint) is
    asserted at publish time by comparing output shas to ingest shas.
    """
    return (df
            .withColumn("content_sha256", F.sha2(F.col("content"), 256))
            .withColumn("n_bytes", F.octet_length("content").cast("long")))


def basic_filters(df: DataFrame, cfg: DedupConfig) -> DataFrame:
    """R2 — hygiene predicates, written early so Catalyst pushes them into
    the parquet/Iceberg scan (null keys can't be identified or resumed)."""
    return df.where(
        F.col("content").isNotNull()
        & F.col("repo").isNotNull()
        & F.col("path").isNotNull()
        & F.col("commit").isNotNull()
    )


# R1 normalization note: shingling/LCS normalization is applied INSIDE the
# signature and verification UDFs (nise_dedup.hashing.normalize_text) so the
# stored `content` column — and therefore the sha256 invariant — is never
# touched. See DedupConfig.normalize.


def collapse_exact(files: DataFrame) -> DataFrame:
    """R3 — exact-duplicate collapse: one canonical row per distinct content.

    At web scale exact dups dominate; collapsing before signatures is the
    single biggest compute saver. groupBy(sha) is a hash aggregate with
    map-side partial aggregation; ``min(file_id)`` is the deterministic
    canonical representative. Returns DF[content_sha256, file_id, n_copies].
    """
    return (files
            .groupBy("content_sha256")
            .agg(F.min("file_id").alias("file_id"),
                 F.count("*").alias("n_copies")))


def uniq_with_content(hashed: DataFrame) -> DataFrame:
    """The `uniq` relation (SURVEY §1.2): one canonical row per distinct
    content, with content, ready for the signature stage. Its file_id is
    the minimum per sha, so ``uniq`` is also the sha -> canonical map.

    WINNERS-JOIN formulation (round 5): the canonical representative per
    sha is a metadata-only hash aggregate (sha, min file_id) — map-side
    partial min, 40-byte shuffle rows — and content rows are then
    FILTERED to the winners with a semi-join-shaped inner join on the
    (sha, file_id) pair. When the winner table fits the broadcast
    threshold (AQE decides from its runtime size), content never enters
    an exchange at all: the round-1..4 groupBy(sha).agg(first(content))
    shuffled every distinct content value through the aggregate exchange
    (~400 MB at the 200k bench corpus — the dominant flat term inside the
    signature-fill barrier on this one-disk box, barrier-attributed in
    BENCH/BASELINE.md r5). Above broadcast size the join degrades to a
    shuffled join on the composite key — content moves once, exactly what
    the old aggregate paid, so the 100-TB plan is never worse.

    Output is row-identical to the aggregate formulation: file_id is the
    deterministic min per sha; content and n_bytes are constant within a
    sha group. NOTE the plan references ``hashed`` twice (winner agg +
    content filter) — callers must hand in a persisted/checkpointed
    relation (the pipeline always does) or the source scans twice.
    """
    winners = (hashed.groupBy("content_sha256")
               .agg(F.min("file_id").alias("file_id")))
    return (hashed.join(winners, on=["content_sha256", "file_id"])
            .select("file_id", "content_sha256", "content", "n_bytes"))


def expand_exact(clusters_uniq: DataFrame, files: DataFrame,
                 winners: DataFrame | None = None) -> DataFrame:
    """Inverse of R3: propagate each canonical file's cluster_id to every
    exact-duplicate row, via the sha->canonical map. Output has one row per
    ORIGINAL input row. ``winners``: an already-stored (content_sha256,
    file_id = min per sha) table — the pipeline hands in ``uniq`` — used
    instead of re-aggregating ``files``, which saves one metadata shuffle
    per publish."""
    base = winners if winners is not None else collapse_exact(files)
    sha_to_canon = base.select(
        "content_sha256", F.col("file_id").alias("canon_id"))
    labeled = sha_to_canon.join(
        clusters_uniq.select(F.col("file_id").alias("canon_id"), "cluster_id"),
        on="canon_id", how="left")
    # canonical rows whose sha never reached clustering keep their own id
    labeled = labeled.withColumn(
        "cluster_id", F.coalesce("cluster_id", F.col("canon_id")))
    return (files
            .join(labeled.select("content_sha256", "cluster_id"),
                  on="content_sha256", how="left")
            .select("file_id", "repo", "path", "commit", "lang",
                    "content_sha256", "cluster_id"))
