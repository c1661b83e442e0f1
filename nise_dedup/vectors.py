"""Embedding-similarity operators for training-data pipelines.

Scale design (rebuilt in round 2 per VERDICT):

- **Banded random-hyperplane LSH** (Charikar '02 sign codes + the same
  banding math as MinHash LSH): T tables x r bits each, all T*r hyperplanes
  drawn from ONE seeded projection. A pair is a candidate when it matches
  all r bits of ANY table: P(candidate) = 1 - (1 - p^r)^T with
  p = 1 - theta/pi. At the defaults (T=16, r=12) a cosine-0.95 pair is
  caught w.p. ~0.995 and a random pair w.p. ~4e-3 per table-pair — and,
  crucially, the candidate volume is CAPPED structurally below.
- **Skew discipline is reused verbatim from the text path**: the code
  tables are emitted in the band-table shape (file_id, band_id, band_key)
  and flow through ``lsh.salted_buckets`` / ``lsh.candidate_pairs`` —
  salting, per-bucket caps, degenerate-bucket drops with metrics rows.
  A bucket of m members therefore yields O(m * cap) pairs, not O(m^2):
  total candidate volume is LINEAR in corpus size (round 1's single
  64-bucket code table approached N^2/128 pairs).
- **Vectorized re-rank**: candidate pairs join their vectors once and an
  Arrow mapper computes exact cosine per batch with np.einsum — no
  per-row interpreted ``F.aggregate``/``zip_with`` HOFs anywhere (Spark
  evaluates higher-order functions per row in the interpreter; the
  round-1 formulation paid ~20us per pair).
- **Brute-force top-k baseline**: the tiny query side is collected once
  and every corpus Arrow batch scores against ALL queries with one
  matrix multiply (batch x queries GEMM); only (query_id, neighbor_id,
  cosine) triples shuffle into the global top-k window.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from nise_dedup.config import DedupConfig
from nise_dedup import lsh as L


# --------------------------------------------------------------------------
# LSH sign codes
# --------------------------------------------------------------------------

def _code_mapper(n_bits: int, seed: int, id_col: str, vec_col: str):
    """vec -> single n_bits sign code (the flat variant, kept for the
    bucket-histogram query). Projection dim is read from the first Arrow
    batch — no driver-side .first() probe."""
    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np
        planes = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vecs = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            if planes is None:
                rng = np.random.default_rng(seed)
                planes = rng.standard_normal((vecs.shape[1], n_bits))
            bits = (vecs @ planes) > 0                       # (n, n_bits)
            code = np.zeros(len(pdf), dtype=np.int64)
            for j in range(n_bits):
                code |= bits[:, j].astype(np.int64) << j
            yield pd.DataFrame({"vec_id": pdf[id_col].to_numpy(),
                                "code": code})
    return compute


def lsh_codes(embeddings: DataFrame, n_bits: int = 8, seed: int = 42,
              id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Random-hyperplane sign codes (Charikar) — DF[vec_id, code]."""
    df = embeddings.select(F.col(id_col), F.col(vec_col))
    return df.mapInPandas(_code_mapper(n_bits, seed, id_col, vec_col),
                          schema="vec_id long, code long")


def _band_mapper(tables: int, bits: int, seed: int, id_col: str,
                 vec_col: str):
    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np
        planes = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vecs = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            if planes is None:
                rng = np.random.default_rng(seed)
                planes = rng.standard_normal((vecs.shape[1], tables * bits))
            sign = ((vecs @ planes) > 0).astype(np.int64)  # (n, T*r)
            n = len(pdf)
            codes = np.zeros((n, tables), dtype=np.int64)
            weights = (np.int64(1) << np.arange(bits, dtype=np.int64))
            for t in range(tables):
                codes[:, t] = sign[:, t * bits:(t + 1) * bits] @ weights
            yield pd.DataFrame({
                "file_id": np.repeat(pdf[id_col].to_numpy(), tables),
                "band_id": np.tile(np.arange(tables, dtype=np.int32), n),
                "band_key": codes.reshape(-1)})
    return compute


def lsh_code_bands(embeddings: DataFrame, tables: int = 16, bits: int = 12,
                   seed: int = 42, id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """Banded sign codes in the band-table shape (file_id, band_id,
    band_key) so the candidate stage is EXACTLY the text pipeline's
    salted/capped L2+L3 machinery. The input is spread to at least one
    partition per core before the Arrow mapper (round 6): the sandbox
    embedding tables are single parquet row groups, so the GEMM stage —
    and the band-count aggregation fused onto it — otherwise runs on one
    task; on a real cluster the scan has natural splits and this is a
    plan-metadata no-op. Codes are row-wise deterministic (seeded planes
    per worker), so results are partition-independent."""
    from nise_dedup.pipeline import ensure_min_partitions
    df = embeddings.select(F.col(id_col), F.col(vec_col))
    df = ensure_min_partitions(
        df, df.sparkSession.sparkContext.defaultParallelism)
    return df.mapInPandas(
        _band_mapper(tables, bits, seed, id_col, vec_col),
        schema="file_id long, band_id int, band_key long")


# --------------------------------------------------------------------------
# exact cosine over Arrow batches (the only place cosine is computed)
# --------------------------------------------------------------------------

def _pair_cosine_mapper(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    import numpy as np
    for pdf in batches:
        if len(pdf) == 0:
            continue
        va = np.stack(pdf["va"].to_numpy()).astype(np.float64)
        vb = np.stack(pdf["vb"].to_numpy()).astype(np.float64)
        dots = np.einsum("ij,ij->i", va, vb)
        denom = (np.sqrt(np.einsum("ij,ij->i", va, va))
                 * np.sqrt(np.einsum("ij,ij->i", vb, vb)))
        cos = np.divide(dots, denom, out=np.zeros_like(dots),
                        where=denom > 0)
        yield pd.DataFrame({"a": pdf["a"].to_numpy(),
                            "b": pdf["b"].to_numpy(),
                            "cosine": cos})


# --------------------------------------------------------------------------
# N1: exact brute-force top-k (the baseline every ANN result is judged by)
# --------------------------------------------------------------------------

def cosine_topk_bruteforce(embeddings: DataFrame, n_queries: int = 10,
                           k: int = 5, id_col: str = "vec_id",
                           vec_col: str = "embedding") -> DataFrame:
    """Exact top-k neighbors for the first ``n_queries`` ids. The query side
    is tiny by construction: collect it once (the distributed equivalent is
    a broadcast) and score every corpus Arrow batch against ALL queries with
    one (batch x queries) matrix multiply; shuffle only scored triples."""
    import numpy as np
    q_rows = (embeddings.where(F.col(id_col) < n_queries)
              .select(id_col, vec_col).collect())
    out_schema = "query_id long, neighbor_id long, rank int, cosine_r double"
    if not q_rows:
        # ids need not start at 0 (ADVICE r2: np.stack crashed on empty)
        return embeddings.sparkSession.createDataFrame([], out_schema)
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    Q = np.stack([np.asarray(r[1], dtype=np.float64) for r in q_rows])
    q_norms = np.linalg.norm(Q, axis=1, keepdims=True)
    np.maximum(q_norms, 1e-300, out=q_norms)   # zero queries: 0, not NaN
    Qn = (Q / q_norms).T                       # (dim, nq)

    def mapper(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np
        for pdf in batches:
            if len(pdf) == 0:
                continue
            C = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            norms = np.linalg.norm(C, axis=1, keepdims=True)
            np.maximum(norms, 1e-300, out=norms)
            S = (C / norms) @ Qn                            # (n, nq)
            n, m = S.shape
            yield pd.DataFrame({
                "query_id": np.tile(q_ids, n),
                "neighbor_id": np.repeat(pdf[id_col].to_numpy(), m),
                "cosine": S.reshape(-1)})

    from nise_dedup.pipeline import ensure_min_partitions
    corpus_side = ensure_min_partitions(
        embeddings.select(id_col, vec_col),
        embeddings.sparkSession.sparkContext.defaultParallelism)
    scored = (corpus_side
              .mapInPandas(mapper,
                           schema="query_id long, neighbor_id long, "
                                  "cosine double")
              .where(F.col("query_id") != F.col("neighbor_id")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id"))
    return (scored
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank",
                    F.round("cosine", 6).alias("cosine_r")))


# --------------------------------------------------------------------------
# D5/N2: embedding-cosine near-dup pairs, banded + salted + capped
# --------------------------------------------------------------------------

def cosine_neardup_pairs(embeddings: DataFrame, threshold: float = 0.9,
                         tables: int = 16, bits: int = 12, seed: int = 42,
                         id_col: str = "vec_id", vec_col: str = "embedding",
                         cfg: DedupConfig | None = None,
                         handles: list | None = None) -> DataFrame:
    """Embedding-cosine near-dup pairs above ``threshold``, restricted to
    banded-LSH candidates (recall < 1 by design; the exact variant is the
    brute-force path — a pytest asserts recall >= 0.9 at threshold 0.9 on
    planted duplicates). Candidate generation reuses lsh.candidate_pairs,
    so hot code-buckets are salted and capped and the pair volume stays
    linear in corpus size; the exact re-rank is one vectorized Arrow pass.
    """
    cfg = cfg or DedupConfig()
    bands = lsh_code_bands(embeddings, tables, bits, seed, id_col, vec_col)
    pairs = L.candidate_pairs(bands, cfg, handles=handles)
    # explicit width for the CPU-heavy GEMM stage (round 6): AQE's
    # size-based partition coalescing (session.py) would otherwise fold the
    # re-rank into a handful of tasks — its cost is compute per pair, not
    # bytes, so like the signature/deep mappers it pins its own
    # parallelism; hash on `a` so the per-task vector reuse stays. The pin
    # goes on the SLIM pair table BEFORE the vector attach (guide §2.3 —
    # shuffle keys, not payloads): repartitioning after the joins moved
    # ~0.5 KB of attached vectors per pair through the exchange when 16
    # bytes of ids fix the same stage width. The pin holds in the
    # broadcast regime, where the attach joins keep the pair side's
    # partitioning; in the shuffled-hash regime the second attach join
    # re-shuffles the pair side on `b`, so the GEMM stage runs at that
    # join's width instead.
    pairs = pairs.repartition(
        2 * pairs.sparkSession.sparkContext.defaultParallelism, F.col("a"))
    vecs = embeddings.select(F.col(id_col).alias("vec_id"),
                             F.col(vec_col).alias("v"))
    joined = (pairs
              .join(vecs.select(F.col("vec_id").alias("a"),
                                F.col("v").alias("va")), on="a")
              .join(vecs.select(F.col("vec_id").alias("b"),
                                F.col("v").alias("vb")), on="b"))
    scored = joined.mapInPandas(_pair_cosine_mapper,
                                schema="a long, b long, cosine double")
    return (scored
            .where(F.col("cosine") >= threshold)
            .select("a", "b", F.round("cosine", 6).alias("cosine_r")))
