"""Signature stage S1–S4 (SURVEY §2.3): k-shingles, MinHash, SimHash, band
keys — fused into ONE vectorized Arrow pass so each content string is
scanned exactly once.

`mapInPandas` streams Arrow record batches into the Python worker; inside,
everything is NumPy (nise_dedup.hashing): each document's shingle set is
one window-polynomial pass and one sort of its own windows, concatenated
into the batch's (values, starts) layout; MinHash, SimHash, band keys and
the b-bit pack then run once per batch over all of its documents
(tests/test_signatures.py asserts parity against the frozen oracle).
MinHash uses one-permutation hashing by default
(DedupConfig.minhash_scheme); the classic "kperm" scheme runs per
document (tests/reference only).

Output schema (the `signatures` relation, SURVEY §1.2):
  file_id long, n_shingles long, n_bytes long (normalized UTF-8 length),
  simhash long, minhash array<long>[num_perm], band_keys array<long>[bands]
  [+ shingles array<long> when keep_shingles=True — tests/diagnostics only:
   the pipeline deliberately does NOT persist shingle sets (10 KB+/row);
   deep verification recomputes them from content for the gated residue]
  [- minhash omitted when keep_minhash=False — the PIPELINE path: nothing
   downstream reads the raw 125-long array (pairs compare the packed b-bit
   sketch + band keys), so the pipeline skips shipping/caching ~1 KB/row]

All longs are uint64 values reinterpreted as signed int64 (Spark LongType);
bit patterns — hence equality/XOR semantics — are preserved.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from nise_dedup.config import DedupConfig

SIGNATURE_SCHEMA_CORE = ("file_id long, n_shingles long, n_bytes long, "
                         "simhash long, mhb_lo long, mhb_hi long")
SIGNATURE_SCHEMA = SIGNATURE_SCHEMA_CORE + \
    ", minhash array<long>, band_keys array<long>"

# bound the bytes of one vectorized sub-batch: the Arrow batch is row-capped
# (arrow_batch_rows), and up to one shingle per byte means megabyte documents
# could otherwise balloon the batch's shingle values (8 B each) and
# simhash's unpackbits matrix (64 B per shingle)
_CHUNK_BYTES = 16 << 20


def _make_mapper(cfg: DedupConfig, keep_shingles: bool,
                 keep_minhash: bool = True):
    k = cfg.shingle_k
    num_perm, bands, rows, seed = cfg.num_perm, cfg.bands, cfg.rows, cfg.seed
    scheme, norm = cfg.minhash_scheme, cfg.normalize
    est_m = min(cfg.est_components, num_perm)

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from nise_dedup import hashing as H

        seeds = H.hash_seeds(num_perm, seed) if scheme == "kperm" else None

        def emit(fids: np.ndarray, raws: list[bytes]) -> pd.DataFrame:
            n = len(raws)
            values, starts = H.shingle_sets_batch(raws, k)
            if scheme == "kperm":
                mh = np.stack([H.minhash(values[starts[i]:starts[i + 1]],
                                         seeds) for i in range(n)])
            else:
                mh = H.minhash_oph_batch(values, starts, num_perm, seed)
            lo, hi = H.pack_bbit_batch(mh, est_m)
            bk = H.band_keys_batch(mh, bands, rows, seed).view(np.int64)
            out = {
                "file_id": fids,
                "n_shingles": np.diff(starts).astype(np.int64),
                "n_bytes": np.fromiter((len(r) for r in raws),
                                       dtype=np.int64, count=n),
                "simhash": H.simhash64_batch(values, starts).view(np.int64),
                "mhb_lo": lo,
                "mhb_hi": hi,
            }
            if keep_minhash:
                mh_i = mh.view(np.int64)
                out["minhash"] = [mh_i[i] for i in range(n)]
            out["band_keys"] = [bk[i] for i in range(n)]
            if keep_shingles:
                sv = values.view(np.int64)
                out["shingles"] = [sv[starts[i]:starts[i + 1]]
                                   for i in range(n)]
            return pd.DataFrame(out)

        for pdf in batches:
            if len(pdf) == 0:
                continue
            fids = pdf["file_id"].to_numpy()
            contents = pdf["content"].to_numpy()
            raws = [H.normalize_text(s, norm).encode("utf-8")
                    for s in contents]
            # slice the Arrow batch into byte-bounded sub-batches
            lo_i, acc = 0, 0
            for i, r in enumerate(raws):
                acc += len(r)
                if acc >= _CHUNK_BYTES and i + 1 > lo_i:
                    yield emit(fids[lo_i:i + 1], raws[lo_i:i + 1])
                    lo_i, acc = i + 1, 0
            if lo_i < len(raws):
                yield emit(fids[lo_i:], raws[lo_i:])

    return compute


def compute_signatures(uniq: DataFrame, cfg: DedupConfig,
                       keep_shingles: bool = False,
                       keep_minhash: bool = True) -> DataFrame:
    """S4 — signature stage driver: uniq(file_id, content, ...) -> signatures.

    Column-prunes to exactly (file_id, content) before the Arrow exchange so
    the Python worker never sees bytes it doesn't hash. ``keep_minhash=False``
    (pipeline path) drops the raw minhash array from the output schema —
    the packed b-bit sketch and band keys carry everything downstream reads.
    """
    schema = SIGNATURE_SCHEMA if keep_minhash else \
        SIGNATURE_SCHEMA_CORE + ", band_keys array<long>"
    if keep_shingles:
        schema += ", shingles array<long>"
    return (uniq
            .select("file_id", "content")
            .mapInPandas(_make_mapper(cfg, keep_shingles, keep_minhash),
                         schema=schema))
