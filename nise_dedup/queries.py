"""Driver-contract query registry (SURVEY §2, §5.5).

Each entry: name -> (spark_fn(spark, sf_dir) -> DataFrame, duckdb_sql | None).
The driver runs the Spark query and the SQL side-by-side at sf0.01 and
compares row count + schema + order-insensitive value hash, so every
computed column is aliased IDENTICALLY on both sides, integer aggregates are
pinned to 64-bit (DuckDB sum() would widen to HUGEINT), Spark's int-typed
row_number/size are cast to long, and float aggregates are rounded the same
on both sides. Entries with sql=None are genuinely hash-dependent
(MinHash/SimHash/xxhash64 families) and get the driver's rows-only check.

Operator-id comments map entries back to SURVEY.md §2's inventory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nise_dedup import textops, vectors
from nise_dedup.config import DedupConfig
from nise_dedup.session import ensure_min_partitions


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def docs_as_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map the driver's `documents` table onto the BASELINE corpus shape."""
    return _t(spark, sf_dir, "documents").select(
        F.col("source").alias("repo"),
        F.concat(F.lit("doc/"), F.col("doc_id")).alias("path"),
        F.lpad(F.col("doc_id").cast("string"), 40, "0").alias("commit"),
        F.col("lang"),
        F.col("text").alias("content"))


# A small signature config for per-query use (fast; parity with oracle is
# covered by the dedicated tests — these entries check plumbing + counts).
_SIG_CFG = DedupConfig(num_perm=16, bands=4, rows=4, normalize="none")


# --------------------------------------------------------------------------
# scans / row-level (F1, F3, R2-R4)
# --------------------------------------------------------------------------

def q_f1_scan_documents(spark, sf_dir):
    return (_t(spark, sf_dir, "documents")
            .groupBy("lang")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_chars").alias("sum_chars"),
                 F.sum(F.length("text").cast("long")).alias("sum_text_len")))


SQL_F1 = """
SELECT lang, count(*) AS n_docs, sum(n_chars)::BIGINT AS sum_chars,
       sum(length(text))::BIGINT AS sum_text_len
FROM documents GROUP BY lang
"""


def q_f3_sha256(spark, sf_dir):
    return (_t(spark, sf_dir, "documents")
            .select("doc_id", F.sha2("text", 256).alias("content_sha256")))


SQL_F3 = "SELECT doc_id, sha256(text) AS content_sha256 FROM documents"


def q_r2_filter_project(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return (d.where((F.col("n_chars") >= 100) & (F.col("lang") != "de"))
            .select("doc_id",
                    F.upper("lang").alias("lang_u"),
                    F.substring("text", 1, 20).alias("prefix20"),
                    F.length("text").cast("long").alias("n_len")))


SQL_R2 = """
SELECT doc_id, upper(lang) AS lang_u, substring(text, 1, 20) AS prefix20,
       length(text)::BIGINT AS n_len
FROM documents WHERE n_chars >= 100 AND lang <> 'de'
"""


def q_r3_exact_collapse(spark, sf_dir):
    return (_t(spark, sf_dir, "documents")
            .groupBy(F.sha2("text", 256).alias("content_sha256"))
            .agg(F.min("doc_id").alias("canonical_id"),
                 F.count("*").alias("n_copies")))


SQL_R3 = """
SELECT sha256(text) AS content_sha256, min(doc_id) AS canonical_id,
       count(*) AS n_copies
FROM documents GROUP BY sha256(text)
"""


# --------------------------------------------------------------------------
# signature stage (S1; S2-S4 are hash-defined -> rows-only)
# --------------------------------------------------------------------------

def _signature_input(spark, sf_dir):
    """`documents` in the signature UDF's input shape, spread to one
    partition per core (the sf files are single row groups). One task per
    core rather than session.task_width, whose floor of 16 measured slower
    at sf0.1 on 4 cores (median warm rep of 5 fresh-JVM runs: s1 0.73 ->
    1.39 s, s234 0.76 -> 1.43 s)."""
    return ensure_min_partitions(_t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("file_id"), F.col("text").alias("content")),
        spark.sparkContext.defaultParallelism)


def q_s1_shingle_counts(spark, sf_dir):
    # n_shingles from the REAL fused signature UDF; DuckDB recomputes the
    # distinct char-9-gram count relationally (documents are pure ASCII, so
    # char grams == byte grams).
    from nise_dedup.signatures import compute_signatures
    d = _signature_input(spark, sf_dir)
    return (compute_signatures(d, _SIG_CFG)
            .select(F.col("file_id").alias("doc_id"), "n_shingles"))


SQL_S1 = """
SELECT doc_id,
       (CASE WHEN length(text) < 9 THEN 1
             ELSE len(list_distinct(list_transform(
                      generate_series(1, length(text) - 8),
                      i -> substring(text, i, 9)))) END)::BIGINT AS n_shingles
FROM documents
"""


def q_s234_signatures(spark, sf_dir):
    # MinHash/SimHash/band keys: hash-defined, rows-only check (parity with
    # the frozen oracle is asserted in tests/test_signatures.py instead).
    from nise_dedup.signatures import compute_signatures
    d = _signature_input(spark, sf_dir)
    return (compute_signatures(d, _SIG_CFG)
            .select("file_id", "n_shingles", "simhash",
                    F.size("minhash").cast("long").alias("sig_len"),
                    F.size("band_keys").cast("long").alias("n_bands")))


# --------------------------------------------------------------------------
# join family (L3 self-join pattern, L4 broadcast, J1 anti-join)
# --------------------------------------------------------------------------

def q_l3_bucket_pairs(spark, sf_dir):
    # the L3 bucket self-join shape over a SQL-shared bucketing key
    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    a = d.select(F.col("lang"), F.col("n_chars"), F.col("doc_id").alias("a"))
    b = d.select(F.col("lang"), F.col("n_chars"), F.col("doc_id").alias("b"))
    return (a.join(b, on=["lang", "n_chars"])
            .where(F.col("a") < F.col("b"))
            .select("a", "b").distinct())


SQL_L3 = """
SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
FROM documents a JOIN documents b
  ON a.lang = b.lang AND a.n_chars = b.n_chars AND a.doc_id < b.doc_id
"""


def q_l4_region_revenue(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
            .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
            .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
            .groupBy("r_name")
            .agg(F.count("*").alias("n_orders"),
                 F.round(F.sum("o_totalprice"), 2).alias("revenue")))


SQL_L4 = """
SELECT r_name, count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


def q_j1_customers_no_orders(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (c.join(o, c.c_custkey == o.o_custkey, "left_anti")
            .groupBy("c_mktsegment")
            .agg(F.count("*").alias("n_lonely")))


SQL_J1 = """
SELECT c_mktsegment, count(*) AS n_lonely
FROM customer WHERE NOT EXISTS
  (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY c_mktsegment
"""


# --------------------------------------------------------------------------
# verification measures (V1 word/n-gram Jaccard, V2 bit_count XOR)
# --------------------------------------------------------------------------

def q_v1_word_jaccard(spark, sf_dir):
    return textops.word_jaccard_consecutive(_t(spark, sf_dir, "documents"))


SQL_V1 = r"""
WITH w AS (SELECT doc_id,
                  list_distinct(regexp_split_to_array(trim(text), '\s+')) AS ws
           FROM documents)
SELECT a.doc_id AS a, b.doc_id AS b,
       len(list_intersect(a.ws, b.ws))::BIGINT AS n_common,
       (len(a.ws) + len(b.ws) - len(list_intersect(a.ws, b.ws)))::BIGINT AS n_union,
       len(list_intersect(a.ws, b.ws))::DOUBLE
         / (len(a.ws) + len(b.ws) - len(list_intersect(a.ws, b.ws))) AS jaccard
FROM w a JOIN w b ON b.doc_id = a.doc_id + 1
"""


def q_v1_ngram3_jaccard(spark, sf_dir):
    return textops.char_ngram_jaccard_consecutive(
        _t(spark, sf_dir, "documents"), n=3)


SQL_NGRAM3 = """
WITH g AS (SELECT doc_id,
                  list_distinct(list_transform(
                      generate_series(1, greatest(length(text) - 2, 1)),
                      i -> substring(text, i, 3))) AS gs
           FROM documents)
SELECT a.doc_id AS a, b.doc_id AS b,
       len(list_intersect(a.gs, b.gs))::BIGINT AS n_common,
       (len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs)))::BIGINT AS n_union,
       len(list_intersect(a.gs, b.gs))::DOUBLE
         / (len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs))) AS jaccard
FROM g a JOIN g b ON b.doc_id = a.doc_id + 1
"""


def q_v2_bitcount_xor(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    a = d.select(F.col("doc_id").alias("a"), F.col("n_chars").alias("ca"))
    b = d.select((F.col("doc_id") - 1).alias("a"),
                 F.col("doc_id").alias("b"), F.col("n_chars").alias("cb"))
    return (a.join(b, on="a")
            .select("a", "b",
                    F.bit_count(F.col("ca").bitwiseXOR(F.col("cb")))
                    .cast("long").alias("hamming")))


SQL_V2 = """
SELECT a.doc_id AS a, b.doc_id AS b,
       bit_count(xor(a.n_chars, b.n_chars))::BIGINT AS hamming
FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
"""


# --------------------------------------------------------------------------
# clustering (C1/C2 on a SQL-derivable chain graph; C3 recall evaluator)
# --------------------------------------------------------------------------

def q_cc_chain_clusters(spark, sf_dir):
    """Real connected_components over chain edges (doc i — i+1 when same
    lang); the oracle recomputes the same clustering as gaps-and-islands."""
    from nise_dedup.cc import connected_components
    d = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    a = d.select(F.col("doc_id").alias("src"), F.col("lang").alias("la"))
    b = d.select((F.col("doc_id") - 1).alias("src"),
                 F.col("doc_id").alias("dst"), F.col("lang").alias("lb"))
    edges = (a.join(b, on="src")
             .where(F.col("la") == F.col("lb"))
             .select("src", "dst"))
    # chain edges: at most one row per src (each doc has one successor)
    # with src = dst - 1, so the edge list is distinct with src != dst —
    # skip CC's defensive input shuffle (round 6)
    comp = connected_components(edges, assume_distinct=True)
    return (d.join(comp.withColumnRenamed("node", "doc_id"),
                   on="doc_id", how="left")
            .select("doc_id",
                    F.coalesce("component", F.col("doc_id"))
                    .alias("cluster_id")))


SQL_CC = """
WITH s AS (SELECT doc_id, lang,
                  lag(lang) OVER (ORDER BY doc_id) AS pl
           FROM documents),
m AS (SELECT doc_id,
             CASE WHEN pl IS NULL OR pl <> lang THEN 1 ELSE 0 END AS brk
      FROM s),
i AS (SELECT doc_id, sum(brk) OVER (ORDER BY doc_id
                                    ROWS UNBOUNDED PRECEDING) AS grp
      FROM m)
SELECT doc_id, min(doc_id) OVER (PARTITION BY grp) AS cluster_id FROM i
"""


def q_c3_recall_eval(spark, sf_dir):
    """The C3 evaluator machinery (pair self-joins + anti-join) on two
    SQL-derivable clusterings: truth = by lang, pred = by source."""
    from nise_dedup.recall import dup_pair_recall
    d = _t(spark, sf_dir, "documents")
    truth = d.select(F.col("doc_id").alias("file_id"),
                     F.col("lang").alias("cluster_id"))
    pred = d.select(F.col("doc_id").alias("file_id"),
                    F.col("source").alias("cluster_id"))
    r = dup_pair_recall(pred, truth)
    return spark.createDataFrame(
        [(r["n_truth_pairs"], r["n_hit_pairs"], r["recall"])],
        "n_truth_pairs long, n_hit_pairs long, recall double")


SQL_C3 = """
WITH t AS (SELECT count(*)::BIGINT AS n FROM documents GROUP BY lang),
h AS (SELECT count(*)::BIGINT AS n FROM documents GROUP BY lang, source)
SELECT (SELECT sum(n * (n - 1) // 2) FROM t)::BIGINT AS n_truth_pairs,
       (SELECT sum(n * (n - 1) // 2) FROM h)::BIGINT AS n_hit_pairs,
       (SELECT sum(n * (n - 1) // 2) FROM h)::DOUBLE
         / (SELECT sum(n * (n - 1) // 2) FROM t) AS recall
"""


# --------------------------------------------------------------------------
# aggregates / windows / sorts / set ops (A1-A3, W1, O1, U1, X1)
# --------------------------------------------------------------------------

def q_a1_pricing_summary(spark, sf_dir):
    return (_t(spark, sf_dir, "lineitem")
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                 F.round(F.sum("l_extendedprice"), 2).alias("sum_base"),
                 F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2)
                 .alias("sum_disc"),
                 F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
                 F.count("*").alias("n")))


SQL_A1 = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc,
       round(avg(l_quantity), 6) AS avg_qty,
       count(*) AS n
FROM lineitem GROUP BY l_returnflag, l_linestatus
"""


def q_a2_distinct(spark, sf_dir):
    return (_t(spark, sf_dir, "orders")
            .select("o_orderstatus", "o_orderpriority").distinct())


SQL_A2 = "SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders"


def q_a3_approx_distinct(spark, sf_dir):
    # HLL estimates differ between engines by design -> rows-only check;
    # emit the estimate plus a deterministic exact count for eyeballing.
    e = _t(spark, sf_dir, "events")
    return e.agg(F.approx_count_distinct("user_id").alias("approx_users"),
                 F.countDistinct("user_id").alias("exact_users"))


def q_w1_top_orders_per_cust(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (o.withColumn("rnk", F.row_number().over(w).cast("long"))
            .where(F.col("rnk") <= 2)
            .select("o_custkey", "o_orderkey", "rnk"))


SQL_W1 = """
SELECT o_custkey, o_orderkey, rnk FROM (
  SELECT o_custkey, o_orderkey,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rnk
  FROM orders) WHERE rnk <= 2
"""


def q_o1_top10_orders(spark, sf_dir):
    return (_t(spark, sf_dir, "orders")
            .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
            .select("o_orderkey", "o_totalprice")
            .limit(10))


SQL_O1 = """
SELECT o_orderkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
"""


def q_u1_union_priorities(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    hi = o.where(F.col("o_totalprice") > 150000).select(
        "o_orderpriority", F.lit("hi").alias("bucket"))
    lo = o.where(F.col("o_totalprice") <= 150000).select(
        "o_orderpriority", F.lit("lo").alias("bucket"))
    return (hi.unionByName(lo)
            .groupBy("o_orderpriority", "bucket")
            .agg(F.count("*").alias("n")))


SQL_U1 = """
SELECT o_orderpriority, bucket, count(*) AS n FROM (
  SELECT o_orderpriority, 'hi' AS bucket FROM orders WHERE o_totalprice > 150000
  UNION ALL
  SELECT o_orderpriority, 'lo' AS bucket FROM orders WHERE o_totalprice <= 150000)
GROUP BY o_orderpriority, bucket
"""


def q_x1_explode_tokens(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    tok = d.select("lang", F.explode(
        F.split(F.trim("text"), r"\s+")).alias("tok"))
    return (tok.groupBy("lang")
            .agg(F.countDistinct("tok").alias("n_distinct_tokens"),
                 F.count("*").alias("n_tokens")))


SQL_X1 = r"""
SELECT lang, count(DISTINCT tok) AS n_distinct_tokens, count(*) AS n_tokens
FROM (SELECT lang, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
      FROM documents)
GROUP BY lang
"""


def q_events_hourly(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return (e.groupBy(
        F.date_format(F.date_trunc("hour", "ts"),
                      "yyyy-MM-dd HH:mm:ss").alias("hour"),
        "event_type")
        .agg(F.count("*").alias("n"),
             F.round(F.sum("value"), 4).alias("sum_value")))


SQL_EVENTS = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
       event_type, count(*) AS n, round(sum(value), 4) AS sum_value
FROM events GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# training-data text ops
# --------------------------------------------------------------------------

def q_token_quality(spark, sf_dir):
    return textops.quality_features(_t(spark, sf_dir, "documents"))


SQL_QUALITY = r"""
SELECT doc_id,
       length(text)::BIGINT AS n_chars_q,
       (CASE WHEN trim(text) = '' THEN 0
             ELSE len(regexp_split_to_array(trim(text), '\s+')) END)::BIGINT
         AS n_tokens,
       ((length(text) - length(replace(text, ' ', ''))) / 1)::BIGINT AS n_spaces,
       ((length(' ' || text || ' ')
         - length(replace(' ' || text || ' ', ' the ', ''))) / 5)::BIGINT
         AS n_stop_en,
       (length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g')))::BIGINT
         AS n_punct
FROM documents
"""


def q_lang_markers(spark, sf_dir):
    return textops.lang_marker_counts(_t(spark, sf_dir, "documents"))


SQL_LANG = """
SELECT doc_id,
       ((length(' ' || text || ' ')
         - length(replace(' ' || text || ' ', ' the ', ''))) / 5)::BIGINT AS hits_en,
       ((length(' ' || text || ' ')
         - length(replace(' ' || text || ' ', ' los ', ''))) / 5)::BIGINT AS hits_es,
       ((length(' ' || text || ' ')
         - length(replace(' ' || text || ' ', ' der ', ''))) / 5)::BIGINT AS hits_de
FROM documents
"""


def q_doc_fingerprint(spark, sf_dir):
    # xxhash64-based -> rows-only
    return textops.doc_fingerprint(_t(spark, sf_dir, "documents"))


def q_t4_fingerprint_sha_equiv(spark, sf_dir):
    """T4 exact check via an invariant DuckDB CAN verify: the xxhash64
    fingerprint must partition documents exactly as sha256 does (equal text
    <=> equal fingerprint, no in-corpus collisions), so the distinct counts
    coincide. The oracle computes both columns from sha256; any fingerprint
    collision or instability breaks the hash match."""
    d = _t(spark, sf_dir, "documents")
    fp = textops.doc_fingerprint(d)
    j = d.select("doc_id", F.sha2("text", 256).alias("sha")).join(
        fp, on="doc_id")
    return j.agg(F.count("*").alias("n_docs"),
                 F.countDistinct("sha").alias("n_distinct_sha"),
                 F.countDistinct("fp_full").alias("n_distinct_fp"),
                 F.countDistinct("sha", "fp_full").alias("n_distinct_pairs"))


SQL_T4_EQUIV = """
SELECT count(*) AS n_docs,
       count(DISTINCT sha256(text)) AS n_distinct_sha,
       count(DISTINCT sha256(text)) AS n_distinct_fp,
       count(DISTINCT sha256(text)) AS n_distinct_pairs
FROM documents
"""


# --------------------------------------------------------------------------
# embeddings: similarity search
# --------------------------------------------------------------------------

def q_knn_bruteforce(spark, sf_dir):
    return vectors.cosine_topk_bruteforce(
        _t(spark, sf_dir, "embeddings"), n_queries=10, k=5)


SQL_KNN = """
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
           WHERE vec_id < 10),
pairs AS (SELECT q.query_id, e.vec_id AS neighbor_id,
                 unnest(q.qv) AS x, unnest(e.embedding) AS y
          FROM q, embeddings e WHERE e.vec_id <> q.query_id),
dots AS (SELECT query_id, neighbor_id,
                sum(x::DOUBLE * y::DOUBLE) AS dot,
                sqrt(sum(x::DOUBLE * x::DOUBLE)) AS nx,
                sqrt(sum(y::DOUBLE * y::DOUBLE)) AS ny
         FROM pairs GROUP BY query_id, neighbor_id),
ranked AS (SELECT query_id, neighbor_id,
                  dot / (nx * ny) AS cosine,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY dot / (nx * ny) DESC,
                                              neighbor_id) AS rank
           FROM dots)
SELECT query_id, neighbor_id, rank, round(cosine, 6) AS cosine_r
FROM ranked WHERE rank <= 5
"""


def q_ann_planted_recall(spark, sf_dir):
    """VERDICT r3 next #7 — an EXACT invariant on the banded ANN path
    replacing trust-me recall: plant an exact duplicate of every (non-zero)
    embedding at vec_id+OFF and demand the banded+salted+capped neardup
    path recover EVERY planted pair. Identical vectors produce identical
    sign codes in every table (no probabilistic slack), so recall is
    deterministically 1.0 and DuckDB can assert it without reproducing a
    single seeded projection: the oracle simply enumerates the planted
    pairs with found=1; any miss on the Spark side hash-mismatches."""
    OFF = 1_000_000_000
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    nz = emb.where(F.aggregate("embedding", F.lit(0.0),
                               lambda acc, x: acc + F.abs(x)) > 0)
    dup = nz.select((F.col("vec_id") + OFF).alias("vec_id"), "embedding")
    pairs = vectors.cosine_neardup_pairs(nz.unionByName(dup),
                                         threshold=0.99, tables=4, bits=8,
                                         seed=42)
    planted = nz.select(F.col("vec_id").alias("a"),
                        (F.col("vec_id") + OFF).alias("b"))
    return (planted.join(pairs.select("a", "b", F.lit(1).alias("hit")),
                         on=["a", "b"], how="left")
            .select("a", "b",
                    F.coalesce("hit", F.lit(0)).cast("long").alias("found")))


SQL_ANN_PLANTED = """
SELECT vec_id AS a, vec_id + 1000000000 AS b, 1::BIGINT AS found
FROM embeddings
WHERE list_sum(list_transform(embedding, x -> abs(x))) > 0
"""


def q_lsh_embedding_buckets(spark, sf_dir):
    # bucket-occupancy histogram of the SCALE path (banded sign codes, the
    # same code table cosine_neardup_pairs buckets on) — seeded projections,
    # so rows-only (numpy RNG not in DuckDB). VERDICT r2 #9: this previously
    # histogrammed the flat 8-bit lsh_codes variant, which is not the
    # production path.
    bands = vectors.lsh_code_bands(_t(spark, sf_dir, "embeddings"),
                                   tables=4, bits=8, seed=42)
    return (bands.groupBy("band_id", "band_key")
            .agg(F.count("*").alias("n")))


def q_embedding_neardup(spark, sf_dir):
    # banded + salted + capped scale path; the sf embeddings are near-random
    # (max pair cosine ~0.5) so the threshold is low to exercise the path;
    # recall/linearity contracts are asserted on planted duplicates in
    # tests/test_vectors.py
    # handles=[]: a one-shot driver query never re-reads the pair table, so
    # skip candidate_pairs' eager localCheckpoint (that checkpoint exists so
    # REPEATED registry calls can release the salted cache — here the
    # session is torn down right after, and the extra materializing pass is
    # pure fixed cost on a ~3s query; part of the r4/r5 embedding_neardup
    # drift named in BENCH/ADDENDUM.md Addendum 6)
    return vectors.cosine_neardup_pairs(_t(spark, sf_dir, "embeddings"),
                                        threshold=0.2, tables=4, bits=8,
                                        seed=42, handles=[])


# --------------------------------------------------------------------------
# multimodal plumbing
# --------------------------------------------------------------------------

def q_multimodal_meta(spark, sf_dir):
    from nise_dedup.multimodal import with_binary_payload
    return (with_binary_payload(_t(spark, sf_dir, "documents"))
            .select("media_id", "mime", "n_bytes", "magic"))


SQL_MM = """
SELECT doc_id AS media_id, 'application/octet-stream' AS mime,
       length(text)::BIGINT AS n_bytes,
       lower(hex(encode(substring(text, 1, 4)))) AS magic
FROM documents
"""


def q_multimodal_features(spark, sf_dir):
    # The deterministic fake decode (documents are pure ASCII, so the fake
    # feature is SQL-reproducible byte math). The library keeps the
    # array<double> feature column; the QUERY projects it to scalar columns
    # because the driver's canonicalizer sorts every column with pandas and
    # list cells are unhashable.
    from nise_dedup.multimodal import extract_features, with_binary_payload
    m = with_binary_payload(_t(spark, sf_dir, "documents"))
    f = extract_features(m, mode="fake")
    return f.select(
        "media_id", "n_bytes", "magic",
        *[F.col("feature")[i].alias(f"f{i}") for i in range(4)])


SQL_MM_FEAT = """
SELECT doc_id AS media_id,
       length(text)::BIGINT AS n_bytes,
       lower(hex(encode(substring(text, 1, 4)))) AS magic,
       length(text)::DOUBLE AS f0,
       (CASE WHEN length(text) >= 1
             THEN ord(substring(text, 1, 1)) ELSE 0 END)::DOUBLE AS f1,
       (CASE WHEN length(text) >= 8
             THEN ord(substring(text, 8, 1)) ELSE 0 END)::DOUBLE AS f2,
       (list_sum(list_transform(generate_series(1, 8),
            i -> CASE WHEN i <= length(text)
                      THEN ord(substring(text, i, 1)) ELSE 0 END))
        % 997)::DOUBLE AS f3
FROM documents
"""


def q_media_decode(spark, sf_dir):
    """The REAL media decode path (nise_dedup/multimodal.py decode_bmp /
    decode_wav — VERDICT r2 missing #1): synthesize deterministic BMP/WAV
    payloads from doc_id, decode them with the real header/pixel/sample
    math, and emit the features. Every decoded value is integer arithmetic
    on doc_id (solid-color BMPs, constant-amplitude PCM16), so the DuckDB
    oracle reproduces it exactly without parsing a byte."""
    from nise_dedup.multimodal import extract_media_features, \
        synth_media_payloads
    ids = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"))
    return extract_media_features(synth_media_payloads(ids))


SQL_MEDIA_DECODE = """
SELECT doc_id AS media_id,
       CASE WHEN doc_id % 2 = 0 THEN 'bmp' ELSE 'wav' END AS kind,
       CASE WHEN doc_id % 2 = 0 THEN doc_id % 7 + 1
            ELSE 8000 + (doc_id % 5) * 1000 END::DOUBLE AS f0,
       CASE WHEN doc_id % 2 = 0 THEN doc_id % 5 + 1
            ELSE 1 + (doc_id // 2) % 2 END::DOUBLE AS f1,
       CASE WHEN doc_id % 2 = 0 THEN doc_id % 256
            ELSE 16 + doc_id % 8 END::DOUBLE AS f2,
       CASE WHEN doc_id % 2 = 0 THEN (3 * doc_id + 7) % 256
            ELSE doc_id % 1000 + 1 END::DOUBLE AS f3,
       CASE WHEN doc_id % 2 = 0 THEN (5 * doc_id + 11) % 256
            ELSE doc_id % 1000 + 1 END::DOUBLE AS f4
FROM documents
"""


# --------------------------------------------------------------------------
# flagship: full dedup pipeline over documents-as-corpus (rows-only: the
# cluster ids are xxhash64-derived). Cluster-level correctness is asserted
# against the frozen oracle in tests/test_pipeline_e2e.py.
# --------------------------------------------------------------------------

def q_dedup_documents(spark, sf_dir):
    from nise_dedup.pipeline import run_pipeline
    corpus = docs_as_corpus(spark, sf_dir)
    res = run_pipeline(spark, corpus, DedupConfig())
    return (res.clusters
            .groupBy("cluster_id")
            .agg(F.count("*").alias("cluster_size"))
            .groupBy("cluster_size")
            .agg(F.count("*").alias("n_clusters")))


def q_dedup_documents_invariant(spark, sf_dir):
    """VERDICT r3 next #4 — an EXACT companion constraining the flagship's
    rows-only output: run the same pipeline, rebuild the cluster-size
    histogram `dedup_documents` returns, and assert in one row that
    (a) the published clusters table has exactly one row per input doc,
    (b) natural keys stay unique through publish, and (c) the histogram
    accounts for every document (sum of cluster_size * n_clusters).
    DuckDB knows all three must equal count(*) over `documents`."""
    from nise_dedup.pipeline import run_pipeline
    corpus = docs_as_corpus(spark, sf_dir)
    res = run_pipeline(spark, corpus, DedupConfig(),
                       collect_metrics=False)
    hist = (res.clusters
            .groupBy("cluster_id")
            .agg(F.count("*").alias("cluster_size"))
            .groupBy("cluster_size")
            .agg(F.count("*").alias("n_clusters")))
    base = res.clusters.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("repo", "path", "commit").alias("n_keys"))
    histsum = hist.agg(
        F.sum(F.col("cluster_size") * F.col("n_clusters"))
        .cast("long").alias("n_docs_from_hist"))
    return base.crossJoin(histsum)


SQL_DEDUP_INVARIANT = """
SELECT count(*) AS n_rows, count(*) AS n_keys, count(*) AS n_docs_from_hist
FROM documents
"""


REGISTRY: dict[str, tuple] = {
    "f1_scan_documents": (q_f1_scan_documents, SQL_F1),
    "f3_sha256": (q_f3_sha256, SQL_F3),
    "r2_filter_project": (q_r2_filter_project, SQL_R2),
    "r3_exact_collapse": (q_r3_exact_collapse, SQL_R3),
    "s1_shingle_counts": (q_s1_shingle_counts, SQL_S1),
    "s234_signatures": (q_s234_signatures, None),
    "l3_bucket_pairs": (q_l3_bucket_pairs, SQL_L3),
    "l4_region_revenue": (q_l4_region_revenue, SQL_L4),
    "j1_customers_no_orders": (q_j1_customers_no_orders, SQL_J1),
    "v1_word_jaccard": (q_v1_word_jaccard, SQL_V1),
    "v1_ngram3_jaccard": (q_v1_ngram3_jaccard, SQL_NGRAM3),
    "v2_bitcount_xor": (q_v2_bitcount_xor, SQL_V2),
    "cc_chain_clusters": (q_cc_chain_clusters, SQL_CC),
    "c3_recall_eval": (q_c3_recall_eval, SQL_C3),
    "a1_pricing_summary": (q_a1_pricing_summary, SQL_A1),
    "a2_distinct": (q_a2_distinct, SQL_A2),
    "a3_approx_distinct": (q_a3_approx_distinct, None),
    "w1_top_orders_per_cust": (q_w1_top_orders_per_cust, SQL_W1),
    "o1_top10_orders": (q_o1_top10_orders, SQL_O1),
    "u1_union_priorities": (q_u1_union_priorities, SQL_U1),
    "x1_explode_tokens": (q_x1_explode_tokens, SQL_X1),
    "events_hourly": (q_events_hourly, SQL_EVENTS),
    "token_quality": (q_token_quality, SQL_QUALITY),
    "lang_markers": (q_lang_markers, SQL_LANG),
    "doc_fingerprint": (q_doc_fingerprint, None),
    "t4_fingerprint_sha_equiv": (q_t4_fingerprint_sha_equiv, SQL_T4_EQUIV),
    "knn_bruteforce": (q_knn_bruteforce, SQL_KNN),
    "ann_planted_recall": (q_ann_planted_recall, SQL_ANN_PLANTED),
    "lsh_embedding_buckets": (q_lsh_embedding_buckets, None),
    "embedding_neardup": (q_embedding_neardup, None),
    "multimodal_meta": (q_multimodal_meta, SQL_MM),
    "multimodal_features": (q_multimodal_features, SQL_MM_FEAT),
    "media_decode": (q_media_decode, SQL_MEDIA_DECODE),
    "dedup_documents": (q_dedup_documents, None),
    "dedup_documents_invariant": (q_dedup_documents_invariant,
                                  SQL_DEDUP_INVARIANT),
}
