"""Deduplication operators over the `documents` table.

Training-data-pipeline first-class citizens: exact dedup (hash-groupBy),
n-gram Jaccard near-dup, MinHash+LSH near-dup (shingle -> minhash -> band ->
bucket join -> exact verify), SimHash (rows-only check: bit-level hashing is
not SQL-expressible).

Shingling: word 3-grams. The synthetic corpus has planted near-duplicates
(shingle-jaccard >= 0.9) with a wide gap to the background (<= 0.07), so a
0.8 threshold is robust on both the exact and the LSH path.

Scale notes (100 TB): every step is a shuffle on (doc hash | shingle |
band-bucket) — no driver-side state. MinHash uses 64 seeded xxhash64
functions folded into 32 bands x 2 rows, giving P(miss) = (1-s^2)^32
(~1e-23 at s=0.9): candidates are then *exactly* verified, so precision is
1.0 and recall is the banding recall. The bucket self-join is the classic
LSH trick that replaces the O(n^2) pair join with O(sum bucket^2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xmltoldmigration_spark.queries import register
from xmltoldmigration_spark.tables import load_table

N_HASHES = 64
N_BANDS = 32  # 2 rows per band
JACCARD_THRESHOLD = 0.8

# word 3-gram shingles from a whitespace split, empty tokens dropped;
# docs with <3 tokens produce no shingles (same as the oracle's range()).
#
# Each shingle is carried as a single xxhash64 LONG over the token triple,
# never as the ~25-byte joined string: tokens contain no whitespace (they
# come from a whitespace split), so the (tok_j, tok_j+1, tok_j+2) -> hash
# map collides only on a 64-bit hash collision, and every downstream step —
# per-doc distinct, the 64-way min-hash signature, the inverted-index join,
# and the exact-verify equi-join — only ever compares shingles for
# EQUALITY.  Equivalence with string shingles is therefore exact at the
# validated scale factors (the string-based DuckDB oracle matches
# value-for-value at sf0.001/sf0.01) and holds w.h.p. at 1e9 shingles
# (birthday odds ~n^2/2^65, about 3% there).  Cuts the dominant
# shuffle/aggregate byte width ~3x.
_SHINGLES_EXPR = """
CASE WHEN size(toks) >= 3 THEN
  transform(sequence(0, size(toks) - 3),
            j -> xxhash64(toks[j], toks[j+1], toks[j+2]))
ELSE array() END
"""

_ORACLE_SHINGLES_CTE = r"""
words AS (
  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, shingle
  FROM words, UNNEST(list_transform(range(1, greatest(len(toks) - 1, 1)),
       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS t(shingle)
  WHERE shingle IS NOT NULL
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id)
"""

_ORACLE_BRUTE_FORCE_PAIRS = f"""
    WITH {_ORACLE_SHINGLES_CTE},
    inter AS (
      SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS i
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT inter.a AS doc_a, inter.b AS doc_b,
           CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard
    FROM inter JOIN sizes sa ON inter.a = sa.doc_id
               JOIN sizes sb ON inter.b = sb.doc_id
    WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= {JACCARD_THRESHOLD}
"""


def shingle_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrame[doc_id, shingle: long] — distinct hashed word-3-gram shingles."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            F.filter(F.split("text", r"\s+"), lambda x: x != "").alias("toks"),
        )
        .select("doc_id", F.explode(F.expr(_SHINGLES_EXPR)).alias("shingle"))
        .distinct()
    )


def _exact_jaccard_filter(candidates: DataFrame, sh: DataFrame) -> DataFrame:
    """Exactly verify candidate pairs: jaccard >= threshold over shingle sets."""
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingle").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("_b_id"), F.col("shingle").alias("sh_b"))
    inter = (
        candidates.join(a, "doc_a")
        .join(b, (F.col("doc_b") == F.col("_b_id")) & (F.col("sh_a") == F.col("sh_b")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n", "na"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "nb"), "doc_b")
        .withColumn("jaccard", F.col("i").cast("double") / (F.col("na") + F.col("nb") - F.col("i")))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "jaccard")
    )


# --------------------------------------------------------------------------
# Exact dedup: hash-groupBy, min-doc_id representative.
# --------------------------------------------------------------------------
@register(
    "dedup_exact",
    oracle=r"""
    WITH h AS (
      SELECT doc_id,
             md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS content_hash
      FROM documents
    ), rep AS (
      SELECT content_hash, MIN(doc_id) AS rep_id, COUNT(*) AS group_size
      FROM h GROUP BY content_hash
    )
    SELECT h.doc_id, r.rep_id, r.group_size,
           CASE WHEN h.doc_id <> r.rep_id THEN 1 ELSE 0 END AS is_duplicate
    FROM h JOIN rep r ON h.content_hash = r.content_hash
    """,
    survey_ref="training-data dedup: exact (hash groupBy)",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    h = docs.select(
        "doc_id",
        F.md5(F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))).alias("content_hash"),
    )
    rep = h.groupBy("content_hash").agg(
        F.min("doc_id").alias("rep_id"), F.count(F.lit(1)).alias("group_size")
    )
    return h.join(rep, "content_hash").select(
        "doc_id",
        "rep_id",
        "group_size",
        F.when(F.col("doc_id") != F.col("rep_id"), F.lit(1)).otherwise(F.lit(0)).alias("is_duplicate"),
    )


# --------------------------------------------------------------------------
# n-gram Jaccard near-dup: exact pairwise via shingle-inverted-index join.
# --------------------------------------------------------------------------
@register(
    "dedup_ngram_jaccard",
    oracle=_ORACLE_BRUTE_FORCE_PAIRS,
    survey_ref="training-data dedup: n-gram Jaccard (inverted-index pair join)",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = shingle_df(spark, sf_dir).localCheckpoint(eager=False)
    pairs = (
        sh.alias("x")
        .join(sh.alias("y"), (F.col("x.shingle") == F.col("y.shingle")) & (F.col("x.doc_id") < F.col("y.doc_id")))
        .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .distinct()
    )
    return _exact_jaccard_filter(pairs, sh)


# --------------------------------------------------------------------------
# MinHash + LSH near-dup: the scale path (avoids the full inverted-index
# pair explosion; only band-bucket collisions become candidates).
# --------------------------------------------------------------------------
@register(
    "dedup_minhash_lsh",
    oracle=_ORACLE_BRUTE_FORCE_PAIRS,
    survey_ref="training-data dedup: MinHash+LSH (shingle->minhash->band->bucket join)",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # compute shingles once: reused by signature agg, exact-verify (both
    # sides) and sizes — without this the scan+shingle runs 4x
    sh = shingle_df(spark, sf_dir).localCheckpoint(eager=False)
    # 64 seeded xxhash64 functions (one JVM long hash each — no string md5
    # materialization; the hash family is free to differ from the oracle's
    # because candidates are exactly verified afterwards)
    hash_cols = [
        F.min(F.xxhash64(F.lit(i), F.col("shingle"))).alias(f"h{i}") for i in range(N_HASHES)
    ]
    sig = sh.groupBy("doc_id").agg(*hash_cols).select(
        "doc_id",
        F.array(*[F.col(f"h{i}") for i in range(N_HASHES)]).alias("sig"),
    )
    # banding: 32 bands x 2 rows, emitted in ONE pass via explode (a 32-way
    # union would recompute the signature aggregation per branch); bucket id
    # is a single long xxhash64 over the band's slice of the signature —
    # no string materialization anywhere in the LSH path
    rows_per_band = N_HASHES // N_BANDS
    buckets = sig.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, {N_BANDS - 1}), b -> "
                f"struct(b AS band, xxhash64(slice(sig, b * {rows_per_band} + 1, {rows_per_band})) AS bucket))"
            )
        ).alias("bb"),
    ).select("doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    candidates = (
        buckets.alias("x")
        .join(
            buckets.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .distinct()
    )
    return _exact_jaccard_filter(candidates, sh)


# --------------------------------------------------------------------------
# SimHash: 64-bit weighted-bit-vote fingerprint. Not SQL-expressible ->
# rows-only driver check; unit-tested for determinism + hamming locality.
# --------------------------------------------------------------------------
@register(
    "dedup_simhash",
    oracle=None,
    survey_ref="training-data dedup: SimHash 64-bit fingerprint (pandas UDF)",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xmltoldmigration_spark.operators.simhash import simhash_hex

    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", simhash_hex(F.col("text")).alias("simhash_hex"))


# --------------------------------------------------------------------------
# Embedding-cosine near-dup: exact all-pairs baseline (the verification
# path; ann_lsh_bucketed in operators/similarity.py is the bucketed scale
# path, same relationship as dedup_ngram_jaccard : dedup_minhash_lsh).
# Implemented as BLOCKED numpy matmul (operators/similarity.py
# exact_cosine_pairs): one applyInPandas group per block pair computes the
# whole cosine submatrix with BLAS instead of an interpreted per-pair
# higher-order-function dot product (~50x); block size is bounded
# (rows_per_block) so no row/group grows O(n).  Cosine rounded to 3 decimals
# on both engines (cross-engine float noise ~1e-7, data margins >= 1e-4
# — verified at sf0.01).
# --------------------------------------------------------------------------
COSINE_THRESHOLD = 0.4


@register(
    "dedup_embedding_cosine",
    oracle=f"""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(CAST(list_cosine_similarity(a.embedding, b.embedding) AS DOUBLE), 3) AS cos_sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.embedding, b.embedding) >= {COSINE_THRESHOLD}
    """,
    survey_ref="training-data dedup: embedding-cosine near-dup (exact baseline)",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xmltoldmigration_spark.operators.similarity import exact_cosine_pairs

    return exact_cosine_pairs(load_table(spark, sf_dir, "embeddings"), COSINE_THRESHOLD)
