"""Similarity search over the `embeddings` table shape: a `vec_id` column
and an `embedding` column of array<float>.

- brute_force_topk: exact cosine top-k — the (small) query matrix ships in
  the task closure and the corpus streams through one shuffle-free
  mapInPandas BLAS pass emitting batch-local top-k candidates. At 100 TB
  the corpus side stays partition-parallel; only the query set is
  collected (gated).
- lsh_bucket_topk: random-hyperplane LSH bucketing — queries only probe
  their own bucket (plus optional multi-probe), turning the scan into a
  bucket-local join. The hyperplanes are a deterministic md5-seeded matrix
  so results are reproducible across retries/executors.
- ivf_topk: inverted-file probing — each query scores only the corpus
  vectors in its n_probe nearest coarse-quantizer cells.

All three rank under one tie rule (`_top_k`), so on a candidate set that
holds every pair they return identical rows.
"""

from __future__ import annotations

import functools
import hashlib

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

# brute_force_topk collects the query side to the driver: past this many
# query rows the ANN operators are the ones to use
MAX_QUERIES = 100_000


def _unit(m: np.ndarray) -> np.ndarray:
    """Rows of `m` scaled to unit length; a zero row stays zero."""
    return m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)


def _cosine(a: str, b: str):
    """Column expr: cosine similarity of two array<double> columns, computed
    with sequential double folds (bit-stable across partitionings)."""
    dot = F.aggregate(F.zip_with(F.col(a), F.col(b), lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x)
    na = F.aggregate(F.col(a), F.lit(0.0), lambda s, x: s + x * x)
    nb = F.aggregate(F.col(b), F.lit(0.0), lambda s, x: s + x * x)
    return dot / (F.sqrt(na) * F.sqrt(nb))


def _top_k(scored: DataFrame, k: int) -> DataFrame:
    """DataFrame[query_id, neighbor_id, rk]: the k best rows of
    `scored[query_id, neighbor_id, sim]` per query, ranked by round(sim, 6)
    descending, then neighbor_id.  BLAS summation order moves a cosine by
    ~1e-7 with the batch's matrix blocking (i.e. with partitioning), far
    below any real margin; at 6 decimals the order is a strict total order
    that no partitioning can change."""
    w = W.partitionBy("query_id").orderBy(F.round("sim", 6).desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "rk")
    )


def brute_force_topk(corpus: DataFrame, queries: DataFrame, k: int = 5) -> DataFrame:
    """DataFrame[query_id, neighbor_id, rk] — exact cosine top-k, self excluded.

    Broadcast-query GEMM: the query matrix is collected driver-side (gated
    at MAX_QUERIES — the operator's contract is a broadcast-small query
    set) and shipped in the task closure; the corpus streams through ONE
    shuffle-free mapInPandas pass that scores each Arrow batch with a
    float64 BLAS matmul and emits only the batch-local top-k per query.
    Similarities quantize to 6 decimals BEFORE selection, so the batch-local
    order is `_top_k`'s: the union of batch-local top-ks provably contains
    the global top-k, and the final window ranks O(n_batches * |q| * k)
    candidate rows instead of |corpus| * |q| pairs.  Replaces the
    interpreted aggregate/zip_with fold (no codegen for HOFs;
    exact_cosine_pairs measured that shape ~50x slower than BLAS)."""
    q_rows = (
        queries.select(
            F.col("vec_id").alias("qid"), F.col("embedding").cast("array<double>").alias("qv")
        )
        .limit(MAX_QUERIES + 1)
        .collect()
    )
    if len(q_rows) > MAX_QUERIES:
        raise ValueError(
            f"brute_force_topk: query set exceeds MAX_QUERIES={MAX_QUERIES}; "
            "use ivf_topk/lsh_bucket_topk for table-sized query sides"
        )
    id_type = dict(corpus.dtypes)["vec_id"]
    cand_schema = f"query_id {id_type}, neighbor_id {id_type}, sim double"
    c = corpus.select(
        F.col("vec_id").alias("nid"), F.col("embedding").cast("array<double>").alias("cv")
    )
    if not q_rows:
        return (
            c.limit(0)
            .select(
                F.col("nid").alias("query_id"),
                F.col("nid").alias("neighbor_id"),
                F.lit(1).alias("rk"),
            )
        )
    qids = np.array([r["qid"] for r in q_rows])
    Qn = _unit(np.stack([np.asarray(r["qv"], dtype=np.float64) for r in q_rows]))
    n_q = len(q_rows)

    def score(batches):
        import numpy as _np
        import pandas as _pd

        for pdf in batches:
            if not len(pdf):
                continue
            Cn = _unit(_np.stack([_np.asarray(v, dtype=_np.float64) for v in pdf["cv"]]))
            sims = _np.round(Qn @ Cn.T, 6)  # (n_q, batch)
            nids = pdf["nid"].to_numpy()
            frames = []
            for i in range(n_q):
                idx = _np.nonzero(nids != qids[i])[0]  # self-exclusion
                if not len(idx):
                    continue
                s = sims[i, idx]
                # batch-local top-k under the SAME total order the final
                # window uses (quantized sim desc, id asc); lexsort's last
                # key is primary
                top = idx[_np.lexsort((nids[idx], -s))][:k]
                frames.append(
                    _pd.DataFrame(
                        {"query_id": qids[i], "neighbor_id": nids[top], "sim": sims[i, top]}
                    )
                )
            if frames:
                yield _pd.concat(frames, ignore_index=True)

    return _top_k(c.mapInPandas(score, schema=cand_schema), k)


@functools.lru_cache(maxsize=8)
def _planes(dim: int, n_planes: int, n_tables: int) -> np.ndarray:
    """(n_tables * n_planes, dim) deterministic pseudo-random hyperplanes
    (md5 counter-mode), one independent matrix per table of the
    OR-amplified construction; table 0 keeps the historical seed so
    single-table results are stable across versions.  Cached: each Python
    worker builds a shape once and reuses it for every batch."""
    n = dim * n_planes
    mats = []
    for t in range(n_tables):
        prefix = "lsh-plane" if t == 0 else f"lsh-plane:t{t}"
        raw = b"".join(
            hashlib.md5(f"{prefix}:{i}".encode()).digest() for i in range(-(-n // 4))
        )
        # each digest is four big-endian uint32s, each mapped to [-1, 1)
        vals = np.frombuffer(raw, dtype=">u4")[:n] / 2**31 - 1.0
        mats.append(vals.reshape(n_planes, dim))
    return np.vstack(mats)


def lsh_candidates(
    corpus: DataFrame,
    queries: DataFrame,
    n_planes: int = 8,
    n_flip: int = 1,
    n_tables: int = 1,
) -> DataFrame:
    """DataFrame[query_id, qv, neighbor_id, cv] — the distinct candidate
    pairs an (L tables, k bits) OR-amplified, multi-probed hyperplane LSH
    would score.  Exposed separately so recall tests can measure the scan
    fraction (candidates / (|q| * |corpus|)) the operator actually pays.

    Two recall levers compose:
    - `n_tables` (OR-amplification): L independent plane matrices; a pair
      is a candidate if it collides in ANY table.  Collision probability
      rises from p^k to 1-(1-p^k)^L while expected scan stays ~L/2^k —
      the standard trade, and at equal scan fraction it beats widening a
      single table's Hamming probe radius because the tables are
      independent draws rather than correlated neighbor buckets.
    - `n_flip` (multi-probe): within each table, queries also probe every
      bucket within Hamming distance n_flip (XOR-mask explode over
      compile-time literals).

    Corpus vectors index into exactly one bucket per table (L index
    entries per vector — the classic LSH storage cost); the join is
    bucket-local on (table, bucket), and a pair colliding in several
    tables is deduped before scoring so the expensive cosine runs once
    per pair.  Bucket ids come from one GEMM per Arrow batch against
    planes sized from the vectors themselves; table ids and probe masks
    are literals."""
    from itertools import combinations

    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    masks = [0] + [
        sum(1 << p for p in bits)
        for r in range(1, min(n_flip, n_planes) + 1)
        for bits in combinations(range(n_planes), r)
    ]
    weights = (1 << np.arange(n_planes, dtype=np.int64))  # bit p -> 2^p

    # all L*k plane projections in one Arrow-batched GEMM, packed into
    # per-table bucket ids.  Projections are quantized to 6 decimals before
    # the sign test — BLAS GEMM noise is batch-shape-dependent
    # (~1e-16..1e-7), so an unrounded near-zero projection would flip
    # buckets with the partitioning.
    @pandas_udf(T.ArrayType(T.StructType([
        T.StructField("tbl", T.IntegerType()),
        T.StructField("bkt", T.LongType()),
    ])))
    def bucket_ids(vecs):
        import pandas as pd

        V = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        proj = np.round(V @ _planes(V.shape[1], n_planes, n_tables).T, 6)  # (n, L*k)
        bits = (proj >= 0).reshape(len(V), n_tables, n_planes)
        bkts = (bits * weights).sum(axis=2)  # (n, L)
        tbl = np.arange(n_tables, dtype=np.int32)
        return pd.Series(
            [
                [{"tbl": int(t), "bkt": int(b)} for t, b in zip(tbl, row)]
                for row in bkts
            ]
        )

    buckets = bucket_ids(F.col("v"))

    c = (
        corpus.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").cast("array<double>").alias("v"),
        )
        .withColumn("tb", F.explode(buckets))
        .select(
            "neighbor_id",
            F.col("v").alias("cv"),
            F.col("tb.tbl").alias("tbl"),
            F.col("tb.bkt").alias("bkt"),
        )
    )
    q = (
        queries.select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").cast("array<double>").alias("v"),
        )
        .withColumn("tb", F.explode(buckets))
        .select(
            "query_id",
            F.col("v").alias("qv"),
            F.col("tb.tbl").alias("tbl"),
            # multi-probe: each base bucket fans out to its Hamming-<=n_flip
            # neighborhood via XOR-mask literals (mask 0 = the bucket itself)
            F.explode(
                F.array(*[F.col("tb.bkt").bitwiseXOR(F.lit(m)) for m in masks])
            ).alias("bkt")
            if len(masks) > 1
            else F.col("tb.bkt").alias("bkt"),
        )
    )
    # No forced broadcast: the query side is data-derived — AQE broadcasts
    # it when it is actually small.  A pair colliding in several tables
    # must score once; qv/cv are identical across the duplicates so the
    # kept row is well-defined.
    return (
        c.join(q, ["tbl", "bkt"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
        .select("query_id", "qv", "neighbor_id", "cv")
    )


def lsh_bucket_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    n_flip: int = 1,
    n_tables: int = 1,
) -> DataFrame:
    """Approximate cosine top-k over the OR-amplified multi-probe LSH
    candidate set (see lsh_candidates for the construction and the
    recall/scan trade), ranked by `_top_k`."""
    scored = lsh_candidates(corpus, queries, n_planes, n_flip, n_tables).withColumn(
        "sim", _cosine("qv", "cv")
    )
    return _top_k(scored, k)


def exact_cosine_pairs(df, threshold: float, rows_per_block: int = 2048):
    """Exact all-pairs cosine >= threshold via BLOCKED numpy matmul.

    The naive pair join evaluates an interpreted higher-order-function
    dot product per pair (no codegen for HOFs) — ~50x slower than BLAS.
    Vectors are tagged with a block id (n_blocks derived from an observed
    count so a block holds ~`rows_per_block` rows in expectation —
    hash-mod blocking concentrates only under adversarial id collisions,
    so treat the ~33 MB figure below as the expected, not worst-case,
    per-task ceiling), every row is replicated to the upper-triangle
    block pairs it participates in via one `explode` of its combined
    side-A/side-B assignment list (a single evaluation of `df`, so a
    nondeterministic upstream plan cannot yield inconsistent sides), and
    one `applyInPandas` group per block pair computes the cosine
    submatrix with a normalized matmul.  No row ever holds more than one
    vector — the old shape packed a whole block into a single
    `collect_list` row, which grows O(n) and hits Spark's 2 GB row/Arrow
    limits at ~100x.  Expected per-task memory: 2*rows_per_block vectors
    plus a rows_per_block^2 float submatrix (~33 MB at 2048).  Shuffle
    volume is O(n * n_blocks) = O(n^2 / rows_per_block) — inherent to
    exact all-pairs; the LSH-bucketed path (lsh_bucket_topk) is the
    subquadratic one.  Each emitted pair is oriented (min_id, max_id),
    cosine rounded to 3 decimals (cross-engine float noise ~1e-7).
    """
    import math

    # an observed count sizes the block grid (for a plain table scan the
    # count is metadata-only)
    n_blocks = max(1, math.ceil(df.count() / rows_per_block))

    tagged = df.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").alias("vec"),
        # hash the id before the mod: raw pmod(id) breaks the
        # <=rows_per_block bound when ids are strided/clustered (e.g.
        # sharded allocators handing out k*1000 ids)
        F.pmod(F.xxhash64(F.col("vec_id")), F.lit(n_blocks)).cast("int").alias("blk"),
    )
    # block g serves as side A of pairs (g, j>=g) and side B of (i<=g, g);
    # both assignment lists are built on the SAME row and exploded once,
    # so df is evaluated a single time for the replication pass
    assign = F.concat(
        F.transform(
            F.sequence(F.col("blk"), F.lit(n_blocks - 1)),
            lambda j: F.struct(
                F.col("blk").alias("pa"), j.alias("pb"), F.lit("a").alias("side")
            ),
        ),
        F.transform(
            F.sequence(F.lit(0), F.col("blk")),
            lambda i: F.struct(
                i.alias("pa"), F.col("blk").alias("pb"), F.lit("b").alias("side")
            ),
        ),
    )
    rep = tagged.select("id", "vec", F.explode(assign).alias("t")).select(
        "id", "vec", "t.pa", "t.pb", "t.side"
    )

    def compute(key, pdf):
        import numpy as np
        import pandas as pd

        pa, pb = int(key[0]), int(key[1])
        a, b = pdf[pdf["side"] == "a"], pdf[pdf["side"] == "b"]
        if not len(a) or not len(b):
            return pd.DataFrame({"id_a": [], "id_b": [], "cos_sim": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cos_sim": "float64"}
            )
        ids_a = a["id"].to_numpy(dtype=np.int64)
        ids_b = b["id"].to_numpy(dtype=np.int64)
        A = _unit(np.stack([np.asarray(v, dtype=np.float64) for v in a["vec"]]))
        B = _unit(np.stack([np.asarray(v, dtype=np.float64) for v in b["vec"]]))
        cos = A @ B.T
        ii, jj = np.nonzero(cos >= threshold)
        ia, ib = ids_a[ii], ids_b[jj]
        keep = (ia < ib) if pa == pb else (ia != ib)
        ia, ib, cv = ia[keep], ib[keep], cos[ii, jj][keep]
        return pd.DataFrame(
            {
                "id_a": np.minimum(ia, ib),
                "id_b": np.maximum(ia, ib),
                "cos_sim": np.round(cv, 3),
            }
        )

    return rep.groupBy("pa", "pb").applyInPandas(
        compute, "id_a bigint, id_b bigint, cos_sim double"
    )


def ivf_index(corpus: DataFrame, n_centroids: int = 16):
    """Build a deterministic IVF (inverted-file) index: (centroids, cells).

    Coarse quantizer = n_centroids seed vectors chosen by a content-free
    deterministic order (xxhash64 of the id), refined by ONE Lloyd
    iteration whose per-cell means sum members in sorted-id order inside
    `applyInPandas` — bit-stable across partitionings and retries.

    Returns (centroids: list[(cell_id, np.ndarray)] driver-side — the
    quantizer is tiny by construction — and cells: DataFrame[id, vec,
    cell] with every corpus vector assigned to its nearest centroid).
    At 100 TB the corpus never leaves the cluster: assignment is one
    mapInPandas pass against the broadcast quantizer, and each query
    probes only n_probe cells (the classic IVF trade of recall for a
    1/n_centroids scan fraction).
    """
    c = corpus.select(
        F.col("vec_id").alias("id"), F.col("embedding").cast("array<float>").alias("vec")
    )
    seeds = [
        np.asarray(r["vec"], dtype=np.float64)
        for r in c.orderBy(F.xxhash64(F.col("id")), "id").limit(n_centroids).collect()
    ]
    cmat = _unit(np.stack(seeds))

    def assign_df(df, cmat):
        cm = cmat

        def op(batches):
            import numpy as _np
            import pandas as _pd

            for pdf in batches:
                A = _unit(_np.stack([_np.asarray(v, dtype=_np.float64) for v in pdf["vec"]]))
                # quantize before argmax: BLAS GEMM results for one row vary
                # ~1e-16..1e-7 with the batch's matrix blocking (i.e. with
                # partitioning), so near-ties would flip cells run-to-run;
                # at 6 decimals argmax picks the first max deterministically
                cell = _np.round(A @ cm.T, 6).argmax(axis=1)
                yield _pd.DataFrame(
                    {"id": pdf["id"], "vec": pdf["vec"], "cell": cell.astype("int32")}
                )

        return df.mapInPandas(op, schema="id long, vec array<float>, cell int")

    assigned = assign_df(c, cmat)

    # one Lloyd iteration: deterministic per-cell mean (members summed in
    # sorted-id order), then re-assign
    def cell_mean(key, pdf):
        import numpy as _np
        import pandas as _pd

        pdf = pdf.sort_values("id")
        m = _np.stack([_np.asarray(v, dtype=_np.float64) for v in pdf["vec"]]).mean(axis=0)
        return _pd.DataFrame({"cell": [key[0]], "centroid": [m.tolist()]})

    means = {
        r["cell"]: np.asarray(r["centroid"], dtype=np.float64)
        for r in assigned.groupBy("cell")
        .applyInPandas(cell_mean, "cell int, centroid array<double>")
        .collect()
    }
    cmat2 = _unit(np.stack([means.get(i, cmat[i]) for i in range(n_centroids)]))
    cells = assign_df(c, cmat2)
    centroids = [(i, cmat2[i]) for i in range(n_centroids)]
    return centroids, cells


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
) -> DataFrame:
    """Approximate cosine top-k via IVF probing (the second scale path
    next to the LSH buckets): each query scores only the vectors in its
    n_probe nearest cells — a fraction n_probe/n_centroids of the corpus.
    Fully deterministic (golden-pinnable): cell assignment and probe order
    quantize similarities to 6 decimals before comparing, and the final
    ranking is `_top_k`'s, so BLAS summation-order noise cannot flip a
    rank."""
    centroids, cells = ivf_index(corpus, n_centroids)
    cmat = np.stack([m for _, m in centroids])

    # Probe assignment stays distributed: the tiny quantizer matrix ships
    # in the task closure (broadcast-by-value) and each Arrow batch of
    # queries gets its n_probe cells from one matmul + per-row argsort —
    # no driver collect, so the query side can itself be a large table.
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").cast("array<double>").alias("qv")
    )

    def assign_probes(batches):
        import numpy as _np
        import pandas as _pd

        # a quantizer can't serve more probes than it has cells
        p = min(n_probe, len(cmat))
        for pdf in batches:
            if not len(pdf):
                continue
            Qn = _unit(_np.stack([_np.asarray(v, dtype=_np.float64) for v in pdf["qv"]]))
            # quantize + stable sort: raw argsort of BLAS floats breaks ties
            # on ~1e-7 summation-order noise (batch-shape-dependent), which
            # made probe sets partition-sensitive; rounding to 6 decimals
            # with a stable sort ties off to the lowest cell id
            order = _np.stack(
                [_np.argsort(-_np.round(cmat @ v, 6), kind="stable")[:p] for v in Qn]
            )
            n = len(pdf)
            rep = _np.repeat(_np.arange(n), p)
            yield _pd.DataFrame(
                {
                    "query_id": pdf["query_id"].to_numpy()[rep],
                    "qv": pdf["qv"].iloc[rep].to_list(),
                    "cell": order.ravel().astype("int32"),
                }
            )

    probes = q.mapInPandas(
        assign_probes, schema="query_id long, qv array<double>, cell int"
    )

    # No forced broadcast: probes is data-derived (|queries| * n_probe
    # rows) — AQE broadcasts when it is actually small, and a table-sized
    # query side degrades gracefully to a shuffle join on cell.
    scored = (
        cells.join(probes, "cell")
        .filter(F.col("id") != F.col("query_id"))
        .withColumn("cv", F.col("vec").cast("array<double>"))
        .withColumn("sim", _cosine("qv", "cv"))
        .withColumnRenamed("id", "neighbor_id")
    )
    return _top_k(scored, k)
