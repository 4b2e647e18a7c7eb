"""Approximate-nearest-neighbor search over embedding columns.

Two paths over the ``embeddings`` table (vec_id, embedding float[64],
label):

* :func:`cosine_topk` — brute-force cosine top-k: broadcast the (small)
  query set, score every corpus row with a native ``zip_with`` /
  ``aggregate`` dot product in DOUBLE (JVM-side, no Python), window
  top-k per query.  The exactness baseline and the oracle-checked path.
* :func:`ann_lsh_topk` — the scale path: random-hyperplane LSH.  Sign
  bits against ``n_planes`` fixed hyperplanes bucket the corpus; each
  query probes its own bucket (+ optional 1-bit-flip multiprobe).  At
  10^12 rows the corpus is hashed once (narrow, shuffle on bucket) and
  each query touches ~corpus/2^n_planes rows instead of everything.
  Verified by a pytest recall test against brute force — approximate by
  construction, so no SQL oracle.

Everything is deterministic: hyperplanes come from a seeded
RandomState and ties break on vec_id.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _as_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a: Column, b: Column) -> Column:
    """Sequential left-to-right double dot product (index order matches the
    DuckDB ``list_dot_product`` mirror)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cos_batch_udf():
    """Arrow-batched exact cosine over two array columns — ONE shared
    kernel for every rescoring path (LSH, IVF, pair verify); numpy
    einsum dot/norms per batch instead of interpreted HOF expressions."""

    @F.pandas_udf("double")
    def _cos(a: pd.Series, b: pd.Series) -> pd.Series:
        ma = np.vstack(a.to_numpy())
        mb = np.vstack(b.to_numpy())
        num = np.einsum("ij,ij->i", ma, mb)
        den = np.sqrt(np.einsum("ij,ij->i", ma, ma)) * np.sqrt(
            np.einsum("ij,ij->i", mb, mb)
        )
        return pd.Series(num / den)

    return _cos


def _probe_masks(n_planes: int, multiprobe: int) -> list[int]:
    """All XOR masks with popcount <= multiprobe (0 < mask), standard
    multiprobe LSH: probe every bucket within Hamming distance
    ``multiprobe`` of the query's bucket."""
    return [
        m for m in range(1, 1 << n_planes) if bin(m).count("1") <= multiprobe
    ]


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    query_id: str = "qid",
    corpus_id: str = "vid",
    vec_col: str = "embedding",
) -> DataFrame:
    """(qid, vid, rank) of the k highest-cosine corpus rows per query.
    Broadcast-queries × corpus, no shuffle except the final per-query
    top-k window (partitioned by qid — small)."""
    q = queries.select(
        F.col(query_id).alias("qid"), _as_double(F.col(vec_col)).alias("_qv")
    )
    c = corpus.select(
        F.col(corpus_id).alias("vid"), _as_double(F.col(vec_col)).alias("_cv")
    )
    scored = c.crossJoin(F.broadcast(q)).select(
        "qid",
        "vid",
        (_dot(F.col("_qv"), F.col("_cv")) / (_norm(F.col("_qv")) * _norm(F.col("_cv")))).alias(
            "_cos"
        ),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("_cos"), F.asc("vid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "vid", F.col("rank").cast("int").alias("rank"))
    )


def cosine_topk_sql(
    queries_rel: str,
    corpus_rel: str,
    k: int,
    query_id: str = "qid",
    corpus_id: str = "vid",
    vec_col: str = "embedding",
) -> str:
    """DuckDB mirror — double-cast lists, list_dot_product, same tie-break."""
    return f"""
    WITH scored AS (
      SELECT q.{query_id} AS qid, c.{corpus_id} AS vid,
             list_dot_product(CAST(q.{vec_col} AS DOUBLE[]), CAST(c.{vec_col} AS DOUBLE[]))
             / (sqrt(list_dot_product(CAST(q.{vec_col} AS DOUBLE[]), CAST(q.{vec_col} AS DOUBLE[])))
                * sqrt(list_dot_product(CAST(c.{vec_col} AS DOUBLE[]), CAST(c.{vec_col} AS DOUBLE[]))))
             AS cos
      FROM {corpus_rel} c CROSS JOIN {queries_rel} q
    )
    SELECT qid, vid, CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid) AS INTEGER) AS rank
    FROM scored QUALIFY rank <= {k}
    """


def cosine_pairs(
    vectors: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 4,
    max_rows: int | None = 2_000_000,
) -> DataFrame:
    """EXACT embedding-cosine near-duplicate pairs: every (a, b) with
    ``a < b`` and ``cos(a, b) >= threshold``.

    Scale shape — blocked all-pairs, no cross join, no driver collect:
    each row hashes to one of ``n_blocks`` blocks; a row is shipped to
    every block-PAIR it participates in (explode, ~n_blocks copies), the
    pairs groupBy brings block i and block j together, and one Arrow
    kernel computes the full (Bi x Bj) normalized matmul per group and
    emits only the over-threshold entries.  Work is O(n^2 / n_blocks^2)
    per task with n_blocks^2/2 tasks — the standard distributed exact
    all-pairs layout; raise ``n_blocks`` with corpus size so each block
    fits an executor's memory.  For 10^12-row corpora use
    :func:`cosine_pairs_lsh` (candidates only where hashes collide).

    ``max_rows`` is the scale guard (same pattern as ``knn``'s
    ``broadcast_threshold`` routing count): the exact variant is O(n^2)
    dot products by construction, and above the default 2M rows that is
    >= 2e12 multiply-adds per dim — a mis-call, not a plan.  The guard
    refuses with the LSH alternative spelled out rather than silently
    launching a quadratic job; pass ``max_rows=None`` for a deliberate
    exact run at any size.
    """
    nb = int(n_blocks)
    if max_rows is not None:
        n = vectors.count()
        if n > int(max_rows):
            raise ValueError(
                f"cosine_pairs is the EXACT all-pairs variant (O(n^2) dot "
                f"products); input has {n:,} rows > max_rows={int(max_rows):,}. "
                "Use cosine_pairs_lsh (banded candidates, same threshold "
                "semantics) for large corpora, or pass max_rows=None to force "
                "an exact run."
            )
    id_type = vectors.schema[id_col].dataType.simpleString()
    v = vectors.select(
        F.col(id_col).alias("_vid"), _as_double(F.col(vec_col)).alias("_v")
    ).withColumn("_blk", F.pmod(F.xxhash64(F.col("_vid")), F.lit(nb)).cast("int"))
    # row with block b -> left side of (b, j>=b) and right side of (i<b, b);
    # the diagonal (b, b) gets the row ONCE (side=left) and self-joins
    left = v.withColumn(
        "_bj", F.explode(F.sequence(F.col("_blk"), F.lit(nb - 1)))
    ).select(F.col("_blk").alias("_bi"), "_bj", F.lit(0).alias("_side"), "_vid", "_v")
    right = v.filter(F.lit(nb) > 1).withColumn(
        "_bi", F.explode(F.sequence(F.lit(0), F.col("_blk") - 1))
    ).select("_bi", F.col("_blk").alias("_bj"), F.lit(1).alias("_side"), "_vid", "_v")
    both = left.unionByName(right)

    thr = float(threshold)

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        diag = pdf["_bi"].iloc[0] == pdf["_bj"].iloc[0]
        a = pdf[pdf["_side"] == 0]
        b = a if diag else pdf[pdf["_side"] == 1]
        if not len(a) or not len(b):
            return pd.DataFrame({"a_id": [], "b_id": [], "cos": []})
        ma = np.vstack(a["_v"].to_numpy())
        mb = ma if diag else np.vstack(b["_v"].to_numpy())
        ma_n = ma / np.linalg.norm(ma, axis=1, keepdims=True)
        mb_n = ma_n if diag else mb / np.linalg.norm(mb, axis=1, keepdims=True)
        cos = ma_n @ mb_n.T
        ia, ib = np.nonzero(cos >= thr)
        aid = a["_vid"].to_numpy()[ia]
        bid = b["_vid"].to_numpy()[ib]
        if diag:
            # matrix holds both (i,j) and (j,i): keep one, drop self-pairs
            keep = aid < bid
            lo, hi, cv = aid[keep], bid[keep], cos[ia[keep], ib[keep]]
        else:
            # each unordered cross-block pair appears exactly once, but
            # hash blocks don't respect id order — normalize, don't filter
            lo, hi = np.minimum(aid, bid), np.maximum(aid, bid)
            cv = cos[ia, ib]
        return pd.DataFrame({"a_id": lo, "b_id": hi, "cos": cv})

    return both.groupBy("_bi", "_bj").applyInPandas(
        kernel, schema=f"a_id {id_type}, b_id {id_type}, cos double"
    )


def cosine_pairs_sql(
    rel: str, threshold: float, id_col: str = "vec_id", vec_col: str = "embedding"
) -> str:
    """DuckDB mirror of :func:`cosine_pairs` (brute cross join).  The
    emitted ``cos`` is rounded to 6 dp on BOTH sides: BLAS matmul and
    DuckDB's sequential list_dot_product can differ in the last ulp."""
    return f"""
    SELECT a_id, b_id, round(cos, 6) AS cos FROM (
      SELECT a.{id_col} AS a_id, b.{id_col} AS b_id,
             list_dot_product(CAST(a.{vec_col} AS DOUBLE[]), CAST(b.{vec_col} AS DOUBLE[]))
             / (sqrt(list_dot_product(CAST(a.{vec_col} AS DOUBLE[]), CAST(a.{vec_col} AS DOUBLE[])))
                * sqrt(list_dot_product(CAST(b.{vec_col} AS DOUBLE[]), CAST(b.{vec_col} AS DOUBLE[]))))
             AS cos
      FROM {rel} a JOIN {rel} b ON a.{id_col} < b.{id_col}
    ) WHERE cos >= {threshold}
    """


def cosine_pairs_lsh(
    vectors: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 6,
    dim: int = 64,
    seed: int = 7,
    multiprobe: int = 1,
) -> DataFrame:
    """Approximate cosine near-dup pairs: candidates only where LSH
    buckets collide (direct or 1-bit multiprobe), exact cosine rescore.
    Same contract as MinHash near_dup: recall < 1 by design, cost
    ~n * bucket_size instead of n^2."""
    planes = _hyperplanes(dim, n_planes, seed)
    bucket = _bucket_udf(planes)
    v = vectors.select(
        F.col(id_col).alias("_vid"), _as_double(F.col(vec_col)).alias("_v")
    ).withColumn("_b0", bucket(F.col("_v")))
    probes = F.array(
        F.col("_b0"),
        *[
            F.col("_b0").bitwiseXOR(F.lit(m))
            for m in _probe_masks(n_planes, multiprobe)
        ],
    ) if multiprobe >= 1 else F.array(F.col("_b0"))
    a = v.withColumn("_bucket", F.explode(probes))
    b = v.withColumnRenamed("_vid", "_wid").withColumnRenamed("_v", "_w").withColumnRenamed(
        "_b0", "_bucket"
    )

    _cos_batch = cos_batch_udf()

    cand = (
        a.join(b, "_bucket")
        .filter(F.col("_vid") < F.col("_wid"))
        .dropDuplicates(["_vid", "_wid"])
    )
    return (
        cand.withColumn("cos", _cos_batch(F.col("_v"), F.col("_w")))
        .filter(F.col("cos") >= threshold)
        .select(F.col("_vid").alias("a_id"), F.col("_wid").alias("b_id"), "cos")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 7) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.randn(n_planes, dim)


def _bucket_udf(planes: np.ndarray):
    """Arrow-batched hyperplane bucketing: one numpy matmul per batch
    ((B, dim) @ (dim, n_planes)) instead of n_planes interpreted
    aggregate expressions per row — the high-dim scale path."""
    shifts = (1 << np.arange(planes.shape[0], dtype=np.int64))

    @F.pandas_udf("int")
    def bucket(v: pd.Series) -> pd.Series:
        m = np.vstack(v.to_numpy())
        bits = (m @ planes.T >= 0).astype(np.int64)
        return pd.Series((bits * shifts).sum(axis=1).astype(np.int32))

    return bucket


def ann_lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    query_id: str = "qid",
    corpus_id: str = "vid",
    vec_col: str = "embedding",
    n_planes: int = 6,
    dim: int = 64,
    seed: int = 7,
    multiprobe: int = 1,
) -> DataFrame:
    """Bucketed cosine top-k (random-hyperplane LSH).  Equi-join on the
    bucket id replaces the cross join; recall < 1 by design.

    ``multiprobe=1`` also probes every bucket at Hamming distance 1 from
    the query's bucket (n_planes+1 probes per query) — the standard
    recall/cost knob; a corpus vid lives in exactly one bucket so probes
    never duplicate candidates."""
    planes = _hyperplanes(dim, n_planes, seed)
    bucket = _bucket_udf(planes)
    q = queries.select(
        F.col(query_id).alias("qid"), _as_double(F.col(vec_col)).alias("_qv")
    ).withColumn("_bucket", bucket(F.col("_qv")))
    if multiprobe >= 1:
        probes = F.array(
            F.col("_bucket"),
            *[
                F.col("_bucket").bitwiseXOR(F.lit(m))
                for m in _probe_masks(n_planes, multiprobe)
            ],
        )
        q = q.withColumn("_bucket", F.explode(probes))
    c = corpus.select(
        F.col(corpus_id).alias("vid"), _as_double(F.col(vec_col)).alias("_cv")
    ).withColumn("_bucket", bucket(F.col("_cv")))

    # candidate rescoring as an Arrow-batched numpy kernel: the
    # aggregate/zip_with higher-order functions are CodegenFallback and
    # evaluate interpreted per element — a (B, dim) vectorized
    # dot/norm per batch replaces ~3*dim interpreted ops per candidate
    _cos_batch = cos_batch_udf()

    scored = c.join(F.broadcast(q), "_bucket").select(
        "qid",
        "vid",
        _cos_batch(F.col("_qv"), F.col("_cv")).alias("_cos"),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("_cos"), F.asc("vid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "vid", F.col("rank").cast("int").alias("rank"))
    )


# ------------------------------------------------ int8 quantized search
def quantize_int8(vec: Column) -> Column:
    """Unit-sphere int8 quantization as a native expression:
    ``q_i = round(127 * x_i / ||x||)`` (zero vectors quantize to
    all-zero; ``|x_i| <= ||x||`` bounds every code to [-127, 127]).

    Normalizing by the L2 norm — not per-vector max-abs — keeps the
    integer dot product a faithful cosine surrogate: per-vector scales
    cancel identically on both sides, so ``dot(q_a, q_b) ~= 127^2 *
    cos(a, b)``.  4x memory/bandwidth off the float32 corpus, with the
    SAME expression shape in the DuckDB mirror so quantized codes match
    bit for bit."""
    v = _as_double(vec)
    m = _norm(v)
    return F.transform(
        v,
        lambda x: F.when(m == 0.0, F.lit(0).cast("long")).otherwise(
            F.round(F.lit(127.0) * (x / m)).cast("long")
        ),
    )


def quantized_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    query_id: str = "qid",
    corpus_id: str = "vid",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k by INTEGER dot product of int8-quantized vectors:
    ``(qid, rank, vid, iscore)`` — the quantized serving path next to
    :func:`cosine_topk`'s float baseline.

    After quantization every score is 64-bit integer arithmetic
    (|iscore| <= dim * 127^2), so ranking has no float ties and the
    oracle compare is exact.  Same scale shape as cosine_topk:
    broadcast the (small) query side across the corpus, one per-query
    top-k window."""
    q = queries.select(
        F.col(query_id).alias("qid"), quantize_int8(F.col(vec_col)).alias("_qq")
    )
    c = corpus.select(
        F.col(corpus_id).alias("vid"), quantize_int8(F.col(vec_col)).alias("_cq")
    )
    scored = c.crossJoin(F.broadcast(q)).select(
        "qid",
        "vid",
        F.aggregate(
            F.zip_with(F.col("_qq"), F.col("_cq"), lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("iscore"),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("iscore"), F.asc("vid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", F.col("rank").cast("long").alias("rank"), "vid", "iscore")
    )


def quantized_topk_sql(
    queries_rel: str,
    corpus_rel: str,
    k: int,
    query_id: str = "qid",
    corpus_id: str = "vid",
    vec_col: str = "embedding",
) -> str:
    """DuckDB mirror — identical quantization expression, BIGINT dot."""

    def _q(alias: str) -> str:
        # same sequential-fold L2 norm as the Spark side: DuckDB's
        # list_dot_product(v, v) folds left-to-right like F.aggregate
        nrm = (
            f"sqrt(list_dot_product(CAST({alias}.{vec_col} AS DOUBLE[]), "
            f"CAST({alias}.{vec_col} AS DOUBLE[])))"
        )
        return (
            f"list_transform(CAST({alias}.{vec_col} AS DOUBLE[]), "
            f"x -> CASE WHEN {nrm} = 0.0 THEN CAST(0 AS BIGINT) "
            f"ELSE CAST(round(127.0 * (x / {nrm})) AS BIGINT) END)"
        )

    return f"""
    WITH scored AS (
      SELECT q.{query_id} AS qid, c.{corpus_id} AS vid,
             CAST(list_dot_product({_q('q')}, {_q('c')}) AS BIGINT) AS iscore
      FROM {corpus_rel} c CROSS JOIN {queries_rel} q
    ),
    ranked AS (
      SELECT qid, vid, iscore,
             CAST(row_number() OVER (
                 PARTITION BY qid ORDER BY iscore DESC, vid ASC
             ) AS BIGINT) AS rank
      FROM scored
    )
    SELECT qid, rank, vid, iscore FROM ranked WHERE rank <= {int(k)}
    """


# -------------------------------------- integer-exact LSH (oracle-able)
def lsh_signs(n_planes: int, dim: int, seed: int = 7) -> np.ndarray:
    """Deterministic ±1 hyperplane matrix, embedded as LITERALS in both
    the Spark expression and the SQL mirror (the JL literal-matrix
    trick) so bucket bits are bit-exact cross-engine."""
    rng = np.random.RandomState(seed)
    return rng.choice(np.array([-1, 1], dtype=np.int64), size=(n_planes, dim))


def _int_dot(vec: Column, lits: list[int]) -> Column:
    arr = F.array(*[F.lit(int(v)).cast("long") for v in lits])
    return F.aggregate(
        F.zip_with(vec, arr, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def lsh_bucket_col(qvec: Column, signs: np.ndarray) -> Column:
    """Sign-bit bucket of an int8-QUANTIZED vector against ±1 planes —
    pure integer arithmetic, so the bucket id is exact, not
    ulp-dependent like the float randn planes of cosine_pairs_lsh."""
    out = F.lit(0).cast("long")
    for i, p in enumerate(signs):
        out = out + F.when(_int_dot(qvec, list(p)) >= 0, F.lit(1 << i)).otherwise(
            F.lit(0)
        )
    return out


def lsh_quantized_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    query_id: str = "qid",
    corpus_id: str = "vid",
    vec_col: str = "embedding",
    n_planes: int = 6,
    dim: int = 64,
    seed: int = 7,
    multiprobe: int = 1,
) -> DataFrame:
    """LSH ANN with an EXACT arithmetic story end to end: int8-quantized
    vectors (quantize_int8's proven recipe), ±1 literal hyperplanes,
    integer sign-bit buckets, integer-dot scoring, id tie-breaks —
    every step SQL-mirrorable, so unlike float LSH this variant is
    fully oracle-checked.  Scale shape: candidates only where buckets
    collide (query side explodes 1+multiprobe*n_planes probe ids and is
    broadcast); the corpus never self-joins."""
    signs = lsh_signs(n_planes, dim, seed)
    c = corpus.select(
        F.col(corpus_id).alias("vid"), quantize_int8(F.col(vec_col)).alias("_cq")
    ).withColumn("_bucket", lsh_bucket_col(F.col("_cq"), signs))
    q = queries.select(
        F.col(query_id).alias("qid"), quantize_int8(F.col(vec_col)).alias("_qq")
    ).withColumn("_b0", lsh_bucket_col(F.col("_qq"), signs))
    masks = [0] + ([1 << i for i in range(n_planes)] if multiprobe >= 1 else [])
    probes = F.array(*[F.col("_b0").bitwiseXOR(F.lit(m)) for m in masks])
    q = q.withColumn("_bucket", F.explode(probes))
    scored = (
        c.join(F.broadcast(q), "_bucket")
        .select(
            "qid",
            "vid",
            F.aggregate(
                F.zip_with(F.col("_qq"), F.col("_cq"), lambda x, y: x * y),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("iscore"),
        )
        .dropDuplicates(["qid", "vid"])  # multiprobe can rehit a bucket
    )
    w = Window.partitionBy("qid").orderBy(F.desc("iscore"), F.asc("vid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", F.col("rank").cast("long").alias("rank"), "vid", "iscore")
    )


def lsh_quantized_topk_sql(
    queries_rel: str,
    corpus_rel: str,
    k: int,
    query_id: str = "qid",
    corpus_id: str = "vid",
    vec_col: str = "embedding",
    n_planes: int = 6,
    dim: int = 64,
    seed: int = 7,
    multiprobe: int = 1,
) -> str:
    """DuckDB mirror: identical quantization, identical literal planes,
    identical integer bucket/score arithmetic."""
    signs = lsh_signs(n_planes, dim, seed)

    def _q(alias: str) -> str:
        nrm = (
            f"sqrt(list_dot_product(CAST({alias}.{vec_col} AS DOUBLE[]), "
            f"CAST({alias}.{vec_col} AS DOUBLE[])))"
        )
        return (
            f"list_transform(CAST({alias}.{vec_col} AS DOUBLE[]), "
            f"x -> CASE WHEN {nrm} = 0.0 THEN CAST(0 AS BIGINT) "
            f"ELSE CAST(round(127.0 * (x / {nrm})) AS BIGINT) END)"
        )

    def bucket(code: str) -> str:
        terms = []
        for i, p in enumerate(signs):
            lits = "[" + ", ".join(str(int(v)) for v in p) + "]"
            terms.append(
                f"CASE WHEN list_dot_product({code}, {lits}) >= 0 "
                f"THEN {1 << i} ELSE 0 END"
            )
        return "(" + " + ".join(terms) + ")"

    masks = [0] + ([1 << i for i in range(n_planes)] if multiprobe >= 1 else [])
    mask_list = "[" + ", ".join(str(m) for m in masks) + "]"
    return f"""
    WITH cq AS (
      SELECT c.{corpus_id} AS vid, {_q('c')} AS code FROM {corpus_rel} c
    ),
    cb AS (SELECT vid, code, {bucket('code')} AS bucket FROM cq),
    qq AS (
      SELECT q.{query_id} AS qid, {_q('q')} AS code FROM {queries_rel} q
    ),
    qb AS (SELECT qid, code, {bucket('code')} AS b0 FROM qq),
    qp AS (
      SELECT qid, code, xor(b0, m) AS bucket
      FROM qb, unnest({mask_list}) AS r(m)
    ),
    cand AS (
      SELECT DISTINCT qp.qid, cb.vid,
             CAST(list_dot_product(qp.code, cb.code) AS BIGINT) AS iscore
      FROM cb JOIN qp USING (bucket)
    ),
    ranked AS (
      SELECT qid, vid, iscore,
             CAST(row_number() OVER (
                 PARTITION BY qid ORDER BY iscore DESC, vid ASC
             ) AS BIGINT) AS rank
      FROM cand
    )
    SELECT qid, rank, vid, iscore FROM ranked WHERE rank <= {int(k)}
    """
