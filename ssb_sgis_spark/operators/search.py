"""BM25 ranked retrieval over the document corpus.

The inverted-index scoring operator a crawl/training-data pipeline uses
to find benchmark leakage, build retrieval-augmented eval sets, or rank
recrawl candidates: Okapi BM25 (k1 = 1.2, b = 0.75) of a (small) query
set against the full corpus, top-k docs per query.

Exactness design (the same integer discipline as
``operators/quality.unigram_nll``): with k1 = 6/5 and b = 3/4 the BM25
term weight is a ratio of integers once both sides are multiplied by
``10 * S`` (S = total corpus tokens):

    tf_part = 22*S*tf / (10*S*tf + 3*S + 9*dl*N)

and the idf argument is exact as well:

    1 + (N - df + 0.5)/(df + 0.5)  ==  (2N + 2)/(2df + 1)

so the ONLY transcendental is one ``ln`` per distinct query term,
floored once into integer micro-nats (``idf_micro``).  Every per-doc
contribution is then pure 64-bit arithmetic —

    contrib = (idf_micro * 22*S*tf) div (10*S*tf + 3*S + 9*dl*N)

— identical in Spark and DuckDB bit for bit, and the final ordering
(score desc, doc_id asc) has no float ties to break.

64-bit bound: ``idf_micro * 22 * S * tf`` must stay under 2^63 —
S*tf < ~2.9e13 at the idf ceiling.  Fine for corpora to ~10^11 tokens;
beyond that, lift the same expressions to DECIMAL(38,0) (both engines)
or shard S into per-partition scale factors.

Scale shape:
* tf is one groupBy(doc_id, term) over the exploded tokens with
  map-side combine (the explode itself is map-only); dl rides along as
  a functionally-dependent key — no second join against a doc-length
  table;
* df(term) is a map-side-combinable count over the tf frame;
* the query set is small by definition → every query-side join is a
  broadcast; the only big shuffles are the two term aggs;
* top-k is a rank window partitioned by query — tiny partitions.

Corpus-derived scalars (N docs, S tokens) enter as a one-row broadcast
crossJoin so the whole operator stays one lazy DAG (same pattern the
plan audit already allows for unigram_nll).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _doc_terms(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, term, tf, dl) — one shuffle, dl carried through the group."""
    toks = F.split(F.col(text_col), " ")
    with_dl = docs.select(
        F.col(id_col), toks.alias("_t"), F.size(toks).cast("long").alias("dl")
    )
    return (
        with_dl.select(id_col, "dl", F.explode("_t").alias("term"))
        .groupBy(id_col, "dl", "term")
        .agg(F.count("*").cast("long").alias("tf"))
    )


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    query_text_col: str = "qtext",
    max_query_terms: int = 4,
) -> DataFrame:
    """Top-k BM25 docs per query: ``(query_id, rank, doc_id,
    score_micro)`` — rank 1-based by (score desc, doc_id asc), score in
    integer micro-nats.  Query terms are the first ``max_query_terms``
    whitespace tokens of ``query_text_col`` (a multiset — a repeated
    term scores per occurrence, the standard qtf treatment)."""
    from pyspark.sql.window import Window

    tf = _doc_terms(docs, id_col, text_col)
    dfreq = tf.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    stats = docs.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.size(F.split(F.col(text_col), " "))).cast("long").alias("s_tokens"),
    )

    qtoks = F.slice(F.split(F.col(query_text_col), " "), 1, int(max_query_terms))
    qocc = queries.select(
        F.col(query_id_col), F.posexplode(qtoks).alias("qpos", "term")
    )
    # per-(query, term-occurrence) idf: broadcast the tiny query side into
    # the big df(term) frame, then attach the corpus scalars
    q_idf = (
        dfreq.join(F.broadcast(qocc), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            query_id_col,
            "qpos",
            "term",
            "n_docs",
            "s_tokens",
            F.floor(
                F.lit(1_000_000.0)
                * F.log(
                    (2 * F.col("n_docs") + 2).cast("double")
                    / (2 * F.col("df") + 1).cast("double")
                )
            )
            .cast("long")
            .alias("idf_micro"),
        )
    )
    scored = tf.join(F.broadcast(q_idf), "term").select(
        query_id_col,
        F.col(id_col),
        F.expr(
            "(idf_micro * 22 * s_tokens * tf) div "
            "(10 * s_tokens * tf + 3 * s_tokens + 9 * dl * n_docs)"
        ).alias("contrib"),
    )
    per_doc = scored.groupBy(query_id_col, id_col).agg(
        F.sum("contrib").cast("long").alias("score_micro")
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("score_micro").desc(), F.col(id_col).asc()
    )
    return (
        per_doc.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= int(k))
        .select(query_id_col, "rank", id_col, "score_micro")
    )


def bm25_topk_sql(
    rel: str,
    queries_rel: str,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    query_text_col: str = "qtext",
    max_query_terms: int = 4,
) -> str:
    """DuckDB mirror — the identical integer expressions; the only float
    is the same ``ln`` of the same exact ratio, floored at micro scale."""
    m = int(max_query_terms)
    return f"""
    WITH toks AS (
        SELECT {id_col}, string_split({text_col}, ' ') AS t FROM {rel}
    ),
    tf AS (
        SELECT {id_col}, CAST(len(t) AS BIGINT) AS dl, term,
               CAST(count(*) AS BIGINT) AS tf
        FROM toks, unnest(t) AS u(term)
        GROUP BY {id_col}, len(t), term
    ),
    dfreq AS (
        SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
    ),
    stats AS (
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(len(string_split({text_col}, ' '))) AS BIGINT)
                   AS s_tokens
        FROM {rel}
    ),
    qt AS (
        SELECT {query_id_col},
               list_slice(string_split({query_text_col}, ' '), 1, {m}) AS qterms
        FROM {queries_rel}
    ),
    qocc AS (
        SELECT {query_id_col}, CAST(i - 1 AS INT) AS qpos, qterms[i] AS term
        FROM qt, unnest(range(1, len(qterms) + 1)) r(i)
    ),
    q_idf AS (
        SELECT q.{query_id_col}, q.qpos, q.term, s.n_docs, s.s_tokens,
               CAST(floor(1000000.0 * ln(
                   CAST(2 * s.n_docs + 2 AS DOUBLE)
                   / CAST(2 * d.df + 1 AS DOUBLE)
               )) AS BIGINT) AS idf_micro
        FROM dfreq d JOIN qocc q USING (term) CROSS JOIN stats s
    ),
    scored AS (
        SELECT q.{query_id_col}, t.{id_col},
               (q.idf_micro * 22 * q.s_tokens * t.tf)
                   // (10 * q.s_tokens * t.tf + 3 * q.s_tokens
                       + 9 * t.dl * q.n_docs) AS contrib
        FROM tf t JOIN q_idf q USING (term)
    ),
    per_doc AS (
        SELECT {query_id_col}, {id_col},
               CAST(sum(contrib) AS BIGINT) AS score_micro
        FROM scored GROUP BY {query_id_col}, {id_col}
    ),
    ranked AS (
        SELECT {query_id_col}, {id_col}, score_micro,
               CAST(row_number() OVER (
                   PARTITION BY {query_id_col}
                   ORDER BY score_micro DESC, {id_col} ASC
               ) AS BIGINT) AS rank
        FROM per_doc
    )
    SELECT {query_id_col}, rank, {id_col}, score_micro
    FROM ranked WHERE rank <= {int(k)}
    """


# ------------------------------------------------------------ tf-idf keywords
def tfidf_keywords(
    docs: DataFrame,
    j: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-``j`` TF-IDF keywords per document:
    ``(id_col, term, tf, score_micro, kw_rank)`` — the per-document
    summarization/tagging primitive next to :func:`bm25_topk`'s
    query-side ranking.

    Exactness: ``idf = ln((N + 1) / (df + 1))`` is one ``ln`` of an
    exact integer ratio per DISTINCT term, floored once into micro-nats;
    the score is then ``tf * idf_micro`` (pure int64) and the per-doc
    top-j is a total (score DESC, term ASC) order — bit-stable in both
    engines.  (+1 smoothing keeps corpus-universal terms at idf 0
    instead of dropping them.)

    Scale shape: the (id, term, tf) aggregate is ONE combinable
    shuffle; document frequencies re-aggregate that output (not the raw
    corpus); the df join is broadcast (vocabulary is Zipf-bounded); the
    final window partitions by document — no global sort anywhere.
    """
    terms = _doc_terms(docs, id_col, text_col).localCheckpoint(eager=True)
    n_docs = docs.count()
    df_tbl = terms.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    idf = df_tbl.select(
        "term",
        F.floor(
            F.log(F.lit(float(n_docs + 1)) / (F.col("df") + 1).cast("double")) * 1e6
        )
        .cast("long")
        .alias("idf_micro"),
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc("score_micro"), F.asc("term")
    )
    return (
        terms.join(F.broadcast(idf), "term")
        .select(
            id_col,
            "term",
            "tf",
            (F.col("tf") * F.col("idf_micro")).cast("long").alias("score_micro"),
        )
        .withColumn("kw_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("kw_rank") <= int(j))
    )


def tfidf_keywords_sql(
    rel: str,
    j: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB mirror: same smoothing, same single floor, same total
    order."""
    return f"""
    WITH terms AS (
      SELECT {id_col}, term, CAST(count(*) AS BIGINT) AS tf
      FROM (SELECT {id_col}, unnest(string_split({text_col}, ' ')) AS term
            FROM {rel})
      GROUP BY 1, 2
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM {rel}),
    idf AS (
      SELECT term,
             CAST(floor(ln(CAST(n_docs + 1 AS DOUBLE) / CAST(df + 1 AS DOUBLE)) * 1e6)
                  AS BIGINT) AS idf_micro
      FROM (SELECT term, CAST(count(*) AS BIGINT) AS df FROM terms GROUP BY 1)
           CROSS JOIN n
    ),
    scored AS (
      SELECT terms.{id_col}, terms.term, terms.tf,
             CAST(terms.tf * idf.idf_micro AS BIGINT) AS score_micro
      FROM terms JOIN idf USING (term)
    )
    SELECT {id_col}, term, tf, score_micro, CAST(kw_rank AS BIGINT) AS kw_rank
    FROM (
      SELECT *, row_number() OVER (PARTITION BY {id_col}
                                   ORDER BY score_micro DESC, term ASC) AS kw_rank
      FROM scored
    ) WHERE kw_rank <= {int(j)}
    """


# ------------------------------------------------------- hybrid search (RRF)
RRF_SCALE = 1_000_000_000  # contribution = RRF_SCALE div (k_rrf + rank)


def rrf_fuse(
    ranked_lists: list[DataFrame],
    k_rrf: int = 60,
    out_k: int = 5,
    query_id_col: str = "query_id",
    id_col: str = "doc_id",
) -> DataFrame:
    """Reciprocal-rank fusion of per-query ranked lists — the standard
    hybrid-retrieval combiner (Cormack/Clarke/Buettcher SIGIR'09; the
    BM25 + dense-vector fusion every RAG stack runs): each list
    contributes ``RRF_SCALE div (k_rrf + rank)`` per (query, doc), the
    fused score is the integer sum, output is the per-query top
    ``out_k`` as ``(query_id, fused_rank, doc_id, rrf_micro)``.

    Every input must have columns (query_id_col, id_col, rank).  The
    reciprocal is computed in integer 1e9-units so the fusion is
    bit-exact across engines (no float sums); ties break on doc id.

    Scale shape: the inputs are top-k lists — ``|queries| * k`` rows, a
    vanishing fraction of the corpora that produced them — so the fusion
    is one union + one map-side-combinable (query, doc) sum + one
    per-query window over <= lists*k rows per query.  The expensive
    parts (BM25 aggregation, vector scoring) stay inside the upstream
    operators with their own scale paths; fusion adds no corpus-sized
    shuffle.
    """
    from functools import reduce

    parts = [
        df.select(
            F.col(query_id_col).alias("_q"),
            F.col(id_col).alias("_d"),
            F.expr(f"CAST({RRF_SCALE} div ({int(k_rrf)} + rank) AS BIGINT)").alias(
                "_c"
            ),
        )
        for df in ranked_lists
    ]
    unioned = reduce(lambda a, b: a.unionByName(b), parts)
    fused = unioned.groupBy("_q", "_d").agg(
        F.sum("_c").cast("long").alias("rrf_micro")
    )
    w = Window.partitionBy("_q").orderBy(
        F.col("rrf_micro").desc(), F.col("_d").asc()
    )
    return (
        fused.withColumn("fused_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("fused_rank") <= int(out_k))
        .select(
            F.col("_q").alias(query_id_col),
            "fused_rank",
            F.col("_d").alias(id_col),
            "rrf_micro",
        )
    )


def rrf_fuse_sql(
    list_sqls: list[str],
    k_rrf: int = 60,
    out_k: int = 5,
    query_id_col: str = "query_id",
    id_col: str = "doc_id",
) -> str:
    """DuckDB mirror of :func:`rrf_fuse`: each ``list_sqls`` entry must
    yield (query_id_col, id_col, rank)."""
    unions = "\n      UNION ALL ".join(
        f"SELECT {query_id_col} AS q, {id_col} AS d, "
        f"{RRF_SCALE} // ({int(k_rrf)} + rank) AS c FROM ({s})"
        for s in list_sqls
    )
    return f"""
    WITH contribs AS (
      {unions}
    ),
    fused AS (
      SELECT q, d, CAST(sum(c) AS BIGINT) AS rrf_micro
      FROM contribs GROUP BY q, d
    )
    SELECT q AS {query_id_col},
           CAST(row_number() OVER (
               PARTITION BY q ORDER BY rrf_micro DESC, d ASC
           ) AS BIGINT) AS fused_rank,
           d AS {id_col}, rrf_micro
    FROM fused QUALIFY fused_rank <= {int(out_k)}
    """


# -------------------------------------------------------- retrieval eval
MRR_SCALE = 1_000_000  # reciprocal ranks and MRR in integer micro-units


def retrieval_scorecard(
    systems: list[tuple[str, DataFrame, str]],
    queries: DataFrame,
    query_id_col: str = "query_id",
    id_col: str = "doc_id",
) -> DataFrame:
    """Retrieval-QA scorecard — MRR and hit-rate of several ranked-list
    systems against a self-relevance ground truth (the relevant doc for
    query q IS doc q — the alignment the synthetic query sets are built
    on): one row per system, ``(system, n_queries, hits, mrr_micro)``.

    ``systems`` is ``[(name, ranked_df, rank_col)]`` where ``ranked_df``
    has (query_id_col, id_col, rank_col).  Reciprocal ranks live in
    integer micro-units (``MRR_SCALE div rank``), the mean is one
    integer division by the FULL query count (misses contribute 0), so
    both engines agree bit-for-bit.

    Scale shape: each system's list is |queries|·k rows; the relevant
    hit per query is found by one equi-join on (query, doc) against the
    query set, then everything collapses in one combinable aggregate.

    Raises ``ValueError`` on an empty query set: its MRR is undefined,
    and a NULL (or missing) scorecard row would read as a silent zero.
    """
    q = queries.select(F.col(query_id_col).alias("_q"))
    n_q = q.count()
    if n_q == 0:
        raise ValueError("retrieval_scorecard: empty query set, MRR is undefined")
    parts = []
    for name, df, rank_col in systems:
        hit = df.filter(F.col(query_id_col) == F.col(id_col)).select(
            F.col(query_id_col).alias("_q"),
            F.col(rank_col).cast("long").alias("_rank"),
        )
        parts.append(
            q.join(hit, "_q", "left").select(
                F.lit(name).alias("system"),
                F.coalesce(
                    F.expr(f"CAST({MRR_SCALE} div _rank AS BIGINT)"), F.lit(0)
                ).alias("_rr"),
                F.when(F.col("_rank").isNotNull(), 1)
                .otherwise(0)
                .cast("long")
                .alias("_hit"),
            )
        )
    from functools import reduce

    unioned = reduce(lambda a, b: a.unionByName(b), parts)
    return unioned.groupBy("system").agg(
        F.lit(int(n_q)).cast("long").alias("n_queries"),
        F.sum("_hit").cast("long").alias("hits"),
        F.expr(f"CAST(sum(_rr) div {int(n_q)} AS BIGINT)").alias("mrr_micro"),
    )


def retrieval_scorecard_sql(
    systems: list[tuple[str, str, str]],
    queries_sql: str,
    query_id_col: str = "query_id",
    id_col: str = "doc_id",
) -> str:
    """DuckDB mirror: ``systems`` is ``[(name, list_sql, rank_col)]``;
    ``queries_sql`` yields one ``{query_id_col}`` column."""
    parts = []
    for name, sql, rank_col in systems:
        parts.append(f"""
        SELECT '{name}' AS system,
               coalesce(CAST({MRR_SCALE} // h._rank AS BIGINT), 0) AS _rr,
               CASE WHEN h._rank IS NOT NULL THEN 1 ELSE 0 END AS _hit
        FROM qset q LEFT JOIN (
          SELECT {query_id_col} AS _q, CAST({rank_col} AS BIGINT) AS _rank
          FROM ({sql}) WHERE {query_id_col} = {id_col}
        ) h ON h._q = q._q""")
    unions = "\n        UNION ALL ".join(parts)
    return f"""
    WITH qset AS (SELECT {query_id_col} AS _q FROM ({queries_sql})),
    nq AS (SELECT count(*) AS n FROM qset),
    u AS (
      {unions}
    )
    SELECT system,
           CAST((SELECT n FROM nq) AS BIGINT) AS n_queries,
           CAST(sum(_hit) AS BIGINT) AS hits,
           CAST(sum(_rr) // (SELECT n FROM nq) AS BIGINT) AS mrr_micro
    FROM u GROUP BY system
    """
