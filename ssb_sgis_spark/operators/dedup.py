"""Deduplication operators for web-scale text corpora.

The training-data-pipeline layer of the engine (BASELINE.json payload =
webtext): exact dedup, MinHash + LSH near-dup, and SimHash — all as
NATIVE Spark column expressions (md5 / array lambdas, whole-stage
codegen; zero Python in the row path) with exact DuckDB SQL mirrors.

Scale design:
* exact dedup       — one groupBy(md5(text)) shuffle with map-side combine
* minhash signature — computed per row with NO shuffle (array_min over the
  shingle array per hash seed); only the band-bucket self-join shuffles,
  on short band-key strings
* simhash           — explode(tokens) + one groupBy(doc) sum per bit
* banding           — a doc with B bands emits B rows; candidate pairs are
  an equi-join on the band key.  Hot buckets (boilerplate text) are the
  skew case — cap bucket width or salt, same policy as hot cells.

MinHash values are md5 hex strings compared lexicographically — identical
total order in Spark and DuckDB, so signatures match byte-for-byte with
no integer-conversion trickery.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_N_HASHES = 16
DEFAULT_SHINGLE_K = 3
DEFAULT_BANDS = 4  # 4 bands x 4 rows


# ------------------------------------------------------------- exact dedup
def dedupe_exact(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact duplicate groups: (text_hash, doc_id_kept = min id, n_copies).
    Hash-groupBy with map-side partial agg — one shuffle on the hash."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(
            F.min(id_col).alias("doc_id_kept"),
            F.count("*").alias("n_copies"),
        )
    )


def dedupe_exact_sql(rel: str, id_col: str = "doc_id", text_col: str = "text") -> str:
    return f"""
    SELECT md5({text_col}) AS text_hash,
           min({id_col}) AS doc_id_kept,
           count(*) AS n_copies
    FROM {rel} GROUP BY md5({text_col})
    """


_NORM_STRIP = "[^a-z0-9 ]"
_NORM_WS = "  *"


def normalize_text_col(text: Column) -> Column:
    """C4/Gopher-style dedup normalization: lowercase, strip
    non-alphanumerics, collapse whitespace, trim — so trivial formatting
    variants (casing, punctuation, spacing) collapse to one key.  Pure
    RE2-compatible regexp chain, byte-identical in the DuckDB mirror
    (the pii_redact discipline)."""
    s = F.lower(text)
    s = F.regexp_replace(s, _NORM_STRIP, " ")
    s = F.regexp_replace(s, _NORM_WS, " ")
    return F.trim(s)


def normalize_text_sql(t: str = "text") -> str:
    return (
        f"trim(regexp_replace(regexp_replace(lower({t}), "
        f"'{_NORM_STRIP}', ' ', 'g'), '{_NORM_WS}', ' ', 'g'))"
    )


def dedupe_normalized(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact dedup over NORMALIZED text — catches the reformatted
    copies raw-hash dedup misses: ``(norm_hash, doc_id_kept = min id,
    n_copies, n_raw_variants = distinct raw hashes in the group)``.
    Same one-shuffle hash-groupBy shape as :func:`dedupe_exact`; the
    normalization itself is map-only."""
    return (
        df.groupBy(F.md5(normalize_text_col(F.col(text_col))).alias("norm_hash"))
        .agg(
            F.min(id_col).alias("doc_id_kept"),
            F.count("*").alias("n_copies"),
            F.countDistinct(F.md5(F.col(text_col))).alias("n_raw_variants"),
        )
    )


def dedupe_normalized_sql(
    rel: str, id_col: str = "doc_id", text_col: str = "text"
) -> str:
    n = normalize_text_sql(text_col)
    return f"""
    SELECT md5({n}) AS norm_hash,
           min({id_col}) AS doc_id_kept,
           CAST(count(*) AS BIGINT) AS n_copies,
           CAST(count(DISTINCT md5({text_col})) AS BIGINT) AS n_raw_variants
    FROM {rel} GROUP BY 1
    """


# ----------------------------------------------------------------- minhash
def shingle_seq_col(text: Column, k: int = DEFAULT_SHINGLE_K) -> Column:
    """Positional (non-distinct) k-shingle SEQUENCE, shingle i starting
    at token i+1.  Built as a zip_with chain over k shifted slices:
    HOF lambdas are interpreted, so per-ELEMENT work must be tiny — a
    2-string concat here, vs the slice+concat_ws-per-shingle variant
    (3.5x slower: a k-array allocation per shingle) or element_at
    lookups inside the lambda (catastrophic: the split() subtree is
    re-evaluated per element, O(tokens²) per document — measured 9 s →
    31 s on sf0.1's longer documents before this was caught)."""
    toks = F.split(text, " ")
    n = F.size(toks)
    m = n - (k - 1)
    sh = F.slice(toks, 1, m)
    for j in range(1, k):
        sh = F.zip_with(
            sh, F.slice(toks, j + 1, m), lambda a, b: F.concat(a, F.lit(" "), b)
        )
    return F.when(n >= k, sh).otherwise(F.array().cast("array<string>"))


def shingles_col(text: Column, k: int = DEFAULT_SHINGLE_K) -> Column:
    return F.array_distinct(shingle_seq_col(text, k))


def shingles_sql(t: str = "text", k: int = DEFAULT_SHINGLE_K) -> str:
    toks = f"string_split({t}, ' ')"
    return (
        f"list_distinct(list_transform(range(1, len({toks}) - {k - 2}), "
        f"i -> array_to_string(list_slice({toks}, i, i + {k - 1}), ' ')))"
    )


def minhash_sql_exprs(t: str = "text", n_hashes: int = DEFAULT_N_HASHES, k: int = DEFAULT_SHINGLE_K) -> list[str]:
    sh = shingles_sql(t, k)
    return [
        f"list_min(list_transform({sh}, s -> md5('{seed}:' || s))) AS mh{seed}"
        for seed in range(n_hashes)
    ]


def minhash_array_col(
    text: Column, n_hashes: int = DEFAULT_N_HASHES, k: int = DEFAULT_SHINGLE_K
) -> Column:
    """All n minhashes as ONE array expression.

    Critical: the shingle subexpression appears exactly once in the tree.
    Building n separate columns inlines it n times (CollapseProject), the
    generated code leaves whole-stage codegen, and evaluation goes
    interpreted — measured minutes instead of seconds at sf0.1."""
    sh = shingles_col(text, k)
    seeds = F.array(*[F.lit(f"{s}:") for s in range(n_hashes)])
    return F.transform(
        seeds, lambda s: F.array_min(F.transform(sh, lambda x: F.md5(F.concat(s, x))))
    )


def minhash_long(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = DEFAULT_N_HASHES,
    k: int = DEFAULT_SHINGLE_K,
) -> DataFrame:
    """(id, _seed, _mh) long-format signatures — the relational core.

    The exploded shingles are repartitioned before the seed fan-out: the
    shingle construction is a higher-order-function expression, and when
    fused into the md5+agg stage the whole pipeline falls out of codegen
    (interpreted eval, ~30x slower measured).  The exchange isolates the
    HOF in its own map stage AND spreads the hash work evenly."""
    ex = df.select(
        F.col(id_col), F.explode(shingles_col(F.col(text_col), k)).alias("_sh")
    )
    ex = ex.repartition(df.sparkSession.sparkContext.defaultParallelism)
    seeds = F.array(*[F.lit(s) for s in range(n_hashes)])
    seeded = ex.select(
        F.col(id_col), F.explode(seeds).alias("_seed"), F.col("_sh")
    )
    hashed = seeded.select(
        F.col(id_col),
        F.col("_seed"),
        F.md5(F.concat(F.col("_seed").cast("string"), F.lit(":"), F.col("_sh"))).alias(
            "_h"
        ),
    )
    return hashed.groupBy(id_col, "_seed").agg(F.min("_h").alias("_mh"))


def band_keys(
    sig_long: DataFrame,
    id_col: str = "doc_id",
    n_hashes: int = DEFAULT_N_HASHES,
    bands: int = DEFAULT_BANDS,
    bucket_cap: int | None = 10_000,
) -> DataFrame:
    """(id, band_key) rows from LONG signatures — the shared banding
    step of :func:`lsh_candidate_pairs` and :func:`dedup_against`.
    Lambda-free (string sort + concat) so the stage stays in codegen;
    ``bucket_cap`` drops mega-buckets (see lsh_candidate_pairs)."""
    from pyspark.sql.window import Window

    rows = n_hashes // bands
    tagged = sig_long.select(
        F.col(id_col),
        (F.col("_seed") / rows).cast("int").alias("_band"),
        F.concat(
            F.lpad(F.col("_seed").cast("string"), 2, "0"), F.lit("~"), F.col("_mh")
        ).alias("_t"),
    )
    banded = tagged.groupBy(id_col, "_band").agg(
        F.concat_ws("|", F.array_sort(F.collect_list("_t"))).alias("_body")
    ).select(
        F.col(id_col),
        F.concat(F.col("_band").cast("string"), F.lit("|"), F.col("_body")).alias(
            "band_key"
        ),
    )
    if bucket_cap is not None:
        w = Window.partitionBy("band_key")
        banded = (
            banded.withColumn("_bn", F.count("*").over(w))
            .filter(F.col("_bn") <= bucket_cap)
            .drop("_bn")
        )
    return banded


def lsh_candidate_pairs(
    sig_long: DataFrame,
    id_col: str = "doc_id",
    n_hashes: int = DEFAULT_N_HASHES,
    bands: int = DEFAULT_BANDS,
    bucket_cap: int | None = 10_000,
) -> DataFrame:
    """Distinct (a < b) pairs sharing at least one LSH band.

    Input is the LONG signature format (id, _seed, _mh); band keys are a
    lambda-free groupBy (string sort + concat) so everything stays in
    codegen.  Two docs share a band key iff their `rows` minhashes of that
    band are all equal — the canonical banding condition.

    ``bucket_cap`` is the skew policy for web-scale corpora: a boilerplate
    band key with m members would emit m^2 candidate pairs (a 10^6-doc
    bucket -> 10^12 pairs — one task, fatal).  Buckets wider than the cap
    are DROPPED from candidate generation: counting members is a linear
    window over the band shuffle, so the quadratic blow-up is bounded by
    cap^2 per bucket.  Boilerplate this common is exact-dup territory
    (dedupe_exact) rather than near-dup; pass ``bucket_cap=None`` to
    disable.  Standard practice in production MinHash dedup pipelines."""
    banded = band_keys(sig_long, id_col, n_hashes, bands, bucket_cap)
    other = banded.select(F.col(id_col).alias("_b"), "band_key")
    return (
        banded.join(other, "band_key")
        .filter(F.col(id_col) < F.col("_b"))
        .select(F.col(id_col).alias("a"), F.col("_b").alias("b"))
        .distinct()
    )


def near_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = DEFAULT_N_HASHES,
    bands: int = DEFAULT_BANDS,
    k: int = DEFAULT_SHINGLE_K,
) -> DataFrame:
    """MinHash-LSH near-duplicate pairs with exact shingle-Jaccard verify:
    (a, b, inter_n, union_n) — integer counts, so the oracle compare is
    exact.  shingle→minhash→band→bucket-join→verify, the canonical
    pipeline."""
    # spread the signature computation over all cores (small doc tables
    # otherwise sit in a handful of partitions)
    df = df.repartition(
        df.sparkSession.sparkContext.defaultParallelism, id_col
    )
    sig = minhash_long(df, id_col, text_col, n_hashes, k)
    pairs = lsh_candidate_pairs(sig, id_col, n_hashes, bands)
    # same stage-isolation trick for the verify branch's shingle arrays
    sh = df.select(
        F.col(id_col), shingles_col(F.col(text_col), k).alias("_sh")
    ).repartition(df.sparkSession.sparkContext.defaultParallelism, id_col)
    a_sh = sh.select(F.col(id_col).alias("a"), F.col("_sh").alias("_sha"))
    b_sh = sh.select(F.col(id_col).alias("b"), F.col("_sh").alias("_shb"))
    return (
        pairs.join(a_sh, "a")
        .join(b_sh, "b")
        .select(
            "a",
            "b",
            F.size(F.array_intersect("_sha", "_shb")).cast("long").alias("inter_n"),
            F.size(F.array_union("_sha", "_shb")).cast("long").alias("union_n"),
        )
    )


def near_dup_pairs_sql(
    rel: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = DEFAULT_N_HASHES,
    bands: int = DEFAULT_BANDS,
    k: int = DEFAULT_SHINGLE_K,
) -> str:
    rows = n_hashes // bands
    mh = ", ".join(minhash_sql_exprs(text_col, n_hashes, k))
    band_exprs = ", ".join(
        "concat_ws('|', '%d', %s)" % (b, ", ".join(f"mh{b * rows + r}" for r in range(rows)))
        for b in range(bands)
    )
    sh = shingles_sql(text_col, k)
    return f"""
    WITH sig AS (SELECT {id_col}, {mh} FROM {rel}),
    banded AS (
      SELECT {id_col}, unnest([{band_exprs}]) AS band_key FROM sig
    ),
    pairs AS (
      SELECT DISTINCT x.{id_col} AS a, y.{id_col} AS b
      FROM banded x JOIN banded y ON x.band_key = y.band_key
      WHERE x.{id_col} < y.{id_col}
    ),
    sh AS (SELECT {id_col}, {sh} AS shset FROM {rel})
    SELECT p.a, p.b,
           CAST(len(list_intersect(sa.shset, sb.shset)) AS BIGINT) AS inter_n,
           CAST(len(list_distinct(list_concat(sa.shset, sb.shset))) AS BIGINT) AS union_n
    FROM pairs p
    JOIN sh sa ON sa.{id_col} = p.a
    JOIN sh sb ON sb.{id_col} = p.b
    """


# ------------------------------------------------------------- containment
def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = DEFAULT_SHINGLE_K,
    threshold: tuple[int, int] = (9, 10),
    gram_cap: int = 100,
) -> DataFrame:
    """Asymmetric shingle-containment pairs — the quote/inclusion
    detector Jaccard misses: a short document pasted inside a long one
    has low Jaccard (the union is big) but containment
    ``|S(inner) ∩ S(outer)| / |S(inner)|`` near 1 (Broder 1997's
    containment coefficient).  Returns ordered rows
    ``(inner_id, outer_id, n_shared, n_inner)`` where
    ``n_shared / n_inner >= threshold`` (compared by integer
    cross-multiplication — no float division anywhere).

    Scale shape (10^12 docs):
    * distinct-shingle hashes explode map-only to ``(id, h)``; gram TEXT
      never shuffles (md5 only);
    * the self-join runs on the gram hash, with grams present in more
      than ``gram_cap`` documents DROPPED first (one combinable count —
      the same boilerplate policy as LSH ``bucket_cap``: a gram shared
      by m docs emits m² pairs, and grams that common are boilerplate,
      not quotation);
    * per-document shingle counts are computed MAP-ONLY from the
      shingle array (no extra shuffle) and joined onto the
      pair-intersection aggregate.
    """
    num, den = int(threshold[0]), int(threshold[1])
    sh = df.select(
        F.col(id_col), shingles_col(F.col(text_col), k).alias("_sh")
    ).repartition(df.sparkSession.sparkContext.defaultParallelism, id_col)
    # 16 hex chars (64 bits) — the hash is an internal join key only,
    # and halving it halves the bytes the self-join shuffles
    grams = sh.select(
        F.col(id_col), F.explode("_sh").alias("_g")
    ).select(id_col, F.substring(F.md5("_g"), 1, 16).alias("h"))
    rare = (
        grams.groupBy("h")
        .agg(F.count("*").alias("_docs"))
        .filter(F.col("_docs") <= gram_cap)
        .select("h")
    )
    g = grams.join(rare, "h")
    inter = (
        g.join(g.select(F.col(id_col).alias("_b"), "h"), "h")
        .filter(F.col(id_col) != F.col("_b"))
        .groupBy(F.col(id_col).alias("inner_id"), F.col("_b").alias("outer_id"))
        .agg(F.count("*").cast("long").alias("n_shared"))
    )
    sizes = sh.select(
        F.col(id_col).alias("inner_id"), F.size("_sh").cast("long").alias("n_inner")
    ).filter(F.col("n_inner") > 0)
    return inter.join(sizes, "inner_id").filter(
        F.col("n_shared") * den >= F.col("n_inner") * num
    )


def containment_pairs_sql(
    rel: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = DEFAULT_SHINGLE_K,
    threshold: tuple[int, int] = (9, 10),
    gram_cap: int = 100,
) -> str:
    """DuckDB mirror: same distinct shingles, same gram cap, same
    integer cross-multiplied threshold."""
    num, den = int(threshold[0]), int(threshold[1])
    sh = shingles_sql(text_col, k)
    return f"""
    WITH sh AS (SELECT {id_col}, {sh} AS shset FROM {rel}),
    grams AS (SELECT {id_col}, substring(md5(unnest(shset)), 1, 16) AS h FROM sh),
    rare AS (SELECT h FROM grams GROUP BY h HAVING count(*) <= {gram_cap}),
    g AS (SELECT grams.* FROM grams JOIN rare USING (h)),
    inter AS (
      SELECT x.{id_col} AS inner_id, y.{id_col} AS outer_id,
             CAST(count(*) AS BIGINT) AS n_shared
      FROM g x JOIN g y ON x.h = y.h
      WHERE x.{id_col} != y.{id_col}
      GROUP BY 1, 2
    ),
    sizes AS (SELECT {id_col} AS inner_id, CAST(len(shset) AS BIGINT) AS n_inner
              FROM sh WHERE len(shset) > 0)
    SELECT i.inner_id, i.outer_id, i.n_shared, s.n_inner
    FROM inter i JOIN sizes s USING (inner_id)
    WHERE i.n_shared * {den} >= s.n_inner * {num}
    """


# ----------------------------------------------------------------- simhash
def simhash_df(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """64-bit SimHash per document as two bigints (hi = bits 63..32,
    lo = 31..0).  explode(tokens) → md5 hex → per-hex-digit bit sums →
    one groupBy(doc) — all native expressions."""
    tok = df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("_t")
    ).select(F.col(id_col), F.md5(F.col("_t")).alias("_h"))
    digit_cols = []
    for p in range(16):
        # hex digit -> 0..15 (conv parses the hex char; DuckDB mirror uses
        # strpos in a lookup string — same integers)
        d = F.conv(F.substring("_h", p + 1, 1), 16, 10).cast("int")
        digit_cols.append(d.alias(f"_d{p}"))
    tok = tok.select(id_col, *digit_cols)
    aggs = []
    for bit in range(64):
        p, shift = divmod(bit, 4)
        b = F.shiftright(F.col(f"_d{p}"), 3 - shift).bitwiseAND(F.lit(1))
        aggs.append(F.sum(b * 2 - 1).alias(f"_s{bit}"))
    sums = tok.groupBy(id_col).agg(*aggs)
    hi = F.lit(0).cast("long")
    lo = F.lit(0).cast("long")
    for bit in range(64):
        one = F.when(F.col(f"_s{bit}") > 0, F.lit(1)).otherwise(F.lit(0)).cast("long")
        if bit < 32:
            lo = lo + F.shiftleft(one, bit)
        else:
            hi = hi + F.shiftleft(one, bit - 32)
    return sums.select(F.col(id_col), hi.alias("simhash_hi"), lo.alias("simhash_lo"))


def simhash_sql(rel: str, id_col: str = "doc_id", text_col: str = "text") -> str:
    digits = ", ".join(
        f"strpos('0123456789abcdef', substr(h, {p + 1}, 1)) - 1 AS d{p}"
        for p in range(16)
    )
    sums = ", ".join(
        "sum(((d%d >> %d) & 1) * 2 - 1) AS s%d" % (divmod(bit, 4)[0], 3 - divmod(bit, 4)[1], bit)
        for bit in range(64)
    )
    lo = " + ".join(
        f"(CASE WHEN s{bit} > 0 THEN CAST(1 AS BIGINT) << {bit} ELSE 0 END)"
        for bit in range(32)
    )
    hi = " + ".join(
        f"(CASE WHEN s{bit} > 0 THEN CAST(1 AS BIGINT) << {bit - 32} ELSE 0 END)"
        for bit in range(32, 64)
    )
    return f"""
    WITH tok AS (
      SELECT {id_col}, md5(unnest(string_split({text_col}, ' '))) AS h FROM {rel}
    ),
    dig AS (SELECT {id_col}, {digits} FROM tok),
    sums AS (SELECT {id_col}, {sums} FROM dig GROUP BY {id_col})
    SELECT {id_col}, {hi} AS simhash_hi, {lo} AS simhash_lo FROM sums
    """


# --------------------------------------------------------- dup groups (CC)
def minhash_dup_groups(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    tau_num: int = 1,
    tau_den: int = 2,
    n_hashes: int = DEFAULT_N_HASHES,
    bands: int = DEFAULT_BANDS,
    k: int = DEFAULT_SHINGLE_K,
) -> DataFrame:
    """Near-duplicate GROUPS over the MinHash-LSH pair graph — the
    canonical fuzzy-dedup output a web corpus actually applies (keep one
    representative per group, CCNet/Dolma-style), transitive by
    construction: A≈B≈C lands in one group even when A-C alone is below
    threshold.

    Edges are pairs with exact shingle-Jaccard >= tau_num/tau_den
    (integer cross-multiply ``inter * den >= union * num`` — no float
    division, so the SQL mirror agrees bit-for-bit); the distributed
    hash-min connected-components operator labels every document with
    its group's min id (singletons label themselves).  Scale shape: LSH
    banding bounds the pair graph, CC is O(log diameter) rounds of
    shuffles on ids only.
    """
    from .clusters import connected_components

    pairs = near_dup_pairs(df, id_col, text_col, n_hashes, bands, k)
    edges = pairs.filter(
        F.col("inter_n") * tau_den >= F.col("union_n") * tau_num
    ).selectExpr("a as src", "b as dst")
    comp = connected_components(
        edges, df.select(id_col), id_col=id_col, component_col="grp"
    )
    return (
        df.select(id_col)
        .join(comp, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("grp"), F.col(id_col)).alias("grp"),
        )
    )


def minhash_dup_groups_sql(
    rel: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    tau_num: int = 1,
    tau_den: int = 2,
    n_hashes: int = DEFAULT_N_HASHES,
    bands: int = DEFAULT_BANDS,
    k: int = DEFAULT_SHINGLE_K,
) -> str:
    """DuckDB mirror: recursive-CTE label propagation over the SAME pair
    SQL as the ``near_dup`` oracle, thresholded with the SAME integer
    cross-multiplication."""
    nd = near_dup_pairs_sql(rel, id_col, text_col, n_hashes, bands, k)
    return f"""
    WITH RECURSIVE nd AS (
      SELECT * FROM ({nd})
    ),
    edges AS (
      SELECT a AS u, b AS v FROM nd
      WHERE inter_n * {tau_den} >= union_n * {tau_num}
    ),
    sym AS (SELECT u, v FROM edges UNION SELECT v AS u, u AS v FROM edges),
    cc(vid, lbl) AS (
      SELECT {id_col}, {id_col} FROM {rel}
      UNION
      SELECT s.u, c.lbl FROM sym s JOIN cc c ON c.vid = s.v
    )
    SELECT vid AS {id_col}, CAST(min(lbl) AS BIGINT) AS grp FROM cc GROUP BY vid
    """


# ------------------------------------------------- paragraph-level dedup
def dedup_paragraphs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 10,
) -> DataFrame:
    """CCNet-style sub-document dedup: drop every repeated chunk except
    its FIRST occurrence (min ``(doc_id, pos)`` over the whole corpus),
    then reassemble each document from its surviving chunks.

    Chunks are fixed windows of ``chunk_tokens`` whitespace tokens (a
    corpus with real paragraph breaks would split on the delimiter
    instead; the chunking is a native expression either way).  Returns
    ``(id_col, text, n_kept)`` for EVERY input document — a doc whose
    chunks were all seen earlier comes back with empty text and
    ``n_kept = 0``.

    Scale shape:
    * chunking is map-only (``transform`` over a ``sequence`` — no
      explode until the chunk rows are needed);
    * the winner-per-chunk agg shuffles ``(md5, id, pos)`` ONLY — never
      chunk text — and the map-side partial ``min`` makes a boilerplate
      chunk duplicated across millions of docs a non-event (vs a window
      over the hash, which would drag every copy to one partition);
    * the join back to chunk rows is an equi-join on the hash (AQE
      handles residual skew), then one groupBy(doc) to reassemble.
    """
    w = int(chunk_tokens)
    toks = F.split(F.col(text_col), " ")
    n_chunks = F.ceil(F.size(toks) / F.lit(float(w))).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.array_join(F.slice(toks, i * w + 1, w), " "),
    )
    exploded = (
        df.select(F.col(id_col), F.posexplode(chunks).alias("pos", "chunk"))
        .withColumn("h", F.md5(F.col("chunk")))
    )
    winners = exploded.groupBy("h").agg(
        F.min(F.struct(F.col(id_col), F.col("pos"))).alias("first")
    )
    kept = (
        exploded.join(winners, "h")
        .filter(
            (F.col(id_col) == F.col("first")[id_col])
            & (F.col("pos") == F.col("first")["pos"])
        )
        .select(id_col, "pos", "chunk")
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "chunk"))),
                lambda s: s["chunk"],
            ),
            " ",
        ).alias("text"),
        F.count("*").alias("n_kept"),
    )
    return (
        df.select(id_col)
        .join(rebuilt, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("text"), F.lit("")).alias("text"),
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
        )
    )


def dedup_paragraphs_sql(
    rel: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 10,
) -> str:
    """DuckDB mirror: same chunking arithmetic, ``row_number() OVER
    (PARTITION BY chunk hash ORDER BY doc, pos) = 1`` as the
    first-occurrence rule (≡ the Spark min-struct), ``string_agg``
    ordered by pos to reassemble."""
    w = int(chunk_tokens)
    return f"""
    WITH src AS (SELECT {id_col}, {text_col} AS text FROM {rel}),
    toks AS (SELECT {id_col}, string_split(text, ' ') AS t FROM src),
    ch AS (
        SELECT {id_col}, CAST(i AS INT) AS pos,
               array_to_string(list_slice(t, i*{w}+1, i*{w}+{w}), ' ') AS chunk
        FROM toks, unnest(range(0, CAST(ceil(len(t)/{float(w)}) AS BIGINT))) r(i)
    ),
    ranked AS (
        SELECT {id_col}, pos, chunk,
               row_number() OVER (
                   PARTITION BY md5(chunk) ORDER BY {id_col}, pos
               ) AS rn
        FROM ch
    ),
    rebuilt AS (
        SELECT {id_col},
               string_agg(chunk, ' ' ORDER BY pos) AS text,
               count(*) AS n_kept
        FROM ranked WHERE rn = 1 GROUP BY {id_col}
    )
    SELECT s.{id_col},
           coalesce(r.text, '') AS text,
           coalesce(r.n_kept, 0) AS n_kept
    FROM src s LEFT JOIN rebuilt r USING ({id_col})
    """


# ------------------------------------------------- exact substring spans
def dup_span_occurrences(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_tokens: int = 8,
) -> DataFrame:
    """Every non-first occurrence of a duplicated ``span_tokens``-word
    window: ``(id_col, pos)`` rows, 1-based word positions.

    The "exact substring dedup" primitive (word-level analogue of the
    suffix-array method of Lee et al. 2022, "Deduplicating Training Data
    Makes Language Models Better"): a window of ``span_tokens``
    consecutive whitespace tokens is a duplicate occurrence iff the same
    token window appears at a strictly smaller ``(doc_id, pos)`` anywhere
    in the corpus.

    Scale shape (mirrors :func:`dedup_paragraphs`):
    * gram enumeration is map-only — one ``transform`` over a
      ``sequence``, exploded to ``(id, pos, md5)`` rows; gram TEXT never
      leaves the map stage, only its 32-byte hash shuffles;
    * the winner agg (``min(struct(id, pos))`` + ``count``) is map-side
      combinable, so a boilerplate gram repeated across millions of docs
      costs one partial row per map task, not a hot window partition;
    * only grams with ``count > 1`` survive to the join-back (in a clean
      corpus that side is tiny), and the join is an equi-join on the
      hash — AQE splits any residual hot hash.
    """
    ln = int(span_tokens)
    toks = F.split(F.col(text_col), " ")
    n = F.size(toks)
    occ = (
        df.filter(n >= ln)
        .select(
            F.col(id_col),
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), n - (ln - 1)),
                    lambda i: F.struct(
                        i.cast("int").alias("pos"),
                        F.md5(F.array_join(F.slice(toks, i, ln), " ")).alias("h"),
                    ),
                )
            ).alias("o"),
        )
        .select(F.col(id_col), F.col("o.pos").alias("pos"), F.col("o.h").alias("h"))
    )
    winners = occ.groupBy("h").agg(
        F.min(F.struct(F.col(id_col), F.col("pos"))).alias("first"),
        F.count("*").alias("c"),
    )
    dup_grams = winners.filter(F.col("c") > 1).select("h", "first")
    return (
        occ.join(dup_grams, "h")
        .filter(
            (F.col(id_col) != F.col("first")[id_col])
            | (F.col("pos") != F.col("first")["pos"])
        )
        .select(id_col, "pos")
    )


def dedup_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_tokens: int = 8,
) -> DataFrame:
    """Merged duplicated-substring spans per document:
    ``(id_col, span_start, span_end, n_words)``, word positions 1-based
    inclusive, all BIGINT.

    Each duplicate occurrence (see :func:`dup_span_occurrences`) covers
    words ``[pos, pos + span_tokens - 1]``; overlapping or adjacent
    covered ranges are merged gaps-and-islands style, so one long
    repeated region reports as ONE span however many grams tile it.

    The merge is one window shuffle partitioned by document — per-doc
    row counts are bounded by the doc's own length, so there is no skew
    surface beyond a single pathological document.
    """
    ln = int(span_tokens)
    from pyspark.sql.window import Window

    d = dup_span_occurrences(df, id_col, text_col, ln).withColumn(
        "e", F.col("pos") + F.lit(ln - 1)
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    prev_end = F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    d = d.withColumn(
        "new_island",
        F.when(prev_end.isNull() | (F.col("pos") > prev_end + 1), 1).otherwise(0),
    )
    d = d.withColumn(
        "island",
        F.sum("new_island").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return d.groupBy(id_col, "island").agg(
        F.min("pos").cast("long").alias("span_start"),
        F.max("e").cast("long").alias("span_end"),
        (F.max("e") - F.min("pos") + 1).cast("long").alias("n_words"),
    ).select(id_col, "span_start", "span_end", "n_words")


def dedup_spans_sql(
    rel: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_tokens: int = 8,
) -> str:
    """DuckDB mirror: same 1-based gram windows; ``row_number() OVER
    (PARTITION BY md5(gram) ORDER BY id, pos) > 1`` is the duplicate
    rule (≡ the Spark min-struct winner), then the same
    gaps-and-islands merge.  All-integer output → bit-exact."""
    ln = int(span_tokens)
    return f"""
    WITH toks AS (
        SELECT {id_col}, string_split({text_col}, ' ') AS t FROM {rel}
    ),
    occ AS (
        SELECT {id_col}, CAST(i AS INT) AS pos,
               md5(array_to_string(list_slice(t, i, i + {ln} - 1), ' ')) AS h
        FROM toks, unnest(range(1, len(t) - {ln} + 2)) r(i)
        WHERE len(t) >= {ln}
    ),
    ranked AS (
        SELECT {id_col}, pos,
               row_number() OVER (
                   PARTITION BY h ORDER BY {id_col}, pos
               ) AS rn
        FROM occ
    ),
    d AS (
        SELECT {id_col}, pos, pos + {ln} - 1 AS e
        FROM ranked WHERE rn > 1
    ),
    m AS (
        SELECT {id_col}, pos, e,
               max(e) OVER (
                   PARTITION BY {id_col} ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS pme
        FROM d
    ),
    isl AS (
        SELECT {id_col}, pos, e,
               sum(CASE WHEN pme IS NULL OR pos > pme + 1 THEN 1 ELSE 0 END)
                   OVER (
                       PARTITION BY {id_col} ORDER BY pos
                       ROWS UNBOUNDED PRECEDING
                   ) AS island
        FROM m
    )
    SELECT {id_col},
           CAST(min(pos) AS BIGINT) AS span_start,
           CAST(max(e) AS BIGINT) AS span_end,
           CAST(max(e) - min(pos) + 1 AS BIGINT) AS n_words
    FROM isl GROUP BY {id_col}, island
    """


def strip_dup_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_tokens: int = 8,
) -> DataFrame:
    """Remove every duplicated span from the text: returns
    ``(id_col, text, n_removed_words)`` for EVERY input document, the
    surviving words re-joined in order.

    A word is removed iff some duplicate occurrence ``pos`` satisfies
    ``pos <= j < pos + span_tokens`` (the covered-word union of
    :func:`dup_span_occurrences`).  The removal filter is a native
    ``filter`` lambda over the token array against the doc's (small,
    collected-per-doc) duplicate-position list — no Python in the path.
    """
    ln = int(span_tokens)
    d = dup_span_occurrences(df, id_col, text_col, ln)
    per_doc = d.groupBy(id_col).agg(
        F.array_sort(F.collect_list("pos")).alias("dps")
    )
    toks = F.split(F.col(text_col), " ")
    joined = df.join(per_doc, id_col, "left").withColumn(
        "dps", F.coalesce(F.col("dps"), F.array().cast("array<int>"))
    )
    kept = F.filter(
        toks,
        lambda tok, j: ~F.exists(
            F.col("dps"),
            lambda p: (p <= j + 1) & (j + 1 < p + ln),
        ),
    )
    return joined.select(
        F.col(id_col),
        F.array_join(kept, " ").alias("text"),
        (F.size(toks) - F.size(kept)).cast("long").alias("n_removed_words"),
    )


# ------------------------------------------- cross-snapshot incremental
def dedup_against(
    new: DataFrame,
    old: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = DEFAULT_N_HASHES,
    bands: int = DEFAULT_BANDS,
    k: int = DEFAULT_SHINGLE_K,
    tau_num: int = 1,
    tau_den: int = 2,
) -> DataFrame:
    """Incremental dedup of a NEW crawl against an EXISTING corpus:
    ``(id_col, dup_kind, matched_old_id)`` for every new doc that
    duplicates an old one — ``dup_kind = 'exact'`` (identical text) or
    ``'near'`` (shares an LSH band with an old doc and shingle-Jaccard
    >= tau_num/tau_den, integer cross-multiplied).  Novel docs emit no
    row; ``matched_old_id`` is the smallest matching old id.

    This is the ingestion-time shape of MinHash dedup at 10^12 docs:
    the old side's signatures/band keys are computed once per snapshot
    (persist them — the operator recomputes here only because the
    sandbox corpus is synthetic) and every new batch probes with an
    equi-join on (md5) and (band_key).  The quadratic self-join of
    :func:`near_dup_pairs` never happens: candidates are new x old
    only, and the same ``bucket_cap`` policy bounds boilerplate bands.
    """
    new_h = new.select(F.col(id_col), F.md5(F.col(text_col)).alias("_h"))
    old_h = old.select(F.col(id_col).alias("_oid"), F.md5(F.col(text_col)).alias("_h"))
    exact = (
        new_h.join(old_h, "_h")
        .groupBy(id_col)
        .agg(F.min("_oid").alias("matched_old_id"))
        .select(id_col, F.lit("exact").alias("dup_kind"), "matched_old_id")
    )

    par = new.sparkSession.sparkContext.defaultParallelism
    nb = band_keys(
        minhash_long(new.repartition(par, id_col), id_col, text_col, n_hashes, k),
        id_col, n_hashes, bands,
    )
    ob = band_keys(
        minhash_long(old.repartition(par, id_col), id_col, text_col, n_hashes, k),
        id_col, n_hashes, bands,
    ).select(F.col(id_col).alias("_oid"), "band_key")
    cand = nb.join(ob, "band_key").select(id_col, "_oid").distinct()

    sh_new = new.select(
        F.col(id_col), shingles_col(F.col(text_col), k).alias("_sha")
    ).repartition(par, id_col)
    sh_old = old.select(
        F.col(id_col).alias("_oid"), shingles_col(F.col(text_col), k).alias("_shb")
    ).repartition(par, "_oid")
    verified = (
        cand.join(sh_new, id_col)
        .join(sh_old, "_oid")
        .withColumn("_i", F.size(F.array_intersect("_sha", "_shb")))
        .withColumn("_u", F.size(F.array_union("_sha", "_shb")))
        .filter(F.col("_i") * tau_den >= F.col("_u") * tau_num)
        .select(id_col, "_oid")
    )
    near = (
        verified.join(exact.select(id_col), id_col, "left_anti")
        .groupBy(id_col)
        .agg(F.min("_oid").alias("matched_old_id"))
        .select(id_col, F.lit("near").alias("dup_kind"), "matched_old_id")
    )
    return exact.unionByName(near)


def dedup_against_sql(
    new_rel: str,
    old_rel: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = DEFAULT_N_HASHES,
    bands: int = DEFAULT_BANDS,
    k: int = DEFAULT_SHINGLE_K,
    tau_num: int = 1,
    tau_den: int = 2,
) -> str:
    """DuckDB mirror: same md5 equi-join, same band keys (identical
    minhash strings), same integer-cross-multiplied Jaccard verify."""
    rows = n_hashes // bands
    mh = ", ".join(minhash_sql_exprs(text_col, n_hashes, k))
    band_exprs = ", ".join(
        "concat_ws('|', '%d', %s)"
        % (b, ", ".join(f"concat(lpad('{b * rows + r}', 2, '0'), '~', mh{b * rows + r})" for r in range(rows)))
        for b in range(bands)
    )
    sh = shingles_sql(text_col, k)
    return f"""
    WITH exact AS (
      SELECT n.{id_col}, 'exact' AS dup_kind,
             min(o.{id_col}) AS matched_old_id
      FROM {new_rel} n JOIN {old_rel} o ON md5(n.{text_col}) = md5(o.{text_col})
      GROUP BY n.{id_col}
    ),
    nsig AS (SELECT {id_col}, {mh} FROM {new_rel}),
    osig AS (SELECT {id_col}, {mh} FROM {old_rel}),
    nband AS (SELECT {id_col}, unnest([{band_exprs}]) AS band_key FROM nsig),
    oband AS (SELECT {id_col}, unnest([{band_exprs}]) AS band_key FROM osig),
    cand AS (
      SELECT DISTINCT n.{id_col} AS nid, o.{id_col} AS oid
      FROM nband n JOIN oband o USING (band_key)
    ),
    nsh AS (SELECT {id_col}, {sh} AS shset FROM {new_rel}),
    osh AS (SELECT {id_col}, {sh} AS shset FROM {old_rel}),
    near AS (
      SELECT c.nid AS {id_col}, 'near' AS dup_kind, min(c.oid) AS matched_old_id
      FROM cand c
      JOIN nsh ON nsh.{id_col} = c.nid
      JOIN osh ON osh.{id_col} = c.oid
      WHERE len(list_intersect(nsh.shset, osh.shset)) * {int(tau_den)}
            >= len(list_distinct(list_concat(nsh.shset, osh.shset))) * {int(tau_num)}
        AND c.nid NOT IN (SELECT {id_col} FROM exact)
      GROUP BY c.nid
    )
    SELECT * FROM exact UNION ALL SELECT * FROM near
    """
