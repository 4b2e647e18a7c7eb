"""Edit-distance similarity join — PassJoin-style segment filtering.

The fuzzy-join primitive the set-based dedup family (MinHash Jaccard,
SimHash, containment) cannot express: find pairs of strings within
Levenshtein distance ``k`` — near-identical titles, typo'd URLs, OCR'd
headings.  Jaccard treats "the cat sat" vs "the cat sbt" as two shared
tokens out of four; edit distance sees one substitution.

Algorithm (the Pass-Join family, Li/Deng/Wang/Feng VLDB'11): pigeonhole
on SEGMENTS.  Every key (a fixed-length prefix of the string column, so
all keys share one segmentation scheme) is cut into ``k+1`` contiguous
segments; ``lev(s, t) <= k`` implies at least one of s's segments occurs
VERBATIM in t at a position shifted by at most ``k`` (k edits can only
shift unedited characters k positions).  So:

* index side: each key emits its ``k+1`` exact segments keyed by
  ``(segment_id, content)``;
* probe side: each key emits every substring of segment length starting
  within ``±k`` of that segment's home position — at most
  ``(k+1)·(2k+1)`` probe keys per row (15 at k=2), fewer where the
  shift window of an edge segment is clamped to the key; a bounded
  fan-out;
* one equi-join on ``(segment_id, content)`` yields candidates; the
  exact ``levenshtein() <= k`` verify (native JVM expression) runs only
  on candidates, and only id pairs are deduped — strings cross the wire
  inside the candidate rows only.

Scale shape: no all-pairs anything — candidates are bounded by true
near-matches plus segment-content collisions (short segments on skewed
prefixes can explode: a corpus where every title starts "Chapter " puts
every row in one bucket — the same mega-bucket failure LSH banding has,
and the same remedy: ``bucket_cap`` drops segment buckets larger than
the cap, documented as the skew guard, identical in the SQL mirror).

Oracle: the driver pairs this with an INDEPENDENT brute
``cross join + levenshtein`` oracle (no segments) — the filter's
completeness is therefore value-checked, not just unit-tested.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["edit_distance_pairs", "edit_distance_pairs_sql", "segment_scheme"]


def segment_scheme(key_len: int, k: int) -> list[tuple[int, int]]:
    """(start, length) of the ``k+1`` segments of the even-partition
    scheme over a ``key_len``-char key (1-based starts, remainder chars
    go to the trailing segments — the standard Pass-Join split)."""
    n_seg = k + 1
    base = key_len // n_seg
    extra = key_len % n_seg
    out = []
    pos = 1
    for i in range(n_seg):
        ln = base + (1 if i >= n_seg - extra else 0)
        out.append((pos, ln))
        pos += ln
    return out


def edit_distance_pairs(
    df: DataFrame,
    id_col: str,
    str_col: str,
    k: int = 2,
    key_len: int = 24,
    bucket_cap: int | None = 2000,
) -> DataFrame:
    """All pairs ``(a_id, b_id, dist)`` with ``a_id < b_id`` and
    ``levenshtein(key_a, key_b) <= k`` where the key is the first
    ``key_len`` characters of ``str_col`` (fixed-length keys give one
    shared segmentation scheme; rows shorter than ``key_len`` are
    right-padded with NUL — a character real text never contains, so
    padding never manufactures matches between unequal-length keys
    beyond what their true suffix distance is)."""
    key = F.rpad(F.substring(F.col(str_col), 1, key_len), key_len, "\x00")
    base = df.select(F.col(id_col).alias("_id"), key.alias("_k")).filter(
        F.length("_k") > 0
    )
    segs = segment_scheme(key_len, k)

    idx_parts = [
        base.select(
            "_id",
            "_k",
            F.lit(i).alias("_seg"),
            F.substring("_k", p, ln).alias("_c"),
        )
        for i, (p, ln) in enumerate(segs)
    ]
    from functools import reduce

    idx = reduce(lambda a, b: a.unionByName(b), idx_parts)
    if bucket_cap is not None:
        # mega-bucket guard: segment contents shared by more rows than
        # the cap are dropped from the INDEX side (the other k segments
        # of a true pair still reach the join unless every one is hot)
        hot = (
            idx.groupBy("_seg", "_c")
            .agg(F.count("*").alias("_n"))
            .filter(F.col("_n") > int(bucket_cap))
            .select("_seg", "_c")
        )
        idx = idx.join(hot, ["_seg", "_c"], "left_anti")

    probe_parts = []
    for i, (p, ln) in enumerate(segs):
        for start in range(max(1, p - k), min(key_len - ln + 1, p + k) + 1):
            probe_parts.append(
                base.select(
                    F.col("_id").alias("_pid"),
                    F.col("_k").alias("_pk"),
                    F.lit(i).alias("_seg"),
                    F.substring("_pk", start, ln).alias("_c"),
                )
            )
    probe = reduce(lambda a, b: a.unionByName(b), probe_parts)

    cand = (
        idx.join(probe, ["_seg", "_c"])
        .filter(F.col("_id") < F.col("_pid"))
        .select("_id", "_pid", "_k", "_pk")
        .distinct()
    )
    return (
        cand.withColumn("dist", F.levenshtein("_k", "_pk").cast("long"))
        .filter(F.col("dist") <= int(k))
        .select(
            F.col("_id").alias("a_id"), F.col("_pid").alias("b_id"), "dist"
        )
    )


def edit_distance_pairs_sql(
    rel: str,
    id_col: str,
    str_expr: str,
    k: int = 2,
    key_len: int = 24,
) -> str:
    """INDEPENDENT brute-force DuckDB oracle: cross join on id order +
    native ``levenshtein`` — NO segment scheme, so the Spark filter's
    completeness is value-checked by the driver compare."""
    key = f"rpad(substr({str_expr}, 1, {key_len}), {key_len}, chr(0))"
    return f"""
    WITH keyed AS (
      SELECT {id_col} AS kid, {key} AS kk FROM {rel}
      WHERE length({key}) > 0
    )
    SELECT a.kid AS a_id, b.kid AS b_id,
           CAST(levenshtein(a.kk, b.kk) AS BIGINT) AS dist
    FROM keyed a JOIN keyed b ON a.kid < b.kid
    WHERE levenshtein(a.kk, b.kk) <= {int(k)}
    """
