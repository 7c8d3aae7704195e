"""Deduplication operators for large-scale corpus pipelines.

Exact dedup here; near-duplicate families (MinHash+LSH, SimHash, n-gram
Jaccard, embedding cosine/ANN) live in :mod:`.similarity` — all
shuffle-native DataFrame plans, no Python on executors.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import normalize_text, shingles_or_whole


def content_key(c) -> Column:
    """md5 of normalized text — the exact-dedup grouping key.  Hashing
    first means the shuffle moves 32-byte keys, not document bodies."""
    return F.md5(normalize_text(c).cast("binary"))


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep one row per distinct normalized text (the minimum id wins, so
    the result is deterministic).  Plan: hash -> groupBy(key) -> min(id),
    one shuffle on the 128-bit key with map-side combine; at 100 TB this
    is the standard content-addressed dedup and AQE handles key skew
    (e.g. boilerplate duplicated millions of times).
    """
    keyed = df.withColumn("__key", content_key(F.col(text_col)))
    keep = keyed.groupBy("__key").agg(F.min(id_col).alias(id_col))
    return (
        keep.join(keyed, [id_col, "__key"], "inner")
        .drop("__key")
        .select(*df.columns)
    )


def dedup_stats(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Aggregate view of exact dedup: one row per distinct content with the
    kept id and the duplicate-cluster size."""
    keyed = df.withColumn("content_key", content_key(F.col(text_col)))
    return keyed.groupBy("content_key").agg(
        F.min(id_col).alias("keep_id"),
        F.count(F.lit(1)).alias("cluster_size"),
    )


def duplicate_token_spans(
    df: DataFrame, text_col: str, id_col: str, k: int = 3,
    hash_keys: bool = False,
) -> DataFrame:
    """(id, span_start, span_end, n_tokens) — maximal cross-document
    duplicated token spans per document: every run of tokens covered by
    k-token shingles that also occur in at least one *other* document,
    with overlapping/adjacent shingle hits merged into one interval
    (1-based inclusive token positions).

    This is the span-level form of exact-substring dedup (Lee et al.
    2022, "Deduplicating Training Data Makes Language Models Better",
    arXiv:2107.06499) re-expressed relationally instead of via a suffix
    array: positioned shingles -> global document-frequency ->
    gaps-and-islands merge, integer-only output (no float drift class
    at all).  The merge window is per-document and therefore
    embarrassingly parallel; at 100 TB the df relation is the thing to
    stage/Bloom-filter.

    ``hash_keys``: by default the df shuffle keys on the raw shingle
    strings — strictly exact (no collision class) and measurably faster
    locally (md5-per-position dominates the string-shuffle cost at
    these sizes).  Set ``True`` to key on 60-bit md5 hashes instead:
    ~8 bytes/key in the shuffle versus tens, which wins once network
    bytes — not hash CPU — are the bottleneck, at the price of a
    ~n²/2⁶⁰ false-merge probability.
    """
    from pyspark.sql import Window

    from .similarity import hash60  # noqa: PLC0415

    sh = shingles_or_whole(text_col)
    toks = df.select(
        F.col(id_col),
        (F.transform(sh, hash60) if hash_keys else sh).alias("hs"),
    )
    # shingles_or_whole already yields one k-gram per starting position
    # for k=3 (SHINGLE_WORDS); positions are 1-based
    pos = toks.select(
        F.col(id_col), F.posexplode("hs").alias("p0", "h")
    ).select(F.col(id_col), (F.col("p0") + 1).alias("s"), "h")
    dfreq = pos.groupBy("h").agg(
        F.countDistinct(id_col).alias("ndocs")
    )
    hits = (
        pos.join(dfreq.where(F.col("ndocs") > 1).select("h"), "h")
        .select(F.col(id_col), "s", (F.col("s") + k - 1).alias("e"))
    )
    w = Window.partitionBy(id_col).orderBy("s")
    flagged = hits.withColumn(
        "is_new",
        F.when(
            F.lag("e").over(w).isNull() | (F.col("s") > F.lag("e").over(w) + 1),
            1,
        ).otherwise(0),
    ).withColumn(
        "island",
        F.sum("is_new").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return flagged.groupBy(id_col, "island").agg(
        F.min("s").alias("span_start"),
        F.max("e").alias("span_end"),
        (F.max("e") - F.min("s") + 1).alias("n_tokens"),
    ).select(id_col, "span_start", "span_end", "n_tokens")


def duplicate_token_spans_oracle_sql(k: int = 3) -> str:
    """DuckDB mirror of :func:`duplicate_token_spans` with the default
    raw-string df keys (same shingling as similarity's ``_sig_cte``,
    same lag-based islands merge)."""
    from .similarity import _NORM_SQL, _TOKS_SQL  # noqa: PLC0415

    return f"""
WITH t AS (SELECT doc_id, {_NORM_SQL} AS norm, {_TOKS_SQL} AS toks FROM documents),
sh AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= {k}
              THEN list_transform(generate_series(1, len(toks) - {k - 1}),
                                  i -> array_to_string(toks[i:i+{k - 1}], ' '))
              ELSE [norm] END AS shingles
  FROM t
),
pos AS (
  SELECT doc_id, u.s AS s, u.sh AS h FROM (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, len(shingles)),
                                 i -> struct_pack(s := i, sh := shingles[i]))) AS u
    FROM sh
  )
),
dfreq AS (SELECT h FROM pos GROUP BY h HAVING count(DISTINCT doc_id) > 1),
hits AS (
  SELECT pos.doc_id, pos.s, pos.s + {k - 1} AS e
  FROM pos JOIN dfreq USING (h)
),
flagged AS (
  SELECT doc_id, s, e,
         CASE WHEN lag(e) OVER w IS NULL OR s > lag(e) OVER w + 1
              THEN 1 ELSE 0 END AS is_new
  FROM hits
  WINDOW w AS (PARTITION BY doc_id ORDER BY s)
),
islands AS (
  SELECT doc_id, s, e,
         sum(is_new) OVER (PARTITION BY doc_id ORDER BY s
                           ROWS UNBOUNDED PRECEDING) AS island
  FROM flagged
)
SELECT doc_id, min(s) AS span_start, max(e) AS span_end,
       (max(e) - min(s) + 1) AS n_tokens
FROM islands GROUP BY doc_id, island
"""
