"""Benchmark decontamination: flag training documents that share word
n-grams with an evaluation/benchmark set.

This is the standard eval-contamination check run before LLM training
(n-gram overlap between the training corpus and held-out benchmarks).
The scale shape matters more than the math: the benchmark side is tiny
(megabytes of eval sets) while the training side is the 100 TB corpus, so
the correct plan is

  1. shingle the benchmark set, ``distinct`` it (still tiny),
  2. **broadcast** that shingle set,
  3. stream the corpus through one explode + broadcast-hash semi-join +
     per-doc count — a single shuffle on ``doc_id``, no sort, and the
     corpus text is never moved (only (doc_id, gram) pairs reach the
     join, and only matching pairs reach the aggregate).

No reference analog (the reference ships only aggregate UDFs); this is a
driver-mandated training-pipeline extra (SURVEY.md §2.2b).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import shingles_or_whole
from .similarity import _NORM_SQL, _TOKS_SQL

#: decontamination n-gram width (word n-grams; 5 is a common contamination
#: screen width — wide enough that incidental collisions are rare on real
#: prose, narrow enough to catch paraphrase-free inclusion)
DECONTAM_NGRAM = 5


def ngram_overlap_flags(
    train: DataFrame,
    bench: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = DECONTAM_NGRAM,
) -> DataFrame:
    """(id, n_bench_hits) for every training doc sharing at least one
    word ``n``-gram with the benchmark set.

    ``n_bench_hits`` counts *distinct* benchmark n-grams hit, so a doc
    that repeats one contaminated phrase ten times scores 1, not 10 —
    the quantity a filter thresholds on.
    """
    grams_train = train.select(
        F.col(id_col), F.explode(shingles_or_whole(text_col, n)).alias("gram")
    )
    grams_bench = (
        bench.select(
            F.explode(shingles_or_whole(text_col, n)).alias("gram")
        ).distinct()
    )
    return (
        grams_train.join(F.broadcast(grams_bench), "gram")
        .groupBy(id_col)
        .agg(F.count_distinct("gram").alias("n_bench_hits"))
    )


def ngram_overlap_oracle_sql(
    bench_predicate: str,
    n: int = DECONTAM_NGRAM,
    table: str = "documents",
    id_col: str = "doc_id",
) -> str:
    """DuckDB mirror: same normalization, same shingling (including the
    shorter-than-n whole-text fallback), benchmark = rows satisfying
    ``bench_predicate``, training = the rest."""
    return f"""
WITH t AS (SELECT {id_col} AS id, ({bench_predicate}) AS is_bench,
                  {_NORM_SQL} AS norm, {_TOKS_SQL} AS toks FROM {table}),
sh AS (
  SELECT id, is_bench,
         CASE WHEN len(toks) >= {n}
              THEN list_transform(generate_series(1, len(toks) - {n - 1}),
                                  i -> array_to_string(toks[i:i+{n - 1}], ' '))
              ELSE [norm] END AS grams
  FROM t
),
tr AS (SELECT id, unnest(grams) AS gram FROM sh WHERE NOT is_bench),
be AS (SELECT DISTINCT unnest(grams) AS gram FROM sh WHERE is_bench)
SELECT tr.id AS {id_col}, count(DISTINCT tr.gram) AS n_bench_hits
FROM tr JOIN be USING (gram)
GROUP BY 1
"""

def bench_span_overlap(
    train: DataFrame,
    bench: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """(id, span_start, span_end, n_tokens) — maximal token spans of each
    TRAINING document covered by ``k``-gram shingles that occur anywhere
    in the benchmark set: span-LEVEL decontamination, locating exactly
    WHICH passage leaked instead of only flagging the document
    (``ngram_overlap_flags``).  The surgical complement: a curation
    pipeline can excise the contaminated span and keep the rest of the
    document.

    Same relational machinery as ``dedup.duplicate_token_spans`` (Lee et
    al. 2022 re-expressed as positioned shingles -> hit filter ->
    gaps-and-islands merge), but the hit filter is a BROADCAST semi-join
    against the distinct benchmark shingle set rather than a corpus-wide
    document-frequency — so the 100 TB corpus is scanned once and never
    shuffled on text; only (id, position) pairs of actual hits reach the
    per-document islands window (bounded by doc length, never
    corpus-sized).  Positions are 1-based inclusive token indexes; docs
    shorter than ``k`` tokens participate via the whole-text fallback
    shingle (the corpus-wide convention of ``shingles_or_whole``), with
    ``span_end``/``n_tokens`` clamped to the document's actual token
    count so the span never overstates how much text to excise."""
    from pyspark.sql import Window  # noqa: PLC0415

    from ..functions.text import SHINGLE_WORDS  # noqa: PLC0415

    if k != SHINGLE_WORDS:
        raise ValueError(
            f"bench_span_overlap is pinned to the corpus shingle width "
            f"{SHINGLE_WORDS} (shingles_or_whole); got k={k}"
        )
    from ..functions.text import tokens as _tokens  # noqa: PLC0415

    pos = (
        train.select(
            F.col(id_col),
            F.size(_tokens(F.col(text_col))).alias("n_toks"),
            F.posexplode(shingles_or_whole(text_col)).alias("p0", "h"),
        )
        .select(F.col(id_col), "n_toks", (F.col("p0") + 1).alias("s"), "h")
    )
    bsh = bench.select(
        F.explode(shingles_or_whole(text_col)).alias("h")
    ).distinct()
    # clamp span_end to the document's token count: a doc shorter than k
    # tokens matches via the whole-text fallback shingle, and an
    # unclamped s+k-1 would report span_end=k / n_tokens=k beyond the
    # doc's actual length (an external consumer sizing an excision from
    # n_tokens would over-cut); for docs with >= k tokens the clamp is a
    # no-op (s <= n_toks-k+1 by construction)
    hits = pos.join(F.broadcast(bsh), "h").select(
        F.col(id_col),
        "s",
        F.least(F.col("s") + k - 1, F.col("n_toks")).alias("e"),
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
    return (
        flagged.groupBy(id_col, "island")
        .agg(
            F.min("s").alias("span_start"),
            F.max("e").alias("span_end"),
            (F.max("e") - F.min("s") + 1).alias("n_tokens"),
        )
        .select(id_col, "span_start", "span_end", "n_tokens")
    )


def bench_span_overlap_ctes(
    bench_predicate: str, k: int = 3, table: str = "documents",
    id_col: str = "doc_id",
) -> str:
    """WITH-body CTE chain ending in ``islands(id, s, e, island)`` (plus
    the token CTE ``t(id, is_bench, norm, toks)``) — shared by the
    span-overlap oracle and the span-decontamination REBUILD oracle so
    the two can never walk different span sets."""
    return f"""t AS (SELECT {id_col} AS id, ({bench_predicate}) AS is_bench,
                  {_NORM_SQL} AS norm, {_TOKS_SQL} AS toks FROM {table}),
sh AS (
  SELECT id, is_bench, len(toks) AS n_toks,
         CASE WHEN len(toks) >= {k}
              THEN list_transform(generate_series(1, len(toks) - {k - 1}),
                                  i -> array_to_string(toks[i:i+{k - 1}], ' '))
              ELSE [norm] END AS shingles
  FROM t
),
pos AS (
  SELECT id, n_toks, u.s AS s, u.sh AS h FROM (
    SELECT id, n_toks,
           unnest(list_transform(generate_series(1, len(shingles)),
                                 i -> struct_pack(s := i, sh := shingles[i]))) AS u
    FROM sh WHERE NOT is_bench
  )
),
be AS (SELECT DISTINCT unnest(shingles) AS h FROM sh WHERE is_bench),
hits AS (
  SELECT pos.id, pos.s, least(pos.s + {k - 1}, pos.n_toks) AS e
  FROM pos JOIN be USING (h)
),
flagged AS (
  SELECT id, s, e,
         CASE WHEN lag(e) OVER w IS NULL OR s > lag(e) OVER w + 1
              THEN 1 ELSE 0 END AS is_new
  FROM hits
  WINDOW w AS (PARTITION BY id ORDER BY s)
),
islands AS (
  SELECT id, s, e,
         sum(is_new) OVER (PARTITION BY id ORDER BY s
                           ROWS UNBOUNDED PRECEDING) AS island
  FROM flagged
)"""


def bench_span_overlap_oracle_sql(
    bench_predicate: str, k: int = 3, table: str = "documents",
    id_col: str = "doc_id",
) -> str:
    """DuckDB mirror of :func:`bench_span_overlap` over one table split by
    ``bench_predicate`` (same k-shingling + whole-text fallback as the
    similarity `_sig_cte`, same islands merge as the span-dedup oracle)."""
    return f"""
WITH {bench_span_overlap_ctes(bench_predicate, k, table, id_col)}
SELECT id AS {id_col}, min(s) AS span_start, max(e) AS span_end,
       (max(e) - min(s) + 1) AS n_tokens
FROM islands GROUP BY id, island
"""
