"""End-to-end corpus curation: the library's operators composed into the
standard LLM-training-data pipeline, with materialized stage outputs and
a per-stage funnel report.

This is the product surface a user of the reference-plus-extras actually
runs: one call takes a raw document table to a curated, split, staged
corpus —

  quality/language filter  ->  exact dedup  ->  near-dup dedup (staged
  MinHash-LSH, min-id keep)  ->  benchmark decontamination (exact n-gram
  + fuzzy near-dup screens)  ->  leakage-safe train/val/test split
  (component-hash)  ->  curated parquet + signature stage + report.

Every stage is a DataFrame transformation from the operator modules; the
driver only sequences writes and collects the per-stage row counts for
the funnel report (aggregates, never rows).  Intermediates materialize
to parquet under ``out_dir`` so each stage is restart-safe and
independently inspectable — the same stage-table discipline as
``similarity.ensure_signatures_table``, which the near-dup stage reuses
(the signature stage it writes is the one later ingest batches probe,
see ``streaming/ingest.py``).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .cache import leaf
from .functions import text as TX
from .operators import decontaminate as DECON
from .operators import dedup as DD
from .operators import similarity as SIM


@dataclass(frozen=True)
class CurationConfig:
    min_quality: float = 0.5
    languages: tuple[str, ...] = ("en",)
    near_dup_threshold: float = 0.5
    decontam_min_hits: int = 1
    fuzzy_decontam_threshold: float = 0.5
    text_col: str = "text"
    id_col: str = "doc_id"
    #: identifies the input corpus snapshot for the signature stage's
    #: idempotency marker (table version / snapshot id on a lakehouse).
    #: Empty = derive a content token from the exact-dedup stage's rows
    #: (row count + bit-XOR of xxhash64(id, text) — see
    #: ``_content_snapshot_token``), so re-running against a DIFFERENT
    #: corpus with the same ``out_dir`` rebuilds signatures instead of
    #: silently reusing the stale stage.
    snapshot_token: str = ""


def _content_snapshot_token(df: DataFrame, text_col: str, id_col: str) -> str:
    """Deterministic token for the corpus a signature stage is built
    from: (row count, order-independent bit-XOR of xxhash64(id, text)).
    Content-derived — NOT file mtimes — so re-running the pipeline over
    the same corpus reuses the amortized signature stage, while any
    change to the corpus (different rows, edited text, different ids)
    yields a new token and forces a rebuild.  XOR, not SUM: it commutes
    the same way but cannot overflow under ANSI mode.  One columnar scan
    of the two key columns; local stand-in for a lakehouse version."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64(F.col(id_col), F.col(text_col))).alias("h"),
    ).collect()[0]
    return f"snap-{row['n']}-{row['h']}"


def curate_corpus(
    spark: SparkSession,
    docs: DataFrame,
    bench: DataFrame | None,
    out_dir: str,
    config: CurationConfig = CurationConfig(),
) -> DataFrame:
    """Run the full curation pipeline; returns the funnel report
    ``(stage, n_in, n_out, n_dropped)`` as a DataFrame (also written to
    ``out_dir/report.parquet``; curated corpus at
    ``out_dir/curated.parquet`` with a ``split`` column, signatures at
    ``out_dir/signatures.parquet``)."""
    c = config
    os.makedirs(out_dir, exist_ok=True)
    funnel: list[tuple[str, int, int]] = []

    # each stage's input IS the previous stage's output, so its count is
    # carried forward instead of re-executing the input lineage (the
    # recount doubled every stage's cost for a number already in hand)
    def stage(name: str, n_in: int, df_out: DataFrame) -> DataFrame:
        funnel.append((name, n_in, df_out.count()))
        return df_out

    # 1. quality + language gate (pure expression tree, fused into scan).
    # The gated survivors are eager-checkpointed BEFORE counting: the
    # funnel count, the exact-dedup stage and its parquet write all
    # consume this relation, and without truncation each of those jobs
    # re-ran the quality-score projection over the full corpus (r10:
    # three corpus scans + scores for one stage).
    scored = docs.withColumn("__q", TX.quality_score(c.text_col))
    kept = stage(
        "quality_language_filter",
        docs.count(),
        scored.where(
            (F.col("__q") >= c.min_quality)
            & F.col("lang").isin(list(c.languages))
        )
        .drop("__q")
        .transform(leaf),
    )

    # 2. exact dedup (content-hash groupBy, min-id keep).  Write FIRST,
    # then read the stage table back and count THAT: counting the lazy
    # dedup relation before the write executed the dedup twice (r10);
    # the parquet row count is the same number.
    n_in = funnel[-1][2]
    DD.exact_dedup(kept, c.text_col, c.id_col).write.mode("overwrite").parquet(
        os.path.join(out_dir, "exact_dedup.parquet")
    )
    kept = stage(
        "exact_dedup",
        n_in,
        spark.read.parquet(os.path.join(out_dir, "exact_dedup.parquet")),
    )

    # 3. near-dup dedup from the persistent signature stage (min-id keep).
    # The snapshot token is derived from the exact-dedup stage just
    # written (or supplied via config on a real lakehouse), never a
    # constant: a constant token would make a re-run against a changed
    # corpus in the same out_dir reuse STALE signatures, poisoning
    # near-dup dedup, fuzzy decontamination, and the leakage-safe split.
    sigs = SIM.ensure_signatures_table(
        spark,
        kept,
        os.path.join(out_dir, "signatures.parquet"),
        text_col=c.text_col,
        id_col=c.id_col,
        source_token=c.snapshot_token
        or _content_snapshot_token(kept, c.text_col, c.id_col),
    )
    pairs = SIM.near_dup_pairs_from_signatures(
        sigs, c.id_col, threshold=c.near_dup_threshold
    )
    drop_near = pairs.select(F.col("id_b").alias(c.id_col)).distinct()
    # materialize each survivor set ONCE (eager localCheckpoint) before
    # its funnel count: stages 4 and 5 both re-read the stage-3 survivors
    # (and 5 re-reads 4's), so without truncation every count and join
    # re-executes the whole upstream anti-join lineage
    kept = stage(
        "near_dup_dedup",
        funnel[-1][2],
        kept.join(drop_near, c.id_col, "left_anti").transform(leaf),
    )

    # signatures are deterministic per document, so every later stage
    # that needs signatures of a SURVIVOR SUBSET reads the stage table
    # filtered by id instead of re-fingerprinting raw text — identical
    # values, columnar-read cost
    def surviving_sigs(surv: DataFrame) -> DataFrame:
        return sigs.join(surv.select(c.id_col), c.id_col)

    # 4. benchmark decontamination: exact n-gram screen + fuzzy near-dup
    if bench is not None:
        exact_hits = DECON.ngram_overlap_flags(
            kept, bench, text_col=c.text_col, id_col=c.id_col
        ).where(F.col("n_bench_hits") >= c.decontam_min_hits)
        fuzzy_hits = SIM.asymmetric_near_dup_pairs(
            surviving_sigs(kept),
            SIM.minhash_signatures(bench, c.text_col, c.id_col),
            c.id_col,
            threshold=c.fuzzy_decontam_threshold,
        ).select(F.col("id_a").alias(c.id_col))
        contaminated = (
            exact_hits.select(c.id_col).unionByName(fuzzy_hits).distinct()
        )
        kept = stage(
            "decontamination",
            funnel[-1][2],
            kept.join(contaminated, c.id_col, "left_anti").transform(leaf),
        )

    # 5. leakage-safe split on the SURVIVING corpus (near-dup components
    # of the curated set; exact dups are already gone, so components are
    # the residual sub-threshold neighborhoods).  Pairs come from the
    # signature stage filtered to survivors — bit-identical to
    # leakage_safe_split's re-fingerprinting form (per-doc signatures
    # don't depend on the rest of the corpus), minus the second corpus
    # fingerprint pass.
    surv_pairs = SIM.near_dup_pairs_from_signatures(
        surviving_sigs(kept), c.id_col, threshold=c.near_dup_threshold
    ).select("id_a", "id_b")
    comp = SIM.components_from_pairs(
        kept.select(F.col(c.id_col).alias("id")), surv_pairs
    )
    h = SIM.hash60(F.col("component").cast("string")) % 100
    split = comp.select(
        F.col("id").alias(c.id_col),
        F.when(h < 80, F.lit("train"))
        .when(h < 90, F.lit("validation"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )
    curated = kept.join(split, c.id_col)
    curated.write.mode("overwrite").parquet(os.path.join(out_dir, "curated.parquet"))
    curated = spark.read.parquet(os.path.join(out_dir, "curated.parquet"))
    funnel.append(("split_and_write", funnel[-1][2], curated.count()))

    report = spark.createDataFrame(
        [(s, i, o, i - o) for s, i, o in funnel],
        "stage string, n_in bigint, n_out bigint, n_dropped bigint",
    )
    report.write.mode("overwrite").parquet(os.path.join(out_dir, "report.parquet"))
    return report
