"""Streaming ingest-time near-duplicate dedup.

The end-to-end 100 TB ingest story, composed from pieces that are each
oracle-verified in batch form: every micro-batch of incoming documents is

  1. MinHash-signed (one scan of the batch, `similarity.minhash_signature`),
  2. probed against the *persistent* signature stage with the asymmetric
     banded LSH join (`similarity.asymmetric_near_dup_pairs`) — the corpus
     is never re-paired against itself, and the probe touches only the
     LSH buckets the batch lands in,
  3. self-deduplicated within the batch (min-id keep over intra-batch LSH
     pairs — the one-step rule of `near_dup_clusters`),
  4. survivors appended to the corpus sink AND their signatures appended
     to the stage, so batch N+1 dedups against everything through batch N.

A document that near-duplicates a *dropped* batch sibling is also dropped
(conservative transitive rule): the alternative — re-probing survivors
only — would re-admit chains of almost-identical documents arriving in
one batch.

State per batch is the signature stage (~200 bytes/doc, columnar), never
the corpus text.  On a real cluster the stage append is a table-format
append (Delta/Iceberg) with the same semantics; parquet-dir append is the
local stand-in, matching `sources.formats.write_parquet(mode="append")`.
No reference analog (the reference ships only aggregate UDFs); this is a
driver-mandated training-pipeline extra (SURVEY.md §2.2b).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.similarity import (
    asymmetric_near_dup_pairs,
    hash60,
    minhash_signatures,
    near_dup_pairs_from_signatures,
)


def _stage_has_data(stage_path: str) -> bool:
    if not os.path.isdir(stage_path):
        return False
    return any(e.endswith(".parquet") for e in os.listdir(stage_path))


def ingest_dedup_batch(
    batch_df: DataFrame,
    *,
    stage_path: str,
    out_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
) -> None:
    """Apply one ingest-dedup step (steps 1-4 above) for a single batch.

    Factored out of the streaming sink so the identical code path is
    unit-testable in batch and reusable from a backfill job — the
    batch/streaming parity the suite's other foreachBatch sinks follow.
    """
    spark = batch_df.sparkSession
    batch_df = batch_df.persist()
    sigs_b = minhash_signatures(batch_df, text_col, id_col, materialize=True)
    if _stage_has_data(stage_path):
        corpus_sigs = spark.read.parquet(stage_path).select(id_col, "sig")
        vs_corpus = (
            asymmetric_near_dup_pairs(corpus_sigs, sigs_b, id_col, threshold)
            .select(F.col("id_b").alias(id_col))
        )
    else:
        vs_corpus = sigs_b.select(id_col).limit(0)
    intra = (
        near_dup_pairs_from_signatures(sigs_b, id_col, threshold)
        .select(F.col("id_b").alias(id_col))  # id_a < id_b: min id kept
    )
    drop = vs_corpus.unionByName(intra).distinct()
    kept = batch_df.join(drop, id_col, "left_anti")
    kept.write.mode("append").parquet(out_path)
    sigs_b.join(drop, id_col, "left_anti").select(id_col, "sig").write.mode(
        "append"
    ).parquet(stage_path)
    batch_df.unpersist()


def streaming_ingest_dedup(
    sdf: DataFrame,
    *,
    stage_path: str,
    out_path: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
):
    """Start the streaming ingest-dedup sink over a document stream.

    ``availableNow`` drains existing input then stops (bounded local
    runs); a production deployment uses the same sink with a continuous
    trigger.  The checkpoint makes batch ids resumable, so a restarted
    stream never re-appends a batch that already reached the sink.
    Returns the started query (caller awaits termination).
    """

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        ingest_dedup_batch(
            batch_df,
            stage_path=stage_path,
            out_path=out_path,
            text_col=text_col,
            id_col=id_col,
            threshold=threshold,
        )

    return (
        sdf.writeStream.foreachBatch(apply)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


# ---------------------------------------------------------------------------
# streaming inverted-index (postings) maintenance — the lexical-retrieval
# sibling of the signature stage above
# ---------------------------------------------------------------------------


def postings_batch(
    batch_df: DataFrame,
    *,
    stage_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    batch_id: int = 0,
) -> None:
    """Write one micro-batch's (id, term, tf) postings to the stage,
    IDEMPOTENTLY: rows land in a ``batch_id=<n>`` partition written with
    dynamic partition overwrite, so a foreachBatch re-run after a crash
    (foreachBatch is at-least-once — the batch can replay if the failure
    falls between the data commit and the checkpoint write) REPLACES its
    own partition instead of appending duplicate postings rows that would
    silently inflate tf/dl/N/df and corrupt downstream BM25 scores.

    Document ids are unique across batches (append-only corpus), so the
    per-doc postings of different batches are DISJOINT rows — no merge
    step.  Everything BM25 needs beyond tf (document length, N, avgdl,
    per-term df) derives from the staged relation at read time, which
    keeps the ingest write trivially cheap and the stage schema stable.
    """
    from pyspark.sql import functions as F

    from ..functions.text import term_frequencies

    (
        term_frequencies(batch_df, text_col, id_col)
        .withColumn("batch_id", F.lit(int(batch_id)))
        .write.option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(stage_path, mode="overwrite")
    )


def streaming_postings(
    sdf: DataFrame,
    *,
    stage_path: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Start the incremental inverted-index sink over a document stream:
    each micro-batch is tokenized ONCE at ingest and its postings
    appended to the parquet stage; BM25 (``functions.text.
    bm25_topk_from_postings``) then serves queries from the stage without
    ever rescanning text — the lexical analog of the MinHash signature
    stage (``similarity.write_signatures_table``).  Restart-safety:
    foreachBatch is AT-LEAST-once, so the write must be idempotent — each
    batch overwrites its own ``batch_id`` partition (dynamic partition
    overwrite), making a post-crash replay a no-op rather than a
    duplicate append.  At 100 TB the stage write is a table-format
    replaceWhere/MERGE (Delta/Iceberg); partitioned parquet is the local
    stand-in.
    """

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        postings_batch(
            batch_df,
            stage_path=stage_path,
            text_col=text_col,
            id_col=id_col,
            batch_id=batch_id,
        )

    return (
        sdf.writeStream.foreachBatch(apply)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def streaming_bottomk_sample(
    docs: DataFrame,
    id_col: str,
    k: int = 16,
    n_shards: int = 8,
) -> DataFrame:
    """Stateful streaming uniform sample: maintain the k rows with the
    SMALLEST md5 priority per hash shard across micro-batches
    (deterministic bottom-k = a reproducible uniform-without-replacement
    sample, the KMV idea as a sampler instead of a sketch).  Because an
    append-mode stream cannot retract, the operator emits every row at
    the moment it ENTERS its shard's running bottom-k — a bounded
    superset (expected k * (1 + ln(n/k)) per shard) — and the exact
    final sample is the global bottom-k OF THE EMITTED ROWS, one
    ordinary batch selection at read time (pinned in
    tests/test_r6n_bottomk.py against the all-data batch bottom-k).

    State per shard is just the k current (priority, id) pairs; shards
    spread the state store like any keyed aggregation.  The md5
    priority is `hash60` verbatim, so the drained sample is bit-equal
    to the batch sampler on the same files."""
    import hashlib

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    keyed = docs.select(F.col(id_col).alias("__id")).withColumn(
        "__shard", hash60(F.col("__id").cast("string")) % n_shards
    )
    out_schema = "shard long, id long, priority long"

    def bottomk_fn(key, pdf_iter, state: GroupState):
        (shard_id,) = key
        if state.exists:
            (pri_list, id_list) = state.get
            best = list(zip(pri_list, id_list))
        else:
            best = []
        chunks = [pdf for pdf in pdf_iter if not pdf.empty]
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True)
        entered = []
        for doc_id in pdf["__id"]:
            doc_id = int(doc_id)
            pri = int(
                hashlib.md5(str(doc_id).encode()).hexdigest()[:15], 16
            )
            cand = (pri, doc_id)
            # the membership guard applies to BOTH branches: without it a
            # duplicated source key could occupy two state slots in the
            # fill phase and be emitted twice, breaking the "global
            # bottom-k of emitted rows == batch bottom-k" contract
            if len(best) < k and cand not in best:
                best.append(cand)
                best.sort()
                entered.append(cand)
            elif cand < best[-1] and cand not in best:
                best.append(cand)
                best.sort()
                best = best[:k]
                entered.append(cand)
        state.update((
            [p for p, _ in best],
            [i for _, i in best],
        ))
        if entered:
            yield pd.DataFrame(
                {
                    "shard": [int(shard_id)] * len(entered),
                    "id": [i for _, i in entered],
                    "priority": [p for p, _ in entered],
                }
            )

    return (
        keyed.groupBy("__shard")
        .applyInPandasWithState(
            bottomk_fn,
            outputStructType=out_schema,
            stateStructType="pri array<long>, ids array<long>",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
