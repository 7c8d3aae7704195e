"""Round-7 additions: CDC chunking invariants, Hurst/SAX/Granger/energy
sanity over the real sf0.001 tables (oracle equality is the driver gate;
these pin the operator-level contracts the hash can't see)."""

from __future__ import annotations

from pyspark.sql import functions as F

from datafusion_functions_extra_spark import suite
from datafusion_functions_extra_spark.functions import multimodal as MM

SF = "/root/testdata/sf0.001"


def test_cdc_chunks_tile_payload_exactly(spark):
    d = spark.read.parquet(f"{SF}/documents.parquet")
    p = d.select(
        "doc_id",
        MM.synth_payload(F.col("doc_id"), F.col("n_chars"), F.col("text")).alias(
            "payload"
        ),
    )
    ch = MM.cdc_chunks_np(p, "payload", "doc_id")
    agg = ch.groupBy("id").agg(F.sum("chunk_bytes").alias("s"))
    j = p.select(
        F.col("doc_id").alias("id"), F.length("payload").alias("n")
    ).join(agg, "id")
    assert j.where(F.col("s") != F.col("n")).count() == 0
    assert j.count() == p.count()


def test_cdc_chunks_resist_offset_shift(spark, cdc_oracle):
    """The CDC property fixed-size blocking lacks: prepending bytes to a
    payload leaves the trailing chunk hashes identical (only the chunks
    around the insertion change)."""
    rows = [
        (1, b"A" * 7 + bytes(range(256)) * 8),
        (2, b"PREFIX-INSERTED!" + b"A" * 7 + bytes(range(256)) * 8),
    ]
    got = sorted(
        tuple(r)
        for r in MM.cdc_chunks_np(
            spark.createDataFrame(rows, "id long, payload binary"),
            "payload",
            "id",
        ).collect()
    )
    assert got == cdc_oracle(rows)
    h1 = {h for i, h, _ in got if i == 1}
    h2 = {h for i, h, _ in got if i == 2}
    shared = h1 & h2
    # most of the un-shifted content's chunks survive the insertion
    assert len(shared) >= max(1, len(h1) - 3)


def test_hurst_exponent_in_plausible_band(spark):
    rows = suite.QUERIES["events_hurst_exponent"](spark, SF).collect()
    assert rows, "no type had full blocks at every window size"
    for r in rows:
        # R/S slope of any finite series lives in (0, 1.2) (small-sample
        # bias can push white noise slightly above 0.5)
        assert 0.0 < r.hurst < 1.2, r


def test_sax_motifs_words_well_formed(spark):
    rows = suite.QUERIES["events_sax_motifs"](spark, SF).collect()
    assert rows
    for r in rows:
        assert len(r.word) == 3 and set(r.word) <= set("1234")
        assert 1 <= r.rk <= 3 and r.n_occ >= 1


def test_granger_f_nonnegative(spark):
    rows = suite.QUERIES["events_granger_lag1"](spark, SF).collect()
    assert rows
    for r in rows:
        assert r.f_stat >= 0.0, r  # RSS_r >= RSS_u always (nested models)


def test_energy_distance_nonnegative_and_metric_scaled(spark):
    row = suite.QUERIES["lineitem_energy_distance"](spark, SF).collect()[0]
    assert row.energy_distance >= 0.0
    assert row.e_within_x > 0 and row.e_within_y > 0 and row.e_between > 0


def test_wilson_interval_brackets_rate(spark):
    for r in suite.QUERIES["suppliers_otif_wilson"](spark, SF).collect():
        assert 0.0 <= r.wilson_lo <= r.otif_rate <= r.wilson_hi <= 1.0, r


def test_label_mmd_symmetric_positive(spark):
    rows = suite.QUERIES["embedding_label_mmd"](spark, SF).collect()
    assert len(rows) == 45  # C(10,2) label pairs
    for r in rows:
        assert r.mmd2 >= 0.0 and r.label_a < r.label_b
