"""functions.text.memo_column keys only on plain column names.

``str(df["text"])`` and ``str(F.col("text"))`` render the same, but the
first is bound to ``df``'s plan: a memo keyed on the rendering handed
that bound tree to any later caller, which failed with
MISSING_ATTRIBUTES on a DataFrame that re-aliases the column."""

from __future__ import annotations

from pyspark.sql import functions as F

from datafusion_functions_extra_spark.functions import text as TX
from datafusion_functions_extra_spark.operators import similarity as SIM


def test_bound_column_never_reaches_another_dataframe(spark):
    TX._COL_MEMO.clear()
    a = spark.createDataFrame([(1, "One two  three")], "id long, text string")
    TX.token_count(a["text"])
    b = a.select("id", F.lower("text").alias("text"))
    assert [r[0] for r in b.select(TX.token_count(F.col("text"))).collect()] == [3]


def test_memo_stores_name_calls_only():
    TX._COL_MEMO.clear()
    assert TX.token_count("text") is TX.token_count("text")
    assert SIM.minhash_signature("text") is SIM.minhash_signature("text")
    assert SIM.simhash32("text") is SIM.simhash32("text")
    assert TX.shingles_or_whole("text", 3) is TX.shingles_or_whole("text", 3)
    stored = len(TX._COL_MEMO)
    TX.token_count(F.col("text"))
    SIM.simhash32(F.col("text"))
    assert len(TX._COL_MEMO) == stored
