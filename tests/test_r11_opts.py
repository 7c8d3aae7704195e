"""Round-11 optimization pins.

Each test locks an r11 plan/algorithm change to the semantics it
replaced, so a future edit that drifts the optimized form fails loudly.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F


# uses the session-scoped ``spark`` fixture from conftest.py — a
# module-local get_spark(...).getOrCreate() would RETURN the shared
# session and its teardown stop() would kill it for every later module


def test_oph_inrow_matches_relational_form(spark):
    """The r11 in-row OPH signature (bin mins + cyclic coalesce fill +
    null-bin count in one projection) must be row-for-row identical to
    the r10 relational plan it replaced (shingle explode -> (id, bin)
    min aggregate -> doubled-grid forward-fill window -> collect)."""
    from datafusion_functions_extra_spark.functions import text as TX
    from datafusion_functions_extra_spark.operators import similarity as SIM
    from datafusion_functions_extra_spark.sources import load_table
    from datafusion_functions_extra_spark.suite import _OPH_BINS as B
    from datafusion_functions_extra_spark.suite import _OPH_SHIFT

    d = load_table(spark, "/root/testdata/sf0.001", "documents")

    # --- old relational form (verbatim r10 shape) ---
    hb = d.select(
        F.col("doc_id").alias("id"),
        F.explode(TX.shingles_or_whole("text")).alias("s"),
    ).select("id", (SIM.hash60(F.col("s")) % SIM.MERSENNE_P).alias("h"))
    binmin = (
        hb.select(
            "id",
            F.pmod(F.col("h"), B).alias("bin"),
            F.shiftright(F.col("h"), _OPH_SHIFT).alias("v"),
        )
        .groupBy("id", "bin")
        .agg(F.min("v").alias("v"))
    )
    pos = spark.range(2 * B).select(F.col("id").cast("int").alias("pos"))
    grid = (
        d.select(F.col("doc_id").alias("id"))
        .crossJoin(F.broadcast(pos))
        .withColumn("bin", F.pmod(F.col("pos"), B))
    )
    wfill = (
        Window.partitionBy("id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    old = (
        grid.join(binmin, ["id", "bin"], "left")
        .withColumn("fv", F.last("v", ignorenulls=True).over(wfill))
        .where(F.col("pos") >= B)
        .groupBy("id")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(F.col("bin").alias("b"), F.col("fv").alias("x"))
                    )
                ),
                lambda st: st.x,
            ).alias("osig"),
            F.sum(F.col("v").isNull().cast("long")).cast("long").alias("n_empty"),
        )
    )
    old_rows = {
        r["id"]: (tuple(r["osig"]), r["n_empty"]) for r in old.collect()
    }

    # --- new in-row form, through the suite query's own builder ---
    import datafusion_functions_extra_spark.suite as suite_mod

    src = None
    # reuse the exact production expression by running the query and
    # intercepting its feats relation is intrusive; instead rebuild the
    # expression the same way the query does and compare end to end
    from datafusion_functions_extra_spark.functions.text import bind_once

    def _oph_struct(text_col):
        def with_hashes(shv):
            def with_binmin(bm):
                filled = F.array(*[
                    F.coalesce(*[
                        F.element_at(bm, ((j - k) % B) + 1) for k in range(B)
                    ])
                    for j in range(B)
                ])
                n_empty = (
                    F.lit(B) - F.size(F.filter(bm, lambda v: v.isNotNull()))
                ).cast("long")
                return F.struct(filled.alias("osig"), n_empty.alias("n_empty"))

            def with_hs(hs):
                bm = F.array(*[
                    F.array_min(
                        F.transform(
                            F.filter(hs, lambda h: F.pmod(h, F.lit(B)) == b),
                            lambda h: F.shiftright(h, _OPH_SHIFT),
                        )
                    )
                    for b in range(B)
                ])
                return bind_once(bm, with_binmin)

            return bind_once(
                F.transform(shv, lambda s: SIM.hash60(s) % SIM.MERSENNE_P),
                with_hs,
            )

        sh = F.array_distinct(TX.shingles_or_whole(text_col))
        return bind_once(sh, with_hashes)

    new = d.select(
        F.col("doc_id").alias("id"), _oph_struct("text").alias("f")
    ).select("id", "f.osig", "f.n_empty")
    new_rows = {
        r["id"]: (tuple(r["osig"]), r["n_empty"]) for r in new.collect()
    }
    assert new_rows == old_rows
    assert len(new_rows) == d.count()


def test_components_loop_restores_session_confs(spark):
    """components_from_pairs flips AQE/shuffle-partition confs for its
    loop scope; they must be restored even on the happy path."""
    from datafusion_functions_extra_spark.operators.similarity import (
        components_from_pairs,
    )

    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    nodes = spark.range(6).select(F.col("id"))
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (3, 4)], "id_a long, id_b long"
    )
    out = {
        (r["id"], r["component"])
        for r in components_from_pairs(nodes, pairs).collect()
    }
    assert out == {(0, 0), (1, 0), (2, 0), (3, 3), (4, 3), (5, 5)}
    assert spark.conf.get("spark.sql.adaptive.enabled") == prev_aqe
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev_parts


def test_components_loop_compress_matches_plain(spark, monkeypatch):
    """Pointer-doubling (compress) and plain min-label propagation must
    land on identical component labels — the r11 chg-column fusion has
    to preserve convergence detection in both modes, and the
    per-partition contraction must keep the components exact however the
    edges and the shuffles are partitioned.  A 1-partition input is
    contracted to stars in full, so the loop converges in round 0 and
    confirms in round 1: at most 2 convergence counts."""
    import random

    from pyspark.sql.classic.dataframe import DataFrame

    from datafusion_functions_extra_spark.operators.similarity import (
        components_from_pairs,
    )

    # a 40-node path graph over shuffled ids (worst case for plain
    # propagation depth) plus two isolated nodes
    order = random.Random(7).sample(range(40), 40)
    nodes = spark.range(42).select(F.col("id"))
    pairs = spark.createDataFrame(
        list(zip(order, order[1:])), "id_a long, id_b long"
    )
    want = {(i, 0) for i in range(40)} | {(40, 40), (41, 41)}

    counts = []
    count = DataFrame.count

    def counting(self):
        counts.append(self)
        return count(self)

    monkeypatch.setattr(DataFrame, "count", counting)
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for shuffle_parts in (1, 7):
            spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_parts))
            for n in (1, 3, 7):
                for compress in (False, True):
                    counts.clear()
                    got = {
                        (r["id"], r["component"])
                        for r in components_from_pairs(
                            nodes, pairs.repartition(n), max_iters=50,
                            compress=compress,
                        ).collect()
                    }
                    case = (shuffle_parts, n, compress)
                    assert got == want, case
                    if n == 1:
                        assert len(counts) <= 2, case
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)


def _worker_case(name):
    """(builder, batch) for one pandas-worker case: ``builder(spark)``
    builds the operator over a tiny DataFrame so the function it hands to
    mapInPandas can be captured; ``batch`` is one input batch for it."""
    import pandas as pd

    from datafusion_functions_extra_spark.functions import audio_np as ANP
    from datafusion_functions_extra_spark.functions import multimodal as MM
    from datafusion_functions_extra_spark.operators.similarity import (
        components_from_pairs,
    )
    from datafusion_functions_extra_spark.suite import (
        _AUDIO_DFT_WINDOW,
        _PGRAM_PERIODS,
        _QUIET_ABS,
        _knn_top5_sym,
        _twiddle,
    )
    from tests.test_multimodal import _encode_png

    def payloads(spark):
        return spark.createDataFrame([], "doc_id long, payload binary")

    def ids(spark):
        return spark.range(1).select(F.col("id").alias("doc_id"))

    png = _encode_png([[10, 20, 30], [40, 50, 60]], channels=3)
    blobs = pd.DataFrame(
        {"doc_id": [1, 2], "payload": [png, b"RIFF\x00\x00\x00\x00WAVE"]}
    )
    clips = pd.DataFrame({"doc_id": [0, 7, 13]})
    return {
        "components_from_pairs": (
            lambda spark: components_from_pairs(
                spark.range(2).select(F.col("id")),
                spark.createDataFrame([(0, 1)], "id_a long, id_b long"),
            ),
            pd.DataFrame({"id_a": [3, 5, 9], "id_b": [4, 4, 8]}),
        ),
        "decode_meta": (
            lambda spark: MM.decode_meta(payloads(spark), "payload", "doc_id"),
            blobs,
        ),
        "decode_pixels": (
            lambda spark: MM.decode_pixels(
                payloads(spark), "payload", "doc_id"
            ),
            blobs,
        ),
        "cdc_chunks_np": (
            lambda spark: MM.cdc_chunks_np(
                payloads(spark), "payload", "doc_id"
            ),
            pd.DataFrame({"id": [1], "payload": [bytes(range(200))]}),
        ),
        "byte_histogram_np": (
            lambda spark: MM.byte_histogram_np(
                payloads(spark), "payload", "doc_id"
            ),
            blobs,
        ),
        "wav_fingerprints": (
            lambda spark: ANP.wav_fingerprints(ids(spark), "doc_id", 4),
            clips,
        ),
        "wav_stats": (lambda spark: ANP.wav_stats(ids(spark)), clips),
        "silence_segments": (
            lambda spark: ANP.silence_segments(ids(spark), _QUIET_ABS),
            clips,
        ),
        "dft_twiddle_sums": (
            lambda spark: ANP.dft_twiddle_sums(
                ids(spark), _PGRAM_PERIODS, _twiddle, _AUDIO_DFT_WINDOW
            ),
            clips,
        ),
        "emb_pair_scorer": (
            lambda spark: _knn_top5_sym(spark, "/root/testdata/sf0.001"),
            pd.DataFrame({"vec_id": [0, 1, 2]}),
        ),
    }[name]


@pytest.mark.parametrize(
    "case",
    [
        "components_from_pairs",
        "decode_meta",
        "decode_pixels",
        "cdc_chunks_np",
        "byte_histogram_np",
        "wav_fingerprints",
        "wav_stats",
        "silence_segments",
        "dft_twiddle_sums",
        "emb_pair_scorer",
    ],
)
def test_worker_runs_without_the_package(spark, monkeypatch, tmp_path, case):
    """A function the library hands to mapInPandas must ship BY VALUE.
    A Python worker whose cwd and path lack this repository (a benchmark
    run area, an installed wheel's cluster) cannot import the package,
    and a module-level function — which cloudpickle pickles by reference
    unless its module is registered by value — fails there with
    ModuleNotFoundError.  The captured function is unpickled and run on
    one batch in such a process, and must return what it returns here."""
    import os
    import pickle
    import subprocess
    import sys

    import pandas as pd
    from pyspark import cloudpickle
    from pyspark.sql.classic.dataframe import DataFrame

    build, batch = _worker_case(case)
    funcs = []
    map_in_pandas = DataFrame.mapInPandas

    def capturing(self, func, schema, *args, **kwargs):
        funcs.append(func)
        return map_in_pandas(self, func, schema, *args, **kwargs)

    monkeypatch.setattr(DataFrame, "mapInPandas", capturing)
    build(spark)
    (func,) = funcs
    (tmp_path / "case.pkl").write_bytes(cloudpickle.dumps((func, batch)))

    code = """
import importlib.util, pickle
import pandas as pd
assert importlib.util.find_spec("datafusion_functions_extra_spark") is None
func, batch = pickle.load(open("case.pkl", "rb"))
pickle.dump(pd.concat(func(iter([batch]))), open("out.pkl", "wb"))
"""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p
        for p in env.get("PYTHONPATH", "").split(os.pathsep)
        if p and os.path.abspath(p) != repo
    )
    run = subprocess.run(
        [sys.executable, "-c", code], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=120,
    )
    assert run.returncode == 0, run.stderr
    got = pickle.loads((tmp_path / "out.pkl").read_bytes())
    want = pd.concat(func(iter([batch])))
    assert len(want) > 0
    pd.testing.assert_frame_equal(
        got.reset_index(drop=True), want.reset_index(drop=True)
    )
    if case == "components_from_pairs":
        # components {3, 4, 5} and {8, 9} as stars around their minimum ids
        assert sorted(zip(got["id_a"].tolist(), got["id_b"].tolist())) == [
            (3, 4), (3, 5), (4, 3), (5, 3), (8, 9), (9, 8)
        ]


def test_cached_parquet_schema_is_metadata_only(spark):
    """The schema memo must return the same StructType as bare inference
    and key on file identity."""
    from datafusion_functions_extra_spark.sources.catalog import (
        _SCHEMA_CACHE,
        cached_parquet_schema,
    )

    path = "/root/testdata/sf0.001/orders.parquet"
    bare = spark.read.parquet(path).schema
    memo = cached_parquet_schema(spark, path)
    assert memo == bare
    import os

    st = os.stat(path)
    assert (path, st.st_mtime_ns, st.st_size) in _SCHEMA_CACHE
    # second call hits the memo (same object)
    assert cached_parquet_schema(spark, path) is memo


def test_cached_parquet_schema_infers_non_local_uri(spark):
    """A URI ``os.stat`` cannot resolve falls back to plain inference
    instead of raising."""
    from datafusion_functions_extra_spark.sources.catalog import (
        cached_parquet_schema,
    )

    path = "/root/testdata/sf0.001/orders.parquet"
    uri = "file://" + path
    assert cached_parquet_schema(spark, uri) == spark.read.parquet(path).schema


def test_cached_parquet_schema_sees_part_file_rewritten_in_place(
    spark, tmp_path
):
    """A directory stage is keyed on its entries, not on the directory's
    own stat: a part file rewritten in place with a different schema
    leaves the directory's mtime and size alone, and must re-infer."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from datafusion_functions_extra_spark.sources.catalog import (
        cached_parquet_schema,
    )

    stage = tmp_path / "stage.parquet"
    stage.mkdir()
    part = stage / "part-00000.parquet"
    pq.write_table(pa.table({"a": [1, 2]}), part)
    assert cached_parquet_schema(spark, str(stage)).fieldNames() == ["a"]
    dir_mtime = os.stat(stage).st_mtime_ns

    buf = pa.BufferOutputStream()
    pq.write_table(pa.table({"b": ["x"], "c": [1.5]}), buf)
    with open(part, "wb") as f:  # same directory entry, truncated in place
        f.write(buf.getvalue().to_pybytes())
    assert os.stat(stage).st_mtime_ns == dir_mtime
    assert cached_parquet_schema(spark, str(stage)).fieldNames() == ["b", "c"]


def test_session_defaults_follow_the_host():
    """get_spark's defaults come from the host — every usable core, a
    quarter of RAM as heap within [1, 16] GiB — and the env vars
    override both."""
    from datafusion_functions_extra_spark.sources.catalog import (
        _session_defaults,
    )

    GiB = 2**30
    assert _session_defaults({}, 4, 15 * GiB) == (4, "3840m")
    assert _session_defaults({}, 32, 128 * GiB) == (32, "16384m")
    assert _session_defaults({}, 1, 2 * GiB) == (1, "1024m")
    env = {"SPARK_GRAFT_CPUS": "8", "SPARK_GRAFT_DRIVER_MEM": "6g"}
    assert _session_defaults(env, 4, 15 * GiB) == (8, "6g")


def test_drain_partitions_derivation():
    """Pin the streaming drain's partition rule (VERDICT r10 item 9 /
    r11 state-heavy extension): bytes-derived with a 32x-parallelism
    cap, floored at the parallelism for Python-stateful plans and for
    state-heavy sketch aggregations."""
    from datafusion_functions_extra_spark.streaming.events import (
        _drain_partitions,
    )

    MB = 1024 * 1024
    # bytes rule: 8 MiB per partition, min 1
    assert _drain_partitions(2 * MB, 32) == 1
    assert _drain_partitions(64 * MB, 32) == 8
    # cap at 32x parallelism
    assert _drain_partitions(10**15, 4) == 128
    # Python-stateful and state-heavy plans floor at the parallelism
    assert _drain_partitions(2 * MB, 32, python_stateful=True) == 32
    assert _drain_partitions(2 * MB, 32, state_heavy=True) == 32
    # floors never LOWER a bytes-derived count
    assert _drain_partitions(640 * MB, 4, state_heavy=True) == 80


def test_sketch_builders_leave_no_session_conf(spark):
    """Building the HLL and CMS stream sketches over the events reader
    must leave nothing in the session conf for a later drain to pick up:
    sizing travels as ``run_available_now`` arguments."""
    from datafusion_functions_extra_spark.streaming.events import (
        read_events_stream,
        streaming_cms_values,
        streaming_hll_users,
    )

    stream = read_events_stream(spark, "/root/testdata/sf0.001")
    streaming_hll_users(stream)
    streaming_cms_values(stream)
    keys = [r.key for r in spark.sql("SET").collect()]
    assert not [k for k in keys if k.startswith("spark.dfx.")]


def test_cdc_and_histogram_workers_drop_null_payloads(spark):
    """NULL payloads must contribute no rows — the DuckDB oracle's
    hex(NULL) semantics (ADVICE r10 item 1)."""
    from datafusion_functions_extra_spark.functions.multimodal import (
        byte_histogram_np,
        cdc_chunks_np,
    )

    df = spark.createDataFrame(
        [(1, bytearray(b"hello world payload bytes")), (2, None)],
        "doc_id long, payload binary",
    )
    chunks = cdc_chunks_np(df, "payload", "doc_id").collect()
    assert chunks and {r["id"] for r in chunks} == {1}
    hist = byte_histogram_np(df, "payload", "doc_id").collect()
    assert hist and {r["doc_id"] for r in hist} == {1}


def test_synth_wav_twin_rejects_negative_ids():
    """The NumPy WAV synth only matches the SQL remainder semantics of
    the oracles' ``audio.sample_expr`` for non-negative doc ids; a
    negative id must fail loudly, not diverge silently (ADVICE r10
    item 5)."""
    from datafusion_functions_extra_spark.functions.audio_np import (
        _synth_wav_bytes,
    )

    _synth_wav_bytes(7, 1)  # non-negative: fine
    with pytest.raises(ValueError):
        _synth_wav_bytes(-1, 1)


def test_knn_shapley_nn_literal_matches_per_vec_count(spark):
    """embedding_knn_shapley derives nn = count(embeddings) - 1 from the
    construction of the unfiltered all-ordered-pairs relation; if that
    shared relation is ever thinned the literal goes stale (ADVICE r10
    item 4) — pin the invariant on a small sf."""
    from datafusion_functions_extra_spark.sources import load_table
    from datafusion_functions_extra_spark.suite import _knn_scored_sym

    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, sf, "embeddings")
    n = emb.count()
    scored = _knn_scored_sym(spark, sf)
    per_vec = (
        scored.groupBy("vec_id").count().select("count").distinct().collect()
    )
    assert [r["count"] for r in per_vec] == [n - 1]
