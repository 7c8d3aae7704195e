"""similarity operator tests: MinHash-LSH, SimHash, n-gram Jaccard,
embedding cosine/ANN — semantics on tiny planted fixtures (no reference
analog; these are the driver-mandated training-data-pipeline extras)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from datafusion_functions_extra_spark.operators import similarity as SIM

A = "the quick brown fox jumps over the lazy dog and runs far away today"
A_NEAR = "the quick brown fox jumps over the lazy dog and runs far away tonight"
B = "completely different content about spark aggregation engines and shuffles"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [(1, A), (2, A_NEAR), (3, B), (4, A)], "doc_id bigint, text string"
    )


def test_minhash_identical_texts_equal_sig(docs):
    sigs = {r.doc_id: r.sig for r in SIM.minhash_signatures(docs, "text", "doc_id").collect()}
    assert sigs[1] == sigs[4]
    assert len(sigs[1]) == SIM.MINHASH_K
    assert sigs[1] != sigs[3]


def test_near_dup_pairs_finds_planted_pair(docs):
    pairs = {
        (r.id_a, r.id_b): r.est_jaccard
        for r in SIM.near_dup_pairs(docs, "text", "doc_id", threshold=0.4).collect()
    }
    assert pairs[(1, 4)] == 1.0  # exact dup -> identical signature
    assert (1, 2) in pairs or (2, 4) in pairs  # near dup collides in a band
    assert all(b != 3 and a != 3 for a, b in pairs)  # unrelated doc never pairs


def test_near_dup_clusters_min_id_keep(docs):
    keep = {
        r.doc_id: r.keep_id
        for r in SIM.near_dup_clusters(docs, "text", "doc_id", threshold=0.4).collect()
    }
    assert keep[1] == 1 and keep[4] == 1  # exact-dup cluster keeps min id
    assert keep[3] == 3  # singleton keeps itself


def test_near_dup_components_transitive(spark):
    # chain A~B, B~C where A and C don't collide directly: full CC must
    # give all three the same component (the one-step keep rule can't)
    words = [f"tok{i}" for i in range(60)]
    a = " ".join(words)
    wb = list(words)
    wb[30] = "CHANGED_B"  # one middle token: J(a,b) ~ 55/61
    b = " ".join(wb)
    wc = list(wb)
    wc[10] = "CHANGED_C"  # differs from a in two places, from b in one
    c = " ".join(wc)
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, c), (9, "totally unrelated words here")],
        "doc_id bigint, text string",
    )
    comp = {
        r.doc_id: r.component
        for r in SIM.near_dup_components(df, "text", "doc_id", threshold=0.3).collect()
    }
    assert comp[1] == comp[2] == comp[3] == 1
    assert comp[9] == 9


def test_ngram_jaccard_exact_values(docs):
    rows = {
        (r.id_a, r.id_b): r.jaccard
        for r in SIM.ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.1).collect()
    }
    assert rows[(1, 4)] == 1.0
    if (1, 2) in rows:  # 13-token texts differing in last word: 11/13 shingles...
        assert 0.5 < rows[(1, 2)] < 1.0


def test_simhash_similar_texts_close(docs):
    sh = {r.doc_id: r.s for r in docs.select("doc_id", SIM.simhash32(F.col("text")).alias("s")).collect()}
    assert sh[1] == sh[4]
    ham_near = bin(sh[1] ^ sh[2]).count("1")
    ham_far = bin(sh[1] ^ sh[3]).count("1")
    assert ham_near < ham_far
    assert 0 <= sh[1] < 2**SIM.SIMHASH_BITS


def test_simhash_pairs_blocking(docs):
    rows = {(r.id_a, r.id_b) for r in SIM.simhash_pairs(docs, "text", "doc_id", max_hamming=3).collect()}
    assert (1, 4) in rows


def test_cosine_matches_math(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 0.0, 1.0]), (2, [1.0, 1.0, 0.0])],
        "vec_id bigint, embedding array<double>",
    )
    row = (
        df.alias("x")
        .crossJoin(df.alias("y"))
        .where("x.vec_id = 1 and y.vec_id = 2")
        .select(SIM.cosine(F.col("x.embedding"), F.col("y.embedding")).alias("c"))
        .collect()[0]
    )
    assert abs(row.c - 0.5) < 1e-12  # dot=1, norms=sqrt(2)*sqrt(2)


def test_cosine_topk_ranks(spark):
    df = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [0.9, 0.1]),
            (2, [0.0, 1.0]),
            (3, [1.0, 0.05]),
        ],
        "vec_id bigint, embedding array<double>",
    )
    rows = SIM.cosine_topk(df, [0], k=2).collect()
    assert [r.neighbor_id for r in rows] == [3, 1]
    assert [r.rank for r in rows] == [1, 2]


def test_rank_neighbors_tie_break_type_and_cut(spark):
    from pyspark.sql.types import IntegerType

    scored = spark.createDataFrame(
        [(1, 5, 0.5), (1, 3, 0.5), (1, 4, 0.9), (1, 2, 0.1),
         (2, 7, 0.5), (2, 6, 0.5), (2, 8, 0.2)],
        "q_id bigint, neighbor_id bigint, cos double",
    )
    ranked = SIM._rank_neighbors(scored, 2)
    assert ranked.schema["rank"].dataType == IntegerType()
    # equal rounded cosines rank the smaller neighbor_id first; k cuts
    # each query, not the relation
    assert sorted((r.q_id, r.rank, r.neighbor_id) for r in ranked.collect()) == [
        (1, 1, 4), (1, 2, 3), (2, 1, 6), (2, 2, 7),
    ]


def test_ann_bucket_self_consistency(spark):
    # a vector shares a bucket with itself; ANN on a corpus of identical
    # vectors returns all others as candidates at cos ~= 1
    df = spark.createDataFrame(
        [(i, [1.0] * SIM.EMBEDDING_DIM) for i in range(4)],
        "vec_id bigint, embedding array<double>",
    )
    rows = SIM.ann_cosine_topk(df, [0], k=5).collect()
    assert {r.neighbor_id for r in rows} == {1, 2, 3}
    assert all(abs(r.cos - 1.0) < 1e-9 for r in rows)


def test_hyperplane_bucket_range(spark):
    df = spark.createDataFrame(
        [(0, [0.5] * SIM.EMBEDDING_DIM), (1, [-0.5] * SIM.EMBEDDING_DIM)],
        "vec_id bigint, embedding array<double>",
    )
    vals = [r.b for r in df.select(SIM.hyperplane_bucket(F.col("embedding")).alias("b")).collect()]
    assert all(0 <= v < 2**SIM.N_HYPERPLANES for v in vals)
    # antipodal vectors land in complementary buckets
    assert vals[0] ^ vals[1] == 2**SIM.N_HYPERPLANES - 1


class TestContainment:
    def test_fragment_scores_high_where_jaccard_low(self, spark):
        from datafusion_functions_extra_spark.operators.similarity import (
            ngram_containment_pairs,
            ngram_jaccard_pairs,
        )

        frag = "alpha beta gamma delta epsilon zeta eta theta"
        big = frag + " " + " ".join(f"word{i}" for i in range(200))
        # doc 3 shares frag's shingles so LSH pairs (1, 3); doc 2 is noise
        df = spark.createDataFrame(
            [(1, frag), (2, "totally unrelated text body here now"), (3, big)],
            "doc_id long, text string",
        )
        cont = {
            (r.id_a, r.id_b): r.containment
            for r in ngram_containment_pairs(df, "text", "doc_id", 0.5).collect()
        }
        assert cont.get((1, 3)) == 1.0  # the fragment is fully contained
        jac = {
            (r.id_a, r.id_b): r.jaccard
            for r in ngram_jaccard_pairs(df, "text", "doc_id", 0.0).collect()
        }
        assert jac.get((1, 3), 0.0) < 0.1  # Jaccard misses the relation


def test_signature_stage_table_pairs_match_raw(docs, spark, tmp_path):
    """pairs-from-stage == pairs-from-raw: the parquet signature stage
    (write_signatures_table) must be a pure materialization — identical
    MinHash-LSH and SimHash pair output to the direct pipelines."""
    path = str(tmp_path / "sigs.parquet")
    SIM.write_signatures_table(docs, path, text_col="text", id_col="doc_id")
    staged = SIM.read_signatures_table(spark, path)

    raw_mh = sorted(
        (r.id_a, r.id_b, r.est_jaccard)
        for r in SIM.near_dup_pairs(docs, "text", "doc_id", 0.5).collect()
    )
    staged_mh = sorted(
        (r.id_a, r.id_b, r.est_jaccard)
        for r in SIM.near_dup_pairs_from_signatures(staged, "doc_id", 0.5).collect()
    )
    assert staged_mh == raw_mh
    assert len(staged_mh) > 0  # the planted near-pair must be present

    raw_sh = sorted(
        (r.id_a, r.id_b, r.hamming)
        for r in SIM.simhash_pairs(docs, "text", "doc_id", 3).collect()
    )
    staged_sh = sorted(
        (r.id_a, r.id_b, r.hamming)
        for r in SIM.simhash_pairs_from_signatures(staged, "doc_id", 3).collect()
    )
    assert staged_sh == raw_sh
    assert len(staged_sh) > 0


def test_ensure_signatures_table_builds_once_and_invalidates(spark, tmp_path):
    import os

    d = spark.createDataFrame(
        [(1, A), (2, A_NEAR), (3, B)], "doc_id bigint, text string"
    )
    path = str(tmp_path / "sigs.parquet")
    s1 = SIM.ensure_signatures_table(
        spark, d, path, text_col="text", id_col="doc_id", source_token="t1"
    )
    assert s1.count() == 3
    parts = sorted(p for p in os.listdir(path) if p.endswith(".parquet"))
    mtimes = {p: os.stat(os.path.join(path, p)).st_mtime_ns for p in parts}
    # second call with the same token: no rebuild, same files untouched
    s2 = SIM.ensure_signatures_table(
        spark, d, path, text_col="text", id_col="doc_id", source_token="t1"
    )
    assert s2.count() == 3
    for p in parts:
        assert os.stat(os.path.join(path, p)).st_mtime_ns == mtimes[p]
    # staged signatures equal freshly-computed ones
    raw = {
        r.doc_id: r.sig
        for r in SIM.minhash_signatures(d, "text", "doc_id").collect()
    }
    staged = {r.doc_id: r.sig for r in s2.collect()}
    assert staged == raw
    # changed corpus token: stage is rebuilt (overwrite drops old markers)
    s3 = SIM.ensure_signatures_table(
        spark, d, path, text_col="text", id_col="doc_id", source_token="t2"
    )
    assert s3.count() == 3
    markers = [p for p in os.listdir(path) if p.startswith("_stage_token_")]
    assert len(markers) == 1  # only the current token survives


class TestPrefixFilterJaccard:
    def test_matches_brute_force(self, spark):
        """The prefix-filtered exact join (PPJoin) must equal all-pairs
        exact Jaccard over shingle sets (completeness + exactness)."""
        from datafusion_functions_extra_spark.operators.similarity import (
            ppjoin_jaccard_pairs,
        )
        from datafusion_functions_extra_spark.functions.text import (
            shingles_or_whole,
        )
        from pyspark.sql import functions as F

        texts = [
            "the quick brown fox jumps over the lazy dog",
            "the quick brown fox jumps over the lazy cat",
            "a completely different document about spark joins",
            "the quick brown fox jumps over the lazy dog",  # exact dup of 1
            "short doc",
            "short doc",  # exact dup of 5 via whole-text fallback
            "one two three four five",
            "one two three four six",  # 2 of 4 shingles: J exactly 0.5
        ]
        docs = spark.createDataFrame(
            list(enumerate(texts, 1)), "doc_id bigint, text string"
        )
        got = {
            (r.id_a, r.id_b): (r.n_inter, r.jacc)
            for r in ppjoin_jaccard_pairs(
                docs, "text", "doc_id", threshold_pct=50
            ).collect()
        }
        sets = {
            r.doc_id: set(r.g)
            for r in docs.select(
                "doc_id", F.array_distinct(shingles_or_whole("text")).alias("g")
            ).collect()
        }
        want = {}
        ids = sorted(sets)
        for i, a in enumerate(ids):
            for b in ids[i + 1 :]:
                inter = len(sets[a] & sets[b])
                union = len(sets[a] | sets[b])
                if union and 100 * inter >= 50 * union:
                    want[(a, b)] = inter
        assert set(got) == set(want)
        for k, inter in want.items():
            assert got[k][0] == inter


class TestNearDupPagerank:
    def test_rank_mass_and_symmetry(self, spark, docs):
        from datafusion_functions_extra_spark.operators.similarity import (
            near_dup_pagerank,
        )

        out = near_dup_pagerank(docs, "text", "doc_id").collect()
        if not out:  # graph can be empty on tiny fixtures
            return
        total = sum(r.rank for r in out)
        # PR over a dangling-free graph conserves mass ~1 (6 dp rounding
        # drift per node per round is the only slack)
        assert abs(total - 1.0) < 1e-4 * len(out) + 1e-6
        assert all(r.deg >= 1 for r in out)
