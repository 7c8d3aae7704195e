"""Text-analysis Column builders for large-scale corpus pipelines.

Everything here is a pure JVM-side expression (no Python UDFs): lowercasing,
regex tokenization, array transforms and md5 all run inside whole-stage
codegen, so these scale to 100 TB document tables as plain projections —
no shuffle unless the caller aggregates.

The module-level constants (STOPWORDS, LANG_MARKERS, shingle sizes) are the
single source of truth shared with the DuckDB oracle SQL generators in
``suite.py`` so both engines compute literally the same function.
"""

from __future__ import annotations

from pyspark.sql import Column, Window
from pyspark.sql import functions as F

from ..cache import leaf
from .aggregates import ColumnOrName, _col
from .distribution import global_rank
from .rounding import r6n

#: small english stopword list used by quality scoring
STOPWORDS: tuple[str, ...] = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "this", "for", "on", "with", "as", "at", "by", "be",
)

#: language -> marker words for the n-gram/stopword language heuristic
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "is", "to", "in", "that", "it"),
    "es": ("el", "la", "de", "que", "los", "las", "una", "por"),
    "de": ("der", "die", "und", "das", "nicht", "ein", "mit", "ist"),
    "fr": ("le", "la", "les", "et", "des", "une", "est", "dans"),
    "zh": (),  # scored by CJK character count, not marker words
}

#: BPE-ish pre-tokenizer: letter runs, digit runs, single punctuation marks
BPE_TOKEN_RE = "[a-z]+|[0-9]+|[^a-z0-9\\s]"

#: word-shingle width for fingerprinting / near-dup
SHINGLE_WORDS = 3


#: per-process memo of built Column expression trees for the pure
#: builders below (here and in operators/similarity), keyed by (builder,
#: args).  The builders are pure functions of module constants and their
#: inputs, and constructing the bigger ones costs 0.1-1.4s of py4j
#: round-trips per call (r11) — paid by every text/quality/LSH query's
#: timed region.  A Column built from column NAMES is an unresolved
#: expression tree resolved per plan, valid across DataFrames and
#: in-process session restarts.  A Column argument is never a key: it
#: may be bound to one DataFrame's plan (``df["text"]``) while rendering
#: exactly like ``F.col("text")``, and the tree built from it raises
#: MISSING_ATTRIBUTES on a DataFrame derived from that plan.
_COL_MEMO: dict = {}


def memo_column(fn):
    """Memoize a pure Column-builder on calls whose column arguments are
    all plain names; a call with a Column argument builds a fresh Column
    and stores nothing."""
    import functools

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        if any(isinstance(a, Column) for a in (*args, *kwargs.values())):
            return fn(*args, **kwargs)
        key = (fn, args, tuple(sorted(kwargs.items())))
        col = _COL_MEMO.get(key)
        if col is None:
            col = fn(*args, **kwargs)
            _COL_MEMO[key] = col
        return col

    return wrapper


def bind_once(col: Column, fn) -> Column:
    """Evaluate ``col`` once per row and pass the materialized value to
    ``fn`` as a lambda variable.

    Catalyst's CollapseProject re-inlines dependent projections and
    common-subexpression elimination does not reach inside higher-order
    functions, so an expression referenced k times is *computed* k times.
    Wrapping it as the element of a one-element array and consuming it
    through a ``transform`` lambda pins one evaluation (lambda variables
    are values, not expression trees).
    """
    return F.element_at(F.transform(F.array(col), fn), 1)


def normalize_text(c: ColumnOrName) -> Column:
    """lower + trim + whitespace-collapse; the canonical form for dedup."""
    return F.lower(F.trim(F.regexp_replace(_col(c), "\\s+", " ")))


def tokens(c: ColumnOrName) -> Column:
    """Whitespace tokens of the normalized text (array<string>)."""
    return F.split(normalize_text(c), " ")


@memo_column
def token_count(c: ColumnOrName) -> Column:
    """Whitespace token count; empty/blank text counts 0."""
    return bind_once(
        normalize_text(c),
        lambda n: F.when(F.length(n) == 0, F.lit(0)).otherwise(
            F.size(F.split(n, " "))
        ),
    )


@memo_column
def bpe_token_count(c: ColumnOrName) -> Column:
    """Token count under a BPE-style pre-tokenization regex.

    ``regexp_count`` counts matches without materializing the match array
    (``regexp_extract_all`` + ``size`` builds every token string just to
    throw it away).
    """
    return F.regexp_count(F.lower(_col(c)), F.lit(BPE_TOKEN_RE))


@memo_column
def distinct_token_ratio(c: ColumnOrName) -> Column:
    return bind_once(
        tokens(c),
        lambda t: F.size(F.array_distinct(t)).cast("double")
        / F.size(t).cast("double"),
    )


@memo_column
def stopword_ratio(c: ColumnOrName) -> Column:
    stop = F.array(*[F.lit(s) for s in STOPWORDS])
    return bind_once(
        tokens(c),
        lambda t: F.size(F.filter(t, lambda x: F.array_contains(stop, x))).cast(
            "double"
        )
        / F.size(t).cast("double"),
    )


@memo_column
def quality_score(c: ColumnOrName, target_chars: int = 500) -> Column:
    """Heuristic document quality in [0, 1]:

    0.3 * min(1, n_chars/target) + 0.4 * lexical diversity
    + 0.3 * (1 - |stopword_ratio - 0.4| / 0.6 penalty)  — prose-likeness.

    The token array is materialized once (``bind_once``) and shared by the
    diversity and stopword terms.
    """
    stop = F.array(*[F.lit(s) for s in STOPWORDS])

    def score(t: Column) -> Column:
        diversity = F.size(F.array_distinct(t)).cast("double") / F.size(t).cast(
            "double"
        )
        sw_ratio = F.size(F.filter(t, lambda x: F.array_contains(stop, x))).cast(
            "double"
        ) / F.size(t).cast("double")
        prose = F.lit(1.0) - F.least(
            F.lit(1.0), F.abs(sw_ratio - F.lit(0.4)) / F.lit(0.6)
        )
        len_score = F.least(
            F.lit(1.0),
            F.length(F.concat_ws(" ", t)).cast("double")
            / F.lit(float(target_chars)),
        )
        return F.lit(0.3) * len_score + F.lit(0.4) * diversity + F.lit(0.3) * prose

    return bind_once(tokens(c), score)


def lang_scores(c: ColumnOrName) -> list[tuple[str, Column]]:
    """(lang, score) marker-hit counts; zh scored by CJK char count."""
    t = tokens(c)
    out: list[tuple[str, Column]] = []
    for lang, markers in LANG_MARKERS.items():
        if markers:
            arr = F.array(*[F.lit(m) for m in markers])
            score = F.size(F.filter(t, lambda x: F.array_contains(arr, x)))
        else:
            score = F.length(F.regexp_replace(_col(c), "[^\\u4e00-\\u9fff]", ""))
        out.append((lang, score.cast("long")))
    return out


@memo_column
def lang_id(c: ColumnOrName) -> Column:
    """Deterministic argmax over lang_scores: max score, tie -> max lang.

    The token array is materialized once and shared by every marker-list
    scorer (the CJK scorer reads the raw column, not the tokens).
    """
    cjk = F.length(F.regexp_replace(_col(c), "[^\\u4e00-\\u9fff]", "")).cast("long")

    def argmax(t: Column) -> Column:
        structs = []
        for lang, markers in LANG_MARKERS.items():
            if markers:
                arr = F.array(*[F.lit(m) for m in markers])
                score = (
                    F.size(F.filter(t, lambda x: F.array_contains(arr, x)))
                ).cast("long")
            else:
                score = cjk
            structs.append(F.struct(score.alias("score"), F.lit(lang).alias("lang")))
        return F.array_max(F.array(*structs)).getField("lang")

    return bind_once(tokens(c), argmax)


@memo_column
def word_shingles(c: ColumnOrName, k: int = SHINGLE_WORDS) -> Column:
    """Overlapping k-word shingles (array<string>); empty if < k tokens."""

    def build(t: Column) -> Column:
        n_sh = F.size(t) - F.lit(k - 1)
        return F.when(
            n_sh >= 1,
            F.transform(
                F.sequence(F.lit(1), n_sh),
                lambda i: F.concat_ws(" ", F.slice(t, i, k)),
            ),
        ).otherwise(F.array().cast("array<string>"))

    return bind_once(tokens(c), build)


@memo_column
def shingles_or_whole(c: ColumnOrName, k: int = SHINGLE_WORDS) -> Column:
    """k-word shingles, falling back to the single whole normalized text
    for docs shorter than k words — so every doc yields >= 1 gram (the
    convention all the shingle-consuming operators and their DuckDB
    oracles share)."""
    return bind_once(
        word_shingles(c, k),
        lambda s: F.when(F.size(s) > 0, s).otherwise(F.array(normalize_text(c))),
    )


@memo_column
def doc_fingerprint(c: ColumnOrName, k: int = SHINGLE_WORDS) -> Column:
    """Rolling-hash document fingerprint: min md5 over k-word shingles
    (a 1-permutation MinHash); texts shorter than k words hash whole."""

    def fp(sh: Column) -> Column:
        return F.when(
            F.size(sh) > 0,
            F.array_min(F.transform(sh, lambda s: F.md5(s.cast("binary")))),
        ).otherwise(F.md5(normalize_text(c).cast("binary")))

    return bind_once(word_shingles(c, k), fp)


#: training-chunk width/stride in tokens (stride < width => overlapping)
CHUNK_TOKENS = 64
CHUNK_STRIDE = 56


def top_ngram_stats(
    df: DataFrame, text_col: str, id_col: str, n: int = 2
) -> DataFrame:
    """Per-document repetition score (Gopher-style quality filter): the
    most frequent word ``n``-gram and the fraction of the doc's n-grams
    it accounts for.  High ``top_frac`` = boilerplate/repetition.

    Plan: explode n-grams -> hash aggregate on (doc, gram) -> per-doc
    argmax via max-on-struct (deterministic: max count, tie -> max gram)
    plus a total in the same aggregate.  Two shuffles, both on doc-sized
    keys; the text never moves after the explode.
    """
    grams = df.select(
        F.col(id_col), F.explode(shingles_or_whole(text_col, n)).alias("gram")
    )
    cnt = grams.groupBy(id_col, "gram").agg(F.count(F.lit(1)).alias("cnt"))
    per_doc = cnt.groupBy(id_col).agg(
        F.max(F.struct(F.col("cnt"), F.col("gram"))).alias("top"),
        F.sum("cnt").alias("total"),
    )
    return per_doc.select(
        id_col,
        F.col("top.gram").alias("top_gram"),
        F.col("top.cnt").alias("top_count"),
        # count ratio → boundary-nudged rounding (functions/rounding.py)
        r6n(F.col("top.cnt") / F.col("total")).alias("top_frac"),
    )


def chunk_documents(
    df: DataFrame,
    text_col: str,
    id_col: str,
    chunk_tokens: int = CHUNK_TOKENS,
    stride: int = CHUNK_STRIDE,
) -> DataFrame:
    """Split each document into overlapping fixed-width token chunks —
    the training-sequence preparation step (context-window packing input).

    Chunk ``i`` covers tokens ``[i*stride+1, i*stride+chunk_tokens]``
    (1-based); the chunk count ``max(1, ceil((n_tok - overlap)/stride))``
    guarantees every token is covered and a short doc yields exactly one
    (possibly short) chunk.

    Pure per-row expression work (sequence + slice inside one projection,
    then one explode): no shuffle, no Python, linear in corpus size — the
    shape that survives 100 TB.  Output: (id, chunk_idx, n_tokens,
    chunk_hash) where chunk_hash = md5 of the chunk's space-joined text.
    """
    overlap = chunk_tokens - stride
    if overlap < 0:
        raise ValueError("stride must be <= chunk_tokens")

    def explode_chunks(t: Column) -> Column:
        n = F.size(t)
        n_chunks = F.greatest(
            F.lit(1),
            F.floor((n - F.lit(overlap) + F.lit(stride - 1)) / F.lit(stride)).cast(
                "int"
            ),
        )
        return F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.struct(
                i.cast("long").alias("chunk_idx"),
                F.slice(t, i * stride + 1, chunk_tokens).alias("ct"),
            ),
        )

    chunks = df.select(
        F.col(id_col),
        F.explode(bind_once(tokens(text_col), explode_chunks)).alias("c"),
    )
    return chunks.select(
        id_col,
        F.col("c.chunk_idx").alias("chunk_idx"),
        F.size("c.ct").alias("n_tokens"),
        F.md5(F.concat_ws(" ", "c.ct").cast("binary")).alias("chunk_hash"),
    )


#: sentence boundary over normalized text: terminal punctuation + space
_SENT_SPLIT = "[.!?]+ "


def sentence_dedup_stats(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """C4-style corpus-wide sentence dedup bookkeeping: split each doc
    into sentences, keep only the globally FIRST occurrence of every
    distinct sentence (first = smallest (doc_id, position)), and report
    per-doc (n_sentences, n_kept, n_dropped).

    This is the line/sentence-level pass the C4 pipeline runs before
    document-level dedup — boilerplate sentences (cookie banners,
    navigation text) repeat across pages that are otherwise unique, so
    document-level hashes never catch them.

    Plan: one explode to (doc, pos, sentence) -> one corpus-wide window
    keyed on the sentence text (shuffle carries sentences once) -> one
    per-doc count aggregate.  Keep rule is a total order, so the kept
    set is deterministic across engines and partitionings.  Counts only
    — no float rounding surface.
    """
    sent = df.select(
        F.col(id_col),
        F.posexplode(
            F.filter(
                F.transform(
                    F.split(normalize_text(text_col), _SENT_SPLIT),
                    # strip trailing terminal punctuation: the doc's LAST
                    # sentence keeps its ".!?" through the split (no
                    # following space) while interior ones lose it — the
                    # same sentence must hash identically either way
                    lambda x: F.regexp_replace(x, "[.!?]+$", ""),
                ),
                lambda x: F.length(x) > 0,
            )
        ).alias("pos", "s"),
    )
    w = Window.partitionBy("s").orderBy(F.col(id_col).asc(), F.col("pos").asc())
    flagged = sent.withColumn("rn", F.row_number().over(w))
    return flagged.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_sentences"),
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).alias("n_kept"),
        F.sum(F.when(F.col("rn") > 1, 1).otherwise(0)).alias("n_dropped"),
    )


def sentence_dedup_rebuild(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """The write-back sibling of :func:`sentence_dedup_stats`: rebuild
    each document's text with corpus-duplicate sentences REMOVED (keep =
    globally first occurrence by (doc_id, position), same total order),
    returning (id, n_kept, clean_text) for documents that keep at least
    one sentence — the transformation a C4-style pipeline actually ships
    to training, not just the bookkeeping counts.

    Plan: identical dedup core (one explode, one corpus-wide window
    keyed on sentence text), then ONE per-doc aggregate reassembles the
    surviving sentences in original order via an in-row array sort —
    text shuffles exactly twice (once by sentence for the global keep
    decision, once by doc for reassembly), both unavoidable for the
    semantics.
    """
    sent = df.select(
        F.col(id_col),
        F.posexplode(
            F.filter(
                F.transform(
                    F.split(normalize_text(text_col), _SENT_SPLIT),
                    lambda x: F.regexp_replace(x, "[.!?]+$", ""),
                ),
                lambda x: F.length(x) > 0,
            )
        ).alias("pos", "s"),
    )
    w = Window.partitionBy("s").orderBy(F.col(id_col).asc(), F.col("pos").asc())
    kept = sent.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    return kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "s"))),
                lambda x: x.s,
            ),
        ).alias("clean_text"),
    )


def duplicate_ngram_coverage(
    df: DataFrame, text_col: str, id_col: str, k: int = SHINGLE_WORDS
) -> DataFrame:
    """Per-document duplicate-n-gram coverage: the fraction of the doc's
    distinct k-word shingles that also occur in at least one *other*
    document — the C4/Gopher-style contamination signal used to drop
    boilerplate-heavy pages (dup_frac near 1 = the page is made of text
    the corpus already has).

    Counting distinct-per-doc occurrences (not raw repeats) means a
    doc's own internal repetition doesn't inflate its score — that
    dimension is :func:`top_ngram_stats`'s job.

    Plan: explode distinct shingles -> one gram-keyed doc-frequency
    aggregate -> join back on gram (both sides already partitioned by
    gram from the aggregate, so AQE reuses the exchange) -> one per-doc
    aggregate.  The text never moves after the explode; gram keys are
    md5-sized regardless of document length.

    Output: (id, n_grams, n_dup_grams, dup_frac) with dup_frac rounded
    through the boundary-nudged helper (count ratio).
    """
    grams = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(shingles_or_whole(text_col, k))).alias("gram"),
    )
    docs_per_gram = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("docs"))
    return (
        grams.join(docs_per_gram, "gram")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("docs") > 1, 1).otherwise(0)).alias("n_dup_grams"),
            r6n(
                F.sum(F.when(F.col("docs") > 1, 1).otherwise(0))
                / F.count(F.lit(1)).cast("double")
            ).alias("dup_frac"),
        )
    )


def term_frequencies(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, term, tf) — per-document term counts over the normalized
    whitespace tokenization.  One explode + one hash aggregate on
    (id, term); the exploded rows carry only (id, term), never the text.

    (r11: widening the (id, text) projection to session parallelism
    before the explode was tried and REVERTED — the repartition exchange
    plus its AQE stage cost MORE than the one-core tokenize it
    parallelized at bench scale: tfidf 1.26s -> 1.66s median.  The
    tokenize is ~0.25s serial here; at real corpus sizes the scan is
    already multi-partition and needs no widening at all.)"""
    tok = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("term"))
    return tok.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))


def tfidf_top_terms(
    df: DataFrame, text_col: str, id_col: str, k: int = 3
) -> DataFrame:
    """Top-k TF-IDF terms per document: tf * ln(n_docs / df), ranked per
    document by (score desc, term asc).

    Scores are rounded to 6 dp *before* ranking — ln() differs by ~1 ulp
    between libm implementations, and ranking raw doubles would let two
    mathematically-tied terms order differently across engines.

    Plan: one tf aggregate, a doc-frequency rollup of the tf table (vocab-
    sized, broadcast by AQE), a scalar n_docs cross join, one window sort
    per doc.  Nothing rescans the raw text after the first explode.

    The tf relation is an eager ``localCheckpoint`` leaf (r11): its two
    consumers (the score probe side and the doc-frequency rollup) are
    column-pruned differently by Catalyst, so exchange reuse cannot
    dedupe them and the corpus was tokenized+aggregated TWICE per run.
    At 100 TB this leaf is the tf stage table written to parquet between
    pipeline phases (localCheckpoint trades executor-loss fault
    tolerance for speed — cluster variant is a reliable checkpoint or
    stage write; acceptable inside one query the same way a cached stage
    is).
    """
    from pyspark.sql import Window

    tf = term_frequencies(df, text_col, id_col).transform(leaf)
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            # count ratio under ln() → boundary-nudged rounding
            r6n(
                F.col("tf").cast("double")
                * F.log(F.col("n_docs").cast("double") / F.col("df").cast("double"))
            ),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select(id_col, "term", "tfidf", "rk")
    )


def build_vocab(
    df: DataFrame, text_col: str, min_count: int = 1
) -> DataFrame:
    """Tokenizer-style vocabulary: (token_id, token, n_occurrences) with
    contiguous ids assigned by (count desc, token asc) — the deterministic
    id assignment every engine reproduces bit-identically (pure integer
    ordering, no floats).

    Plan: explode -> one hash aggregate, then
    :func:`~.distribution.global_rank`'s two-phase ranking (range
    repartition, parallel local ranks, broadcast per-partition offsets),
    so a web-scale vocabulary never lands on one partition.  Keys are
    unique per token, so the ids are exactly the global ``row_number``
    by (count desc, token asc).
    """
    counts = (
        df.select(F.explode(tokens(text_col)).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .where(F.col("n_occurrences") >= min_count)
    )
    order = [F.col("n_occurrences").desc(), F.col("token").asc()]
    return global_rank(counts, order, "token_id").select(
        F.col("token_id").cast("int").alias("token_id"), "token", "n_occurrences"
    )


def bm25_topk(
    df: DataFrame,
    text_col: str,
    id_col: str,
    query_terms: list[tuple[str, list[str]]],
    k: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 top-k retrieval: for each (query_id, terms) in
    ``query_terms``, the k highest-scoring documents under

        score(q, d) = sum_t idf(t) * tf * (k1+1) / (tf + k1*(1-b+b*dl/avgdl))
        idf(t)      = ln(1 + (N - df + 0.5) / (df + 0.5))

    — the standard keyword-retrieval scorer a training-data pipeline uses
    for targeted corpus probes (eval-set leakage hunts, topical slicing)
    and as the lexical leg of hybrid lexical+embedding retrieval next to
    the cosine top-k operators in operators/similarity.py.

    Plan shape (the 100 TB-safe form): ONE corpus scan feeds a (id, term,
    tf) aggregate; document length and the scalar (N, avgdl) both derive
    from that tf relation, never from a second pass over raw text.  The
    query relation and the per-term df rollup are vocabulary-sized and
    broadcast; the only corpus-sized shuffle is the (id, term) tf
    aggregate, and the final top-k is a per-query window over documents
    that matched at least one query term (an inverted-index probe, not a
    corpus-wide score-everything).

    Determinism: scores round to 6 dp (boundary-nudged, see
    functions/rounding.py) *before* ranking, and ties break on ascending
    document id — same contract as :func:`tfidf_top_terms`.
    """
    spark = df.sparkSession
    q = spark.createDataFrame(
        [(qid, t) for qid, terms in query_terms for t in terms],
        schema="query_id string, term string",
    )
    return bm25_topk_rel(df, text_col, id_col, q, k=k, k1=k1, b=b)


def bm25_topk_rel(
    df: DataFrame,
    text_col: str,
    id_col: str,
    queries: DataFrame,
    k: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """:func:`bm25_topk` with a relational query side: ``queries`` is any
    small (query_id, term) DataFrame — literal keyword sets, or terms
    derived in-plan (e.g. a query document's top TF-IDF terms for
    query-by-document / hybrid retrieval).  The query relation is
    broadcast; everything else matches :func:`bm25_topk`.

    Returns (query_id, <id_col>, score, rk) with query_id typed as the
    input relation's query_id column.
    """
    from pyspark.sql import Window

    from .rounding import r6n

    tf = term_frequencies(df, text_col, id_col)
    return bm25_topk_from_postings(tf, id_col, queries, k=k, k1=k1, b=b)


def bm25_topk_from_postings(
    postings: DataFrame,
    id_col: str,
    queries: DataFrame,
    k: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """:func:`bm25_topk_rel` scoring served from a prebuilt (id, term, tf)
    postings relation instead of raw text — the read side of an
    incremental inverted-index stage (streaming/ingest.py
    ``streaming_postings``): document lengths, N, avgdl, and df all
    derive from the postings, so BM25 over a 100 TB corpus never
    rescans text after ingest.  Exactly the relation
    :func:`term_frequencies` produces, so staged == from-raw results are
    identical by construction (pinned in tests/test_streaming_ingest.py).
    """
    from pyspark.sql import Window

    from .rounding import r6n

    tf = postings
    q = queries.select("query_id", "term")
    dl = tf.groupBy(id_col).agg(F.sum("tf").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl")
    )
    dfreq = (
        tf.join(F.broadcast(q.select("term").distinct()), "term")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    scored = (
        tf.join(F.broadcast(q), "term")
        .join(F.broadcast(dfreq), "term")
        .join(dl, id_col)
        .crossJoin(F.broadcast(stats))
    )
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs").cast("double")
    idf = F.log(
        1.0
        + (F.col("n_docs").cast("double") - F.col("df") + 0.5)
        / (F.col("df") + 0.5)
    )
    tf_d = F.col("tf").cast("double")
    contrib = idf * (
        tf_d * (k1 + 1.0)
        / (tf_d + k1 * (1.0 - b + b * F.col("dl").cast("double") / avgdl))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return (
        scored.groupBy("query_id", id_col)
        .agg(r6n(F.sum(contrib)).alias("score"))
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("query_id", id_col, "score", "rk")
    )


#: Gopher-style quality rule thresholds (Rae et al. 2021, Table A1 —
#: simplified to the subset computable identically in any SQL engine;
#: shared verbatim with the DuckDB oracle)
GOPHER_MIN_WORDS = 10
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
GOPHER_MIN_ALPHA_WORD_FRAC = 0.80
GOPHER_MIN_STOP_HITS = 2


def gopher_quality_rules(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Gopher-style RULE-based quality filter (Rae et al. 2021): the
    hard-threshold companion to the continuous :func:`quality_score` —
    production pipelines run the rule battery first (cheap, explainable
    drops) and score only the survivors.  Per document: word count,
    mean word length, alphabetic-word fraction, stopword hits, one
    boolean per rule, and the conjunctive ``keep``.

    Everything is integer/ratio arithmetic over the shared token array
    (one ``bind_once`` materialization, zero Python), so both engines
    compute literally the same booleans: ratio thresholds compare as
    cross-multiplied INTEGERS (e.g. ``sum_len*10 >= n*30`` for mean
    word length >= 3.0) — no float boundary to disagree on.
    """
    stop = F.array(*[F.lit(s) for s in STOPWORDS])

    def build(t: Column) -> Column:
        n = F.size(t)
        sum_len = F.aggregate(
            F.transform(t, lambda x: F.length(x)),
            F.lit(0),
            lambda acc, v: acc + v,
        )
        n_alpha = F.size(F.filter(t, lambda x: x.rlike("[a-z]")))
        n_stop = F.size(F.filter(t, lambda x: F.array_contains(stop, x)))
        r_words = (n >= GOPHER_MIN_WORDS) & (n <= GOPHER_MAX_WORDS)
        # 3.0 <= sum_len/n <= 10.0, as integers: 10*sum_len >= 30*n etc.
        r_wlen = (sum_len * 10 >= n * int(GOPHER_MIN_MEAN_WORD_LEN * 10)) & (
            sum_len * 10 <= n * int(GOPHER_MAX_MEAN_WORD_LEN * 10)
        )
        r_alpha = n_alpha * 100 >= n * int(GOPHER_MIN_ALPHA_WORD_FRAC * 100)
        r_stop = n_stop >= GOPHER_MIN_STOP_HITS
        return F.struct(
            n.cast("bigint").alias("n_words"),
            sum_len.cast("bigint").alias("sum_word_len"),
            n_alpha.cast("bigint").alias("n_alpha_words"),
            n_stop.cast("bigint").alias("n_stop_hits"),
            r_words.alias("ok_word_count"),
            r_wlen.alias("ok_mean_word_len"),
            r_alpha.alias("ok_alpha_frac"),
            r_stop.alias("ok_stopwords"),
            (r_words & r_wlen & r_alpha & r_stop).alias("keep"),
        )

    g = bind_once(tokens(text_col), build)
    return df.select(F.col(id_col), g.alias("g")).select(id_col, "g.*")
