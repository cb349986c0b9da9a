"""Text-analysis operators for large-scale training-data pipelines.

Beyond the reference's string accessor (/root/reference
src/series/string_accessor.rs) — these are the LLM-pipeline operators
(language ID, quality scoring, token counting, fingerprinting) that the
BASELINE.json north star calls for. All pure Spark column expressions
(JVM-side, whole-stage codegen) — no Python UDFs in the hot path, so
they run at scan speed over 100 TB of documents.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "fan_out",
    "char_entropy",
    "gopher_quality_flags",
    "tf_idf_top_terms",
    "bm25_search",
    "tokens",
    "token_count",
    "shingles",
    "stopword_hits",
    "quality_score",
    "doc_fingerprint",
    "word_shingle_udtf",
    "STOPWORDS",
    "PII_PATTERNS",
    "redact_pii",
    "corpus_ngram_duplication",
    "decontaminate",
    "chunk_documents",
    "pack_sequences",
    "remove_boilerplate_segments",
    "unigram_logprob_score",
    "bigram_lm_score",
    "c4_line_filter",
]

# Tiny per-language stopword lists used by the n-gram/stopword language
# heuristic. Deterministic and shared with the DuckDB oracle SQL.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to"),
    "de": ("der", "die", "das", "und", "ein"),
    "es": ("el", "la", "de", "y", "un"),
    "fr": ("le", "la", "de", "et", "un"),
}


from pandrs_spark.operators.util import fan_out, tracked_persist  # noqa: E402 — fan_out is re-exported


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization of lowercased text (JVM regex split)."""
    c = col if isinstance(col, Column) else F.col(col)
    return F.split(F.lower(c), "\\s+")


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


def shingles(tok: Column, k: int = 3) -> Column:
    """Word k-gram shingles from a token array.

    Built with higher-order array functions (transform/slice) so the
    whole thing stays inside codegen; guarded for docs shorter than k
    (``sequence(1, 0)`` would count *down* in Spark).
    """
    idx = F.sequence(F.lit(1), F.size(tok) - (k - 1))
    sh = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(tok, i, k)))
    return F.when(F.size(tok) >= k, sh).otherwise(
        F.array().cast("array<string>")
    )


# PII scrub patterns (training-data hygiene). Plain RE2-safe regexes —
# no lookarounds — so the identical pattern runs on Spark (Java regex)
# and DuckDB/RE2 oracles.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"https?://[^\s]+", "<URL>"),
    (r"[0-9]{6,}", "<NUM>"),
)


def redact_pii(col: Column | str) -> Column:
    """Redact emails, URLs and long digit runs with typed placeholders
    (<EMAIL>/<URL>/<NUM>) — the standard scrub pass before training-data
    release. Pure ``regexp_replace`` chain: JVM-side, codegen'd,
    map-only — no shuffle, scales linearly at 100 TB. Order matters:
    emails before digit runs (an email's numeric local part must become
    part of <EMAIL>, not <NUM>); URLs before digit runs for the same
    reason."""
    c = col if isinstance(col, Column) else F.col(col)
    for pat, repl in PII_PATTERNS:
        c = F.regexp_replace(c, pat, repl)
    return c


def chunk_documents(
    docs,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 64,
    overlap: int = 16,
):
    """Split documents into fixed-size token windows with overlap — the
    standard pre-tokenization chunking step of a training/RAG pipeline.

    Chunk k of a doc covers tokens [k·stride, k·stride + chunk_tokens)
    with stride = chunk_tokens − overlap; the final partial window is
    kept iff it adds tokens beyond the previous chunk. Pure array HOFs
    (split → sequence → transform → explode): one map-side explode, no
    shuffle, no UDF — output rows ≈ rows × (len/stride), exactly linear
    at 100 TB. Returns (id, chunk_idx, chunk_text, n_tokens).
    """
    if not (0 <= overlap < chunk_tokens):
        raise ValueError("need 0 <= overlap < chunk_tokens")
    stride = chunk_tokens - overlap
    tok = tokens(F.col(text_col))
    # number of chunks: ceil(max(len - overlap, 1) / stride)
    n_chunks = F.greatest(
        F.lit(1),
        F.ceil((F.size(tok) - F.lit(overlap)) / F.lit(stride)).cast("int"),
    )
    starts = F.sequence(F.lit(0), n_chunks - 1)
    chunks = F.transform(
        starts,
        lambda k: F.struct(
            k.alias("k"),
            F.slice(tok, k * stride + 1, chunk_tokens).alias("toks"),
        ),
    )
    ex = docs.select(
        F.col(id_col), F.explode(chunks).alias("c")
    )
    return ex.select(
        F.col(id_col),
        F.col("c.k").cast("long").alias("chunk_idx"),
        F.concat_ws(" ", F.col("c.toks")).alias("chunk_text"),
        F.size("c.toks").cast("long").alias("n_tokens"),
    )


def pack_sequences(
    df,
    token_col: str,
    budget: int,
    partition_by,
    order_by,
):
    """Concat-and-slice sequence packing: assign each doc the training
    bin where its tokens START when documents are concatenated in
    ``order_by`` order and sliced into ``budget``-token contexts — the
    standard LM-pretraining batch-shaping step (docs straddle bin
    boundaries; accounting is by start bin, the concat-slice
    convention).

    bin_id = floor((running_total − n_tokens) / budget), one window
    cumsum per shard. ``partition_by`` shards the packing (each shard
    packs independently) — that is both what real pipelines do and what
    keeps the window off the single-partition global-sort path at
    100 TB. Returns the input plus ``bin_id``.
    """
    from pyspark.sql import Window

    w = (
        Window.partitionBy(*partition_by)
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    running = F.sum(token_col).over(w)
    return df.withColumn(
        "bin_id",
        F.floor((running - F.col(token_col)) / budget).cast("long"),
    )


def corpus_ngram_duplication(
    docs, text_col: str = "text", k: int = 8
):
    """Corpus-level duplicate k-gram fraction (C4/Gopher-style corpus
    hygiene metric): 1 − distinct/total over all word k-grams. One
    explode + one aggregate; at 100 TB swap the exact COUNT(DISTINCT)
    for ``approx_count_distinct`` (same plan shape, no exact-distinct
    shuffle) — the exact form here is the oracle-matched baseline.
    Returns one row: n_grams, n_distinct, dup_fraction."""
    docs = fan_out(docs)
    grams = docs.select(
        F.explode(shingles(tokens(F.col(text_col)), k)).alias("g")
    )
    return grams.agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.countDistinct("g").alias("n_distinct"),
        F.round(
            1.0 - F.countDistinct("g") / F.count(F.lit(1)), 6
        ).alias("dup_fraction"),
    )


def decontaminate(
    docs,
    bench,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    max_overlap_frac: float = 0.0,
    carry: tuple[str, ...] = (),
):
    """Benchmark decontamination — the word-k-gram overlap rule used to
    scrub eval-set contamination from web-scale training corpora: a
    candidate document is contaminated when the fraction of its k-grams
    that also appear anywhere in the benchmark corpus exceeds
    ``max_overlap_frac`` (0.0 = any shared k-gram flags the doc).

    Shape for 100 TB: the benchmark's grams reduce to one DISTINCT
    gram table — orders of magnitude smaller than the corpus — which
    is broadcast into a map-side join against the exploded candidate
    grams; the only shuffle is the per-doc hit aggregation on
    ``id_col``. ``explode_outer`` keeps docs shorter than k tokens in
    the output (n_grams = 0, never contaminated).

    Returns one row per candidate doc:
    (id_col, *carry, n_grams, n_hits, overlap_frac, contaminated).
    """
    bench_grams = (
        fan_out(bench)
        .select(F.explode(shingles(tokens(F.col(text_col)), k)).alias("g"))
        .distinct()
        .withColumn("__hit__", F.lit(1))
    )
    doc_grams = fan_out(docs).select(
        id_col,
        *carry,
        F.explode_outer(shingles(tokens(F.col(text_col)), k)).alias("g"),
    )
    per_doc = (
        doc_grams.join(F.broadcast(bench_grams), "g", "left")
        .groupBy(id_col, *carry)
        .agg(
            F.count("g").alias("n_grams"),
            F.count("__hit__").alias("n_hits"),
        )
    )
    overlap = F.when(
        F.col("n_grams") > 0,
        F.round(F.col("n_hits") / F.col("n_grams"), 6),
    ).otherwise(F.lit(0.0))
    return per_doc.withColumn("overlap_frac", overlap).withColumn(
        "contaminated", F.col("overlap_frac") > F.lit(max_overlap_frac)
    )


def remove_boilerplate_segments(
    docs,
    text_col: str = "text",
    id_col: str = "doc_id",
    seg_words: int = 3,
    min_doc_count: int = 3,
    carry: tuple[str, ...] = (),
):
    """CCNet-style boilerplate removal: split every document into
    consecutive non-overlapping ``seg_words``-word segments, measure
    each segment's DOCUMENT frequency across the corpus, drop segments
    that occur in ``min_doc_count`` or more distinct documents
    (navigation chrome, legal footers, syndication banners — text that
    repeats across documents carries no training signal), and
    reconstruct the cleaned text in original segment order.

    Shape for 100 TB: segment document-frequency is ONE
    partial-aggregated shuffle keyed by the segment string; the
    re-join is a segment-keyed equi-join (broadcast when the frequent-
    segment table is small — it is by definition a tail of the segment
    distribution); reconstruction sorts WITHIN each document group
    (array_sort over (pos, seg) structs), never globally.

    Returns one row per input document — including documents with NULL
    text (n_segs=0, clean_text=''), which posexplode would otherwise
    silently drop (posexplode_outer keeps them as a null-segment row
    that the frequency join carries through unmatched).
    (id_col, *carry, n_segs, n_kept, n_removed, clean_text).
    """
    docs = fan_out(docs)
    tok = tokens(F.col(text_col))
    n_segs = F.ceil(F.size(tok) / F.lit(seg_words)).cast("int")
    seg_list = F.transform(
        F.sequence(F.lit(0), n_segs - 1),
        lambda i: F.concat_ws(
            " ", F.slice(tok, i * seg_words + 1, seg_words)
        ),
    )
    from pyspark import StorageLevel

    # The exploded segment table feeds both the DF aggregate and the
    # per-doc reconstruction; persist it so the corpus-wide tokenize +
    # posexplode (the dominant cost) runs ONCE, not once per consumer
    # (MEMORY_AND_DISK: at corpus scale the explosion spills, it never
    # recomputes).
    segs = tracked_persist(
        docs.select(
            id_col,
            *carry,
            F.posexplode_outer(
                F.when(n_segs > 0, seg_list).otherwise(
                    F.array().cast("array<string>")
                )
            ).alias("pos", "seg"),
        ),
        StorageLevel.MEMORY_AND_DISK,
    )
    seg_df = segs.filter(F.col("seg").isNotNull()).groupBy("seg").agg(
        F.countDistinct(id_col).alias("__df__")
    )
    # One aggregate computes totals, kept counts AND the ordered
    # reconstruction (collect_list drops the nulls that when() leaves
    # for boilerplate segments). The frequency join is LEFT so the
    # null-segment rows posexplode_outer emits for tokenless docs
    # survive (count("seg")/count(when) both ignore them, yielding
    # n_segs=0); for real segments it always matches, same cost.
    keep = F.col("__df__") < min_doc_count
    return (
        segs.join(seg_df, "seg", "left")
        .groupBy(id_col, *carry)
        .agg(
            F.count(F.col("seg")).alias("n_segs"),
            F.count(F.when(keep, 1)).alias("n_kept"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(keep, F.struct("pos", "seg"))
                        )
                    ),
                    lambda s: s["seg"],
                ),
            ).alias("clean_text"),
        )
        .select(
            id_col,
            *carry,
            "n_segs",
            "n_kept",
            (F.col("n_segs") - F.col("n_kept")).alias("n_removed"),
            "clean_text",
        )
    )


def unigram_logprob_score(
    docs,
    text_col: str = "text",
    id_col: str = "doc_id",
    carry: tuple[str, ...] = (),
    scale: int = 9,
):
    """Corpus-unigram language-model quality score (the CCNet/Wikipedia-
    LM perplexity-filter shape, computed against the corpus's OWN
    unigram distribution): per document, the mean negative log
    probability of its tokens, ``ln(total) − mean(ln(count_w))``.
    Low scores = made of common words; high scores = rare/garbled
    vocabulary — the standard cheap quality-filter signal.

    Shape for 100 TB: the LM is one partial-aggregated groupBy on the
    token (vocabulary-bounded output, broadcastable); scoring is a
    map-side broadcast join + one per-doc aggregate. The per-doc mean
    folds quantized ``ln(count)`` values exactly (scaled-BIGINT sums),
    so the result is partition-order independent.

    Returns (id_col, *carry, n_tokens, neg_logprob).
    """
    from pandrs_spark.functions.deterministic import dsum

    from pyspark import StorageLevel

    # tok feeds both the LM build and the scoring join — persist so the
    # corpus-wide explode runs once (MEMORY_AND_DISK spills at scale,
    # it never recomputes).
    tok = tracked_persist(
        fan_out(docs)
        .select(
            id_col, *carry, F.explode(tokens(F.col(text_col))).alias("w")
        )
        .filter(F.col("w") != ""),
        StorageLevel.MEMORY_AND_DISK,
    )
    lm = tok.groupBy("w").agg(F.count(F.lit(1)).alias("__cnt__"))
    total = lm.agg(F.sum("__cnt__").alias("__total__"))
    scored = (
        tok.join(F.broadcast(lm), "w")
        .groupBy(id_col, *carry)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            dsum(F.log(F.col("__cnt__")), scale).alias("__slog__"),
        )
        .crossJoin(F.broadcast(total))
    )
    return scored.select(
        id_col,
        *carry,
        "n_tokens",
        (
            F.log(F.col("__total__").cast("double"))
            - F.col("__slog__") / F.col("n_tokens")
        ).alias("neg_logprob"),
    )


def stopword_hits(tok: Column, words: tuple[str, ...]) -> Column:
    """Number of tokens that are in the given stopword list."""
    return F.size(F.filter(tok, lambda t: t.isin(*words)))


def quality_score(col: Column | str) -> Column:
    """Composite doc-quality score in [0, 1]:
    0.4 * length factor + 0.3 * type-token ratio + 0.3 * stopword presence.

    Mirrors the shape of heuristic quality filters used in web-scale
    corpus cleaning; every term is a plain column expression.
    """
    tok = tokens(col)
    n = F.size(tok)
    length_factor = F.least(n / F.lit(50.0), F.lit(1.0))
    ttr = F.size(F.array_distinct(tok)) / n
    stop = F.least(
        stopword_hits(tok, STOPWORDS["en"]) / F.lit(5.0), F.lit(1.0)
    )
    return F.round(0.4 * length_factor + 0.3 * ttr + 0.3 * stop, 6)


def doc_fingerprint(col: Column | str) -> Column:
    """Deterministic content fingerprint: md5 of whitespace-normalized
    lowercased text (exact-dedup key)."""
    c = col if isinstance(col, Column) else F.col(col)
    return F.md5(F.regexp_replace(F.trim(F.lower(c)), "\\s+", " "))


def word_shingle_udtf():
    """Python UDTF (SURVEY §2.15 — the reference has no table functions;
    Spark's UDTF closes the gap) that explodes a document into k-word
    shingles with positions. Arrow-optimized; one output row per
    shingle. Returned class is registered by the caller:

        spark.udtf.register("shingles", word_shingle_udtf())
        spark.sql("SELECT s.* FROM documents, LATERAL shingles(text, 3) s")
    """
    from pyspark.sql.functions import udtf

    # useArrow: plans as ArrowEvalPythonUDTF (vectorized batch
    # transfer) instead of row-pickled BatchEvalPythonUDTF — the
    # registry-wide UDF plan fence pins this.
    @udtf(returnType="pos int, shingle string", useArrow=True)
    class WordShingles:
        def eval(self, text: str, k: int):  # noqa: D401
            if text is None:
                return
            words = text.split()
            for i in range(len(words) - k + 1):
                yield i, " ".join(words[i : i + k])

    return WordShingles


def char_entropy(col: Column | str) -> Column:
    """Shannon entropy (bits/char) of the character distribution — the
    gibberish/corruption filter for training-text pipelines (natural
    text sits ~3.5-4.5 bits; constant-char spam near 0, random base64
    near 6). Pure higher-order-function expression: per-row, map-side,
    NO shuffle — O(len x distinct_chars) per row inside codegen.
    Distinct chars are sorted before the fold so the float summation
    order (and therefore the result) is engine-independent.
    """
    c = F.col(col) if isinstance(col, str) else col
    cs = F.split(c, "")
    n = F.size(cs)
    uniq = F.array_sort(F.array_distinct(cs))

    def term(ch):
        cnt = F.size(F.filter(cs, lambda x: x == ch))
        p = cnt / n
        return -p * F.log2(p)

    return F.aggregate(
        F.transform(uniq, term), F.lit(0.0), lambda acc, v: acc + v
    )


def gopher_quality_flags(col: Column | str, k: int = 3) -> Column:
    """Gopher/RefinedWeb-style repetition + shape signals as one struct
    (mean_word_len, frac_alpha_words, dup_ngram_frac). All per-row HOF
    expressions — the whole rule pack is a map-side projection, so at
    corpus scale it composes with pushdown and costs one scan.
    """
    tok = tokens(col)
    n = F.size(tok)
    mean_word_len = (
        F.aggregate(
            F.transform(tok, F.length), F.lit(0), lambda acc, v: acc + v
        )
        / n
    )
    frac_alpha = F.size(F.filter(tok, lambda t: t.rlike("^[a-z]+$"))) / n
    sh = shingles(tok, k)
    dup_frac = F.when(
        F.size(sh) > 0,
        1.0 - F.size(F.array_distinct(sh)) / F.size(sh),
    ).otherwise(0.0)
    return F.struct(
        mean_word_len.alias("mean_word_len"),
        frac_alpha.alias("frac_alpha_words"),
        dup_frac.alias("dup_ngram_frac"),
    )


def top_ngram_fraction(col: Column | str, k: int = 2) -> Column:
    """Fraction of word k-gram occurrences taken by the single most
    frequent k-gram in the document — the Gopher/RefinedWeb "top
    n-gram" repetition rule, complementing
    :func:`gopher_quality_flags`'s duplicate-n-gram fraction (a
    distinct-ratio, which cannot distinguish one dominant n-gram from
    many mild repeats).

    Pure higher-order-function projection, zero shuffle: the mode
    count is a single fold over the SORTED shingle array (longest
    equal-run), O(n log n) per row. The naive distinct×filter nesting
    re-evaluates the inline shingle array for every distinct element —
    measured 17× slower at sf0.01 — so the run-length formulation is
    the production path. At corpus scale the whole rule costs one
    map-side scan and composes with column pruning, like the rest of
    the quality-rule pack. No text module exists in the reference —
    this is LLM-pipeline surface built beyond it (C4/Gopher rule
    methodology, public).
    """
    sh = F.array_sort(shingles(tokens(col), k))
    top = F.aggregate(
        sh,
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1)
            .otherwise(F.lit(1))
            .alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    return F.when(F.size(sh) > 0, top / F.size(sh)).otherwise(F.lit(0.0))


def tf_idf_top_terms(
    df, text_col: str, id_col: str, top_k: int = 3
):
    """TF-IDF with the raw-count/ln(N/df) formulation, returning the
    ``top_k`` highest-scoring terms per document (ties break
    lexicographically). Three aggregations — term counts per doc,
    document frequency per term, corpus size — all partial-aggregated;
    the per-doc ranking is one window over the (doc, term) table.
    """
    from pyspark.sql import Window

    tok = fan_out(df).select(
        F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("term")
    ).filter(F.col("term") != "")
    tf = tok.groupBy("id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.select(id_col).distinct().count()
    scored = tf.join(dfreq, "term").select(
        "id",
        "term",
        "tf",
        (F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df"))).alias("tfidf"),
    )
    w = Window.partitionBy("id").orderBy(F.col("tfidf").desc(), "term")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select("id", "rank", "term", "tf", "tfidf")
    )


def _dsum9(col):
    # per-doc term-score sums are tiny but float-order-dependent across
    # partitionings; quantize so ranking is engine-deterministic
    from pandrs_spark.functions.deterministic import dsum

    return dsum(col, 9)


def bm25_search(
    df, text_col: str, id_col: str, query_terms, k1: float = 1.2, b: float = 0.75, top_k: int = 10
):
    """BM25 ranking of documents against a bag of query terms (the
    lexical-retrieval standard; pairs with the embedding ANN operators
    for hybrid search). Same tf/df aggregations as TF-IDF plus a
    per-doc length normalization; the query term set is a broadcast
    filter so scoring touches only postings of the query terms.
    """
    from pyspark.sql import Window

    tok = fan_out(df).select(
        F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("term")
    ).filter(F.col("term") != "")
    doclen = tok.groupBy("id").agg(F.count(F.lit(1)).alias("dl"))
    n_docs = df.select(id_col).distinct().count()
    avg_dl = doclen.agg((F.sum("dl") / F.count(F.lit(1))).alias("a")).first()["a"]
    qt = [t.lower() for t in query_terms]
    tf = (
        tok.filter(F.col("term").isin(qt))
        .groupBy("id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .join(doclen, "id")
        .select(
            "id",
            (
                idf
                * (F.col("tf") * (k1 + 1))
                / (
                    F.col("tf")
                    + k1 * (1 - b + b * F.col("dl") / F.lit(float(avg_dl)))
                )
            ).alias("s"),
        )
        .groupBy("id")
        .agg(_dsum9("s").alias("bm25"))
    )
    # Global top-k via orderBy().limit(k) — Spark plans TakeOrdered
    # (per-partition heaps, k rows to the driver-side merge), NOT the
    # old partitionless row_number window that funneled EVERY scored
    # document into one task. Ranks are then attached by a window over
    # only the k survivors (bounded: k rows).
    topk = scored.orderBy(F.col("bm25").desc(), "id").limit(top_k)
    w = Window.orderBy(F.col("bm25").desc(), "id")
    return (
        topk.withColumn("rank", F.row_number().over(w))
        .select("rank", "id", "bm25")
    )


def bigram_lm_score(
    docs,
    text_col: str = "text",
    id_col: str = "doc_id",
    lam: float = 0.7,
    scale: int = 9,
):
    """Interpolated bigram language-model score against the corpus's
    OWN distribution — the stronger sibling of
    :func:`unigram_logprob_score` (the CCNet/KenLM perplexity-filter
    shape, one order up): per document with >=2 tokens, the mean
    negative log probability of each transition under

        p(cur | prev) = lam * c(prev,cur)/c(prev)
                        + (1-lam) * c(cur)/N

    (fixed-weight Jelinek-Mercer interpolation). Low = fluent,
    repetitive-common text; high = rare or scrambled transitions — a
    cheap fluency signal that unigram models can't see (word-salad
    permutations keep their unigram score but blow up here).

    Shape for 100 TB: the unigram and bigram tables are single
    partial-aggregated groupBys (vocabulary- / observed-bigram-bounded,
    broadcast when they fit, plain shuffle equi-joins when not);
    scoring is three map-side lookups + one per-doc aggregate. Per-doc
    sums fold quantized ln p exactly (scaled-BIGINT), so results are
    partition-order independent. Docs with <2 tokens have no
    transitions and are omitted (the caller unions them back with a
    default score if needed).

    Returns (id_col, n_bigrams, neg_logprob). The reference has no
    text-quality module; this follows the published CCNet
    bigram-LM direction (Wenzek et al. 2020, public).
    """
    from pandrs_spark.functions.deterministic import dsum

    from pyspark import StorageLevel

    ws = F.filter(tokens(F.col(text_col)), lambda w: w != "")
    base = fan_out(docs).select(id_col, ws.alias("__ws__"))

    # token instances feed the unigram LM AND the per-position scoring
    # join; bigram instances feed the bigram LM AND scoring. Persist
    # both so each corpus-wide explode runs once.
    tok = tracked_persist(
        base.select(id_col, F.explode("__ws__").alias("w")),
        StorageLevel.MEMORY_AND_DISK,
    )
    uni = tok.groupBy("w").agg(F.count(F.lit(1)).alias("__cu__"))
    total = tok.agg(F.count(F.lit(1)).alias("__n__"))

    bg = tracked_persist(
        base.filter(F.size("__ws__") >= 2)
        .select(
            id_col,
            F.explode(shingles(F.col("__ws__"), 2)).alias("bg"),
        )
        .select(
            id_col,
            F.split("bg", " ").getItem(0).alias("prev"),
            F.split("bg", " ").getItem(1).alias("cur"),
        ),
        StorageLevel.MEMORY_AND_DISK,
    )
    bgc = bg.groupBy("prev", "cur").agg(F.count(F.lit(1)).alias("__cb__"))

    up = uni.select(F.col("w").alias("prev"), F.col("__cu__").alias("__cup__"))
    uc = uni.select(F.col("w").alias("cur"), F.col("__cu__").alias("__cuc__"))
    # (lam*cb)/c_prev + ((1-lam)*c_cur)/N with explicit left-assoc
    # double arithmetic — the DuckDB oracle spells the identical
    # expression, so both engines produce the same IEEE doubles.
    p = (
        F.lit(float(lam)) * F.col("__cb__").cast("double") / F.col("__cup__").cast("double")
        + F.lit(round(1.0 - lam, 12)) * F.col("__cuc__").cast("double") / F.col("__n__").cast("double")
    )
    scored = (
        bg.join(F.broadcast(bgc), ["prev", "cur"])
        .join(F.broadcast(up), "prev")
        .join(F.broadcast(uc), "cur")
        .crossJoin(F.broadcast(total))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            dsum(F.log(p), scale).alias("__slp__"),
        )
    )
    return scored.select(
        id_col,
        "n_bigrams",
        (-(F.col("__slp__") / F.col("n_bigrams"))).alias("neg_logprob"),
    )


# C4 cleaning rules (Raffel et al. 2020, "Exploring the Limits of
# Transfer Learning", §2.2) — the line-level filter battery applied to
# Common Crawl before T5 training. Shared verbatim with the DuckDB
# oracle: terminal-punctuation set, min words per line, line blacklist,
# document blacklist.
C4_MIN_WORDS_PER_LINE = 5
C4_LINE_BLACKLIST = ("javascript",)
C4_DOC_BLACKLIST = ("lorem ipsum", "{")


def c4_line_filter(
    docs,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = C4_MIN_WORDS_PER_LINE,
):
    """C4-style line-level cleaning (the other canonical rule battery
    next to :func:`gopher_quality_flags`, which is document-level):

    - keep only lines that end in terminal punctuation (. ! ? ")
      after trimming;
    - keep only lines with >= ``min_words`` whitespace words;
    - drop lines containing "javascript" (case-insensitive);
    - drop the WHOLE document if it contains "lorem ipsum"
      (case-insensitive) or a curly brace (code leakage).

    Entirely array higher-order functions + regexes over the split
    lines: map-only, zero shuffle, whole-stage codegen — the filter
    battery runs at scan speed on 100 TB. Returns one row per input
    doc: (id_col, n_lines, n_kept, doc_dropped, clean_text) where
    clean_text is the kept lines re-joined with newline ('' when the
    doc-level blacklist fires).
    """
    c = F.col(text_col)
    lines = F.split(c, "\n")
    t = lambda l: F.trim(l)  # noqa: E731
    kept = F.filter(
        lines,
        lambda l: t(l).rlike('[.!?"]$')
        & (
            F.size(F.filter(F.split(t(l), "\\s+"), lambda w: w != ""))
            >= F.lit(int(min_words))
        )
        & ~F.contains(F.lower(l), F.lit(C4_LINE_BLACKLIST[0])),
    )
    doc_dropped = (
        F.contains(F.lower(c), F.lit(C4_DOC_BLACKLIST[0]))
        | F.contains(c, F.lit(C4_DOC_BLACKLIST[1]))
    )
    return docs.select(
        id_col,
        F.size(lines).cast("bigint").alias("n_lines"),
        F.when(doc_dropped, F.lit(0))
        .otherwise(F.size(kept))
        .cast("bigint")
        .alias("n_kept"),
        doc_dropped.alias("doc_dropped"),
        F.when(doc_dropped, F.lit(""))
        .otherwise(F.array_join(kept, "\n"))
        .alias("clean_text"),
    )
