"""Text tier II: lexical-stylometry and readability queries split into
their own module at the round-8 file-hygiene boundary (queries/text.py
crossed the 6k-line cap): the classic vocabulary-richness constants
(Yule 1944, Honoré 1979, Sichel 1975, Brunet 1978), syllable-free
readability formulas (ARI, Coleman-Liau 1975, Björnsson's LIX/RIX
1968), Gries (2008) DP dispersion, Hill (1973) diversity numbers and
Rychlý (2008) logDice collocations — all public methodology.

The reference ships no text-analysis module — these queries are
LLM-pipeline surface built beyond it from the cited public papers; the HOW here is pure DataFrame algebra:
one explode → one frequency groupBy per query, frequency-of-frequency
spectra with bounded support, broadcast marginals for collocation
scoring. Nothing driver-side, nothing pairwise-unbounded — at 100 TB
every query is the canonical map-side-combined token rollup.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pandrs_spark.catalog import load_table as T
from pandrs_spark.functions.deterministic import dsum, quantize, sql_quantize
from pandrs_spark.queries import query

_WS = "string_split_regex(lower(text), '\\s+')"

# Word-frequency table shared by the richness/diversity tier.
_WFREQ_SQL = f"""
    toks AS MATERIALIZED (
        SELECT unnest({_WS}) AS w FROM documents
    ),
    freq AS MATERIALIZED (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY w
    )
"""


def _wfreq(spark, sf_dir):
    """(w, c) corpus word-frequency rollup — one explode + one
    map-side-combined groupBy, the shared base of q645/q646/q649."""
    docs = T(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split(F.lower("text"), r"\s+")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )


# --- q645: Yule's characteristic K (1944) + Simpson's repeat rate of
# the word-unigram distribution — K = 10⁴·(Σc² − N)/N², D =
# (Σc² − N)/(N(N−1)): the text-is-by-this-author constants that are
# (unlike TTR) independent of corpus length. Both derive from the two
# exact integer sums (N, Σc²) of one frequency rollup. --------------------------
@query(
    "q645_yule_k_simpson_d",
    oracle=f"""
    WITH {_WFREQ_SQL},
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS v,
               CAST(SUM(c) AS BIGINT) AS n,
               CAST(SUM(CAST(c AS HUGEINT) * c) AS BIGINT) AS s2
        FROM freq
    )
    SELECT v AS vocab, n AS n_tokens,
           CAST({sql_quantize(
               '1e4 * (CAST(s2 AS DOUBLE) - n) / (CAST(n AS DOUBLE) * n)',
               6)} AS DOUBLE) / 1e6 AS yule_k,
           CAST({sql_quantize(
               '(CAST(s2 AS DOUBLE) - n)'
               ' / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))', 9)}
               AS DOUBLE) / 1e9 AS simpson_d
    FROM s
    """,
)
def q645(spark, sf_dir):
    freq = _wfreq(spark, sf_dir)
    s = freq.agg(
        F.count(F.lit(1)).cast("long").alias("v"),
        F.sum("c").cast("long").alias("n"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("s2"),
    )
    n_d = F.col("n").cast("double")
    return s.select(
        F.col("v").alias("vocab"),
        F.col("n").alias("n_tokens"),
        (
            quantize(
                1e4 * (F.col("s2").cast("double") - F.col("n")) / (n_d * n_d),
                6,
            )
            / 1e6
        ).alias("yule_k"),
        (
            quantize(
                (F.col("s2").cast("double") - F.col("n")) / (n_d * (n_d - 1.0)),
                9,
            )
            / 1e9
        ).alias("simpson_d"),
    )


# --- q646: Honoré's R (1979), Sichel's S (1975) and Brunet's W (1978)
# — the hapax-legomena family of vocabulary-richness constants:
# R = 100·ln(N)/(1 − V₁/V), S = V₂/V, W = N^(V^−0.165). V₁/V₂ come
# from the frequency-of-frequency spectrum (bounded support); R is
# NULL when every word is a hapax (V₁ = V, the divide-by-zero
# degenerate, same NULL-on-degenerate convention as logrank_test). --------------
@query(
    "q646_honore_sichel_brunet",
    oracle=f"""
    WITH {_WFREQ_SQL},
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS v,
               CAST(SUM(c) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS v1,
               CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS v2
        FROM freq
    )
    SELECT v AS vocab, n AS n_tokens, v1 AS hapax, v2 AS dis_legomena,
           CASE WHEN v1 < v THEN CAST({sql_quantize(
               '100.0 * LN(CAST(n AS DOUBLE))'
               ' / (1.0 - CAST(v1 AS DOUBLE) / v)', 6)} AS DOUBLE) / 1e6
           END AS honore_r,
           CAST({sql_quantize('CAST(v2 AS DOUBLE) / v', 9)} AS DOUBLE) / 1e9
               AS sichel_s,
           CAST({sql_quantize(
               'POW(CAST(n AS DOUBLE), POW(CAST(v AS DOUBLE), -0.165))',
               6)} AS DOUBLE) / 1e6 AS brunet_w
    FROM s
    """,
)
def q646(spark, sf_dir):
    freq = _wfreq(spark, sf_dir)
    s = freq.agg(
        F.count(F.lit(1)).cast("long").alias("v"),
        F.sum("c").cast("long").alias("n"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("long").alias("v1"),
        F.sum(F.when(F.col("c") == 2, 1).otherwise(0)).cast("long").alias("v2"),
    )
    return s.select(
        F.col("v").alias("vocab"),
        F.col("n").alias("n_tokens"),
        F.col("v1").alias("hapax"),
        F.col("v2").alias("dis_legomena"),
        F.when(
            F.col("v1") < F.col("v"),
            quantize(
                100.0
                * F.log(F.col("n").cast("double"))
                / (1.0 - F.col("v1").cast("double") / F.col("v")),
                6,
            )
            / 1e6,
        ).alias("honore_r"),
        (quantize(F.col("v2").cast("double") / F.col("v"), 9) / 1e9).alias(
            "sichel_s"
        ),
        (
            quantize(
                F.pow(
                    F.col("n").cast("double"),
                    F.pow(F.col("v").cast("double"), -0.165),
                ),
                6,
            )
            / 1e6
        ).alias("brunet_w"),
    )


# --- q647: syllable-free readability battery per source — ARI (4.71
# chars/word + 0.5 words/sentence − 21.43), Coleman-Liau (0.0588·L −
# 0.296·S − 15.8 with L/S per-100-words), Björnsson's LIX
# (words/sentence + 100·longwords/words, longword > 6 chars) and RIX
# (longwords/sentence) — the formulas that need only character / word
# / sentence counts, complementing q447's syllable-based Flesch.
# Sentences = max(1, terminal-punct count) per document; all counts
# are exact integers partial-aggregated per source. ------------------------------
@query(
    "q647_readability_battery",
    oracle=f"""
    WITH d AS MATERIALIZED (
        SELECT source,
               {_WS} AS w,
               GREATEST(1, len(regexp_extract_all(text, '[.!?]'))) AS sents
        FROM documents
    ),
    per AS MATERIALIZED (
        SELECT source,
               CAST(len(w) AS BIGINT) AS words,
               CAST(list_sum(list_transform(w, x -> len(x))) AS BIGINT)
                   AS chars,
               CAST(len(list_filter(w, x -> len(x) > 6)) AS BIGINT)
                   AS longw,
               CAST(sents AS BIGINT) AS sents
        FROM d
    ),
    s AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(words) AS BIGINT) AS tw,
               CAST(SUM(chars) AS BIGINT) AS tc,
               CAST(SUM(longw) AS BIGINT) AS tl,
               CAST(SUM(sents) AS BIGINT) AS ts
        FROM per GROUP BY source
    )
    SELECT source, n_docs,
           CAST({sql_quantize(
               '4.71 * (CAST(tc AS DOUBLE) / tw)'
               ' + 0.5 * (CAST(tw AS DOUBLE) / ts) - 21.43', 6)}
               AS DOUBLE) / 1e6 AS ari,
           CAST({sql_quantize(
               '0.0588 * (100.0 * CAST(tc AS DOUBLE) / tw)'
               ' - 0.296 * (100.0 * CAST(ts AS DOUBLE) / tw) - 15.8', 6)}
               AS DOUBLE) / 1e6 AS coleman_liau,
           CAST({sql_quantize(
               'CAST(tw AS DOUBLE) / ts + 100.0 * CAST(tl AS DOUBLE) / tw',
               6)} AS DOUBLE) / 1e6 AS lix,
           CAST({sql_quantize('CAST(tl AS DOUBLE) / ts', 6)}
               AS DOUBLE) / 1e6 AS rix
    FROM s
    """,
)
def q647(spark, sf_dir):
    docs = T(spark, sf_dir, "documents")
    d = docs.select(
        "source",
        F.split(F.lower("text"), r"\s+").alias("w"),
        F.greatest(
            F.lit(1), F.size(F.expr("regexp_extract_all(text, '[.!?]', 0)"))
        ).alias("sents"),
    )
    per = d.select(
        "source",
        F.size("w").cast("long").alias("words"),
        F.expr("aggregate(w, 0L, (a, x) -> a + length(x))").alias("chars"),
        F.size(F.expr("filter(w, x -> length(x) > 6)"))
        .cast("long")
        .alias("longw"),
        F.col("sents").cast("long").alias("sents"),
    )
    s = per.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("words").cast("long").alias("tw"),
        F.sum("chars").cast("long").alias("tc"),
        F.sum("longw").cast("long").alias("tl"),
        F.sum("sents").cast("long").alias("ts"),
    )
    tw = F.col("tw").cast("double")
    tc = F.col("tc").cast("double")
    tl = F.col("tl").cast("double")
    ts = F.col("ts").cast("double")
    return s.select(
        "source",
        "n_docs",
        (quantize(4.71 * (tc / tw) + 0.5 * (tw / ts) - 21.43, 6) / 1e6).alias(
            "ari"
        ),
        (
            quantize(
                0.0588 * (100.0 * tc / tw) - 0.296 * (100.0 * ts / tw) - 15.8,
                6,
            )
            / 1e6
        ).alias("coleman_liau"),
        (quantize(tw / ts + 100.0 * tl / tw, 6) / 1e6).alias("lix"),
        (quantize(tl / ts, 6) / 1e6).alias("rix"),
    )


# --- q648: Gries (2008) "deviation of proportions" DP for the top-20
# corpus terms — DP_w = ½·Σ_s |v_ws/f_w − size_s/N|: 0 means the word
# is spread across sources exactly like the text mass, →1 means it
# clumps in one source (the dispersion complement of q429's
# burstiness, which measures clumping across DOCUMENTS). Zero cells
# matter (|0 − s_s|), so the bounded top-20 × source grid is
# materialized with a left join. ------------------------------------------------
@query(
    "q648_gries_dp_dispersion",
    oracle=f"""
    WITH toks AS MATERIALIZED (
        SELECT source, unnest({_WS}) AS w FROM documents
    ),
    cell AS MATERIALIZED (
        SELECT source, w, CAST(COUNT(*) AS BIGINT) AS v
        FROM toks GROUP BY source, w
    ),
    sizes AS (
        SELECT source, CAST(SUM(v) AS BIGINT) AS sz FROM cell GROUP BY source
    ),
    wf AS (
        SELECT w, CAST(SUM(v) AS BIGINT) AS f FROM cell GROUP BY w
    ),
    tot AS (SELECT CAST(SUM(sz) AS BIGINT) AS n FROM sizes),
    top20 AS (
        SELECT w, f FROM wf ORDER BY f DESC, w LIMIT 20
    ),
    grid AS (
        SELECT t.w, t.f, s.source, s.sz, COALESCE(c.v, 0) AS v
        FROM top20 t
        CROSS JOIN sizes s
        LEFT JOIN cell c ON c.w = t.w AND c.source = s.source
    )
    SELECT g.w AS word, MIN(g.f) AS freq,
           CAST({sql_quantize(
               '0.5 * CAST(SUM(' + sql_quantize(
                   'ABS(CAST(g.v AS DOUBLE) / g.f'
                   ' - CAST(g.sz AS DOUBLE) / tot.n)', 9)
               + ') AS DOUBLE) / 1e9', 6)} AS DOUBLE) / 1e6 AS gries_dp
    FROM grid g, tot
    GROUP BY g.w
    """,
)
def q648(spark, sf_dir):
    from pandrs_spark.operators.util import tracked_persist

    docs = T(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(F.split(F.lower("text"), r"\s+")).alias("w")
    )
    cell = tracked_persist(
        toks.groupBy("source", "w").agg(
            F.count(F.lit(1)).cast("long").alias("v")
        )
    )
    sizes = cell.groupBy("source").agg(F.sum("v").cast("long").alias("sz"))
    wf = cell.groupBy("w").agg(F.sum("v").cast("long").alias("f"))
    tot = sizes.agg(F.sum("sz").cast("long").alias("n"))
    top20 = wf.orderBy(F.desc("f"), F.asc("w")).limit(20)
    grid = (
        F.broadcast(top20)
        .crossJoin(F.broadcast(sizes))
        .join(cell, ["w", "source"], "left")
        .na.fill({"v": 0})
        .crossJoin(F.broadcast(tot))
    )
    term = F.abs(
        F.col("v").cast("double") / F.col("f")
        - F.col("sz").cast("double") / F.col("n")
    )
    g = grid.groupBy("w").agg(
        F.min("f").alias("freq"),
        (0.5 * F.sum(quantize(term, 9)).cast("double") / 1e9).alias("dp"),
    )
    return g.select(
        F.col("w").alias("word"),
        "freq",
        (quantize("dp", 6) / 1e6).alias("gries_dp"),
    )


# --- q649: Hill (1973) diversity numbers of the word distribution —
# the unified profile ⁰D = V (richness), ¹D = exp(Shannon) (typical
# vocabulary), ²D = 1/Σp² (inverse Simpson, dominant vocabulary): the
# three points that together say whether the corpus' diversity lives
# in its head or its tail. One frequency rollup; the Σp·ln p and Σp²
# sums are quantized per-word then exactly aggregated. --------------------------
@query(
    "q649_hill_diversity_profile",
    oracle=f"""
    WITH {_WFREQ_SQL},
    nn AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM freq),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS v,
               CAST(SUM({sql_quantize(
                   '-(CAST(c AS DOUBLE) / nn.n)'
                   ' * LN(CAST(c AS DOUBLE) / nn.n)', 12)})
                    AS DOUBLE) / 1e12 AS sh,
               CAST(SUM({sql_quantize(
                   '(CAST(c AS DOUBLE) / nn.n)'
                   ' * (CAST(c AS DOUBLE) / nn.n)', 15)})
                    AS DOUBLE) / 1e15 AS p2
        FROM freq, nn
    )
    SELECT v AS hill_0,
           CAST({sql_quantize('EXP(sh)', 4)} AS DOUBLE) / 1e4 AS hill_1,
           CAST({sql_quantize('1.0 / p2', 4)} AS DOUBLE) / 1e4 AS hill_2
    FROM s
    """,
)
def q649(spark, sf_dir):
    freq = _wfreq(spark, sf_dir)
    nn = freq.agg(F.sum("c").cast("long").alias("n"))
    p = F.col("c").cast("double") / F.col("n")
    s = freq.crossJoin(F.broadcast(nn)).agg(
        F.count(F.lit(1)).cast("long").alias("v"),
        dsum(-p * F.log(p), 12).alias("sh"),
        dsum(p * p, 15).alias("p2"),
    )
    return s.select(
        F.col("v").alias("hill_0"),
        (quantize(F.exp(F.col("sh")), 4) / 1e4).alias("hill_1"),
        (quantize(1.0 / F.col("p2"), 4) / 1e4).alias("hill_2"),
    )


# --- q650: Rychlý (2008) logDice collocations — logDice = 14 +
# log₂(2·f_ab/(f_a + f_b)): the bounded-scale (≤14), corpus-size-
# independent collocation measure that completes the PMI (q375, rare-
# pair-biased) / Dunning G² (q568, significance-not-effect) trio.
# Top-15 bigrams with f_ab ≥ 30, ties broken by bigram text; unigram
# marginals join by equi-key (shuffle-safe at any corpus size — the
# candidate set after the count gate is the only sorted thing). -----------------
@query(
    "q650_logdice_collocations",
    oracle=f"""
    WITH toks AS MATERIALIZED (
        SELECT {_WS} AS w FROM documents
    ),
    uni AS MATERIALIZED (
        SELECT unnest(w) AS t FROM toks
    ),
    uf AS MATERIALIZED (
        SELECT t, CAST(COUNT(*) AS BIGINT) AS f FROM uni GROUP BY t
    ),
    big AS MATERIALIZED (
        SELECT w[i] AS a, w[i + 1] AS b
        FROM toks, UNNEST(generate_series(1, len(w) - 1)) AS g(i)
        WHERE len(w) >= 2
    ),
    bf AS MATERIALIZED (
        SELECT a, b, CAST(COUNT(*) AS BIGINT) AS fab
        FROM big GROUP BY a, b
        HAVING COUNT(*) >= 30
    ),
    scored AS (
        SELECT a || ' ' || b AS bigram, fab,
               14.0 + log2(2.0 * CAST(fab AS DOUBLE) / (fa.f + fb.f))
                   AS ld
        FROM bf
        JOIN uf fa ON fa.t = bf.a
        JOIN uf fb ON fb.t = bf.b
    )
    SELECT bigram, fab AS pair_count,
           CAST({sql_quantize('ld', 6)} AS DOUBLE) / 1e6 AS logdice
    FROM scored
    ORDER BY ld DESC, bigram
    LIMIT 15
    """,
)
def q650(spark, sf_dir):
    docs = T(spark, sf_dir, "documents")
    toks = docs.select(F.split(F.lower("text"), r"\s+").alias("w"))
    uf = (
        toks.select(F.explode("w").alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).cast("long").alias("f"))
    )
    big = toks.filter(F.size("w") >= 2).select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(w) - 1),"
                " i -> struct(w[i-1] AS a, w[i] AS b))"
            )
        ).alias("p")
    )
    bf = (
        big.select("p.a", "p.b")
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("fab"))
        .filter(F.col("fab") >= 30)
    )
    fa = uf.select(F.col("t").alias("a"), F.col("f").alias("fa"))
    fb = uf.select(F.col("t").alias("b"), F.col("f").alias("fb"))
    scored = (
        bf.join(fa, "a")
        .join(fb, "b")
        .select(
            F.concat_ws(" ", "a", "b").alias("bigram"),
            F.col("fab"),
            (
                14.0
                + F.log2(
                    2.0 * F.col("fab").cast("double")
                    / (F.col("fa") + F.col("fb"))
                )
            ).alias("ld"),
        )
    )
    return (
        scored.orderBy(F.desc("ld"), F.asc("bigram"))
        .limit(15)
        .select(
            "bigram",
            F.col("fab").alias("pair_count"),
            (quantize("ld", 6) / 1e6).alias("logdice"),
        )
    )


# --- q687: Burrows' Delta (2002) stylometric distance between
# sources — z-score the relative frequencies of the top-15 corpus
# words across sources, Delta(a,b) = mean_w |z_wa − z_wb|: the
# standard authorship-attribution distance, here reading "source" as
# the author. One token rollup feeds a bounded 15-word × source grid
# (zero cells included — absence is stylometric signal); all variance
# arithmetic on the bounded grid. -------------------------------------------------
@query(
    "q687_burrows_delta_sources",
    oracle=f"""
    WITH toks AS MATERIALIZED (
        SELECT source, unnest({_WS}) AS w FROM documents
    ),
    cell AS MATERIALIZED (
        SELECT source, w, CAST(COUNT(*) AS BIGINT) AS v
        FROM toks GROUP BY source, w
    ),
    sizes AS (
        SELECT source, CAST(SUM(v) AS BIGINT) AS sz FROM cell GROUP BY source
    ),
    wf AS (SELECT w, CAST(SUM(v) AS BIGINT) AS f FROM cell GROUP BY w),
    top15 AS (SELECT w FROM wf ORDER BY f DESC, w LIMIT 15),
    grid AS MATERIALIZED (
        SELECT t.w, s.source,
               CAST(COALESCE(c.v, 0) AS DOUBLE) / s.sz AS fr
        FROM top15 t
        CROSS JOIN sizes s
        LEFT JOIN cell c ON c.w = t.w AND c.source = s.source
    ),
    mo AS MATERIALIZED (
        SELECT w, COUNT(*) AS k,
               CAST(SUM({sql_quantize('fr', 12)}) AS DOUBLE) / 1e12 AS s1,
               CAST(SUM({sql_quantize('fr * fr', 12)}) AS DOUBLE) / 1e12
                   AS s2
        FROM grid GROUP BY w
    ),
    z AS MATERIALIZED (
        SELECT g.source, g.w,
               (g.fr - mo.s1 / mo.k)
                   / SQRT((mo.s2 - mo.s1 * mo.s1 / mo.k) / (mo.k - 1)) AS z
        FROM grid g JOIN mo ON mo.w = g.w
    )
    SELECT a.source AS source_a, b.source AS source_b,
           CAST({sql_quantize(
               'CAST(SUM(' + sql_quantize('ABS(a.z - b.z)', 9)
               + ') AS DOUBLE) / 1e9 / COUNT(*)', 6)} AS DOUBLE) / 1e6
               AS burrows_delta
    FROM z a JOIN z b ON a.w = b.w AND a.source < b.source
    GROUP BY source_a, source_b
    """,
)
def q687(spark, sf_dir):
    from pandrs_spark.operators.util import tracked_persist

    docs = T(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(F.split(F.lower("text"), r"\s+")).alias("w")
    )
    cell = tracked_persist(
        toks.groupBy("source", "w").agg(
            F.count(F.lit(1)).cast("long").alias("v")
        )
    )
    sizes = cell.groupBy("source").agg(F.sum("v").cast("long").alias("sz"))
    wf = cell.groupBy("w").agg(F.sum("v").cast("long").alias("f"))
    top15 = wf.orderBy(F.desc("f"), F.asc("w")).limit(15).select("w")
    grid = tracked_persist(
        F.broadcast(top15)
        .crossJoin(F.broadcast(sizes))
        .join(cell, ["w", "source"], "left")
        .na.fill({"v": 0})
        .select(
            "w",
            "source",
            (F.col("v").cast("double") / F.col("sz")).alias("fr"),
        )
    )
    mo = grid.groupBy("w").agg(
        F.count(F.lit(1)).alias("k"),
        dsum("fr", 12).alias("s1"),
        dsum(F.col("fr") * F.col("fr"), 12)
        .alias("s2"),
    )
    z = grid.join(F.broadcast(mo), "w").select(
        "source",
        "w",
        (
            (F.col("fr") - F.col("s1") / F.col("k"))
            / F.sqrt(
                (F.col("s2") - F.col("s1") * F.col("s1") / F.col("k"))
                / (F.col("k") - 1)
            )
        ).alias("z"),
    )
    b = z.select(
        F.col("source").alias("source_b"), "w", F.col("z").alias("zb")
    )
    pairs = z.join(b, "w").where(F.col("source") < F.col("source_b"))
    g = pairs.groupBy(
        F.col("source").alias("source_a"), "source_b"
    ).agg((dsum(F.abs(F.col("z") - F.col("zb")), 9) / F.count(F.lit(1))).alias("d"))
    return g.select(
        "source_a",
        "source_b",
        (quantize("d", 6) / 1e6).alias("burrows_delta"),
    )


# --- q718: RAKE keyword scores (Rose et al. 2010, public) — candidate
# phrases are maximal stopword-free token runs; every phrase word
# accumulates freq(w) and degree(w) = sum of host-phrase lengths, and
# ranks by the RAKE ratio degree/freq (favors words living in long
# multi-word phrases). Top-20 words, ties broken lexically. The
# reference has no keyword-extraction module; this is LLM-pipeline
# surface (corpus labeling / topic seeding). Shape: one posexplode,
# one per-doc prefix sum for phrase ids (PARTITIONED by doc — never a
# global window), one (doc, phrase) rollup, one word rollup,
# TakeOrdered(20). -------------------------------------------------------------
def _q718_oracle() -> str:
    from pandrs_spark.operators.text import STOPWORDS

    stop = sorted({w for ws in STOPWORDS.values() for w in ws})
    stoplist = ", ".join(f"'{w}'" for w in stop)
    return f"""
    WITH tok0 AS (
        SELECT doc_id, {_WS} AS ws FROM documents
    ),
    tok AS (
        SELECT doc_id, i AS p, ws[i] AS w,
               CASE WHEN ws[i] IN ({stoplist}) THEN 1 ELSE 0 END AS st
        FROM tok0, UNNEST(generate_series(1, len(ws))) AS t(i)
    ),
    ph AS (
        SELECT doc_id, p, w, st,
               SUM(st) OVER (PARTITION BY doc_id ORDER BY p) AS pid
        FROM tok
    ),
    words AS (
        SELECT doc_id, pid, w FROM ph WHERE st = 0 AND w <> ''
    ),
    plen AS (
        SELECT doc_id, pid, CAST(COUNT(*) AS BIGINT) AS plen
        FROM words GROUP BY doc_id, pid
    ),
    sc AS (
        SELECT w.w,
               CAST(SUM(plen.plen) AS BIGINT) AS degree,
               CAST(COUNT(*) AS BIGINT) AS freq
        FROM words w JOIN plen ON plen.doc_id = w.doc_id
                              AND plen.pid = w.pid
        GROUP BY w.w
    )
    SELECT w AS word, degree, freq,
           CAST({sql_quantize('CAST(degree AS DOUBLE) / freq', 6)} AS DOUBLE)
               / 1e6 AS rake_score
    FROM sc
    ORDER BY rake_score DESC, word
    LIMIT 20
    """


@query("q718_rake_keyword_scores", oracle=_q718_oracle())
def q718(spark, sf_dir):
    from pyspark.sql import Window

    from pandrs_spark.operators.text import STOPWORDS, tokens
    from pandrs_spark.operators.util import fan_out

    stop = sorted({w for ws in STOPWORDS.values() for w in ws})
    docs = T(spark, sf_dir, "documents")
    tok = fan_out(docs).select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("p", "w")
    )
    st = F.col("w").isin(stop).cast("int")
    w_doc = Window.partitionBy("doc_id").orderBy("p")
    ph = tok.select("doc_id", "p", "w", st.alias("st")).withColumn(
        "pid", F.sum("st").over(w_doc)
    )
    words = ph.filter((F.col("st") == 0) & (F.col("w") != "")).select(
        "doc_id", "pid", "w"
    )
    plen = words.groupBy("doc_id", "pid").agg(
        F.count(F.lit(1)).cast("long").alias("plen")
    )
    sc = (
        words.join(plen, ["doc_id", "pid"])
        .groupBy("w")
        .agg(
            F.sum("plen").cast("long").alias("degree"),
            F.count(F.lit(1)).cast("long").alias("freq"),
        )
    )
    return (
        sc.select(
            F.col("w").alias("word"),
            "degree",
            "freq",
            (quantize(F.col("degree").cast("double") / F.col("freq"), 6) / 1e6).alias(
                "rake_score"
            ),
        )
        .orderBy(F.desc("rake_score"), "word")
        .limit(20)
    )
