"""LLM-pipeline queries over the documents/embeddings tables:
text analysis, dedup (exact / MinHash+LSH / SimHash / n-gram Jaccard),
and embedding similarity search (BASELINE.json north star).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pandrs_spark.catalog import load_table as T
from pandrs_spark.functions.deterministic import dsum, sql_quantize
from pandrs_spark.operators.dedup import (
    exact_dedup_clusters,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_fingerprint,
)
from pandrs_spark.operators.text import (
    STOPWORDS,
    quality_score,
    stopword_hits,
    tokens,
)
from pandrs_spark.operators.util import small_local_df
from pandrs_spark.queries import query

# Shared SQL fragments (DuckDB side) mirroring operators/text.py.
_WS = "string_split_regex(lower(text), '\\s+')"
_SHINGLES = (
    "CASE WHEN len({ws}) >= 3 THEN "
    "list_transform(generate_series(1, len({ws}) - 2), "
    "i -> array_to_string({ws}[i:i+2], ' ')) "
    "ELSE CAST([] AS VARCHAR[]) END"
).format(ws="ws")


# --- q26: token counting / corpus stats per language ------------------------
@query(
    "q26_corpus_token_stats",
    oracle=f"""
    WITH tok AS (
        SELECT lang, source, n_chars,
               CAST(len({_WS}) AS INTEGER) AS n_tokens
        FROM documents
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           (CAST(SUM(n_tokens) AS BIGINT) * 1.0 / COUNT(*)) AS avg_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(MIN(n_tokens) AS INTEGER) AS min_tokens,
           CAST(MAX(n_tokens) AS INTEGER) AS max_tokens
    FROM tok
    GROUP BY lang
    ORDER BY lang
    """,
)
def q26(spark, sf_dir):
    docs = T(spark, sf_dir, "documents")
    d = docs.select(
        "lang", "source", "n_chars", F.size(tokens(F.col("text"))).alias("n_tokens")
    )
    return (
        d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            (F.sum("n_tokens") * 1.0 / F.count(F.lit(1))).alias("avg_tokens"),
            F.sum("n_chars").alias("total_chars"),
            F.countDistinct("source").alias("n_sources"),
            F.min("n_tokens").alias("min_tokens"),
            F.max("n_tokens").alias("max_tokens"),
        )
        .orderBy("lang")
    )


# --- q27: per-document quality scoring --------------------------------------
_EN = ", ".join(f"'{w}'" for w in STOPWORDS["en"])


@query(
    "q27_doc_quality_scores",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {_WS} AS ws FROM documents)
    SELECT doc_id,
           CAST(len(ws) AS INTEGER) AS n_tokens,
           ROUND(len(list_distinct(ws)) / len(ws), 6) AS ttr,
           CAST(len(list_filter(ws, t -> t IN ({_EN}))) AS INTEGER) AS stop_hits,
           ROUND(0.4 * LEAST(len(ws) / 50.0, 1.0)
                 + 0.3 * (len(list_distinct(ws)) / len(ws))
                 + 0.3 * LEAST(len(list_filter(ws, t -> t IN ({_EN}))) / 5.0, 1.0),
                 6) AS quality
    FROM tok
    ORDER BY doc_id
    """,
)
def q27(spark, sf_dir):
    docs = T(spark, sf_dir, "documents")
    tok = tokens(F.col("text"))
    return docs.select(
        "doc_id",
        F.size(tok).alias("n_tokens"),
        F.round(F.size(F.array_distinct(tok)) / F.size(tok), 6).alias("ttr"),
        stopword_hits(tok, STOPWORDS["en"]).alias("stop_hits"),
        quality_score(F.col("text")).alias("quality"),
    ).orderBy("doc_id")


# --- q28: language-ID heuristic → confusion matrix --------------------------
_LANG_CASE = """
    CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en > 0 THEN 'en'
         WHEN s_de >= s_es AND s_de >= s_fr AND s_de > 0 THEN 'de'
         WHEN s_es >= s_fr AND s_es > 0 THEN 'es'
         WHEN s_fr > 0 THEN 'fr'
         ELSE 'unknown' END
"""

_SW_SQL = {
    lang: ", ".join(f"'{w}'" for w in ws) for lang, ws in STOPWORDS.items()
}


@query(
    "q28_lang_id_confusion",
    oracle=f"""
    WITH tok AS (SELECT lang, {_WS} AS ws FROM documents),
    scores AS (
        SELECT lang,
               len(list_filter(ws, t -> t IN ({_SW_SQL['en']}))) AS s_en,
               len(list_filter(ws, t -> t IN ({_SW_SQL['de']}))) AS s_de,
               len(list_filter(ws, t -> t IN ({_SW_SQL['es']}))) AS s_es,
               len(list_filter(ws, t -> t IN ({_SW_SQL['fr']}))) AS s_fr
        FROM tok
    )
    SELECT lang, {_LANG_CASE} AS predicted, COUNT(*) AS n
    FROM scores
    GROUP BY lang, predicted
    ORDER BY lang, predicted
    """,
)
def q28(spark, sf_dir):
    docs = T(spark, sf_dir, "documents")
    tok = tokens(F.col("text"))
    scored = docs.select(
        "lang",
        stopword_hits(tok, STOPWORDS["en"]).alias("s_en"),
        stopword_hits(tok, STOPWORDS["de"]).alias("s_de"),
        stopword_hits(tok, STOPWORDS["es"]).alias("s_es"),
        stopword_hits(tok, STOPWORDS["fr"]).alias("s_fr"),
    )
    return (
        scored.withColumn("predicted", F.expr(_LANG_CASE))
        .groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang", "predicted")
    )


# --- q29: exact dedup via content fingerprint (hash-groupBy) ----------------
@query(
    "q29_exact_dedup_summary",
    oracle="""
    WITH fp AS (
        SELECT source,
               md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp
        FROM documents
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_unique,
           MIN(fp) AS min_fp
    FROM fp
    GROUP BY source
    ORDER BY source
    """,
)
def q29(spark, sf_dir):
    from pandrs_spark.operators.text import doc_fingerprint

    docs = T(spark, sf_dir, "documents")
    return (
        docs.select("source", doc_fingerprint("text").alias("fp"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("fp").alias("n_unique"),
            F.min("fp").alias("min_fp"),
        )
        .orderBy("source")
    )


def _sql_minhash(seed: int) -> str:
    return f"list_min(list_transform(sh, x -> md5('{seed}|' || x)))"


# --- q30: MinHash signatures -------------------------------------------------
@query(
    "q30_minhash_signatures",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {_WS} AS ws FROM documents),
    shg AS (SELECT doc_id, {_SHINGLES} AS sh FROM tok)
    SELECT doc_id,
           {_sql_minhash(0)} AS mh0,
           {_sql_minhash(1)} AS mh1,
           {_sql_minhash(2)} AS mh2,
           {_sql_minhash(3)} AS mh3
    FROM shg
    ORDER BY doc_id
    """,
)
def q30(spark, sf_dir):
    docs = T(spark, sf_dir, "documents")
    # persist before the global sort: RangePartitioning SAMPLES its
    # child, so an un-materialized map child pays the whole
    # shingle+md5 signature pass twice (round 11, measured at sf0.1:
    # sampling stage 100 s task-time vs 24.6 s for the real pass;
    # warm A/B 2.01 -> 1.62 s)
    from pandrs_spark.operators.util import tracked_persist

    return tracked_persist(
        minhash_signatures(docs, "text", "doc_id", num_hashes=4)
    ).orderBy("doc_id")


_SQL_BANDS = f"""
    WITH tok AS (SELECT doc_id, {_WS} AS ws FROM documents),
    shg AS (SELECT doc_id, {_SHINGLES} AS sh FROM tok),
    sig AS (
        SELECT doc_id,
               {_sql_minhash(0)} AS mh0, {_sql_minhash(1)} AS mh1,
               {_sql_minhash(2)} AS mh2, {_sql_minhash(3)} AS mh3
        FROM shg
    ),
    bands AS (
        SELECT doc_id, 0 AS band_no, md5(mh0 || '|' || mh1) AS band_key FROM sig
        UNION ALL
        SELECT doc_id, 1 AS band_no, md5(mh2 || '|' || mh3) AS band_key FROM sig
    ),
    pairs AS (
        SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
        FROM bands l JOIN bands r
          ON l.band_no = r.band_no AND l.band_key = r.band_key
         AND l.doc_id < r.doc_id
    )
"""


# --- q31: LSH candidate pairs ------------------------------------------------
@query(
    "q31_lsh_candidate_pairs",
    oracle=_SQL_BANDS + "SELECT id_a, id_b FROM pairs ORDER BY id_a, id_b",
)
def q31(spark, sf_dir):
    docs = T(spark, sf_dir, "documents")
    return lsh_candidate_pairs(
        docs, "text", "doc_id", num_hashes=4, band_size=2
    ).orderBy("id_a", "id_b")


# --- q32: exact n-gram Jaccard verification of LSH candidates ---------------
@query(
    "q32_ngram_jaccard_pairs",
    oracle=_SQL_BANDS
    + """,
    dsh AS (
        SELECT doc_id, unnest(list_distinct(sh)) AS s
        FROM shg
        WHERE doc_id IN (SELECT id_a FROM pairs UNION SELECT id_b FROM pairs)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM dsh GROUP BY doc_id),
    inter AS (
        SELECT p.id_a, p.id_b, COUNT(*) AS n_int
        FROM pairs p
        JOIN dsh a ON a.doc_id = p.id_a
        JOIN dsh b ON b.doc_id = p.id_b AND b.s = a.s
        GROUP BY p.id_a, p.id_b
    )
    SELECT i.id_a, i.id_b,
           ROUND(i.n_int * 1.0 / (sa.n_sh + sb.n_sh - i.n_int), 6) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.id_a
    JOIN sizes sb ON sb.doc_id = i.id_b
    WHERE i.n_int * 1.0 / (sa.n_sh + sb.n_sh - i.n_int) >= 0.2
    ORDER BY id_a, id_b
    """,
)
def q32(spark, sf_dir):
    docs = T(spark, sf_dir, "documents")
    pairs = lsh_candidate_pairs(docs, "text", "doc_id", num_hashes=4, band_size=2)
    return ngram_jaccard_pairs(
        docs, "text", "doc_id", pairs, threshold=0.2
    ).orderBy("id_a", "id_b")


# --- q33: SimHash fingerprints ----------------------------------------------
def _simhash_sql(bits: int = 16) -> str:
    pieces = []
    for j in range(1, bits + 1):
        pieces.append(
            "CASE WHEN SUM(CASE WHEN strpos('89abcdef', substr(h, "
            f"{j}, 1)) > 0 THEN 1 ELSE -1 END) > 0 THEN '1' ELSE '0' END"
        )
    return (
        f"""
    WITH tok AS (SELECT doc_id, unnest({_WS}) AS tk FROM documents),
    hs AS (SELECT doc_id, md5(tk) AS h FROM tok)
    SELECT doc_id, concat({", ".join(pieces)}) AS simhash
    FROM hs
    GROUP BY doc_id
    ORDER BY doc_id
    """
    )


@query("q33_simhash_fingerprints", oracle=_simhash_sql())
def q33(spark, sf_dir):
    docs = T(spark, sf_dir, "documents")
    return simhash_fingerprint(docs, "text", "doc_id", bits=16).orderBy("doc_id")


# --- q138: Python UDTF table function (§2.15 — beyond the reference,
# which has no UDTFs): k-word shingle expansion as a LATERAL join,
# the Spark-native shape for one-row→many-rows text operators ----------------
@query(
    "q138_udtf_word_shingles",
    oracle=r"""
    WITH arr AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(text, '\s+'),
                           x -> x <> '') AS w
        FROM documents
    ),
    idx AS (
        SELECT doc_id, w, UNNEST(range(1, len(w) - 1)) AS i FROM arr
    ),
    tri AS (
        SELECT w[i] || ' ' || w[i + 1] || ' ' || w[i + 2] AS shingle FROM idx
    )
    SELECT shingle, COUNT(*) AS n
    FROM tri GROUP BY shingle
    ORDER BY n DESC, shingle LIMIT 15
    """,
)
def q138(spark, sf_dir):
    from pandrs_spark.catalog import load_table
    from pandrs_spark.operators.text import word_shingle_udtf

    load_table(spark, sf_dir, "documents").createOrReplaceTempView("__docs_udtf")
    spark.udtf.register("word_shingles", word_shingle_udtf())
    return spark.sql(
        """
        SELECT s.shingle, COUNT(*) AS n
        FROM __docs_udtf, LATERAL word_shingles(text, 3) s
        GROUP BY s.shingle
        ORDER BY n DESC, s.shingle LIMIT 15
        """
    )


# --- q158: character-entropy quality filter over documents (training-
# pipeline gibberish detector; extends quality_score q27). Map-side
# HOF expression — no shuffle before the final ordering ----------------------
@query(
    "q158_char_entropy_quality",
    oracle="""
    WITH e AS (
        SELECT doc_id, lang,
               list_sum(list_transform(
                   list_sort(list_distinct(split(text, ''))),
                   c -> -1.0 * (len(list_filter(split(text, ''), x -> x = c))
                                / len(split(text, '')))
                        * log2(len(list_filter(split(text, ''), x -> x = c))
                               / len(split(text, '')))
               )) AS ent
        FROM documents
    )
    SELECT doc_id, lang, ROUND(ent, 6) AS entropy_bits,
           CASE WHEN ent < 2.0 THEN 1 ELSE 0 END AS low_quality
    FROM e
    ORDER BY doc_id
    """,
)
def q158(spark, sf_dir):
    from pandrs_spark.operators.text import char_entropy
    from pandrs_spark.operators.util import fan_out

    # char_entropy folds over every (distinct char × char) of the text —
    # work amplification ~50× past the scan bytes, so the byte-sized
    # scan split (1 partition for this table) starves the machine
    # (round 11, measured: 14 s single-task stage). Widen to
    # char-work-sized tasks; fan_out still no-ops on already-wide scans.
    docs = fan_out(T(spark, sf_dir, "documents"), bytes_per_task=16 * 1024)
    ent = char_entropy("text")
    return docs.select(
        "doc_id",
        "lang",
        F.round(ent, 6).alias("entropy_bits"),
        F.when(ent < 2.0, 1).otherwise(0).alias("low_quality"),
    ).orderBy("doc_id")


# --- q159: Gopher-style repetition/shape quality rules (mean word
# length, alpha-word fraction, duplicate-trigram fraction) — one
# map-side projection per document, aggregated per (lang, source) ------------
@query(
    "q159_gopher_quality_rules",
    oracle=f"""
    WITH sig AS (
        SELECT lang, source,
               list_sum(list_transform({_WS}, t -> length(t))) * 1.0 / len({_WS}) AS mwl,
               len(list_filter({_WS}, t -> regexp_full_match(t, '[a-z]+'))) * 1.0 / len({_WS}) AS fa,
               CASE WHEN len({_WS}) >= 3 THEN
                   1.0 - len(list_distinct(list_transform(
                       generate_series(1, len({_WS}) - 2),
                       i -> list_aggregate(list_slice({_WS}, i, i + 2), 'string_agg', ' ')
                   ))) * 1.0 / (len({_WS}) - 2)
               ELSE 0.0 END AS dup3
        FROM documents
    )
    SELECT lang, source,
           COUNT(*) AS n_docs,
           ROUND(((CAST(SUM(CAST(SIGN(ROUND(mwl, 6)) * FLOOR(ABS(ROUND(mwl, 6)) * 1000000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000000.0) / COUNT(ROUND(mwl, 6))), 6) AS avg_word_len,
           ROUND(((CAST(SUM(CAST(SIGN(ROUND(fa, 6)) * FLOOR(ABS(ROUND(fa, 6)) * 1000000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000000.0) / COUNT(ROUND(fa, 6))), 6) AS avg_frac_alpha,
           ROUND(((CAST(SUM(CAST(SIGN(ROUND(dup3, 6)) * FLOOR(ABS(ROUND(dup3, 6)) * 1000000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000000.0) / COUNT(ROUND(dup3, 6))), 6) AS avg_dup_trigram
    FROM sig
    GROUP BY lang, source
    ORDER BY lang, source
    """,
)
def q159(spark, sf_dir):
    from pandrs_spark.functions.deterministic import davg
    from pandrs_spark.operators.text import gopher_quality_flags
    from pandrs_spark.operators.util import fan_out

    # shingle + regex HOFs amplify per-row work far past scan bytes —
    # widen the 1-partition scan (round 11: 8.5 s single-task stage)
    docs = fan_out(T(spark, sf_dir, "documents"), bytes_per_task=16 * 1024)
    g = docs.select(
        "lang", "source", gopher_quality_flags("text").alias("q")
    ).select(
        "lang",
        "source",
        F.round("q.mean_word_len", 6).alias("mwl"),
        F.round("q.frac_alpha_words", 6).alias("fa"),
        F.round("q.dup_ngram_frac", 6).alias("dup3"),
    )
    return (
        g.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(davg("mwl", 9), 6).alias("avg_word_len"),
            F.round(davg("fa", 9), 6).alias("avg_frac_alpha"),
            F.round(davg("dup3", 9), 6).alias("avg_dup_trigram"),
        )
        .orderBy("lang", "source")
    )


# --- q160: end-to-end near-dup resolution — LSH candidates → exact
# Jaccard verify → connected components over dup pairs → keep the
# longest member per cluster (ties → lowest doc_id). The full
# training-corpus dedup pipeline in one lineage; the iterative CC step
# reuses operators/graph.py and the oracle closes reachability with a
# recursive CTE --------------------------------------------------------------
@query(
    "q160_dedup_resolution",
    oracle=_SQL_BANDS.replace("WITH tok", "WITH RECURSIVE tok", 1)
    + """,
    dsh AS (
        SELECT doc_id, unnest(list_distinct(sh)) AS s
        FROM shg
        WHERE doc_id IN (SELECT id_a FROM pairs UNION SELECT id_b FROM pairs)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM dsh GROUP BY doc_id),
    inter AS (
        SELECT p.id_a, p.id_b, COUNT(*) AS n_int
        FROM pairs p
        JOIN dsh a ON a.doc_id = p.id_a
        JOIN dsh b ON b.doc_id = p.id_b AND b.s = a.s
        GROUP BY p.id_a, p.id_b
    ),
    dup AS (
        SELECT i.id_a, i.id_b
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.id_a
        JOIN sizes sb ON sb.doc_id = i.id_b
        WHERE i.n_int * 1.0 / (sa.n_sh + sb.n_sh - i.n_int) >= 0.2
    ),
    und2 AS (
        SELECT id_a AS src, id_b AS dst FROM dup
        UNION
        SELECT id_b, id_a FROM dup
    ),
    reach(a, b) AS (
        SELECT src, dst FROM und2
        UNION
        SELECT r.a, u.dst FROM reach r JOIN und2 u ON r.b = u.src
    ),
    comp AS (
        SELECT v.id, LEAST(v.id, MIN(r.b)) AS component
        FROM (SELECT DISTINCT src AS id FROM und2) v
        LEFT JOIN reach r ON r.a = v.id
        GROUP BY v.id
    ),
    members AS (
        SELECT c.component, c.id, d.n_chars,
               MAX(d.n_chars) OVER (PARTITION BY c.component) AS mx
        FROM comp c JOIN documents d ON d.doc_id = c.id
    )
    SELECT component AS cluster_id,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           MIN(CASE WHEN n_chars = mx THEN id END) AS keep_doc
    FROM members
    GROUP BY component
    ORDER BY cluster_id
    """,
)
def q160(spark, sf_dir):
    from pyspark.sql import Window

    from pandrs_spark.operators.graph import connected_components

    docs = T(spark, sf_dir, "documents")
    pairs = lsh_candidate_pairs(docs, "text", "doc_id", num_hashes=4, band_size=2)
    dup = ngram_jaccard_pairs(docs, "text", "doc_id", pairs, threshold=0.2).select(
        "id_a", "id_b"
    )
    comp = connected_components(dup, src="id_a", dst="id_b")
    members = comp.join(
        docs.select(F.col("doc_id").alias("id"), "n_chars"), "id"
    ).withColumn("mx", F.max("n_chars").over(Window.partitionBy("component")))
    return (
        members.groupBy(F.col("component").alias("cluster_id"))
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min(F.when(F.col("n_chars") == F.col("mx"), F.col("id"))).alias(
                "keep_doc"
            ),
        )
        .orderBy("cluster_id")
    )


# --- q186: corpus-level duplicate 8-gram fraction (C4/Gopher corpus
# hygiene; one explode + one aggregate, approx_count_distinct is the
# stated 100 TB swap — operators/text.py corpus_ngram_duplication) -----------
@query(
    "q186_corpus_ngram_duplication",
    oracle="""
    WITH toks AS (
        SELECT string_split_regex(lower(text), '\\s+') AS w FROM documents
    ),
    grams AS (
        SELECT array_to_string(w[i:i+7], ' ') AS g
        FROM toks, UNNEST(generate_series(1, len(w) - 7)) AS t(i)
        WHERE len(w) >= 8
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(COUNT(DISTINCT g) AS BIGINT) AS n_distinct,
           ROUND(1.0 - COUNT(DISTINCT g) * 1.0 / COUNT(*), 6) AS dup_fraction
    FROM grams
    """,
)
def q186(spark, sf_dir):
    from pandrs_spark.operators.text import corpus_ngram_duplication

    return corpus_ngram_duplication(T(spark, sf_dir, "documents"), "text", k=8)


# --- q187: PII redaction pass (emails/URLs/long digit runs →
# <EMAIL>/<URL>/<NUM>; operators/text.py redact_pii). The corpus is
# synthetic word soup, so deterministic PII-bearing suffixes are
# synthesized per doc and the SAME RE2-safe regex chain runs on both
# engines; redaction counts per lang are value-hashed. ----------------------
@query(
    "q187_pii_redaction",
    oracle="""
    WITH synth AS (
        SELECT lang,
               text || ' reach user' || CAST(doc_id AS VARCHAR)
                    || '@example.com or https://s' || CAST(doc_id % 7 AS VARCHAR)
                    || '.example.org ref ' || lpad(CAST(doc_id * 987654 AS VARCHAR), 9, '0')
                    AS t
        FROM documents
    ),
    red AS (
        SELECT lang,
               regexp_replace(
                 regexp_replace(
                   regexp_replace(t,
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                   'https?://[^\\s]+', '<URL>', 'g'),
                 '[0-9]{6,}', '<NUM>', 'g') AS r
        FROM synth
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(string_split(r, '<EMAIL>')) - 1) AS BIGINT) AS emails,
           CAST(SUM(len(string_split(r, '<URL>')) - 1) AS BIGINT) AS urls,
           CAST(SUM(len(string_split(r, '<NUM>')) - 1) AS BIGINT) AS nums
    FROM red GROUP BY lang ORDER BY lang
    """,
)
def q187(spark, sf_dir):
    from pandrs_spark.operators.text import redact_pii

    docs = T(spark, sf_dir, "documents")
    synth = docs.select(
        "lang",
        F.concat(
            F.col("text"),
            F.lit(" reach user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or https://s"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".example.org ref "),
            F.lpad((F.col("doc_id") * 987654).cast("string"), 9, "0"),
        ).alias("t"),
    )
    red = synth.select("lang", redact_pii("t").alias("r"))
    return (
        red.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(F.split("r", "<EMAIL>")) - 1).cast("bigint").alias("emails"),
            F.sum(F.size(F.split("r", "<URL>")) - 1).cast("bigint").alias("urls"),
            F.sum(F.size(F.split("r", "<NUM>")) - 1).cast("bigint").alias("nums"),
        )
        .orderBy("lang")
    )


# --- q188: incremental (delta) dedup — new sources deduped against the
# src0 "existing corpus" by content fingerprint: LEFT ANTI on the md5
# key, then in-batch keep-min-id (operators/dedup.py incremental_dedup).
# The multi-snapshot pipeline shape: only (fp, id) pairs shuffle. ------------
@query(
    "q188_incremental_dedup",
    oracle="""
    WITH fp AS (
        SELECT doc_id, source,
               md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp
        FROM documents
    ),
    old AS (SELECT DISTINCT fp FROM fp WHERE source = 'src0'),
    newb AS (SELECT * FROM fp WHERE source <> 'src0'),
    surv AS (
        SELECT n.* FROM newb n LEFT JOIN old o ON n.fp = o.fp
        WHERE o.fp IS NULL
    ),
    kept AS (
        SELECT * FROM surv
        QUALIFY doc_id = MIN(doc_id) OVER (PARTITION BY fp)
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(MIN(doc_id) AS BIGINT) AS min_kept_id,
           CAST(MAX(doc_id) AS BIGINT) AS max_kept_id
    FROM kept GROUP BY source ORDER BY source
    """,
)
def q188(spark, sf_dir):
    from pandrs_spark.operators.dedup import incremental_dedup

    docs = T(spark, sf_dir, "documents")
    existing = docs.filter(F.col("source") == "src0")
    new_batch = docs.filter(F.col("source") != "src0")
    kept = incremental_dedup(new_batch, existing, "text", "doc_id")
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.min("doc_id").cast("bigint").alias("min_kept_id"),
            F.max("doc_id").cast("bigint").alias("max_kept_id"),
        )
        .orderBy("source")
    )


# --- q190: document chunking (fixed token windows with overlap; the
# pre-tokenization step of a training/RAG pipeline —
# operators/text.py chunk_documents). Map-side explode only; per-source
# chunk accounting is value-hashed against DuckDB's slice arithmetic. ------
@query(
    "q190_document_chunking",
    oracle="""
    WITH toks AS (
        SELECT doc_id, source,
               string_split_regex(lower(text), '\\s+') AS w
        FROM documents
    ),
    nc AS (
        SELECT doc_id, source, w,
               GREATEST(1, CAST(CEIL((len(w) - 4) / 12.0) AS INTEGER)) AS n_chunks
        FROM toks
    ),
    chunks AS (
        SELECT doc_id, source, k,
               len(w[(k*12+1):(k*12+16)]) AS n_tokens
        FROM nc, UNNEST(generate_series(0, n_chunks - 1)) AS t(k)
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(MAX(k) AS BIGINT) AS max_chunk_idx,
           CAST(SUM(CASE WHEN n_tokens = 16 THEN 1 ELSE 0 END) AS BIGINT) AS full_chunks
    FROM chunks GROUP BY source ORDER BY source
    """,
)
def q190(spark, sf_dir):
    from pandrs_spark.operators.text import chunk_documents

    docs = T(spark, sf_dir, "documents")
    ch = chunk_documents(docs, "text", "doc_id", chunk_tokens=16, overlap=4)
    joined = ch.join(docs.select("doc_id", "source"), "doc_id")
    return (
        joined.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.max("chunk_idx").cast("bigint").alias("max_chunk_idx"),
            F.sum((F.col("n_tokens") == 16).cast("int"))
            .cast("bigint")
            .alias("full_chunks"),
        )
        .orderBy("source")
    )


# --- q191: sequence packing (concat-and-slice batch shaping;
# operators/text.py pack_sequences). Packing is sharded by source —
# real pipelines pack per shard, and it keeps the cumsum window off the
# single-partition global-sort path. Per-source bin utilization is
# value-hashed against DuckDB's window cumsum. -------------------------------
@query(
    "q191_sequence_packing",
    oracle="""
    WITH toks AS (
        SELECT doc_id, source,
               len(string_split_regex(lower(text), '\\s+')) AS n_tok
        FROM documents
    ),
    binned AS (
        SELECT source, n_tok,
               CAST(FLOOR((SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok)
                    / 512.0) AS BIGINT) AS bin_id
        FROM toks
    )
    SELECT source,
           CAST(COUNT(DISTINCT bin_id) AS BIGINT) AS n_bins,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
           ROUND(SUM(n_tok) * 1.0 / (COUNT(DISTINCT bin_id) * 512.0), 6)
               AS utilization
    FROM binned GROUP BY source ORDER BY source
    """,
)
def q191(spark, sf_dir):
    from pandrs_spark.operators.text import pack_sequences, token_count

    docs = T(spark, sf_dir, "documents").select(
        "doc_id", "source", token_count("text").alias("n_tok")
    )
    packed = pack_sequences(
        docs, "n_tok", 512, partition_by=["source"], order_by=["doc_id"]
    )
    return (
        packed.groupBy("source")
        .agg(
            F.countDistinct("bin_id").alias("n_bins"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("total_tokens"),
            F.round(
                F.sum("n_tok") / (F.countDistinct("bin_id") * 512.0), 6
            ).alias("utilization"),
        )
        .orderBy("source")
    )


# --- q194: benchmark decontamination (eval-set n-gram overlap scrub).
# The "benchmark" is a deterministic slice of the corpus (doc_id % 97
# == 0); every other doc is a candidate, flagged when ANY of its word
# 8-grams appears in the benchmark. Broadcast distinct-bench-grams
# join, per-source rollup — the GPT-3/C4-style decontamination pass.
# Reference scope: corpus hygiene tier (src/text analysis ops). --------------
@query(
    "q194_benchmark_decontamination",
    oracle="""
    WITH cand AS (SELECT * FROM documents WHERE doc_id % 97 <> 0),
    bench AS (SELECT * FROM documents WHERE doc_id % 97 = 0),
    btoks AS (SELECT string_split_regex(lower(text), '\\s+') AS w FROM bench),
    bgrams AS (
        SELECT DISTINCT array_to_string(w[i:i+7], ' ') AS g
        FROM btoks, UNNEST(generate_series(1, len(w) - 7)) AS t(i)
        WHERE len(w) >= 8
    ),
    ctoks AS (
        SELECT doc_id, source, string_split_regex(lower(text), '\\s+') AS w
        FROM cand
    ),
    cgrams AS (
        SELECT doc_id, source, array_to_string(w[i:i+7], ' ') AS g
        FROM ctoks, UNNEST(generate_series(1, len(w) - 7)) AS t(i)
        WHERE len(w) >= 8
    ),
    per_doc AS (
        SELECT c.doc_id,
               any_value(c.source) AS source,
               COUNT(*) AS n_grams,
               SUM(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END) AS n_hits
        FROM cgrams c LEFT JOIN bgrams b USING (g)
        GROUP BY c.doc_id
    ),
    alldocs AS (
        SELECT d.doc_id, d.source,
               COALESCE(p.n_grams, 0) AS n_grams,
               COALESCE(p.n_hits, 0) AS n_hits
        FROM cand d LEFT JOIN per_doc p USING (doc_id)
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN n_hits > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_contaminated,
           ROUND(SUM(n_hits) * 1.0 / SUM(n_grams), 6) AS corpus_overlap_frac
    FROM alldocs GROUP BY source ORDER BY source
    """,
)
def q194(spark, sf_dir):
    from pandrs_spark.operators.text import decontaminate

    docs = T(spark, sf_dir, "documents")
    cand = docs.filter(F.col("doc_id") % 97 != 0)
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    per_doc = decontaminate(cand, bench, carry=("source",))
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("contaminated").cast("int"))
            .cast("bigint")
            .alias("n_contaminated"),
            F.round(F.sum("n_hits") / F.sum("n_grams"), 6).alias(
                "corpus_overlap_frac"
            ),
        )
        .orderBy("source")
    )




def _sql_hex_int(h: str, m: int) -> str:
    """DuckDB: integer value of the first ``m`` lowercase hex chars."""
    d = "'0123456789abcdef'"
    terms = [
        f"{16 ** (m - 1 - j)} * (strpos({d}, substr({h}, {j + 1}, 1)) - 1)"
        for j in range(m)
    ]
    return "(" + " + ".join(terms) + ")"

# --- q196: weighted sampling without replacement (Efraimidis–Spirakis
# A-ES): every doc draws u from a content hash and competes on
# u^(1/weight); top-50 by key wins, inclusion probability ~ n_chars.
# Map-side key + TakeOrdered — reproducible on any engine/cluster.
# operators/sampling.py:weighted_sample. ---------------------------------
@query(
    "q196_weighted_doc_sample",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, source, n_chars,
               ROUND(POW(
                   ({_sql_hex_int("substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)", 6)} + 0.5)
                       / 16777216.0,
                   1.0 / n_chars), 12) AS k
        FROM documents
        WHERE n_chars > 0
    ),
    top AS (
        SELECT doc_id, source, n_chars
        FROM scored ORDER BY k DESC, doc_id LIMIT 50
    )
    SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars
    FROM top ORDER BY doc_id
    """,
)
def q196(spark, sf_dir):
    from pandrs_spark.operators.sampling import weighted_sample

    docs = T(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    return weighted_sample(docs, "n_chars", ["doc_id"], k=50).orderBy("doc_id")


# --- q197: domain-mixture resampling — re-draw the corpus toward a
# target language mixture out of a 200-doc budget (the data-mixing
# step of a training pipeline); per-domain keep rates quantized to
# md5-bucket thresholds with FLOOR so the predicate replays exactly.
# zh is not in the target mixture and drops out entirely.
# operators/sampling.py:resample_to_mixture. -----------------------------
@query(
    "q197_mixture_resample",
    oracle=f"""
    WITH counts AS (
        SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang
    ),
    rated AS (
        SELECT d.doc_id, d.lang,
               {_sql_hex_int("substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4)", 4)} AS b,
               LEAST(65536, FLOOR(200.0 * CASE d.lang
                   WHEN 'en' THEN 0.4 WHEN 'de' THEN 0.2
                   WHEN 'es' THEN 0.2 WHEN 'fr' THEN 0.2 END
                   / c.n * 65536)) AS thr
        FROM documents d JOIN counts c USING (lang)
        WHERE d.lang IN ('en', 'de', 'es', 'fr')
    )
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_kept
    FROM rated WHERE b < thr
    GROUP BY lang ORDER BY lang
    """,
)
def q197(spark, sf_dir):
    from pandrs_spark.operators.sampling import resample_to_mixture

    docs = T(spark, sf_dir, "documents")
    kept = resample_to_mixture(
        docs,
        "lang",
        {"en": 0.4, "de": 0.2, "es": 0.2, "fr": 0.2},
        budget=200,
        key_cols=["doc_id"],
    )
    return (
        kept.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_kept"))
        .orderBy("lang")
    )


# --- q224: vocabulary coverage — token frequency table with global
# cumulative coverage share (what fraction of all token occurrences
# the most frequent vocabulary prefix captures — the tokenizer-budget
# curve). The running total over the frequency-sorted vocab reuses the
# distributed partition-offset prefix sum, so the curve never funnels
# through one task. Output: coverage at vocab sizes 10/100/1000. ---------
@query(
    "q224_vocab_coverage",
    oracle="""
    WITH tok AS (
        SELECT unnest(string_split_regex(lower(text), '\\s+')) AS t
        FROM documents
    ),
    freq AS (SELECT t, COUNT(*) AS c FROM tok GROUP BY t),
    tot AS (SELECT SUM(c) AS n FROM freq),
    run AS (
        SELECT t, c,
               ROW_NUMBER() OVER (ORDER BY c DESC, t) AS rank,
               SUM(c) OVER (ORDER BY c DESC, t ROWS UNBOUNDED PRECEDING) AS cum
        FROM freq
    )
    SELECT CAST(v AS BIGINT) AS vocab_size,
           ROUND(MAX(CASE WHEN rank <= v THEN cum END) * 1.0
                 / (SELECT n FROM tot), 6) AS coverage
    FROM run, UNNEST([10, 100, 1000]) AS s(v)
    WHERE rank <= v
    GROUP BY v ORDER BY v
    """,
)
def q224(spark, sf_dir):
    from pandrs_spark.operators.text import tokens
    from pandrs_spark.operators.windows import global_prefix_counts

    docs = T(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(tokens(F.col("text"))).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # BOTH running columns (cumulative occurrences and the 1-based
    # rank) in ONE range sort + ONE offset collect: the previous shape
    # paid two full global_prefix_sum passes over the same order
    # (round 11). Counts are integers, so the exact BIGINT prefix sums
    # need no quantization; coverage = round(cum/n, 6) divides
    # bigint/bigint to the identical double.
    ranked = global_prefix_counts(
        freq.withColumn("__one__", F.lit(1)),
        [F.desc("c"), F.asc("t")],
        {"cum": "c", "rank": "__one__"},
    )
    # total token occurrences: aggregate the persisted sorted frame
    # instead of re-running the tokenize+explode+groupBy pass
    total = ranked.agg(F.sum("c").alias("__n__"))
    sizes = small_local_df(spark, [(10,), (100,), (1000,)], "vocab_size long")
    return (
        ranked.join(F.broadcast(sizes), F.col("rank") <= F.col("vocab_size"))
        .groupBy("vocab_size")
        .agg(F.max("cum").alias("__cov__"))
        .join(F.broadcast(total))
        .select(
            "vocab_size",
            F.round(F.col("__cov__") / F.col("__n__"), 6).alias("coverage"),
        )
        .orderBy("vocab_size")
    )


# --- q232: BPE merge candidates — frequency of ADJACENT token pairs
# across the corpus (the statistic one BPE training iteration
# maximizes). zip_with over the token array and its shifted self keeps
# pair construction inside codegen; one explode + one count. Top-20
# with deterministic tie-break. -------------------------------------------
@query(
    "q232_bpe_merge_candidates",
    oracle="""
    WITH toks AS (
        SELECT string_split_regex(lower(text), '\\s+') AS w FROM documents
    ),
    pairs AS (
        SELECT w[i] || ' ' || w[i + 1] AS pair
        FROM toks, UNNEST(generate_series(1, len(w) - 1)) AS t(i)
        WHERE len(w) >= 2
    )
    SELECT pair, CAST(COUNT(*) AS BIGINT) AS n
    FROM pairs GROUP BY pair
    ORDER BY n DESC, pair LIMIT 20
    """,
)
def q232(spark, sf_dir):
    from pandrs_spark.operators.text import tokens

    docs = T(spark, sf_dir, "documents")
    tok = tokens(F.col("text"))
    pairs = F.zip_with(
        F.slice(tok, 1, F.greatest(F.size(tok) - 1, F.lit(0))),
        F.slice(tok, 2, F.greatest(F.size(tok) - 1, F.lit(0))),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    return (
        docs.select(F.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "pair")
        .limit(20)
    )


# --- q237: end-to-end corpus curation pipeline — the full
# training-data path composed from the operator family in ONE
# oracle-paired plan: quality gate (token count) → exact dedup
# (keep lowest doc_id per content fingerprint) → benchmark
# decontamination (8-gram overlap vs the doc_id%97 eval slice) →
# language-mixture resample (150-doc budget) → per-lang corpus stats.
# Every stage is the exact operator other queries verify in
# isolation; this pins that they COMPOSE. ---------------------------------
@query(
    "q237_corpus_curation_pipeline",
    oracle="""
    WITH base AS (
        SELECT doc_id, lang, text,
               len(string_split_regex(lower(text), '\\s+')) AS n_tok
        FROM documents WHERE doc_id % 97 <> 0
    ),
    quality AS (SELECT * FROM base WHERE n_tok >= 10),
    fp AS (
        SELECT *, md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS f
        FROM quality
    ),
    dedup AS (
        SELECT * FROM fp
        WHERE doc_id = (SELECT MIN(doc_id) FROM fp f2 WHERE f2.f = fp.f)
    ),
    btoks AS (
        SELECT string_split_regex(lower(text), '\\s+') AS w
        FROM documents WHERE doc_id % 97 = 0
    ),
    bgrams AS (
        SELECT DISTINCT array_to_string(w[i:i+7], ' ') AS g
        FROM btoks, UNNEST(generate_series(1, len(w) - 7)) AS t(i)
        WHERE len(w) >= 8
    ),
    cgrams AS (
        SELECT d.doc_id, array_to_string(
            string_split_regex(lower(d.text), '\\s+')[i:i+7], ' ') AS g
        FROM dedup d, UNNEST(generate_series(1,
            len(string_split_regex(lower(d.text), '\\s+')) - 7)) AS t(i)
        WHERE len(string_split_regex(lower(d.text), '\\s+')) >= 8
    ),
    contaminated AS (
        SELECT DISTINCT c.doc_id FROM cgrams c JOIN bgrams b USING (g)
    ),
    clean AS (
        SELECT d.* FROM dedup d LEFT JOIN contaminated x USING (doc_id)
        WHERE x.doc_id IS NULL
    ),
    counts AS (SELECT lang, COUNT(*) AS n FROM clean GROUP BY lang),
    kept AS (
        SELECT c.doc_id, c.lang, c.n_tok
        FROM clean c JOIN counts k USING (lang)
        WHERE c.lang IN ('en', 'de', 'es', 'fr')
          AND (strpos('0123456789abcdef', substr(md5(CAST(c.doc_id AS VARCHAR)), 1, 1)) - 1) * 4096
             + (strpos('0123456789abcdef', substr(md5(CAST(c.doc_id AS VARCHAR)), 2, 1)) - 1) * 256
             + (strpos('0123456789abcdef', substr(md5(CAST(c.doc_id AS VARCHAR)), 3, 1)) - 1) * 16
             + (strpos('0123456789abcdef', substr(md5(CAST(c.doc_id AS VARCHAR)), 4, 1)) - 1)
             < LEAST(65536, FLOOR(150.0 * CASE c.lang
                   WHEN 'en' THEN 0.4 WHEN 'de' THEN 0.2
                   WHEN 'es' THEN 0.2 WHEN 'fr' THEN 0.2 END / k.n * 65536))
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens
    FROM kept GROUP BY lang ORDER BY lang
    """,
)
def q237(spark, sf_dir):
    from pandrs_spark.operators.dedup import exact_dedup_clusters
    from pandrs_spark.operators.sampling import resample_to_mixture
    from pandrs_spark.operators.text import decontaminate, token_count

    docs = T(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    quality = corpus.withColumn("n_tok", token_count(F.col("text"))).filter(
        F.col("n_tok") >= 10
    )
    # exact dedup: keep the lowest doc_id per normalized-content hash
    from pandrs_spark.operators.text import doc_fingerprint
    from pyspark.sql import Window as W

    fp = quality.withColumn("__f__", doc_fingerprint(F.col("text")))
    keep = fp.withColumn(
        "__rn__",
        F.row_number().over(W.partitionBy("__f__").orderBy("doc_id")),
    ).filter(F.col("__rn__") == 1)
    flags = decontaminate(keep, bench, carry=("lang", "n_tok"))
    clean = flags.filter(~F.col("contaminated")).select(
        "doc_id", "lang", "n_tok"
    )
    kept = resample_to_mixture(
        clean,
        "lang",
        {"en": 0.4, "de": 0.2, "es": 0.2, "fr": 0.2},
        budget=150,
        key_cols=["doc_id"],
    )
    return (
        kept.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("total_tokens"),
        )
        .orderBy("lang")
    )


# --- q275: corpus card — the one-pass per-source governance summary a
# dataset release ships with (docs, exact token counts, language
# spread, exact-duplicate ratio, mean length). Everything folds in a
# single groupBy over the documents scan; the duplicate ratio comes
# from COUNT(DISTINCT md5(text)) so no second dedup pass is needed.
# Map-side partial aggregation does the heavy lifting at 100 TB. -----------
@query(
    "q275_corpus_card",
    oracle="""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(list_filter(string_split_regex(text, '\\s+'),
                                    x -> x <> ''))) AS BIGINT) AS total_tokens,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS BIGINT)
               AS n_exact_dup_docs,
           ROUND((CAST(SUM(CAST(FLOOR(n_chars * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0)
                 / COUNT(*), 4) AS avg_chars
    FROM documents GROUP BY source ORDER BY source
    """,
)
def q275(spark, sf_dir):
    docs = T(spark, sf_dir, "documents")
    ntok = F.size(
        F.filter(F.split("text", "\\s+"), lambda x: x != F.lit(""))
    ).cast("long")
    return (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(ntok).alias("total_tokens"),
            F.countDistinct("lang").alias("n_langs"),
            (F.count(F.lit(1)) - F.countDistinct(F.md5("text"))).alias(
                "n_exact_dup_docs"
            ),
            F.round(dsum("n_chars") / F.count(F.lit(1)), 4).alias("avg_chars"),
        )
        .orderBy("source")
    )


# --- q282: character-trigram KL divergence per source — how far each
# source's character distribution drifts from the corpus LM (the
# cheap proxy for "this crawl slice looks different" in corpus
# triage). Trigram explode is a codegen'd HOF; counts are exact ints;
# each KL term quantizes at 1e-9 before the sum so the divergence is
# order-independent. Every join key is either the source (tiny) or the
# gram (bounded vocabulary) — no pairwise work. ------------------------------
_Q282_TERM = (
    "(CAST(c_sg AS DOUBLE) / CAST(ns AS DOUBLE))"
    " * LN((CAST(c_sg AS DOUBLE) / CAST(ns AS DOUBLE))"
    " / (CAST(cg AS DOUBLE) / CAST(ng AS DOUBLE)))"
)


@query(
    "q282_source_char_kl",
    oracle=f"""
    WITH tri AS (
        SELECT source, unnest(
            CASE WHEN length(lower(text)) >= 3 THEN
                list_transform(generate_series(1, length(lower(text)) - 2),
                               i -> substr(lower(text), i, 3))
            ELSE CAST([] AS VARCHAR[]) END) AS g
        FROM documents
    ),
    csg AS (SELECT source, g, CAST(COUNT(*) AS BIGINT) AS c_sg
            FROM tri GROUP BY source, g),
    ns AS (SELECT source, CAST(SUM(c_sg) AS BIGINT) AS ns
           FROM csg GROUP BY source),
    cg AS (SELECT g, CAST(SUM(c_sg) AS BIGINT) AS cg FROM csg GROUP BY g),
    ng AS (SELECT CAST(SUM(cg) AS BIGINT) AS ng FROM cg),
    terms AS (
        SELECT csg.source,
               CAST(SIGN({_Q282_TERM}) * FLOOR(ABS({_Q282_TERM}) * 1000000000.0 + 0.5) AS BIGINT) AS tq
        FROM csg
        JOIN ns ON csg.source = ns.source
        JOIN cg ON csg.g = cg.g
        CROSS JOIN ng
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           ROUND(CAST(SUM(tq) AS DOUBLE) / 1000000000.0, 6) AS kl_divergence
    FROM terms GROUP BY source ORDER BY source
    """,
)
def q282(spark, sf_dir):
    from pandrs_spark.operators.util import fan_out, tracked_persist

    # char-trigram explode amplifies per-row work ~text-length× past
    # scan bytes — widen the 1-partition scan; and the (source, gram)
    # count table feeds THREE aggregation branches, so persist it
    # instead of re-running the explode per branch (round 11, measured:
    # four parallel 5.1 s single-task evaluations of the same explode)
    docs = fan_out(T(spark, sf_dir, "documents"), bytes_per_task=16 * 1024)
    tri = docs.select(
        "source",
        F.explode(
            F.expr(
                "CASE WHEN length(lower(text)) >= 3 THEN "
                "transform(sequence(1, length(lower(text)) - 2), "
                "i -> substr(lower(text), i, 3)) "
                "ELSE array() END"
            )
        ).alias("g"),
    )
    csg = tracked_persist(
        tri.groupBy("source", "g").agg(F.count(F.lit(1)).alias("c_sg"))
    )
    ns = csg.groupBy("source").agg(F.sum("c_sg").alias("ns"))
    cg = csg.groupBy("g").agg(F.sum("c_sg").alias("cg"))
    ng = cg.agg(F.sum("cg").alias("ng"))
    term_q = F.expr(
        f"CAST(SIGN({_Q282_TERM}) * FLOOR(ABS({_Q282_TERM}) * 1000000000.0 + 0.5) AS BIGINT)"
    )
    terms = (
        csg.join(F.broadcast(ns), "source")
        .join(cg, "g")
        .join(F.broadcast(ng))
        .select("source", term_q.alias("tq"))
    )
    return (
        terms.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.round(F.sum("tq").cast("double") / 1e9, 6).alias(
                "kl_divergence"
            ),
        )
        .orderBy("source")
    )


# --- q300: cross-source mirror detection — shared document OPENINGS
# (40-char prefix fingerprint; boilerplate/syndication detector — this
# corpus has no full-text cross-source dups, which exact md5 q29/q275
# already measure) appearing under DIFFERENT sources. Fingerprint
# clusters with >1 distinct source expand into source PAIRS by a
# fingerprint-key self-join (bounded by duplicate clusters, never
# all-pairs of documents); output is the co-duplication matrix. -------------
@query(
    "q300_cross_source_mirrors",
    oracle="""
    WITH fp AS (
        SELECT md5(substr(text, 1, 40)) AS f, source,
               CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY 1, 2
    ),
    pairs AS (
        SELECT a.f, a.source AS source_a, b.source AS source_b,
               a.n_docs AS docs_a, b.n_docs AS docs_b
        FROM fp a JOIN fp b ON a.f = b.f AND a.source < b.source
    )
    SELECT source_a, source_b,
           CAST(COUNT(*) AS BIGINT) AS shared_fingerprints,
           CAST(SUM(docs_a + docs_b) AS BIGINT) AS docs_involved
    FROM pairs
    GROUP BY source_a, source_b
    ORDER BY shared_fingerprints DESC, source_a, source_b
    LIMIT 10
    """,
)
def q300(spark, sf_dir):
    docs = T(spark, sf_dir, "documents")
    fp = docs.groupBy(
        F.md5(F.substring("text", 1, 40)).alias("f"), "source"
    ).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    a = fp.select(
        "f", F.col("source").alias("source_a"), F.col("n_docs").alias("docs_a")
    )
    b = fp.select(
        F.col("f").alias("fb"),
        F.col("source").alias("source_b"),
        F.col("n_docs").alias("docs_b"),
    )
    pairs = a.join(
        b, (a.f == b.fb) & (F.col("source_a") < F.col("source_b"))
    )
    return (
        pairs.groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).alias("shared_fingerprints"),
            F.sum(F.col("docs_a") + F.col("docs_b")).alias("docs_involved"),
        )
        .orderBy(F.desc("shared_fingerprints"), "source_a", "source_b")
        .limit(10)
    )


# --- q322: CCNet-style boilerplate segment removal — segments that
# repeat across >= 3 distinct documents are corpus chrome, not content;
# drop them and reconstruct the cleaned text in original order. DF is
# one partial-aggregated shuffle on the segment; reconstruction sorts
# only WITHIN each document group. ------------------------------------------
@query(
    "q322_boilerplate_segment_removal",
    oracle="""
    WITH tok AS (
        SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w
        FROM documents
    ),
    segs AS (
        SELECT doc_id, i AS pos,
               array_to_string(w[(i*3+1):(i*3+3)], ' ') AS seg
        FROM tok,
             UNNEST(generate_series(0, CAST(CEIL(len(w)/3.0) AS INT) - 1)) t(i)
    ),
    seg_df AS (
        SELECT seg, COUNT(DISTINCT doc_id) AS d FROM segs GROUP BY seg
    ),
    kept AS (
        SELECT s.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_kept,
               string_agg(s.seg, ' ' ORDER BY s.pos) AS clean_text
        FROM segs s JOIN seg_df f USING (seg)
        WHERE f.d < 3
        GROUP BY s.doc_id
    ),
    per_doc AS (
        -- start from documents so a NULL-text doc (zero segments) still
        -- yields a row with n_segs=0 — the operator's posexplode_outer
        -- contract (sf* testdata has none; this keeps the oracle honest)
        SELECT d.doc_id, CAST(COUNT(s.seg) AS BIGINT) AS n_segs
        FROM documents d LEFT JOIN segs s USING (doc_id)
        GROUP BY d.doc_id
    )
    SELECT p.doc_id, p.n_segs,
           COALESCE(k.n_kept, 0) AS n_kept,
           p.n_segs - COALESCE(k.n_kept, 0) AS n_removed,
           COALESCE(k.clean_text, '') AS clean_text
    FROM per_doc p LEFT JOIN kept k USING (doc_id)
    ORDER BY p.doc_id
    """,
)
def q322(spark, sf_dir):
    from pandrs_spark.operators.text import remove_boilerplate_segments

    docs = T(spark, sf_dir, "documents")
    out = remove_boilerplate_segments(
        docs, seg_words=3, min_doc_count=3
    )
    return out.select(
        "doc_id",
        F.col("n_segs").cast("bigint").alias("n_segs"),
        F.col("n_kept").cast("bigint").alias("n_kept"),
        F.col("n_removed").cast("bigint").alias("n_removed"),
        "clean_text",
    ).orderBy("doc_id")


# --- q323: corpus-unigram LM quality score (CCNet perplexity-filter
# shape): per doc, mean −ln p(w) under the corpus's own unigram LM.
# LM = one vocabulary-bounded groupBy (broadcast); scoring = map-side
# join + per-doc exact quantized log-sum. --------------------------------
@query(
    "q323_unigram_lm_quality",
    oracle="""
    WITH tok AS (
        SELECT doc_id, u.w
        FROM (
            SELECT doc_id, string_split_regex(lower(text), '\\s+') AS ws
            FROM documents
        ), UNNEST(ws) AS u(w)
        WHERE u.w <> ''
    ),
    lm AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok GROUP BY w),
    total AS (SELECT CAST(SUM(cnt) AS BIGINT) AS tot FROM lm),
    per_doc AS (
        SELECT t.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               (CAST(SUM(CAST(SIGN(LN(l.cnt)) * FLOOR(ABS(LN(l.cnt)) * 1000000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000000.0) AS slog
        FROM tok t JOIN lm l USING (w)
        GROUP BY t.doc_id
    )
    SELECT doc_id, n_tokens,
           ROUND(LN(CAST(tot AS DOUBLE)) - slog / n_tokens, 6) AS neg_logprob
    FROM per_doc, total
    ORDER BY doc_id
    """,
)
def q323(spark, sf_dir):
    from pandrs_spark.operators.text import unigram_logprob_score

    docs = T(spark, sf_dir, "documents")
    out = unigram_logprob_score(docs)
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.round("neg_logprob", 6).alias("neg_logprob"),
    ).orderBy("doc_id")


# --- q324: duplicate-cluster representative selection — after dedup
# detection, keep the best-quality member of each exact-content cluster
# (ties → lowest id) and carry the cluster multiplicity for downstream
# weighting. One shuffle on the fingerprint; ranking windows are
# partitioned BY CLUSTER, never global. -------------------------------------
@query(
    "q324_dedup_representatives",
    oracle="""
    WITH keyed AS (
        SELECT md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp,
               doc_id, n_chars,
               ROW_NUMBER() OVER (
                   PARTITION BY md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))
                   ORDER BY n_chars DESC, doc_id
               ) AS rn,
               CAST(COUNT(*) OVER (
                   PARTITION BY md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))
               ) AS BIGINT) AS n_docs
        FROM documents
    )
    SELECT fp, n_docs, doc_id AS rep_id,
           CAST(n_chars AS BIGINT) AS rep_quality
    FROM keyed WHERE rn = 1
    ORDER BY fp
    """,
)
def q324(spark, sf_dir):
    from pandrs_spark.operators.dedup import select_cluster_representatives

    docs = T(spark, sf_dir, "documents")
    out = select_cluster_representatives(docs, "text", "doc_id", "n_chars")
    return out.select(
        "fp",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        "rep_id",
        F.col("rep_quality").cast("bigint").alias("rep_quality"),
    ).orderBy("fp")


# --- q325: temperature-based mixture shares (T5/mT5 sampling rule,
# share ∝ n^alpha) — the knob for up-weighting low-resource domains in
# a training mixture. Domain-bounded aggregate output. ----------------------
@query(
    "q325_temperature_mixture",
    oracle="""
    WITH counts AS (
        SELECT source AS domain, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY source
    ),
    powed AS (SELECT domain, n_docs, POWER(n_docs, 0.5) AS w FROM counts)
    SELECT domain, n_docs,
           ROUND(w / (SELECT SUM(w) FROM powed), 6) AS share
    FROM powed ORDER BY domain
    """,
)
def q325(spark, sf_dir):
    from pandrs_spark.operators.sampling import temperature_mixture_shares

    docs = T(spark, sf_dir, "documents")
    out = temperature_mixture_shares(docs, "source", alpha=0.5)
    return out.select(
        "domain", "n_docs", F.round("share", 6).alias("share")
    ).orderBy("domain")


# --- q326: DSIR-style importance weights (Xie et al. 2023) — hashed-
# unigram log importance of every doc against an in-domain target
# (lang='en' here). Fixed-B feature table broadcast; per-doc quantized
# log-ratio fold. ------------------------------------------------------------
@query(
    "q326_dsir_importance",
    oracle="""
    WITH tok AS (
        SELECT doc_id, t,
               (('0x' || substring(md5(u.w), 1, 6))::UBIGINT % 1024) AS b
        FROM (
            SELECT doc_id, (lang = 'en') AS t,
                   string_split_regex(lower(text), '\\s+') AS ws
            FROM documents
        ), UNNEST(ws) AS u(w)
        WHERE u.w <> ''
    ),
    feat AS (
        SELECT b, CAST(SUM(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS ct,
               CAST(COUNT(*) AS BIGINT) AS cr
        FROM tok GROUP BY b
    ),
    tot AS (
        SELECT CAST(SUM(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS nt,
               CAST(COUNT(*) AS BIGINT) AS nr
        FROM tok
    ),
    lrs AS (
        SELECT tok.doc_id,
               LN(CAST(f.ct AS DOUBLE) + 1.0) - LN(CAST(t.nt AS DOUBLE) + 1024.0)
               - LN(CAST(f.cr AS DOUBLE) + 1.0) + LN(CAST(t.nr AS DOUBLE) + 1024.0) AS lr
        FROM tok JOIN feat f USING (b), tot t
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
           ROUND(CAST(SUM(CAST(SIGN(lr) * FLOOR(ABS(lr) * 1000000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000000.0, 6) AS log_weight
    FROM lrs GROUP BY doc_id ORDER BY doc_id
    """,
)
def q326(spark, sf_dir):
    from pandrs_spark.operators.sampling import dsir_importance_weights

    docs = T(spark, sf_dir, "documents")
    out = dsir_importance_weights(docs, F.col("lang") == "en", n_buckets=1024)
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.round("log_weight", 6).alias("log_weight"),
    ).orderBy("doc_id")


# --- q327: interpolated bigram-LM fluency score — the KenLM/CCNet
# perplexity-filter shape one order above q323's unigram. -------------------
@query(
    "q327_bigram_lm_quality",
    oracle="""
    WITH base AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\\s+'), w -> w <> '') AS ws
        FROM documents
    ),
    tok AS (SELECT doc_id, u.w AS w FROM base, UNNEST(ws) AS u(w)),
    uni AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cu FROM tok GROUP BY w),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM tok),
    bg AS (
        SELECT doc_id, ws[i] AS prev, ws[i + 1] AS cur
        FROM base, UNNEST(range(1, len(ws))) AS r(i)
    ),
    bgc AS (SELECT prev, cur, CAST(COUNT(*) AS BIGINT) AS cb FROM bg GROUP BY prev, cur),
    lp AS (
        SELECT b.doc_id,
               LN((0.7 * CAST(bc.cb AS DOUBLE)) / CAST(up.cu AS DOUBLE)
                  + (0.3 * CAST(uc.cu AS DOUBLE)) / CAST(t.n AS DOUBLE)) AS l
        FROM bg b
        JOIN bgc bc USING (prev, cur)
        JOIN uni up ON up.w = b.prev
        JOIN uni uc ON uc.w = b.cur, tot t
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           ROUND(-(CAST(SUM(CAST(SIGN(l) * FLOOR(ABS(l) * 1000000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000000.0) / COUNT(*), 6) AS neg_logprob
    FROM lp GROUP BY doc_id ORDER BY doc_id
    """,
)
def q327(spark, sf_dir):
    from pandrs_spark.operators.text import bigram_lm_score

    docs = T(spark, sf_dir, "documents")
    out = bigram_lm_score(docs, lam=0.7)
    return out.select(
        "doc_id",
        F.col("n_bigrams").cast("bigint").alias("n_bigrams"),
        F.round("neg_logprob", 6).alias("neg_logprob"),
    ).orderBy("doc_id")


# --- q329: C4-style line-level cleaning (Raffel et al. 2020 §2.2) —
# terminal punctuation, min words/line, line+doc blacklists. Map-only. -------
@query(
    "q329_c4_line_filter",
    oracle="""
    WITH base AS (
        SELECT doc_id, string_split(text, chr(10)) AS lines,
               (contains(lower(text), 'lorem ipsum') OR contains(text, '{')) AS dropped
        FROM documents
    ),
    k AS (
        SELECT doc_id, lines, dropped,
               list_filter(
                   lines,
                   l -> regexp_matches(trim(l), '[.!?"]$')
                        AND len(list_filter(string_split_regex(trim(l), '\\s+'), w -> w <> '')) >= 5
                        AND NOT contains(lower(l), 'javascript')
               ) AS kept
        FROM base
    )
    SELECT doc_id,
           CAST(len(lines) AS BIGINT) AS n_lines,
           CAST(CASE WHEN dropped THEN 0 ELSE len(kept) END AS BIGINT) AS n_kept,
           dropped AS doc_dropped,
           CASE WHEN dropped THEN '' ELSE array_to_string(kept, chr(10)) END AS clean_text
    FROM k ORDER BY doc_id
    """,
)
def q329(spark, sf_dir):
    from pandrs_spark.operators.text import c4_line_filter

    docs = T(spark, sf_dir, "documents")
    return c4_line_filter(docs).orderBy("doc_id")


# --- q330: cross-source exact-content overlap matrix — the provenance
# audit before mixing sources into one training corpus. ---------------------
@query(
    "q330_source_overlap_matrix",
    oracle="""
    WITH d AS (
        SELECT DISTINCT
               md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp,
               source AS src
        FROM documents
    ),
    ps AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS n FROM d GROUP BY src),
    grid AS (
        SELECT a.src AS source_a, b.src AS source_b, a.n AS n_a, b.n AS n_b
        FROM ps a, ps b WHERE a.src < b.src
    ),
    sh AS (
        SELECT x.src AS source_a, y.src AS source_b,
               CAST(COUNT(*) AS BIGINT) AS n_shared
        FROM d x JOIN d y USING (fp)
        WHERE x.src < y.src
        GROUP BY x.src, y.src
    )
    SELECT g.source_a, g.source_b, g.n_a, g.n_b,
           COALESCE(s.n_shared, 0) AS n_shared,
           ROUND(CAST(COALESCE(s.n_shared, 0) AS DOUBLE)
                 / (g.n_a + g.n_b - COALESCE(s.n_shared, 0)), 6) AS jaccard
    FROM grid g LEFT JOIN sh s USING (source_a, source_b)
    ORDER BY source_a, source_b
    """,
)
def q330(spark, sf_dir):
    from pandrs_spark.operators.dedup import source_overlap_matrix

    docs = T(spark, sf_dir, "documents")
    out = source_overlap_matrix(docs)
    return out.select(
        "source_a",
        "source_b",
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.col("n_shared").cast("bigint").alias("n_shared"),
        "jaccard",
    ).orderBy("source_a", "source_b")


# Shared oracle fragment for winnowing (k=4-gram hashes, window=5):
# grams -> md5 -> per-window rightmost argmin, as DISTINCT (pos, fp).
_WINNOW_SEL = """
    base AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\\s+'), w -> w <> '') AS ws
        FROM documents
    ),
    g AS (
        SELECT doc_id,
               list_transform(
                   range(1, CASE WHEN len(ws) >= 4 THEN len(ws) - 2 ELSE 1 END),
                   i -> md5(array_to_string(list_slice(ws, i, i + 3), ' '))
               ) AS hs
        FROM base
    ),
    wins AS (
        SELECT doc_id, hs, i
        FROM g, UNNEST(range(1, (CASE WHEN len(hs) = 0 THEN 0 ELSE GREATEST(1, len(hs) - 4) END) + 1)) AS r(i)
    ),
    sel AS (
        SELECT DISTINCT doc_id,
               CAST(i + len(list_slice(hs, i, i + 4))
                    - list_position(list_reverse(list_slice(hs, i, i + 4)),
                                    list_aggregate(list_slice(hs, i, i + 4), 'min')) AS BIGINT) AS pos,
               list_aggregate(list_slice(hs, i, i + 4), 'min') AS fp
        FROM wins
    )
"""


# --- q331: winnowing document fingerprints (Schleimer et al., SIGMOD
# 2003 / MOSS) — per-doc selected-fingerprint summary. ----------------------
@query(
    "q331_winnow_fingerprints",
    oracle=f"""
    WITH {_WINNOW_SEL}
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_fps,
           CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_unique,
           MIN(fp) AS min_fp
    FROM sel GROUP BY doc_id ORDER BY doc_id
    """,
)
def q331(spark, sf_dir):
    from pandrs_spark.operators.dedup import winnow_fingerprints

    docs = T(spark, sf_dir, "documents")
    fps = winnow_fingerprints(docs, k=4, window=5)
    return (
        fps.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_fps"),
            F.countDistinct("fp").cast("bigint").alias("n_unique"),
            F.min("fp").alias("min_fp"),
        )
        .orderBy("doc_id")
    )


# --- q332: winnowing local-overlap pairs — partial-duplication
# detection (shared paragraph) that whole-doc MinHash misses. ---------------
@query(
    "q332_winnow_overlap_pairs",
    oracle=f"""
    WITH {_WINNOW_SEL},
    fps AS (SELECT DISTINCT doc_id, fp FROM sel),
    keep AS (SELECT fp FROM fps GROUP BY fp HAVING COUNT(*) <= 10),
    kept AS (SELECT f.doc_id, f.fp FROM fps f JOIN keep USING (fp)),
    pd AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM kept GROUP BY doc_id),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(COUNT(*) AS BIGINT) AS n_shared
        FROM kept a JOIN kept b USING (fp)
        WHERE a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
        HAVING COUNT(*) >= 3
    )
    SELECT p.doc_a, p.doc_b, p.n_shared,
           ROUND(CAST(p.n_shared AS DOUBLE) / LEAST(x.n, y.n), 6) AS containment
    FROM pairs p
    JOIN pd x ON x.doc_id = p.doc_a
    JOIN pd y ON y.doc_id = p.doc_b
    ORDER BY doc_a, doc_b
    """,
)
def q332(spark, sf_dir):
    from pandrs_spark.operators.dedup import winnow_overlap_pairs

    docs = T(spark, sf_dir, "documents")
    out = winnow_overlap_pairs(docs, k=4, window=5, min_shared=3, max_df=10)
    return out.select(
        "doc_a",
        "doc_b",
        F.col("n_shared").cast("bigint").alias("n_shared"),
        "containment",
    ).orderBy("doc_a", "doc_b")


# --- q345: entity-resolution candidate pairs over part names. The
# classic blocked-ER shape: tokenize p_name, block by brand, generate
# candidates ONLY for parts sharing (brand, token) — an equi-join, no
# all-pairs — then score token-set Jaccard and keep pairs ≥ 0.5.
# Counts are integers; Jaccard is an integer ratio; (jaccard, pa, pb)
# is a total order so the top-50 cut is deterministic. At 100 TB the
# blocking key bounds candidate growth exactly like LSH banding in
# q31. Reference: record-linkage surface of src/dataframe/join.rs;
# the reference has no text-similarity module (Jaccard, public).
@query(
    "q345_part_name_er_pairs",
    oracle="""
    WITH toks AS (
        SELECT DISTINCT p.p_partkey AS pk, p.p_brand AS brand, t.tok
        FROM part p, UNNEST(string_split(p.p_name, ' ')) AS t(tok)
    ),
    sizes AS (SELECT pk, COUNT(*) AS n FROM toks GROUP BY pk),
    cand AS (
        SELECT a.pk AS pa, b.pk AS pb, COUNT(*) AS n_common
        FROM toks a JOIN toks b
          ON a.brand = b.brand AND a.tok = b.tok AND a.pk < b.pk
        GROUP BY a.pk, b.pk
    )
    SELECT c.pa AS part_a, c.pb AS part_b,
           CAST(c.n_common AS BIGINT) AS n_common,
           ROUND(c.n_common * 1.0 / (sa.n + sb.n - c.n_common), 6) AS jaccard
    FROM cand c JOIN sizes sa ON sa.pk = c.pa JOIN sizes sb ON sb.pk = c.pb
    WHERE c.n_common * 2.0 >= (sa.n + sb.n - c.n_common)
    ORDER BY jaccard DESC, part_a, part_b LIMIT 50
    """,
)
def q345(spark, sf_dir):
    pt = T(spark, sf_dir, "part")
    toks = (
        pt.select(
            F.col("p_partkey").alias("pk"),
            F.col("p_brand").alias("brand"),
            F.explode(F.split("p_name", " ")).alias("tok"),
        )
        .distinct()
    )
    sizes = toks.groupBy("pk").agg(F.count(F.lit(1)).alias("n"))
    a = toks.select(F.col("pk").alias("pa"), "brand", "tok")
    b = toks.select(
        F.col("pk").alias("pb"), F.col("brand").alias("brand_b"),
        F.col("tok").alias("tok_b"),
    )
    cand = (
        a.join(
            b,
            (F.col("brand") == F.col("brand_b"))
            & (F.col("tok") == F.col("tok_b"))
            & (F.col("pa") < F.col("pb")),
        )
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("pk").alias("pa"), F.col("n").alias("na"))
    sb = sizes.select(F.col("pk").alias("pb"), F.col("n").alias("nb"))
    return (
        cand.join(sa, "pa")
        .join(sb, "pb")
        .filter(
            F.col("n_common") * 2.0 >= F.col("na") + F.col("nb") - F.col("n_common")
        )
        .select(
            F.col("pa").alias("part_a"),
            F.col("pb").alias("part_b"),
            F.col("n_common").cast("long").alias("n_common"),
            F.round(
                F.col("n_common")
                * 1.0
                / (F.col("na") + F.col("nb") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
        .orderBy(F.desc("jaccard"), "part_a", "part_b")
        .limit(50)
    )


# --- q368: top-n-gram repetition audit — the OTHER Gopher repetition
# rule. q159's dup_ngram_frac is a distinct-ratio (how much of the doc
# is any repeat); this measures dominance (how much of the doc is ONE
# n-gram), the rule that catches boilerplate headers and SEO keyword
# stuffing that mild-repeat ratios miss. Per-doc mode counts are pure
# higher-order-function folds (operators/text.top_ngram_fraction) —
# zero shuffle before the per-source rollup, so the rule costs one
# map-side scan at corpus scale. Fractions are integer ratios (exact
# in IEEE double on both engines); means use quantized sums.
# The reference has no text module; C4/Gopher rule methodology
# (Raffel 2020 / Rae 2021, public).
def _q368_oracle() -> str:
    from pandrs_spark.functions.deterministic import sql_davg

    return r"""
    WITH ws0 AS (
        SELECT source, string_split_regex(lower(text), '\s+') AS ws
        FROM documents
    ),
    sh AS (
        SELECT source,
               CASE WHEN len(ws) >= 2 THEN
                   list_transform(generate_series(1, len(ws) - 1),
                                  i -> array_to_string(ws[i:i+1], ' '))
               ELSE CAST([] AS VARCHAR[]) END AS s2,
               CASE WHEN len(ws) >= 3 THEN
                   list_transform(generate_series(1, len(ws) - 2),
                                  i -> array_to_string(ws[i:i+2], ' '))
               ELSE CAST([] AS VARCHAR[]) END AS s3
        FROM ws0
    ),
    fr AS (
        SELECT source,
               CASE WHEN len(s2) > 0 THEN
                   CAST(list_max(list_transform(list_distinct(s2),
                        d -> len(list_filter(s2, x -> x = d)))) AS DOUBLE)
                   / len(s2)
               ELSE 0.0 END AS t2,
               CASE WHEN len(s3) > 0 THEN
                   CAST(list_max(list_transform(list_distinct(s3),
                        d -> len(list_filter(s3, x -> x = d)))) AS DOUBLE)
                   / len(s3)
               ELSE 0.0 END AS t3
        FROM sh
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           {avg_t2} AS avg_top2,
           {avg_t3} AS avg_top3,
           CAST(SUM(CASE WHEN t2 >= 0.05 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_flag_top2,
           CAST(SUM(CASE WHEN t3 >= 0.04 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_flag_top3
    FROM fr
    GROUP BY source
    ORDER BY source
    """.format(
        avg_t2=sql_davg("t2", 6), avg_t3=sql_davg("t3", 6)
    )


@query("q368_top_ngram_repetition", oracle=_q368_oracle())
def q368(spark, sf_dir):
    from pandrs_spark.functions.deterministic import davg
    from pandrs_spark.operators.text import top_ngram_fraction
    from pandrs_spark.operators.util import fan_out

    # the sorted-shingle run-length fold is O(n log n) per row — widen
    # the 1-partition scan (round 11: 19.6 s single-task stage)
    docs = fan_out(T(spark, sf_dir, "documents"), bytes_per_task=16 * 1024)
    fr = docs.select(
        "source",
        top_ngram_fraction("text", 2).alias("t2"),
        top_ngram_fraction("text", 3).alias("t3"),
    )
    return (
        fr.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            davg("t2", 6).alias("avg_top2"),
            davg("t3", 6).alias("avg_top3"),
            F.sum(F.when(F.col("t2") >= 0.05, 1).otherwise(0))
            .cast("long")
            .alias("n_flag_top2"),
            F.sum(F.when(F.col("t3") >= 0.04, 1).otherwise(0))
            .cast("long")
            .alias("n_flag_top3"),
        )
        .orderBy("source")
    )


# --- q369: Fellegi–Sunter-style scored record linkage. q345 generates
# blocked candidates; this is the SCORING stage a real ER pipeline
# runs next: per-pair field comparisons (full-name edit similarity via
# Levenshtein, type agreement, size proximity) combined into a linear
# match weight, then tiered into match/possible/reject. Blocking key
# (brand, first name token) keeps candidates an equi-join — no
# all-pairs — and every comparison is a JVM built-in (levenshtein is
# codegen'd), so the stage is shuffle-bounded by the block sizes at
# 100 TB. Weights are CAST-to-DOUBLE on both engines (DuckDB numeric
# literals are DECIMAL); name_sim is an integer ratio, exact in
# double. Reference: record-linkage surface of src/dataframe/join.rs.
def _q369_oracle() -> str:
    from pandrs_spark.functions.deterministic import sql_davg

    return """
    WITH cand AS (
        SELECT a.p_partkey AS pa, b.p_partkey AS pb,
               a.p_name AS name_a, b.p_name AS name_b,
               a.p_type AS type_a, b.p_type AS type_b,
               a.p_size AS size_a, b.p_size AS size_b
        FROM part a JOIN part b
          ON a.p_brand = b.p_brand
         AND split_part(a.p_name, ' ', 1) = split_part(b.p_name, ' ', 1)
         AND a.p_partkey < b.p_partkey
    ),
    scored AS (
        SELECT pa, pb,
               CAST(1.0 AS DOUBLE)
                 - CAST(levenshtein(name_a, name_b) AS DOUBLE)
                   / GREATEST(LENGTH(name_a), LENGTH(name_b)) AS name_sim,
               CASE WHEN type_a = type_b THEN 1 ELSE 0 END AS type_agree,
               CASE WHEN ABS(size_a - size_b) <= 2 THEN 1 ELSE 0 END
                 AS size_close
        FROM cand
    ),
    weighted AS (
        SELECT pa, pb, name_sim,
               CAST(2.2 AS DOUBLE) * name_sim
                 + CAST(1.1 AS DOUBLE) * type_agree
                 + CAST(0.7 AS DOUBLE) * size_close AS w
        FROM scored
    )
    SELECT CASE WHEN w >= 3.0 THEN 'match'
                WHEN w >= 2.0 THEN 'possible'
                ELSE 'reject' END AS tier,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           {avg_sim} AS avg_name_sim
    FROM weighted
    GROUP BY tier
    ORDER BY tier
    """.format(avg_sim=sql_davg("name_sim", 6))


@query("q369_er_match_scoring", oracle=_q369_oracle())
def q369(spark, sf_dir):
    from pandrs_spark.functions.deterministic import davg

    pt = T(spark, sf_dir, "part")
    a = pt.select(
        F.col("p_partkey").alias("pa"),
        F.col("p_brand").alias("brand"),
        F.element_at(F.split("p_name", " "), 1).alias("blk"),
        F.col("p_name").alias("name_a"),
        F.col("p_type").alias("type_a"),
        F.col("p_size").alias("size_a"),
    )
    b = pt.select(
        F.col("p_partkey").alias("pb"),
        F.col("p_brand").alias("brand_b"),
        F.element_at(F.split("p_name", " "), 1).alias("blk_b"),
        F.col("p_name").alias("name_b"),
        F.col("p_type").alias("type_b"),
        F.col("p_size").alias("size_b"),
    )
    cand = a.join(
        b,
        (F.col("brand") == F.col("brand_b"))
        & (F.col("blk") == F.col("blk_b"))
        & (F.col("pa") < F.col("pb")),
    )
    scored = cand.select(
        "pa",
        "pb",
        (
            F.lit(1.0)
            - F.levenshtein("name_a", "name_b").cast("double")
            / F.greatest(F.length("name_a"), F.length("name_b"))
        ).alias("name_sim"),
        F.when(F.col("type_a") == F.col("type_b"), 1).otherwise(0).alias(
            "type_agree"
        ),
        F.when(F.abs(F.col("size_a") - F.col("size_b")) <= 2, 1)
        .otherwise(0)
        .alias("size_close"),
    )
    weighted = scored.select(
        "pa",
        "pb",
        "name_sim",
        (
            F.lit(2.2) * F.col("name_sim")
            + F.lit(1.1) * F.col("type_agree")
            + F.lit(0.7) * F.col("size_close")
        ).alias("w"),
    )
    return (
        weighted.select(
            F.when(F.col("w") >= 3.0, "match")
            .when(F.col("w") >= 2.0, "possible")
            .otherwise("reject")
            .alias("tier"),
            "name_sim",
        )
        .groupBy("tier")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            davg("name_sim", 6).alias("avg_name_sim"),
        )
        .orderBy("tier")
    )


# --- q375: PMI collocation mining — corpus-level association strength
# of adjacent word pairs (the classic collocation-extraction shape;
# q368 measures within-doc dominance, this measures cross-corpus
# lexical affinity). Counting is two aggregations (bigram counts,
# unigram counts); PMI's ln is display-only — the RANKING key is the
# exact lift ratio r = c_ab·N_tok² / (N_bi·c_a·c_b) computed with one
# fixed operand order, so the top-20 cut never depends on cross-libm
# ln behavior. min-count floor (≥ 30) is the standard sparse-PMI
# guard. At 100 TB both aggregations partial-combine map-side; the
# unigram join is a broadcast (vocabulary-bounded). The reference
# has no collocation module; PMI per Church & Hanks 1990 (public).
@query(
    "q375_pmi_collocations",
    oracle=r"""
    WITH ws0 AS (
        SELECT string_split_regex(lower(text), '\s+') AS ws FROM documents
    ),
    uni AS (
        SELECT t.tok, CAST(COUNT(*) AS BIGINT) AS c
        FROM ws0, UNNEST(ws) AS t(tok)
        GROUP BY t.tok
    ),
    n_tok AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM uni),
    bi AS (
        SELECT b.bg, CAST(COUNT(*) AS BIGINT) AS c_ab
        FROM ws0, UNNEST(
            CASE WHEN len(ws) >= 2 THEN
                list_transform(generate_series(1, len(ws) - 1),
                               i -> array_to_string(ws[i:i+1], ' '))
            ELSE CAST([] AS VARCHAR[]) END
        ) AS b(bg)
        GROUP BY b.bg
    ),
    n_bi AS (SELECT CAST(SUM(c_ab) AS BIGINT) AS n FROM bi),
    scored AS (
        SELECT bi.bg AS bigram, bi.c_ab,
               CAST(bi.c_ab AS DOUBLE)
                 * (CAST(t.n AS DOUBLE) * CAST(t.n AS DOUBLE))
                 / (CAST(nb.n AS DOUBLE)
                    * (CAST(ua.c AS DOUBLE) * CAST(ub.c AS DOUBLE)))
                 AS lift
        FROM bi
        JOIN uni ua ON ua.tok = split_part(bi.bg, ' ', 1)
        JOIN uni ub ON ub.tok = split_part(bi.bg, ' ', 2)
        CROSS JOIN n_tok t CROSS JOIN n_bi nb
        WHERE bi.c_ab >= 30
    )
    SELECT bigram, c_ab AS n_occurrences,
           ROUND(lift, 6) AS lift,
           ROUND(LN(lift), 6) AS pmi
    FROM scored
    ORDER BY lift DESC, bigram
    LIMIT 20
    """,
)
def q375(spark, sf_dir):
    from pandrs_spark.operators.text import shingles, tokens
    from pandrs_spark.operators.util import fan_out

    docs = fan_out(T(spark, sf_dir, "documents").select("text"))
    toks = docs.select(tokens("text").alias("ws"))
    uni = toks.select(F.explode("ws").alias("tok")).groupBy("tok").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    n_tok = uni.agg(F.sum("c").cast("long").alias("n"))
    bi = (
        toks.select(F.explode(shingles(F.col("ws"), 2)).alias("bg"))
        .groupBy("bg")
        .agg(F.count(F.lit(1)).cast("long").alias("c_ab"))
        .filter(F.col("c_ab") >= 30)
    )
    ua = uni.select(F.col("tok").alias("tok_a"), F.col("c").alias("c_a"))
    ub = uni.select(F.col("tok").alias("tok_b"), F.col("c").alias("c_b"))
    n_bi_total = (
        toks.select(
            F.greatest(F.size("ws") - 1, F.lit(0)).alias("nb")
        )
        .agg(F.sum("nb").cast("long").alias("nb"))
    )
    scored = (
        bi.withColumn("tok_a", F.split_part(F.col("bg"), F.lit(" "), F.lit(1)))
        .withColumn("tok_b", F.split_part(F.col("bg"), F.lit(" "), F.lit(2)))
        .join(F.broadcast(ua), "tok_a")
        .join(F.broadcast(ub), "tok_b")
        .crossJoin(F.broadcast(n_tok))
        .crossJoin(F.broadcast(n_bi_total))
        .select(
            F.col("bg").alias("bigram"),
            "c_ab",
            (
                F.col("c_ab").cast("double")
                * (F.col("n").cast("double") * F.col("n").cast("double"))
                / (
                    F.col("nb").cast("double")
                    * (F.col("c_a").cast("double") * F.col("c_b").cast("double"))
                )
            ).alias("lift"),
        )
    )
    return (
        scored.select(
            "bigram",
            F.col("c_ab").alias("n_occurrences"),
            F.round("lift", 6).alias("lift"),
            F.round(F.log("lift"), 6).alias("pmi"),
        )
        .orderBy(F.desc("lift"), "bigram")
        .limit(20)
    )


# --- q399: capture-recapture (Lincoln-Petersen / Chapman) corpus-size
# estimation — the dedup-pipeline trick for estimating TRUE distinct
# documents without a full global dedup: two deterministic md5-salted
# "capture passes" over content fingerprints; the overlap rate
# calibrates the estimate. At 100 TB each pass is a map-only filter on
# the fingerprint (no shuffle beyond the distinct), so the estimate
# costs two cheap scans instead of one giant groupBy. The gate also
# carries the exact distinct count, so the estimator's plumbing AND
# its ground truth sit in one row. -------------------------------------------
@query(
    "q399_capture_recapture_corpus",
    oracle="""
    WITH fp AS (SELECT DISTINCT md5(text) AS f FROM documents),
    marks AS (
        SELECT f,
               substr(md5(f || 'A'), 1, 1) < '8' AS in_a,
               substr(md5(f || 'B'), 1, 1) < '8' AS in_b
        FROM fp
    ),
    agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS true_distinct,
               CAST(COUNT(CASE WHEN in_a THEN 1 END) AS BIGINT) AS n_a,
               CAST(COUNT(CASE WHEN in_b THEN 1 END) AS BIGINT) AS n_b,
               CAST(COUNT(CASE WHEN in_a AND in_b THEN 1 END) AS BIGINT)
                   AS n_both
        FROM marks
    )
    SELECT n_a, n_b, n_both, true_distinct,
           CAST(SIGN(CAST(n_a AS DOUBLE) * n_b / n_both)
                * FLOOR(ABS(CAST(n_a AS DOUBLE) * n_b / n_both) * 1000000.0 + 0.5)
                AS BIGINT) / 1000000.0 AS lp_estimate,
           CAST(SIGN((CAST(n_a AS DOUBLE) + 1) * (n_b + 1) / (n_both + 1) - 1)
                * FLOOR(ABS((CAST(n_a AS DOUBLE) + 1) * (n_b + 1) / (n_both + 1) - 1)
                        * 1000000.0 + 0.5)
                AS BIGINT) / 1000000.0 AS chapman_estimate
    FROM agg
    """,
)
def q399(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize

    docs = T(spark, sf_dir, "documents")
    fp = docs.select(F.md5("text").alias("f")).distinct()
    marks = fp.select(
        "f",
        (F.expr("substr(md5(f || 'A'), 1, 1)") < "8").alias("in_a"),
        (F.expr("substr(md5(f || 'B'), 1, 1)") < "8").alias("in_b"),
    )
    agg = marks.agg(
        F.count(F.lit(1)).cast("long").alias("true_distinct"),
        F.count(F.when(F.col("in_a"), 1)).cast("long").alias("n_a"),
        F.count(F.when(F.col("in_b"), 1)).cast("long").alias("n_b"),
        F.count(F.when(F.col("in_a") & F.col("in_b"), 1))
        .cast("long")
        .alias("n_both"),
    )
    lp = F.col("n_a").cast("double") * F.col("n_b") / F.col("n_both")
    chapman = (F.col("n_a").cast("double") + 1) * (F.col("n_b") + 1) / (
        F.col("n_both") + 1
    ) - 1
    return agg.select(
        "n_a",
        "n_b",
        "n_both",
        "true_distinct",
        (quantize(lp, 6) / 1e6).alias("lp_estimate"),
        (quantize(chapman, 6) / 1e6).alias("chapman_estimate"),
    )


# --- q400: END-TO-END training-data pipeline funnel — the composite
# "user story" query: raw corpus → quality gate → exact dedup (min-id
# per md5) → simhash near-dup collapse → benchmark decontamination,
# emitting (n_docs, n_tokens) survivors per stage. Every stage reuses
# the production operator (operators/text.tokens/decontaminate,
# operators/dedup.simhash_fingerprint) and the oracle recomputes the
# identical funnel as one CTE chain, so the STAGE COMPOSITION — not
# just each operator alone — is value-verified. Scale shape: each
# stage is the already-audited operator (broadcast gram join, grouped
# fingerprint min, map-side gates); survivor sets are persisted
# because each feeds both its own funnel row and the next stage. ------------
def _q400_simhash_cases(bits: int = 16) -> str:
    pieces = []
    for j in range(1, bits + 1):
        pieces.append(
            "CASE WHEN SUM(CASE WHEN strpos('89abcdef', substr(h, "
            f"{j}, 1)) > 0 THEN 1 ELSE -1 END) > 0 THEN '1' ELSE '0' END"
        )
    return ", ".join(pieces)


@query(
    "q400_training_pipeline_funnel",
    oracle=f"""
    WITH base AS (
        SELECT doc_id, text,
               CAST(len({_WS}) AS BIGINT) AS wc
        FROM documents
    ),
    s1 AS (
        SELECT * FROM base
        WHERE wc >= 30 AND length(text) * 1.0 / wc <= 5.5
    ),
    s2 AS (
        SELECT doc_id, text, wc FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(text)
                                         ORDER BY doc_id) AS rn
            FROM s1
        ) WHERE rn = 1
    ),
    tok AS (SELECT doc_id, unnest({_WS}) AS tk FROM s2),
    hs AS (SELECT doc_id, md5(tk) AS h FROM tok),
    sh AS (
        SELECT doc_id, concat({_q400_simhash_cases(16)}) AS simhash
        FROM hs GROUP BY doc_id
    ),
    keep3 AS (
        SELECT doc_id FROM (
            SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY simhash
                                              ORDER BY doc_id) AS rn
            FROM sh
        ) WHERE rn = 1
    ),
    s3 AS (SELECT s2.* FROM s2 JOIN keep3 USING (doc_id)),
    btoks AS (
        SELECT {_WS} AS w FROM documents WHERE doc_id % 97 = 0
    ),
    bgrams AS (
        SELECT DISTINCT array_to_string(w[i:i+7], ' ') AS g
        FROM btoks, UNNEST(generate_series(1, len(w) - 7)) AS t(i)
        WHERE len(w) >= 8
    ),
    cand AS (SELECT * FROM s3 WHERE doc_id % 97 <> 0),
    ctoks AS (SELECT doc_id, {_WS} AS w FROM cand),
    cgrams AS (
        SELECT doc_id, array_to_string(w[i:i+7], ' ') AS g
        FROM ctoks, UNNEST(generate_series(1, len(w) - 7)) AS t(i)
        WHERE len(w) >= 8
    ),
    hits AS (
        SELECT c.doc_id,
               SUM(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END) AS n_hits
        FROM cgrams c LEFT JOIN bgrams b USING (g)
        GROUP BY c.doc_id
    ),
    s4 AS (
        SELECT cand.* FROM cand LEFT JOIN hits USING (doc_id)
        WHERE COALESCE(hits.n_hits, 0) = 0
    )
    SELECT * FROM (
        SELECT 0 AS stage, 'raw' AS name,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(wc) AS BIGINT) AS n_tokens FROM base
        UNION ALL
        SELECT 1, 'quality', CAST(COUNT(*) AS BIGINT),
               CAST(SUM(wc) AS BIGINT) FROM s1
        UNION ALL
        SELECT 2, 'exact_dedup', CAST(COUNT(*) AS BIGINT),
               CAST(SUM(wc) AS BIGINT) FROM s2
        UNION ALL
        SELECT 3, 'simhash_dedup', CAST(COUNT(*) AS BIGINT),
               CAST(SUM(wc) AS BIGINT) FROM s3
        UNION ALL
        SELECT 4, 'decontaminated', CAST(COUNT(*) AS BIGINT),
               CAST(SUM(wc) AS BIGINT) FROM s4
    ) ORDER BY stage
    """,
)
def q400(spark, sf_dir):
    from pandrs_spark.operators.dedup import simhash_fingerprint
    from pandrs_spark.operators.text import decontaminate, token_count
    from pandrs_spark.operators.util import tracked_persist

    docs = T(spark, sf_dir, "documents")
    base = tracked_persist(
        docs.select(
            "doc_id", "text", token_count("text").cast("long").alias("wc")
        )
    )
    s1 = tracked_persist(
        base.filter(
            (F.col("wc") >= 30)
            & (F.length("text") * 1.0 / F.col("wc") <= 5.5)
        )
    )
    keep2 = s1.groupBy(F.md5("text").alias("__fp__")).agg(
        F.min("doc_id").alias("doc_id")
    )
    s2 = tracked_persist(s1.join(keep2.select("doc_id"), "doc_id"))
    sh = simhash_fingerprint(s2, "text", "doc_id", bits=16)
    keep3 = sh.groupBy("simhash").agg(F.min("doc_id").alias("doc_id"))
    s3 = tracked_persist(s2.join(keep3.select("doc_id"), "doc_id"))
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    cand = tracked_persist(s3.filter(F.col("doc_id") % 97 != 0))
    flags = decontaminate(cand, bench, k=8)
    s4 = cand.join(
        flags.filter(~F.col("contaminated")).select("doc_id"), "doc_id"
    )

    def stage(df, i, name):
        return df.agg(
            F.lit(i).cast("int").alias("stage"),
            F.lit(name).alias("name"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("wc").cast("long").alias("n_tokens"),
        )

    out = stage(base, 0, "raw")
    for df, i, name in [
        (s1, 1, "quality"),
        (s2, 2, "exact_dedup"),
        (s3, 3, "simhash_dedup"),
        (s4, 4, "decontaminated"),
    ]:
        out = out.unionByName(stage(df, i, name))
    return out.orderBy("stage")


# --- q422: Good-Turing unseen-probability mass + Chao1 vocabulary
# richness — "how much of the language have we NOT crawled yet?" The
# corpus-planning estimators: Turing coverage C = 1 − N₁/N (mass of
# unseen types), Good-Turing smoothed counts r* = (r+1)·S(r+1)/S(r)
# for low r, and Chao1 total-vocabulary estimate D + N₁²/(2N₂). All
# from the frequency-of-frequencies profile over word TRIGRAMS (the
# unigram vocabulary here is saturated — no hapaxes — so the estimator
# runs where it actually operates in corpus planning, on n-gram types):
# tokens → per-type counts
# → counts-of-counts (three cheap shuffles, each smaller than the
# last). Pairs with q224 vocabulary coverage / q312 Zipf. ---------------------
@query(
    "q422_good_turing_chao1",
    oracle=f"""
    WITH w AS (SELECT {_WS} AS w FROM documents),
    tok AS (
        SELECT array_to_string(w[i:i+2], ' ') AS tk
        FROM w, UNNEST(generate_series(1, len(w) - 2)) AS t(i)
        WHERE len(w) >= 3
    ),
    types AS (SELECT tk, COUNT(*) AS r FROM tok GROUP BY tk),
    fof AS (SELECT r, COUNT(*) AS s FROM types GROUP BY r),
    base AS (
        SELECT CAST((SELECT COUNT(*) FROM tok) AS BIGINT) AS n_tokens,
               CAST((SELECT COUNT(*) FROM types) AS BIGINT) AS n_types,
               CAST(COALESCE((SELECT s FROM fof WHERE r = 1), 0) AS BIGINT) AS n1,
               CAST(COALESCE((SELECT s FROM fof WHERE r = 2), 0) AS BIGINT) AS n2,
               CAST(COALESCE((SELECT s FROM fof WHERE r = 3), 0) AS BIGINT) AS n3
    )
    SELECT n_tokens, n_types, n1, n2,
           CAST(SIGN(CAST(n1 AS DOUBLE) / n_tokens)
                * FLOOR(ABS(CAST(n1 AS DOUBLE) / n_tokens) * 1000000.0 + 0.5)
                AS BIGINT) / 1000000.0 AS unseen_mass,
           CAST(SIGN(1.0 - CAST(n1 AS DOUBLE) / n_tokens)
                * FLOOR(ABS(1.0 - CAST(n1 AS DOUBLE) / n_tokens) * 1000000.0 + 0.5)
                AS BIGINT) / 1000000.0 AS turing_coverage,
           CAST(SIGN(2.0 * n2 / n1) * FLOOR(ABS(2.0 * n2 / n1) * 1000000.0 + 0.5)
                AS BIGINT) / 1000000.0 AS gt_rstar_1,
           CAST(SIGN(3.0 * n3 / n2) * FLOOR(ABS(3.0 * n3 / n2) * 1000000.0 + 0.5)
                AS BIGINT) / 1000000.0 AS gt_rstar_2,
           CAST(SIGN(n_types + CAST(n1 AS DOUBLE) * n1 / (2.0 * n2))
                * FLOOR(ABS(n_types + CAST(n1 AS DOUBLE) * n1 / (2.0 * n2))
                        * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS chao1_richness
    FROM base
    """,
)
def q422(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.text import tokens
    from pandrs_spark.operators.util import fan_out, tracked_persist

    from pandrs_spark.operators.text import shingles

    docs = T(spark, sf_dir, "documents")
    tok = fan_out(docs).select(
        F.explode(shingles(tokens(F.col("text")), 3)).alias("tk")
    )
    types = tracked_persist(tok.groupBy("tk").agg(F.count(F.lit(1)).alias("r")))
    fof = types.groupBy("r").agg(F.count(F.lit(1)).alias("s"))
    base = (
        types.agg(
            F.sum("r").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_types"),
        )
        .crossJoin(
            F.broadcast(
                fof.agg(
                    F.coalesce(
                        F.sum(F.when(F.col("r") == 1, F.col("s"))), F.lit(0)
                    )
                    .cast("long")
                    .alias("n1"),
                    F.coalesce(
                        F.sum(F.when(F.col("r") == 2, F.col("s"))), F.lit(0)
                    )
                    .cast("long")
                    .alias("n2"),
                    F.coalesce(
                        F.sum(F.when(F.col("r") == 3, F.col("s"))), F.lit(0)
                    )
                    .cast("long")
                    .alias("n3"),
                )
            )
        )
    )
    unseen = F.col("n1").cast("double") / F.col("n_tokens")
    chao1 = F.col("n_types") + F.col("n1").cast("double") * F.col("n1") / (
        2.0 * F.col("n2")
    )
    return base.select(
        "n_tokens",
        "n_types",
        "n1",
        "n2",
        (quantize(unseen, 6) / 1e6).alias("unseen_mass"),
        (quantize(1.0 - unseen, 6) / 1e6).alias("turing_coverage"),
        (quantize(2.0 * F.col("n2") / F.col("n1"), 6) / 1e6).alias("gt_rstar_1"),
        (quantize(3.0 * F.col("n3") / F.col("n2"), 6) / 1e6).alias("gt_rstar_2"),
        (quantize(chao1, 6) / 1e6).alias("chao1_richness"),
    )


# --- q429: term burstiness (Church-Gale 1995) — does a term cluster in
# few documents (bursty/topical) or spread Poisson-like (function
# word)? For each of the top-20 corpus terms: observed document
# frequency vs the Poisson expectation N_docs·(1 − e^{−tf/N_docs});
# burstiness = expected_df / observed_df (> 1 ⇒ clustered). The
# retrieval/quality-weighting companion to q312 Zipf and q375 PMI.
# Two cheap aggregates: per-(term, doc) then per-term. ------------------------
@query(
    "q429_term_burstiness",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest({_WS}) AS tk FROM documents
    ),
    td AS (
        SELECT tk, doc_id, COUNT(*) AS c FROM tok GROUP BY tk, doc_id
    ),
    nd AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
           FROM documents),
    stats AS (
        SELECT tk,
               CAST(SUM(c) AS BIGINT) AS tf,
               CAST(COUNT(*) AS BIGINT) AS df
        FROM td GROUP BY tk
    )
    SELECT tk AS term, tf, df,
           CAST(SIGN(n.n_docs * (1.0 - EXP(-(CAST(tf AS DOUBLE) / n.n_docs))))
                * FLOOR(ABS(n.n_docs * (1.0 - EXP(-(CAST(tf AS DOUBLE) / n.n_docs))))
                        * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS expected_df,
           CAST(SIGN(n.n_docs * (1.0 - EXP(-(CAST(tf AS DOUBLE) / n.n_docs))) / df)
                * FLOOR(ABS(n.n_docs * (1.0 - EXP(-(CAST(tf AS DOUBLE) / n.n_docs))) / df)
                        * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS burstiness
    FROM stats, nd n
    ORDER BY tf DESC, term
    LIMIT 20
    """,
)
def q429(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.text import tokens
    from pandrs_spark.operators.util import fan_out

    docs = T(spark, sf_dir, "documents")
    tok = fan_out(docs).select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("tk")
    )
    td = tok.groupBy("tk", "doc_id").agg(F.count(F.lit(1)).alias("c"))
    nd = docs.agg(F.countDistinct("doc_id").cast("long").alias("n_docs"))
    stats = td.groupBy("tk").agg(
        F.sum("c").cast("long").alias("tf"),
        F.count(F.lit(1)).cast("long").alias("df"),
    )
    exp_df = F.col("n_docs") * (
        1.0 - F.exp(-(F.col("tf").cast("double") / F.col("n_docs")))
    )
    return (
        stats.crossJoin(F.broadcast(nd))
        .orderBy(F.desc("tf"), "tk")
        .limit(20)
        .select(
            F.col("tk").alias("term"),
            "tf",
            "df",
            (quantize(exp_df, 6) / 1e6).alias("expected_df"),
            (quantize(exp_df / F.col("df"), 6) / 1e6).alias("burstiness"),
        )
    )


# --- q447: Flesch reading-ease per source — the classic readability
# quality signal of corpus filters (Flesch 1948; quality tier beside
# q27/q159). Words from the shared whitespace tokenizer, sentences and
# syllable proxies from regexp run counts ('[.!?]+' runs; '[aeiouy]+'
# vowel groups — the standard stdlib-free syllable approximation).
# Map-only per-doc formula + one quantized per-source aggregate. --------------
@query(
    "q447_flesch_readability",
    oracle=f"""
    WITH per_doc AS (
        SELECT source,
               CAST(len({{ws}}) AS DOUBLE) AS w,
               GREATEST(1, len(regexp_extract_all(text, '[.!?]+'))) AS s,
               CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                    AS DOUBLE) AS syl
        FROM documents
    ),
    scored AS (
        SELECT source,
               206.835 - 1.015 * (w / s) - 84.6 * (syl / w) AS flesch
        FROM per_doc WHERE w > 0
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SIGN(CAST(SUM({sql_quantize('flesch', 9)}) AS DOUBLE) / 1e9
                     / COUNT(*))
                * FLOOR(ABS(CAST(SUM({sql_quantize('flesch', 9)}) AS DOUBLE)
                            / 1e9 / COUNT(*)) * 1000000.0 + 0.5) AS BIGINT)
               / 1000000.0 AS mean_flesch
    FROM scored
    GROUP BY source
    ORDER BY source
    """.replace("{ws}", "string_split_regex(lower(text), '\\s+')"),
)
def q447(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.text import tokens

    docs = T(spark, sf_dir, "documents")
    per_doc = docs.select(
        "source",
        F.size(tokens(F.col("text"))).cast("double").alias("w"),
        F.greatest(
            F.lit(1), F.regexp_count("text", F.lit("[.!?]+"))
        ).alias("s"),
        F.regexp_count(F.lower("text"), F.lit("[aeiouy]+"))
        .cast("double")
        .alias("syl"),
    ).filter(F.col("w") > 0)
    flesch = (
        F.lit(206.835)
        - 1.015 * (F.col("w") / F.col("s"))
        - 84.6 * (F.col("syl") / F.col("w"))
    )
    scored = per_doc.select("source", flesch.alias("flesch"))
    agg = scored.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        dsum("flesch", 9).alias("sf"),
    )
    return agg.select(
        "source",
        "n_docs",
        (quantize(F.col("sf") / F.col("n_docs"), 6) / 1e6).alias(
            "mean_flesch"
        ),
    ).orderBy("source")


# --- q448: charset/mojibake audit per source — byte-hygiene signals a
# crawl-corpus intake runs before tokenization: non-printable-ASCII
# density, digit and uppercase ratios, U+FFFD replacement-char count
# (the tell of a bad transcode). Pure regexp/length expressions —
# map-only, whole-stage-codegen friendly. --------------------------------------
@query(
    "q448_charset_audit",
    oracle="""
    WITH per_doc AS (
        SELECT source,
               CAST(length(text) AS BIGINT) AS n_chars,
               CAST(length(text) - length(regexp_replace(text, '[ -~]', '', 'g'))
                    AS BIGINT) AS n_nonascii,
               CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT)
                   AS n_digits,
               CAST(length(regexp_replace(text, '[^A-Z]', '', 'g')) AS BIGINT)
                   AS n_upper,
               CAST(len(regexp_extract_all(text, '�')) AS BIGINT)
                   AS n_replacement
        FROM documents
    )
    SELECT source,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(n_nonascii) AS BIGINT) AS nonascii_chars,
           CAST(SUM(n_digits) AS BIGINT) AS digit_chars,
           CAST(SUM(n_upper) AS BIGINT) AS upper_chars,
           CAST(SUM(n_replacement) AS BIGINT) AS replacement_chars,
           CAST(SIGN(CAST(SUM(n_upper) AS DOUBLE) / SUM(n_chars))
                * FLOOR(ABS(CAST(SUM(n_upper) AS DOUBLE) / SUM(n_chars))
                        * 1000000.0 + 0.5) AS BIGINT) / 1000000.0
               AS upper_ratio
    FROM per_doc
    GROUP BY source
    ORDER BY source
    """,
)
def q448(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize

    docs = T(spark, sf_dir, "documents")
    per_doc = docs.select(
        "source",
        F.length("text").cast("long").alias("n_chars"),
        (
            F.length("text")
            - F.length(F.regexp_replace("text", "[ -~]", ""))
        )
        .cast("long")
        .alias("n_nonascii"),
        F.length(F.regexp_replace("text", "[^0-9]", ""))
        .cast("long")
        .alias("n_digits"),
        F.length(F.regexp_replace("text", "[^A-Z]", ""))
        .cast("long")
        .alias("n_upper"),
        F.regexp_count("text", F.lit("�")).cast("long").alias(
            "n_replacement"
        ),
    )
    agg = per_doc.groupBy("source").agg(
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.sum("n_nonascii").cast("long").alias("nonascii_chars"),
        F.sum("n_digits").cast("long").alias("digit_chars"),
        F.sum("n_upper").cast("long").alias("upper_chars"),
        F.sum("n_replacement").cast("long").alias("replacement_chars"),
    )
    return agg.select(
        "source",
        "total_chars",
        "nonascii_chars",
        "digit_chars",
        "upper_chars",
        "replacement_chars",
        (
            quantize(
                F.col("upper_chars").cast("double") / F.col("total_chars"), 6
            )
            / 1e6
        ).alias("upper_ratio"),
    ).orderBy("source")


# --- q449: dedup threshold sensitivity — "how much of the corpus would
# each Jaccard cutoff remove?" The operational tuning sweep run before
# committing a near-dup policy: the LSH candidate pairs + verified
# Jaccard scores are computed ONCE (q31/q32 machinery), then a bounded
# 3-threshold explode counts surviving pairs and flagged docs
# (remove-the-higher-id convention) per cutoff. -------------------------------
@query(
    "q449_dedup_threshold_sensitivity",
    oracle=_SQL_BANDS
    + """,
    dsh AS (
        SELECT doc_id, unnest(list_distinct(sh)) AS s
        FROM shg
        WHERE doc_id IN (SELECT id_a FROM pairs UNION SELECT id_b FROM pairs)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM dsh GROUP BY doc_id),
    inter AS (
        SELECT p.id_a, p.id_b, COUNT(*) AS n_int
        FROM pairs p
        JOIN dsh a ON a.doc_id = p.id_a
        JOIN dsh b ON b.doc_id = p.id_b AND b.s = a.s
        GROUP BY p.id_a, p.id_b
    ),
    jac AS (
        SELECT i.id_a, i.id_b,
               i.n_int * 1.0 / (sa.n_sh + sb.n_sh - i.n_int) AS j
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.id_a
        JOIN sizes sb ON sb.doc_id = i.id_b
    ),
    ths AS (SELECT UNNEST([0.5, 0.7, 0.9]) AS threshold)
    SELECT t.threshold,
           CAST(COUNT(j.id_a) AS BIGINT) AS n_pairs,
           CAST(COUNT(DISTINCT j.id_b) AS BIGINT) AS n_docs_flagged
    FROM ths t LEFT JOIN jac j ON j.j >= t.threshold
    GROUP BY t.threshold
    ORDER BY t.threshold
    """,
)
def q449(spark, sf_dir):
    docs = T(spark, sf_dir, "documents")
    cand = lsh_candidate_pairs(docs, "text", "doc_id", num_hashes=4, band_size=2)
    scored = ngram_jaccard_pairs(docs, "text", "doc_id", cand, threshold=0.0)
    ths = small_local_df(
        docs.sparkSession, [(0.5,), (0.7,), (0.9,)], "threshold double"
    )
    j = F.broadcast(ths).join(
        scored, scored.jaccard >= F.col("threshold"), "left"
    )
    return (
        j.groupBy("threshold")
        .agg(
            F.count("id_a").cast("long").alias("n_pairs"),
            F.countDistinct("id_b").cast("long").alias("n_docs_flagged"),
        )
        .orderBy("threshold")
    )


# --- q454: tokenizer fertility per source — pieces-per-word for a
# GPT-2-shaped pretokenizer regex vs whitespace words (the standard
# "how many subwords does this corpus cost" intake metric; tokenizer
# tier beside q26/q232). ASCII pretoken classes ( ?letters | ?digits |
# ?punct-run) keep the regex semantics identical across Java regex and
# RE2. Map-only regexp counts + one quantized aggregate. ----------------------
@query(
    "q454_tokenizer_fertility",
    oracle="""
    WITH per_doc AS (
        SELECT source,
               CAST(len(string_split_regex(lower(text), '\\s+')) AS BIGINT)
                   AS words,
               CAST(len(regexp_extract_all(text,
                    ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+')) AS BIGINT)
                   AS pieces
        FROM documents
    )
    SELECT source,
           CAST(SUM(words) AS BIGINT) AS total_words,
           CAST(SUM(pieces) AS BIGINT) AS total_pieces,
           CAST(SIGN(CAST(SUM(pieces) AS DOUBLE) / SUM(words))
                * FLOOR(ABS(CAST(SUM(pieces) AS DOUBLE) / SUM(words))
                        * 1000000.0 + 0.5) AS BIGINT) / 1000000.0
               AS fertility
    FROM per_doc
    GROUP BY source
    ORDER BY source
    """,
)
def q454(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.text import tokens

    docs = T(spark, sf_dir, "documents")
    per_doc = docs.select(
        "source",
        F.size(tokens(F.col("text"))).cast("long").alias("words"),
        F.regexp_count(
            "text", F.lit(" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+")
        )
        .cast("long")
        .alias("pieces"),
    )
    agg = per_doc.groupBy("source").agg(
        F.sum("words").cast("long").alias("total_words"),
        F.sum("pieces").cast("long").alias("total_pieces"),
    )
    return agg.select(
        "source",
        "total_words",
        "total_pieces",
        (
            quantize(
                F.col("total_pieces").cast("double") / F.col("total_words"), 6
            )
            / 1e6
        ).alias("fertility"),
    ).orderBy("source")


# --- q455: canary-string contamination scan — count documents and
# total occurrences of known marker strings (the eval-leakage canary
# check run before training; decontamination tier beside q194/q328).
# The canary list is a bounded broadcast literal crossed against the
# corpus — one map-only regexp_count pass per doc×canary, no shuffle
# beyond the final rollup. ------------------------------------------------------
@query(
    "q455_canary_contamination_scan",
    oracle="""
    WITH canaries AS (
        SELECT UNNEST(['lorem', 'ipsum', 'nonexistent-canary-xyzzy']) AS canary
    ),
    hits AS (
        SELECT c.canary,
               CASE WHEN len(regexp_extract_all(lower(d.text), c.canary)) > 0
                    THEN 1 ELSE 0 END AS has_hit,
               CAST(len(regexp_extract_all(lower(d.text), c.canary)) AS BIGINT)
                   AS n_occ
        FROM documents d CROSS JOIN canaries c
    )
    SELECT canary,
           CAST(SUM(has_hit) AS BIGINT) AS n_docs_containing,
           CAST(SUM(n_occ) AS BIGINT) AS total_occurrences
    FROM hits
    GROUP BY canary
    ORDER BY canary
    """,
)
def q455(spark, sf_dir):
    docs = T(spark, sf_dir, "documents")
    canaries = small_local_df(
        docs.sparkSession, [("lorem",), ("ipsum",), ("nonexistent-canary-xyzzy",)],
        "canary string",
    )
    hits = docs.crossJoin(F.broadcast(canaries)).select(
        "canary",
        F.regexp_count(F.lower("text"), F.col("canary")).alias("n_occ"),
    )
    return (
        hits.groupBy("canary")
        .agg(
            F.sum(F.when(F.col("n_occ") > 0, 1).otherwise(0))
            .cast("long")
            .alias("n_docs_containing"),
            F.sum("n_occ").cast("long").alias("total_occurrences"),
        )
        .orderBy("canary")
    )


# --- q473: exact phrase search — find documents containing the
# adjacent-token phrase "table hash" (positional-index IR shape
# beside q172's BM25 bag-of-words): posexplode token positions, then a
# (doc, pos)×(doc, pos+1) equi-join on the two broadcast term rows —
# the standard positional-postings intersection, never a string scan
# of full text per candidate. Per-source doc counts + total phrase
# occurrences out. ----------------------------------------------------------------
@query(
    "q473_phrase_search_positional",
    oracle="""
    WITH toks AS (
        SELECT doc_id, source,
               unnest(string_split_regex(lower(text), '\\s+')) AS w,
               generate_subscripts(string_split_regex(lower(text), '\\s+'), 1)
                   AS pos
        FROM documents
    ),
    a AS (SELECT doc_id, source, pos FROM toks WHERE w = 'table'),
    b AS (SELECT doc_id, pos FROM toks WHERE w = 'hash'),
    hits AS (
        SELECT a.doc_id, a.source
        FROM a JOIN b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
    )
    SELECT source,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs_with_phrase,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences
    FROM hits
    GROUP BY source
    ORDER BY source
    """,
)
def q473(spark, sf_dir):
    from pandrs_spark.operators.text import tokens

    docs = T(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "source",
        F.posexplode(tokens(F.col("text"))).alias("pos0", "w"),
    ).select("doc_id", "source", (F.col("pos0") + 1).alias("pos"), "w")
    a = toks.filter(F.col("w") == "table").select("doc_id", "source", "pos")
    b = toks.filter(F.col("w") == "hash").select(
        "doc_id", (F.col("pos") - 1).alias("pos")
    )
    hits = a.join(b, ["doc_id", "pos"])
    return (
        hits.groupBy("source")
        .agg(
            F.countDistinct("doc_id").cast("long").alias("n_docs_with_phrase"),
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
        )
        .orderBy("source")
    )


# --- q481: lexical richness per source — type-token ratio and
# Herdan's C = ln V / ln N (the length-robust richness law; corpus-
# profile tier beside q224's coverage curve and q312's Zipf fit).
# One token explode + exact distinct/total counts per source. ------------------
@query(
    "q481_lexical_richness",
    oracle="""
    WITH toks AS (
        SELECT source,
               unnest(string_split_regex(lower(text), '\\s+')) AS w
        FROM documents
    ),
    f AS (SELECT source, w FROM toks WHERE w <> ''),
    agg AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(COUNT(DISTINCT w) AS BIGINT) AS n_types
        FROM f GROUP BY source
    )
    SELECT source, n_tokens, n_types,
           CAST(SIGN(CAST(n_types AS DOUBLE) / n_tokens)
                * FLOOR(ABS(CAST(n_types AS DOUBLE) / n_tokens)
                        * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS ttr,
           CAST(SIGN(LN(CAST(n_types AS DOUBLE)) / LN(CAST(n_tokens AS DOUBLE)))
                * FLOOR(ABS(LN(CAST(n_types AS DOUBLE))
                            / LN(CAST(n_tokens AS DOUBLE)))
                        * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS herdan_c
    FROM agg
    ORDER BY source
    """,
)
def q481(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.text import tokens

    docs = T(spark, sf_dir, "documents")
    f = docs.select(
        "source", F.explode(tokens(F.col("text"))).alias("w")
    ).filter(F.col("w") != "")
    agg = f.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.countDistinct("w").cast("long").alias("n_types"),
    )
    return agg.select(
        "source",
        "n_tokens",
        "n_types",
        (
            quantize(F.col("n_types").cast("double") / F.col("n_tokens"), 6)
            / 1e6
        ).alias("ttr"),
        (
            quantize(
                F.log(F.col("n_types").cast("double"))
                / F.log(F.col("n_tokens").cast("double")),
                6,
            )
            / 1e6
        ).alias("herdan_c"),
    ).orderBy("source")


# --- q502: Heaps'-law vocabulary-growth fit — V(N) ≈ K·N^β estimated
# from 10 prefix checkpoints of the corpus in doc_id order: each
# TRIGRAM type's first-seen doc (min doc_id — the unigram vocab is
# saturated on this corpus, trigram types are not), cumulative token
# counts per checkpoint, then a closed-form log-log OLS over the 10
# (ln tokens, ln vocab) points. The corpus-curation "how fast does
# vocabulary grow" diagnostic beside q312's Zipf slope. Scale: the
# first-seen table is one groupBy over the trigram explode; the 10
# checkpoints are conditional aggregates over ALREADY-AGGREGATED
# frames (grid × rollup, never grid × raw corpus). ------------------------------
@query(
    "q502_heaps_law_fit",
    oracle=f"""
    WITH toks AS MATERIALIZED (
        SELECT doc_id, {_WS} AS w FROM documents
    ),
    grams AS MATERIALIZED (
        SELECT doc_id, array_to_string(w[i:i+2], ' ') AS g
        FROM toks, UNNEST(generate_series(1, len(w) - 2)) AS t(i)
        WHERE len(w) >= 3
    ),
    first_seen AS MATERIALIZED (
        SELECT g, MIN(doc_id) AS fd FROM grams GROUP BY g
    ),
    dtok AS MATERIALIZED (
        SELECT doc_id, CAST(len(w) AS BIGINT) AS ntok FROM toks
    ),
    qs AS (
        SELECT quantile_cont(CAST(doc_id AS DOUBLE),
                             [0.1, 0.2, 0.3, 0.4, 0.5,
                              0.6, 0.7, 0.8, 0.9, 1.0]) AS ts
        FROM dtok
    ),
    thr AS MATERIALIZED (
        SELECT d, ts[d] AS t
        FROM qs, (SELECT UNNEST(generate_series(1, 10)) AS d)
    ),
    pts AS MATERIALIZED (
        SELECT th.d,
               LN((SELECT CAST(SUM(ntok) AS DOUBLE) FROM dtok
                   WHERE doc_id <= th.t)) AS x,
               LN((SELECT CAST(COUNT(*) AS DOUBLE) FROM first_seen
                   WHERE fd <= th.t)) AS y
        FROM thr th
    ),
    fit AS (
        SELECT COUNT(*) AS n,
               CAST(SUM({sql_quantize('x', 9)}) AS DOUBLE) / 1e9 AS sx,
               CAST(SUM({sql_quantize('x * x', 9)}) AS DOUBLE) / 1e9 AS sxx,
               CAST(SUM({sql_quantize('y', 9)}) AS DOUBLE) / 1e9 AS sy,
               CAST(SUM({sql_quantize('x * y', 9)}) AS DOUBLE) / 1e9 AS sxy
        FROM pts
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM first_seen) AS vocab_full,
           (SELECT CAST(SUM(ntok) AS BIGINT) FROM dtok) AS tokens_full,
           CAST({sql_quantize(
               '(n * sxy - sx * sy) / (n * sxx - sx * sx)', 6)} AS DOUBLE)
               / 1e6 AS heaps_beta,
           CAST({sql_quantize(
               'EXP((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n)',
               6)} AS DOUBLE) / 1e6 AS heaps_k
    FROM fit
    """,
)
def q502(spark, sf_dir):
    from pandrs_spark.operators.util import tracked_persist

    docs = T(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.split(F.lower("text"), r"\s+").alias("w")
    )
    grams = (
        toks.filter(F.size("w") >= 3)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(w) - 2),"
                    " i -> concat_ws(' ', w[i-1], w[i], w[i+1]))"
                )
            ).alias("g"),
        )
    )
    first_seen = tracked_persist(
        grams.groupBy("g").agg(F.min("doc_id").alias("fd"))
    )
    dtok = tracked_persist(
        toks.select("doc_id", F.size("w").cast("long").alias("ntok"))
    )
    # Spark's percentile needs a FOLDABLE fraction, so the 10 decile
    # thresholds come from one scalar aggregate with 10 literal
    # fractions (DuckDB's side groups quantile_cont by the grid).
    fracs = [(d, d / 10.0) for d in range(1, 11)]
    thr_rows = dtok.agg(
        *[
            F.expr(f"percentile(CAST(doc_id AS DOUBLE), {f!r})").alias(f"t{d}")
            for d, f in fracs
        ]
    )
    import functools

    thr_long = functools.reduce(
        lambda a, b: a.unionByName(b),
        [
            thr_rows.select(F.lit(d).alias("d"), F.col(f"t{d}").alias("t"))
            for d, _ in fracs
        ],
    )
    pts = (
        thr_long.crossJoin(
            F.broadcast(
                dtok.crossJoin(F.broadcast(thr_rows)).agg(
                    *[
                        F.sum(
                            F.when(F.col("doc_id") <= F.col(f"t{d}"), F.col("ntok"))
                        ).alias(f"tok{d}")
                        for d, _ in fracs
                    ]
                )
            )
        )
        .crossJoin(
            F.broadcast(
                first_seen.crossJoin(F.broadcast(thr_rows)).agg(
                    *[
                        F.sum(
                            F.when(F.col("fd") <= F.col(f"t{d}"), 1).otherwise(0)
                        ).alias(f"v{d}")
                        for d, _ in fracs
                    ]
                )
            )
        )
        .select(
            "d",
            F.log(
                functools.reduce(
                    lambda acc, dd: acc.when(F.col("d") == dd, F.col(f"tok{dd}")),
                    range(2, 11),
                    F.when(F.col("d") == 1, F.col("tok1")),
                ).cast("double")
            ).alias("x"),
            F.log(
                functools.reduce(
                    lambda acc, dd: acc.when(F.col("d") == dd, F.col(f"v{dd}")),
                    range(2, 11),
                    F.when(F.col("d") == 1, F.col("v1")),
                ).cast("double")
            ).alias("y"),
        )
    )
    from pandrs_spark.functions.deterministic import quantize as qz

    fit = pts.agg(
        F.count(F.lit(1)).alias("n"),
        dsum("x", 9).alias("sx"),
        dsum(F.col("x") * F.col("x"), 9).alias("sxx"),
        dsum("y", 9).alias("sy"),
        dsum(F.col("x") * F.col("y"), 9).alias("sxy"),
    )
    totals = first_seen.agg(
        F.count(F.lit(1)).cast("long").alias("vocab_full")
    ).crossJoin(dtok.agg(F.sum("ntok").cast("long").alias("tokens_full")))
    b1 = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    b0 = (F.col("sy") - b1 * F.col("sx")) / F.col("n")
    return (
        F.broadcast(totals)
        .crossJoin(fit)
        .select(
            "vocab_full",
            "tokens_full",
            (qz(b1, 6) / 1e6).alias("heaps_beta"),
            (qz(F.exp(b0), 6) / 1e6).alias("heaps_k"),
        )
    )


# --- q503: character-bigram entropy per source — the "is this text or
# garbage" signal that catches mojibake, base64 blobs and binary
# spills that q158's unigram char entropy misses (bigram structure
# collapses under byte noise long before the unigram histogram moves).
# Map-side bigram explode → one groupBy over the bounded alphabet²
# histogram → per-source entropy. -----------------------------------------------
@query(
    "q503_char_bigram_entropy",
    oracle="""
    WITH bi AS MATERIALIZED (
        SELECT source, substr(lower(text), i, 2) AS bg
        FROM documents,
             UNNEST(generate_series(1, len(text) - 1)) AS t(i)
        WHERE len(text) >= 2
    ),
    hist AS MATERIALIZED (
        SELECT source, bg, CAST(COUNT(*) AS BIGINT) AS c
        FROM bi GROUP BY source, bg
    ),
    tot AS (
        SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM hist GROUP BY source
    )
    SELECT h.source,
           CAST(COUNT(*) AS BIGINT) AS n_bigram_types,
           CAST(CAST(SIGN(ent) * FLOOR(ABS(ent) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS bigram_entropy
    FROM (
        SELECT h.source,
               -CAST(SUM(CAST(SIGN((CAST(c AS DOUBLE) / n)
                                   * LN(CAST(c AS DOUBLE) / n))
                              * FLOOR(ABS((CAST(c AS DOUBLE) / n)
                                          * LN(CAST(c AS DOUBLE) / n))
                                      * 1e9 + 0.5) AS BIGINT)) AS DOUBLE)
                   / 1e9 AS ent
        FROM hist h JOIN tot t ON t.source = h.source
        GROUP BY h.source
    ) e
    JOIN hist h ON h.source = e.source
    GROUP BY h.source, ent
    ORDER BY h.source
    """,
)
def q503(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize

    docs = T(spark, sf_dir, "documents")
    bi = docs.filter(F.length("text") >= 2).select(
        "source",
        F.explode(
            F.expr(
                "transform(sequence(1, length(text) - 1),"
                " i -> substr(lower(text), i, 2))"
            )
        ).alias("bg"),
    )
    hist = bi.groupBy("source", "bg").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    tot = hist.groupBy("source").agg(F.sum("c").cast("long").alias("n"))
    p = F.col("c").cast("double") / F.col("n")
    ent = (
        hist.join(F.broadcast(tot), "source")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigram_types"),
            (-F.sum(quantize(p * F.log(p), 9)).cast("double") / 1e9).alias(
                "ent"
            ),
        )
    )
    return ent.select(
        "source",
        "n_bigram_types",
        (quantize("ent", 6) / 1e6).alias("bigram_entropy"),
    ).orderBy("source")


# --- q504: context-window packing efficiency across a window-size
# grid — for each window size w in {256, 512, 1024, 2048}: how many
# bins does greedy one-doc-per-bin-chain packing need (Σ ceil(tok/w)),
# what fraction of slots is wasted, and what share of tokens would a
# TRUNCATE-to-one-window policy drop? The capacity-planning view on
# top of q191's concrete packer; a bounded 4-row grid × one per-doc
# token rollup. -----------------------------------------------------------------
@query(
    "q504_context_window_packing",
    oracle="""
    WITH dtok AS MATERIALIZED (
        SELECT CAST(len(string_split_regex(lower(text), '\\s+')) AS BIGINT)
                   AS ntok
        FROM documents
    ),
    grid AS (SELECT UNNEST([256, 512, 1024, 2048]) AS w)
    SELECT g.w AS window_size,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(d.ntok) AS BIGINT) AS total_tokens,
           CAST(SUM(CAST(CEIL(CAST(d.ntok AS DOUBLE) / g.w) AS BIGINT))
                AS BIGINT) AS n_bins,
           CAST(CAST(SIGN(eff) * FLOOR(ABS(eff) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS packing_efficiency,
           CAST(CAST(SIGN(trunc_loss) * FLOOR(ABS(trunc_loss) * 1e6 + 0.5)
                     AS BIGINT) AS DOUBLE) / 1e6 AS truncation_loss
    FROM grid g
    JOIN dtok d ON TRUE
    JOIN LATERAL (
        SELECT CAST(SUM(ntok) AS DOUBLE)
                   / (SUM(CAST(CEIL(CAST(ntok AS DOUBLE) / g.w) AS BIGINT))
                      * g.w) AS eff,
               CAST(SUM(GREATEST(ntok - g.w, 0)) AS DOUBLE)
                   / SUM(ntok) AS trunc_loss
        FROM dtok
    ) s ON TRUE
    GROUP BY g.w, eff, trunc_loss
    ORDER BY window_size
    """,
)
def q504(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize

    docs = T(spark, sf_dir, "documents")
    dtok = docs.select(
        F.size(F.split(F.lower("text"), r"\s+")).cast("long").alias("ntok")
    )
    grid = small_local_df(
        spark, [(256,), (512,), (1024,), (2048,)], "w int"
    )
    j = F.broadcast(grid).crossJoin(dtok)
    bins = F.ceil(F.col("ntok").cast("double") / F.col("w")).cast("long")
    out = j.groupBy("w").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("ntok").cast("long").alias("total_tokens"),
        F.sum(bins).cast("long").alias("n_bins"),
        F.sum(F.greatest(F.col("ntok") - F.col("w"), F.lit(0).cast("long")))
        .cast("long")
        .alias("trunc_tokens"),
    )
    return out.select(
        F.col("w").alias("window_size"),
        "n_docs",
        "total_tokens",
        "n_bins",
        (
            quantize(
                F.col("total_tokens").cast("double")
                / (F.col("n_bins") * F.col("w")),
                6,
            )
            / 1e6
        ).alias("packing_efficiency"),
        (
            quantize(
                F.col("trunc_tokens").cast("double") / F.col("total_tokens"), 6
            )
            / 1e6
        ).alias("truncation_loss"),
    ).orderBy("window_size")


# --- q505: near-duplicate CLUSTER size distribution — the composite
# the dedup pipeline actually acts on: MinHash→LSH candidate pairs
# (q31's operator) become an edge list, connected components (the
# q67 operator, convergence-certified) collapse transitive duplicate
# chains into clusters, and the output is the cluster-size histogram
# plus the dedup yield (docs removed if one representative per cluster
# is kept). Scale: band-key equi-join for pairs, O(diameter) label
# rounds for CC — never an all-pairs product; the oracle mirrors CC
# with a recursive reachability CTE over the same pair list. --------------------
@query(
    "q505_near_dup_cluster_sizes",
    oracle=_SQL_BANDS.replace("WITH ", "WITH RECURSIVE ", 1)
    + """,
    und AS MATERIALIZED (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION
        SELECT id_b, id_a FROM pairs
    ),
    reach(a, b) AS (
        SELECT src, dst FROM und
        UNION
        SELECT r.a, u.dst FROM reach r JOIN und u ON r.b = u.src
    ),
    verts AS (SELECT DISTINCT src AS id FROM und),
    comp AS MATERIALIZED (
        SELECT v.id, LEAST(v.id, MIN(r.b)) AS component
        FROM verts v LEFT JOIN reach r ON r.a = v.id
        GROUP BY v.id
    ),
    sizes AS MATERIALIZED (
        SELECT component, CAST(COUNT(*) AS BIGINT) AS sz
        FROM comp GROUP BY component
    )
    SELECT sz AS cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(sz - 1) AS BIGINT) AS docs_removed
    FROM sizes
    GROUP BY sz
    ORDER BY cluster_size
    """,
)
def q505(spark, sf_dir):
    from pandrs_spark.operators.graph import connected_components

    docs = T(spark, sf_dir, "documents")
    pairs = lsh_candidate_pairs(
        docs, "text", "doc_id", num_hashes=4, band_size=2
    )
    comp = connected_components(
        pairs, src="id_a", dst="id_b", check_convergence=True
    )
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("sz")
    )
    return (
        sizes.groupBy(F.col("sz").alias("cluster_size"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_clusters"),
            F.sum(F.col("sz") - 1).cast("long").alias("docs_removed"),
        )
        .orderBy("cluster_size")
    )


# --- q506: PII density & co-occurrence per source — beyond q187's
# redaction counts: what FRACTION of each source's documents carries an
# email, a phone-shaped number, or both (co-occurrence is what makes a
# record identifying), and the email rate per 1k tokens. PII is
# synthesized deterministically into a hash-selected ~1/3 / ~1/4 of
# docs (the corpus itself is lorem), so the detector runs against
# known ground truth; one regexp map + one grouped aggregate. -------------------
@query(
    "q506_pii_density_cooccurrence",
    oracle="""
    WITH synth AS MATERIALIZED (
        SELECT source,
               CAST(len(string_split_regex(lower(text), '\\s+')) AS BIGINT)
                   AS ntok,
               text
               || CASE WHEN doc_id % 3 = 0
                       THEN ' contact agent' || CAST(doc_id AS VARCHAR)
                            || '@mail.example.com'
                       ELSE '' END
               || CASE WHEN doc_id % 4 = 0
                       THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                            || '-' || lpad(CAST((doc_id * 7) % 10000 AS VARCHAR), 4, '0')
                       ELSE '' END AS t
        FROM documents
    ),
    flags AS MATERIALIZED (
        SELECT source, ntok,
               CAST(len(regexp_extract_all(t,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT)
                   AS n_email,
               CAST(len(regexp_extract_all(t,
                   '[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phone
        FROM synth
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN n_email > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS docs_email,
           CAST(SUM(CASE WHEN n_phone > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS docs_phone,
           CAST(SUM(CASE WHEN n_email > 0 AND n_phone > 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS docs_both,
           CAST(CAST(SIGN(r) * FLOOR(ABS(r) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS emails_per_1k_tokens
    FROM flags f
    JOIN (
        SELECT source AS s2,
               CAST(SUM(n_email) AS DOUBLE) * 1000.0 / SUM(ntok) AS r
        FROM flags GROUP BY s2
    ) x ON x.s2 = f.source
    GROUP BY source, r
    ORDER BY source
    """,
)
def q506(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize

    docs = T(spark, sf_dir, "documents")
    synth = docs.select(
        "source",
        F.size(F.split(F.lower("text"), r"\s+")).cast("long").alias("ntok"),
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.lit(" contact agent"),
                    F.col("doc_id").cast("string"),
                    F.lit("@mail.example.com"),
                ),
            ).otherwise(""),
            F.when(
                F.col("doc_id") % 4 == 0,
                F.concat(
                    F.lit(" call 555-"),
                    F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
                    F.lit("-"),
                    F.lpad(((F.col("doc_id") * 7) % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(""),
        ).alias("t"),
    )
    flags = synth.select(
        "source",
        "ntok",
        F.regexp_count(
            "t", F.lit(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}")
        )
        .cast("long")
        .alias("n_email"),
        F.regexp_count("t", F.lit(r"[0-9]{3}-[0-9]{3}-[0-9]{4}"))
        .cast("long")
        .alias("n_phone"),
    )
    out = flags.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("n_email") > 0, 1).otherwise(0))
        .cast("long")
        .alias("docs_email"),
        F.sum(F.when(F.col("n_phone") > 0, 1).otherwise(0))
        .cast("long")
        .alias("docs_phone"),
        F.sum(
            F.when((F.col("n_email") > 0) & (F.col("n_phone") > 0), 1).otherwise(0)
        )
        .cast("long")
        .alias("docs_both"),
        (
            F.sum("n_email").cast("double") * 1000.0 / F.sum("ntok")
        ).alias("rate"),
    )
    return out.select(
        "source",
        "n_docs",
        "docs_email",
        "docs_phone",
        "docs_both",
        (quantize("rate", 6) / 1e6).alias("emails_per_1k_tokens"),
    ).orderBy("source")


# --- q507: trigram novelty curve per source — for each document, the
# fraction of its DISTINCT trigrams not seen in any earlier document
# (first_seen == own doc_id): the marginal-information signal a
# curation pipeline uses to decide "is this source still adding
# anything?" One first-seen rollup (groupBy min) + one per-doc distinct
# count + an equi-join back — no pairwise comparison anywhere. ------------------
@query(
    "q507_trigram_novelty",
    oracle=f"""
    WITH toks AS MATERIALIZED (
        SELECT doc_id, source, {_WS} AS w FROM documents
    ),
    grams AS MATERIALIZED (
        SELECT DISTINCT doc_id, source, array_to_string(w[i:i+2], ' ') AS g
        FROM toks, UNNEST(generate_series(1, len(w) - 2)) AS t(i)
        WHERE len(w) >= 3
    ),
    first_seen AS MATERIALIZED (
        SELECT g, MIN(doc_id) AS fd FROM grams GROUP BY g
    ),
    per_doc AS MATERIALIZED (
        SELECT gr.doc_id, gr.source,
               CAST(COUNT(*) AS BIGINT) AS n_grams,
               CAST(SUM(CASE WHEN fs.fd = gr.doc_id THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_new
        FROM grams gr JOIN first_seen fs ON fs.g = gr.g
        GROUP BY gr.doc_id, gr.source
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_grams) AS BIGINT) AS total_grams,
           CAST(SUM(n_new) AS BIGINT) AS total_new,
           CAST({sql_quantize(
               'CAST(SUM(n_new) AS DOUBLE) / SUM(n_grams)', 6)} AS DOUBLE)
               / 1e6 AS novelty
    FROM per_doc
    GROUP BY source
    ORDER BY source
    """,
)
def q507(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize

    docs = T(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "source", F.split(F.lower("text"), r"\s+").alias("w")
    )
    grams = (
        toks.filter(F.size("w") >= 3)
        .select(
            "doc_id",
            "source",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(w) - 2),"
                    " i -> concat_ws(' ', w[i-1], w[i], w[i+1]))"
                )
            ).alias("g"),
        )
        .distinct()
    )
    from pandrs_spark.operators.util import tracked_persist

    grams = tracked_persist(grams)
    first_seen = grams.groupBy("g").agg(F.min("doc_id").alias("fd"))
    per_doc = (
        grams.join(first_seen, "g")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum(F.when(F.col("fd") == F.col("doc_id"), 1).otherwise(0))
            .cast("long")
            .alias("n_new"),
        )
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_grams").cast("long").alias("total_grams"),
            F.sum("n_new").cast("long").alias("total_new"),
            (
                quantize(
                    F.sum("n_new").cast("double") / F.sum("n_grams"), 6
                )
                / 1e6
            ).alias("novelty"),
        )
        .orderBy("source")
    )


# --- q524: trigram frequency spectrum + Good-Turing unseen mass — the
# f1 (hapax) / f2 (dis legomena) fractions of the trigram vocabulary
# and the Good-Turing estimate P(unseen) = f1/N: the coverage
# diagnostic that says how much of the language the corpus has NOT
# seen yet (the estimator-side complement of q502's Heaps growth).
# One explode → one frequency rollup → one frequency-of-frequency
# rollup (bounded support). ------------------------------------------------------
@query(
    "q524_frequency_spectrum_good_turing",
    oracle=f"""
    WITH toks AS MATERIALIZED (
        SELECT doc_id, {_WS} AS w FROM documents
    ),
    grams AS MATERIALIZED (
        SELECT array_to_string(w[i:i+2], ' ') AS g
        FROM toks, UNNEST(generate_series(1, len(w) - 2)) AS t(i)
        WHERE len(w) >= 3
    ),
    freq AS MATERIALIZED (
        SELECT g, CAST(COUNT(*) AS BIGINT) AS c FROM grams GROUP BY g
    ),
    spectrum AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS v,
               CAST(SUM(c) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
               CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
        FROM freq
    )
    SELECT v AS vocab, n AS total_grams, f1 AS hapax, f2 AS dis_legomena,
           CAST({sql_quantize('CAST(f1 AS DOUBLE) / v', 6)} AS DOUBLE) / 1e6
               AS hapax_ratio,
           CAST({sql_quantize('CAST(f1 AS DOUBLE) / n', 6)} AS DOUBLE) / 1e6
               AS gt_unseen_mass
    FROM spectrum
    """,
)
def q524(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize

    docs = T(spark, sf_dir, "documents")
    toks = docs.select(F.split(F.lower("text"), r"\s+").alias("w"))
    grams = toks.filter(F.size("w") >= 3).select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(w) - 2),"
                " i -> concat_ws(' ', w[i-1], w[i], w[i+1]))"
            )
        ).alias("g")
    )
    freq = grams.groupBy("g").agg(F.count(F.lit(1)).cast("long").alias("c"))
    spectrum = freq.agg(
        F.count(F.lit(1)).cast("long").alias("v"),
        F.sum("c").cast("long").alias("n"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("long").alias("f1"),
        F.sum(F.when(F.col("c") == 2, 1).otherwise(0)).cast("long").alias("f2"),
    )
    return spectrum.select(
        F.col("v").alias("vocab"),
        F.col("n").alias("total_grams"),
        F.col("f1").alias("hapax"),
        F.col("f2").alias("dis_legomena"),
        (quantize(F.col("f1").cast("double") / F.col("v"), 6) / 1e6).alias(
            "hapax_ratio"
        ),
        (quantize(F.col("f1").cast("double") / F.col("n"), 6) / 1e6).alias(
            "gt_unseen_mass"
        ),
    )


# --- q568: Dunning log-likelihood-ratio (G²) collocations — the
# robust counterpart to q375's PMI (which over-rewards rare pairs):
# for each bigram (a·b), the 2×2 table over the bigram population uses
# first-position / second-position marginals so cells sum exactly to N,
# and G² = 2·Σ k·ln(k/E) (Dunning 1993, public methodology). All counts
# are one groupBy each; the score join hits only the ≥30-occurrence
# candidate set against broadcast marginals. ------------------------------------
@query(
    "q568_dunning_llr_collocations",
    oracle=r"""
    WITH ws0 AS (
        SELECT string_split_regex(lower(text), '\s+') AS ws FROM documents
    ),
    bi AS MATERIALIZED (
        SELECT b.bg, CAST(COUNT(*) AS BIGINT) AS k11
        FROM ws0, UNNEST(
            CASE WHEN len(ws) >= 2 THEN
                list_transform(generate_series(1, len(ws) - 1),
                               i -> array_to_string(ws[i:i+1], ' '))
            ELSE CAST([] AS VARCHAR[]) END
        ) AS b(bg)
        GROUP BY b.bg
    ),
    m1 AS MATERIALIZED (
        SELECT split_part(bg, ' ', 1) AS tok, CAST(SUM(k11) AS BIGINT) AS c1
        FROM bi GROUP BY tok
    ),
    m2 AS MATERIALIZED (
        SELECT split_part(bg, ' ', 2) AS tok, CAST(SUM(k11) AS BIGINT) AS c2
        FROM bi GROUP BY tok
    ),
    nb AS (SELECT CAST(SUM(k11) AS BIGINT) AS n FROM bi),
    cells AS (
        SELECT bi.bg, bi.k11,
               m1.c1 - bi.k11 AS k12,
               m2.c2 - bi.k11 AS k21,
               nb.n - m1.c1 - m2.c2 + bi.k11 AS k22,
               CAST(m1.c1 AS DOUBLE) AS c1d,
               CAST(m2.c2 AS DOUBLE) AS c2d,
               CAST(nb.n AS DOUBLE) AS nd
        FROM bi
        JOIN m1 ON m1.tok = split_part(bi.bg, ' ', 1)
        JOIN m2 ON m2.tok = split_part(bi.bg, ' ', 2)
        CROSS JOIN nb
        WHERE bi.k11 >= 30
    ),
    scored AS (
        SELECT bg, k11,
               2 * ((CASE WHEN k11 > 0 THEN
                        k11 * LN(k11 / (c1d * c2d / nd)) ELSE 0 END)
                  + (CASE WHEN k12 > 0 THEN
                        k12 * LN(k12 / (c1d * (nd - c2d) / nd)) ELSE 0 END)
                  + (CASE WHEN k21 > 0 THEN
                        k21 * LN(k21 / ((nd - c1d) * c2d / nd)) ELSE 0 END)
                  + (CASE WHEN k22 > 0 THEN
                        k22 * LN(k22 / ((nd - c1d) * (nd - c2d) / nd))
                     ELSE 0 END)) AS g2
        FROM cells
    )
    SELECT bg AS bigram, k11 AS n_occurrences,
           CAST(CAST(SIGN(g2) * FLOOR(ABS(g2) * 1e4 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e4 AS g2_llr
    FROM scored
    ORDER BY CAST(SIGN(g2) * FLOOR(ABS(g2) * 1e4 + 0.5) AS BIGINT) DESC, bg
    LIMIT 15
    """,
)
def q568(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.text import shingles, tokens
    from pandrs_spark.operators.util import fan_out, tracked_persist

    docs = fan_out(T(spark, sf_dir, "documents").select("text"))
    toks = docs.select(tokens("text").alias("ws"))
    bi = tracked_persist(
        toks.select(F.explode(shingles(F.col("ws"), 2)).alias("bg"))
        .groupBy("bg")
        .agg(F.count(F.lit(1)).cast("long").alias("k11"))
    )
    m1 = bi.groupBy(F.split_part(F.col("bg"), F.lit(" "), F.lit(1)).alias("tok_a")).agg(
        F.sum("k11").cast("long").alias("c1")
    )
    m2 = bi.groupBy(F.split_part(F.col("bg"), F.lit(" "), F.lit(2)).alias("tok_b")).agg(
        F.sum("k11").cast("long").alias("c2")
    )
    nb = bi.agg(F.sum("k11").cast("long").alias("n"))
    cells = (
        bi.filter(F.col("k11") >= 30)
        .withColumn("tok_a", F.split_part(F.col("bg"), F.lit(" "), F.lit(1)))
        .withColumn("tok_b", F.split_part(F.col("bg"), F.lit(" "), F.lit(2)))
        .join(F.broadcast(m1), "tok_a")
        .join(F.broadcast(m2), "tok_b")
        .crossJoin(F.broadcast(nb))
        .select(
            "bg",
            "k11",
            (F.col("c1") - F.col("k11")).alias("k12"),
            (F.col("c2") - F.col("k11")).alias("k21"),
            (F.col("n") - F.col("c1") - F.col("c2") + F.col("k11")).alias("k22"),
            F.col("c1").cast("double").alias("c1d"),
            F.col("c2").cast("double").alias("c2d"),
            F.col("n").cast("double").alias("nd"),
        )
    )

    def _term(k, e):
        return F.when(k > 0, k * F.log(k / e)).otherwise(F.lit(0.0))

    g2 = 2 * (
        _term(F.col("k11"), F.col("c1d") * F.col("c2d") / F.col("nd"))
        + _term(F.col("k12"), F.col("c1d") * (F.col("nd") - F.col("c2d")) / F.col("nd"))
        + _term(F.col("k21"), (F.col("nd") - F.col("c1d")) * F.col("c2d") / F.col("nd"))
        + _term(
            F.col("k22"),
            (F.col("nd") - F.col("c1d")) * (F.col("nd") - F.col("c2d")) / F.col("nd"),
        )
    )
    scored = cells.select(
        F.col("bg").alias("bigram"),
        F.col("k11").alias("n_occurrences"),
        quantize(g2, 4).alias("g2q"),
    )
    return (
        scored.orderBy(F.col("g2q").desc(), "bigram")
        .limit(15)
        .select(
            "bigram",
            "n_occurrences",
            (F.col("g2q") / 1e4).alias("g2_llr"),
        )
    )


# --- q569: cross-lingual unigram-LM perplexity matrix — train an
# add-1-smoothed unigram model per language, evaluate every language's
# token stream under every model: PP(t|s) = exp(−Σ_w c_t(w)·ln p_s(w)
# / N_t) with p_s(w) = (c_s(w)+1)/(N_s+V) over the shared vocabulary.
# The "which domain explains which" screen a mixture-weighting pipeline
# (q196-class) runs before reweighting. Token counts are one groupBy;
# the 5×5 matrix rides a bounded lang×lang fan-out with a broadcast
# model join. --------------------------------------------------------------------
@query(
    "q569_crosslang_perplexity_matrix",
    oracle=r"""
    WITH toks AS MATERIALIZED (
        SELECT lang, t.tok
        FROM (SELECT lang, string_split_regex(lower(text), '\s+') AS ws
              FROM documents),
             UNNEST(ws) AS t(tok)
    ),
    cnt AS MATERIALIZED (
        SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS c
        FROM toks GROUP BY lang, tok
    ),
    nl AS MATERIALIZED (
        SELECT lang, CAST(SUM(c) AS BIGINT) AS n FROM cnt GROUP BY lang
    ),
    vocab AS (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS v FROM cnt),
    pairs AS (
        SELECT tgt.lang AS target_lang, m.lang AS model_lang,
               tgt.tok, tgt.c AS ct,
               COALESCE(mc.c, 0) AS cs, mn.n AS ns, vocab.v
        FROM cnt tgt
        CROSS JOIN (SELECT DISTINCT lang FROM cnt) m
        JOIN nl mn ON mn.lang = m.lang
        CROSS JOIN vocab
        LEFT JOIN cnt mc ON mc.lang = m.lang AND mc.tok = tgt.tok
    ),
    h AS (
        SELECT target_lang, model_lang,
               CAST(SUM(CAST(SIGN(-ct * LN((cs + 1.0) / (ns + v)))
                             * FLOOR(ABS(-ct * LN((cs + 1.0) / (ns + v)))
                                     * 1e6 + 0.5) AS BIGINT)) AS DOUBLE)
                   / 1e6 AS nll,
               CAST(SUM(ct) AS BIGINT) AS nt
        FROM pairs GROUP BY target_lang, model_lang
    )
    SELECT target_lang, model_lang,
           CAST(CAST(SIGN(pp) * FLOOR(ABS(pp) * 1e4 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e4 AS perplexity
    FROM (SELECT target_lang, model_lang, EXP(nll / nt) AS pp FROM h)
    ORDER BY target_lang, model_lang
    """,
)
def q569(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.text import tokens
    from pandrs_spark.operators.util import fan_out, tracked_persist

    docs = fan_out(T(spark, sf_dir, "documents").select("lang", "text"))
    cnt = tracked_persist(
        docs.select("lang", F.explode(tokens("text")).alias("tok"))
        .groupBy("lang", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    nl = cnt.groupBy("lang").agg(F.sum("c").cast("long").alias("n"))
    vocab = cnt.agg(F.count_distinct("tok").cast("long").alias("v"))
    langs = cnt.select("lang").distinct().select(F.col("lang").alias("model_lang"))
    tgt = cnt.select(
        F.col("lang").alias("target_lang"), "tok", F.col("c").alias("ct")
    )
    model = cnt.select(
        F.col("lang").alias("model_lang"), "tok", F.col("c").alias("cs")
    )
    mn = nl.select(F.col("lang").alias("model_lang"), F.col("n").alias("ns"))
    pairs = (
        tgt.crossJoin(F.broadcast(langs))
        .join(model, ["model_lang", "tok"], "left")
        .join(F.broadcast(mn), "model_lang")
        .crossJoin(F.broadcast(vocab))
        .select(
            "target_lang",
            "model_lang",
            "ct",
            F.coalesce(F.col("cs"), F.lit(0)).alias("cs"),
            "ns",
            "v",
        )
    )
    h = pairs.groupBy("target_lang", "model_lang").agg(
        dsum(
            -F.col("ct") * F.log((F.col("cs") + 1.0) / (F.col("ns") + F.col("v"))), 6
        ).alias("nll"),
        F.sum("ct").cast("long").alias("nt"),
    )
    return h.select(
        "target_lang",
        "model_lang",
        (quantize(F.exp(F.col("nll") / F.col("nt")), 4) / 1e4).alias("perplexity"),
    ).orderBy("target_lang", "model_lang")


# --- q581: corpus-level BLEU-2 style n-gram overlap between the
# even-numbered and odd-numbered sources (candidate vs reference
# corpora): modified precision p_n = Σ_g min(c_cand(g), c_ref(g)) /
# Σ_g c_cand(g) for n=1,2, brevity penalty exp(1−r/c) when the
# candidate is shorter, BLEU = BP·exp(½(ln p1 + ln p2))
# (Papineni 2002, public methodology). The corpus-similarity gauge a
# dedup/decontamination pipeline uses to quantify split leakage.
# N-gram tables are one groupBy each; the clip join hits candidate
# types against broadcast-free equi-keys. -----------------------------------------
@query(
    "q581_corpus_bleu_overlap",
    oracle=r"""
    WITH tagged AS MATERIALIZED (
        SELECT CASE WHEN CAST(substr(source, 4) AS BIGINT) % 2 = 0
                    THEN 'cand' ELSE 'ref' END AS side,
               string_split_regex(lower(text), '\s+') AS ws
        FROM documents
    ),
    uni AS MATERIALIZED (
        SELECT side, t.tok AS g, CAST(COUNT(*) AS BIGINT) AS c
        FROM tagged, UNNEST(ws) AS t(tok)
        GROUP BY side, g
    ),
    bi AS MATERIALIZED (
        SELECT side, b.bg AS g, CAST(COUNT(*) AS BIGINT) AS c
        FROM tagged, UNNEST(
            CASE WHEN len(ws) >= 2 THEN
                list_transform(generate_series(1, len(ws) - 1),
                               i -> array_to_string(ws[i:i+1], ' '))
            ELSE CAST([] AS VARCHAR[]) END
        ) AS b(bg)
        GROUP BY side, g
    ),
    p1 AS (
        SELECT CAST(SUM(CASE WHEN c.c < COALESCE(r.c, 0) THEN c.c
                             ELSE COALESCE(r.c, 0) END) AS DOUBLE)
                   / SUM(c.c) AS p,
               CAST(SUM(c.c) AS BIGINT) AS n_cand
        FROM (SELECT g, c FROM uni WHERE side = 'cand') c
        LEFT JOIN (SELECT g, c FROM uni WHERE side = 'ref') r ON r.g = c.g
    ),
    p2 AS (
        SELECT CAST(SUM(CASE WHEN c.c < COALESCE(r.c, 0) THEN c.c
                             ELSE COALESCE(r.c, 0) END) AS DOUBLE)
                   / SUM(c.c) AS p
        FROM (SELECT g, c FROM bi WHERE side = 'cand') c
        LEFT JOIN (SELECT g, c FROM bi WHERE side = 'ref') r ON r.g = c.g
    ),
    lens AS (
        SELECT CAST(SUM(CASE WHEN side = 'cand' THEN c ELSE 0 END)
                    AS DOUBLE) AS lc,
               CAST(SUM(CASE WHEN side = 'ref' THEN c ELSE 0 END)
                    AS DOUBLE) AS lr
        FROM uni
    )
    SELECT p1.n_cand AS n_cand_tokens,
           CAST(lens.lr AS BIGINT) AS n_ref_tokens,
           CAST(CAST(SIGN(p1.p) * FLOOR(ABS(p1.p) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS p1,
           CAST(CAST(SIGN(p2.p) * FLOOR(ABS(p2.p) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS p2,
           CAST(CAST(SIGN(b) * FLOOR(ABS(b) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS bleu2
    FROM p1, p2, lens,
         (SELECT (CASE WHEN lens.lc < lens.lr
                       THEN EXP(1 - lens.lr / lens.lc) ELSE 1 END)
                 * EXP(0.5 * (LN(p1.p) + LN(p2.p))) AS b
          FROM p1, p2, lens)
    """,
)
def q581(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.text import shingles, tokens
    from pandrs_spark.operators.util import fan_out, tracked_persist

    docs = fan_out(T(spark, sf_dir, "documents").select("source", "text"))
    tagged = docs.select(
        F.when(F.substring("source", 4, 10).cast("long") % 2 == 0, "cand")
        .otherwise("ref")
        .alias("side"),
        tokens("text").alias("ws"),
    )
    uni = tracked_persist(
        tagged.select("side", F.explode("ws").alias("g"))
        .groupBy("side", "g")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    bi = tagged.select("side", F.explode(shingles(F.col("ws"), 2)).alias("g")).groupBy(
        "side", "g"
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))

    def _mod_precision(gram):
        c = gram.where(F.col("side") == "cand").select("g", F.col("c").alias("cc"))
        r = gram.where(F.col("side") == "ref").select("g", F.col("c").alias("cr"))
        j = c.join(r, "g", "left")
        return j.agg(
            (
                F.sum(
                    F.least(F.col("cc"), F.coalesce(F.col("cr"), F.lit(0)))
                ).cast("double")
                / F.sum("cc")
            ).alias("p"),
            F.sum("cc").cast("long").alias("n_cand"),
        )

    p1 = _mod_precision(uni)
    p2 = _mod_precision(bi).select(F.col("p").alias("p_2"))
    lens = uni.agg(
        F.sum(F.when(F.col("side") == "cand", F.col("c")).otherwise(0))
        .cast("double")
        .alias("lc"),
        F.sum(F.when(F.col("side") == "ref", F.col("c")).otherwise(0))
        .cast("double")
        .alias("lr"),
    )
    j = p1.crossJoin(F.broadcast(p2)).crossJoin(F.broadcast(lens))
    bp = F.when(
        F.col("lc") < F.col("lr"), F.exp(1 - F.col("lr") / F.col("lc"))
    ).otherwise(F.lit(1.0))
    bleu = bp * F.exp(0.5 * (F.log("p") + F.log("p_2")))
    return j.select(
        F.col("n_cand").alias("n_cand_tokens"),
        F.col("lr").cast("long").alias("n_ref_tokens"),
        (quantize("p", 6) / 1e6).alias("p1"),
        (quantize("p_2", 6) / 1e6).alias("p2"),
        (quantize(bleu, 6) / 1e6).alias("bleu2"),
    )


# --- q582: character-level entropy rate per language — the
# conditional entropy H(next char | current char) = H(bigram) −
# H(first-char marginal), both from the same bigram histogram (one
# groupBy; the marginal is a rollup of it). Complements q503 (which
# measures joint bigram entropy per source): the RATE is what a
# compression-based quality filter actually thresholds on. ----------------------
@query(
    "q582_char_entropy_rate_by_lang",
    oracle="""
    WITH bi AS MATERIALIZED (
        SELECT lang, substr(lower(text), i, 2) AS bg
        FROM documents,
             UNNEST(generate_series(1, len(text) - 1)) AS t(i)
        WHERE len(text) >= 2
    ),
    hist AS MATERIALIZED (
        SELECT lang, bg, CAST(COUNT(*) AS BIGINT) AS c
        FROM bi GROUP BY lang, bg
    ),
    marg AS MATERIALIZED (
        SELECT lang, substr(bg, 1, 1) AS ch, CAST(SUM(c) AS BIGINT) AS c
        FROM hist GROUP BY lang, ch
    ),
    tot AS (
        SELECT lang, CAST(SUM(c) AS BIGINT) AS n FROM hist GROUP BY lang
    ),
    h2 AS (
        SELECT h.lang,
               -CAST(SUM(CAST(SIGN((CAST(c AS DOUBLE) / n)
                                   * LN(CAST(c AS DOUBLE) / n))
                              * FLOOR(ABS((CAST(c AS DOUBLE) / n)
                                          * LN(CAST(c AS DOUBLE) / n))
                                      * 1e9 + 0.5) AS BIGINT)) AS DOUBLE)
                   / 1e9 AS h
        FROM hist h JOIN tot t ON t.lang = h.lang
        GROUP BY h.lang
    ),
    h1 AS (
        SELECT m.lang,
               -CAST(SUM(CAST(SIGN((CAST(c AS DOUBLE) / n)
                                   * LN(CAST(c AS DOUBLE) / n))
                              * FLOOR(ABS((CAST(c AS DOUBLE) / n)
                                          * LN(CAST(c AS DOUBLE) / n))
                                      * 1e9 + 0.5) AS BIGINT)) AS DOUBLE)
                   / 1e9 AS h
        FROM marg m JOIN tot t ON t.lang = m.lang
        GROUP BY m.lang
    )
    SELECT h2.lang,
           CAST(CAST(SIGN(h2.h) * FLOOR(ABS(h2.h) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS h_bigram,
           CAST(CAST(SIGN(h2.h - h1.h) * FLOOR(ABS(h2.h - h1.h) * 1e6 + 0.5)
                     AS BIGINT) AS DOUBLE) / 1e6 AS entropy_rate
    FROM h2 JOIN h1 ON h1.lang = h2.lang
    ORDER BY h2.lang
    """,
)
def q582(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.util import tracked_persist

    docs = T(spark, sf_dir, "documents")
    bi = docs.filter(F.length("text") >= 2).select(
        "lang",
        F.explode(
            F.expr(
                "transform(sequence(1, length(text) - 1),"
                " i -> substr(lower(text), i, 2))"
            )
        ).alias("bg"),
    )
    hist = tracked_persist(
        bi.groupBy("lang", "bg").agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    marg = hist.groupBy("lang", F.substring("bg", 1, 1).alias("ch")).agg(
        F.sum("c").cast("long").alias("c")
    )
    tot = hist.groupBy("lang").agg(F.sum("c").cast("long").alias("n"))
    p = F.col("c").cast("double") / F.col("n")

    def _h(df):
        return (
            df.join(F.broadcast(tot), "lang")
            .groupBy("lang")
            .agg(
                (-F.sum(quantize(p * F.log(p), 9)).cast("double") / 1e9).alias("h")
            )
        )

    h2 = _h(hist)
    h1 = _h(marg).select(F.col("lang"), F.col("h").alias("h1"))
    return (
        h2.join(h1, "lang")
        .select(
            "lang",
            (quantize("h", 6) / 1e6).alias("h_bigram"),
            (quantize(F.col("h") - F.col("h1"), 6) / 1e6).alias("entropy_rate"),
        )
        .orderBy("lang")
    )


# --- q601: Burrows' Delta stylometric distance between languages —
# the authorship-attribution classic (Burrows 2002, public
# methodology): take the 30 globally most frequent tokens, z-score
# each language's relative frequencies across the 5 languages, and
# Delta = mean |z₁ − z₂| per language pair. The forensic complement to
# q569's perplexity matrix (model-based) — this one is
# frequency-geometry only. Everything after the token count lives on
# the bounded 30-word × 5-language grid. ------------------------------------------
@query(
    "q601_burrows_delta_langs",
    oracle=r"""
    WITH toks AS MATERIALIZED (
        SELECT lang, t.tok
        FROM (SELECT lang, string_split_regex(lower(text), '\s+') AS ws
              FROM documents),
             UNNEST(ws) AS t(tok)
    ),
    top_w AS MATERIALIZED (
        SELECT tok FROM (
            SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok
            ORDER BY c DESC, tok ASC LIMIT 30
        )
    ),
    nl AS MATERIALIZED (
        SELECT lang, CAST(COUNT(*) AS DOUBLE) AS n FROM toks GROUP BY lang
    ),
    rel AS MATERIALIZED (
        SELECT l.lang, w.tok,
               CAST(COALESCE(c.c, 0) AS DOUBLE) / l.n AS f
        FROM nl l CROSS JOIN top_w w
        LEFT JOIN (
            SELECT lang, tok, CAST(COUNT(*) AS DOUBLE) AS c
            FROM toks GROUP BY lang, tok
        ) c ON c.lang = l.lang AND c.tok = w.tok
    ),
    wstats AS MATERIALIZED (
        SELECT tok,
               CAST(SUM(CAST(SIGN(f) * FLOOR(ABS(f) * 1e12 + 0.5) AS BIGINT))
                    AS DOUBLE) / 1e12 / COUNT(*) AS mu,
               SQRT((CAST(SUM(CAST(SIGN(f * f)
                                   * FLOOR(ABS(f * f) * 1e15 + 0.5)
                                   AS BIGINT)) AS DOUBLE) / 1e15
                     - CAST(SUM(CAST(SIGN(f) * FLOOR(ABS(f) * 1e12 + 0.5)
                                     AS BIGINT)) AS DOUBLE) / 1e12
                       * (CAST(SUM(CAST(SIGN(f) * FLOOR(ABS(f) * 1e12 + 0.5)
                                        AS BIGINT)) AS DOUBLE) / 1e12)
                       / COUNT(*))
                    / (COUNT(*) - 1)) AS sd
        FROM rel GROUP BY tok
    ),
    zs AS MATERIALIZED (
        SELECT r.lang, r.tok, (r.f - w.mu) / w.sd AS z
        FROM rel r JOIN wstats w ON w.tok = r.tok
        WHERE w.sd > 0
    )
    SELECT lang_a, lang_b,
           CAST(CAST(SIGN(d) * FLOOR(ABS(d) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS burrows_delta
    FROM (
        SELECT a.lang AS lang_a, b.lang AS lang_b,
               CAST(SUM(CAST(SIGN(ABS(a.z - b.z))
                             * FLOOR(ABS(ABS(a.z - b.z)) * 1e9 + 0.5)
                             AS BIGINT)) AS DOUBLE) / 1e9 / COUNT(*) AS d
        FROM zs a JOIN zs b ON b.tok = a.tok AND a.lang < b.lang
        GROUP BY a.lang, b.lang
    )
    ORDER BY lang_a, lang_b
    """,
)
def q601(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.text import tokens
    from pandrs_spark.operators.util import fan_out, tracked_persist

    docs = fan_out(T(spark, sf_dir, "documents").select("lang", "text"))
    toks = tracked_persist(
        docs.select("lang", F.explode(tokens("text")).alias("tok"))
    )
    top_w = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col("tok").asc())
        .limit(30)
        .select("tok")
    )
    nl = toks.groupBy("lang").agg(F.count(F.lit(1)).cast("double").alias("n"))
    cnt = toks.groupBy("lang", "tok").agg(
        F.count(F.lit(1)).cast("double").alias("c")
    )
    rel = (
        nl.crossJoin(F.broadcast(top_w))
        .join(cnt, ["lang", "tok"], "left")
        .select(
            "lang",
            "tok",
            (F.coalesce(F.col("c"), F.lit(0.0)) / F.col("n")).alias("f"),
        )
    )
    rel = tracked_persist(rel)
    wstats = rel.groupBy("tok").agg(
        (dsum("f", 12) / F.count(F.lit(1))).alias("mu"),
        F.sqrt(
            (
                dsum(F.col("f") * F.col("f"), 15)
                - dsum("f", 12)
                * dsum("f", 12)
                / F.count(F.lit(1))
            )
            / (F.count(F.lit(1)) - 1)
        ).alias("sd"),
    )
    zs = (
        rel.join(F.broadcast(wstats), "tok")
        .where(F.col("sd") > 0)
        .select("lang", "tok", ((F.col("f") - F.col("mu")) / F.col("sd")).alias("z"))
    )
    b = zs.select(
        F.col("lang").alias("lang_b"),
        F.col("tok").alias("tok_b"),
        F.col("z").alias("zb"),
    )
    pairs = zs.join(
        F.broadcast(b),
        (F.col("tok") == F.col("tok_b")) & (F.col("lang") < F.col("lang_b")),
    )
    out = pairs.groupBy(F.col("lang").alias("lang_a"), "lang_b").agg(
        (dsum(F.abs(F.col("z") - F.col("zb")), 9) / F.count(F.lit(1))).alias("d")
    )
    return out.select(
        "lang_a", "lang_b", (quantize("d", 6) / 1e6).alias("burrows_delta")
    ).orderBy("lang_a", "lang_b")


# --- q617: log-logistic fit + KS distance for document lengths — fit
# by moment matching on ln(n_chars) (μ = mean, s = σ√3/π, so the
# logistic CDF 1/(1+exp(−(ln x − μ)/s)) is expressible identically on
# both engines — no erf needed), then the exact KS distance between
# the length ECDF (distributed prefix counts) and the fitted CDF. The
# "is length heavy-tailed beyond lognormal-ish" screen a corpus
# profiler runs before setting truncation budgets. -------------------------------
@query(
    "q617_doc_length_loglogistic_ks",
    oracle=f"""
    WITH lens AS MATERIALIZED (
        SELECT CAST(n_chars AS DOUBLE) AS x, LN(CAST(n_chars AS DOUBLE)) AS lx
        FROM documents WHERE n_chars > 0
    ),
    fit AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM({sql_quantize('lx', 9)}) AS DOUBLE) / 1e9
                   / COUNT(*) AS mu,
               SQRT((CAST(SUM({sql_quantize('lx * lx', 9)}) AS DOUBLE) / 1e9
                     - CAST(SUM({sql_quantize('lx', 9)}) AS DOUBLE) / 1e9
                       * (CAST(SUM({sql_quantize('lx', 9)}) AS DOUBLE) / 1e9)
                       / COUNT(*)) / (COUNT(*) - 1))
                   * 0.5513288954217921 AS s
        FROM lens
    ),
    hist AS MATERIALIZED (
        SELECT x, CAST(COUNT(*) AS BIGINT) AS c FROM lens GROUP BY x
    ),
    cdf AS MATERIALIZED (
        SELECT x, SUM(c) OVER (ORDER BY x) AS cum FROM hist
    ),
    dev AS (
        SELECT MAX(ABS(CAST(cum AS DOUBLE) / fit.n
                       - 1.0 / (1.0 + EXP(-(LN(x) - fit.mu) / fit.s))))
                   AS d
        FROM cdf, fit
    )
    SELECT fit.n AS n_docs,
           CAST({sql_quantize('fit.mu', 6)} AS DOUBLE) / 1e6 AS mu_log,
           CAST({sql_quantize('fit.s', 6)} AS DOUBLE) / 1e6 AS s_logistic,
           CAST({sql_quantize('dev.d', 6)} AS DOUBLE) / 1e6 AS ks_distance
    FROM fit, dev
    """,
)
def q617(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.util import tracked_persist
    from pandrs_spark.operators.windows import global_prefix_counts

    docs = T(spark, sf_dir, "documents")
    lens = tracked_persist(
        docs.where(F.col("n_chars") > 0).select(
            F.col("n_chars").cast("double").alias("x"),
            F.log(F.col("n_chars").cast("double")).alias("lx"),
        )
    )
    # sqrt(3)/pi = 0.5513288954217921 — shared decimal literal
    fit = lens.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (dsum("lx", 9) / F.count(F.lit(1))).alias("mu"),
        (
            F.sqrt(
                (
                    dsum(F.col("lx") * F.col("lx"), 9)
                    - dsum("lx", 9)
                    * dsum("lx", 9)
                    / F.count(F.lit(1))
                )
                / (F.count(F.lit(1)) - 1)
            )
            * 0.5513288954217921
        ).alias("s"),
    )
    hist = lens.groupBy("x").agg(F.count(F.lit(1)).alias("c"))
    cdf = global_prefix_counts(hist, [F.asc("x")], {"cum": "c"})
    dev = cdf.crossJoin(F.broadcast(fit)).agg(
        F.max(
            F.abs(
                F.col("cum").cast("double") / F.col("n")
                - 1.0 / (1.0 + F.exp(-(F.log("x") - F.col("mu")) / F.col("s")))
            )
        ).alias("d")
    )
    j = fit.crossJoin(F.broadcast(dev))
    return j.select(
        F.col("n").alias("n_docs"),
        (quantize("mu", 6) / 1e6).alias("mu_log"),
        (quantize("s", 6) / 1e6).alias("s_logistic"),
        (quantize("d", 6) / 1e6).alias("ks_distance"),
    )


# --- q629: vocabulary coverage curve — what fraction of all token
# occurrences do the top-k vocabulary entries cover, for
# k ∈ {100, 500, 1000, 5000}? The tokenizer-budget economics of
# Zipf's law (q312/q502/q524 fit the law; this prices it): coverage
# ranks ride the q216 distributed prefix fold over the frequency-
# sorted vocabulary, then one bounded threshold probe per k. ---------------------
@query(
    "q629_vocab_coverage_curve",
    oracle=r"""
    WITH toks AS MATERIALIZED (
        SELECT t.tok
        FROM (SELECT string_split_regex(lower(text), '\s+') AS ws
              FROM documents),
             UNNEST(ws) AS t(tok)
    ),
    vocab AS MATERIALIZED (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY tok
    ),
    tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS n,
                   CAST(COUNT(*) AS BIGINT) AS v FROM vocab),
    ranked AS MATERIALIZED (
        SELECT c,
               ROW_NUMBER() OVER (ORDER BY c DESC, tok ASC) AS r,
               SUM(c) OVER (ORDER BY c DESC, tok ASC
                            ROWS UNBOUNDED PRECEDING) AS cum
        FROM vocab
    ),
    ks AS (SELECT UNNEST([100, 500, 1000, 5000]) AS k)
    SELECT CAST(ks.k AS BIGINT) AS top_k,
           (SELECT v FROM tot) AS vocab_size,
           CAST(CAST(SIGN(cov) * FLOOR(ABS(cov) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS coverage
    FROM ks,
    LATERAL (
        SELECT COALESCE(MAX(CAST(cum AS DOUBLE)), 0) / (SELECT n FROM tot)
                   AS cov
        FROM ranked WHERE r <= ks.k
    )
    ORDER BY top_k
    """,
)
def q629(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.text import tokens
    from pandrs_spark.operators.util import fan_out, tracked_persist
    from pandrs_spark.operators.windows import global_prefix_counts

    docs = fan_out(T(spark, sf_dir, "documents").select("text"))
    vocab = (
        docs.select(F.explode(tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    vocab = vocab.withColumn("one", F.lit(1))
    ranked = tracked_persist(
        global_prefix_counts(
            vocab, [F.desc("c"), F.asc("tok")], {"cum": "c", "r": "one"}
        )
    )
    tot = ranked.agg(
        F.sum("c").cast("double").alias("n"),
        F.count(F.lit(1)).cast("long").alias("v"),
    )
    ks = small_local_df(spark, [(100,), (500,), (1000,), (5000,)], "k int")
    cov = (
        ranked.crossJoin(F.broadcast(ks))
        .where(F.col("r") <= F.col("k"))
        .groupBy("k")
        .agg(F.max("cum").cast("double").alias("mx"))
    )
    j = ks.join(F.broadcast(cov), "k", "left").crossJoin(F.broadcast(tot))
    return j.select(
        F.col("k").cast("long").alias("top_k"),
        F.col("v").alias("vocab_size"),
        (
            quantize(F.coalesce(F.col("mx"), F.lit(0.0)) / F.col("n"), 6) / 1e6
        ).alias("coverage"),
    ).orderBy("top_k")


# --- q714: MinHash estimation-accuracy certificate — the calibration
# that justifies trusting signature agreement as a Jaccard proxy at
# 100 TB: over the q31 LSH candidate set, compare the 16-component
# signature-agreement estimate Ĵ = #{s: mh_s(a)=mh_s(b)}/16 against
# the exact 3-gram Jaccard (zero-intersection candidates kept at J=0),
# reporting MAE, signed bias and worst-case error. E[Ĵ] = J per the
# MinHash identity (Broder 1997, public); candidate volume is bounded
# by LSH banding, signatures are map-only — linear end to end. ----------------
@query(
    "q714_minhash_estimation_calibration",
    oracle=_SQL_BANDS
    + f""",
    sig16 AS MATERIALIZED (
        SELECT doc_id,
               {", ".join(f"{_sql_minhash(s)} AS h{s}" for s in range(16))}
        FROM shg
    ),
    est AS (
        SELECT p.id_a, p.id_b,
               ({" + ".join(f"CASE WHEN a.h{s} = b.h{s} THEN 1 ELSE 0 END" for s in range(16))})
               / 16.0 AS est_j
        FROM pairs p
        JOIN sig16 a ON a.doc_id = p.id_a
        JOIN sig16 b ON b.doc_id = p.id_b
    ),
    dsh AS (
        SELECT doc_id, unnest(list_distinct(sh)) AS s
        FROM shg
        WHERE doc_id IN (SELECT id_a FROM pairs UNION SELECT id_b FROM pairs)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM dsh GROUP BY doc_id),
    inter AS (
        SELECT p.id_a, p.id_b, COUNT(*) AS n_int
        FROM pairs p
        JOIN dsh a ON a.doc_id = p.id_a
        JOIN dsh b ON b.doc_id = p.id_b AND b.s = a.s
        GROUP BY p.id_a, p.id_b
    ),
    ex AS (
        SELECT p.id_a, p.id_b,
               COALESCE(ROUND(i.n_int * 1.0
                              / (sa.n_sh + sb.n_sh - i.n_int), 6), 0.0)
                   AS ex_j
        FROM pairs p
        LEFT JOIN inter i ON i.id_a = p.id_a AND i.id_b = p.id_b
        JOIN sizes sa ON sa.doc_id = p.id_a
        JOIN sizes sb ON sb.doc_id = p.id_b
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST({sql_quantize('AVG(ABS(e.est_j - x.ex_j))', 6)} AS DOUBLE)
               / 1e6 AS mae,
           CAST({sql_quantize('AVG(e.est_j - x.ex_j)', 6)} AS DOUBLE)
               / 1e6 AS bias,
           CAST({sql_quantize('MAX(ABS(e.est_j - x.ex_j))', 6)} AS DOUBLE)
               / 1e6 AS max_abs_err
    FROM est e JOIN ex x ON x.id_a = e.id_a AND x.id_b = e.id_b
    """,
)
def q714(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize

    docs = T(spark, sf_dir, "documents")
    pairs = lsh_candidate_pairs(
        docs, "text", "doc_id", num_hashes=4, band_size=2
    )
    # the 16-hash signature table feeds both sides of the pair join;
    # persist so the shingle + 16×md5 map pass runs once (round 11)
    from pandrs_spark.operators.util import tracked_persist

    sigs = tracked_persist(
        minhash_signatures(docs, "text", "doc_id", num_hashes=16)
    )
    a = sigs.select(
        F.col("doc_id").alias("id_a"),
        *[F.col(f"mh{s}").alias(f"a{s}") for s in range(16)],
    )
    b = sigs.select(
        F.col("doc_id").alias("id_b"),
        *[F.col(f"mh{s}").alias(f"b{s}") for s in range(16)],
    )
    agree = None
    for s in range(16):
        term = F.when(F.col(f"a{s}") == F.col(f"b{s}"), 1).otherwise(0)
        agree = term if agree is None else agree + term
    est = pairs.join(a, "id_a").join(b, "id_b").select(
        "id_a", "id_b", (agree / 16.0).alias("est_j")
    )
    exact = ngram_jaccard_pairs(docs, "text", "doc_id", pairs, threshold=0.0)
    ex = (
        pairs.join(exact, ["id_a", "id_b"], "left")
        .select(
            "id_a", "id_b", F.coalesce("jaccard", F.lit(0.0)).alias("ex_j")
        )
    )
    j = est.join(ex, ["id_a", "id_b"])
    err = F.col("est_j") - F.col("ex_j")
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        (quantize(F.avg(F.abs(err)), 6) / 1e6).alias("mae"),
        (quantize(F.avg(err), 6) / 1e6).alias("bias"),
        (quantize(F.max(F.abs(err)), 6) / 1e6).alias("max_abs_err"),
    )


# --- q728: shard-export manifest — the integrity readout a
# training-data exporter publishes next to its shards (round 10;
# operators/sampling.py export_shards: content-hash shard assignment +
# within-shard (fp, id) order, the deterministic write path). Per
# shard: doc count, char volume, an order-independent checksum (sum of
# the 6-hex fingerprint prefixes — partition-invariant, so reruns and
# engines agree), and the first/last fingerprints in export order
# (min/max fp = the pos-order endpoints, since pos orders by fp). A
# resumable 100 TB export diffs this manifest against the previous
# run's to prove byte-identity per shard before shipping. One hash
# shuffle + one groupBy(shard) — 8 output rows at any corpus size. ------------
@query(
    "q728_shard_export_manifest",
    oracle=f"""
    WITH h AS (
        SELECT md5(CAST(doc_id AS VARCHAR)) AS fp,
               {_sql_hex_int("substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)", 6)}
                   AS hx,
               LENGTH(text) AS nc
        FROM documents
    )
    SELECT CAST(hx % 8 AS INT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(nc) AS BIGINT) AS n_chars,
           CAST(SUM(hx) AS BIGINT) AS checksum,
           MIN(fp) AS first_fp,
           MAX(fp) AS last_fp
    FROM h
    GROUP BY shard
    ORDER BY shard
    """,
)
def q728(spark, sf_dir):
    from pandrs_spark.operators.sampling import export_shards

    docs = T(spark, sf_dir, "documents").select("doc_id", "text")
    sh = export_shards(docs, n_shards=8, id_col="doc_id")
    hx = F.conv(F.substring("fp", 1, 6), 16, 10).cast("long")
    return (
        sh.groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.length("text")).cast("long").alias("n_chars"),
            F.sum(hx).cast("long").alias("checksum"),
            F.min("fp").alias("first_fp"),
            F.max("fp").alias("last_fp"),
        )
        .orderBy("shard")
    )
