"""Embedding similarity-search, ANN, retrieval-ranking and multimodal
queries over the documents/embeddings tables — split out of
queries/text.py in round 9 (the corpus-curation tier stays there; this
module owns the retrieval/similarity tier: cosine/ANN baselines and
certificates, TF-IDF/BM25/RRF ranking, semantic dedup/decontamination,
embedding-geometry audits, and the multimodal decode gates).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pandrs_spark.catalog import load_table as T
from pandrs_spark.functions.deterministic import dsum, sql_quantize
from pandrs_spark.operators.similarity import cosine_topk, nearest_neighbors
from pandrs_spark.queries import query
from pandrs_spark.queries.text import _WS

# --- q34: embedding cosine top-k (brute-force ANN baseline) -----------------
@query(
    "q34_embedding_cosine_topk",
    oracle="""
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0)
    SELECT vec_id,
           ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]), qv), 4) AS sim
    FROM embeddings, q
    WHERE vec_id <> 0
    ORDER BY ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]), qv), 6) DESC, vec_id
    LIMIT 10
    """,
)
def q34(spark, sf_dir):
    emb = T(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") != 0)
    qv = emb.filter(F.col("vec_id") == 0)
    return cosine_topk(corpus, qv, k=10)


# --- q35: exact 1-NN label purity (similarity-search quality check) ---------
# Round 10: sample-bounded. The purity estimate runs over the 200
# lowest-id vectors (deterministic convention, plan-visible .limit) but
# each sampled query's 1-NN is exact against the FULL corpus — so the
# calibration value that certifies q88/q711 is intact while the plan is
# broadcast-sample × corpus (linear in the corpus), killing the last
# all-pairs n² join in the registry. At sf0.01 (500 vectors) the sample
# covers 40% of the corpus; at 100 TB it stays 200 queries.
@query(
    "q35_nn_label_purity",
    oracle="""
    WITH pairs AS (
        SELECT a.vec_id AS ia, a.label AS la, b.vec_id AS ib, b.label AS lb,
               list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                      CAST(b.embedding AS DOUBLE[])) AS sim
        FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
        WHERE a.vec_id < 200
    ),
    nn AS (
        SELECT ia, la, lb,
               ROW_NUMBER() OVER (PARTITION BY ia ORDER BY ROUND(sim, 6) DESC, ib) AS rn
        FROM pairs
    )
    SELECT la AS label,
           COUNT(*) AS n_vecs,
           COUNT(CASE WHEN la = lb THEN 1 END) AS nn_same_label
    FROM nn
    WHERE rn = 1
    GROUP BY la
    ORDER BY la
    """,
)
def q35(spark, sf_dir):
    emb = T(spark, sf_dir, "embeddings")
    # lowest-id sample, exact (vec_id unique); .limit makes the
    # broadcast build plan-provably bounded (the q88/q711 convention)
    sample = emb.filter(F.col("vec_id") < 200).limit(200)
    nn = nearest_neighbors(emb, label_col="label", queries=sample)
    nn_labels = emb.select(
        F.col("vec_id").alias("nn_id"), F.col("label").alias("nn_label")
    )
    return (
        nn.join(nn_labels, "nn_id")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.count(F.when(F.col("label") == F.col("nn_label"), 1)).alias(
                "nn_same_label"
            ),
        )
        .orderBy("label")
    )


# --- q88: LSH-bucketed approximate NN + recall vs brute force ---------------
# The scale path for §beyond similarity search: multi-table hyperplane
# LSH turns the O(n·m) cross join into n_tables bucket equi-joins.
# The seeded random planes can't be mirrored in SQL, but the CALIBRATION
# can: the query returns (n_queries, recall_ge_090) and the oracle pins
# the expected constants — if measured recall@5 against the exact
# brute-force answer drops below 0.9, the hash mismatches and the gate
# fails. The approximation quality is therefore inside the oracle gate.
@query(
    "q88_ann_lsh_recall",
    oracle="""
    SELECT CAST(20 AS BIGINT) AS n_queries, TRUE AS recall_ge_090
    """,
)
def q88(spark, sf_dir):
    from pandrs_spark.operators.similarity import ann_lsh_topk, cosine

    emb = T(spark, sf_dir, "embeddings")
    # 20-vector query set, bounded by the literal key range;
    # .limit(20) is exact (vec_id unique) and plan-visible
    queries = emb.filter(F.col("vec_id") < 20).limit(20)
    # (n_tables, n_planes) trades candidate-set size against recall:
    # 3 planes = 8 coarse buckets/table over this 500-vector corpus
    # measures recall@5 ≈ 0.98; a 1B-vector corpus would raise n_planes
    # so each bucket stays task-sized and buy recall with n_tables.
    approx = ann_lsh_topk(emb, queries, k=5, n_tables=16, n_planes=3, dim=64)
    # exact top-5 for the same query set (small side broadcast)
    q = queries.select(
        F.col("vec_id").alias("id_q"), F.col("embedding").cast("array<double>").alias("vq")
    )
    c = emb.select(
        F.col("vec_id").alias("id_c"), F.col("embedding").cast("array<double>").alias("vc")
    )
    from pyspark.sql import Window

    scored = (
        F.broadcast(q)
        .join(c, F.col("id_q") != F.col("id_c"))
        .select("id_q", "id_c", cosine(F.col("vq"), F.col("vc")).alias("sim"))
    )
    w = Window.partitionBy("id_q").orderBy(F.desc(F.round("sim", 6)), "id_c")
    exact = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("id_q", F.col("id_c").alias("nn_id"))
    )
    hits = exact.join(
        approx.select("id_q", "nn_id").withColumn("hit", F.lit(1)),
        ["id_q", "nn_id"],
        "left",
    )
    per_query = hits.groupBy("id_q").agg(
        (F.sum(F.coalesce("hit", F.lit(0))) / F.count(F.lit(1))).alias("recall5")
    )
    return per_query.agg(
        F.count(F.lit(1)).alias("n_queries"),
        (F.avg("recall5") >= 0.9).alias("recall_ge_090"),
    )


# --- q121: IVF approximate nearest neighbors (§beyond similarity scale
# path #2; deterministic coarse quantizer keeps it fully SQL-mirrorable) ------
@query(
    "q121_ivf_ann_topk",
    oracle="""
    WITH cent AS (
        SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
        FROM embeddings ORDER BY vec_id LIMIT 8
    ),
    corpus AS (
        SELECT vec_id AS id_c, CAST(embedding AS DOUBLE[]) AS vc FROM embeddings
    ),
    assign AS (
        SELECT id_c, cid FROM (
            SELECT id_c, cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY id_c
                       ORDER BY ROUND(list_cosine_similarity(vc, cv), 6) DESC, cid
                   ) AS rn
            FROM corpus CROSS JOIN cent
        ) t WHERE rn = 1
    ),
    qset AS (SELECT id_c AS id_q, vc AS vq FROM corpus WHERE id_c < 20),
    probe AS (
        SELECT id_q, cid FROM (
            SELECT id_q, cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY id_q
                       ORDER BY ROUND(list_cosine_similarity(vq, cv), 6) DESC, cid
                   ) AS rn
            FROM qset CROSS JOIN cent
        ) t WHERE rn <= 2
    ),
    cand AS (
        SELECT DISTINCT id_q, id_c
        FROM probe JOIN assign USING (cid)
        WHERE id_q <> id_c
    ),
    scored AS (
        SELECT c.id_q, c.id_c,
               list_cosine_similarity(q.vq, s.vc) AS sim
        FROM cand c
        JOIN qset q ON q.id_q = c.id_q
        JOIN corpus s ON s.id_c = c.id_c
    )
    SELECT id_q, id_c AS nn_id, ROUND(sim, 4) AS sim
    FROM (
        SELECT id_q, id_c, sim,
               ROW_NUMBER() OVER (
                   PARTITION BY id_q
                   ORDER BY ROUND(sim, 6) DESC, id_c
               ) AS rank
        FROM scored
    ) t WHERE rank <= 5
    ORDER BY id_q, nn_id
    """,
)
def q121(spark, sf_dir):
    from pandrs_spark.operators.similarity import ivf_topk

    emb = T(spark, sf_dir, "embeddings")
    # 20-vector query set, bounded by the literal key range;
    # .limit(20) is exact (vec_id unique) and plan-visible
    queries = emb.filter(F.col("vec_id") < 20).limit(20)
    out = ivf_topk(emb, queries, k=5, n_centroids=8, n_probe=2)
    return out.orderBy("id_q", "nn_id")


# --- q171: TF-IDF top terms per document (raw-count tf, ln(N/df) idf;
# the bag-of-words feature extractor for retrieval/clustering) ---------------
@query(
    "q171_tfidf_top_terms",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id AS id, unnest({_WS}) AS term FROM documents
    ),
    tf AS (
        SELECT id, term, COUNT(*) AS tf FROM tok WHERE term <> ''
        GROUP BY id, term
    ),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
    scored AS (
        SELECT tf.id, tf.term, tf.tf,
               tf.tf * LN(n.n_docs * 1.0 / dfreq.df) AS tfidf
        FROM tf JOIN dfreq ON dfreq.term = tf.term CROSS JOIN n
    ),
    ranked AS (
        SELECT id, term, tf, tfidf,
               ROW_NUMBER() OVER (PARTITION BY id ORDER BY tfidf DESC, term) AS rank
        FROM scored
    )
    SELECT id, CAST(rank AS INT) AS rank, term, CAST(tf AS BIGINT) AS tf,
           ROUND(tfidf, 6) AS tfidf
    FROM ranked WHERE rank <= 3
    ORDER BY id, rank
    """,
)
def q171(spark, sf_dir):
    from pandrs_spark.operators.text import tf_idf_top_terms

    docs = T(spark, sf_dir, "documents")
    out = tf_idf_top_terms(docs, "text", "doc_id", top_k=3)
    return out.select(
        "id",
        F.col("rank").cast("int").alias("rank"),
        "term",
        "tf",
        F.round("tfidf", 6).alias("tfidf"),
    ).orderBy("id", "rank")


# --- q172: BM25 lexical retrieval for a fixed query-term bag (k1=1.2,
# b=0.75) — pairs with q34/q88/q121 vector ANN for hybrid search -------------
_BM25_TERMS = ("window", "hash", "stream")
_Q172_SCORE = (
    "LN(((SELECT n_docs FROM n) - df + 0.5) / (df + 0.5) + 1.0)"
    " * (tf * 2.2)"
    " / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / (SELECT a FROM avg_dl)))"
)


@query(
    "q172_bm25_search",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id AS id, unnest({_WS}) AS term FROM documents
    ),
    clean AS (SELECT id, term FROM tok WHERE term <> ''),
    doclen AS (SELECT id, COUNT(*) AS dl FROM clean GROUP BY id),
    n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
    avg_dl AS (SELECT SUM(dl) * 1.0 / COUNT(*) AS a FROM doclen),
    tf AS (
        SELECT id, term, COUNT(*) AS tf FROM clean
        WHERE term IN ('window', 'hash', 'stream')
        GROUP BY id, term
    ),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    scored AS (
        SELECT tf.id,
               (CAST(SUM(CAST(SIGN({_Q172_SCORE}) * FLOOR(ABS({_Q172_SCORE}) * 1000000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000000.0) AS bm25
        FROM tf
        JOIN dfreq ON dfreq.term = tf.term
        JOIN doclen ON doclen.id = tf.id
        GROUP BY tf.id
    ),
    ranked AS (
        SELECT id, bm25,
               ROW_NUMBER() OVER (ORDER BY bm25 DESC, id) AS rank
        FROM scored
    )
    SELECT CAST(rank AS INT) AS rank, id, ROUND(bm25, 6) AS bm25
    FROM ranked WHERE rank <= 10
    ORDER BY rank
    """,
)
def q172(spark, sf_dir):
    from pandrs_spark.operators.text import bm25_search

    docs = T(spark, sf_dir, "documents")
    out = bm25_search(docs, "text", "doc_id", _BM25_TERMS, top_k=10)
    return out.select(
        F.col("rank").cast("int").alias("rank"),
        "id",
        F.round("bm25", 6).alias("bm25"),
    ).orderBy("rank")


# --- q173: hybrid retrieval — reciprocal-rank fusion of the BM25
# lexical ranking (q172) and the embedding-cosine ranking (q34 shape):
# rrf = sum over systems of 1/(60 + rank). The standard hybrid-search
# combiner; both legs reuse their ranking CTEs unchanged ---------------------
@query(
    "q173_hybrid_rrf_search",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id AS id, unnest({_WS}) AS term FROM documents
    ),
    clean AS (SELECT id, term FROM tok WHERE term <> ''),
    doclen AS (SELECT id, COUNT(*) AS dl FROM clean GROUP BY id),
    n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
    avg_dl AS (SELECT SUM(dl) * 1.0 / COUNT(*) AS a FROM doclen),
    tf AS (
        SELECT id, term, COUNT(*) AS tf FROM clean
        WHERE term IN ('window', 'hash', 'stream')
        GROUP BY id, term
    ),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    lex AS (
        SELECT tf.id,
               (CAST(SUM(CAST(SIGN({_Q172_SCORE}) * FLOOR(ABS({_Q172_SCORE}) * 1000000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000000.0) AS bm25
        FROM tf
        JOIN dfreq ON dfreq.term = tf.term
        JOIN doclen ON doclen.id = tf.id
        GROUP BY tf.id
    ),
    lex_rank AS (
        SELECT id, ROW_NUMBER() OVER (ORDER BY bm25 DESC, id) AS rl
        FROM lex QUALIFY rl <= 50
    ),
    qv AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id = 0),
    vec_rank AS (
        SELECT vec_id AS id,
               ROW_NUMBER() OVER (
                   ORDER BY ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]), qv.v), 6) DESC,
                            vec_id
               ) AS rv
        FROM embeddings, qv
        WHERE vec_id <> 0
        QUALIFY rv <= 50
    ),
    fused AS (
        SELECT COALESCE(l.id, v.id) AS id,
               COALESCE(1.0 / (60 + l.rl), 0.0) + COALESCE(1.0 / (60 + v.rv), 0.0) AS rrf,
               l.rl AS lex_rank, v.rv AS vec_rank
        FROM lex_rank l FULL OUTER JOIN vec_rank v ON v.id = l.id
    )
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY rrf DESC, id) AS INT) AS rank,
           id, ROUND(rrf, 6) AS rrf,
           CAST(lex_rank AS INT) AS lex_rank, CAST(vec_rank AS INT) AS vec_rank
    FROM fused
    QUALIFY rank <= 10
    ORDER BY rank
    """,
)
def q173(spark, sf_dir):
    from pyspark.sql import Window

    from pandrs_spark.operators.similarity import cosine
    from pandrs_spark.operators.text import bm25_search

    docs = T(spark, sf_dir, "documents")
    emb = T(spark, sf_dir, "embeddings")

    lex = bm25_search(docs, "text", "doc_id", _BM25_TERMS, top_k=50).select(
        "id", F.col("rank").alias("rl")
    )
    # vec_id is unique -> exactly one row; .limit(1) makes the bound
    # PLAN-VISIBLE so the census proves the broadcast build is bounded
    qv = emb.filter(F.col("vec_id") == 0).limit(1).select(
        F.col("embedding").cast("array<double>").alias("v")
    )
    sims = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("id"),
            cosine(F.col("embedding").cast("array<double>"), F.col("v")).alias("sim"),
        )
    )
    wv = Window.orderBy(F.round(F.col("sim"), 6).desc(), "id")
    vec = (
        sims.withColumn("rv", F.row_number().over(wv))
        .filter(F.col("rv") <= 50)
        .select("id", "rv")
    )
    fused = lex.join(vec, "id", "outer").select(
        "id",
        (
            F.coalesce(1.0 / (60 + F.col("rl")), F.lit(0.0))
            + F.coalesce(1.0 / (60 + F.col("rv")), F.lit(0.0))
        ).alias("rrf"),
        F.col("rl").alias("lex_rank"),
        F.col("rv").alias("vec_rank"),
    )
    wf = Window.orderBy(F.col("rrf").desc(), "id")
    return (
        fused.withColumn("rank", F.row_number().over(wf))
        .filter(F.col("rank") <= 10)
        .select(
            F.col("rank").cast("int").alias("rank"),
            "id",
            F.round("rrf", 6).alias("rrf"),
            F.col("lex_rank").cast("int").alias("lex_rank"),
            F.col("vec_rank").cast("int").alias("vec_rank"),
        )
        .orderBy("rank")
    )


# --- q177: embedding-cosine near-duplicate pairs (semantic dedup — the
# fifth member of the dedup family next to exact/MinHash/SimHash/
# Jaccard). LSH-bucketed candidate generation + exact cosine verify; at
# 32 tables x 3 planes the collision probability for pairs at the 0.40
# threshold is >0.9999, so the bucketed result equals the oracle's
# exact all-pairs scan on this corpus — deterministically (seeded
# planes), which keeps the hash gate stable. --------------------------------
@query(
    "q177_embedding_near_dup",
    oracle="""
    WITH v AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_dot_product(a.e, b.e)
                 / (SQRT(list_dot_product(a.e, a.e))
                    * SQRT(list_dot_product(b.e, b.e))), 4) AS sim
    FROM v a JOIN v b ON a.vec_id < b.vec_id
    WHERE ROUND(list_dot_product(a.e, b.e)
                / (SQRT(list_dot_product(a.e, a.e))
                   * SQRT(list_dot_product(b.e, b.e))), 4) >= 0.40
    ORDER BY id_a, id_b
    """,
)
def q177(spark, sf_dir):
    from pandrs_spark.operators.similarity import embedding_near_dup_pairs

    emb = T(spark, sf_dir, "embeddings")
    # The oracle is the EXACT all-pairs answer, so this caller needs
    # certified recall at its exploratory 0.40 threshold — anchor the
    # derivation AT the threshold with a 1-1e-6 target (round 11; the
    # default 0.9-anchored config measured 895/920 pairs at sf0.1,
    # the documented borderline-band decay the runtime warning flags).
    # Derived: (3, 48) at 500 distinct, (5, 132) at 2000 — the
    # conscious n^(1+rho) cost of certifying a low threshold.
    return embedding_near_dup_pairs(
        emb,
        threshold=0.40,
        recall_anchor=0.40,
        recall_target=1 - 1e-6,
    ).orderBy("id_a", "id_b")


def _sql_hexbyte(hex_expr: str, pos: int) -> str:
    """DuckDB: byte at 1-based hex position pair -> 0..255."""
    d = "'0123456789abcdef'"
    return (
        f"(16 * (strpos({d}, substr({hex_expr}, {2 * pos - 1}, 1)) - 1)"
        f" + (strpos({d}, substr({hex_expr}, {2 * pos}, 1)) - 1))"
    )


# --- q178: multimodal pipeline through the driver gate — documents'
# bytes packed into the canonical media struct, byte-stats column
# expressions, and the Arrow-batched mapInPandas decode stage. The stub
# decoder derives (width, height) deterministically from sha256 of the
# payload (operators/multimodal.py:_decode_image_bytes), which DuckDB
# mirrors with hex-digit arithmetic — so the mapInPandas plumbing
# (schema, batching, binary transport) sits INSIDE the hash-match gate
# even though real codecs are stubbed. -----------------------------------
@query(
    "q178_multimodal_pipeline",
    oracle=f"""
    WITH h AS (
        SELECT doc_id, source, text,
               octet_length(CAST(text AS BLOB)) AS n_bytes,
               md5(text) AS checksum,
               sha256(text) AS hex
        FROM documents
    ),
    dec AS (
        SELECT doc_id, source, n_bytes, checksum,
               1 + ({_sql_hexbyte('hex', 1)} % 64) AS width,
               1 + ({_sql_hexbyte('hex', 2)} % 64) AS height
        FROM h
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
           CAST(COUNT(DISTINCT checksum) AS BIGINT) AS n_unique_payloads,
           CAST(SUM(width) AS BIGINT) AS sum_width,
           CAST(SUM(height) AS BIGINT) AS sum_height
    FROM dec
    GROUP BY source
    ORDER BY source
    """,
)
def q178(spark, sf_dir):
    from pandrs_spark.operators.multimodal import (
        attach_media_struct,
        decode_image_features,
        media_stats,
    )

    docs = T(spark, sf_dir, "documents").select(
        "doc_id", "source", F.encode("text", "UTF-8").alias("content")
    )
    media = attach_media_struct(docs, "content", "application/octet-stream")
    stats = media_stats(media, keep=("doc_id", "source")).select(
        "doc_id", "source", "n_bytes", "checksum"
    )
    decoded = decode_image_features(media, media_col="media", id_col="doc_id")
    joined = stats.join(decoded.select("doc_id", "width", "height"), "doc_id")
    return (
        joined.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_bytes").alias("total_bytes"),
            F.countDistinct("checksum").alias("n_unique_payloads"),
            F.sum("width").cast("bigint").alias("sum_width"),
            F.sum("height").cast("bigint").alias("sum_height"),
        )
        .orderBy("source")
    )


# --- q179: video frame-sampling plan — (id, n_frames) expands to one
# row per sampled frame via sequence+explode (pure column ops; each
# sampled frame would then flow through the q178 decode stage). Mirrors
# DuckDB generate_series+unnest exactly. -----------------------------------
@query(
    "q179_video_frame_sampling",
    oracle="""
    WITH v AS (
        SELECT doc_id, source,
               1 + (n_chars % 240) AS n_frames
        FROM documents
    ),
    frames AS (
        SELECT doc_id, source,
               unnest(generate_series(0, n_frames - 1, 10)) AS frame_idx
        FROM v
    )
    SELECT source,
           COUNT(*) AS n_sampled_frames,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_videos,
           CAST(MAX(frame_idx) AS BIGINT) AS max_frame_idx
    FROM frames
    GROUP BY source
    ORDER BY source
    """,
)
def q179(spark, sf_dir):
    from pandrs_spark.operators.multimodal import (
        attach_media_struct,
        sample_video_frames,
    )

    docs = T(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.encode("text", "UTF-8").alias("content"),
        (1 + F.col("n_chars") % 240).cast("int").alias("n_frames"),
    )
    media = attach_media_struct(
        docs, "content", "video/mp4", n_frames=F.col("n_frames")
    )
    frames = sample_video_frames(
        media.select("doc_id", "source", "media"), every_n=10, id_col="doc_id"
    )
    # sample_video_frames keeps (id, frame_idx, mime); re-attach source
    joined = frames.join(docs.select("doc_id", "source"), "doc_id")
    return (
        joined.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_sampled_frames"),
            F.countDistinct("doc_id").alias("n_videos"),
            F.max("frame_idx").cast("bigint").alias("max_frame_idx"),
        )
        .orderBy("source")
    )


def _q431_mean_sql(first_byte: int) -> str:
    """DuckDB mirror of one BMP channel mean: pixel bytes are md5
    bytes 1..12 (BGR scanline order), channel c = bytes c, c+3, c+6,
    c+9 (1-based). Mirrors the decoder's (sum/4)/255 double order."""
    terms = " + ".join(
        _sql_hexbyte("hex", first_byte + 3 * k) for k in range(4)
    )
    return f"((({terms}) / 4.0) / 255.0)"


# --- q431: REAL distributed image decode through the driver gate —
# each document's md5 bytes become a genuine 2×2 24-bpp BMP file
# (fixture encode stage), and the pure-stdlib BMP PARSER
# (operators/multimodal.py:_decode_bmp_bytes) runs distributed inside
# Arrow-batched mapInPandas: header parse → (width, height), scanline
# walk → per-channel pixel means. The oracle re-derives the channel
# means from md5 hex arithmetic (channel means are scanline-order
# invariant, so no bottom-up flip to replay) — if the parser
# misreads the header or strides wrong, widths or means mismatch.
# Compressed codecs (PNG/JPEG) remain honestly gated; this closes the
# decode path end-to-end for uncompressed containers. -----------------------
@query(
    "q431_bmp_decode_pixel_stats",
    oracle=f"""
    WITH h AS (
        SELECT doc_id, source, md5(text) AS hex FROM documents
    ),
    px AS (
        SELECT doc_id, source,
               {_q431_mean_sql(1)} AS mean_b,
               {_q431_mean_sql(2)} AS mean_g,
               {_q431_mean_sql(3)} AS mean_r
        FROM h
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(COUNT(*) * 2 AS BIGINT) AS sum_width,
           CAST(COUNT(*) * 2 AS BIGINT) AS sum_height,
           CAST(SUM({sql_quantize('mean_b', 9)}) AS DOUBLE) / 1e9 AS sum_mean_b,
           CAST(SUM({sql_quantize('mean_g', 9)}) AS DOUBLE) / 1e9 AS sum_mean_g,
           CAST(SUM({sql_quantize('mean_r', 9)}) AS DOUBLE) / 1e9 AS sum_mean_r
    FROM px
    GROUP BY source
    ORDER BY source
    """,
)
def q431(spark, sf_dir):
    from pandrs_spark.operators.multimodal import (
        attach_media_struct,
        decode_image_features,
        encode_bmp_rgb24,
    )

    docs = T(spark, sf_dir, "documents").select(
        "doc_id", "source", F.md5("text").alias("hex")
    )

    def _enc(batches):
        import pandas as pd

        for pdf in batches:
            pdf = pdf.copy()
            pdf["content"] = pdf["hex"].map(
                lambda h: encode_bmp_rgb24(2, 2, bytes.fromhex(h)[:12])
            )
            yield pdf[["doc_id", "source", "content"]]

    enc = docs.mapInPandas(
        _enc, schema="doc_id long, source string, content binary"
    )
    media = attach_media_struct(enc, "content", "image/bmp")
    dec = decode_image_features(media, media_col="media", id_col="doc_id")
    joined = dec.join(enc.select("doc_id", "source"), "doc_id")
    return (
        joined.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("width").cast("bigint").alias("sum_width"),
            F.sum("height").cast("bigint").alias("sum_height"),
            dsum(F.col("features")[0], 9).alias("sum_mean_b"),
            dsum(F.col("features")[1], 9).alias("sum_mean_g"),
            dsum(F.col("features")[2], 9).alias("sum_mean_r"),
        )
        .orderBy("source")
    )


def _q432_sample_sql(k: int) -> str:
    """DuckDB mirror of PCM16 little-endian sample k (0-based): md5
    bytes 2k+1 (lo) and 2k+2 (hi), two's complement."""
    lo = _sql_hexbyte("hex", 2 * k + 1)
    hi = _sql_hexbyte("hex", 2 * k + 2)
    v = f"({lo} + 256 * {hi})"
    return f"(CASE WHEN {v} >= 32768 THEN {v} - 65536 ELSE {v} END)"


# --- q432: REAL distributed audio decode — each document's 16 md5
# bytes become a genuine PCM16 WAV (8 mono samples @ 8 kHz, `wave`
# module writer), and the pure-stdlib WAV decoder
# (operators/multimodal.py:_decode_wav_bytes) runs distributed in
# mapInPandas: container parse → (rate, channels, frames), sample
# unpack → RMS and peak. The oracle re-derives RMS/peak from md5 hex
# as little-endian two's-complement int16 arithmetic — a wrong
# endianness, sign handling, or frame count mismatches immediately.
# Compressed/float WAV stays gated (NotImplementedError). --------------------
@query(
    "q432_wav_decode_audio_stats",
    oracle=f"""
    WITH h AS (
        SELECT doc_id, source, md5(text) AS hex FROM documents
    ),
    s AS (
        SELECT doc_id, source,
               SQRT(({" + ".join(
                   f"CAST({_q432_sample_sql(k)} AS DOUBLE) * {_q432_sample_sql(k)}"
                   for k in range(8)
               )}) / 8.0) AS rms,
               GREATEST({", ".join(
                   f"ABS({_q432_sample_sql(k)})" for k in range(8)
               )}) AS peak
        FROM h
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(COUNT(*) * 8 AS BIGINT) AS total_frames,
           CAST(SUM({sql_quantize('rms', 6)}) AS BIGINT) AS sum_rms_q6,
           CAST(MAX(peak) AS BIGINT) AS max_peak
    FROM s
    GROUP BY source
    ORDER BY source
    """,
)
def q432(spark, sf_dir):
    import struct as _struct

    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.multimodal import (
        attach_media_struct,
        decode_audio_features,
        encode_wav_pcm16,
    )

    docs = T(spark, sf_dir, "documents").select(
        "doc_id", "source", F.md5("text").alias("hex")
    )

    def _enc(batches):
        import pandas as pd

        def _wav(h):
            samples = list(_struct.unpack("<8h", bytes.fromhex(h)))
            return encode_wav_pcm16(8000, samples)

        for pdf in batches:
            pdf = pdf.copy()
            pdf["content"] = pdf["hex"].map(_wav)
            yield pdf[["doc_id", "source", "content"]]

    enc = docs.mapInPandas(
        _enc, schema="doc_id long, source string, content binary"
    )
    media = attach_media_struct(enc, "content", "audio/wav")
    dec = decode_audio_features(media, media_col="media", id_col="doc_id")
    joined = dec.join(enc.select("doc_id", "source"), "doc_id")
    return (
        joined.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_frames").cast("bigint").alias("total_frames"),
            F.sum(quantize("rms", 6)).cast("bigint").alias("sum_rms_q6"),
            F.max("peak").cast("bigint").alias("max_peak"),
        )
        .orderBy("source")
    )


def _q483_mean_sql(first_byte: int) -> str:
    """DuckDB mirror of one PNG channel mean: pixel bytes are md5
    bytes 1..12 (RGB scanline order), channel c = bytes c, c+3, c+6,
    c+9 (1-based). Mirrors the decoder's (sum/4)/255 double order."""
    terms = " + ".join(
        _sql_hexbyte("hex", first_byte + 3 * k) for k in range(4)
    )
    return f"((({terms}) / 4.0) / 255.0)"


# --- q483: REAL distributed COMPRESSED-image decode through the
# driver gate — each document's md5 bytes become a genuine
# zlib-deflated 2x2 8-bit RGB PNG (fixture encode stage), and the
# pure-stdlib PNG parser (operators/multimodal.py:_decode_png_bytes:
# chunk walk -> IHDR -> zlib inflate -> scanline unfilter) runs
# distributed inside Arrow-batched mapInPandas. The oracle re-derives
# the channel means from md5 hex arithmetic, exactly the q431 BMP
# pattern — if the inflate or unfilter is wrong, the means mismatch.
# This closes the round-7 "compressed codecs stay gated" gap for the
# deflate family; only entropy-coded formats (JPEG/MP3) remain gated. --------
@query(
    "q483_png_decode_pixel_stats",
    oracle=f"""
    WITH h AS (
        SELECT doc_id, source, md5(text) AS hex FROM documents
    ),
    px AS (
        SELECT doc_id, source,
               {_q483_mean_sql(1)} AS mean_r,
               {_q483_mean_sql(2)} AS mean_g,
               {_q483_mean_sql(3)} AS mean_b
        FROM h
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(COUNT(*) * 2 AS BIGINT) AS sum_width,
           CAST(COUNT(*) * 2 AS BIGINT) AS sum_height,
           CAST(SUM({sql_quantize('mean_r', 9)}) AS DOUBLE) / 1e9 AS sum_mean_r,
           CAST(SUM({sql_quantize('mean_g', 9)}) AS DOUBLE) / 1e9 AS sum_mean_g,
           CAST(SUM({sql_quantize('mean_b', 9)}) AS DOUBLE) / 1e9 AS sum_mean_b
    FROM px
    GROUP BY source
    ORDER BY source
    """,
)
def q483(spark, sf_dir):
    from pandrs_spark.operators.multimodal import (
        attach_media_struct,
        decode_image_features,
        encode_png_rgb,
    )

    docs = T(spark, sf_dir, "documents").select(
        "doc_id", "source", F.md5("text").alias("hex")
    )

    def _enc(batches):
        import pandas as pd

        for pdf in batches:
            pdf = pdf.copy()
            pdf["content"] = pdf["hex"].map(
                lambda h: encode_png_rgb(2, 2, bytes.fromhex(h)[:12])
            )
            yield pdf[["doc_id", "source", "content"]]

    enc = docs.mapInPandas(
        _enc, schema="doc_id long, source string, content binary"
    )
    media = attach_media_struct(enc, "content", "image/png")
    dec = decode_image_features(media, media_col="media", id_col="doc_id")
    joined = dec.join(enc.select("doc_id", "source"), "doc_id")
    return (
        joined.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("width").cast("bigint").alias("sum_width"),
            F.sum("height").cast("bigint").alias("sum_height"),
            dsum(F.col("features")[0], 9).alias("sum_mean_r"),
            dsum(F.col("features")[1], 9).alias("sum_mean_g"),
            dsum(F.col("features")[2], 9).alias("sum_mean_b"),
        )
        .orderBy("source")
    )


# --- q189: int8 embedding quantization (vector-store compression;
# operators/similarity.py quantize_embeddings_int8). Per-label exact
# int checksum of the quantized codes plus order-independent (davg)
# scale and reconstruction-RMS means; the DuckDB oracle folds the same
# left-to-right error sum with list_reduce. ---------------------------------
def _q189_oracle():
    from pandrs_spark.functions.deterministic import sql_davg

    return f"""
    WITH e AS (
        SELECT label, vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    s AS (
        SELECT label, vec_id, v,
               list_max(list_transform(v, x -> abs(x))) AS scale,
               CASE WHEN list_max(list_transform(v, x -> abs(x))) > 0
                    THEN list_max(list_transform(v, x -> abs(x)))
                    ELSE 1.0 END AS safe
        FROM e
    ),
    qv AS (
        SELECT label, vec_id, v, scale, safe,
               list_transform(v, x -> CAST(round(x * 127.0 / safe) AS INTEGER)) AS q
        FROM s
    ),
    r AS (
        SELECT label, scale,
               list_sum(q) AS qsum,
               sqrt(list_reduce(
                   list_prepend(0.0,
                       list_transform(generate_series(1, len(v)),
                           i -> (v[i] - q[i] * safe / 127.0)
                              * (v[i] - q[i] * safe / 127.0))),
                   (a, b) -> a + b) / len(v)) AS rms_err
        FROM qv
    )
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(qsum) AS BIGINT) AS q_checksum,
           ROUND({sql_davg('scale', 8)}, 6) AS avg_scale,
           ROUND({sql_davg('rms_err', 8)}, 6) AS avg_rms
    FROM r GROUP BY label ORDER BY label
    """


@query("q189_embedding_int8_quant", oracle=_q189_oracle())
def q189(spark, sf_dir):
    from pandrs_spark.functions.deterministic import davg
    from pandrs_spark.operators.similarity import quantize_embeddings_int8

    emb = T(spark, sf_dir, "embeddings")
    qd = quantize_embeddings_int8(emb, "embedding", "vec_id")
    joined = qd.join(emb.select("vec_id", "label"), "vec_id")
    return (
        joined.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum(F.aggregate("q", F.lit(0).cast("long"), lambda a, x: a + x))
            .cast("bigint")
            .alias("q_checksum"),
            F.round(davg("scale", 8), 6).alias("avg_scale"),
            F.round(davg("rms_err", 8), 6).alias("avg_rms"),
        )
        .orderBy("label")
    )


# --- q195: SemDeDup-style semantic dedup — coarse-cluster the
# embedding space (deterministic grid quantizer standing in for KMeans
# centroids; same join shape), then drop every vector with a lower-id
# near-duplicate (cosine >= 0.9) inside its cluster. Per-label
# kept/dropped rollup. operators/similarity.py:semantic_dedup.
# Round 11: the grid depth is SELF-SCALING — grid_dims derived from
# the distinct-vector count (derive_grid_config: max(4, ceil(log_3(
# n/64))), scale pinned at 4.0) and the ORACLE RECOMPUTES the same
# derivation from COUNT(DISTINCT embedding) and builds the bucket over
# a computed-length slice, so the exact knob the operator runs with at
# every SF sits inside the hash gate (n ≤ 4096 → 4 dims, byte-
# identical with the pre-round-11 gate; 20k → 6; 1M → 9). ----------------
@query(
    "q195_semantic_dedup",
    oracle="""
    WITH nd AS (
        SELECT GREATEST(4, CAST(CEIL(
                   LN(GREATEST(COUNT(DISTINCT embedding) / 64.0, 1.0))
                   / LN(3.0)) AS BIGINT)) AS dims
        FROM embeddings
    ),
    v AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e,
               array_to_string(
                   list_transform(
                       list_slice(CAST(embedding AS DOUBLE[]), 1,
                                  (SELECT dims FROM nd)),
                       x -> CAST(CAST(floor(x * 4.0) AS BIGINT) AS VARCHAR)
                   ), '|') AS b
        FROM embeddings
    ),
    dropped AS (
        SELECT DISTINCT y.vec_id
        FROM v x JOIN v y ON x.b = y.b AND x.vec_id < y.vec_id
        WHERE ROUND(list_dot_product(x.e, y.e)
                    / (SQRT(list_dot_product(x.e, x.e))
                       * SQRT(list_dot_product(y.e, y.e))), 4) >= 0.9
    )
    SELECT v.label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
           CAST(COUNT(DISTINCT v.b) AS BIGINT) AS n_clusters
    FROM v LEFT JOIN dropped d USING (vec_id)
    GROUP BY v.label ORDER BY v.label
    """,
)
def q195(spark, sf_dir):
    from pandrs_spark.operators.similarity import semantic_dedup

    emb = T(spark, sf_dir, "embeddings")
    flags = semantic_dedup(emb, threshold=0.9, carry=("label",))
    return (
        flags.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum(F.col("kept").cast("int")).cast("bigint").alias("n_kept"),
            F.countDistinct("cluster").alias("n_clusters"),
        )
        .orderBy("label")
    )


# --- q281: ANN quality certificate — recall@5, MRR@5 and nDCG@5 of
# the IVF ANN ranking (q121) against the exact brute-force top-5,
# averaged over the 20 query vectors (operators/metrics.py:
# ranking_metrics). q88 certifies LSH recall; this adds rank-position
# quality for the IVF path, the metric a vector-store SLA actually
# quotes. Per-query metrics quantize at 1e-9 before the mean, so the
# average is order-independent and engine-exact. -----------------------------
_Q281_IDCG = (
    "(1.0/log2(2.0) + 1.0/log2(3.0) + 1.0/log2(4.0)"
    " + 1.0/log2(5.0) + 1.0/log2(6.0))"
)


@query(
    "q281_ann_ranking_quality",
    oracle=f"""
    WITH cent AS (
        SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
        FROM embeddings ORDER BY vec_id LIMIT 8
    ),
    corpus AS (
        SELECT vec_id AS id_c, CAST(embedding AS DOUBLE[]) AS vc FROM embeddings
    ),
    qset AS (SELECT id_c AS id_q, vc AS vq FROM corpus WHERE id_c < 20),
    exact_all AS (
        SELECT id_q, id_c, list_cosine_similarity(vq, vc) AS sim
        FROM qset CROSS JOIN corpus WHERE id_q <> id_c
    ),
    truth AS (
        SELECT id_q, id_c FROM (
            SELECT id_q, id_c,
                   ROW_NUMBER() OVER (PARTITION BY id_q
                       ORDER BY ROUND(sim, 6) DESC, id_c) AS rnk
            FROM exact_all
        ) t WHERE rnk <= 5
    ),
    assign AS (
        SELECT id_c, cid FROM (
            SELECT id_c, cid,
                   ROW_NUMBER() OVER (PARTITION BY id_c
                       ORDER BY ROUND(list_cosine_similarity(vc, cv), 6) DESC, cid) AS rn
            FROM corpus CROSS JOIN cent
        ) t WHERE rn = 1
    ),
    probe AS (
        SELECT id_q, cid FROM (
            SELECT id_q, cid,
                   ROW_NUMBER() OVER (PARTITION BY id_q
                       ORDER BY ROUND(list_cosine_similarity(vq, cv), 6) DESC, cid) AS rn
            FROM qset CROSS JOIN cent
        ) t WHERE rn <= 2
    ),
    cand AS (
        SELECT DISTINCT id_q, id_c
        FROM probe JOIN assign USING (cid) WHERE id_q <> id_c
    ),
    pred AS (
        SELECT id_q, id_c, rank FROM (
            SELECT c.id_q, c.id_c,
                   ROW_NUMBER() OVER (PARTITION BY c.id_q
                       ORDER BY ROUND(list_cosine_similarity(q.vq, s.vc), 6) DESC, c.id_c) AS rank
            FROM cand c
            JOIN qset q ON q.id_q = c.id_q
            JOIN corpus s ON s.id_c = c.id_c
        ) t WHERE rank <= 5
    ),
    hits AS (
        SELECT p.id_q, COUNT(*) AS nh,
               1.0 / MIN(p.rank) AS rr,
               SUM(1.0 / log2(p.rank + 1.0)) AS dcg
        FROM pred p JOIN truth t ON p.id_q = t.id_q AND p.id_c = t.id_c
        GROUP BY p.id_q
    ),
    perq AS (
        SELECT COALESCE(h.nh, 0) / CAST(b.nt AS DOUBLE) AS recall,
               COALESCE(h.rr, 0.0) AS rr,
               COALESCE(h.dcg, 0.0) / {_Q281_IDCG} AS ndcg
        FROM (SELECT id_q, COUNT(*) AS nt FROM truth GROUP BY id_q) b
        LEFT JOIN hits h ON b.id_q = h.id_q
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
           ROUND(CAST(SUM(CAST(SIGN(recall) * FLOOR(ABS(recall) * 1000000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000000.0 / COUNT(*), 6) AS recall_at_5,
           ROUND(CAST(SUM(CAST(SIGN(rr) * FLOOR(ABS(rr) * 1000000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000000.0 / COUNT(*), 6) AS mrr_at_5,
           ROUND(CAST(SUM(CAST(SIGN(ndcg) * FLOOR(ABS(ndcg) * 1000000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000000.0 / COUNT(*), 6) AS ndcg_at_5
    FROM perq
    """,
)
def q281(spark, sf_dir):
    from pyspark.sql import Window

    from pandrs_spark.operators.metrics import ranking_metrics
    from pandrs_spark.operators.similarity import _as_double, cosine, ivf_topk

    emb = T(spark, sf_dir, "embeddings")
    # 20-vector query set, bounded by the literal key range;
    # .limit(20) is exact (vec_id unique) and plan-visible
    queries = emb.filter(F.col("vec_id") < 20).limit(20)
    pred = ivf_topk(
        emb, queries, k=5, n_centroids=8, n_probe=2, with_rank=True
    )
    q = queries.select(
        F.col("vec_id").alias("id_q"), _as_double(F.col("embedding")).alias("vq")
    )
    c = emb.select(
        F.col("vec_id").alias("id_c"), _as_double(F.col("embedding")).alias("vc")
    )
    exact_all = (
        c.join(F.broadcast(q), F.col("id_q") != F.col("id_c"))
        .select("id_q", "id_c", cosine(F.col("vq"), F.col("vc")).alias("__sim"))
    )
    w = Window.partitionBy("id_q").orderBy(F.desc(F.round("__sim", 6)), "id_c")
    truth = (
        exact_all.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("id_q", F.col("id_c").alias("nn_id"))
    )
    return ranking_metrics(
        pred, truth, query_col="id_q", item_col="nn_id", rank_col="rank", k=5
    )


# --- q284: MMR diversity re-ranking — top-8 cosine candidates for the
# query vector greedily re-ranked with maximal marginal relevance
# (lambda=0.7, k=3): the retrieval->context-window step of a RAG
# pipeline. The distributed part (corpus scoring + top-n) is the
# expensive part; the greedy runs on the bounded candidate set
# (operators/similarity.py:mmr_rerank). The oracle unrolls the same
# three greedy steps as chained CTEs over identical rounded sims. -----------
@query(
    "q284_mmr_rerank",
    oracle="""
    WITH base AS (
        SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    qv AS (SELECT v AS vq FROM base WHERE id = 0),
    simq AS (
        SELECT id, ROUND(list_cosine_similarity(v, vq), 6) AS s
        FROM base CROSS JOIN qv WHERE id <> 0
    ),
    cand AS (SELECT id, s FROM simq ORDER BY s DESC, id LIMIT 8),
    cv AS (SELECT c.id, c.s, b.v FROM cand c JOIN base b USING (id)),
    pair AS (
        SELECT a.id AS ia, b.id AS ib,
               ROUND(list_cosine_similarity(a.v, b.v), 6) AS ps
        FROM cv a JOIN cv b ON a.id <> b.id
    ),
    s1 AS (SELECT id, ROUND(0.7 * s, 6) AS score FROM cand
           ORDER BY ROUND(0.7 * s, 6) DESC, id LIMIT 1),
    r2 AS (
        SELECT c.id, ROUND(0.7 * c.s - 0.3 * p.ps, 6) AS score
        FROM cand c JOIN pair p
          ON p.ia = c.id AND p.ib = (SELECT id FROM s1)
        WHERE c.id <> (SELECT id FROM s1)
    ),
    s2 AS (SELECT id, score FROM r2 ORDER BY score DESC, id LIMIT 1),
    r3 AS (
        SELECT c.id,
               ROUND(0.7 * c.s - 0.3 * GREATEST(p1.ps, p2.ps), 6) AS score
        FROM cand c
        JOIN pair p1 ON p1.ia = c.id AND p1.ib = (SELECT id FROM s1)
        JOIN pair p2 ON p2.ia = c.id AND p2.ib = (SELECT id FROM s2)
        WHERE c.id NOT IN (SELECT id FROM s1 UNION SELECT id FROM s2)
    ),
    s3 AS (SELECT id, score FROM r3 ORDER BY score DESC, id LIMIT 1)
    SELECT CAST(1 AS INTEGER) AS rank, CAST(id AS BIGINT) AS doc_id,
           score AS mmr_score FROM s1
    UNION ALL
    SELECT CAST(2 AS INTEGER), CAST(id AS BIGINT), score FROM s2
    UNION ALL
    SELECT CAST(3 AS INTEGER), CAST(id AS BIGINT), score FROM s3
    ORDER BY rank
    """,
)
def q284(spark, sf_dir):
    from pandrs_spark.operators.similarity import mmr_rerank

    emb = T(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") != 0)
    qv = emb.filter(F.col("vec_id") == 0)
    return mmr_rerank(corpus, qv, k=3, top_n=8, lam=0.7).orderBy("rank")


# --- q289: per-dimension embedding statistics — column-wise mean/std
# over the vector corpus via posexplode (dimension index carried by
# position) and exact quantized sufficient stats. The feature-drift
# baseline every embedding store monitors per dimension; one explode +
# one groupBy on the bounded dimension key. ----------------------------------
_Q289_STD = "SQRT((sxx - sx * sx / n) / (n - 1))"


@query(
    "q289_embedding_dim_stats",
    oracle=f"""
    WITH dims AS (
        SELECT s.d AS dim, s.x
        FROM (
            SELECT unnest(list_transform(generate_series(1, len(emb)),
                          i -> struct_pack(d := i - 1, x := emb[i]))) AS s
            FROM (SELECT CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)
        )
    ),
    st AS (
        SELECT dim,
               CAST(COUNT(*) AS BIGINT) AS n,
               (CAST(SUM(CAST(SIGN(x) * FLOOR(ABS(x) * 1000000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000000.0) AS sx,
               (CAST(SUM(CAST(SIGN(x * x) * FLOOR(ABS(x * x) * 1000000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000000.0) AS sxx
        FROM dims GROUP BY dim
    )
    SELECT CAST(dim AS INTEGER) AS dim, n,
           ROUND(sx / n, 6) AS mean_x,
           ROUND({_Q289_STD}, 6) AS std_x
    FROM st ORDER BY dim
    """,
)
def q289(spark, sf_dir):
    emb = T(spark, sf_dir, "embeddings")
    dims = emb.select(
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "dim", "x"
        )
    )
    st = dims.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("x", 9).alias("sx"),
        dsum(F.col("x") * F.col("x"), 9).alias("sxx"),
    )
    return st.select(
        F.col("dim").cast("int").alias("dim"),
        "n",
        F.round(F.expr("sx / n"), 6).alias("mean_x"),
        F.round(F.expr(_Q289_STD), 6).alias("std_x"),
    ).orderBy("dim")


# --- q311: embedding class-separation report — per label: cohesion
# (mean cosine of members to their own centroid) vs the nearest OTHER
# centroid (max inter-class centroid cosine) — the silhouette-style
# health check for labeled embedding spaces. Centroids are exact
# quantized per-dim means reassembled into arrays (q251's pattern);
# the centroid-pair matrix is label² (tiny); per-vector cosines
# quantize at 1e-9 before the mean so the report is engine-exact. -----------
@query(
    "q311_label_separation_report",
    oracle="""
    WITH dims AS (
        SELECT label, s.d AS dim, s.x
        FROM (
            SELECT label,
                   unnest(list_transform(generate_series(1, len(emb)),
                          i -> struct_pack(d := i - 1, x := emb[i]))) AS s
            FROM (SELECT label, CAST(embedding AS DOUBLE[]) AS emb
                  FROM embeddings)
        )
    ),
    cent AS (
        SELECT label, dim,
               (CAST(SUM(CAST(SIGN(x) * FLOOR(ABS(x) * 1000000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
                / 1000000000.0) / COUNT(*) AS c
        FROM dims GROUP BY label, dim
    ),
    carr AS (
        SELECT label, LIST(c ORDER BY dim) AS cv FROM cent GROUP BY label
    ),
    intra AS (
        SELECT e.label,
               CAST(COUNT(*) AS BIGINT) AS n,
               ROUND(CAST(SUM(CAST(SIGN(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), a.cv))
                        * FLOOR(ABS(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), a.cv)) * 1000000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
                     / 1000000000.0 / COUNT(*), 6) AS intra_cos
        FROM embeddings e JOIN carr a ON e.label = a.label
        GROUP BY e.label
    ),
    inter AS (
        SELECT a.label, b.label AS other_label,
               ROUND(list_cosine_similarity(a.cv, b.cv), 6) AS cos_ab,
               ROW_NUMBER() OVER (PARTITION BY a.label
                   ORDER BY ROUND(list_cosine_similarity(a.cv, b.cv), 6) DESC,
                            b.label) AS rn
        FROM carr a JOIN carr b ON a.label <> b.label
    )
    SELECT i.label, i.n, i.intra_cos,
           x.other_label AS nearest_other, x.cos_ab AS nearest_other_cos,
           ROUND(i.intra_cos - x.cos_ab, 6) AS separation_margin
    FROM intra i JOIN inter x ON i.label = x.label AND x.rn = 1
    ORDER BY i.label
    """,
)
def q311(spark, sf_dir):
    from pyspark.sql import Window

    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.similarity import _as_double, cosine

    emb = T(spark, sf_dir, "embeddings")
    dims = emb.select(
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "x"),
    )
    cent = dims.groupBy("label", "dim").agg(
        (dsum("x", 9) / F.count(F.lit(1))).alias("c")
    )
    carr = cent.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "c"))),
            lambda s: s["c"],
        ).alias("cv")
    )
    own = carr.select(F.col("label").alias("cl"), "cv")
    cos_own = cosine(_as_double(F.col("embedding")), F.col("cv"))
    intra = (
        emb.join(F.broadcast(own), emb.label == own.cl)
        .select("label", quantize(cos_own, 9).alias("cq"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("cq") / 1e9 / F.count(F.lit(1)), 6).alias(
                "intra_cos"
            ),
        )
    )
    a = carr.select(F.col("label").alias("la"), F.col("cv").alias("va"))
    b = carr.select(F.col("label").alias("lb"), F.col("cv").alias("vb"))
    pairs = a.join(F.broadcast(b), F.col("la") != F.col("lb")).select(
        "la",
        "lb",
        F.round(cosine(F.col("va"), F.col("vb")), 6).alias("cos_ab"),
    )
    w = Window.partitionBy("la").orderBy(F.desc("cos_ab"), "lb")
    nearest = (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("la"),
            F.col("lb").alias("nearest_other"),
            F.col("cos_ab").alias("nearest_other_cos"),
        )
    )
    return (
        intra.join(F.broadcast(nearest), intra.label == nearest.la)
        .select(
            "label",
            "n",
            "intra_cos",
            "nearest_other",
            "nearest_other_cos",
            F.round(
                F.col("intra_cos") - F.col("nearest_other_cos"), 6
            ).alias("separation_margin"),
        )
        .orderBy("label")
    )


# --- q328: embedding-space benchmark decontamination — semantic
# near-dup flag of every training vector against a broadcast held-out
# set (vec_id % 10 = 0 plays the benchmark). --------------------------------
@query(
    "q328_embedding_decontamination",
    oracle="""
    WITH test AS (
        SELECT CAST(embedding AS DOUBLE[]) AS tv
        FROM embeddings WHERE vec_id % 10 = 0
    ),
    train AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings WHERE vec_id % 10 <> 0
    ),
    sims AS (
        SELECT t.vec_id,
               MAX(ROUND(list_cosine_similarity(t.v, s.tv), 6)) AS max_sim
        FROM train t, test s
        GROUP BY t.vec_id
    )
    SELECT vec_id, max_sim, (max_sim >= 0.8) AS contaminated
    FROM sims ORDER BY vec_id
    """,
)
def q328(spark, sf_dir):
    from pandrs_spark.operators.similarity import embedding_decontaminate

    emb = T(spark, sf_dir, "embeddings")
    test = emb.filter(F.col("vec_id") % 10 == 0)
    train = emb.filter(F.col("vec_id") % 10 != 0)
    out = embedding_decontaminate(train, test, threshold=0.8)
    return out.select("vec_id", "max_sim", "contaminated").orderBy("vec_id")


# --- q570: k-NN graph reciprocity and hubness diagnostics over the
# embedding corpus — the ANN-health screen: low mutual-edge rate and a
# heavy in-degree tail (hub vectors) predict poor recall for any
# bucketed index (Radovanović 2010 hubness, public methodology).
# Directed 5-NN edges from the IVF bucketed path (round 9:
# operators/similarity.py knn_topk_edges method="ivf" — the only cross
# join in the plan touches the 8-row coarse quantizer; the oracle
# mirrors the deterministic candidate generation CTE-for-CTE and
# q711_ivf_knn_recall_certificate pins recall vs the exact graph);
# mutuality is a self-join on the reversed key; in-degree moments are
# integer-exact. -------------------------------------------------------------------
@query(
    "q570_knn_graph_reciprocity",
    oracle="""
    WITH emb AS MATERIALIZED (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    cent AS MATERIALIZED (
        SELECT vec_id AS cid, v AS cv FROM emb ORDER BY vec_id LIMIT 8
    ),
    assign AS MATERIALIZED (
        SELECT id_c, cid FROM (
            SELECT e.vec_id AS id_c, c.cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY ROUND(list_cosine_similarity(e.v, c.cv), 6)
                                DESC, c.cid) AS rn
            FROM emb e CROSS JOIN cent c
        ) WHERE rn = 1
    ),
    probe AS MATERIALIZED (
        SELECT id_q, cid FROM (
            SELECT e.vec_id AS id_q, c.cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY ROUND(list_cosine_similarity(e.v, c.cv), 6)
                                DESC, c.cid) AS rn
            FROM emb e CROSS JOIN cent c
        ) WHERE rn <= 2
    ),
    cand AS MATERIALIZED (
        SELECT DISTINCT p.id_q, a.id_c
        FROM probe p JOIN assign a USING (cid)
        WHERE p.id_q <> a.id_c
    ),
    knn AS MATERIALIZED (
        SELECT id_q AS ia, id_c AS ib FROM (
            SELECT cand.id_q, cand.id_c,
                   ROW_NUMBER() OVER (
                       PARTITION BY cand.id_q
                       ORDER BY ROUND(list_cosine_similarity(eq.v, ec.v), 6)
                                DESC, cand.id_c) AS rn
            FROM cand
            JOIN emb eq ON eq.vec_id = cand.id_q
            JOIN emb ec ON ec.vec_id = cand.id_c
        ) WHERE rn <= 5
    ),
    mut AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_mutual
        FROM knn e JOIN knn r ON r.ia = e.ib AND r.ib = e.ia
    ),
    indeg AS MATERIALIZED (
        SELECT ib, CAST(COUNT(*) AS BIGINT) AS d FROM knn GROUP BY ib
    ),
    tot AS (
        SELECT CAST((SELECT COUNT(*) FROM knn) AS BIGINT) AS n_edges,
               CAST((SELECT COUNT(DISTINCT ia) FROM knn) AS BIGINT) AS n_vecs
    )
    SELECT tot.n_vecs, tot.n_edges,
           CAST(CAST(SIGN(mf) * FLOOR(ABS(mf) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS mutual_frac,
           (SELECT MAX(d) FROM indeg) AS indeg_max,
           CAST(CAST(SIGN(iv) * FLOOR(ABS(iv) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS indeg_var
    FROM (
        SELECT tot.n_vecs, tot.n_edges,
               CAST(mut.n_mutual AS DOUBLE) / tot.n_edges AS mf,
               (SELECT (SUM(CAST(d AS DOUBLE) * d)
                        - CAST(SUM(d) AS DOUBLE) * SUM(d) / COUNT(*))
                       / (COUNT(*) - 1) FROM indeg) AS iv
        FROM tot, mut
    ) q, tot
    """,
)
def q570(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.similarity import knn_topk_edges
    from pandrs_spark.operators.util import persist_right_sized

    emb = T(spark, sf_dir, "embeddings")
    # the kNN edge table is scanned 5x below (reversal join both
    # sides, in-degree, edge/vertex counts) at the cache's frozen
    # partition count — right-sized so each scan is one task instead
    # of a stage of near-empty ones (no-op for data-sized tables)
    knn, _ = persist_right_sized(
        knn_topk_edges(emb, k=5, method="ivf").select("id_a", "id_b"), "id_a"
    )
    rev = knn.select(F.col("id_a").alias("id_b"), F.col("id_b").alias("id_a"))
    mut = knn.join(rev, ["id_a", "id_b"]).agg(
        F.count(F.lit(1)).cast("long").alias("n_mutual")
    )
    indeg = knn.groupBy("id_b").agg(F.count(F.lit(1)).cast("long").alias("d"))
    ideg = indeg.agg(
        F.max("d").cast("long").alias("indeg_max"),
        (
            (
                F.sum(F.col("d").cast("double") * F.col("d"))
                - F.sum("d").cast("double") * F.sum("d") / F.count(F.lit(1))
            )
            / (F.count(F.lit(1)) - 1)
        ).alias("iv"),
    )
    tot = knn.agg(
        F.count(F.lit(1)).cast("long").alias("n_edges"),
        F.count_distinct("id_a").cast("long").alias("n_vecs"),
    )
    j = tot.crossJoin(F.broadcast(mut)).crossJoin(F.broadcast(ideg))
    return j.select(
        "n_vecs",
        "n_edges",
        (
            quantize(F.col("n_mutual").cast("double") / F.col("n_edges"), 6) / 1e6
        ).alias("mutual_frac"),
        "indeg_max",
        (quantize("iv", 6) / 1e6).alias("indeg_var"),
    )


# --- q603: TwoNN intrinsic-dimension estimate of the embedding
# manifold (Facco 2017, public methodology; cosine-distance variant,
# documented): with r1, r2 each point's two nearest-neighbor distances
# and μ = r2/r1, d̂ = n/Σln μ — "how many dimensions do these vectors
# REALLY occupy", the index-tuning companion to q570's hubness and
# q388's spectrum. Round 9: the neighbor distances come from the IVF
# bucketed candidate join (same deterministic 8-cell quantizer as
# q570/q670, oracle-mirrored CTE-for-CTE; recall certified by
# q711/q720) — the only cross join in the plan touches the 8-row
# centroid set, and the final ranking keys on ROUND(dist, 6) ASC in
# both engines so tie-breaks agree bit-for-bit. -------------------------------
@query(
    "q603_twonn_intrinsic_dimension",
    oracle="""
    WITH emb AS MATERIALIZED (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    cent AS MATERIALIZED (
        SELECT vec_id AS cid, v AS cv FROM emb ORDER BY vec_id LIMIT 8
    ),
    assign AS MATERIALIZED (
        SELECT id_c, cid FROM (
            SELECT e.vec_id AS id_c, c.cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY ROUND(list_cosine_similarity(e.v, c.cv), 6)
                                DESC, c.cid) AS rn
            FROM emb e CROSS JOIN cent c
        ) WHERE rn = 1
    ),
    probe AS MATERIALIZED (
        SELECT id_q, cid FROM (
            SELECT e.vec_id AS id_q, c.cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY ROUND(list_cosine_similarity(e.v, c.cv), 6)
                                DESC, c.cid) AS rn
            FROM emb e CROSS JOIN cent c
        ) WHERE rn <= 2
    ),
    cand AS MATERIALIZED (
        SELECT DISTINCT p.id_q AS ia, a.id_c AS ib
        FROM probe p JOIN assign a USING (cid)
        WHERE p.id_q <> a.id_c
    ),
    pairs AS (
        SELECT cand.ia, cand.ib,
               1 - list_cosine_similarity(eq.v, ec.v) AS dist
        FROM cand
        JOIN emb eq ON eq.vec_id = cand.ia
        JOIN emb ec ON ec.vec_id = cand.ib
    ),
    knn AS MATERIALIZED (
        SELECT ia, dist, rn FROM (
            SELECT ia, dist,
                   ROW_NUMBER() OVER (PARTITION BY ia
                                      ORDER BY ROUND(dist, 6) ASC, ib ASC)
                       AS rn
            FROM pairs
        ) WHERE rn <= 2
    ),
    mu AS MATERIALIZED (
        SELECT r1.ia, r2.dist / r1.dist AS mu
        FROM (SELECT ia, dist FROM knn WHERE rn = 1) r1
        JOIN (SELECT ia, dist FROM knn WHERE rn = 2) r2 ON r2.ia = r1.ia
        WHERE r1.dist > 0
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(SIGN(LN(mu)) * FLOOR(ABS(LN(mu)) * 1e9 + 0.5)
                             AS BIGINT)) AS DOUBLE) / 1e9 AS slm
        FROM mu
    )
    SELECT n AS n_points,
           CAST(CAST(SIGN(d) * FLOOR(ABS(d) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS intrinsic_dim
    FROM (SELECT n, n / slm AS d FROM s)
    """,
)
def q603(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.similarity import _as_double, cosine
    from pandrs_spark.operators.util import fan_out, tracked_persist
    from pyspark.sql import Window

    emb = T(spark, sf_dir, "embeddings")
    cent = F.broadcast(
        emb.orderBy("vec_id")
        .limit(8)
        .select(F.col("vec_id").alias("cid"), _as_double(F.col("embedding")).alias("cv"))
    )
    c = fan_out(emb).select(
        F.col("vec_id").alias("ib"), _as_double(F.col("embedding")).alias("vb")
    )
    q = emb.select(
        F.col("vec_id").alias("ia"), _as_double(F.col("embedding")).alias("va")
    )
    w_assign = Window.partitionBy("ib").orderBy(F.desc(F.round("__sim", 6)), "cid")
    assign = (
        c.crossJoin(cent)
        .select("ib", "cid", cosine(F.col("vb"), F.col("cv")).alias("__sim"))
        .withColumn("rn", F.row_number().over(w_assign))
        .filter(F.col("rn") == 1)
        .select("ib", "cid")
    )
    w_probe = Window.partitionBy("ia").orderBy(F.desc(F.round("__sim", 6)), "cid")
    probe = (
        q.crossJoin(cent)
        .select("ia", "cid", cosine(F.col("va"), F.col("cv")).alias("__sim"))
        .withColumn("rn", F.row_number().over(w_probe))
        .filter(F.col("rn") <= 2)
        .select("ia", "cid")
    )
    cand = (
        probe.join(assign, "cid")
        .filter(F.col("ia") != F.col("ib"))
        .select("ia", "ib")
        .distinct()
    )
    pairs = (
        cand.join(q, "ia")
        .join(c, "ib")
        .select("ia", "ib", (1 - cosine(F.col("va"), F.col("vb"))).alias("dist"))
    )
    w = Window.partitionBy("ia").orderBy(
        F.asc(F.round(F.col("dist"), 6)), F.asc("ib")
    )
    knn = tracked_persist(
        pairs.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 2)
    )
    r1 = knn.where(F.col("rn") == 1).select("ia", F.col("dist").alias("d1"))
    r2 = knn.where(F.col("rn") == 2).select("ia", F.col("dist").alias("d2"))
    mu = (
        r1.join(r2, "ia")
        .where(F.col("d1") > 0)
        .select((F.col("d2") / F.col("d1")).alias("mu"))
    )
    s = mu.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        dsum(F.log("mu"), 9).alias("slm"),
    )
    return s.select(
        F.col("n").alias("n_points"),
        (quantize(F.col("n") / F.col("slm"), 6) / 1e6).alias("intrinsic_dim"),
    )


# --- q604: embedding L2-norm drift audit — per-label norm mean / CV
# plus the max-min spread of label means (ppm): un-normalized vectors with
# label-dependent norms silently bias cosine-vs-dot retrieval, so a
# production embedding pipeline gates on exactly this. Norms are one
# map-side HOF fold; moments per label are bounded. ------------------------------
@query(
    "q604_embedding_norm_audit",
    oracle=f"""
    WITH norms AS MATERIALIZED (
        SELECT label,
               SQRT(list_dot_product(CAST(embedding AS DOUBLE[]),
                                     CAST(embedding AS DOUBLE[]))) AS nm
        FROM embeddings
    ),
    per_l AS MATERIALIZED (
        SELECT label,
               CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM({sql_quantize('nm', 9)}) AS DOUBLE) / 1e9 AS s,
               CAST(SUM({sql_quantize('nm * nm', 9)}) AS DOUBLE) / 1e9 AS ss
        FROM norms GROUP BY label
    ),
    spread AS (
        SELECT (MAX(s / n) - MIN(s / n)) * 1e6 AS ppm FROM per_l
    )
    SELECT p.label,
           CAST(p.n AS BIGINT) AS n_vecs,
           CAST({sql_quantize('p.s / p.n', 9)} AS DOUBLE) / 1e9 AS mean_norm,
           CAST({sql_quantize(
               'SQRT(GREATEST(0.0, (p.ss - p.s * p.s / p.n) / (p.n - 1)))'
               ' / (p.s / p.n)', 9)} AS DOUBLE) / 1e9 AS cv_norm,
           CAST({sql_quantize('sp.ppm', 6)} AS DOUBLE) / 1e6
               AS norm_spread_ppm
    FROM per_l p, spread sp
    ORDER BY p.label
    """,
)
def q604(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.similarity import _as_double, l2_norm
    from pandrs_spark.operators.util import tracked_persist

    emb = T(spark, sf_dir, "embeddings")
    norms = emb.select(
        "label", l2_norm(_as_double(F.col("embedding"))).alias("nm")
    )
    per_l = tracked_persist(
        norms.groupBy("label").agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            dsum("nm", 9).alias("s"),
            dsum(F.col("nm") * F.col("nm"), 9).alias("ss"),
        )
    )
    spread = per_l.agg(
        ((F.max(F.col("s") / F.col("n")) - F.min(F.col("s") / F.col("n"))) * 1e6)
        .alias("ppm")
    )
    j = per_l.crossJoin(F.broadcast(spread))
    return j.select(
        "label",
        F.col("n").cast("long").alias("n_vecs"),
        (quantize(F.col("s") / F.col("n"), 9) / 1e9).alias("mean_norm"),
        (
            quantize(
                F.sqrt(
                    F.greatest(
                        F.lit(0.0),
                        (F.col("ss") - F.col("s") * F.col("s") / F.col("n"))
                        / (F.col("n") - 1),
                    )
                )
                / (F.col("s") / F.col("n")),
                9,
            )
            / 1e9
        ).alias("cv_norm"),
        (quantize("ppm", 6) / 1e6).alias("norm_spread_ppm"),
    ).orderBy("label")


# ===== Round-9 wave: product-quantization vector-store tier ================
# PQ (Jégou, Douze, Schmid 2011, public) is the third similarity-search
# scale path beside LSH (q88) and IVF (q121/q711): 64-dim vectors
# compress to m=8 one-byte-class codes (here k=4 centroids/subspace),
# and search scans codes with per-query lookup tables instead of raw
# floats. Codebook is DETERMINISTIC (subvectors of the 4 lowest-id
# vectors) so DuckDB mirrors the whole pipeline CTE-for-CTE, like
# q121's IVF quantizer. Squared distances fold through scaled-BIGINT
# quantization, so argmin code assignment is bit-identical on both
# engines.

_PQ_CTES = """
    emb AS MATERIALIZED (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    pos AS MATERIALIZED (
        SELECT vec_id, CAST((i - 1) // 8 AS INT) AS s, (i - 1) % 8 AS j,
               v[i] AS x
        FROM emb, UNNEST(generate_series(1, len(v))) AS t(i)
    ),
    cent AS MATERIALIZED (
        SELECT vec_id AS cid, v AS cv FROM emb ORDER BY vec_id LIMIT 4
    ),
    cpos AS MATERIALIZED (
        SELECT cid, CAST((i - 1) // 8 AS INT) AS s, (i - 1) % 8 AS j,
               cv[i] AS cx
        FROM cent, UNNEST(generate_series(1, len(cv))) AS t(i)
    ),
    d AS MATERIALIZED (
        SELECT p.vec_id, p.s, c.cid,
               SUM(CAST(FLOOR((p.x - c.cx) * (p.x - c.cx) * 1000000.0
                              + 0.5) AS BIGINT)) AS dq
        FROM pos p JOIN cpos c ON c.s = p.s AND c.j = p.j
        GROUP BY p.vec_id, p.s, c.cid
    ),
    best AS MATERIALIZED (
        SELECT vec_id, s, cid, dq FROM (
            SELECT vec_id, s, cid, dq,
                   ROW_NUMBER() OVER (PARTITION BY vec_id, s
                                      ORDER BY dq, cid) AS rn
            FROM d
        ) WHERE rn = 1
    )
"""


# --- q712: PQ codebook quality — per-subspace code-usage entropy and
# mean squared reconstruction error. One explode + one bounded
# (8 x 8 x 4)-row broadcast codebook join + one (vec_id, s, cid)
# partial-combined shuffle: linear at any corpus size, the training
# half of the PQ pipeline. ----------------------------------------------------
@query(
    "q712_pq_codebook_quality",
    oracle=f"""
    WITH {_PQ_CTES},
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nv FROM emb),
    cc AS (
        SELECT s, cid, CAST(COUNT(*) AS BIGINT) AS c FROM best GROUP BY s, cid
    )
    SELECT cc.s AS subspace,
           (SELECT nv FROM n) AS n_vecs,
           CAST(COUNT(*) AS BIGINT) AS n_codes_used,
           CAST({{q6ent}} AS DOUBLE) / 1e6 AS code_entropy,
           CAST(CAST(FLOOR(CAST(mse.sdq AS DOUBLE) / (SELECT nv FROM n)
                           + 0.5) AS BIGINT) AS DOUBLE) / 1e6 AS mse
    FROM cc
    JOIN (SELECT s, SUM(dq) AS sdq FROM best GROUP BY s) mse ON mse.s = cc.s
    GROUP BY cc.s, mse.sdq
    ORDER BY subspace
    """.replace(
        "{q6ent}",
        "CAST(FLOOR(ABS(-SUM((c * 1.0 / (SELECT nv FROM n))"
        " * LN(c * 1.0 / (SELECT nv FROM n)))) * 1000000.0 + 0.5) AS BIGINT)",
    ),
)
def q712(spark, sf_dir):
    from pyspark.sql import Window

    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.util import fan_out, tracked_persist

    emb = T(spark, sf_dir, "embeddings")
    pos = fan_out(emb).select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "p", "x"
        ),
    ).select(
        "vec_id",
        (F.col("p") / 8).cast("int").alias("s"),
        (F.col("p") % 8).alias("j"),
        "x",
    )
    cent = emb.orderBy("vec_id").limit(4)
    cpos = cent.select(
        F.col("vec_id").alias("cid"),
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "p", "cx"
        ),
    ).select(
        "cid",
        (F.col("p") / 8).cast("int").alias("s"),
        (F.col("p") % 8).alias("j"),
        "cx",
    )
    diff2 = (F.col("x") - F.col("cx")) * (F.col("x") - F.col("cx"))
    d = (
        pos.join(F.broadcast(cpos), ["s", "j"])
        .groupBy("vec_id", "s", "cid")
        .agg(F.sum(quantize(diff2, 6)).cast("long").alias("dq"))
    )
    w = Window.partitionBy("vec_id", "s").orderBy("dq", "cid")
    best = tracked_persist(
        d.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    )
    nv = best.groupBy("s").agg(
        F.count(F.lit(1)).cast("long").alias("nv"),
        F.sum("dq").cast("long").alias("sdq"),
    )
    cc = best.groupBy("s", "cid").agg(F.count(F.lit(1)).cast("long").alias("c"))
    p = F.col("c") * 1.0 / F.col("nv")
    ent = (
        cc.join(nv, "s")
        .groupBy("s")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_codes_used"),
            (
                F.floor(F.abs(-F.sum(p * F.log(p))) * 1e6 + 0.5).cast("long")
                / 1e6
            ).alias("code_entropy"),
        )
    )
    return (
        nv.join(ent, "s")
        .select(
            F.col("s").alias("subspace"),
            F.col("nv").alias("n_vecs"),
            "n_codes_used",
            "code_entropy",
            (
                F.floor(F.col("sdq").cast("double") / F.col("nv") + 0.5).cast(
                    "long"
                )
                / 1e6
            ).alias("mse"),
        )
        .orderBy("subspace")
    )


# --- q713: PQ asymmetric-distance (ADC) search recall@5 — the search
# half of the PQ pipeline: each of 10 sample queries builds an 8 x 4
# lookup table of quantized subvector->centroid distances, and every
# database vector is scored by summing 8 table lookups over its CODES
# (one equi-join on (s, cid) against the n x 8 code table — a linear
# scan of one-byte-class codes, never raw floats). Recall@5 is
# measured against the exact squared-L2 ranking, both engines
# computing the same value (Jégou et al. 2011 ADC, public). -------------------
@query(
    "q713_pq_adc_recall",
    oracle=f"""
    WITH {_PQ_CTES},
    qd AS MATERIALIZED (
        SELECT vec_id AS qid, s, cid, dq FROM d WHERE vec_id < 10
    ),
    adc AS MATERIALIZED (
        SELECT q.qid, b.vec_id AS bid, SUM(q.dq) AS dist
        FROM best b JOIN qd q ON q.s = b.s AND q.cid = b.cid
        WHERE b.vec_id <> q.qid
        GROUP BY q.qid, b.vec_id
    ),
    adc5 AS MATERIALIZED (
        SELECT qid, bid FROM (
            SELECT qid, bid,
                   ROW_NUMBER() OVER (PARTITION BY qid
                                      ORDER BY dist, bid) AS rn
            FROM adc
        ) WHERE rn <= 5
    ),
    ex AS MATERIALIZED (
        SELECT qp.vec_id AS qid, bp.vec_id AS bid,
               SUM(CAST(FLOOR((qp.x - bp.x) * (qp.x - bp.x) * 1000000.0
                              + 0.5) AS BIGINT)) AS d2
        FROM pos qp JOIN pos bp ON bp.s = qp.s AND bp.j = qp.j
        WHERE qp.vec_id < 10 AND bp.vec_id <> qp.vec_id
        GROUP BY qp.vec_id, bp.vec_id
    ),
    ex5 AS MATERIALIZED (
        SELECT qid, bid FROM (
            SELECT qid, bid,
                   ROW_NUMBER() OVER (PARTITION BY qid
                                      ORDER BY d2, bid) AS rn
            FROM ex
        ) WHERE rn <= 5
    ),
    per_q AS (
        SELECT e.qid, CAST(COUNT(a.bid) AS DOUBLE) / COUNT(*) AS r
        FROM ex5 e LEFT JOIN adc5 a ON a.qid = e.qid AND a.bid = e.bid
        GROUP BY e.qid
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
           CAST(CAST(FLOOR(AVG(r) * 10000.0 + 0.5) AS BIGINT) AS DOUBLE)
               / 1e4 AS recall5
    FROM per_q
    """,
)
def q713(spark, sf_dir):
    from pyspark.sql import Window

    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.util import fan_out, tracked_persist

    emb = T(spark, sf_dir, "embeddings")
    pos = tracked_persist(
        fan_out(emb)
        .select(
            "vec_id",
            F.posexplode(F.col("embedding").cast("array<double>")).alias(
                "p", "x"
            ),
        )
        .select(
            "vec_id",
            (F.col("p") / 8).cast("int").alias("s"),
            (F.col("p") % 8).alias("j"),
            "x",
        )
    )
    cpos = (
        emb.orderBy("vec_id")
        .limit(4)
        .select(
            F.col("vec_id").alias("cid"),
            F.posexplode(F.col("embedding").cast("array<double>")).alias(
                "p", "cx"
            ),
        )
        .select(
            "cid",
            (F.col("p") / 8).cast("int").alias("s"),
            (F.col("p") % 8).alias("j"),
            "cx",
        )
    )
    diff2 = (F.col("x") - F.col("cx")) * (F.col("x") - F.col("cx"))
    d = tracked_persist(
        pos.join(F.broadcast(cpos), ["s", "j"])
        .groupBy("vec_id", "s", "cid")
        .agg(F.sum(quantize(diff2, 6)).cast("long").alias("dq"))
    )
    w_code = Window.partitionBy("vec_id", "s").orderBy("dq", "cid")
    best = (
        d.withColumn("rn", F.row_number().over(w_code))
        .filter(F.col("rn") == 1)
        .select(F.col("vec_id").alias("bid"), "s", "cid")
    )
    qd = d.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), "s", "cid", "dq"
    )
    adc = (
        best.join(F.broadcast(qd), ["s", "cid"])
        .filter(F.col("bid") != F.col("qid"))
        .groupBy("qid", "bid")
        .agg(F.sum("dq").cast("long").alias("dist"))
    )
    w_adc = Window.partitionBy("qid").orderBy("dist", "bid")
    adc5 = (
        adc.withColumn("rn", F.row_number().over(w_adc))
        .filter(F.col("rn") <= 5)
        .select("qid", "bid")
    )
    qpos = pos.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), "s", "j", F.col("x").alias("qx")
    )
    ex = (
        pos.join(F.broadcast(qpos), ["s", "j"])
        .filter(F.col("vec_id") != F.col("qid"))
        .groupBy("qid", F.col("vec_id").alias("bid"))
        .agg(
            F.sum(
                quantize((F.col("qx") - F.col("x")) * (F.col("qx") - F.col("x")), 6)
            )
            .cast("long")
            .alias("d2")
        )
    )
    w_ex = Window.partitionBy("qid").orderBy("d2", "bid")
    ex5 = (
        ex.withColumn("rn", F.row_number().over(w_ex))
        .filter(F.col("rn") <= 5)
        .select("qid", "bid")
    )
    hits = ex5.join(
        adc5.withColumn("hit", F.lit(1)), ["qid", "bid"], "left"
    )
    per_q = hits.groupBy("qid").agg(
        (F.sum(F.coalesce("hit", F.lit(0))) / F.count(F.lit(1))).alias("r")
    )
    return per_q.agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        (F.floor(F.avg("r") * 1e4 + 0.5).cast("long") / 1e4).alias("recall5"),
    )
