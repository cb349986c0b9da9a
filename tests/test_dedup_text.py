"""Dedup + text operator tests: exact clusters, MinHash/LSH behavior on
near-duplicates, SimHash Hamming locality, Jaccard exactness,
fingerprint normalization, quality score bounds."""

from __future__ import annotations

from pyspark.sql import functions as F

from pandrs_spark.operators.dedup import (
    exact_dedup_clusters,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_fingerprint,
)
from pandrs_spark.operators.text import doc_fingerprint, quality_score, shingles, tokens
from pandrs_spark.operators.util import small_local_df


def _docs(spark):
    base = "the quick brown fox jumps over the lazy dog and runs far away home"
    near = "the quick brown fox jumps over the lazy dog and runs far away house"
    other = "completely different words about spark engines and column pruning"
    return small_local_df(
        spark, [(1, base), (2, base), (3, near), (4, other)], "doc_id long, text string"
    )


def test_exact_dedup_clusters(spark):
    out = exact_dedup_clusters(_docs(spark), "text", "doc_id").collect()
    sizes = sorted(r.cluster_size for r in out)
    assert sizes == [1, 1, 2]
    dup = [r for r in out if r.cluster_size == 2][0]
    assert dup.keep_id == 1


def test_fingerprint_normalizes_whitespace_and_case(spark):
    df = small_local_df(
        spark, [(1, "Hello  World"), (2, "  hello world ")], "id long, t string"
    )
    fps = [r.fp for r in df.select(doc_fingerprint("t").alias("fp")).collect()]
    assert fps[0] == fps[1]


def test_minhash_identical_docs_identical_signatures(spark):
    sigs = {r.doc_id: (r.mh0, r.mh1, r.mh2, r.mh3)
            for r in minhash_signatures(_docs(spark), "text", "doc_id").collect()}
    assert sigs[1] == sigs[2]
    assert sigs[1] != sigs[4]


def test_lsh_finds_exact_and_near_duplicates(spark):
    pairs = {(r.id_a, r.id_b)
             for r in lsh_candidate_pairs(_docs(spark), "text", "doc_id").collect()}
    assert (1, 2) in pairs          # identical docs always collide
    assert all(4 not in p for p in pairs)  # unrelated doc never pairs


def test_jaccard_exact_value(spark):
    df = small_local_df(
        spark, [(1, "a b c d e"), (2, "a b c d f")], "doc_id long, text string"
    )
    pairs = small_local_df(spark, [(1, 2)], "id_a long, id_b long")
    out = ngram_jaccard_pairs(df, "text", "doc_id", pairs).collect()
    # shingles(3): doc1 {abc, bcd, cde}, doc2 {abc, bcd, cdf} -> 2/4
    assert out[0].jaccard == 0.5


def test_simhash_locality(spark):
    out = {r.doc_id: r.simhash
           for r in simhash_fingerprint(_docs(spark), "text", "doc_id").collect()}
    assert out[1] == out[2]
    ham_near = sum(a != b for a, b in zip(out[1], out[3]))
    ham_far = sum(a != b for a, b in zip(out[1], out[4]))
    assert ham_near <= ham_far


def test_shingles_short_doc_empty(spark):
    df = small_local_df(spark, [(1, "a b")], "id long, t string")
    row = df.select(shingles(tokens(F.col("t"))).alias("s")).collect()[0]
    assert row.s == []


def test_quality_score_bounds(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    stats = docs.select(quality_score(F.col("text")).alias("q")).agg(
        F.min("q").alias("lo"), F.max("q").alias("hi")
    ).collect()[0]
    assert 0.0 <= stats.lo <= stats.hi <= 1.0


def test_char_entropy_known_values(spark):
    from pyspark.sql import functions as F

    from pandrs_spark.operators.text import char_entropy

    df = small_local_df(
        spark, [("aaaa",), ("aabb",), ("abcdefgh",)], "t string"
    )
    got = [r[0] for r in df.select(F.round(char_entropy("t"), 9)).collect()]
    assert got == [0.0, 1.0, 3.0]


def test_char_entropy_flags_gibberish_below_text(spark):
    from pyspark.sql import functions as F

    from pandrs_spark.operators.text import char_entropy

    df = small_local_df(
        spark, [("the quick brown fox jumps over the lazy dog",), ("zzzzzzzzzzzz zz",)],
        "t string",
    )
    a, b = [r[0] for r in df.select(char_entropy("t")).collect()]
    assert a > 3.5 and b < 1.0


def test_gopher_flags_repetitive_doc(spark):
    from pyspark.sql import functions as F

    from pandrs_spark.operators.text import gopher_quality_flags

    df = small_local_df(
        spark,
        [
            ("clean", "the quick brown fox jumps over the lazy dog today"),
            ("looped", "buy now buy now buy now buy now buy now buy now"),
        ],
        "name string, t string",
    )
    got = {
        r["name"]: r["q"]
        for r in df.select("name", gopher_quality_flags("t").alias("q")).collect()
    }
    assert got["looped"]["dup_ngram_frac"] > 0.7
    assert got["clean"]["dup_ngram_frac"] == 0.0
    assert got["clean"]["frac_alpha_words"] == 1.0
    assert 3.0 < got["clean"]["mean_word_len"] < 5.0


def test_tfidf_prefers_rare_terms(spark):
    from pandrs_spark.operators.text import tf_idf_top_terms

    df = small_local_df(
        spark,
        [
            (1, "common common common zebra"),
            (2, "common words here also"),
            (3, "common stuff again too"),
        ],
        "doc_id long, text string",
    )
    out = tf_idf_top_terms(df, "text", "doc_id", top_k=1).collect()
    top = {r["id"]: r["term"] for r in out}
    # 'common' appears in every doc (idf=0); the rare term wins despite tf=3
    assert top[1] == "zebra"
    doc1 = [r for r in out if r["id"] == 1][0]
    assert doc1["tfidf"] > 0


def test_bm25_ranks_matching_docs_first(spark):
    from pandrs_spark.operators.text import bm25_search

    df = small_local_df(
        spark,
        [
            (1, "spark shuffle join window"),
            (2, "window window window window window padding"),
            (3, "no relevant terms at all"),
        ],
        "doc_id long, text string",
    )
    out = bm25_search(df, "text", "doc_id", ["window"], top_k=5).collect()
    ids = [r["id"] for r in sorted(out, key=lambda r: r["rank"])]
    assert 3 not in ids              # zero-match docs don't score
    assert set(ids) == {1, 2}
    # saturation: 5x repetition beats 1x but not by 5x
    scores = {r["id"]: r["bm25"] for r in out}
    assert scores[2] > scores[1]
    assert scores[2] < 3 * scores[1]


def test_redact_pii_patterns(spark):
    from pandrs_spark.operators.text import redact_pii

    rows = [
        ("mail me at jo.smith+x@corp.io now",),
        ("see https://a.example.com/p?q=1 and http://b.org",),
        ("card 1234567890 pin 12345",),  # only the 6+ digit run redacts
        ("plain text stays",),
    ]
    df = small_local_df(spark, rows, "t string")
    got = [r["r"] for r in df.select(redact_pii("t").alias("r")).collect()]
    assert got[0] == "mail me at <EMAIL> now"
    assert got[1] == "see <URL> and <URL>"
    assert got[2] == "card <NUM> pin 12345"
    assert got[3] == "plain text stays"


def test_corpus_ngram_duplication_counts(spark):
    from pandrs_spark.operators.text import corpus_ngram_duplication

    # two docs sharing one 3-gram ("a b c"), plus a unique one each
    df = small_local_df(
        spark, [("a b c d",), ("x a b c",), ("short",)], "text string"
    )
    row = corpus_ngram_duplication(df, "text", k=3).collect()[0]
    # grams: (a b c),(b c d) + (x a b),(a b c) -> 4 total, 3 distinct
    assert row["n_grams"] == 4 and row["n_distinct"] == 3
    assert abs(row["dup_fraction"] - 0.25) < 1e-9


def test_incremental_dedup(spark):
    from pandrs_spark.operators.dedup import incremental_dedup

    existing = small_local_df(
        spark, [(1, "the cat sat"), (2, "old news here")], "doc_id long, text string"
    )
    new_batch = small_local_df(
        spark,
        [
            (10, "The  cat   sat"),   # dup of existing (normalized)
            (11, "fresh content one"),
            (12, "fresh content one"),  # in-batch dup, keep min id 11
            (13, "fresh content two"),
        ],
        "doc_id long, text string",
    )
    kept = sorted(
        r["doc_id"]
        for r in incremental_dedup(new_batch, existing, "text", "doc_id").collect()
    )
    assert kept == [11, 13]


def test_chunk_documents_windows(spark):
    from pandrs_spark.operators.text import chunk_documents

    # 10 tokens, chunk 4, overlap 1 -> stride 3 -> ceil(9/3)=3 chunks:
    # [t0..t3], [t3..t6], [t6..t9]
    text = " ".join(f"t{i}" for i in range(10))
    df = small_local_df(spark, [(1, text), (2, "a b")], "doc_id long, text string")
    rows = sorted(
        (r["doc_id"], r["chunk_idx"], r["chunk_text"], r["n_tokens"])
        for r in chunk_documents(df, chunk_tokens=4, overlap=1).collect()
    )
    assert rows == [
        (1, 0, "t0 t1 t2 t3", 4),
        (1, 1, "t3 t4 t5 t6", 4),
        (1, 2, "t6 t7 t8 t9", 4),
        (2, 0, "a b", 2),
    ]
    # exact cover, no overlap
    rows2 = sorted(
        (r["chunk_idx"], r["n_tokens"])
        for r in chunk_documents(
            df.filter("doc_id = 1"), chunk_tokens=5, overlap=0
        ).collect()
    )
    assert rows2 == [(0, 5), (1, 5)]


def test_pack_sequences_bins(spark):
    from pandrs_spark.operators.text import pack_sequences

    rows = [(i, "s", 40) for i in range(10)]  # 400 tokens, budget 100
    df = small_local_df(spark, rows, "doc_id long, shard string, n_tok long")
    out = {r["doc_id"]: r["bin_id"] for r in pack_sequences(
        df.repartition(5), "n_tok", 100, ["shard"], ["doc_id"]
    ).collect()}
    # running starts: 0,40,80,120,... -> bins 0,0,0,1,1,2,2,2,3,3
    assert [out[i] for i in range(10)] == [0, 0, 0, 1, 1, 2, 2, 2, 3, 3]


def test_decontaminate_flags_overlap_and_keeps_short_docs(spark):
    from pandrs_spark.operators.text import decontaminate

    bench = small_local_df(
        spark, [(100, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string",
    )
    cand = small_local_df(
        spark,
        [
            # shares the 3-gram "beta gamma delta" with the benchmark
            (1, "zero beta gamma delta nine ten"),
            # no shared 3-gram
            (2, "one two three four five six"),
            # shorter than k tokens: zero grams, never contaminated
            (3, "tiny doc"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in decontaminate(cand, bench, k=3).collect()
    }
    assert out[1]["contaminated"] and out[1]["n_hits"] == 1
    assert not out[2]["contaminated"] and out[2]["n_hits"] == 0
    assert out[3]["n_grams"] == 0 and not out[3]["contaminated"]
    assert abs(out[1]["overlap_frac"] - 1 / 4) < 1e-6


def test_remove_boilerplate_segments(spark):
    from pandrs_spark.operators.text import remove_boilerplate_segments

    # "the footer text" appears in 3 docs -> removed at min_doc_count=3;
    # unique bodies survive in original order.
    docs = small_local_df(
        spark,
        [
            (1, "alpha beta gamma the footer text"),
            (2, "delta epsilon zeta the footer text"),
            (3, "eta theta iota the footer text"),
            (4, "kappa lambda mu nu xi omicron"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in remove_boilerplate_segments(
            docs, seg_words=3, min_doc_count=3
        ).collect()
    }
    assert out[1]["clean_text"] == "alpha beta gamma"
    assert out[1]["n_segs"] == 2 and out[1]["n_removed"] == 1
    assert out[4]["clean_text"] == "kappa lambda mu nu xi omicron"
    assert out[4]["n_removed"] == 0
    # a doc that is ALL boilerplate keeps its row with empty text
    docs2 = docs.union(
        small_local_df(spark, [(5, "the footer text")], "doc_id long, text string")
    )
    out2 = {
        r["doc_id"]: r
        for r in remove_boilerplate_segments(
            docs2, seg_words=3, min_doc_count=3
        ).collect()
    }
    assert out2[5]["clean_text"] == "" and out2[5]["n_kept"] == 0


def test_unigram_logprob_score(spark):
    import math

    from pandrs_spark.operators.text import unigram_logprob_score

    docs = small_local_df(
        spark, [(1, "common common common"), (2, "common rare")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in unigram_logprob_score(docs).collect()}
    # corpus: common x4, rare x1, total 5
    nl1 = math.log(5) - math.log(4)          # doc1: only 'common'
    nl2 = math.log(5) - (math.log(4) + math.log(1)) / 2
    assert got[1]["n_tokens"] == 3
    assert abs(got[1]["neg_logprob"] - nl1) < 1e-6
    assert abs(got[2]["neg_logprob"] - nl2) < 1e-6
    # rarer vocabulary scores strictly higher (lower quality)
    assert got[2]["neg_logprob"] > got[1]["neg_logprob"]


def test_decontaminate_counts_shared_grams(spark):
    """A doc sharing one benchmark k-gram is flagged; a doc shorter
    than k tokens keeps its row (the explode_outer null path) with no
    grams and no hits."""
    from pandrs_spark.operators.text import decontaminate

    docs = small_local_df(
        spark,
        [
            (1, "a b c d e f g h i j"),
            (2, "k l m n o p q r s t"),
            (3, "short doc"),  # < k tokens -> n_grams 0
        ],
        "doc_id long, text string",
    )
    bench = small_local_df(
        spark, [(100, "a b c d e f g h plus tail words")], "doc_id long, text string"
    )
    exact = {
        r["doc_id"]: (r["n_grams"], r["n_hits"], r["contaminated"])
        for r in decontaminate(docs, bench).collect()
    }
    assert exact[1] == (3, 1, True)   # shares the 'a..h' 8-gram
    assert exact[3] == (0, 0, False)  # short doc: no grams, kept


def test_select_cluster_representatives(spark):
    from pandrs_spark.operators.dedup import select_cluster_representatives

    docs = small_local_df(
        spark,
        [
            (1, "same   text here", 10),
            (2, "same text here", 25),   # same normalized content, best quality
            (3, "Same Text Here", 25),   # tie on quality -> lower id wins (2)
            (4, "unique document", 7),
        ],
        "doc_id long, text string, q long",
    )
    out = select_cluster_representatives(docs, "text", "doc_id", "q").collect()
    by_rep = {r["rep_id"]: r for r in out}
    assert len(out) == 2
    assert by_rep[2]["n_docs"] == 3 and by_rep[2]["rep_quality"] == 25
    assert by_rep[4]["n_docs"] == 1


def test_temperature_mixture_shares(spark):
    import math

    from pandrs_spark.operators.sampling import temperature_mixture_shares

    df = small_local_df(
        spark, [("web",)] * 90 + [("code",)] * 9 + [("books",)] * 1, "d string"
    )
    out = {r["domain"]: r for r in temperature_mixture_shares(df, "d", 0.5).collect()}
    tot = math.sqrt(90) + math.sqrt(9) + math.sqrt(1)
    assert abs(out["web"]["share"] - math.sqrt(90) / tot) < 1e-9
    assert abs(sum(r["share"] for r in out.values()) - 1.0) < 1e-9
    # alpha=0.5 compresses: books gets far MORE than its 1% natural share
    assert out["books"]["share"] > 0.05
    # alpha=1 recovers natural proportions
    nat = {r["domain"]: r["share"] for r in temperature_mixture_shares(df, "d", 1.0).collect()}
    assert abs(nat["web"] - 0.9) < 1e-9


def test_remove_boilerplate_segments_keeps_null_text_docs(spark):
    """ADVICE r5: posexplode dropped NULL-text docs, contradicting the
    'one row per input document' contract; posexplode_outer + left
    frequency join must keep them with n_segs=0 and empty clean_text."""
    from pandrs_spark.operators.text import remove_boilerplate_segments

    docs = small_local_df(
        spark,
        [
            (1, "alpha beta gamma"),
            (2, None),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in remove_boilerplate_segments(
            docs, seg_words=3, min_doc_count=3
        ).collect()
    }
    assert set(out) == {1, 2}
    assert out[2]["n_segs"] == 0 and out[2]["n_kept"] == 0
    assert out[2]["n_removed"] == 0 and out[2]["clean_text"] == ""
    assert out[1]["clean_text"] == "alpha beta gamma"


def test_bigram_lm_scores_word_salad_higher(spark):
    """The point of the bigram LM over the unigram one: a permuted
    (word-salad) doc keeps its unigram distribution but its transitions
    become rare, so its bigram neg_logprob must exceed the fluent docs
    that share the corpus-dominant transition pattern."""
    from pandrs_spark.operators.text import bigram_lm_score

    fluent = "the cat sat on the mat"
    docs = small_local_df(
        spark, [(i, fluent) for i in range(1, 9)] + [(9, "mat the on sat cat the")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in bigram_lm_score(docs).collect()}
    assert set(out) == set(range(1, 10))
    assert out[1]["n_bigrams"] == 5
    fluent_score = out[1]["neg_logprob"]
    assert all(
        abs(out[i]["neg_logprob"] - fluent_score) < 1e-9 for i in range(2, 9)
    )
    assert out[9]["neg_logprob"] > fluent_score + 0.1


def test_bigram_lm_skips_short_docs(spark):
    from pandrs_spark.operators.text import bigram_lm_score

    docs = small_local_df(
        spark, [(1, "one"), (2, ""), (3, "two tokens here")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in bigram_lm_score(docs).collect()}
    assert set(out) == {3}
    assert out[3]["n_bigrams"] == 2


def test_c4_line_filter_rule_battery(spark):
    """Every C4 rule on one fixture: terminal punctuation, min words per
    line, the javascript line blacklist, and both doc-level blacklists
    (lorem ipsum, curly brace) zeroing the whole doc."""
    from pandrs_spark.operators.text import c4_line_filter

    good = "this line has enough words and ends well."
    docs = small_local_df(
        spark,
        [
            (1, good + "\nno terminal punctuation here at all\nshort line."),
            (2, good + "\nplease Enable JavaScript to view the full page."),
            (3, good + "\nsome Lorem Ipsum filler text follows here."),
            (4, good + "\nvar x = { a: 1 }; window.load();"),
            (5, 'quoted dialogue should also count as terminal!"'),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in c4_line_filter(docs).collect()}
    # doc 1: good kept; no-punct line dropped; <5-word line dropped
    assert (out[1]["n_lines"], out[1]["n_kept"]) == (3, 1)
    assert out[1]["clean_text"] == good
    assert not out[1]["doc_dropped"]
    # doc 2: javascript line dropped case-insensitively, good kept
    assert (out[2]["n_kept"], out[2]["doc_dropped"]) == (1, False)
    # doc 3: lorem ipsum (case-insensitive) kills the DOC
    assert out[3]["doc_dropped"] and out[3]["n_kept"] == 0
    assert out[3]["clean_text"] == ""
    # doc 4: curly brace kills the doc
    assert out[4]["doc_dropped"] and out[4]["clean_text"] == ""
    # doc 5: closing quote counts as terminal punctuation
    assert out[5]["n_kept"] == 1


def test_source_overlap_matrix_counts_and_zero_pairs(spark):
    """Shared fingerprints counted once per pair (whitespace/case
    normalized), zero-overlap pairs still present with jaccard 0."""
    from pandrs_spark.operators.dedup import source_overlap_matrix

    docs = small_local_df(
        spark,
        [
            (1, "Alpha  beta", "a"),
            (2, "alpha beta", "b"),     # same fp as 1 after normalize
            (3, "gamma delta", "a"),
            (4, "gamma delta", "b"),
            (5, "unique to b", "b"),
            (6, "nothing shared", "c"),
        ],
        "doc_id long, text string, source string",
    )
    out = {
        (r["source_a"], r["source_b"]): r
        for r in source_overlap_matrix(docs).collect()
    }
    assert set(out) == {("a", "b"), ("a", "c"), ("b", "c")}
    ab = out[("a", "b")]
    assert (ab["n_a"], ab["n_b"], ab["n_shared"]) == (2, 3, 2)
    assert abs(ab["jaccard"] - 2 / 3) < 1e-6
    assert out[("a", "c")]["n_shared"] == 0
    assert out[("a", "c")]["jaccard"] == 0.0


def test_winnow_fingerprints_guarantee_and_edges(spark):
    """The winnowing guarantee: two docs sharing a run of >= k+window-1
    words share at least one fingerprint; short docs degrade cleanly
    (< k words: none; < window grams: exactly one, the global min)."""
    from pandrs_spark.operators.dedup import winnow_fingerprints

    shared = "one two three four five six seven eight nine ten"
    docs = small_local_df(
        spark,
        [
            (1, "alpha beta " + shared + " gamma delta"),
            (2, "zork quux " + shared + " blarg wibble"),
            (3, "too short"),                      # < k=4 words
            (4, "exactly four word gram"),          # 1 gram < window
        ],
        "doc_id long, text string",
    )
    fps = winnow_fingerprints(docs, k=4, window=5).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    # guarantee: the shared 10-word run (>= 4+5-1=8) forces overlap
    assert by_doc[1] & by_doc[2]
    assert 3 not in by_doc
    assert len(by_doc[4]) == 1
    # density: selected fingerprints are a strict subset of grams
    n_grams_doc1 = len("alpha beta ".split() + shared.split() + " gamma delta".split()) - 3
    assert 0 < len(by_doc[1]) < n_grams_doc1


def test_winnow_overlap_pairs_finds_partial_dup(spark):
    """A doc pair sharing one long run is found; unrelated docs are
    not; containment uses the smaller doc's fingerprint count."""
    from pandrs_spark.operators.dedup import winnow_overlap_pairs

    run = " ".join(f"tok{i}" for i in range(30))
    docs = small_local_df(
        spark,
        [
            (1, run + " unique tail one here now"),
            (2, "other head words go here " + run),
            (3, " ".join(f"zzz{i}" for i in range(30))),
        ],
        "doc_id long, text string",
    )
    out = winnow_overlap_pairs(docs, k=4, window=5, min_shared=3, max_df=10).collect()
    pairs = {(r["doc_a"], r["doc_b"]): r for r in out}
    assert (1, 2) in pairs
    assert all(3 not in p for p in pairs)
    r = pairs[(1, 2)]
    assert 0 < r["containment"] <= 1.0


def test_top_ngram_fraction_known_values(spark):
    from pandrs_spark.operators.text import top_ngram_fraction

    df = small_local_df(
        spark,
        [
            # bigrams: "buy now" x3, "now buy" x2 -> top = 3/5
            ("stuffed", "buy now buy now buy now"),
            # 4 distinct bigrams out of 4 -> top = 1/4
            ("clean", "the quick brown fox jumps"),
            ("one_word", "hello"),
            ("empty", ""),
        ],
        "name string, t string",
    )
    got = {
        r["name"]: r["f"]
        for r in df.select(
            "name", top_ngram_fraction("t", 2).alias("f")
        ).collect()
    }
    assert got["stuffed"] == 3.0 / 5.0
    assert got["clean"] == 1.0 / 4.0
    assert got["one_word"] == 0.0
    assert got["empty"] == 0.0
