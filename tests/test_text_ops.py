"""Text-analysis and fuzzy-dedup operator tests on crafted fixtures
where ground truth is known (the synthetic documents table has no
labeled near-dups)."""

import pytest
from pyspark.sql import functions as F

from enterprise_sales_data_pipeline_using_aws_lambda_spark.operators.text_analysis import (
    fingerprint,
    language_id,
    quality_stats,
    token_counts,
)
from enterprise_sales_data_pipeline_using_aws_lambda_spark.operators.text_dedup import (
    jaccard_on_pairs,
    minhash_near_duplicates,
    shingle_sets,
    simhash_near_duplicates,
)


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def test_quality_stats_hand_computed(spark):
    df = _docs(spark, ["ab cd!", ""])
    r = {x["doc_id"]: x for x in quality_stats(df).collect()}
    assert r[0]["n_chars"] == 6
    assert r[0]["n_words"] == 2
    assert r[0]["punct_ratio"] == round(1 / 6, 4)
    assert r[0]["space_ratio"] == round(1 / 6, 4)
    assert r[1]["n_words"] == 0


def test_token_counts(spark):
    df = _docs(spark, ["hello world 42!"])
    r = token_counts(df).first()
    # tokens: hello, world, 4, 2, !
    assert r["n_tokens"] == 5
    assert r["n_unique_tokens"] == 5
    assert r["n_words"] == 3


def test_language_id_on_real_sentences(spark):
    df = _docs(
        spark,
        [
            "the cat sat on the mat and the dog",
            "el gato y la casa de los amigos",
            "le chat et les maisons des amis",
            "der hund und die katze ist da",
            "xyzzy plugh",
        ],
    )
    got = {r["doc_id"]: r["pred_lang"] for r in language_id(df).collect()}
    assert got == {0: "en", 1: "es", 2: "fr", 3: "de", 4: "und"}


def test_fingerprint_matches_python_reference(spark):
    text = "hello world"
    expected = 0
    for ch in text:
        expected = (expected * 31 + ord(ch)) % 1_000_000_007
    r = fingerprint(_docs(spark, [text])).first()
    assert r["fingerprint"] == expected


def test_minhash_finds_planted_near_dup(spark):
    base = "the quick brown fox jumps over the lazy dog " * 5
    near = base.replace("lazy", "sleepy")  # one-word edit → high jaccard
    far = "completely different content about spark query engines and shuffles"
    df = _docs(spark, [base, near, far])
    pairs = minhash_near_duplicates(df, threshold=0.5).collect()
    assert [(p["id_a"], p["id_b"]) for p in pairs] == [(0, 1)]
    assert pairs[0]["jaccard"] > 0.5


def test_simhash_finds_planted_near_dup(spark):
    # 1 token edited out of 100 → measured Hamming 4 of 63; an unrelated
    # doc sits at ~31.  max_hamming=6 separates them decisively.
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 10
    near = base.replace("kappa", "lambda", 1)
    far = "one two three four five six seven eight nine ten " * 4
    df = _docs(spark, [base, near, far])
    pairs = simhash_near_duplicates(df, max_hamming=6).collect()
    assert [(p["id_a"], p["id_b"]) for p in pairs] == [(0, 1)]


def test_jaccard_identical_is_one(spark):
    df = _docs(spark, ["same same same text", "same same same text"])
    sh = shingle_sets(df)
    pairs = spark.createDataFrame([(0, 1)], "id_a long, id_b long")
    assert jaccard_on_pairs(pairs, sh).first()["jaccard"] == 1.0


def test_chunk_documents_reassembles_exactly(spark, sf_dir):
    """Chunks concatenated in order must reproduce the original text —
    no gaps, overlaps, or truncation."""
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.operators.text_analysis import (
        chunk_documents,
    )
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.sources.readers import (
        read_table,
    )
    from pyspark.sql import functions as F

    docs = read_table(spark, sf_dir, "documents").limit(50)
    chunks = chunk_documents(docs, width=37)
    rebuilt = (
        chunks.groupBy("doc_id")
        .agg(
            F.concat_ws(
                "", F.array_sort(F.collect_list(F.struct("chunk_id", "chunk_text")))
                .getField("chunk_text")
            ).alias("rebuilt")
        )
    )
    joined = docs.join(rebuilt, "doc_id")
    assert joined.filter(F.col("text") != F.col("rebuilt")).count() == 0
    assert chunks.filter(F.length("chunk_text") > 37).count() == 0


def test_boundary_chunks_never_split_words(spark, sf_dir):
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.operators.text_analysis import (
        chunk_documents_boundary,
    )
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.sources.readers import (
        read_table,
    )
    from pyspark.sql import functions as F

    docs = read_table(spark, sf_dir, "documents").limit(40)
    chunks = chunk_documents_boundary(docs, width=50)
    # Reassembly: chunks joined in order with single spaces reproduce
    # the word sequence of the original text.
    rebuilt = chunks.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("chunk_id", "chunk_text"))),
                lambda s: s.getField("chunk_text"),
            ),
            " ",
        ).alias("rebuilt")
    )
    orig = docs.select(
        "doc_id",
        F.array_join(
            F.filter(F.split("text", " "), lambda w: w != ""), " "
        ).alias("norm_text"),
    )
    bad = orig.join(rebuilt, "doc_id").filter(
        F.col("norm_text") != F.col("rebuilt")
    )
    assert bad.count() == 0
    # Every chunk's words are intact substrings of the original: implied
    # by reassembly equality. Chunk sizes hover near the target width:
    # no chunk (except single-long-word ones) exceeds width + longest
    # word length.
    assert chunks.filter(F.col("n_chars") > 50 + 30).count() == 0


def test_parse_kv_udtf_lateral_join(spark):
    """Python UDTF surface: row-to-rows expansion usable both as a
    function call and SQL-registered with a LATERAL join."""
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.functions.udtfs import (
        ParseKeyValue,
        register_udtfs,
    )
    from pyspark.sql import functions as F

    out = ParseKeyValue(F.lit("a=1; b = 2;junk;=skipme;c=3")).collect()
    assert [(r["key"], r["value"]) for r in out] == [
        ("a", "1"), ("b", "2"), ("c", "3")
    ]

    register_udtfs(spark)
    spark.createDataFrame(
        [(1, "x=10;y=20"), (2, "z=5"), (3, "")], "id long, props string"
    ).createOrReplaceTempView("kv_rows")
    rows = spark.sql(
        """
        SELECT id, p.key, p.value
        FROM kv_rows, LATERAL parse_kv(props) AS p
        ORDER BY id, p.key
        """
    ).collect()
    assert [(r["id"], r["key"], r["value"]) for r in rows] == [
        (1, "x", "10"), (1, "y", "20"), (2, "z", "5")
    ]


def test_repetition_stats_known_docs(spark):
    """Gopher repetition filters: hand-computed dup-word fraction and
    top-bigram share, including the (count, ngram) tie rule and the
    sub-n-word degenerate doc."""
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.operators.text_analysis import (
        repetition_stats,
    )

    docs = spark.createDataFrame(
        [
            # "a b a b a" -> bigrams [a b, b a, a b, b a]: tie 2-2,
            # tie rule picks lexicographically greatest -> "b a"
            (1, "a b a b a"),
            # all distinct words, every bigram unique
            (2, "x y z"),
            # single word: no bigrams -> zero-filled top columns
            (3, "solo"),
            # zero tokens: zero duplicated words, NOT "maximally
            # repeated" (the formula's 1 - 0/1 = 1.0 trap)
            (4, ""),
            (5, "   "),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in repetition_stats(docs).collect()}
    r1 = rows[1]
    assert r1["n_words"] == 5
    assert r1["dup_word_frac"] == 0.6  # 1 - 2/5
    assert r1["top_ngram"] == "b a" and r1["top_ngram_n"] == 2
    assert r1["top_ngram_frac"] == 0.5  # 2 of 4
    r2 = rows[2]
    assert r2["dup_word_frac"] == 0.0 and r2["top_ngram_n"] == 1
    r3 = rows[3]
    assert (r3["top_ngram"], r3["top_ngram_n"], r3["top_ngram_frac"]) == (
        "", 0, 0.0
    )
    for empty_id in (4, 5):
        r = rows[empty_id]
        assert r["n_words"] == 0 and r["dup_word_frac"] == 0.0


def test_benchmark_overlap_contamination(spark):
    """Decontamination: doc sharing an 8-gram with a bench doc is
    flagged (self-matches excluded); disjoint docs are not."""
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.operators.text_analysis import (
        benchmark_overlap,
    )

    bench_text = "one two three four five six seven eight nine ten"
    docs = spark.createDataFrame(
        [
            (100, bench_text),                     # the bench doc itself
            (1, "zz " + bench_text + " yy"),       # contains all bench 8-grams
            (2, "alpha beta gamma delta epsilon zeta eta theta iota"),
            (3, "one two three four five six seven"),  # only 7 words
        ],
        "doc_id long, text string",
    )
    bench = docs.filter("doc_id = 100")
    out = {r["doc_id"]: r for r in benchmark_overlap(docs, bench).collect()}
    # bench doc excluded by self-match rule; only doc 1 contaminated
    assert set(out) == {1}
    r = out[1]
    # bench has 3 8-grams; doc 1 has 5, of which 3 shared
    assert r["n_shared_ngrams"] == 3
    assert r["n_bench_docs"] == 1 and r["min_bench_id"] == 100
    assert r["shared_frac"] == 0.6


def test_boilerplate_ngram_stats(spark):
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.operators.text_analysis import (
        boilerplate_ngram_stats,
    )

    # "all rights reserved" appears in 5 docs -> boilerplate at min_docs=5;
    # every other 3-gram is unique to its doc.
    texts = [f"doc {i} body all rights reserved" for i in range(5)]
    texts.append("totally original content here")
    texts.append("xy")  # shorter than n=3 -> 0 grams
    df = _docs(spark, texts)
    r = {x["doc_id"]: x for x in boilerplate_ngram_stats(df, n=3, min_docs=5).collect()}
    assert len(r) == 7
    # doc 0 grams: 'doc 0 body', '0 body all', 'body all rights', 'all rights reserved'
    # shared across all 5 docs: 'body all rights' and 'all rights reserved'
    assert r[0]["n_grams"] == 4
    assert r[0]["n_boiler_grams"] == 2
    assert r[0]["boiler_frac_e4"] == 5000
    assert r[5]["n_boiler_grams"] == 0
    assert r[6]["n_grams"] == 0 and r[6]["boiler_frac_e4"] == 0


def test_pii_scrub_counts_and_order(spark):
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.operators.text_analysis import (
        pii_scrub,
    )

    df = _docs(
        spark,
        [
            "mail a@b.com or visit https://x.org/path from 10.0.0.1",
            "version 1.2.3.4 and 256.1.1.1 plain text",
            "no matches at all",
        ],
    )
    r = {x["doc_id"]: x for x in pii_scrub(df).collect()}
    assert (r[0]["n_url"], r[0]["n_email"], r[0]["n_ip"]) == (1, 1, 1)
    assert r[0]["clean_text"] == "mail <EMAIL> or visit <URL> from <IP>"
    # IPv4-shaped version strings match by design (documented limitation)
    assert r[1]["n_ip"] == 2
    assert (r[2]["n_url"], r[2]["n_email"], r[2]["n_ip"]) == (0, 0, 0)
    assert r[2]["clean_text"] == "no matches at all"


def test_passage_dedup_stats(spark):
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.operators.text_analysis import (
        passage_dedup_stats,
    )

    shared = " ".join(f"w{i}" for i in range(4))  # one 4-word passage
    df = _docs(spark, [shared + " tail only here", shared + " other ending words", "unique words entirely different"])
    r = {x["doc_id"]: x for x in passage_dedup_stats(df, width=4).collect()}
    # docs 0/1: passages [shared, tail(3 words)] -> shared duplicated
    assert r[0]["n_passages"] == 2 and r[0]["n_dup_passages"] == 1
    assert r[0]["dup_passage_frac_e4"] == 5000
    assert r[2]["n_dup_passages"] == 0


def test_bpe_pair_counts(spark):
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.operators.text_analysis import (
        bpe_pair_counts,
    )

    df = _docs(spark, ["aaa ab", "ba a"])
    got = {r["pair"]: r["n"] for r in bpe_pair_counts(df, top_k=10).collect()}
    # 'aaa' -> aa, aa ; 'ab' -> ab ; 'ba' -> ba ; 'a' dropped (len<2)
    assert got == {"aa": 2, "ab": 1, "ba": 1}


def test_deterministic_split_portable_and_stable(spark):
    import hashlib

    from enterprise_sales_data_pipeline_using_aws_lambda_spark.operators.dedup import (
        deterministic_split,
    )

    df = spark.range(0, 500).withColumnRenamed("id", "k")
    out = deterministic_split(df, "k").collect()
    # engine-portable: bucket reproducible from the md5 spec in plain Python
    for row in out[:50]:
        hx = hashlib.md5(f"s0:{row['k']}".encode()).hexdigest()
        assert row["bucket"] == int(hx[:6], 16) % 1000
        expected = "train" if row["bucket"] < 800 else ("val" if row["bucket"] < 900 else "test")
        assert row["split"] == expected
    # every row assigned exactly once; proportions near 80/10/10
    from collections import Counter

    c = Counter(r["split"] for r in out)
    assert sum(c.values()) == 500
    assert 330 <= c["train"] <= 470  # loose 3-sigma-ish band around 400... 500*0.8=400
    assert c["val"] + c["test"] <= 170
    # stability: a second evaluation yields identical assignment
    again = {r["k"]: r["split"] for r in deterministic_split(df, "k").collect()}
    assert all(again[r["k"]] == r["split"] for r in out)


def test_inverted_index_topk_ranks_and_df(spark):
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.operators.retrieval import (
        inverted_index_topk,
    )

    df = _docs(spark, ["a a b", "a b b", "b c"])
    rows = inverted_index_topk(df, k=2).collect()
    got = {(r["term"], r["rank"]): (r["doc_id"], r["tf"], r["df"]) for r in rows}
    # term a: doc0 tf2, doc1 tf1; df=2
    assert got[("a", 1)] == (0, 2, 2)
    assert got[("a", 2)] == (1, 1, 2)
    # term b: doc1 tf2 first, then tie tf1 broken by doc_id -> doc0
    assert got[("b", 1)] == (1, 2, 3)
    assert got[("b", 2)] == (0, 1, 3)
    assert got[("c", 1)] == (2, 1, 1)
    # k cutoff: term b has 3 postings, only 2 survive
    assert len([r for r in rows if r["term"] == "b"]) == 2


def test_bm25_hand_computed(spark):
    import math

    from enterprise_sales_data_pipeline_using_aws_lambda_spark.operators.retrieval import (
        bm25_scores,
    )

    df = _docs(spark, ["x x y", "x z z", "z z z"])
    out = {r["doc_id"]: r["bm25"] for r in bm25_scores(df, ["x"]).collect()}
    n_docs, avgdl, dfx, k1, b = 3.0, 3.0, 2.0, 1.2, 0.75
    idf = math.log(1.0 + (n_docs - dfx + 0.5) / (dfx + 0.5))

    def s(tf, dl):
        return round(idf * (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * dl / avgdl)), 4)

    assert out == {0: s(2, 3), 1: s(1, 3)}  # doc2 has no 'x': absent


def test_pii_scrub_idempotent(spark):
    """Scrubbing already-scrubbed text must be a no-op: placeholders
    contain no PII-shaped tokens, so a second pass finds zero matches."""
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.operators.text_analysis import (
        pii_scrub,
    )

    df = _docs(
        spark,
        [
            "mail a@b.com or visit https://x.org/path from 10.0.0.1",
            "double http://y.io/z and c.d@e.org and 172.16.254.3 end",
        ],
    )
    once = pii_scrub(df).select(
        F.col("doc_id"), F.col("clean_text").alias("text")
    )
    twice = {r["doc_id"]: r for r in pii_scrub(once).collect()}
    for r in twice.values():
        assert (r["n_url"], r["n_email"], r["n_ip"]) == (0, 0, 0)
    first = {r["doc_id"]: r["clean_text"] for r in pii_scrub(df).collect()}
    assert all(twice[k]["clean_text"] == first[k] for k in first)


def test_boilerplate_fraction_bounds_on_real_corpus(spark, sf_dir):
    """boiler_frac_e4 is an integer basis-point fraction of the doc's
    own distinct grams: within [0, 10000], n_boiler_grams <= n_grams."""
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.operators.text_analysis import (
        boilerplate_ngram_stats,
    )
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.sources.readers import (
        read_table,
    )

    out = boilerplate_ngram_stats(
        read_table(spark, sf_dir, "documents"), n=3, min_docs=5
    )
    bad = out.filter(
        (F.col("boiler_frac_e4") < 0)
        | (F.col("boiler_frac_e4") > 10000)
        | (F.col("n_boiler_grams") > F.col("n_grams"))
    )
    assert bad.count() == 0


def test_bigram_lm_scores_hand_computed(spark):
    """Add-one-smoothed bigram NLL on a 3-doc corpus, checked against a
    plain-Python replay of training and scoring."""
    import math
    from collections import Counter

    from enterprise_sales_data_pipeline_using_aws_lambda_spark.operators.text_analysis import (
        bigram_lm_scores,
    )

    texts = ["a b a", "b a", "c"]
    df = _docs(spark, texts)
    got = {r["doc_id"]: r for r in bigram_lm_scores(df).collect()}

    toks = [t.split() for t in texts]
    grams = [(w[i], w[i + 1]) for w in toks for i in range(len(w) - 1)]
    cxy, cx = Counter(grams), Counter(g[0] for g in grams)
    v = len({w for t in toks for w in t})

    def nll(pair):
        return -math.log((cxy[pair] + 1) / (cx[pair[0]] + v))

    doc0 = [("a", "b"), ("b", "a")]
    assert got[0]["n_bigrams"] == 2
    assert got[0]["avg_nll"] == round(sum(map(nll, doc0)) / 2, 4)
    assert got[1]["n_bigrams"] == 1
    assert got[1]["avg_nll"] == round(nll(("b", "a")), 4)
    assert 2 not in got  # single-word doc has no bigrams


def test_pii_scrub_placeholders_cannot_synthesize_matches(spark):
    """A placeholder must never extend into a later pattern: after URL
    redaction, '<URL>@dom.tld' must NOT count as an email ('>' is
    outside the email local-part class, so no match can end at the
    '@'), and '<IP>'/'<EMAIL>' contain no digits to feed the IP rule.
    Pins the boundary-guard property of the angle-bracket tokens."""
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.operators.text_analysis import (
        pii_scrub,
    )

    df = _docs(
        spark,
        [
            "visit https://x.org@dom.tld now",          # dangling @domain
            "go https://a.b/c@d.ee end",                # url eats local part
            "ping 10.0.0.1.2 tail",                     # ip + residue
        ],
    )
    rows = {r["doc_id"]: r for r in pii_scrub(df).collect()}
    assert (rows[0]["n_url"], rows[0]["n_email"]) == (1, 0)
    assert "<URL>@dom.tld" in rows[0]["clean_text"]
    assert (rows[1]["n_url"], rows[1]["n_email"]) == (1, 0)
    assert (rows[2]["n_ip"], rows[2]["n_email"]) == (1, 0)
    assert "<IP>.2" in rows[2]["clean_text"]


def test_exact_jaccard_join_matches_bruteforce(spark):
    """Prefix filtering must find EVERY pair the all-pairs definition
    finds (zero false negatives) and score them identically."""
    from itertools import combinations

    from enterprise_sales_data_pipeline_using_aws_lambda_spark.operators.text_dedup import (
        exact_jaccard_join,
    )

    texts = [
        "alpha beta gamma delta epsilon",
        "alpha beta gamma delta zeta",      # near-dup of 0
        "alpha beta gamma delta epsilon",   # exact dup of 0
        "one two three four five six",
        "totally different words here now",
        "one two three four five seven",    # near-dup of 3
        "",                                  # empty -> excluded
    ]
    out = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in exact_jaccard_join(
            _docs(spark, texts), threshold=0.5
        ).collect()
    }

    def jac(a, b):
        sa, sb = set(a.split()), set(b.split())
        if not sa or not sb:
            return 0.0
        return len(sa & sb) / len(sa | sb)

    expected = {
        (i, j): round(jac(texts[i], texts[j]), 6)
        for i, j in combinations(range(len(texts)), 2)
        if jac(texts[i], texts[j]) >= 0.5
    }
    assert out == expected
    # exact dup (0, 2) and near-dup (1, 2) both present with exact scores
    assert (0, 2) in out and out[(0, 2)] == 1.0
    assert (1, 2) in out and out[(1, 2)] == round(4 / 6, 6)


def test_exact_jaccard_join_ngram_mode(spark):
    """ngram=3 switches the set unit to character 3-grams; a doc pair
    sharing most of its character stream qualifies even when word sets
    differ."""
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.operators.text_dedup import (
        exact_jaccard_join,
    )

    texts = ["abcdefghij", "abcdefghiX", "zzzzzzzzzz"]
    out = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in exact_jaccard_join(
            _docs(spark, texts), threshold=0.5, ngram=3
        ).collect()
    }
    # docs 0/1 share 7 of their 8+8 3-grams -> J = 7/9 ~ 0.778
    assert (0, 1) in out
    assert abs(out[(0, 1)] - round(7 / 9, 6)) < 1e-9
    assert all(k == (0, 1) for k in out)


def test_exact_jaccard_boundary_threshold_no_false_negative(spark):
    """IEEE rounding (0.55*100 = 55.000...007) must not tighten the
    PPJoin bounds past the true integer requirement: a pair sitting
    EXACTLY at the threshold must survive."""
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.operators.text_dedup import (
        exact_jaccard_join,
    )

    # |a|=100 tokens, b = 55-token subset: J = 55/100 = 0.55 exactly
    a_tokens = [f"w{i}" for i in range(100)]
    b_tokens = a_tokens[:55]
    df = spark.createDataFrame(
        [(1, " ".join(a_tokens)), (2, " ".join(b_tokens))],
        "doc_id long, text string",
    )
    out = exact_jaccard_join(df, threshold=0.55).collect()
    assert len(out) == 1
    assert out[0]["jaccard"] == 0.55


def test_lsh_banding_covers_every_slot_when_not_divisible(spark):
    """bands that do not divide the signature size must still place
    every slot in exactly one band: two signatures differing ONLY in
    the last slot (which truncated fixed-width banding would orphan)
    must land in different buckets for the final band."""
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.operators.text_dedup import (
        lsh_banded,
    )

    sig_a = list(range(64))
    sig_b = list(range(63)) + [999]  # differs only in slot 64
    df = spark.createDataFrame(
        [(1, sig_a), (2, sig_b)], "doc_id long, signature array<long>"
    )
    banded = lsh_banded(df, bands=10).collect()
    by_doc_band = {(r["doc_id"], r["band"]): r["bucket"] for r in banded}
    assert len(by_doc_band) == 20  # 10 bands per doc
    # earlier bands identical, last band must differ
    for b in range(9):
        assert by_doc_band[(1, b)] == by_doc_band[(2, b)]
    assert by_doc_band[(1, 9)] != by_doc_band[(2, 9)]


def test_duplicated_spans_hand_computed(spark):
    """Maximal repeated spans on a corpus where every span boundary is
    known by construction: shared runs merge into maximal spans, gaps
    wider than width-1 keep spans separate, clean docs report zeros."""
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.operators.text_dedup import (  # noqa: E501
        duplicated_spans,
    )

    run = "a b c d e f g h i j"            # 10 shared tokens
    docs = spark.createDataFrame(
        [
            (1, run + " u1 u2 u3"),         # span 0..9 of 13 tokens
            (2, "x1 x2 " + run),            # span 2..11 of 12 tokens
            (3, "z1 z2 z3 z4 z5 z6 z7 z8 z9"),   # unique -> zeros
            # two shared 8-runs separated by 10 unique tokens (> width-1)
            (4, "a b c d e f g h "
                + "p1 p2 p3 p4 p5 p6 p7 p8 p9 p10 "
                + "c d e f g h i j"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r.asDict()
        for r in duplicated_spans(docs, width=8).collect()
    }
    assert out[1] == {
        "doc_id": 1, "n_tokens": 13, "n_dup_spans": 1,
        "covered_tokens": 10, "longest_span": 10,
        "covered_frac": round(10 / 13, 4),
    }
    assert out[2]["covered_tokens"] == 10
    assert out[2]["n_dup_spans"] == 1
    assert out[3] == {
        "doc_id": 3, "n_tokens": 9, "n_dup_spans": 0,
        "covered_tokens": 0, "longest_span": 0, "covered_frac": 0.0,
    }
    assert out[4]["n_dup_spans"] == 2
    assert out[4]["covered_tokens"] == 16
    assert out[4]["longest_span"] == 8


def test_duplicated_spans_edge_cases(spark):
    """Empty text, sub-width docs, and fully-identical docs: the
    profile never drops rows, never divides by zero, and a verbatim
    pair is covered end-to-end."""
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.operators.text_dedup import (  # noqa: E501
        duplicated_spans,
    )

    same = "s1 s2 s3 s4 s5 s6 s7 s8 s9 s10"   # 10 tokens, 2 copies
    docs = spark.createDataFrame(
        [
            (1, ""),                    # no tokens at all
            (2, "one two three"),       # shorter than width -> no grams
            (3, same),
            (4, same),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r.asDict()
        for r in duplicated_spans(docs, width=8).collect()
    }
    assert len(out) == 4
    assert out[1]["n_tokens"] == 0 and out[1]["covered_frac"] == 0.0
    assert out[2] == {
        "doc_id": 2, "n_tokens": 3, "n_dup_spans": 0,
        "covered_tokens": 0, "longest_span": 0, "covered_frac": 0.0,
    }
    for d in (3, 4):
        assert out[d] == {
            "doc_id": d, "n_tokens": 10, "n_dup_spans": 1,
            "covered_tokens": 10, "longest_span": 10,
            "covered_frac": 1.0,
        }


def test_containment_join_asymmetric(spark):
    """Containment flags a short doc swallowed by a long one — in ONE
    direction only — where Jaccard stays far below any dedup
    threshold; unrelated docs produce nothing."""
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.operators.text_dedup import (  # noqa: E501
        containment_join,
    )

    short = "alpha beta gamma delta"
    long = short + " " + " ".join(f"filler{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(1, short), (2, long), (3, "totally different words here")],
        "doc_id long, text string",
    )
    rows = containment_join(docs, threshold=0.9).collect()
    assert [(r["contained_id"], r["container_id"], r["containment"])
            for r in rows] == [(1, 2, 1.0)]


def test_minhash_against_reports_only_batch_involving_pairs(spark):
    """Incremental LSH: cross corpus-batch dups and batch-internal dups
    are reported (id_a always the batch doc; id_a < id_b for
    batch-batch), while corpus-internal dups — already handled by past
    runs — are never generated, and unique batch docs stay silent."""
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.operators.text_dedup import (  # noqa: E501
        minhash_near_duplicates_against,
    )

    x = "the quick brown fox jumps over the lazy dog again and again"
    y = "pack my box with five dozen liquor jugs every single day"
    z = "sphinx of black quartz judge my vow under the midnight sky"
    u = "completely unrelated content about distributed query engines"
    corpus = spark.createDataFrame(
        [(101, x), (102, y), (103, y)], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [(1, x), (2, z), (3, z), (4, u)], "doc_id long, text string"
    )
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_near_duplicates_against(
            corpus, batch, threshold=0.7
        ).collect()
    }
    assert got == {(1, 101): 1.0, (2, 3): 1.0}


def test_minhash_against_store_path_row_identical(spark, tmp_path):
    """The persisted-signature fast path returns EXACTLY the plain
    path's rows — via a real on-disk store round-trip (write → read →
    dedup), including the append step that folds a deduped batch into
    the corpus state for the next batch."""
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.operators.text_dedup import (  # noqa: E501
        minhash_near_duplicates_against,
        read_lsh_signature_store,
        write_lsh_signature_store,
    )

    x = "the quick brown fox jumps over the lazy dog again and again"
    y = "pack my box with five dozen liquor jugs every single day"
    z = "sphinx of black quartz judge my vow under the midnight sky"
    u = "completely unrelated content about distributed query engines"
    corpus = spark.createDataFrame(
        [(101, x), (102, y), (103, y)], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [(1, x), (2, z), (3, z), (4, u)], "doc_id long, text string"
    )
    plain = sorted(
        map(tuple, minhash_near_duplicates_against(
            corpus, batch, threshold=0.7
        ).collect())
    )
    store_path = str(tmp_path / "lsh_store")
    write_lsh_signature_store(corpus, store_path)
    store = read_lsh_signature_store(spark, store_path)
    assert store["meta"] == {
        "id_col": "doc_id", "n": 5, "num_hashes": 64, "bands": 16,
    }
    fast = sorted(
        map(tuple, minhash_near_duplicates_against(
            corpus, batch, threshold=0.7,
            corpus_signatures=store["signatures"],
            corpus_buckets=store["buckets"],
        ).collect())
    )
    assert fast == plain and len(plain) == 2
    # signatures-only (no bucket table) must agree too
    sigs_only = sorted(
        map(tuple, minhash_near_duplicates_against(
            corpus, batch, threshold=0.7,
            corpus_signatures=store["signatures"],
        ).collect())
    )
    assert sigs_only == plain

    # daily-ingest append: fold the batch in; a next batch matching z
    # must now find doc 2/3 as corpus
    write_lsh_signature_store(batch, store_path, mode="append")
    store2 = read_lsh_signature_store(spark, store_path)
    nxt = spark.createDataFrame(
        [(201, z)], "doc_id long, text string"
    )
    got2 = {
        (r["id_a"], r["id_b"])
        for r in minhash_near_duplicates_against(
            corpus.unionByName(batch), nxt, threshold=0.7,
            corpus_signatures=store2["signatures"],
            corpus_buckets=store2["buckets"],
        ).collect()
    }
    assert got2 == {(201, 2), (201, 3)}

    # parameter-mismatch append is a loud error, not silent recall loss
    import pytest as _pytest

    with _pytest.raises(ValueError, match="parameter mismatch"):
        write_lsh_signature_store(
            batch, store_path, mode="append", num_hashes=32, bands=8
        )


@pytest.mark.parametrize("seed", [3, 17])
def test_store_candidates_equal_plain_path(spark, tmp_path, seed):
    """The store path's one (band, bucket) grouping returns the plain
    path's rows on seeded corpora with planted near-dups of corpus
    docs, batch-batch pairs, a cluster over ``max_bucket`` (pruned by
    both paths) and a cluster exactly AT it whose corpus members carry
    the duplicate bucket rows a crash-healed append leaves behind.
    The prune must count distinct corpus ids: counting bucket rows
    would push the at-bound cluster over and drop its pairs."""
    import os
    import random

    from enterprise_sales_data_pipeline_using_aws_lambda_spark.operators.text_dedup import (  # noqa: E501
        lsh_banded,
        minhash_near_duplicates_against,
        minhash_signatures,
        read_lsh_signature_store,
        write_lsh_signature_store,
    )

    rng = random.Random(seed)
    vocab = [
        "".join(rng.choice("abcdefghijklmnopqrstuvwxyz")
                for _ in range(rng.randint(4, 9)))
        for _ in range(400)
    ]

    def doc():
        return " ".join(rng.choice(vocab) for _ in range(12))

    def near(text):
        words = text.split()
        words[rng.randrange(len(words))] = "zqzqzq"
        return " ".join(words)

    at_bound, oversize, pair_src = doc(), doc(), doc()
    corpus = [(i, doc()) for i in range(1, 41)] + [
        (41, at_bound), (42, at_bound),
        (43, oversize), (44, oversize), (45, oversize),
    ]
    batch = (
        [(1001 + j, near(corpus[j][1])) for j in range(8)]
        + [(1010, pair_src), (1011, near(pair_src))]
        + [(1012, at_bound), (1013, at_bound)]
        + [(1014, oversize), (1015, oversize), (1016, oversize)]
        + [(1020 + j, doc()) for j in range(6)]
    )
    schema = "doc_id long, text string"
    corpus_df = spark.createDataFrame(corpus, schema)
    batch_df = spark.createDataFrame(batch, schema)
    sketch = dict(num_hashes=16, bands=4)

    # the store as a crash-healed append leaves it: docs 1-4 and 41
    # landed in buckets, the append crashed before signatures, and the
    # re-driven append wrote both tables again
    healed = {1, 2, 3, 4, 41}
    store = str(tmp_path / "store")
    write_lsh_signature_store(
        corpus_df.filter(~F.col("doc_id").isin(healed)), store, **sketch
    )
    healed_df = corpus_df.filter(F.col("doc_id").isin(healed))
    lsh_banded(
        minhash_signatures(shingle_sets(healed_df), num_hashes=16), bands=4
    ).write.mode("append").parquet(os.path.join(store, "buckets"))
    write_lsh_signature_store(healed_df, store, mode="append", **sketch)
    st = read_lsh_signature_store(spark, store)
    assert st["buckets"].count() > st["buckets"].distinct().count()

    def rows(**kw):
        return {
            tuple(r) for r in minhash_near_duplicates_against(
                corpus_df, batch_df, threshold=0.5, max_bucket=4,
                **sketch, **kw,
            ).collect()
        }

    plain = rows()
    assert rows(corpus_signatures=st["signatures"],
                corpus_buckets=st["buckets"]) == plain
    assert rows(corpus_signatures=st["signatures"]) == plain

    ids = {(a, b) for a, b, _ in plain}
    # at the bound: kept, in both orientations the contract names
    assert {(1012, 41), (1012, 42), (1013, 41), (1013, 42),
            (1012, 1013)} <= ids
    # over the bound: pruned
    big = {43, 44, 45, 1014, 1015, 1016}
    assert not {p for p in ids if set(p) <= big}
    # planted near-dups of corpus docs surface as cross pairs
    assert {(1001 + j, j + 1) for j in range(8)} & ids
    assert all(a > 1000 for a, _ in ids)


def test_minhash_against_store_guards_fact_sized_batch(
    spark, tmp_path, monkeypatch
):
    """The store path force-broadcasts the batch's banded rows (the
    no-shuffle bucket-scan invariant), so — like lsh_topk's
    MAX_QUERY_VECTORS — the 'batch is small' contract is enforced with
    a loud error instead of a driver OOM.  The bound is monkeypatched
    down so the test stays tiny."""
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.operators import (
        text_dedup,
    )

    corpus = spark.createDataFrame(
        [(101, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(i, f"completely unique document number {i} padding text")
         for i in range(4)],
        "doc_id long, text string",
    )
    store_path = str(tmp_path / "store")
    text_dedup.write_lsh_signature_store(corpus, store_path)
    store = text_dedup.read_lsh_signature_store(spark, store_path)
    monkeypatch.setattr(text_dedup, "MAX_STORE_BATCH_BANDED", 8)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="banded rows"):
        text_dedup.minhash_near_duplicates_against(
            corpus, batch, threshold=0.7,
            corpus_signatures=store["signatures"],
            corpus_buckets=store["buckets"],
        ).collect()


def test_ingest_dedup_batch_daily_loop_convergence(spark, tmp_path):
    """The composed daily-ingest step (ingest_dedup_batch →
    append_log_idempotent → append_batch_signatures) over three
    consecutive batches, including the two re-drive scenarios the
    docstring promises convergence for: a full replay of an already
    completed batch, and a crash between the doc write and the
    signature append."""
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.operators.text_dedup import (  # noqa: E501
        append_batch_signatures,
        ingest_dedup_batch,
        read_lsh_signature_store,
        write_lsh_signature_store,
    )
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.sources.writers import (
        append_log_idempotent,
    )

    x = "the quick brown fox jumps over the lazy dog again and again"
    y = "pack my box with five dozen liquor jugs every single day"
    z = "sphinx of black quartz judge my vow under the midnight sky"
    u = "completely unrelated content about distributed query engines"
    w = "a fresh document on columnar storage formats and encodings"
    v = "another novel text describing adaptive query execution plans"
    lake = str(tmp_path / "lake")
    store = str(tmp_path / "lsh_store")
    corpus0 = spark.createDataFrame(
        [(101, x), (102, y), (103, y)], "doc_id long, text string"
    )
    assert append_log_idempotent(spark, corpus0, lake, "b0")
    # small sketch: every batch here is exact dups (jaccard 1.0, which
    # collides in every band regardless of parameters) — 16×4 keeps the
    # eight ingest calls below cheap
    write_lsh_signature_store(corpus0, store, num_hashes=16, bands=4)

    def lake_docs():
        return spark.read.parquet(lake).select("doc_id", "text")

    def store_ids():
        return {
            r["doc_id"]
            for r in read_lsh_signature_store(spark, store)["signatures"]
            .select("doc_id").distinct().collect()
        }

    # batch 1: 1 duplicates corpus x; 2/3 duplicate each other (keep
    # the smaller id); 4 is novel
    batch1 = spark.createDataFrame(
        [(1, x), (2, z), (3, z), (4, u)], "doc_id long, text string"
    )
    clean1, pairs1 = ingest_dedup_batch(lake_docs(), batch1, store)
    assert {r["doc_id"] for r in clean1.select("doc_id").collect()} == {2, 4}
    assert {
        (r["id_a"], r["id_b"], r["jaccard"]) for r in pairs1.collect()
    } == {(1, 101, 1.0), (2, 3, 1.0)}
    assert append_log_idempotent(spark, clean1, lake, "b1")
    assert append_batch_signatures(clean1, store) == 2

    # batch 2: 201/202 duplicate docs ADMITTED in batch 1 (cross pairs
    # orient batch-side first even when the batch id is larger); 203
    # is novel
    batch2 = spark.createDataFrame(
        [(201, z), (202, u), (203, w)], "doc_id long, text string"
    )
    clean2, pairs2 = ingest_dedup_batch(lake_docs(), batch2, store)
    assert {r["doc_id"] for r in clean2.select("doc_id").collect()} == {203}
    assert {
        (r["id_a"], r["id_b"]) for r in pairs2.collect()
    } == {(201, 2), (202, 4)}
    assert append_log_idempotent(spark, clean2, lake, "b2")
    assert append_batch_signatures(clean2, store) == 1
    ids_after_b2 = store_ids()
    assert ids_after_b2 == {101, 102, 103, 2, 4, 203}

    # full replay of batch 2 (crash AFTER everything — redelivery):
    # 203 pre-filters out as already ingested, 201/202 re-drop against
    # the stored survivors, and nothing is appended anywhere
    clean2r, _ = ingest_dedup_batch(lake_docs(), batch2, store)
    assert clean2r.count() == 0
    assert not append_log_idempotent(spark, clean2r, lake, "b2")
    assert append_batch_signatures(clean2r, store) == 0
    assert store_ids() == ids_after_b2

    # batch 3 with a crash BETWEEN the doc write and the signature
    # append: the re-run must re-derive the same clean set even though
    # the lake already holds doc 302 (the store, which drives candidate
    # generation, is unchanged)
    batch3 = spark.createDataFrame(
        [(301, x), (302, v)], "doc_id long, text string"
    )
    clean3, _ = ingest_dedup_batch(lake_docs(), batch3, store)
    assert {r["doc_id"] for r in clean3.select("doc_id").collect()} == {302}
    assert append_log_idempotent(spark, clean3, lake, "b3")
    # -- crash here: append_batch_signatures never ran -- re-drive:
    clean3r, pairs3r = ingest_dedup_batch(lake_docs(), batch3, store)
    assert {r["doc_id"] for r in clean3r.select("doc_id").collect()} == {302}
    assert {(r["id_a"], r["id_b"]) for r in pairs3r.collect()} == {(301, 101)}
    assert not append_log_idempotent(spark, clean3r, lake, "b3")
    assert append_batch_signatures(clean3r, store) == 1
    assert store_ids() == ids_after_b2 | {302}

    # STALE-frame re-append (retrying just the append step with the
    # pre-append DataFrame object): clean3's plan scans the store's
    # parquet as of BEFORE the append — without the checkpoint inside
    # append_batch_signatures, Spark canonicalizes the fresh store scan
    # against the stale one and the anti-join removes nothing,
    # duplicating every signature (measured; see the docstring)
    assert append_batch_signatures(clean3, store) == 0
    assert store_ids() == ids_after_b2 | {302}

    # the lake holds exactly the admitted docs, each exactly once
    admitted = lake_docs().groupBy("doc_id").count().collect()
    assert {r["doc_id"] for r in admitted} == ids_after_b2 | {302}
    assert all(r["count"] == 1 for r in admitted)

    # a store keyed on a different id column is a loud error
    import pytest as _pytest

    with _pytest.raises(ValueError, match="keyed on"):
        ingest_dedup_batch(
            lake_docs().withColumnRenamed("doc_id", "id"),
            batch3.withColumnRenamed("doc_id", "id"),
            store,
            id_col="id",
        )

    # a batch of ONLY already-admitted ids pre-filters to empty — the
    # store-backed dedup must run clean over a zero-row batch (the
    # fully-replayed-delivery edge)
    all_admitted = spark.createDataFrame(
        [(2, z), (4, u)], "doc_id long, text string"
    )
    clean_e, pairs_e = ingest_dedup_batch(lake_docs(), all_admitted, store)
    assert clean_e.count() == 0 and pairs_e.count() == 0

    # within-batch id hygiene: an exact redelivered row (same id AND
    # text — one file landing twice in a drain) collapses silently...
    v2 = "one more entirely new passage about broadcast thresholds"
    redelivered = spark.createDataFrame(
        [(401, v2), (401, v2)], "doc_id long, text string"
    )
    clean4, _ = ingest_dedup_batch(lake_docs(), redelivered, store)
    assert [r["doc_id"] for r in clean4.collect()] == [401]
    # ...while the same id carrying DIFFERENT text is a loud error
    conflicted = spark.createDataFrame(
        [(402, v2), (402, w)], "doc_id long, text string"
    )
    with _pytest.raises(ValueError, match="DIFFERENT text"):
        ingest_dedup_batch(lake_docs(), conflicted, store)


def test_benchmark_overlap_independent_bench_table(spark):
    """An eval suite with its OWN id column (named bench_id_col) and an
    id space unrelated to the corpus must work as-is, and with
    exclude_self_matches=False a coincidental id equality must NOT
    silently drop the contamination evidence (review r8)."""
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.operators.text_analysis import (  # noqa: E501
        benchmark_overlap,
    )

    shared = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(
        [(7, shared + " tail words here"),
         (8, "completely unrelated text with no overlap at all")],
        "doc_id long, text string",
    )
    # bench doc id 7 COINCIDES with corpus doc_id 7 but is unrelated
    bench = spark.createDataFrame(
        [(7, shared)], "bench_id long, text string"
    )
    out = benchmark_overlap(
        docs, bench, n=8, exclude_self_matches=False
    ).collect()
    assert len(out) == 1
    assert out[0]["doc_id"] == 7 and out[0]["n_shared_ngrams"] >= 1


def test_language_id_single_language_markers(spark):
    """A one-language marker table must score, not crash on
    F.greatest's two-column minimum (review r8)."""
    from enterprise_sales_data_pipeline_using_aws_lambda_spark.operators.text_analysis import (  # noqa: E501
        language_id,
    )

    docs = spark.createDataFrame(
        [(1, "the cat and the hat"), (2, "xyzzy plugh")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r["pred_lang"]
        for r in language_id(docs, markers={"en": ["the", "and"]}).collect()
    }
    assert out == {1: "en", 2: "und"}


def test_edit_distance_candidates_threshold_matches_full_dp(spark):
    """Round-13: edit_distance_candidates switched to the banded
    levenshtein(l, r, max_dist) (-1 past the threshold).  Output must
    equal the unthresholded formulation exactly — same surviving
    pairs, same exact distances — including pairs right AT max_dist
    and pairs past it."""
    from pyspark.sql import functions as F

    from enterprise_sales_data_pipeline_using_aws_lambda_spark.operators.text_dedup import (
        edit_distance_candidates,
    )

    rows = [
        (1, "en", "kitten sat on the mat"),
        (2, "en", "sitting sat on the mat"),   # dist 3 to #1 (kitten/sitting)
        (3, "en", "kitten sat on the hat"),    # dist 1 to #1
        (4, "en", "zzzzzzzzzzzzzzzzzzzzzz"),   # far from all
        (5, "de", "kitten sat on the mat"),    # other block
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    got = sorted(
        map(
            tuple,
            edit_distance_candidates(
                df, ["lang"], prefix_len=30, max_dist=3
            ).select("id_a", "id_b", "dist").collect(),
        )
    )
    base = df.select(
        "lang", "doc_id", F.substring("text", 1, 30).alias("p")
    )
    a = base.select("lang", F.col("doc_id").alias("id_a"), F.col("p").alias("pa"))
    b = base.select("lang", F.col("doc_id").alias("id_b"), F.col("p").alias("pb"))
    want = sorted(
        map(
            tuple,
            a.join(b, "lang")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", F.levenshtein("pa", "pb").alias("dist"))
            .filter(F.col("dist") <= 3)
            .collect(),
        )
    )
    assert got == want
    assert (1, 3, 1) in got and (1, 2, 3) in got  # at-threshold kept
    assert (2, 3) not in {(p[0], p[1]) for p in got}  # past-threshold cut
    assert all(p[2] >= 0 for p in got)  # no -1 sentinel leaks
