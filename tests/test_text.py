"""Text analysis: token counting, quality features, language ID,
fingerprints."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from db_cdc_poc_spark.operators import text as tx


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [
            (1, "the cat sat on the mat and it is a good mat for cats"),
            (2, "der hund ist ein guter hund und das ist gut"),
            (3, "le chat est un bon chat et la vie est pour les chats"),
            (4, "xyzzy qwerty plugh"),
            (5, ""),
        ],
        "doc_id long, text string",
    )


def test_token_counts(spark, docs):
    out = {r.doc_id: r for r in docs.select(
        "doc_id",
        tx.whitespace_token_count("text").alias("n"),
        tx.regex_token_count("text").alias("p"),
    ).collect()}
    assert out[1].n == 14
    assert out[5].n == 0
    assert out[4].p == 3


def test_regex_token_count_counts_symbols(spark):
    df = spark.createDataFrame([("hello, world! x2",)], "text string")
    [r] = df.select(tx.regex_token_count("text").alias("p")).collect()
    # hello , world ! x 2 -> 6 pretokens
    assert r.p == 6


def test_quality_features_shapes_and_bounds(spark, docs):
    rows = tx.quality_features(docs, id_col="doc_id").collect()
    assert {r.id for r in rows} == {1, 2, 3, 4, 5}
    for r in rows:
        assert 0.0 <= r.quality_score <= 1.0
        assert 0.0 <= r.stopword_ratio <= 1.0
        assert 0.0 <= r.punct_ratio <= 1.0
    by_id = {r.id: r for r in rows}
    # English stopword-rich doc scores above gibberish
    assert by_id[1].stopword_ratio > by_id[4].stopword_ratio
    # empty doc: length and stopword terms are 0, punct term is 1
    assert by_id[5].n_tokens == 0
    assert by_id[5].quality_score == pytest.approx(1 / 3, abs=1e-6)


def test_lang_id(spark, docs):
    out = {r.doc_id: r.lang for r in docs.select(
        "doc_id", tx.lang_id("text").alias("lang")).collect()}
    assert out[1] == "en"
    assert out[2] == "de"
    assert out[3] == "fr"
    assert out[4] == "und"
    assert out[5] == "und"


def test_doc_fingerprint_normalizes_whitespace_and_case(spark):
    df = spark.createDataFrame(
        [(1, "Hello   World"), (2, "hello world"), (3, "  hello WORLD \t")],
        "doc_id long, text string",
    )
    fps = [r.fp for r in df.select(tx.doc_fingerprint("text").alias("fp")).collect()]
    assert fps[0] == fps[1] == fps[2]
    assert fps[0] == hashlib.md5(b"hello world").hexdigest()


def test_tfidf_terms_known_values(spark):
    df = spark.createDataFrame(
        [(1, "a a b"), (2, "a c")], "doc_id long, text string"
    )
    out = {
        (r.id, r.term): (r.score, r.rank)
        for r in tx.tfidf_terms(df, top_k=3).collect()
    }
    # N=2; df(a)=2, df(b)=df(c)=1
    # doc1: a tf=2 -> 2*2/2=2.0; b -> 1*2/1=2.0; tie broken by term
    assert out[(1, "a")] == (2.0, 1)
    assert out[(1, "b")] == (2.0, 2)
    # doc2: c -> 2.0 beats a -> 1.0
    assert out[(2, "c")] == (2.0, 1)
    assert out[(2, "a")] == (1.0, 2)


def test_chunk_documents_windows_and_order(spark):
    text = " ".join(f"w{i}" for i in range(10))  # 10 tokens, window 4
    df = spark.createDataFrame([(1, text), (2, "a b"), (3, "")],
                               "doc_id long, text string")
    out = {
        (r.id, r.chunk_id): (r.n_tokens, r.chunk_text)
        for r in tx.chunk_documents(df, window=4).collect()
    }
    assert out[(1, 0)] == (4, "w0 w1 w2 w3")
    assert out[(1, 1)] == (4, "w4 w5 w6 w7")
    assert out[(1, 2)] == (2, "w8 w9")   # short tail kept
    assert out[(2, 0)] == (2, "a b")
    assert not any(k[0] == 3 for k in out)  # empty doc -> no chunks


def test_tfidf_skew_safe_form_matches_window_form(spark):
    df = spark.createDataFrame(
        [(1, "a a b"), (2, "a c"), (3, "b c d a")], "doc_id long, text string"
    )
    a = sorted(map(tuple, tx.tfidf_terms(df, top_k=2).collect()))
    b = sorted(map(tuple, tx.tfidf_terms(df, top_k=2, skew_safe=True).collect()))
    assert a == b


def test_repetition_features_known_values(spark):
    df = spark.createDataFrame(
        [(1, "a a a b"), (2, "x y z w")], "doc_id long, text string"
    )
    out = {r.id: r for r in tx.repetition_features(df).collect()}
    r1 = out[1]
    # tokens: a a a b -> 4 total, 2 distinct, mode 'a' x3
    assert r1.n_tokens == 4
    assert abs(r1.dup_word_frac - 0.5) < 1e-9
    assert abs(r1.top_word_frac - 0.75) < 1e-9
    # 2-grams: "a a","a a","a b" -> 3 total, 2 distinct
    assert abs(r1.dup_2gram_frac - round(1 / 3, 6)) < 1e-9
    r2 = out[2]
    assert r2.dup_word_frac == 0.0
    assert abs(r2.top_word_frac - 0.25) < 1e-9
    assert r2.dup_2gram_frac == 0.0


def test_repetition_features_no_per_row_hof(spark):
    """The modal-token count must come from aggregates, not an O(L^2)
    per-row lambda: the plan has hash aggregates and no filter-inside-
    transform over the token array."""
    df = spark.createDataFrame([(1, "a b a")], "doc_id long, text string")
    plan = (
        tx.repetition_features(df)._jdf.queryExecution().executedPlan().toString()
    )
    assert "HashAggregate" in plan


def test_pack_sequences_invariants(spark):
    df = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ", F.array_repeat(F.lit("tok"), (F.col("id") % 37 + 3).cast("int"))
        ).alias("text"),
    )
    rows = tx.pack_sequences(df, budget=64, num_groups=4).collect()
    assert len(rows) == 100
    by_grp: dict[int, list] = {}
    for r in rows:
        by_grp.setdefault(r.grp, []).append(r)
    assert set(by_grp) <= set(range(4))
    for grp_rows in by_grp.values():
        grp_rows.sort(key=lambda r: r.id)
        start = 0
        for r in grp_rows:
            # exclusive running total places each doc in the stream
            assert r.seq_id == start // 64
            assert r.start_tok == start % 64
            start += r.n_tokens


def test_pack_sequences_deterministic(spark):
    df = spark.range(50).select(
        F.col("id").alias("doc_id"), F.lit("one two three").alias("text")
    )
    a = sorted(map(tuple, tx.pack_sequences(df, budget=8, num_groups=2).collect()))
    b = sorted(map(tuple, tx.pack_sequences(df, budget=8, num_groups=2).collect()))
    assert a == b


def test_redact_pii_planted_spans(spark):
    df = spark.createDataFrame(
        [
            (1, "mail bob.smith+x@corp.example.org now"),
            (2, "server at 10.0.255.7 and cell +44 207 946 0958"),
            (3, "nothing sensitive here"),
        ],
        "doc_id long, text string",
    )
    out = {r.id: r for r in tx.redact_pii(df).collect()}
    assert out[1].clean_text == "mail [PII] now"
    assert out[1].n_pii == 1
    assert out[2].clean_text == "server at [PII] and cell [PII]"
    assert out[2].n_pii == 2
    assert out[3].clean_text == "nothing sensitive here"
    assert out[3].n_pii == 0


def test_redact_pii_is_map_only(spark):
    df = spark.createDataFrame([(1, "a@b.co")], "doc_id long, text string")
    plan = tx.redact_pii(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_stopword_ratio_regex_equals_array_form(spark):
    """The regex-count implementation == the array filter+contains
    form it replaced (token equality over maximal non-whitespace
    runs), on edge-shaped rows: adjacent stopwords, leading/trailing
    whitespace, punctuation-glued tokens, empty text."""
    from db_cdc_poc_spark.operators.text import (
        STOPWORDS,
        mean_word_length,
        stopword_ratio,
        whitespace_tokens,
    )

    rows = [
        ("the the the",),
        ("  the  a  of  ",),
        ("the. a, of!",),  # glued punctuation: NOT token matches
        ("",),
        ("athe thea the",),
        ("The A oF",),  # case folds
        ("x\tthe\ny",),  # tabs/newlines are token boundaries
    ]
    df = spark.createDataFrame(rows, "text string")

    def sw_array(text, lang):
        toks = F.transform(whitespace_tokens(text), lambda t: F.lower(t))
        sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
        n = F.size(toks)
        hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
        return F.when(n > 0, hits.cast("double") / n).otherwise(F.lit(0.0))

    def mwl_array(text):
        toks = whitespace_tokens(text)
        n = F.size(toks)
        total = F.aggregate(
            F.transform(toks, lambda t: F.length(t)), F.lit(0), lambda a, x: a + x
        )
        return F.when(n > 0, total.cast("double") / n).otherwise(F.lit(0.0))

    got = df.select(
        *[stopword_ratio("text", lg).alias(f"n_{lg}") for lg in STOPWORDS],
        mean_word_length("text").alias("n_mwl"),
        *[sw_array("text", lg).alias(f"o_{lg}") for lg in STOPWORDS],
        mwl_array("text").alias("o_mwl"),
    ).collect()
    for r in got:
        for lg in STOPWORDS:
            assert r[f"n_{lg}"] == r[f"o_{lg}"], (r, lg)
        assert r["n_mwl"] == r["o_mwl"], r


# --------------------------------------------------------------------------
# bigram_coverage (n-gram LM coverage scoring)
# --------------------------------------------------------------------------


def test_bigram_coverage_known_values(spark):
    from db_cdc_poc_spark.operators.text import bigram_coverage

    df = spark.createDataFrame(
        [
            (1, "a b c"),          # bigrams: "a b", "b c"
            (2, "a b d"),          # bigrams: "a b", "b d"
            (3, "x"),              # < 2 tokens: no bigrams
        ],
        "doc_id long, text string",
    )
    out = {r.id: r for r in bigram_coverage(df, min_count=2).collect()}
    # "a b" occurs twice corpus-wide; "b c"/"b d" once each
    assert out[1].n_bigrams == 2 and out[1].n_common == 1
    assert out[1].common_ppm == 500_000
    assert out[2].n_bigrams == 2 and out[2].n_common == 1
    assert 3 not in out


def test_bigram_coverage_within_doc_repetition_counts(spark):
    from db_cdc_poc_spark.operators.text import bigram_coverage

    # the SAME doc repeating a bigram pushes it over min_count —
    # coverage is an occurrence count, not a doc-frequency count
    df = spark.createDataFrame([(1, "go go go")], "doc_id long, text string")
    row = bigram_coverage(df, min_count=2).collect()[0]
    assert row.n_bigrams == 2 and row.n_common == 2 and row.common_ppm == 1_000_000


# ---------------------------------------------------------------------------
# char_entropy_stats
# ---------------------------------------------------------------------------


def test_char_entropy_matches_python_reference(spark):
    import math
    from collections import Counter

    from db_cdc_poc_spark.operators.text import char_entropy_stats

    texts = {1: "aaaa", 2: "abab", 3: "the quick brown fox", 4: "x"}
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    got = {r.id: r for r in char_entropy_stats(df).collect()}
    for i, t in texts.items():
        cnt = Counter(t)
        n = len(t)
        h = round(-sum(c / n * math.log(c / n) for c in cnt.values()), 5)
        assert got[i].n_chars == n, i
        assert got[i].n_unique_chars == len(cnt), i
        assert got[i].top_char_count == max(cnt.values()), i
        assert abs(got[i].char_entropy - h) < 1e-9, (i, got[i].char_entropy, h)
    # degenerate single-char doc: zero entropy exactly
    assert got[4].char_entropy == 0.0
    assert got[1].char_entropy == 0.0


def test_bigram_lm_scores_match_python_reference(spark):
    import math
    from collections import Counter

    from db_cdc_poc_spark.operators.text import bigram_lm_scores

    texts = {
        1: "the cat sat on the mat",
        2: "the cat sat",
        3: "a dog ran",
        4: "single",  # < 2 tokens: no row
    }
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    got = {r.id: r for r in bigram_lm_scores(df).collect()}
    assert 4 not in got
    # python reference
    bigs = {i: list(zip(t.split(), t.split()[1:])) for i, t in texts.items()}
    corpus = Counter(b for bb in bigs.values() for b in bb)
    marg = Counter()
    for (w1, _), c in corpus.items():
        marg[w1] += c
    for i in (1, 2, 3):
        lp = [math.log(corpus[b]) - math.log(marg[b[0]]) for b in bigs[i]]
        want = round(sum(lp) / len(lp), 5)
        assert got[i].n_bigrams == len(bigs[i])
        assert abs(got[i].avg_logprob - want) < 1e-9, (i, got[i].avg_logprob, want)
    # doc 3's bigrams are the only continuations of their first tokens:
    # p(w2|w1) = 1, score 0 (the self-trained-conditional-LM ceiling);
    # doc 2's "the ..." bigrams compete with doc 1's, so it scores below
    assert got[3].avg_logprob == 0.0
    assert got[2].avg_logprob < 0.0


def test_char_entropy_empty_doc_emits_no_row(spark):
    from db_cdc_poc_spark.operators.text import char_entropy_stats

    df = spark.createDataFrame(
        [(1, ""), (2, "ab")], "doc_id long, text string"
    )
    got = {r.id: r for r in char_entropy_stats(df).collect()}
    # sequence(1, 0) counts DOWN in Spark; the length guard must keep
    # the empty doc from fabricating phantom characters
    assert 1 not in got
    assert got[2].n_chars == 2


def test_pack_examples_matches_python_reference(spark):
    """Concat-and-chunk packing == the obvious sequential reference:
    concatenate token lists in id order with an EOS after each doc,
    cut every seq_len tokens; n_docs counts contributing documents."""
    docs = [
        (0, "a b c d e"),
        (1, ""),                      # empty doc still contributes EOS
        (2, "f g   h"),               # multi-space split
        (5, "i j k l m n o p q r"),   # id gap: order by id, not row
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r.example_id: r for r in
           tx.pack_examples(df, seq_len=4, bucket_size=2).collect()}
    stream = []
    for did, text in sorted(docs):
        toks = [t for t in text.split() if t]
        stream += [(did, t) for t in toks] + [(did, "<|eos|>")]
    want = {}
    for eid in range(0, (len(stream) + 3) // 4):
        part = stream[eid * 4:(eid + 1) * 4]
        want[eid] = (len(part), len({d for d, _ in part}),
                     " ".join(t for _, t in part))
    assert {k: (v.n_tokens, v.n_docs, v.text) for k, v in out.items()} == want


def test_pack_examples_bucketing_invariant(spark):
    """The two-level prefix sum must be invariant to bucket_size (it
    only changes the plan, never the offsets)."""
    df = spark.createDataFrame(
        [(i, " ".join(f"w{i}_{j}" for j in range(i % 7))) for i in range(40)],
        "doc_id long, text string",
    )
    a = sorted(map(tuple, tx.pack_examples(df, seq_len=16, bucket_size=4).collect()))
    b = sorted(map(tuple, tx.pack_examples(df, seq_len=16, bucket_size=1 << 20).collect()))
    assert a == b


def test_redact_pii_by_kind_counts_and_replaces(spark):
    df = spark.createDataFrame(
        [
            (1, "mail me at jo.na+x@sub.example.co.uk or jo@ex.io thanks"),
            (2, "server 192.168.0.1 and 10.0.255.250 up"),
            (3, "call +14155550123 now"),
            (4, "clean text with no pii at all"),
            (5, "mix a@b.cc from 8.8.8.8 dial +4915112345678"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in tx.redact_pii_by_kind(df).collect()}
    assert (out[1].n_email, out[1].n_ipv4, out[1].n_phone) == (2, 0, 0)
    assert "<|email|>" in out[1].clean_text and "@" not in out[1].clean_text
    assert (out[2].n_email, out[2].n_ipv4, out[2].n_phone) == (0, 2, 0)
    assert out[2].clean_text == "server <|ipv4|> and <|ipv4|> up"
    assert (out[3].n_email, out[3].n_ipv4, out[3].n_phone) == (0, 0, 1)
    assert (out[4].n_email, out[4].n_ipv4, out[4].n_phone) == (0, 0, 0)
    assert out[4].clean_text == out[4].text
    assert (out[5].n_email, out[5].n_ipv4, out[5].n_phone) == (1, 1, 1)


def test_pack_examples_rejects_duplicate_and_negative_ids(spark):
    from db_cdc_poc_spark.operators.text import pack_examples

    dup = spark.createDataFrame(
        [(1, "a b c"), (1, "d e f"), (2, "g")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="unique non-negative"):
        pack_examples(dup, seq_len=4).collect()
    neg = spark.createDataFrame(
        [(-1, "a b c"), (2, "g")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="unique non-negative"):
        pack_examples(neg, seq_len=4).collect()
