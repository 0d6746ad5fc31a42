"""Dedup family: exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding near-dup. Includes the regression tests for the round-1
lambda-arity bugs (constant signatures / unbuildable SimHash plan)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from db_cdc_poc_spark.operators import dedup as dd
from db_cdc_poc_spark.operators.dedup import containment_pairs

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2, "the quick brown fox jumps over the lazy dog near the river shore"),
    (3, "completely different text about spark sql engines and query plans"),
    (4, "completely different text about spark sql engines and query planners"),
    (5, "unrelated short doc"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_dedup_exact_deterministic_survivor(spark):
    df = spark.createDataFrame(
        [(1, "a", 10), (1, "b", 20), (2, "c", 5)], "k long, payload string, seq long"
    )
    out = {r.k: r.payload for r in dd.dedup_exact(df, "k", "seq").collect()}
    assert out == {1: "b", 2: "c"}


def test_ngram_jaccard_known_value(spark, docs):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in dd.ngram_jaccard_pairs(docs, threshold=0.3).collect()
    }
    # docs 1/2: 13 tokens -> 11 trigrams each, 10 shared (only the
    # final bank/shore trigram differs): J = 10 / (11+11-10) = 10/12
    assert pairs[(1, 2)] == pytest.approx(10 / 12, abs=1e-6)
    assert (3, 4) in pairs
    assert not any(5 in p for p in pairs)


def test_minhash_signatures_are_not_degenerate(spark, docs):
    # round-1 bug: (element, index) lambda shadowed the seed and every
    # signature position held the same value
    sigs = dd.minhash_signatures(docs, num_hashes=16).collect()
    for r in sigs:
        assert len(set(r.sig)) > 8, f"degenerate signature for doc {r.id}"


def test_minhash_lsh_finds_planted_pairs(spark, docs):
    pairs = {
        (r.id_a, r.id_b)
        for r in dd.minhash_lsh_pairs(
            docs, num_hashes=128, bands=64, threshold=0.5
        ).collect()
    }
    assert (1, 2) in pairs
    assert (3, 4) in pairs


def test_minhash_exact_verification_matches_ngram(spark, docs):
    lsh = {
        (r.id_a, r.id_b): r.jaccard
        for r in dd.minhash_lsh_pairs(
            docs, num_hashes=128, bands=64, threshold=0.3
        ).collect()
    }
    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in dd.ngram_jaccard_pairs(docs, threshold=0.3).collect()
    }
    for pair, j in lsh.items():
        assert exact[pair] == pytest.approx(j, abs=1e-6)


def test_simhash_plan_builds_and_finds_near_pairs(spark, docs):
    # round-1 bug: 3-ary aggregate lambda made every call raise
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in dd.simhash_pairs(docs, max_hamming=12, blocks=16).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] <= 12
    assert (3, 4) in pairs


def test_simhash_fingerprints_match_simhash_col(spark, docs):
    fast = {r.id: r.fp for r in dd.simhash_fingerprints(docs).collect()}
    slow = {
        r.doc_id: r.fp
        for r in docs.select("doc_id", dd.simhash_col("text").alias("fp")).collect()
    }
    assert fast == slow


def test_degenerate_docs_do_not_crash_or_match(spark):
    weird = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "one"), (4, None)], "doc_id long, text string"
    )
    assert dd.ngram_jaccard_pairs(weird, threshold=0.0).count() == 0
    assert dd.minhash_lsh_pairs(weird, num_hashes=8, bands=4).count() == 0


def test_neardup_clusters_transitive(spark):
    # chain a-b, b-c plus isolated pair d-e: components {a,b,c} and {d,e}
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    got = {r.id: r.cluster_id for r in dd.neardup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_dedup_fuzzy_min_id(spark, docs):
    pairs = dd.ngram_jaccard_pairs(docs, threshold=0.5)
    kept = dd.dedup_fuzzy(docs, pairs)
    ids = {r.doc_id for r in kept.collect()}
    # pairs (1,2) and (3,4): keep 1 and 3; unpaired 5 survives
    assert ids == {1, 3, 5}


def test_dedup_fuzzy_best_quality(spark):
    df = spark.createDataFrame(
        [(1, "a", 0.2), (2, "a2", 0.9), (3, "b", 0.5)],
        "doc_id long, text string, q double",
    )
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    kept = {r.doc_id for r in dd.dedup_fuzzy(
        df, pairs, keep="best_quality", quality_col="q").collect()}
    assert kept == {2, 3}  # higher-quality copy survives


def test_embedding_neardup(spark):
    vecs = spark.createDataFrame(
        [
            (1, [0.0, 0.0, 0.0, 0.0]),
            (2, [1.0, 0.0, 0.0, 0.0]),
            (3, [1.0, 1e-4, 0.0, 0.0]),
            (4, [0.0, 1.0, 0.0, 0.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    pairs = {
        (r.id_a, r.id_b): r.cosine
        for r in dd.embedding_neardup_pairs(vecs, threshold=0.9).collect()
    }
    assert set(pairs) == {(2, 3)}
    assert pairs[(2, 3)] > 0.999


def test_lsh_verify_plan_has_no_full_corpus_pair_join(spark, docs):
    # round-1 scale bug: verify_exact joined the FULL threshold-0 pair
    # set via the shingle inverted-index self-join; now exact Jaccard
    # touches candidates only, so no Join in the plan may key on the
    # exploded `shingle` column (joins on id_a/id_b/band are fine)
    plan = (
        dd.minhash_lsh_pairs(docs, num_hashes=16, bands=8, verify_exact=True)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    join_lines = [ln for ln in plan.splitlines() if "Join" in ln]
    assert join_lines, "expected join operators in the LSH plan"
    for ln in join_lines:
        assert "shingle#" not in ln, f"shingle-keyed join found: {ln}"


def test_token_hash64_md5_matches_hashlib(spark):
    # the md5 hash path must equal the big-endian first 8 md5 digest
    # bytes (what DuckDB's ('0x'||substr(md5(t),1,16))::UBIGINT sees)
    import hashlib

    toks = ["hello", "the", "zebra", "a1!", "ümlaut"]
    df = spark.createDataFrame([(t,) for t in toks], "tok string")
    got = {
        r.tok: r.h % (1 << 64)
        for r in df.select("tok", dd.token_hash64("tok", "md5").alias("h")).collect()
    }
    for t in toks:
        want = int.from_bytes(hashlib.md5(t.encode()).digest()[:8], "big")
        assert got[t] == want, t


def test_simhash_pairs_md5_and_xxhash64_agree_on_planted_dups(spark, docs):
    # hash choice changes fingerprints but near-identical docs stay
    # inside the Hamming ball under either hash
    a = {(r.id_a, r.id_b) for r in
         dd.simhash_pairs(docs, max_hamming=7, blocks=8).collect()}
    b = {(r.id_a, r.id_b) for r in
         dd.simhash_pairs(docs, max_hamming=7, blocks=8, hash_fn="md5").collect()}
    assert a and b
    assert len(a & b) / max(len(a | b), 1) > 0.3


def test_jaccard_max_doc_freq_kills_hot_shingle_blowup(spark):
    # 1000 docs all sharing one boilerplate shingle: uncapped, the
    # shingle join would emit ~C(1000,2) ~ 500k candidate rows; with
    # the doc-frequency cap the hot shingle is dropped BEFORE the join
    # and the candidate set collapses to the genuinely-similar pairs
    docs = spark.createDataFrame(
        [(i, f"common prefix here alpha{i} beta{i} gamma{i} delta{i}") for i in range(1000)]
        + [(5000, "near dup pair one two three four five six"),
           (5001, "near dup pair one two three four five seven")],
        "doc_id long, text string",
    )
    capped = dd.ngram_jaccard_pairs(docs, threshold=0.001, max_doc_freq=10)
    rows = capped.collect()
    # the hot-shingle pair explosion is gone...
    assert len(rows) == 1, f"expected only the planted pair, got {len(rows)}"
    # ...but the planted near-dup (sharing RARE shingles) is still found
    assert (rows[0].id_a, rows[0].id_b) == (5000, 5001)


def test_lsh_max_bucket_size_caps_identical_doc_buckets(spark):
    # 300 identical docs collide in every band: each band bucket holds
    # 300 ids -> C(300,2) candidates per band uncapped. The cap drops
    # those buckets before the self-join; a distinct near-dup pair in
    # small buckets is unaffected.
    docs = spark.createDataFrame(
        [(i, "identical boilerplate text repeated everywhere always") for i in range(300)]
        + [(9000, "a genuinely unique document about spark partitioning strategies"),
           (9001, "a genuinely unique document about spark partitioning strategy")],
        "doc_id long, text string",
    )
    uncapped = dd.minhash_lsh_pairs(
        docs, num_hashes=16, bands=8, threshold=0.3, verify_exact=False
    )
    capped = dd.minhash_lsh_pairs(
        docs, num_hashes=16, bands=8, threshold=0.3, verify_exact=False,
        max_bucket_size=100,
    )
    n_un, n_cap = uncapped.count(), capped.count()
    assert n_un >= 300 * 299 / 2, f"expected the identical-doc blowup: {n_un}"
    got = {(r.id_a, r.id_b) for r in capped.collect()}
    assert got == {(9000, 9001)}, f"cap should keep only the small-bucket pair: {got}"
    assert n_cap == 1


def test_containment_catches_asymmetric_copy(spark):
    """A short doc pasted verbatim into a long one: Jaccard is low,
    containment is 1.0 — the case the containment measure exists for."""
    from db_cdc_poc_spark.operators.dedup import containment_pairs, ngram_jaccard_pairs

    short = "alpha beta gamma delta epsilon zeta"
    long_ = short + " " + " ".join(f"filler{i}" for i in range(60))
    df = spark.createDataFrame(
        [(1, short), (2, long_), (3, "totally different content here now")],
        "doc_id long, text string",
    )
    cont = containment_pairs(df, n=3, threshold=0.8).collect()
    assert [(r.id_a, r.id_b) for r in cont] == [(1, 2)]
    assert cont[0].containment == 1.0
    # symmetric Jaccard misses the same pair at any usable threshold
    jac = ngram_jaccard_pairs(df, n=3, threshold=0.5).collect()
    assert (1, 2) not in [(r.id_a, r.id_b) for r in jac]


def test_containment_respects_doc_freq_cap(spark):
    from db_cdc_poc_spark.operators.dedup import containment_pairs

    hot = "the quick brown"   # trigram shared by every doc
    df = spark.createDataFrame(
        [(i, f"{hot} unique{i} tail{i} more{i}") for i in range(20)],
        "doc_id long, text string",
    )
    # cap=1 drops the universal shingle -> no shared shingles remain
    out = containment_pairs(df, n=3, threshold=0.1, max_doc_freq=1).collect()
    assert out == []


def test_winnowing_guarantee_shared_run_shares_fingerprint(spark):
    """Two docs sharing a verbatim run of >= window+k-1 tokens must
    share at least one fingerprint (the winnowing guarantee)."""
    from db_cdc_poc_spark.operators.dedup import winnowed_fingerprints

    run = "one two three four five six seven"  # 7 tokens >= 4+3-1
    df = spark.createDataFrame(
        [
            (1, "prefix words here " + run + " suffix tail words"),
            (2, run + " entirely different ending content altogether"),
        ],
        "doc_id long, text string",
    )
    fp = winnowed_fingerprints(df, k=3, window=4).collect()
    a = {r.h for r in fp if r.id == 1}
    b = {r.h for r in fp if r.id == 2}
    assert a & b, "shared 7-token run must produce a common fingerprint"


def test_winnowing_density_and_short_doc_exclusion(spark):
    from db_cdc_poc_spark.operators.dedup import winnowed_fingerprints
    from db_cdc_poc_spark.sources.testdata import load_table

    from .conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents")
    fp_n = winnowed_fingerprints(docs, k=3, window=4).count()
    from db_cdc_poc_spark.operators.dedup import shingle_rows

    gram_n = shingle_rows(docs, n=3).count()
    # expected density ~2/(w+1) = 0.4; allow slack for distinct-ing
    assert fp_n < 0.6 * gram_n
    # a doc below window+k-1 tokens yields nothing
    tiny = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    assert winnowed_fingerprints(tiny, k=3, window=4).count() == 0


def test_winnowed_containment_finds_planted_copy(spark):
    from db_cdc_poc_spark.operators.dedup import winnowed_containment_pairs

    core = " ".join(f"w{i}" for i in range(30))
    df = spark.createDataFrame(
        [
            (1, core),
            (2, core + " " + " ".join(f"x{i}" for i in range(40))),
            (3, " ".join(f"z{i}" for i in range(35))),
        ],
        "doc_id long, text string",
    )
    out = {(r.id_a, r.id_b): r.containment for r in
           winnowed_containment_pairs(df, threshold=0.5).collect()}
    assert (1, 2) in out and out[(1, 2)] > 0.9
    assert not any(3 in p for p in out)


# --------------------------------------------------------------------------
# duplicate_span_stats (exact repeated-span accounting)
# --------------------------------------------------------------------------


def test_duplicate_spans_planted_boilerplate(spark):
    boiler = "please subscribe to our newsletter for updates and offers today"
    df = spark.createDataFrame(
        [
            (1, boiler + " alpha beta gamma delta epsilon zeta eta theta"),
            (2, boiler + " one two three four five six seven eight"),
            (3, "totally original prose with no shared spans anywhere in the corpus at all"),
            (4, "short doc"),
        ],
        "doc_id long, text string",
    )
    out = {r.id: r for r in dd.duplicate_span_stats(df, window=8, min_docs=2).collect()}
    # 10-token boilerplate -> its 3 complete 8-grams are shared by docs 1+2;
    # 18 tokens per doc -> 11 8-gram spans each
    assert out[1].n_spans == 11 and out[2].n_spans == 11
    assert out[1].n_dup_spans == 3 and out[2].n_dup_spans == 3
    assert out[1].dup_ppm == 1_000_000 * 3 // 11
    assert out[3].n_dup_spans == 0
    # doc 4 has < 8 tokens: no spans, absent from the output (documented)
    assert 4 not in out


def test_duplicate_spans_within_doc_repeat_not_counted_across(spark):
    # a span repeated INSIDE one doc has doc-frequency 1 -> not "duplicated"
    span = "a b c d e f g h"
    df = spark.createDataFrame(
        [(1, span + " x y z " + span), (2, "entirely different words never repeated elsewhere ok")],
        "doc_id long, text string",
    )
    out = {r.id: r for r in dd.duplicate_span_stats(df, window=8, min_docs=2).collect()}
    assert out[1].n_dup_spans == 0


def test_duplicate_spans_md5_matches_xxhash_decisions(spark, docs):
    a = {(r.id, r.n_spans, r.n_dup_spans)
         for r in dd.duplicate_span_stats(docs, window=3, hash_fn="md5").collect()}
    b = {(r.id, r.n_spans, r.n_dup_spans)
         for r in dd.duplicate_span_stats(docs, window=3, hash_fn="xxhash64").collect()}
    c = {(r.id, r.n_spans, r.n_dup_spans)
         for r in dd.duplicate_span_stats(docs, window=3, hash_fn="fast").collect()}
    assert a == b == c


def test_hashed_shingle_rows_match_string_shingles(spark, docs):
    """The hashed shingle pipeline must induce the same per-doc set
    SIZES and the same cross-doc equality structure as the string one
    (collisions aside): same n per doc, same pairwise common counts."""
    from db_cdc_poc_spark.operators.dedup import hashed_shingle_rows, shingle_rows

    s = shingle_rows(docs, n=2)
    h = hashed_shingle_rows(docs, n=2)
    sizes = lambda d: {r.id: r.n for r in d.groupBy("id").agg(F.count("*").alias("n")).collect()}  # noqa: E731
    assert sizes(s) == sizes(h)

    def common(d):
        a, b = d.alias("a"), d.alias("b")
        return {
            (r.id_a, r.id_b, r.c)
            for r in a.join(
                b,
                (F.col("a.shingle") == F.col("b.shingle"))
                & (F.col("a.id") < F.col("b.id")),
            )
            .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .agg(F.count("*").alias("c"))
            .collect()
        }

    assert common(s) == common(h)


# --------------------------------------------------------------------------
# cross_lsh_pairs (cross-corpus fuzzy decontamination)
# --------------------------------------------------------------------------


def test_cross_lsh_finds_planted_cross_corpus_dup(spark):
    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog near the river bank today"),
            (2, "completely different text about spark sql engines and query plans"),
        ],
        "doc_id long, text string",
    )
    eval_ = spark.createDataFrame(
        [
            (100, "the quick brown fox jumps over the lazy dog near the river bank now"),
            (101, "benchmark questions about astronomy physics chemistry and biology"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in dd.cross_lsh_pairs(train, eval_, threshold=0.5).collect()
    }
    # 14 tokens -> 12 trigrams, 11 shared (final today/now trigram differs):
    # J = 11 / (12 + 12 - 11) = 11/13
    assert set(got) == {(1, 100)}
    assert got[(1, 100)] == pytest.approx(11 / 13, abs=1e-6)


def test_cross_lsh_never_pairs_within_one_side(spark):
    near_a = "one two three four five six seven eight nine ten eleven twelve"
    train = spark.createDataFrame(
        [(1, near_a + " alpha"), (2, near_a + " beta")], "doc_id long, text string"
    )
    eval_ = spark.createDataFrame(
        [(100, "nothing in common with anything here at all whatsoever")],
        "doc_id long, text string",
    )
    assert dd.cross_lsh_pairs(train, eval_, threshold=0.5).count() == 0


def test_cross_lsh_bucket_cap_bounds_candidates(spark):
    # 30 near-identical train docs + 1 eval copy: uncapped, every train
    # doc collides with the eval doc in some band; with the cap below
    # the clone count, the hot buckets are dropped and the join stays
    # bounded (the scale guard, not the exactness path)
    base = "the same boilerplate sentence repeated across many documents here"
    train = spark.createDataFrame(
        [(i, f"{base} variant") for i in range(30)], "doc_id long, text string"
    )
    eval_ = spark.createDataFrame(
        [(1000, f"{base} variant")], "doc_id long, text string"
    )
    uncapped = dd.cross_lsh_pairs(train, eval_, threshold=0.9).count()
    capped = dd.cross_lsh_pairs(
        train, eval_, threshold=0.9, max_bucket_size=5
    ).count()
    assert uncapped == 30
    assert capped == 0  # every bucket holds all 30 clones -> all dropped


def test_duplicate_spans_degenerate_docs_vanish(spark):
    # null/empty/short docs emit no spans on the Spark side and no rows
    # from the oracle's WHERE len(toks) >= window — same absence
    weird = spark.createDataFrame(
        [(1, None), (2, ""), (3, "   "), (4, "only three tokens here")],
        "doc_id long, text string",
    )
    assert dd.duplicate_span_stats(weird, window=8).count() == 0


# -- containment prefix join: index-side positional bound stays exact ----------


def _brute_containment(rows, n, threshold):
    def shingles(text):
        toks = [t for t in text.split() if t]
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    sets = {i: shingles(t) for i, t in rows}
    out = set()
    ids = sorted(sets)
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            a, b = sets[ids[i]], sets[ids[j]]
            common = len(a & b)
            if common and common / min(len(a), len(b)) >= threshold:
                out.add((ids[i], ids[j]))
    return out


def test_containment_index_bound_exact_on_hot_boilerplate(spark):
    """Adversarial shape for the index-side bound: a corpus-hot
    boilerplate run shared by EVERY doc (the quadratic posting list the
    bound exists to prune) plus asymmetric containment — a small doc
    pasted verbatim inside a much larger one (Jaccard tiny, containment
    1.0). The prefix path must still equal brute force pair-for-pair."""
    hot = "terms of service apply to all content here"
    small = "unique payload alpha beta gamma delta epsilon zeta eta theta"
    texts = []
    # 40 docs sharing the hot run, each with distinct filler
    for i in range(40):
        filler = " ".join(f"w{i}x{j}" for j in range(30))
        texts.append(f"{hot} {filler}")
    # the asymmetric pair: small doc + giant doc containing it verbatim
    giant_filler = " ".join(f"g{j}" for j in range(400))
    texts.append(small)
    texts.append(f"{giant_filler} {small} {hot}")
    rows = list(enumerate(texts))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for threshold in (0.3, 0.8, 1.0):
        got = {
            (r.id_a, r.id_b)
            for r in containment_pairs(
                df, n=3, threshold=threshold, mode="prefix"
            ).collect()
        }
        assert got == _brute_containment(rows, 3, threshold), threshold
    # the asymmetric pair itself survives at threshold 1.0
    got = {
        (r.id_a, r.id_b)
        for r in containment_pairs(df, n=3, threshold=1.0, mode="prefix").collect()
    }
    assert (40, 41) in got
