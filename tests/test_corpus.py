"""End-to-end corpus cleaning pipeline."""

from __future__ import annotations

from db_cdc_poc_spark.pipelines.corpus import clean_corpus
from db_cdc_poc_spark.sources.testdata import load_table

from .conftest import SF_DIR


def test_clean_corpus_end_to_end(spark):
    docs = load_table(spark, SF_DIR, "documents")
    clean, report = clean_corpus(docs, min_quality=0.3, jaccard_threshold=0.5)
    assert report.n_input == docs.count()
    assert 0 < report.n_output <= report.n_after_filter <= report.n_input
    assert report.deduped_out > 0  # the testdata plants near-dups
    rows = clean.collect()
    assert all(r.quality_score >= 0.3 for r in rows)
    # no near-dup cluster may keep two members: re-detect on the output
    from db_cdc_poc_spark.operators.dedup import ngram_jaccard_pairs

    assert ngram_jaccard_pairs(clean, threshold=0.5).count() == 0


def test_clean_corpus_language_filter(spark):
    docs = load_table(spark, SF_DIR, "documents")
    clean, _ = clean_corpus(docs, min_quality=0.0, languages=("en",))
    assert {r.lang_pred for r in clean.select("lang_pred").distinct().collect()} == {
        "en"
    }


def test_clean_corpus_keeps_best_quality_copy(spark):
    # doc 2 = doc 1 plus a short suffix: trigram Jaccard ~0.79 (a real
    # near-copy, comfortably above the LSH recall curve at 64/16) and
    # slightly higher quality (longer, one more stopword) — so the
    # cluster's survivor must be 2, not the smaller id
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog near the river bank"),
            (2, "the quick brown fox jumps over the lazy dog near the river bank "
                "today and tomorrow"),
            (3, "totally different content about the spark catalyst optimizer"),
        ],
        "doc_id long, text string",
    )
    clean, report = clean_corpus(docs, min_quality=0.0, jaccard_threshold=0.4)
    ids = {r.doc_id for r in clean.collect()}
    assert ids == {2, 3}
    assert report.deduped_out == 1

