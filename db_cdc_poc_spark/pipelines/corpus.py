"""Corpus cleaning — the canonical training-data pipeline, composed
from the engine's operators:

    documents ─► quality features ─► language/quality filter
              ─► MinHash-LSH near-dup pairs ─► cluster ─► best-quality
                 survivor ─► clean corpus (+ per-stage accounting)

Every stage is a DataFrame transform; the only driver-side values are
the stage counts in the report. At 100 TB each arrow is a distributed
pass: the quality filter is map-only, LSH shuffles by band bucket,
clustering shuffles pair-graph labels (tiny), and survivor selection
is one max_by aggregate per cluster.

This is the one corpus pipeline (q145 runs it against its oracle).
Repetition filtering, PII redaction, eval decontamination and sequence
packing are operators in ``operators/text.py`` and
``operators/decontam.py`` that a caller composes around it.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from db_cdc_poc_spark.operators.dedup import dedup_fuzzy, minhash_lsh_pairs
from db_cdc_poc_spark.operators.text import lang_id, quality_features


@dataclass(frozen=True)
class CorpusReport:
    n_input: int
    n_after_filter: int
    n_output: int

    @property
    def filtered_out(self) -> int:
        return self.n_input - self.n_after_filter

    @property
    def deduped_out(self) -> int:
        return self.n_after_filter - self.n_output


def clean_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_quality: float = 0.4,
    languages: tuple[str, ...] | None = None,
    jaccard_threshold: float = 0.5,
    num_hashes: int = 64,
    bands: int = 16,
    max_band_bucket: int | None = 1000,
) -> tuple[DataFrame, CorpusReport]:
    """Returns (clean_docs, report). clean_docs carries the original
    columns plus quality_score and lang_pred; near-duplicate clusters
    keep their highest-quality member.

    ``max_band_bucket`` caps the LSH band-bucket size (skew guard): a
    bucket holding d documents contributes d^2 candidate pairs, so one
    pathological bucket (boilerplate-heavy corpora produce them) can
    dominate the join. Capped buckets are skipped — documents that
    near-identical to >cap others are overwhelmingly caught in their
    other bands. Defaults ON here (production path); the oracle-checked
    query entries keep it off for exactness.
    """
    feats = quality_features(docs, id_col=id_col, text_col=text_col).select(
        F.col("id").alias(id_col), "quality_score"
    )
    scored = (
        docs.join(feats, id_col)
        .withColumn("lang_pred", lang_id(text_col))
    )
    kept = scored.filter(F.col("quality_score") >= min_quality)
    if languages is not None:
        kept = kept.filter(F.col("lang_pred").isin(*languages))
    kept.persist()
    try:
        pairs = minhash_lsh_pairs(
            kept,
            id_col=id_col,
            text_col=text_col,
            num_hashes=num_hashes,
            bands=bands,
            threshold=jaccard_threshold,
            max_bucket_size=max_band_bucket,
        )
        clean = dedup_fuzzy(
            kept, pairs, id_col=id_col, keep="best_quality", quality_col="quality_score"
        )
        report = CorpusReport(
            n_input=docs.count(),
            n_after_filter=kept.count(),
            n_output=clean.count(),
        )
    finally:
        # n_output forced clean through the cache; release executor
        # storage so repeated calls don't accumulate cached blocks
        kept.unpersist()
    return clean, report

