"""Text analysis operators for training-data pipelines.

The reference has no text operators (its strings are ids and names);
this module is the LLM-data-pipeline extension (SURVEY.md §7 step 5)
over the driver's ``documents`` fixture (doc_id, text, lang, source,
n_chars).

Everything here is pure ``pyspark.sql.functions`` Column expressions —
JVM-side, whole-stage codegen, no Python in the hot path. Each operator
is deliberately expressible in ANSI SQL too, so the DuckDB oracle can
check it value-for-value.

At 100 TB these are embarrassingly parallel map-only projections: no
shuffle, no state; they pipeline with the scan and prune to the single
``text`` column.
"""

from __future__ import annotations

import re
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Minimal per-language stopword lists for the n-gram/stopword language
# heuristic. Tiny on purpose: the point is the Spark-side plumbing —
# swap in real lists for production.
STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "in", "is", "it", "that", "for"],
    "de": ["der", "die", "das", "und", "ist", "ein", "eine", "zu", "nicht", "mit"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "de", "pas", "pour"],
    "es": ["el", "la", "los", "las", "y", "es", "un", "una", "de", "no"],
}

#: BPE-ish tokenizer regex: word pieces, numbers, or single non-space
#: symbols — the shape GPT-style byte-pair pretokenizers use.
TOKEN_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def whitespace_tokens(text: Column | str) -> Column:
    """array<string> of whitespace tokens, empties removed."""
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(c, r"\s+"), lambda t: t != F.lit(""))


def whitespace_token_count(text: Column | str) -> Column:
    return F.size(whitespace_tokens(text))


def regex_token_count(text: Column | str, pattern: str = TOKEN_REGEX) -> Column:
    """Count of BPE-ish pretokens via regexp_count (JVM regex engine)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_count(c, F.lit(pattern))


def stopword_ratio(text: Column | str, lang: str = "en") -> Column:
    r"""Fraction of lowercase whitespace tokens that are stopwords.

    Counted with ONE compiled-regex pass over the raw text:
    ``(?<=^|\s)(w1|w2|...)(?=\s|$)`` on ``lower(text)`` is exactly
    token equality, because whitespace tokens are the maximal
    non-whitespace runs (lookarounds don't consume, so adjacent hits
    both count). Equivalence to the array form is asserted in
    test_text.py. No higher-order functions: the former
    filter+array_contains lambda was interpreted per token per
    language AND paid a multi-second one-time expression-compile on
    first evaluation (the 8.6 s cold q26 bench sample); the DFA scan
    is codegen'd and starts fast.
    """
    t = F.col(text) if isinstance(text, str) else text
    pat = (
        r"(?<=^|\s)(?:"
        + "|".join(re.escape(w) for w in STOPWORDS[lang])
        + r")(?=\s|$)"
    )
    n = F.size(whitespace_tokens(t))
    hits = F.regexp_count(F.lower(t), F.lit(pat))
    return F.when(n > 0, hits.cast("double") / n).otherwise(F.lit(0.0))


def punct_ratio(text: Column | str) -> Column:
    """Punctuation characters / total characters."""
    c = F.col(text) if isinstance(text, str) else text
    n = F.length(c)
    punct = F.length(c) - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
    return F.when(n > 0, punct.cast("double") / n).otherwise(F.lit(0.0))


def mean_word_length(text: Column | str) -> Column:
    r"""Mean token length = non-whitespace chars / token count — no
    per-token aggregate lambda (token chars are exactly the chars that
    survive stripping ``\s+``)."""
    t = F.col(text) if isinstance(text, str) else text
    n = F.size(whitespace_tokens(t))
    total = F.length(F.regexp_replace(t, r"\s+", ""))
    return F.when(n > 0, total.cast("double") / n).otherwise(F.lit(0.0))


def lang_scores(text: Column | str) -> dict[str, Column]:
    """Per-language stopword-hit ratio columns (the lang-ID signal)."""
    return {lang: stopword_ratio(text, lang) for lang in STOPWORDS}


def lang_id(text: Column | str) -> Column:
    """Predicted language = argmax stopword ratio; 'und' if all zero.

    A deterministic n-gram-free heuristic (stopword voting). Ties break
    by dict order via strictly-greater chaining.
    """
    scores = lang_scores(text)
    best_lang = F.lit("und")
    best_score = F.lit(0.0)
    for lang, score in scores.items():
        is_better = score > best_score
        best_lang = F.when(is_better, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(is_better, score).otherwise(best_score)
    return best_lang


def quality_features(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document quality features as one map-only projection.

    Output: (id, n_chars, n_tokens, n_pretokens, stopword_ratio,
    punct_ratio, mean_word_len, quality_score). quality_score in [0,1]:
    penalizes too-short docs, low stopword ratio (non-linguistic text),
    and high punctuation density — the standard cheap pre-filter before
    expensive model-based scoring.
    """
    t = F.col(text_col)
    n_tokens = whitespace_token_count(t)
    sw = stopword_ratio(t)
    pr = punct_ratio(t)
    length_ok = F.least(n_tokens.cast("double") / F.lit(20.0), F.lit(1.0))
    sw_ok = F.least(sw / F.lit(0.2), F.lit(1.0))
    punct_ok = F.greatest(F.lit(1.0) - pr * 4, F.lit(0.0))
    score = F.round((length_ok + sw_ok + punct_ok) / 3, 6)
    # spread: map-only but regex-heavy per row, and a compact corpus
    # file plans <= 3 scan partitions (see partitioning.spread_scan)
    from db_cdc_poc_spark.partitioning import spread_scan

    df = spread_scan(df)
    return df.select(
        F.col(id_col).alias("id"),
        F.length(t).alias("n_chars"),
        n_tokens.alias("n_tokens"),
        regex_token_count(t).alias("n_pretokens"),
        F.round(sw, 6).alias("stopword_ratio"),
        F.round(pr, 6).alias("punct_ratio"),
        F.round(mean_word_length(t), 6).alias("mean_word_len"),
        score.alias("quality_score"),
    )


def doc_fingerprint(text: Column | str) -> Column:
    """Deterministic content fingerprint: md5 of the normalized text
    (lowercased, whitespace collapsed). md5 is bit-identical in Spark
    and DuckDB, so the oracle can verify fingerprints value-for-value.
    """
    c = F.col(text) if isinstance(text, str) else text
    normalized = F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))
    return F.md5(normalized)


def tfidf_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_k: int = 3,
    skew_safe: bool = False,
) -> DataFrame:
    """Top ``top_k`` terms per document by tf-idf — keyword extraction /
    boilerplate detection for corpus analytics.

    Score = tf * N / df(term) (the raw odds form — no logarithm, so the
    arithmetic is the same three exact integer-derived operations on
    both engines and the oracle can value-check it; a log-scaled score
    ranks identically per document since log is monotone).

    Plan: explode lowercased tokens ONCE; tf = count per (doc, term);
    df(term) over those tf rows; N joins in as a broadcast 1-row count
    (column-pruned scan).

    The ``skew_safe`` switch picks the df(term) strategy — a measured
    tradeoff, not a free lunch:

    * default (False): a count WINDOW over the tf rows — single
      tokenize pass (verified: one (id, text) scan in the plan), but a
      window partition must fit one task, so a stop-word term present
      in d documents puts d rows on one reducer. Right below ~10^8
      docs or after stop-word filtering.
    * True: ``tf.groupBy(term)`` + join back — branching tf
      re-executes the tokenize lineage (ReuseExchange does NOT fire
      across the aggregate; verified), costing a second pass, but the
      join is AQE-skew-splittable, so corpus-scale hot terms spread
      across reducers. Right at web scale.

    Output: (id, term, score, rank), ties broken by term for
    determinism.
    """
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.transform(whitespace_tokens(text_col), lambda t: F.lower(t))
        ).alias("term"),
    )
    tf = toks.groupBy("id", "term").agg(F.count("*").alias("tf"))
    nd = df.agg(F.count("*").alias("n_docs"))
    w = Window.partitionBy("id").orderBy(F.col("score").desc(), F.col("term"))
    if skew_safe:
        dfreq = tf.groupBy("term").agg(F.count("*").alias("df_t"))
        scored = tf.join(dfreq, "term")
    else:
        wt = Window.partitionBy("term")
        scored = tf.withColumn("df_t", F.count("*").over(wt))
    return (
        scored.crossJoin(F.broadcast(nd))
        .withColumn(
            "score",
            F.col("tf").cast("double") * F.col("n_docs") / F.col("df_t"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select("id", "term", F.round("score", 6).alias("score"), "rank")
    )


#: PII patterns written in the RE2-compatible subset (character
#: classes, bounded repeats — no backrefs/lookaround) so Spark's Java
#: regex and DuckDB/RE2 agree token-for-token and the oracle can
#: value-check redactions.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
    "phone": r"\+[0-9]{1,3}[- ][0-9]{3}[- ][0-9]{3,4}[- ][0-9]{3,4}",
}


def redact_pii(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    patterns: dict[str, str] | None = None,
    token: str = "[PII]",
) -> DataFrame:
    """Scrub PII-shaped spans from text — the compliance pass every
    training corpus goes through before model consumption.

    Applies each pattern as a chained ``regexp_replace`` (JVM regex,
    whole-stage codegen — map-only, no shuffle, no Python) and reports
    how many spans each pattern matched so the pipeline can account
    for what it removed (`n_pii` = total matches across patterns).

    Patterns must stay in the RE2-compatible subset (see
    ``PII_PATTERNS``) if oracle replay is desired; Java regex accepts
    a superset, so anything RE2 runs, Spark runs identically.
    """
    pats = PII_PATTERNS if patterns is None else patterns
    t = F.col(text_col)
    clean = t
    n = F.lit(0)
    for pat in pats.values():
        n = n + F.regexp_count(t, F.lit(pat))
        clean = F.regexp_replace(clean, pat, token)
    return df.select(
        F.col(id_col).alias("id"),
        clean.alias("clean_text"),
        n.cast("int").alias("n_pii"),
    )


def repetition_features(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document repetition signals — the Gopher/MassiveText-style
    repetitious-content filters (published rules: fraction of duplicate
    lines/words/n-grams, fraction taken by the most frequent n-gram).

    Output per doc:
      * ``n_tokens``        — whitespace token count,
      * ``dup_word_frac``   — 1 - distinct_tokens / tokens,
      * ``top_word_frac``   — occurrences of the modal token / tokens,
      * ``dup_2gram_frac``  — 1 - distinct_2grams / 2grams.

    All four are ratios of small exact integers, so the division is
    bit-identical across engines and the oracle value-checks them.

    Plan shape (the 100 TB consideration): the modal-token count needs
    a per-(doc, token) frequency, which a per-row higher-order function
    would compute in O(L^2) per document (an outer-array reference in a
    lambda re-evaluates per element — the measured trap). Instead:
    explode tokens/2-grams ONCE, two-level codegen'd hash aggregates
    ((id, gram) counts, then per-id rollup), which get map-side partial
    aggregation and scale with total token count. Both explodes join
    back on id — the token-stats side is aggregated to one row per doc
    before the join, so the join shuffles |docs| rows, not |tokens|.
    """
    from db_cdc_poc_spark.operators.dedup import word_ngrams_col
    from db_cdc_poc_spark.partitioning import spread_scan

    df = spread_scan(df)
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(whitespace_tokens(text_col)).alias("g"),
    )
    word_stats = (
        toks.groupBy("id", "g")
        .agg(F.count("*").alias("c"))
        .groupBy("id")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.count("*").alias("n_distinct"),
            F.max("c").alias("top_c"),
        )
    )
    grams = df.select(
        F.col(id_col).alias("id"),
        F.explode(word_ngrams_col(text_col, 2)).alias("g"),
    )
    gram_stats = (
        grams.groupBy("id", "g")
        .agg(F.count("*").alias("c"))
        .groupBy("id")
        .agg(
            F.sum("c").cast("long").alias("n_2grams"),
            F.count("*").alias("n_distinct_2"),
        )
    )
    return (
        word_stats.join(gram_stats, "id")
        .select(
            "id",
            "n_tokens",
            F.round(
                (F.col("n_tokens") - F.col("n_distinct")).cast("double")
                / F.col("n_tokens"),
                6,
            ).alias("dup_word_frac"),
            F.round(F.col("top_c").cast("double") / F.col("n_tokens"), 6).alias(
                "top_word_frac"
            ),
            F.round(
                (F.col("n_2grams") - F.col("n_distinct_2")).cast("double")
                / F.col("n_2grams"),
                6,
            ).alias("dup_2gram_frac"),
        )
    )


def pack_sequences(
    df: DataFrame,
    budget: int = 256,
    num_groups: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "pack-v1",
) -> DataFrame:
    """Assign documents to fixed-token-budget training sequences —
    GPT-style sequence packing, where short documents are concatenated
    (with separators) into ``budget``-token examples and the token
    stream is chunked at sequence boundaries.

    The assignment is the SQL-expressible concat-and-chunk form: within
    a pack group, docs are ordered deterministically by id, the
    exclusive running token total places each doc in the stream, and
    ``seq_id = start // budget`` names the sequence its first token
    lands in (documents may straddle a boundary, exactly as GPT-style
    packing allows).

    Scale shape: a global running sum would serialize on one reducer,
    so docs are first hash-bucketed into ``num_groups`` independent
    pack groups (deterministic md5 buckets — replayable by the oracle
    and across engines) and the window runs per group: ONE shuffle by
    group, state bounded by group size. At corpus scale ``num_groups``
    is sized so a group's (id, n_tokens) pairs fit a task — packing
    quality is unaffected since sequences never span groups.

    Output: (id, grp, n_tokens, seq_id, start_tok).
    """
    from pyspark.sql import Window

    from db_cdc_poc_spark.operators.sampling import hash_bucket

    w = (
        Window.partitionBy("grp")
        .orderBy("id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        df.select(
            F.col(id_col).alias("id"),
            hash_bucket(id_col, salt=salt, buckets=num_groups).alias("grp"),
            whitespace_token_count(text_col).cast("long").alias("n_tokens"),
        )
        .withColumn("start", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))
        .select(
            "id",
            "grp",
            "n_tokens",
            (F.col("start") / budget).cast("long").alias("seq_id"),
            (F.col("start") % budget).cast("long").alias("start_tok"),
        )
    )


def chunk_documents(
    df: DataFrame,
    window: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split documents into fixed-size non-overlapping token windows —
    the sequence-chunking step of a training-data pipeline (long docs
    become multiple training examples; the final short chunk is kept).

    Plan: posexplode the token array once, derive chunk_id = pos //
    window, then ONE groupBy((id, chunk_id)) assembles each chunk with
    order restored via array_sort over (pos, token) structs — the same
    deterministic-assembly shape as the transaction envelope (q09).
    Token arrays are never sliced inside a higher-order-function lambda
    (an outer array reference re-evaluates per element — the measured
    O(L^2) trap, see ARCHITECTURE.md); the explode materializes tokens
    exactly once and the rest is codegen'd aggregate work, scaling with
    total token count across any number of partitions.

    Output: (id, chunk_id, n_tokens, chunk_text), chunk_id 0-based.
    """
    from db_cdc_poc_spark.partitioning import spread_scan

    toks = spread_scan(df).select(
        F.col(id_col).alias("id"),
        F.posexplode(whitespace_tokens(text_col)).alias("pos", "tok"),
    )
    return (
        toks.withColumn("chunk_id", (F.col("pos") / window).cast("int"))
        .groupBy("id", "chunk_id")
        .agg(
            F.count("*").cast("int").alias("n_tokens"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda s: s["tok"],
                ),
                " ",
            ).alias("chunk_text"),
        )
    )


def dedup_chunks(
    df: DataFrame,
    window: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Cross-document duplicate-chunk removal — the chunk-granular form
    of CCNet/RefinedWeb line-level dedup (boilerplate paragraphs that
    repeat across pages are dropped from every copy but the first).

    Documents are split into ``window``-token chunks
    (:func:`chunk_documents`), each chunk is content-hashed, and a
    chunk instance survives iff it is the FIRST occurrence of its hash
    corpus-wide (first = smallest (doc_id, chunk_id), made total by
    ranking inside the hash partition). Surviving chunks are
    reassembled in order per document.

    Plan: one explode pass to chunk, ONE window shuffle on the chunk
    hash to rank occurrences (state per hash = its duplicate count,
    bounded by duplication not corpus size), one groupBy(doc) to
    reassemble. No self-join: the duplicate relation is resolved by
    ranking, so a chunk shared by d documents costs d rows, not d^2
    pairs — this is what lets the op survive a boilerplate chunk
    repeated across millions of pages (contrast ngram_jaccard_pairs'
    doc-frequency cap, dedup.py:130).

    ``hash_fn='md5'`` makes the hash — and therefore the keep decision
    and the reassembled text — replayable by the DuckDB oracle
    (token_hash64 contract, dedup.py:516).

    Output: (id, n_chunks, n_kept, kept_fp) where kept_fp = md5 of the
    space-rejoined surviving text ('' when nothing survives).
    """
    from pyspark.sql import Window

    from db_cdc_poc_spark.operators.dedup import token_hash64

    chunks = chunk_documents(df, window=window, id_col=id_col, text_col=text_col)
    ranked = chunks.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy(token_hash64("chunk_text", hash_fn)).orderBy(
                "id", "chunk_id"
            )
        ),
    )
    return ranked.groupBy("id").agg(
        F.count("*").cast("int").alias("n_chunks"),
        F.sum(F.when(F.col("rk") == 1, 1).otherwise(0)).cast("int").alias("n_kept"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("rk") == 1,
                                F.struct("chunk_id", "chunk_text"),
                            )
                        )
                    ),
                    lambda s: s["chunk_text"],
                ),
                " ",
            )
        ).alias("kept_fp"),
    )


def strip_boilerplate(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "source",
    window: int = 8,
    min_docs: int = 2,
    min_doc_ppm: int = 10_000,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Frequency-threshold boilerplate removal (the CCNet/RefinedWeb
    "strip repeated lines per domain" step, at chunk granularity):
    a chunk is boilerplate within its ``group_col`` (domain/source)
    when it appears in >= ``min_docs`` distinct documents AND in >=
    ``min_doc_ppm`` parts-per-million of the group's documents — and
    then it is removed from EVERY document (navigation, footers),
    unlike :func:`dedup_chunks` which keeps the first copy.

    Plan: one explode pass to chunk (carrying the group key through,
    no join back to the source table), one (group, chunk-hash)
    aggregate for distinct-doc frequencies, the |groups|-row doc-count
    table broadcast onto it, and one groupBy(doc) reassembly — a chunk
    shared by d documents costs d rows end-to-end. The ppm test is
    exact integer arithmetic (``docs_c * 1e6 >= min_doc_ppm *
    docs_g``), and chunk identity is xxhash64 of the chunk text
    (values never surface; the oracle replays the decision on the
    strings — span-hash contract).

    Output: ``id_col``, ``group_col``, ``n_chunks``,
    ``n_boiler_chunks``, ``clean_text`` ('' when everything was
    boilerplate).
    """
    from db_cdc_poc_spark.partitioning import spread_scan

    toks = spread_scan(df).select(
        F.col(id_col).alias("id"),
        F.col(group_col).alias("grp"),
        F.posexplode(whitespace_tokens(text_col)).alias("pos", "tok"),
    )
    chunks = (
        toks.withColumn("chunk_id", (F.col("pos") / window).cast("int"))
        .groupBy("id", "grp", "chunk_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda s: s["tok"],
                ),
                " ",
            ).alias("chunk_text"),
        )
        .withColumn("__h", F.xxhash64("chunk_text"))
    )
    # chunks feeds the frequency aggregate AND the per-doc reassembly
    # join; un-cut, the explode + chunk groupBy runs once per consumer
    # (the q85/q150 2x-wall disease). localCheckpoint by default,
    # durable parquet when checkpoint_dir is set.
    from db_cdc_poc_spark.checkpointing import materialize

    chunks = materialize(chunks, checkpoint_dir, eager=False, label="boiler-chunks")
    group_docs = df.groupBy(F.col(group_col).alias("grp")).agg(
        F.count(F.lit(1)).alias("docs_g")
    )
    boiler = (
        chunks.groupBy("grp", "__h")
        .agg(F.count_distinct("id").alias("docs_c"))
        .join(F.broadcast(group_docs), "grp")
        .filter(
            (F.col("docs_c") >= min_docs)
            & (
                F.col("docs_c") * F.lit(1_000_000)
                >= F.lit(min_doc_ppm) * F.col("docs_g")
            )
        )
        .select("grp", "__h")
    )
    marked = chunks.join(
        boiler.withColumn("__b", F.lit(True)), ["grp", "__h"], "left"
    )
    return marked.groupBy("id", "grp").agg(
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
        F.sum(F.when(F.col("__b"), 1).otherwise(0)).cast("long").alias(
            "n_boiler_chunks"
        ),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("__b").isNull(),
                            F.struct("chunk_id", "chunk_text"),
                        )
                    )
                ),
                lambda s: s["chunk_text"],
            ),
            " ",
        ).alias("clean_text"),
    ).select(
        F.col("id").alias(id_col),
        F.col("grp").alias(group_col),
        "n_chunks",
        "n_boiler_chunks",
        "clean_text",
    )


# ---------------------------------------------------------------------------
# Corpus bigram statistics (n-gram LM coverage / novelty scoring)
# ---------------------------------------------------------------------------


def bigram_rows(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, bigram) — one row per positional token bigram, duplicates
    kept. Built by zipping two shifted slices of the token array (each
    input evaluated once per row — the same O(L) shape as
    ``dedup.word_ngrams_col``). Documents under 2 tokens emit no rows.
    """
    toks = whitespace_tokens(text_col)
    cnt = F.greatest(F.size(toks) - F.lit(1), F.lit(0))
    bigrams = F.zip_with(
        F.slice(toks, 1, cnt),
        F.slice(toks, 2, cnt),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    return df.select(
        F.col(id_col).alias("id"), F.explode(bigrams).alias("bigram")
    )


def bigram_coverage(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 2,
) -> DataFrame:
    """n-gram language-model coverage scoring: train bigram counts on
    the corpus itself, then score each document by the fraction of its
    bigrams the corpus has seen >= ``min_count`` times — the join-based
    skeleton of KenLM-style quality filtering (documents full of
    never-repeated bigrams are noise/boilerplate candidates; documents
    of all-common bigrams are template-like). Output: (id, n_bigrams,
    n_common, common_ppm) with ``common_ppm`` an exact integer.

    Scale: the count table is one row per distinct bigram (linear in
    corpus vocabulary, map-side partial aggregation), and the re-join
    is a shuffle equi-join on the bigram string where the count side
    has exactly one row per key — hot boilerplate bigrams skew the
    probe side only, which AQE skew-join splitting rebalances. Nothing
    here is quadratic; this is the standard distributed LM-counting
    shape.
    """
    rows = bigram_rows(df, id_col, text_col)
    # One row per (doc, bigram) with its in-doc occurrence count: the
    # corpus count is then a SUM over these, and the re-join carries
    # distinct (id, bigram) rows — a bigram repeated k times in one doc
    # joins once with weight k instead of k times.
    per_doc = rows.groupBy("id", "bigram").agg(F.count(F.lit(1)).alias("occ"))
    counts = per_doc.groupBy("bigram").agg(F.sum("occ").alias("cnt"))
    return (
        per_doc.join(counts, "bigram")
        .groupBy("id")
        .agg(
            F.sum("occ").alias("n_bigrams"),
            F.sum(F.when(F.col("cnt") >= min_count, F.col("occ")).otherwise(F.lit(0)))
            .alias("n_common"),
        )
        .select(
            "id",
            "n_bigrams",
            "n_common",
            F.expr("1000000 * n_common div n_bigrams").alias("common_ppm"),
        )
    )


def char_entropy_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document character-distribution quality signals: total and
    distinct character counts, the modal character's count, and the
    Shannon entropy of the character distribution (nats, rounded to
    5 dp) — the standard gibberish / boilerplate detector (low entropy
    = repeated filler, implausibly high = random bytes).

    Set-based: explode one row per character position (map-side
    partial aggregation collapses to one row per (doc, char) before
    the shuffle), then one aggregate per doc using the
    order-independent decomposition ``H = ln(n) - (Σ c·ln c)/n`` —
    the only float accumulation is Σ c·ln c, whose last-ulp shuffle
    wobble the 5 dp rounding absorbs.

    Output: ``(id, n_chars, n_unique_chars, top_char_count,
    char_entropy)``.
    """
    chars = df.filter(F.length(F.col(text_col)) > 0).select(
        # the length guard is load-bearing: Spark's sequence(1, 0)
        # counts DOWN to [1, 0] (default step -1), so an empty document
        # would fabricate two ''-characters; with the filter, empty
        # docs emit no row — same as the oracle's empty range()
        F.col(id_col).alias("id"),
        F.explode(
            F.expr(
                f"transform(sequence(1, length({text_col})),"
                f" i -> substr({text_col}, i, 1))"
            )
        ).alias("ch"),
    )
    counts = chars.groupBy("id", "ch").agg(F.count(F.lit(1)).alias("c"))
    n = F.sum("c")
    return counts.groupBy("id").agg(
        n.cast("long").alias("n_chars"),
        F.count(F.lit(1)).cast("long").alias("n_unique_chars"),
        F.max("c").cast("long").alias("top_char_count"),
        F.round(
            F.log(n.cast("double"))
            - F.sum(F.col("c").cast("double") * F.log(F.col("c").cast("double")))
            / n.cast("double"),
            5,
        ).alias("char_entropy"),
    )


def bigram_lm_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ndigits: int = 5,
) -> DataFrame:
    """Bigram language-model log-likelihood per document: train
    ``p(w2|w1) = c(w1 w2) / c(w1 ·)`` on the corpus itself, then score
    each document by its mean bigram log-probability — the actual
    number behind KenLM-style perplexity quality filtering
    (``bigram_coverage`` is the coverage skeleton; this is the model).
    Self-trained scores skew optimistic for verbatim-duplicated text,
    which is exactly why perplexity filters double as dedup signals.

    Shape: two linear aggregations (bigram counts, first-token
    marginals — the marginal is derived FROM the bigram table, so
    probabilities normalize exactly), then a re-join against distinct
    per-doc bigrams carrying occurrence multiplicity (a bigram repeated
    k times in one doc joins once, weighted k — the q85 trick). The
    mean is Σ occ·logp / Σ occ rounded to ``ndigits`` (the only float
    accumulation; ln-ulp and shuffle-order wobble sit ~1e-12 below the
    rounding grain).

    Output: ``(id, n_bigrams, avg_logprob)``; docs under 2 tokens emit
    no row.
    """
    bg = bigram_rows(df, id_col, text_col)
    per_doc = bg.groupBy("id", "bigram").agg(F.count(F.lit(1)).alias("occ"))
    corpus = per_doc.groupBy("bigram").agg(F.sum("occ").alias("c_bg"))
    first_tok = F.split(F.col("bigram"), " ").getItem(0)
    marginal = corpus.groupBy(first_tok.alias("w1")).agg(
        F.sum("c_bg").alias("c_w1")
    )
    logp = corpus.join(
        marginal, F.split(corpus.bigram, " ").getItem(0) == F.col("w1")
    ).select(
        "bigram",
        (
            F.log(F.col("c_bg").cast("double"))
            - F.log(F.col("c_w1").cast("double"))
        ).alias("logp"),
    )
    return (
        per_doc.join(logp, "bigram")
        .groupBy("id")
        .agg(
            F.sum("occ").alias("n_bigrams"),
            F.round(
                F.sum(F.col("occ").cast("double") * F.col("logp"))
                / F.sum("occ").cast("double"),
                ndigits,
            ).alias("avg_logprob"),
        )
    )


# --------------------------------------------------------------------------
# unicode text normalization (cleanup before dedup / tokenization)
# --------------------------------------------------------------------------

#: 1:1 character folds: curly quotes -> ASCII quotes, en/em/minus
#: dashes -> hyphen, NBSP and ideographic space -> plain space.
#: translate() maps 1 char -> 1 char on both engines, so the fold is
#: engine-replayable without any regex dialect concerns.
_FOLD_FROM = "“”‘’–—− 　"
_FOLD_TO = '""\'\'---  '

#: Zero-width / BOM / control characters to DELETE (literal characters
#: in a character class — identical meaning in Java regex and RE2).
_STRIP_CLASS = "[​‌‍﻿\x00-\x08\x0e-\x1f\x7f]"

#: Whitespace runs to collapse. Explicit characters, not \s: Java's \s
#: and RE2's \s agree on ASCII but the surrounding dialects differ on
#: unicode classes, and NBSP was already folded to ' ' above.
_WS_RUN = "[ \t\r\n\f\x0b]+"


def normalize_text(
    text: Column | str, lowercase: bool = False
) -> Column:
    """Canonical text cleanup — the first stage of every corpus
    pipeline, and a prerequisite for exact dedup (unnormalized corpora
    make byte-identical duplicates look distinct through quote style,
    NBSP, zero-width junk, or whitespace shape).

    Steps, in order: fold typographic quotes/dashes/spaces to ASCII
    (``translate``), delete zero-width + control characters, collapse
    whitespace runs to one space, trim, optionally lowercase. Pure
    Column expressions — map-only, no shuffle, scan-pipelined; every
    step uses only regex constructs whose meaning is identical in Java
    regex and RE2, so DuckDB replays it character-for-character.
    """
    c = F.col(text) if isinstance(text, str) else text
    folded = F.translate(c, _FOLD_FROM, _FOLD_TO)
    stripped = F.regexp_replace(folded, _STRIP_CLASS, "")
    collapsed = F.trim(F.regexp_replace(stripped, _WS_RUN, " "))
    return F.lower(collapsed) if lowercase else collapsed


def normalize_docs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lowercase: bool = False,
) -> DataFrame:
    """Per-document normalization report: the normalized text, its
    md5 fingerprint (the exact-dedup key), its length, and whether
    normalization changed anything. Map-only."""
    norm = normalize_text(text_col, lowercase)
    return df.select(
        F.col(id_col),
        norm.alias("norm_text"),
        F.md5(norm).alias("norm_fingerprint"),
        F.length(norm).cast("long").alias("n_chars_norm"),
        (norm != F.col(text_col)).alias("changed"),
    )


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 20,
) -> DataFrame:
    """Okapi BM25 ranked retrieval: top ``top_k`` documents for a bag
    of query terms (Robertson/Sparck Jones; the scoring function behind
    Lucene/Elasticsearch defaults) — the retrieval sibling of
    ``tfidf_terms`` for corpus search and RAG-style pre-filtering.

    score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    with the Lucene-shaped idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5)),
    which stays positive for df > N/2.

    Scale plan: tokenize once, keep ONLY query-term rows before any
    shuffle (the per-(doc,term) aggregate is over ≤ |query| terms per
    doc, so the shuffle carries a vanishing fraction of the token
    stream); df(t) and the (N, avgdl) corpus stats are tiny aggregates
    broadcast back; final top-k is TakeOrderedAndProject — no global
    sort, no window over the corpus.

    Float discipline: dl/avgdl and the ln are the same expressions on
    integer-exact inputs on both engines; each per-term score is
    rounded to 5 dp and summed in integer hundred-thousandths, so the
    doc score is addition-order-independent and the oracle replays it
    bit-for-bit. Ties at the top-k boundary break by id.

    Output: (id, n_terms_matched, score). Query terms are a SET:
    repeating a term in ``query_terms`` does not double its weight
    (qtf weighting is a BM25 variant this operator does not implement).
    """
    from db_cdc_poc_spark.partitioning import spread_scan

    terms = sorted({t.lower() for t in query_terms})
    toks = spread_scan(df).select(
        F.col(id_col).alias("id"),
        F.transform(whitespace_tokens(text_col), lambda t: F.lower(t)).alias(
            "toks"
        ),
    ).select("id", F.size("toks").alias("dl"), F.explode("toks").alias("term"))
    # corpus stats over ALL docs (dl per doc is one row pre-explode;
    # recompute cheaply from df to keep this a 1-row broadcast)
    stats = df.agg(
        F.count("*").alias("n_docs"),
        F.avg(F.size(whitespace_tokens(text_col))).alias("avgdl"),
    )
    qtf = (
        toks.filter(F.col("term").isin(terms))
        .groupBy("id", "term")
        .agg(F.count("*").alias("tf"), F.first("dl").alias("dl"))
    )
    dfreq = qtf.groupBy("term").agg(F.count("*").alias("df_t"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df_t") + 0.5) / (F.col("df_t") + 0.5)
    )
    tf_part = (F.col("tf") * (k1 + 1)) / (
        F.col("tf")
        + k1 * (1 - b + b * F.col("dl").cast("double") / F.col("avgdl"))
    )
    per_term_e5 = F.round(idf * tf_part * 100000, 0).cast("long")
    return (
        qtf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy("id")
        .agg(
            F.count("*").cast("int").alias("n_terms_matched"),
            F.sum(per_term_e5).alias("score_e5"),
        )
        .orderBy(F.col("score_e5").desc(), F.col("id"))
        .limit(top_k)
        .select(
            "id",
            "n_terms_matched",
            (F.col("score_e5").cast("double") / 100000).alias("score"),
        )
    )


#: Unicode script ranges as regex character classes. Literal BMP
#: ranges only — identical meaning in Java regex and RE2, so the
#: oracle replays counts character-for-character.
SCRIPT_CLASSES = {
    "latin": "[A-Za-zÀ-ɏ]",
    "cyrillic": "[Ѐ-ӿ]",
    "greek": "[Ͱ-Ͽ]",
    "cjk": "[぀-ヿ㐀-䶿一-鿿가-힯]",
    "digit": "[0-9]",
}


def script_profile(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document unicode-script histogram: character counts per
    script class, ppm shares, and the dominant script — the
    writing-system sibling of the stopword language-ID (``lang_id``),
    and the standard pre-filter for script-targeted corpora (e.g.
    keep-CJK, drop-mixed-script spam).

    Counting is delete-and-measure (length of the text minus length
    after deleting the class) — the one counting idiom Java regex and
    RE2 agree on for every class above. Map-only projection; shares as
    exact integer ppm (``div`` floor division, the module's idiom).
    Dominant script = argmax by count with ties broken by LIST ORDER
    (later entry wins), computed as max(count·64 + index) — pure
    integer arithmetic, so the oracle replays the tie-break exactly
    instead of depending on engine struct-comparison semantics.
    """
    c = F.col(text_col)
    n = F.length(c).cast("long")
    counts = {
        s: (n - F.length(F.regexp_replace(c, cls, ""))).cast("long")
        for s, cls in SCRIPT_CLASSES.items()
    }
    other = n - sum(counts.values(), F.lit(0).cast("long"))
    all_counts = {**counts, "other": other}
    names = list(all_counts)
    dom_code = F.greatest(
        *[v * 64 + i for i, v in enumerate(all_counts.values())]
    )
    dominant = F.element_at(
        F.array(*[F.lit(s) for s in names]), (dom_code % 64 + 1).cast("int")
    )
    base = df.select(
        F.col(id_col).alias("id"),
        n.alias("n_chars"),
        *[v.alias(f"n_{k}") for k, v in all_counts.items()],
        F.when(n > 0, dominant).alias("dominant_script"),
    )
    return base.select(
        "id",
        "n_chars",
        *[f"n_{k}" for k in all_counts],
        *[
            F.when(
                F.col("n_chars") > 0,
                F.expr(f"n_{k} * 1000000 div n_chars"),
            ).alias(f"ppm_{k}")
            for k in all_counts
        ],
        "dominant_script",
    )


def pack_examples(
    df: DataFrame,
    seq_len: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    eos: str = "<|eos|>",
    bucket_size: int = 1 << 20,
) -> DataFrame:
    """GPT-style concat-and-chunk sequence packing that MATERIALIZES
    the packed example text (the sibling of :func:`pack_sequences`,
    which computes each document's (group, seq, offset) PLACEMENT
    without assembling text) — the example-prep
    step after cleaning/dedup: documents are concatenated in ``id_col``
    order with one ``eos`` separator token after each, and the global
    token stream is cut into fixed ``seq_len`` examples (no padding;
    examples span document boundaries; the final short example is
    kept). This is the packing used by the public GPT/LLaMA training
    recipes, as opposed to per-document chunking (chunk_documents) or
    first-fit bin packing (token_budget_fill solves the budget side).

    Scale shape — the global token offset is the crux. A naive
    ``Window.orderBy(id)`` prefix-sum funnels the per-doc count
    relation through ONE reducer (1e9 docs -> one task); instead the
    offsets are a TWO-LEVEL prefix sum: (1) within-bucket running sum,
    hash-partitioned by ``id div bucket_size`` (requires a numeric
    id — the same id that defines pack order); (2) a global prefix
    over the |buckets|-row totals (bounded: 1e9 docs / 2^20 = ~1000
    rows through the single-partition window), broadcast-joined back.
    After that it is chunk_documents' shape: one explode, one
    groupBy(example_id) with deterministic array_sort assembly.

    Output: (example_id, n_tokens, n_docs, text) — n_docs counts the
    documents contributing tokens (EOS attributed to its document),
    the packing-quality number (examples spanning many tiny docs are
    a dedup/filter smell upstream).

    ID CONTRACT — ``id_col`` must be UNIQUE and NON-NEGATIVE. The
    two-level prefix sum equals the global id-ordered cumsum only
    then: a negative id makes ``id div bucket_size`` non-monotonic
    (div truncates toward zero, so -1 and +1 land in bucket 0 around
    distinct buckets for -2^20 etc.), and a duplicate id collapses two
    documents onto one offset — both silently misplace tokens.
    Guarded below with one aggregate over the (already-materialized)
    count waist: reject, don't degrade.
    """
    from pyspark.sql import Window

    from db_cdc_poc_spark.checkpointing import materialize

    counts = df.select(
        F.col(id_col).cast("long").alias("id"),
        F.size(whitespace_tokens(text_col)).cast("long").alias("n"),
    ).withColumn("bucket", F.expr(f"id div {bucket_size}"))
    # counts feeds the within-bucket window AND the bucket totals AND
    # the offset join — cut the tokenize-and-count subtree once
    # (ARCHITECTURE rule 12) instead of re-tokenizing the corpus per
    # consumer; the waist is |docs| rows of three numeric columns
    counts = materialize(counts, eager=False, label="pack-counts")
    chk = counts.agg(
        F.min("id").alias("mn"),
        F.count("id").alias("c"),
        F.count_distinct("id").alias("cd"),
    ).first()
    if chk is not None and chk.c > 0 and (chk.mn < 0 or chk.c != chk.cd):
        raise ValueError(
            f"pack_examples requires unique non-negative ids: got "
            f"min(id)={chk.mn}, {chk.c} rows over {chk.cd} distinct ids "
            f"in {id_col!r} — the bucketed prefix sum would silently "
            "misplace tokens (see docstring ID CONTRACT)"
        )
    wb = (
        Window.partitionBy("bucket")
        .orderBy("id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    within = counts.withColumn(
        "__pre", F.coalesce(F.sum(F.col("n") + 1).over(wb), F.lit(0))
    )
    btot = counts.groupBy("bucket").agg(F.sum(F.col("n") + 1).alias("__bt"))
    wg = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    bpre = btot.withColumn(
        "__boff", F.coalesce(F.sum("__bt").over(wg), F.lit(0))
    ).select("bucket", "__boff")
    offs = within.join(F.broadcast(bpre), "bucket").select(
        "id", "n", (F.col("__boff") + F.col("__pre")).alias("off")
    )
    toks = df.select(
        F.col(id_col).cast("long").alias("id"),
        F.posexplode(whitespace_tokens(text_col)).alias("pos", "tok"),
    )
    stream = toks.join(offs, "id").select(
        "id", (F.col("off") + F.col("pos")).alias("gpos"), "tok"
    ).unionAll(
        offs.select(
            "id", (F.col("off") + F.col("n")).alias("gpos"), F.lit(eos).alias("tok")
        )
    )
    return (
        stream.withColumn("example_id", F.expr(f"gpos div {seq_len}"))
        .groupBy("example_id")
        .agg(
            F.count("*").cast("int").alias("n_tokens"),
            F.count_distinct("id").cast("int").alias("n_docs"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("gpos", "tok"))),
                    lambda s: s["tok"],
                ),
                " ",
            ).alias("text"),
        )
    )


#: PII patterns shared by the Spark path and the oracle SQL — kept to
#: syntax that Java regex (Spark) and RE2 (DuckDB) match identically:
#: no lookaround, no backreferences, character classes + bounded
#: repetition only (the same cross-engine contract as canonical_url's
#: patterns). Order matters: kinds are applied in this sequence, each
#: counting/replacing on the PREVIOUS stage's output, so overlapping
#: matches resolve deterministically (an email's digits can never be
#: re-counted as a phone).
PII_KIND_PATTERNS: tuple[tuple[str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("ipv4", r"\b(\d{1,3}\.){3}\d{1,3}\b"),
    ("phone", r"\+\d{9,15}"),
)


def redact_pii_by_kind(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "clean_text",
    patterns: tuple[tuple[str, str], ...] = PII_KIND_PATTERNS,
) -> DataFrame:
    """Per-KIND PII scrubbing — the audit-grade sibling of
    :func:`redact_pii` (q56's single-[PII]-sentinel form): each
    pattern kind gets its own ``<|kind|>`` sentinel token and its own
    match count, so the corpus-level redaction rate is auditable PER
    CATEGORY (the numbers a release review reads), and the oracle SQL
    is GENERATED from this module's pattern tuple so the two engines
    cannot drift.

    Map-only: a chain of regexp_count + regexp_replace per kind, all
    JVM-side codegen — no UDF, pipelines with the scan. Counting
    happens stage-by-stage on the previous kind's output (see
    :data:`PII_KIND_PATTERNS` on ordering/overlap). Regex-based scrubbing
    is a FLOOR, not a guarantee — names/addresses need NER-grade
    tooling; the operator's job is the deterministic, cheap,
    every-document pass.

    Output: all input columns + ``n_<kind>`` ints + ``out_col``.
    """
    cur = F.col(text_col)
    out = df
    for kind, pat in patterns:
        out = out.withColumn(
            f"n_{kind}", F.regexp_count(cur, F.lit(pat)).cast("int")
        )
        cur = F.regexp_replace(cur, pat, f"<|{kind}|>")
    return out.withColumn(out_col, cur)


# --------------------------------------------------------------------------
# corpus-trained deterministic BPE (the "real tokenizer" leg behind the
# whitespace seam — ARCHITECTURE.md rule 14)
# --------------------------------------------------------------------------


class BpeModel:
    """A deterministic byte-pair-encoding model trained on the corpus.

    Carries ``merges`` (ranked pair list) and ``token_counts`` (word ->
    BPE token count for every trained vocab word). Both are PARAMETERS
    (bounded by ``vocab_cap`` / ``num_merges``), never corpus fractions
    — rule 13: at 100 TB the model is still a few thousand rows,
    broadcastable everywhere.
    """

    def __init__(
        self,
        merges: list[tuple[str, str]],
        token_counts: dict[str, int],
        vocab_cap: int,
        num_merges: int,
    ) -> None:
        self.merges = merges
        self.token_counts = token_counts
        self.vocab_cap = vocab_cap
        self.num_merges = num_merges


def _bpe_apply_merge(sym: tuple[str, ...], pair: tuple[str, str]) -> tuple[str, ...]:
    """Apply one merge exhaustively, leftmost-first."""
    out: list[str] = []
    i = 0
    while i < len(sym):
        if i + 1 < len(sym) and (sym[i], sym[i + 1]) == pair:
            out.append(sym[i] + sym[i + 1])
            i += 2
        else:
            out.append(sym[i])
            i += 1
    return tuple(out)


def bpe_tokenize(word: str, merges: list[tuple[str, str]]) -> tuple[str, ...]:
    """Tokenize one word under the model's application rule: merges
    applied sequentially IN RANK ORDER, each exhaustively leftmost-
    first. (GPT-2 re-selects the lowest-rank applicable merge after
    every step; on corpus-trained merge tables the two rules rarely
    differ and ours replays identically in any engine — determinism is
    the contract here, byte-compatibility with GPT-2 is not.)"""
    sym = tuple(word)
    for pair in merges:
        if len(sym) == 1:
            break
        sym = _bpe_apply_merge(sym, pair)
    return sym


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    num_merges: int = 200,
    vocab_cap: int = 10_000,
) -> BpeModel:
    """Train a deterministic BPE merge table from the corpus itself.

    The public GPT-2 artifacts are the obvious vendoring choice, but
    this environment is network-isolated, so the verdict's fallback is
    implemented: classic Sennrich-style training over the corpus's own
    word-frequency table (the q79 pair-count loop is the inner step),
    with every choice made total so re-training replays bit-for-bit:

    1. ONE distributed pass: whitespace word counts (map-side combine).
    2. The head of the vocabulary — ``vocab_cap`` words by
       (count DESC, word ASC) — is collected: a PARAMETER-sized table
       (rule 13), not a corpus fraction. Zipf's law makes this head
       carry almost all token mass; everything else is OOV fallback.
    3. ``num_merges`` driver-side iterations over the capped vocab:
       count adjacent symbol pairs weighted by word frequency, merge
       the (count DESC, pair ASC) winner, re-symbolize. Fixed
       iteration budget, deterministic tie-breaks, early stop when no
       pair repeats.

    Returns the merge table plus the word -> token-count lookup the
    Spark-side counter broadcasts.
    """
    words = (
        df.select(F.explode(whitespace_tokens(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "w")
        .limit(vocab_cap)
        .collect()
    )
    freq: dict[str, int] = {r.w: int(r.n) for r in words}
    syms: dict[str, tuple[str, ...]] = {w: tuple(w) for w in freq}
    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        counts: dict[tuple[str, str], int] = {}
        for w, sym in syms.items():
            n = freq[w]
            for a, b in zip(sym, sym[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + n
        if not counts:
            break
        pair, cnt = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        if cnt < 2:
            break  # nothing repeats: further merges are memorization
        merges.append(pair)
        syms = {w: _bpe_apply_merge(s, pair) for w, s in syms.items()}
    return BpeModel(
        merges,
        {w: len(s) for w, s in syms.items()},
        vocab_cap,
        num_merges,
    )


def bpe_token_count_table(spark, model: BpeModel) -> DataFrame:
    """(word, bpe_tokens) lookup DataFrame from a trained model —
    parameter-sized, intended for ``F.broadcast``."""
    from db_cdc_poc_spark.sources.exchange import local_df

    rows = sorted(model.token_counts.items())
    return local_df(spark, rows, "word string, bpe_tokens long")


def bpe_token_counts(
    df: DataFrame,
    model: BpeModel,
    text_col: str = "text",
    group_cols: Sequence[str] = ("doc_id",),
) -> DataFrame:
    """Per-group BPE token counts at corpus scale, JVM-side.

    Words explode once, the parameter-sized lookup broadcast-joins,
    and counts re-aggregate per group — no Python in the hot path.
    Out-of-vocabulary words fall back to their character count (the
    exact BPE count when no trained merge applies — a documented UPPER
    bound otherwise) and are reported per group (``oov_words``), so a
    budget consumer can SEE the coverage seam instead of silently
    absorbing it. With a Zipf head of 10k words, OOV mass is small;
    the honest fix for a production tokenizer is a bigger ``vocab_cap``
    — still a parameter, never a corpus fraction.

    Output: group_cols + (ws_tokens, bpe_tokens, oov_words).
    """
    lut = F.broadcast(bpe_token_count_table(df.sparkSession, model))
    toks = df.select(
        *group_cols, F.explode(whitespace_tokens(text_col)).alias("word")
    )
    per = toks.join(lut, "word", "left").select(
        *group_cols,
        F.coalesce(F.col("bpe_tokens"), F.length("word").cast("long")).alias(
            "t"
        ),
        F.col("bpe_tokens").isNull().cast("long").alias("oov"),
    )
    return per.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("long").alias("ws_tokens"),
        F.sum("t").cast("long").alias("bpe_tokens"),
        F.sum("oov").cast("long").alias("oov_words"),
    )
