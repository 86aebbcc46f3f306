"""Corpus-curation operators — the cleaning passes an LLM training-data
pipeline runs between raw crawl and tokenizer (C4-style boilerplate
removal, Gopher repetition filters, benchmark decontamination, PII
scrubbing, vocabulary/OOV accounting).

Published designs these follow (public papers; patterns only):
* C4 (Raffel et al. 2020) removes LINES occurring ≥3× in the corpus;
  the harness documents have no line structure, so the corpus-frequency
  primitive operates on word n-gram SPANS instead — same shape: build
  span stream, count distinct docs per span, join the "boilerplate"
  spans back.
* Gopher (Rae et al. 2021) filters docs by duplicate-n-gram fractions;
  implemented exactly (top-n-gram share + duplicate-n-gram share).
* Test-set decontamination (GPT-3 appendix; PaLM) drops training docs
  sharing long n-grams with benchmark data; the harness vocabulary is
  ~30 words, so the span length constant is 3 (a real pipeline uses
  8-13) to keep the check non-vacuous — the plan is length-agnostic.

Scale notes: every op is one explode → hash-shuffle aggregate →
(broadcast) join-back — the same one-scan, bucketed discipline as the
dedup family (operators/dedup.py). Span streams shuffle as strings
here for oracle readability; at 100 TB the span column would be
hashed to a long first (shingle_hashes_col does exactly that for the
minhash family). Nothing collects to the driver; all thresholds are
literals shared with the DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..operators.rank import ordered_scan
from ..operators.rows import map_rows
from ..operators.text import tokens_col, word_ngrams_col
from .registry import query

#: a span is "boilerplate" when it appears in ≥ this many distinct docs
#: (C4 uses 3 for full lines; 2-gram spans over a 30-word vocabulary
#: need a much higher bar to mean anything)
BOILERPLATE_MIN_DOCS = 36
#: Gopher-style repetition gates (tuned to split the harness corpus,
#: same role as the paper's 0.2 / 0.6 line-fraction thresholds)
TOP_2GRAM_MAX_SHARE = 0.05
DUP_2GRAM_MAX_SHARE = 0.05
#: decontamination span length (see module docstring)
DECONTAM_K = 3
#: benchmark subset: every 97th doc stands in for a held-out eval set
BENCHMARK_MOD = 97
#: vocabulary size for OOV accounting
VOCAB_TOP_K = 20
#: PII stand-in pattern: runs of ≥2 digits (account-number shape)
PII_PATTERN = "[0-9]{2,}"
#: per-source document quota (kept below every sf's per-source count so
#: the cap actually binds)
SOURCE_QUOTA = 15
#: mixture resampling target size (docs) — the "budget" the weighted
#: rates are solved against
MIXTURE_TARGET_DOCS = 200.0


#: canonical home is operators/text.py (word_ngrams_col); alias kept
#: for this module's many call sites and the plans/dedup lazy import
_ngrams = word_ngrams_col


def _ngram_sql(k: int) -> str:
    """DuckDB twin of `_ngrams` over the alias ``t`` (token list)."""
    parts = " || ' ' || ".join(f"t[i + {j + 1}]" for j in range(k))
    return (
        f"CASE WHEN len(t) >= {k} "
        f"THEN list_transform(range(len(t) - {k - 1}), i -> {parts}) "
        f"ELSE [] END"
    )


_TOKS_SQL = (
    "CASE WHEN trim(text) = '' THEN [] "
    "ELSE string_split_regex(trim(text), '\\s+') END"
)


# --------------------------------------------------------------------------
# C4-style corpus-frequency boilerplate detection
# --------------------------------------------------------------------------
@query(
    "boilerplate_span_stats",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source, {_TOKS_SQL} AS t FROM documents
    ),
    spans AS (
        SELECT doc_id, source, unnest({_ngram_sql(2)}) AS span FROM toks
    ),
    df AS (
        SELECT span, count(DISTINCT doc_id) AS n_docs
        FROM spans GROUP BY span
    ),
    flagged AS (
        SELECT s.source, s.span,
               (d.n_docs >= {BOILERPLATE_MIN_DOCS}) AS is_boiler
        FROM spans s JOIN df d ON s.span = d.span
    )
    SELECT source,
           count(*) AS n_spans,
           sum(CASE WHEN is_boiler THEN 1 ELSE 0 END)::BIGINT
               AS n_boiler_spans,
           round(sum(CASE WHEN is_boiler THEN 1 ELSE 0 END) * 1.0
                 / count(*), 6) AS boiler_share
    FROM flagged
    GROUP BY source
    """,
    tags=("curation", "boilerplate", "c4"),
)
def boilerplate_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4's remove-repeated-lines pass as span accounting: explode
     2-gram spans once, aggregate distinct-doc frequency per span (the
    corpus-wide "how boilerplate is this phrase" table), join it back
    to the span stream, and report the per-source share of span
    occurrences that a removal pass would delete. Two hash shuffles on
    the span key — the join-back is NOT broadcast by hint because the
    df table is corpus-sized; at 100 TB both sides are hash-partitioned
    on span (or its hash) and co-locate."""
    t = load(spark, sf_dir)
    spans = t.documents.select(
        "doc_id",
        "source",
        F.explode(_ngrams(tokens_col(F.col("text")), 2)).alias("span"),
    )
    df_tbl = spans.groupBy("span").agg(
        F.countDistinct("doc_id").alias("n_docs")
    )
    flagged = spans.join(df_tbl, "span").withColumn(
        "is_boiler", F.col("n_docs") >= BOILERPLATE_MIN_DOCS
    )
    boiler = F.sum(F.when(F.col("is_boiler"), 1).otherwise(0))
    return flagged.groupBy("source").agg(
        F.count("*").alias("n_spans"),
        boiler.alias("n_boiler_spans"),
        F.round(boiler / F.count("*"), 6).alias("boiler_share"),
    )


# --------------------------------------------------------------------------
# Gopher repetition gates
# --------------------------------------------------------------------------
@query(
    "gopher_repetition_filter",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source, {_TOKS_SQL} AS t FROM documents
    ),
    grams AS (
        SELECT doc_id, source, unnest({_ngram_sql(2)}) AS g FROM toks
    ),
    per_gram AS (
        SELECT doc_id, source, g, count(*) AS c
        FROM grams GROUP BY doc_id, source, g
    ),
    per_doc AS (
        SELECT doc_id, source,
               max(c) * 1.0 / sum(c) AS top_share,
               sum(c - 1) * 1.0 / sum(c) AS dup_share
        FROM per_gram GROUP BY doc_id, source
    )
    SELECT source,
           count(*) AS n_docs,
           sum(CASE WHEN top_share <= {TOP_2GRAM_MAX_SHARE}
                     AND dup_share <= {DUP_2GRAM_MAX_SHARE}
                    THEN 1 ELSE 0 END)::BIGINT AS n_pass,
           round(avg(top_share), 6) AS avg_top_share,
           round(avg(dup_share), 6) AS avg_dup_share
    FROM per_doc
    GROUP BY source
    """,
    tags=("curation", "repetition", "gopher"),
)
def gopher_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher's duplicate-n-gram quality gates: per doc, the share of
    2-gram occurrences held by the single most frequent 2-gram
    (top_share) and the share that are repeats of an earlier occurrence
    (dup_share); a doc passes when both are under threshold. One
    explode + two partial-aggregating hash shuffles, all keyed by
    doc_id — partition-friendly because every per-doc statistic groups
    on the same key (a single repartition serves both aggregates at
    scale)."""
    t = load(spark, sf_dir)
    grams = t.documents.select(
        "doc_id",
        "source",
        F.explode(_ngrams(tokens_col(F.col("text")), 2)).alias("g"),
    )
    per_gram = grams.groupBy("doc_id", "source", "g").agg(
        F.count("*").alias("c")
    )
    per_doc = per_gram.groupBy("doc_id", "source").agg(
        (F.max("c") / F.sum("c")).alias("top_share"),
        (F.sum(F.col("c") - 1) / F.sum("c")).alias("dup_share"),
    )
    passes = (F.col("top_share") <= TOP_2GRAM_MAX_SHARE) & (
        F.col("dup_share") <= DUP_2GRAM_MAX_SHARE
    )
    return per_doc.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(passes, 1).otherwise(0)).alias("n_pass"),
        F.round(F.avg("top_share"), 6).alias("avg_top_share"),
        F.round(F.avg("dup_share"), 6).alias("avg_dup_share"),
    )


# --------------------------------------------------------------------------
# benchmark decontamination
# --------------------------------------------------------------------------
@query(
    "benchmark_decontamination",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source, {_TOKS_SQL} AS t FROM documents
    ),
    spans AS (
        SELECT doc_id, source, unnest({_ngram_sql(DECONTAM_K)}) AS span
        FROM toks
    ),
    bench AS (
        SELECT DISTINCT span FROM spans
        WHERE doc_id % {BENCHMARK_MOD} = 0
    ),
    hits AS (
        SELECT DISTINCT s.doc_id, s.source
        FROM spans s JOIN bench b ON s.span = b.span
        WHERE s.doc_id % {BENCHMARK_MOD} <> 0
    ),
    corpus AS (
        SELECT doc_id, source FROM documents
        WHERE doc_id % {BENCHMARK_MOD} <> 0
    )
    SELECT c.source,
           count(*) AS n_docs,
           count(h.doc_id) AS n_contaminated,
           round(count(h.doc_id) * 1.0 / count(*), 6) AS contam_rate
    FROM corpus c LEFT JOIN hits h ON c.doc_id = h.doc_id
    GROUP BY c.source
    """,
    tags=("curation", "decontamination"),
)
def benchmark_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test contamination sweep: the benchmark subset's distinct
    spans form the probe side; any training doc sharing a span is
    contaminated. The benchmark span set is tiny relative to the corpus
    (held-out evals are MBs against 100 TB) so it is explicitly
    broadcast — the corpus-side span stream is scanned once and never
    shuffled; the only shuffle is the distinct-doc collapse after the
    semi join."""
    t = load(spark, sf_dir)
    spans = t.documents.select(
        "doc_id",
        "source",
        F.explode(_ngrams(tokens_col(F.col("text")), DECONTAM_K)).alias("span"),
    )
    is_bench = F.col("doc_id") % BENCHMARK_MOD == 0
    bench = spans.where(is_bench).select("span").distinct()
    hits = (
        spans.where(~is_bench)
        .join(F.broadcast(bench), "span", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    corpus = t.documents.where(~is_bench).select("doc_id", "source")
    joined = corpus.join(hits, "doc_id", "left")
    return joined.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.count("_hit").alias("n_contaminated"),
        F.round(F.count("_hit") / F.count("*"), 6).alias("contam_rate"),
    )


# --------------------------------------------------------------------------
# PII scrubbing accounting
# --------------------------------------------------------------------------
@query(
    "pii_scrub_stats",
    oracle=f"""
    WITH raw AS (
        SELECT 'customer_name' AS field, c_name AS s FROM customer
        UNION ALL
        SELECT 'event_props' AS field, props AS s FROM events
    ),
    scrubbed AS (
        SELECT field, s,
               len(regexp_extract_all(s, '{PII_PATTERN}')) AS n_hits,
               regexp_replace(s, '{PII_PATTERN}', '<NUM>', 'g') AS red
        FROM raw
    )
    SELECT field,
           count(*) AS n_rows,
           sum(n_hits)::BIGINT AS n_redactions,
           round(avg(length(s) - length(regexp_replace(
               s, '{PII_PATTERN}', '', 'g'))), 6) AS avg_chars_removed,
           round(avg(length(red)), 6) AS avg_len_redacted
    FROM scrubbed
    GROUP BY field
    """,
    tags=("curation", "pii", "redaction"),
)
def pii_scrub_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub pass (digit-run stand-in pattern — the harness corpus
    has no real emails/phones; the operator is pattern-generic) over
    two differently-shaped string columns unioned into one stream:
    count matches, measure characters removed, and the redacted
    lengths. Pure regexp_count/regexp_replace expressions — narrow
    map + one aggregate, no shuffle beyond the 2-group collapse."""
    t = load(spark, sf_dir)
    raw = t.customer.select(
        F.lit("customer_name").alias("field"), F.col("c_name").alias("s")
    ).unionByName(
        t.events.select(
            F.lit("event_props").alias("field"), F.col("props").alias("s")
        )
    )
    scrub = raw.select(
        "field",
        "s",
        F.regexp_count("s", F.lit(PII_PATTERN)).alias("n_hits"),
        F.regexp_replace("s", PII_PATTERN, "<NUM>").alias("red"),
        F.regexp_replace("s", PII_PATTERN, "").alias("gone"),
    )
    return scrub.groupBy("field").agg(
        F.count("*").alias("n_rows"),
        F.sum("n_hits").alias("n_redactions"),
        F.round(F.avg(F.length("s") - F.length("gone")), 6).alias(
            "avg_chars_removed"
        ),
        F.round(F.avg(F.length("red")), 6).alias("avg_len_redacted"),
    )


# --------------------------------------------------------------------------
# vocabulary build + OOV accounting
# --------------------------------------------------------------------------
@query(
    "vocab_oov_rate",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source, unnest({_TOKS_SQL}) AS tok FROM documents
    ),
    vocab AS (
        SELECT tok FROM (
            SELECT tok, count(*) AS c FROM toks GROUP BY tok
            ORDER BY c DESC, tok
            LIMIT {VOCAB_TOP_K}
        )
    )
    SELECT source,
           count(*) AS n_tokens,
           sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END)::BIGINT
               AS n_oov,
           round(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) * 1.0
                 / count(*), 6) AS oov_rate
    FROM toks LEFT JOIN vocab v ON toks.tok = v.tok
    GROUP BY source
    """,
    tags=("curation", "vocab", "oov"),
)
def vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-prep accounting: build the top-K corpus vocabulary
    (frequency desc, token asc tiebreak — deterministic on both
    engines) and measure each source's out-of-vocabulary token rate.
    The vocab is K rows by construction, so the membership probe is a
    broadcast left join against the token stream — the stream itself
    shuffles once for the frequency count (map-side partial sums) and
    once for the per-source rollup."""
    t = load(spark, sf_dir)
    toks = t.documents.select(
        "source", F.explode(tokens_col(F.col("text"))).alias("tok")
    )
    vocab = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("c"))
        .orderBy(F.col("c").desc(), "tok")
        .limit(VOCAB_TOP_K)
        .select("tok", F.lit(1).alias("_in_vocab"))
    )
    return (
        toks.join(F.broadcast(vocab), "tok", "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.when(F.col("_in_vocab").isNull(), 1).otherwise(0)).alias(
                "n_oov"
            ),
            F.round(
                F.sum(F.when(F.col("_in_vocab").isNull(), 1).otherwise(0))
                / F.count("*"),
                6,
            ).alias("oov_rate"),
        )
    )


# --------------------------------------------------------------------------
# cross-document duplication share (RefinedWeb-style per-doc metric)
# --------------------------------------------------------------------------
@query(
    "crossdoc_span_dup_share",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source, {_TOKS_SQL} AS t FROM documents
    ),
    spans AS (
        SELECT doc_id, source, unnest({_ngram_sql(3)}) AS span FROM toks
    ),
    df AS (
        SELECT span, count(DISTINCT doc_id) AS nd FROM spans GROUP BY span
    ),
    per_doc AS (
        SELECT s.doc_id, s.source,
               count(*) AS n_spans,
               sum(CASE WHEN d.nd >= 2 THEN 1 ELSE 0 END) AS n_dup
        FROM spans s JOIN df d ON s.span = d.span
        GROUP BY s.doc_id, s.source
    )
    SELECT source,
           count(*) AS n_docs,
           round(avg(n_dup * 1.0 / n_spans), 6) AS avg_dup_share,
           sum(CASE WHEN n_dup * 1.0 / n_spans > 0.5 THEN 1 ELSE 0 END)
               ::BIGINT AS n_mostly_dup
    FROM per_doc
    GROUP BY source
    """,
    tags=("curation", "dedup", "crossdoc"),
)
def crossdoc_span_dup_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document share of 3-gram spans that also occur in at least
    one OTHER document — the per-doc cross-corpus duplication metric
    (RefinedWeb reports exactly this distribution; boilerplate_span_
    stats is the complementary corpus-frequency view). Same two-shuffle
    shape as the boilerplate pass: span stream → distinct-doc counts →
    join back keyed on span, then per-doc and per-source rollups on the
    doc/source keys."""
    t = load(spark, sf_dir)
    spans = t.documents.select(
        "doc_id",
        "source",
        F.explode(_ngrams(tokens_col(F.col("text")), 3)).alias("span"),
    )
    df_tbl = spans.groupBy("span").agg(F.countDistinct("doc_id").alias("nd"))
    per_doc = (
        spans.join(df_tbl, "span")
        .groupBy("doc_id", "source")
        .agg(
            F.count("*").alias("n_spans"),
            F.sum(F.when(F.col("nd") >= 2, 1).otherwise(0)).alias("n_dup"),
        )
    )
    share = F.col("n_dup") / F.col("n_spans")
    return per_doc.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg(share), 6).alias("avg_dup_share"),
        F.sum(F.when(share > 0.5, 1).otherwise(0)).alias("n_mostly_dup"),
    )


# --------------------------------------------------------------------------
# per-source quota capping
# --------------------------------------------------------------------------
@query(
    "source_quota_cap",
    oracle=f"""
    WITH ranked AS (
        SELECT source, n_chars,
               row_number() OVER (
                   PARTITION BY source ORDER BY n_chars DESC, doc_id
               ) AS rn
        FROM documents
    )
    SELECT source,
           count(*) AS n_docs,
           sum(CASE WHEN rn <= {SOURCE_QUOTA} THEN 1 ELSE 0 END)::BIGINT
               AS n_kept,
           sum(CASE WHEN rn <= {SOURCE_QUOTA} THEN n_chars ELSE 0 END)
               ::BIGINT AS kept_chars
    FROM ranked
    GROUP BY source
    """,
    tags=("curation", "quota", "sampling"),
)
def source_quota_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source (per-domain) document quota — the anti-head-domain
    pass every crawl pipeline runs so a handful of giant sources can't
    dominate the mixture. Deterministic survivor order (n_chars desc,
    doc_id) makes the kept set reproducible; one window shuffle keyed
    by source, then a rollup on the SAME key — at scale the second
    aggregation reuses the window's hash partitioning, so the cap adds
    no extra exchange."""
    from pyspark.sql import Window as W

    t = load(spark, sf_dir)
    w = W.partitionBy("source").orderBy(F.col("n_chars").desc(), "doc_id")
    ranked = t.documents.select(
        "source", "n_chars", F.row_number().over(w).alias("rn")
    )
    kept = F.col("rn") <= SOURCE_QUOTA
    return ranked.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(kept, 1).otherwise(0)).alias("n_kept"),
        F.sum(F.when(kept, F.col("n_chars")).otherwise(0)).alias("kept_chars"),
    )


# --------------------------------------------------------------------------
# weighted mixture resampling
# --------------------------------------------------------------------------
@query(
    "source_mixture_sample",
    oracle=f"""
    WITH weighted AS (
        SELECT doc_id, source,
               ((substr(source, 4)::INT % 4) + 1) * 1.0 AS w
        FROM documents
    ),
    counts AS (
        SELECT source, w, count(*) AS n_docs FROM weighted GROUP BY source, w
    ),
    rates AS (
        SELECT source, w, n_docs,
               least(1.0, {MIXTURE_TARGET_DOCS!r} * w
                          / (SELECT sum(w) FROM counts) / n_docs) AS rate
        FROM counts
    )
    SELECT d.source,
           max(r.n_docs) AS n_docs,
           round(max(r.rate), 6) AS rate,
           sum(CASE WHEN ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 4))
                        ::BIGINT % 65536
                    < CAST(r.rate * 65536 AS BIGINT)
                    THEN 1 ELSE 0 END)::BIGINT AS n_kept
    FROM weighted d JOIN rates r ON d.source = r.source
    GROUP BY d.source
    """,
    tags=("curation", "mixture", "sampling"),
)
def source_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample the corpus toward target mixture weights (weight_s ∝
    (source index mod 4) + 1 — an expression both engines compute, no
    lookup table): solve per-source keep rates rate_s = min(1, T·w̄_s /
    n_s) against a document budget T, then keep rows by the portable
    md5-bucket coin (operators/sampling.hash_bucket_col semantics) so
    the sample is deterministic, repartition-stable, and
    oracle-checkable. The per-source rate table is a tiny aggregate —
    broadcast back onto the stream; no row ever shuffles for the
    sampling decision itself."""
    t = load(spark, sf_dir)
    w_col = ((F.substring("source", 4, 10).cast("int") % 4) + 1) * F.lit(1.0)
    weighted = t.documents.select("doc_id", "source", w_col.alias("w"))
    counts = weighted.groupBy("source", "w").agg(F.count("*").alias("n_docs"))
    wsum = counts.agg(F.sum("w").alias("wsum"))
    rates = counts.crossJoin(F.broadcast(wsum)).select(
        "source",
        "n_docs",
        F.least(
            F.lit(1.0),
            F.lit(MIXTURE_TARGET_DOCS) * F.col("w") / F.col("wsum") / F.col("n_docs"),
        ).alias("rate"),
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long")
        % 65536
    )
    keep = bucket < (F.col("rate") * 65536).cast("long")
    return (
        weighted.join(F.broadcast(rates), "source")
        .groupBy("source")
        .agg(
            F.max("n_docs").alias("n_docs"),
            F.round(F.max("rate"), 6).alias("rate"),
            F.sum(F.when(keep, 1).otherwise(0)).alias("n_kept"),
        )
    )


# --------------------------------------------------------------------------
# end-to-end curation funnel
# --------------------------------------------------------------------------
@query(
    "curation_funnel",
    oracle=f"""
    WITH corpus AS (
        SELECT doc_id, source, text,
               CASE WHEN trim(text) = '' THEN 0
                    ELSE len(string_split_regex(trim(text), '\\s+'))
               END AS n_tokens,
               CASE WHEN length(text) = 0 THEN 0.0
                    ELSE length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g'))
                         * 1.0 / length(text) END AS punct_ratio
        FROM documents
        WHERE doc_id % {BENCHMARK_MOD} <> 0
    ),
    flagged AS (
        SELECT *,
               (n_tokens >= 5 AND punct_ratio <= 0.2) AS q_pass,
               row_number() OVER (
                   PARTITION BY md5(text)
                   ORDER BY (n_tokens >= 5 AND punct_ratio <= 0.2) DESC,
                            doc_id
               ) AS rn
        FROM corpus
    ),
    toks AS (
        SELECT doc_id, {_TOKS_SQL} AS t FROM documents
    ),
    spans AS (
        SELECT doc_id, unnest({_ngram_sql(DECONTAM_K)}) AS span FROM toks
    ),
    bench AS (
        SELECT DISTINCT span FROM spans WHERE doc_id % {BENCHMARK_MOD} = 0
    ),
    hits AS (
        SELECT DISTINCT s.doc_id
        FROM spans s JOIN bench b ON s.span = b.span
        WHERE s.doc_id % {BENCHMARK_MOD} <> 0
    )
    SELECT f.source,
           count(*) AS n_raw,
           sum(CASE WHEN f.q_pass THEN 1 ELSE 0 END)::BIGINT AS n_quality,
           sum(CASE WHEN f.q_pass AND f.rn = 1 THEN 1 ELSE 0 END)::BIGINT
               AS n_dedup,
           sum(CASE WHEN f.q_pass AND f.rn = 1 AND h.doc_id IS NULL
                    THEN 1 ELSE 0 END)::BIGINT AS n_final,
           sum(CASE WHEN f.q_pass AND f.rn = 1 AND h.doc_id IS NULL
                    THEN f.n_tokens ELSE 0 END)::BIGINT AS final_tokens
    FROM flagged f LEFT JOIN hits h ON f.doc_id = h.doc_id
    GROUP BY f.source
    """,
    tags=("curation", "pipeline", "funnel"),
)
def curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole pre-training prep chain as ONE Catalyst plan with a
    stage-survival funnel per source: quality gates (token count +
    punctuation ratio), exact dedup (content-fingerprint window with
    quality-passing docs winning the survivor slot), and benchmark
    decontamination (broadcast span probe, computed once on the raw
    corpus). Stage flags are carried as booleans and the funnel falls
    out of ONE conditional aggregation — no intermediate
    materialization, no per-stage repartition: the fingerprint window
    and the final source rollup are the only shuffles the corpus
    takes; the span-stream shuffle runs on the (tiny) benchmark side
    of a broadcast semi-join."""
    from pyspark.sql import Window as W

    from ..operators.text import punct_ratio_col, token_count_col

    t = load(spark, sf_dir)
    is_bench = F.col("doc_id") % BENCHMARK_MOD == 0
    corpus = t.documents.where(~is_bench).select(
        "doc_id",
        "source",
        "text",
        token_count_col(F.col("text")).alias("n_tokens"),
        punct_ratio_col(F.col("text")).alias("punct_ratio"),
    )
    q_pass = (F.col("n_tokens") >= 5) & (F.col("punct_ratio") <= 0.2)
    flagged = corpus.withColumn("q_pass", q_pass).withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy(F.md5("text")).orderBy(
                F.col("q_pass").desc(), "doc_id"
            )
        ),
    )
    spans = t.documents.select(
        "doc_id", F.explode(_ngrams(tokens_col(F.col("text")), DECONTAM_K)).alias("span")
    )
    bench = spans.where(is_bench).select("span").distinct()
    hits = (
        spans.where(~is_bench)
        .join(F.broadcast(bench), "span", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    final = F.col("q_pass") & (F.col("rn") == 1) & F.col("_hit").isNull()
    survivor = F.col("q_pass") & (F.col("rn") == 1)
    return (
        flagged.join(hits, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_raw"),
            F.sum(F.when(F.col("q_pass"), 1).otherwise(0)).alias("n_quality"),
            F.sum(F.when(survivor, 1).otherwise(0)).alias("n_dedup"),
            F.sum(F.when(final, 1).otherwise(0)).alias("n_final"),
            F.sum(F.when(final, F.col("n_tokens")).otherwise(0)).alias(
                "final_tokens"
            ),
        )
    )


# --------------------------------------------------------------------------
# k-anonymity audit over quasi-identifiers
# --------------------------------------------------------------------------
_KANON = 5


@query(
    "k_anonymity_audit",
    oracle=f"""
    WITH g AS (
        SELECT c_nationkey, c_mktsegment, count(*) AS n
        FROM customer GROUP BY c_nationkey, c_mktsegment
    )
    SELECT count(*) AS n_groups,
           CAST(sum(CASE WHEN n < {_KANON} THEN 1 ELSE 0 END) AS BIGINT)
               AS n_risky_groups,
           CAST(coalesce(sum(CASE WHEN n < {_KANON} THEN n END), 0) AS BIGINT)
               AS n_risky_rows,
           min(n) AS min_group_size
    FROM g
    """,
    tags=("curation", "privacy", "profile"),
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit (Sweeney 2002): how many quasi-identifier
    combinations — here (nation, market segment) — identify fewer than
    k=5 individuals, and how many rows sit in those re-identifiable
    groups. The release gate a PII-scrubbed export runs before
    publication, complementing pii_scrub_stats' content-level redaction
    with a POPULATION-level disclosure check.

    Scale shape: one map-side-combined groupBy on the quasi-identifier
    tuple, then a 4-metric scalar aggregate over the (bounded) group
    table — two shuffles, the second over group counts only."""
    t = load(spark, sf_dir)
    g = t.customer.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count("*").alias("n")
    )
    risky = F.col("n") < _KANON
    return g.agg(
        F.count("*").alias("n_groups"),
        F.sum(F.when(risky, 1).otherwise(0)).alias("n_risky_groups"),
        F.coalesce(
            F.sum(F.when(risky, F.col("n"))), F.lit(0)
        ).alias("n_risky_rows"),
        F.min("n").alias("min_group_size"),
    )


# --------------------------------------------------------------------------
# linear quality-classifier inference (fasttext-filter stand-in)
# --------------------------------------------------------------------------
#: literal model weights: (bias, w_len, w_ttr, w_stopish) — a stand-in
#: for an offline-trained quality model, folded into the plan the same
#: way the IVF centroids and spline knots are
_QW = (-1.2, 0.004, 2.1, 1.5)
_QCUT = 0.5


@query(
    "quality_classifier_filter",
    oracle=f"""
    WITH f AS (
        SELECT source,
               len(string_split_regex(trim(text), '\\s+')) AS n_tok,
               len(list_distinct(string_split_regex(trim(text), '\\s+')))
                   AS n_uniq
        FROM documents WHERE trim(text) != ''
    ),
    s AS (
        SELECT source,
               1.0 / (1.0 + exp(-({_QW[0]} + {_QW[1]} * n_tok
                   + {_QW[2]} * (n_uniq * 1.0 / n_tok)
                   + {_QW[3]} * (CASE WHEN n_tok >= 20 THEN 1.0 ELSE 0.0 END))))
                   AS p
        FROM f
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN p > {_QCUT} THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
           round(avg(p), 6) AS avg_score
    FROM s
    GROUP BY source
    """,
    tags=("curation", "quality", "ml", "scale-path"),
)
def quality_classifier_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-model inference as a narrow codegen map: a linear
    classifier over cheap text features (token count, type-token
    ratio, length gate) with sigmoid score and keep-threshold — the
    fasttext-style quality filter every production corpus pass runs,
    with the trained weights folded into plan literals exactly like
    the Nystroem landmarks and IVF centroids.

    Scale shape: zero joins, zero shuffles before the per-source
    rollup; featurization + inference fuse into the scan. A real model
    swap-in changes only the literal weights (or, for a nonlinear
    model, becomes one Arrow-batched kernel with the same plan
    position)."""
    t = load(spark, sf_dir)
    toks = F.split(F.trim(F.col("text")), r"\s+")
    f = t.documents.where(F.trim(F.col("text")) != "").select(
        "source",
        F.size(toks).alias("n_tok"),
        F.size(F.array_distinct(toks)).alias("n_uniq"),
    )
    z = (
        F.lit(_QW[0])
        + F.lit(_QW[1]) * F.col("n_tok")
        + F.lit(_QW[2]) * (F.col("n_uniq") * 1.0 / F.col("n_tok"))
        + F.lit(_QW[3]) * F.when(F.col("n_tok") >= 20, 1.0).otherwise(0.0)
    )
    s = f.select("source", (1.0 / (1.0 + F.exp(-z))).alias("p"))
    return s.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("p") > _QCUT, 1).otherwise(0)).alias("n_kept"),
        F.round(F.avg("p"), 6).alias("avg_score"),
    )


# --------------------------------------------------------------------------
# ext — classifier evaluation: the measurement half of the quality-
# filter loop. A corpus team never ships `quality_classifier_filter`
# without (a) a ranking metric (ROC AUC) against held-out labels and
# (b) a calibration table showing whether the scores mean what they
# say. Ground-truth proxy: `lang = 'en'` (the same langid-derived
# labeling a fasttext-style English-quality filter trains on).
# --------------------------------------------------------------------------

#: integer-weight twin of `_QW` for the ranking metric: AUC is
#: invariant under monotone transforms, so ranking by an ALL-INTEGER
#: score (tokens, milli-type-token-ratio via integer division, length
#: gate) keeps the whole computation exact across engines — no
#: sigmoid/exp ULP exposure feeding the rank statistic.
_AUC_W = (40, 21, 15000)


@query(
    "quality_roc_auc",
    oracle=f"""
    WITH f AS (
        SELECT CAST({_AUC_W[0]} AS BIGINT)
                   * len(string_split_regex(trim(text), '\\s+'))
               + {_AUC_W[1]} * ((1000 * len(list_distinct(
                     string_split_regex(trim(text), '\\s+'))))
                   // len(string_split_regex(trim(text), '\\s+')))
               + {_AUC_W[2]} * (CASE WHEN len(string_split_regex(
                     trim(text), '\\s+')) >= 20 THEN 1 ELSE 0 END)
                   AS score,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS in_a,
               CASE WHEN lang = 'en' THEN 0 ELSE 1 END AS in_b
        FROM documents WHERE trim(text) != ''
    ),
    v AS (
        SELECT score, sum(in_a) AS a, sum(in_b) AS b
        FROM f GROUP BY score
    ),
    r AS (
        SELECT a, b,
               2 * (sum(a + b) OVER (ORDER BY score
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    - (a + b)) + (a + b + 1) AS dr,
               sum(a) OVER () AS na,
               sum(b) OVER () AS nb
        FROM v
    )
    SELECT CAST(max(na) AS BIGINT) AS n_pos,
           CAST(max(nb) AS BIGINT) AS n_neg,
           CAST(sum(a * dr) - max(na) * (max(na) + 1) AS BIGINT) AS u_x2,
           CAST((sum(a * dr) - max(na) * (max(na) + 1)) * 1000000
                // (2 * max(na) * max(nb)) AS BIGINT) AS auc_ppm
    FROM r
    """,
    tags=("curation", "quality", "ml", "stats", "scale-path"),
)
def quality_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tie-corrected ROC AUC of the quality score against the
    English-language label, integer-exact end to end.

    AUC equals the Mann-Whitney U statistic normalized by
    `n_pos * n_neg` (Hanley & McNeil 1982), so this reuses the exact
    rank machinery from `mann_whitney_u_returned_vs_kept`: collapse
    to distinct scores with per-class counts, doubled average ranks
    (`2*rank` stays integer under ties), one integer ppm division at
    the end. The score is an integer monotone twin of the classifier's
    linear logit (tokens, milli-TTR by integer division, length gate)
    — AUC is invariant under monotone transforms, so ranking by the
    integer score sidesteps sigmoid ULP divergence entirely while
    measuring the same ranking quality.

    Scale shape: one scan → distinct-score groupBy (cardinality ≪
    docs) → operators/rank.ordered_scan for the cumulative pooled
    counts (range repartition + partition offsets, never a
    single-task global window) → scalar aggregate. The ppm division
    widens to DECIMAL(38,0) (DuckDB promotes to HUGEINT silently)."""
    t = load(spark, sf_dir)
    toks = F.split(F.trim(F.col("text")), r"\s+")
    f = t.documents.where(F.trim(F.col("text")) != "").select(
        (
            F.lit(_AUC_W[0]) * F.size(toks).cast("long")
            + F.lit(_AUC_W[1])
            * F.expr(
                "(1000 * size(array_distinct(split(trim(text), '\\\\s+'))))"
                " div size(split(trim(text), '\\\\s+'))"
            )
            + F.lit(_AUC_W[2])
            * F.when(F.size(toks) >= 20, F.lit(1)).otherwise(F.lit(0))
        ).alias("score"),
        (F.col("lang") == "en").cast("long").alias("in_a"),
        (F.col("lang") != "en").cast("long").alias("in_b"),
    )
    v = (
        f.groupBy("score")
        .agg(F.sum("in_a").alias("a"), F.sum("in_b").alias("b"))
        .withColumn("run", F.col("a") + F.col("b"))
    )
    scanned = ordered_scan(
        v, ["score"], running={"crun": "run"}, totals={"na": "a", "nb": "b"}
    )
    run = F.col("run")
    r = scanned.select(
        "a", "b", (2 * (F.col("crun") - run) + run + 1).alias("dr"), "na", "nb"
    )
    return r.agg(
        F.max("na").alias("n_pos"),
        F.max("nb").alias("n_neg"),
        (F.sum(F.col("a") * F.col("dr")) - F.max("na") * (F.max("na") + 1))
        .cast("long")
        .alias("u_x2"),
        F.expr(
            "CAST(CAST(sum(a * dr) - max(na) * (max(na) + 1)"
            " AS DECIMAL(38,0)) * 1000000"
            " div (2 * CAST(max(na) AS DECIMAL(38,0)) * max(nb))"
            " AS BIGINT)"
        ).alias("auc_ppm"),
    )


@query(
    "quality_calibration_bins",
    oracle=f"""
    WITH f AS (
        SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
               len(string_split_regex(trim(text), '\\s+')) AS n_tok,
               len(list_distinct(string_split_regex(trim(text), '\\s+')))
                   AS n_uniq
        FROM documents WHERE trim(text) != ''
    ),
    s AS (
        SELECT y,
               1.0 / (1.0 + exp(-({_QW[0]} + {_QW[1]} * n_tok
                   + {_QW[2]} * (n_uniq * 1.0 / n_tok)
                   + {_QW[3]} * (CASE WHEN n_tok >= 20 THEN 1.0 ELSE 0.0
                       END)))) AS p
        FROM f
    )
    SELECT least(CAST(floor(p * 10) AS INT), 9) AS bin,
           count(*) AS n_docs,
           CAST(sum(y) AS BIGINT) AS n_pos,
           CAST(sum(y) * 1000000 // count(*) AS BIGINT) AS pos_rate_ppm,
           round(avg(p), 6) AS avg_p,
           round(avg((p - y) * (p - y)), 6) AS brier
    FROM s
    GROUP BY bin
    """,
    tags=("curation", "quality", "ml", "stats"),
)
def quality_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability table for the quality classifier: ten equal-width
    probability bins with observed positive rate (integer ppm) and
    per-bin Brier contribution — the diagram a corpus team reads
    before trusting `quality_classifier_filter`'s keep-threshold.

    The sigmoid score is shared with the filter query (same `_QW`
    literals); bin edges are decade boundaries of p, where a 1-ULP
    sigmoid divergence could only matter if a score landed within one
    ULP of an edge (measure-zero over real text features — and the
    same exposure `n_kept`'s `p > cutoff` comparison already carries).
    Observed rate is an exact integer division; avg/Brier are rounded
    on both engines.

    Scale shape: zero joins; featurize+score fuse into the scan; one
    hash aggregate onto ≤10 groups. Trivially 100 TB-safe."""
    t = load(spark, sf_dir)
    toks = F.split(F.trim(F.col("text")), r"\s+")
    f = t.documents.where(F.trim(F.col("text")) != "").select(
        (F.col("lang") == "en").cast("long").alias("y"),
        F.size(toks).alias("n_tok"),
        F.size(F.array_distinct(toks)).alias("n_uniq"),
    )
    z = (
        F.lit(_QW[0])
        + F.lit(_QW[1]) * F.col("n_tok")
        + F.lit(_QW[2]) * (F.col("n_uniq") * 1.0 / F.col("n_tok"))
        + F.lit(_QW[3]) * F.when(F.col("n_tok") >= 20, 1.0).otherwise(0.0)
    )
    s = f.select("y", (1.0 / (1.0 + F.exp(-z))).alias("p"))
    return (
        s.groupBy(
            F.least(F.floor(F.col("p") * 10).cast("int"), F.lit(9)).alias(
                "bin"
            )
        )
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("y").alias("n_pos"),
            F.expr(
                "CAST(sum(y) * 1000000 div count(*) AS BIGINT)"
            ).alias("pos_rate_ppm"),
            F.round(F.avg("p"), 6).alias("avg_p"),
            F.round(F.avg((F.col("p") - F.col("y")) * (F.col("p") - F.col("y"))), 6).alias(
                "brier"
            ),
        )
    )


# --------------------------------------------------------------------------
# URL canonicalization dedup (crawl-frontier hygiene)
# --------------------------------------------------------------------------
@query(
    "url_canonical_dedup",
    # The oracle does NOT re-run the normalizer: it builds the EXPECTED
    # canonical string directly ('https://<source>.example.com/p/<id>'
    # + sorted tracking-stripped query), so the Spark side's actual
    # parse-and-normalize pipeline is checked against an independent
    # expectation — one unstripped 'www.', unsorted param, kept utm_*
    # or surviving fragment changes norm_chars and breaks the hash.
    oracle="""
    WITH exp AS (
        SELECT source || '.example.com' AS host,
               'https://' || source || '.example.com/p/' || doc_id
                   || '?a=1&b=2' AS norm
        FROM documents
    )
    SELECT host,
           2 * count(*) AS n_urls,
           count(*) AS n_distinct_norm,
           count(*) AS n_tracking,
           CAST(sum(length(norm)) AS BIGINT) AS norm_chars
    FROM exp
    GROUP BY host
    """,
    tags=("curation", "urls", "dedup"),
)
def url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization — the crawl-frontier dedup every web-scale
    pipeline runs before fetch or text dedup.  Each document emits two
    raw spellings of the same page (a clean one, and a messy one with
    upper-cased scheme/host, a trailing slash, an injected utm_
    tracking parameter, shuffled query order, and a fragment); the
    normalizer lower-cases scheme+host, strips a leading 'www.',
    drops the fragment, removes utm_* params, sorts the remaining
    query and trims trailing slashes — entirely with JVM-side column
    functions (split/substring_index/array_sort inside codegen, no
    UDF, no shuffle until the final keyed aggregates).  Output per
    canonical host: raw URL count, distinct canonical count (the
    dedup), tracking-URL count, total canonical characters."""
    t = load(spark, sf_dir)
    base = t.documents.select("doc_id", "source")
    clean = F.concat(
        F.lit("https://www."), F.col("source"),
        F.lit(".example.com/p/"), F.col("doc_id").cast("string"),
        F.lit("?b=2&a=1"),
    )
    messy = F.concat(
        F.lit("HTTPS://WWW."), F.col("source"),
        F.lit(".Example.COM/p/"), F.col("doc_id").cast("string"),
        F.lit("/?utm_source=feed&a=1&b=2#sec"),
    )
    raw = base.select(F.explode(F.array(clean, messy)).alias("url"))

    per_url = (
        raw.withColumn("no_frag", F.substring_index("url", "#", 1))
        .withColumn(
            "scheme", F.lower(F.substring_index("no_frag", "://", 1))
        )
        .withColumn("rest", F.substring_index("no_frag", "://", -1))
        .withColumn(
            "host",
            F.regexp_replace(
                F.lower(F.substring_index("rest", "/", 1)), "^www\\.", ""
            ),
        )
        .withColumn("path_q", F.expr("substr(rest, instr(rest, '/'))"))
        .withColumn(
            "path",
            F.regexp_replace(
                F.when(
                    F.instr("path_q", "?") > 0,
                    F.expr("substr(path_q, 1, instr(path_q, '?') - 1)"),
                ).otherwise(F.col("path_q")),
                "/+$",
                "",
            ),
        )
        .withColumn(
            "qstr",
            F.when(
                F.instr("path_q", "?") > 0,
                F.expr("substr(path_q, instr(path_q, '?') + 1)"),
            ).otherwise(F.lit("")),
        )
        .withColumn(
            "qn",
            F.array_join(
                F.array_sort(
                    F.filter(
                        F.split("qstr", "&"),
                        lambda p: (p != "") & ~p.startswith("utm_"),
                    )
                ),
                "&",
            ),
        )
        .withColumn(
            "norm",
            F.concat(
                F.col("scheme"),
                F.lit("://"),
                F.col("host"),
                F.col("path"),
                F.when(
                    F.col("qn") != "", F.concat(F.lit("?"), F.col("qn"))
                ).otherwise(F.lit("")),
            ),
        )
        .withColumn(
            "is_tracking", F.col("url").contains("utm_").cast("long")
        )
        .select("host", "norm", "is_tracking")
    )
    counts = per_url.groupBy("host").agg(
        F.count("*").alias("n_urls"),
        F.sum("is_tracking").alias("n_tracking"),
    )
    dedup = (
        per_url.select("host", "norm")
        .distinct()
        .groupBy("host")
        .agg(
            F.count("*").alias("n_distinct_norm"),
            F.sum(F.length("norm")).cast("long").alias("norm_chars"),
        )
    )
    return counts.join(dedup, "host").select(
        "host", "n_urls", "n_distinct_norm", "n_tracking", "norm_chars"
    )


# --------------------------------------------------------------------------
# Luhn-validated PAN detection (round 9)
# --------------------------------------------------------------------------
#: deterministic 15-digit PAN bases synthesized from doc_id (the
#: fixture corpus carries no digits, so the payloads are constructed
#: the way the media queries construct theirs); multiplier is prime so
#: consecutive ids give unrelated digit patterns
_LUHN_MULT = 7919


@query(
    "luhn_pii_audit",
    # the oracle SHARES the generator arithmetic (same literals: the
    # 15-digit base and its Luhn check digit) but predicts validity
    # PURELY from the construction rule (even doc_id => correct check
    # digit). The Spark side must both generate identically AND run a
    # genuine Luhn detector over the digit string — a broken detector
    # (wrong parity, missing the >9 fold, wrong direction) flips
    # luhn_valid on some rows and breaks the hash.
    oracle=f"""
    WITH pan15 AS (
        SELECT doc_id,
               lpad(CAST((doc_id * {_LUHN_MULT} + 123456789)
                         % 1000000000000000 AS VARCHAR), 15, '0') AS p
        FROM documents
    ),
    gen AS (
        SELECT doc_id, p,
               -- Luhn sum of the 15-digit base as seen from the check
               -- digit's right: position i (1-based from left) sits
               -- 16-i from the right, so odd 16-i (i.e. even i+1...)
               -- doubles; fold >9 by subtracting 9
               list_sum(list_transform(range(1, 16), i ->
                   CASE WHEN (16 - i) % 2 = 1
                        THEN CASE WHEN substr(p, i, 1)::INT * 2 > 9
                                  THEN substr(p, i, 1)::INT * 2 - 9
                                  ELSE substr(p, i, 1)::INT * 2 END
                        ELSE substr(p, i, 1)::INT END)) AS s
        FROM pan15
    ),
    pans AS (
        SELECT doc_id,
               p || CAST(CASE WHEN doc_id % 2 = 0
                              THEN (10 - s % 10) % 10
                              ELSE ((10 - s % 10) % 10 + 1) % 10
                         END AS VARCHAR) AS pan
        FROM gen
    )
    SELECT doc_id,
           substr(pan, 13, 4) AS last4,
           doc_id % 2 = 0 AS luhn_valid
    FROM pans
    """,
    tags=("curation", "pii"),
)
def luhn_pii_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checksum-VALIDATED payment-card detection — the precision layer
    every production PII scrubber adds on top of the 16-digit regex
    (pii_scrub_stats): a candidate only counts as a card number when
    its Luhn (ISO/IEC 7812) check digit verifies, which kills the
    overwhelmingly-common false positives (order ids, timestamps,
    phone numbers with country codes).

    Per document a deterministic 16-digit candidate is synthesized
    (even doc_ids carry the correct check digit, odd ones a corrupted
    one) and the detector recomputes the checksum from the digit
    string with one codegen aggregate — doubling every second digit
    from the right and folding >9 down by 9. No UDFs; the whole
    detector is a higher-order-function expression a 100 TB scrub
    pass runs at scan speed."""
    t = load(spark, sf_dir)
    pan15 = t.documents.select(
        "doc_id",
        F.lpad(
            ((F.col("doc_id") * _LUHN_MULT + 123456789)
             % F.lit(10 ** 15)).cast("string"),
            15, "0",
        ).alias("p"),
    )
    base_sum = (
        "aggregate(sequence(1, 15), 0, (acc, i) -> acc + "
        "CASE WHEN (16 - i) % 2 = 1 "
        "THEN CASE WHEN cast(substring(p, i, 1) AS INT) * 2 > 9 "
        "     THEN cast(substring(p, i, 1) AS INT) * 2 - 9 "
        "     ELSE cast(substring(p, i, 1) AS INT) * 2 END "
        "ELSE cast(substring(p, i, 1) AS INT) END)"
    )
    gen = pan15.withColumn("s", F.expr(base_sum))
    check = (10 - F.col("s") % 10) % 10
    pans = gen.select(
        "doc_id",
        F.concat(
            F.col("p"),
            F.when(F.col("doc_id") % 2 == 0, check)
            .otherwise((check + 1) % 10)
            .cast("int").cast("string"),
        ).alias("pan"),
    )
    # the DETECTOR: full 16-digit Luhn verification, independent of
    # the generator's parity shortcut
    luhn_total = (
        "aggregate(sequence(1, 16), 0, (acc, i) -> acc + "
        "CASE WHEN (17 - i) % 2 = 0 "
        "THEN CASE WHEN cast(substring(pan, i, 1) AS INT) * 2 > 9 "
        "     THEN cast(substring(pan, i, 1) AS INT) * 2 - 9 "
        "     ELSE cast(substring(pan, i, 1) AS INT) * 2 END "
        "ELSE cast(substring(pan, i, 1) AS INT) END)"
    )
    return pans.select(
        "doc_id",
        F.substring("pan", 13, 4).alias("last4"),
        (F.expr(luhn_total) % 10 == 0).alias("luhn_valid"),
    )


# --------------------------------------------------------------------------
# Unicode NFC normalization audit
# --------------------------------------------------------------------------
#: per-doc synthesized suffixes exercising the NFC cases a crawl hits:
#: combining sequences that compose, precomposed text that is already
#: NFC, and compatibility characters NFC must LEAVE ALONE
_NFC_CASES_SQL = """CASE doc_id % 4
        WHEN 0 THEN 'e' || chr(769)            -- e + combining acute
        WHEN 1 THEN 'A' || chr(778)            -- A + combining ring
        WHEN 2 THEN chr(233)                   -- precomposed e-acute
        ELSE chr(64257)                        -- fi ligature (NFC-stable)
    END"""


@query(
    "unicode_nfc_audit",
    # the oracle runs DuckDB's ICU-backed nfc_normalize; the Spark
    # kernel runs Python's unicodedata — two INDEPENDENT Unicode
    # implementations must agree on composition behavior and code
    # point deltas, so a green hash is a real conformance check, not
    # a closed loop.
    oracle=f"""
    WITH synth AS (
        SELECT doc_id, source,
               substr(text, 1, 8) || {_NFC_CASES_SQL} AS s
        FROM documents
    ),
    n AS (
        SELECT source,
               CASE WHEN nfc_normalize(s) != s THEN 1 ELSE 0 END AS ch,
               length(nfc_normalize(s)) - length(s) AS delta
        FROM synth
    )
    SELECT source,
           count(*) AS n_docs,
           sum(ch)::BIGINT AS n_changed,
           sum(delta)::BIGINT AS delta_codepoints
    FROM n
    GROUP BY source
    """,
    tags=("curation", "unicode", "text"),
)
def unicode_nfc_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization accounting — the first text-cleaning
    pass a multilingual crawl needs (unnormalized combining sequences
    break dedup hashes, tokenizers and equality joins). Each document
    gets a deterministic suffix from the four NFC equivalence classes
    (composable combining sequence, precomposed char, NFC-stable
    compatibility ligature); the audit counts docs whose NFC form
    differs and the net code-point delta per source.

    Cross-implementation conformance: the Spark kernel normalizes with
    Python's unicodedata (UCD tables) while the oracle uses DuckDB's
    ICU nfc_normalize — agreement certifies the transform against an
    independent Unicode implementation. Scale shape: one Arrow
    mapInPandas over (doc_id, source, 9-char prefix) — the normalizer
    never sees full documents' payload beyond the audited slice here;
    a production pass would run the same kernel over the whole text
    column at scan speed."""
    t = load(spark, sf_dir)
    docs = t.documents.select(
        "doc_id", "source", F.substring("text", 1, 8).alias("prefix")
    )

    suffix = {
        0: "é", 1: "Å", 2: "é", 3: "ﬁ",
    }

    def row(doc_id, source, prefix):
        import unicodedata

        s = prefix + suffix[int(doc_id) % 4]
        n = unicodedata.normalize("NFC", s)
        yield source, int(n != s), len(n) - len(s)

    per_doc = map_rows(docs, "source string, ch int, delta int", row)
    return per_doc.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("ch").cast("long").alias("n_changed"),
        F.sum("delta").cast("long").alias("delta_codepoints"),
    )


# --------------------------------------------------------------------------
# Scorecard KS / gains table for the quality classifier (round 9)
# --------------------------------------------------------------------------
@query(
    "classifier_ks_gains",
    # the integer score and label are the quality_roc_auc pair; the
    # decile cut is the SQL-standard ntile under a total order; every
    # cumulative quantity is an exact integer, so capture/lift/KS are
    # single divisions (decile-resolution KS — the scorecard-standard
    # 10-bin gains-table form).
    oracle=f"""
    WITH f AS (
        SELECT doc_id,
               CAST({_AUC_W[0]} AS BIGINT)
                   * len(string_split_regex(trim(text), '\\s+'))
               + {_AUC_W[1]} * ((1000 * len(list_distinct(
                     string_split_regex(trim(text), '\\s+'))))
                   // len(string_split_regex(trim(text), '\\s+')))
               + {_AUC_W[2]} * (CASE WHEN len(string_split_regex(
                     trim(text), '\\s+')) >= 20 THEN 1 ELSE 0 END)
                   AS score,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
        FROM documents WHERE trim(text) != ''
    ),
    d AS (
        SELECT pos,
               ntile(10) OVER (ORDER BY score DESC, doc_id) AS decile
        FROM f
    ),
    g AS (
        SELECT decile, count(*) AS n, sum(pos) AS npos
        FROM d GROUP BY decile
    ),
    c AS (
        SELECT decile, n, npos,
               sum(n) OVER w AS cum_n,
               sum(npos) OVER w AS cum_pos,
               sum(n) OVER () AS tot_n,
               sum(npos) OVER () AS tot_pos
        FROM g
        WINDOW w AS (ORDER BY decile
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    k AS (
        SELECT max(abs(cum_pos * (tot_n - tot_pos)
                       - (cum_n - cum_pos) * tot_pos)) AS ks_num,
               max(tot_pos * (tot_n - tot_pos)) AS ks_den
        FROM c
    )
    SELECT decile,
           CAST(n AS BIGINT) AS n_docs,
           CAST(npos AS BIGINT) AS n_pos,
           round(CAST(cum_pos AS DOUBLE) / tot_pos, 6) + 0.0
               AS cum_capture,
           round((CAST(cum_pos AS DOUBLE) / cum_n)
                 / (CAST(tot_pos AS DOUBLE) / tot_n), 6) + 0.0
               AS cum_lift,
           round(CAST(k.ks_num AS DOUBLE) / k.ks_den, 6) + 0.0
               AS ks_stat
    FROM c, k
    """,
    tags=("curation", "quality", "ml", "stats", "bounded-window"),
)
def classifier_ks_gains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scorecard evaluation panel for the quality classifier: the
    10-bin gains table (per-decile positives, cumulative capture and
    lift when reading from the best-scored decile down) plus the
    decile-resolution Kolmogorov-Smirnov separation statistic — the
    credit-scoring trio (gains/lift/KS) beside quality_roc_auc's
    single ranking number and quality_calibration_bins' probability
    view (Siddiqi's scorecard validation set).

    Scale shape + parity: the integer score/label pair is shared with
    quality_roc_auc; the decile cut is operators/rank.global_ntile
    under a total (score DESC, doc_id) order; all cumulative math is
    exact integers over the bounded 10-row frame, with KS maximized
    as an integer cross-product before the one division."""
    from pyspark.sql import Window as W

    from ..operators.rank import global_ntile

    t = load(spark, sf_dir)
    toks = F.split(F.trim(F.col("text")), r"\s+")
    f = t.documents.where(F.trim(F.col("text")) != "").select(
        "doc_id",
        (
            F.lit(_AUC_W[0]) * F.size(toks).cast("long")
            + F.lit(_AUC_W[1])
            * F.expr(
                "(1000 * size(array_distinct(split(trim(text), '\\\\s+'))))"
                " div size(split(trim(text), '\\\\s+'))"
            )
            + F.lit(_AUC_W[2])
            * F.when(F.size(toks) >= 20, 1).otherwise(0)
        ).alias("score"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("pos"),
    )
    d = global_ntile(
        f, [F.col("score").desc(), F.col("doc_id")], 10, "decile"
    )
    g = d.groupBy("decile").agg(
        F.count("*").alias("n"), F.sum("pos").alias("npos")
    )
    wc = W.orderBy("decile").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    wall = W.partitionBy()
    c = g.select(
        "decile", "n", "npos",
        F.sum("n").over(wc).alias("cum_n"),
        F.sum("npos").over(wc).alias("cum_pos"),
        F.sum("n").over(wall).alias("tot_n"),
        F.sum("npos").over(wall).alias("tot_pos"),
    )
    tot_neg = F.col("tot_n") - F.col("tot_pos")
    cum_neg = F.col("cum_n") - F.col("cum_pos")
    k = c.agg(
        F.max(
            F.abs(
                F.col("cum_pos") * tot_neg - cum_neg * F.col("tot_pos")
            )
        ).alias("ks_num"),
        F.max(F.col("tot_pos") * tot_neg).alias("ks_den"),
    )
    j = c.crossJoin(F.broadcast(k))
    return j.select(
        "decile",
        F.col("n").cast("long").alias("n_docs"),
        F.col("npos").cast("long").alias("n_pos"),
        (
            F.round(
                F.col("cum_pos").cast("double") / F.col("tot_pos"), 6
            ) + 0.0
        ).alias("cum_capture"),
        (
            F.round(
                (F.col("cum_pos").cast("double") / F.col("cum_n"))
                / (F.col("tot_pos").cast("double") / F.col("tot_n")),
                6,
            ) + 0.0
        ).alias("cum_lift"),
        (
            F.round(
                F.col("ks_num").cast("double") / F.col("ks_den"), 6
            ) + 0.0
        ).alias("ks_stat"),
    )


# --------------------------------------------------------------------------
# DSIR-style importance resampling (r11): Xie et al. 2023, "Data
# Selection for Language Models via Importance Resampling" — score raw
# documents by the log-likelihood ratio of hashed-token features under
# a target-corpus unigram model vs the raw-pool model, then keep the
# top of the raw pool. The method behind domain-matched pretraining
# mixes; here the "target" is a fixed deterministic seed slice so both
# engines (and reruns) agree exactly.
# --------------------------------------------------------------------------
_DSIR_BUCKETS = 256   #: hashed-feature dimensionality
_DSIR_SEEDMOD = 10    #: doc_id % this < _DSIR_SEEDCUT = the target slice
_DSIR_SEEDCUT = 2
_DSIR_TOPK = 20       #: raw documents kept


@query(
    "dsir_importance_selection",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id, source,
               doc_id % {_DSIR_SEEDMOD} < {_DSIR_SEEDCUT} AS is_target,
               CAST(('0x' || substr(md5(unnest(
                   CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                        ELSE string_split_regex(trim(text), '\s+') END)),
                   1, 15)) AS BIGINT) % {_DSIR_BUCKETS} AS b
        FROM documents
    ),
    tcnt AS (
        SELECT b, count(*) AS ct FROM toks WHERE is_target GROUP BY b
    ),
    rcnt AS (
        SELECT b, count(*) AS cr FROM toks WHERE NOT is_target GROUP BY b
    ),
    tot AS (
        SELECT (SELECT sum(ct) FROM tcnt) AS nt,
               (SELECT sum(cr) FROM rcnt) AS nr
    ),
    lr AS (
        SELECT u.b,
               ln((coalesce(t.ct, 0) + 1.0) / (tot.nt + {_DSIR_BUCKETS}))
             - ln((coalesce(r.cr, 0) + 1.0) / (tot.nr + {_DSIR_BUCKETS}))
                   AS lt
        FROM (SELECT unnest(range({_DSIR_BUCKETS})) AS b) u
        LEFT JOIN tcnt t ON t.b = u.b
        LEFT JOIN rcnt r ON r.b = u.b, tot
    ),
    scored AS (
        SELECT k.doc_id, k.source, round(sum(lr.lt), 6) AS log_weight
        FROM toks k JOIN lr ON lr.b = k.b
        WHERE NOT k.is_target
        GROUP BY k.doc_id, k.source
    )
    SELECT doc_id, source, log_weight + 0.0 AS log_weight
    FROM (
        SELECT *, row_number() OVER (
            ORDER BY log_weight DESC, doc_id
        ) AS rn FROM scored
    ) WHERE rn <= {_DSIR_TOPK}
    """,
    tags=("curation", "selection", "lm"),
)
def dsir_importance_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al. 2023): hashed-unigram features
    (md5 mod {_DSIR_BUCKETS}), add-1-smoothed bucket distributions for
    the target slice (doc_id % {_DSIR_SEEDMOD} < {_DSIR_SEEDCUT}) and
    the raw pool, per-raw-doc importance log-weight = Σ_tokens
    ln(p_target(b)/p_raw(b)), keep the top {_DSIR_TOPK} raw documents
    — the importance-resampling selection step that builds
    domain-matched pretraining mixtures. (The paper samples with
    Gumbel noise; the registered form keeps the deterministic top-k so
    the oracle pins exact values.)

    Scale shape: the feature table is {_DSIR_BUCKETS} rows however big
    the corpus is (one map-side-combined groupBy to train each model,
    broadcast back to the token stream); per-doc weights are one more
    keyed aggregate; top-k is TakeOrdered, never a global sort. Every
    stage linear in corpus tokens."""
    t = load(spark, sf_dir)
    toks = t.documents.select(
        "doc_id",
        "source",
        ((F.col("doc_id") % _DSIR_SEEDMOD) < _DSIR_SEEDCUT).alias(
            "is_target"
        ),
        F.explode(tokens_col(F.col("text"))).alias("tok"),
    ).select(
        "doc_id",
        "source",
        "is_target",
        (
            F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("long")
            % _DSIR_BUCKETS
        ).alias("b"),
    )
    tcnt = toks.where("is_target").groupBy("b").agg(
        F.count("*").alias("ct")
    )
    rcnt = toks.where(~F.col("is_target")).groupBy("b").agg(
        F.count("*").alias("cr")
    )
    buckets = spark.range(_DSIR_BUCKETS).select(F.col("id").alias("b"))
    lr = (
        buckets.join(F.broadcast(tcnt), "b", "left")
        .join(F.broadcast(rcnt), "b", "left")
        .crossJoin(
            F.broadcast(
                tcnt.agg(F.sum("ct").alias("nt")).crossJoin(
                    rcnt.agg(F.sum("cr").alias("nr"))
                )
            )
        )
        .select(
            "b",
            (
                F.log(
                    (F.coalesce("ct", F.lit(0)) + 1.0)
                    / (F.col("nt") + _DSIR_BUCKETS)
                )
                - F.log(
                    (F.coalesce("cr", F.lit(0)) + 1.0)
                    / (F.col("nr") + _DSIR_BUCKETS)
                )
            ).alias("lt"),
        )
    )
    scored = (
        toks.where(~F.col("is_target"))
        .join(F.broadcast(lr), "b")
        .groupBy("doc_id", "source")
        .agg((F.round(F.sum("lt"), 6) + 0.0).alias("log_weight"))
    )
    return scored.orderBy(
        F.col("log_weight").desc(), "doc_id"
    ).limit(_DSIR_TOPK)
