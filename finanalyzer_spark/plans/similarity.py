"""Similarity-search queries over `embeddings` (SURVEY.md §7 Phase 5).

Brute-force cosine top-k is the oracle-checked baseline; the
hyperplane-LSH bucket assignment is the 100 TB scale path (bucketed
candidate generation instead of all-pairs).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .artifacts import materialized, source_fingerprint
from ..catalog import load
from ..operators.sqlexpr import (
    arr_dlit,
    assign_case_sql,
    cosine_sql,
    dlit,
    dot_sql,
    norm_sql,
)
from ..operators.similarity import (
    cosine_bucketed_pairs,
    cosine_col,
    cosine_topk,
    hyperplane_lsh_buckets,
    lsh_planes,
)
from .registry import query


def _bucket_bits_sql(num_planes: int = 8, dim: int = 64, seed: int = 42) -> str:
    """Sign-bit bucket expression over `v` with the plane vectors
    interpolated as double literals — the DuckDB half of the shared-
    constants trick (both engines fold identical IEEE doubles, so the
    bucket assignment is bit-for-bit comparable)."""
    planes = lsh_planes(num_planes, dim, seed)
    return "\n         + ".join(
        f"(CASE WHEN list_dot_product(v, [{', '.join(repr(x) for x in p)}]) > 0 "
        f"THEN {2**i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )


# --------------------------------------------------------------------------
# Corpus-adaptive LSH geometry (VERDICT r11 #6): a FIXED plane count is
# the one knob that breaks sign-bit bucketing at scale — occupancy is
# n / 2^p, so a constant p drifts toward over-cap buckets (all dropped)
# as the corpus grows and toward empty buckets (no candidates) as it
# shrinks. The plane count therefore derives from the measured corpus
# count: the smallest p with 2^p >= n / target_occupancy, clamped to
# [PMIN, PMAX]. Both engines compute p with exact integer threshold
# tests (never float log2, whose rounding at powers of two differs
# between runtimes), and both mask the SAME static PMAX-plane bucket
# down to its low p bits. lsh_planes draws plane i before plane i+1
# from one seeded stream, so the first p planes of the PMAX set ARE
# the p-plane set — masking low bits is exactly "use p planes", and at
# a corpus size where p equals the old fixed constant the buckets are
# bit-identical to the fixed-geometry build.
# --------------------------------------------------------------------------
_ADAPT_PMIN = 5    #: floor — fewer bits is too coarse even for tiny corpora
_ADAPT_PMAX = 12   #: static plane-set size (covers ~128k vectors at OCC=32)
_ADAPT_OCC = 32    #: target mean bucket occupancy the plane count aims at


def _plane_count_sql(corpus: str = "e") -> str:
    """CTE body computing the adaptive plane count p over ``corpus``.
    Use as: ``pcnt AS ({_plane_count_sql()})`` then
    ``... % CAST(pow(2, p.p) AS BIGINT)`` with ``FROM ..., pcnt p``."""
    terms = " + ".join(
        f"(CASE WHEN count(*) > {_ADAPT_OCC * 2 ** (j - 1)} THEN 1 ELSE 0 END)"
        for j in range(_ADAPT_PMIN + 1, _ADAPT_PMAX + 1)
    )
    return f"SELECT {_ADAPT_PMIN} + {terms} AS p FROM {corpus}"


def _plane_count_col(n_col: F.Column) -> F.Column:
    """Spark twin of _plane_count_sql: p from a count column."""
    p = F.lit(_ADAPT_PMIN)
    for j in range(_ADAPT_PMIN + 1, _ADAPT_PMAX + 1):
        p = p + F.when(
            n_col > _ADAPT_OCC * 2 ** (j - 1), F.lit(1)
        ).otherwise(F.lit(0))
    return p


def _adaptive_mask_col(p_col: F.Column) -> F.Column:
    """2^p as an exact long (pow is exact for p <= 52)."""
    return F.pow(F.lit(2.0), p_col.cast("double")).cast("long")


def adaptive_lsh_buckets(
    df: DataFrame,
    corpus: DataFrame,
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """``hyperplane_lsh_buckets`` with the plane count derived from the
    corpus size: computes the static {_ADAPT_PMAX}-plane bucket, then
    masks it to the low p bits where p = the adaptive plane count over
    ``corpus``. Fully in-plan: the count is a 1-row aggregate broadcast
    into the projection — no driver-side collect."""
    b = hyperplane_lsh_buckets(
        df, vec_col, num_planes=_ADAPT_PMAX, dim=64, seed=seed
    )
    pc = corpus.agg(_plane_count_col(F.count("*")).alias("_p"))
    return (
        b.crossJoin(F.broadcast(pc))
        .withColumn(
            "lsh_bucket",
            F.pmod(F.col("lsh_bucket"), _adaptive_mask_col(F.col("_p"))),
        )
        .drop("_p")
    )


@query(
    "cosine_topk",
    oracle="""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS match_id,
               round(list_cosine_similarity(q.v, c.v), 5) + 0.0 AS cosine
        FROM e q
        JOIN e c ON c.vec_id != q.vec_id
        WHERE q.vec_id < 5
    )
    SELECT query_id, match_id, cosine
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, match_id
        ) AS rn
        FROM scored
    )
    WHERE rn <= 5
    """,
    tags=("similarity", "ann", "flagship"),
)
def cosine_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 nearest neighbors by cosine for query vectors vec_id<5.
    Query side broadcast; corpus scanned exactly once."""
    t = load(spark, sf_dir)
    return cosine_topk(
        corpus=t.embeddings,
        queries=t.embeddings.where(F.col("vec_id") < 5),
        id_col="vec_id",
        vec_col="embedding",
        k=5,
    )


def _near_dup_oracle(num_planes: int = 4, dim: int = 64) -> str:
    """DuckDB twin of the LSH-bucketed near-dup pairs: identical plane
    literals → identical buckets → identical candidate set, then the
    same round-5 cosine threshold on both engines."""
    return f"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    b AS (
        SELECT vec_id, label, v,
           {_bucket_bits_sql(num_planes, dim)} AS bucket
        FROM e
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.v, b.v), 5) + 0.0 AS cosine,
           CAST(a.label = b.label AS BOOLEAN) AS same_label
    FROM b a
    JOIN b b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(a.v, b.v), 5) > 0.40
    """


@query(
    "embedding_near_dup",
    oracle=_near_dup_oracle(),
    tags=("similarity", "dedup", "scale-path"),
)
def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs above a threshold, with
    LSH-bucketed candidate generation (operators.similarity.
    cosine_bucketed_pairs): an equality self-join on the 4-plane
    sign-bit bucket replaces the all-pairs comparison — one
    hash-partitionable shuffle, exact codegen cosine within buckets
    only, no driver-side materialization.  Recall knob = num_planes
    (4 planes → 16 buckets keeps recall high for the near-dup band
    while cutting candidate pairs ~16×); the oracle shares the plane
    literals so the bucketed semantics are exactly checkable."""
    t = load(spark, sf_dir)
    return cosine_bucketed_pairs(
        t.embeddings,
        id_col="vec_id",
        vec_col="embedding",
        threshold=0.40,
        label_col="label",
        num_planes=4,
        dim=64,
    )


def _ann_lsh_oracle(dim: int = 64, k: int = 5, q_cut: int = 8) -> str:
    """Generate the DuckDB twin of the LSH-bucketed ANN: the plane
    vectors are interpolated as double literals, so both engines compute
    identical sign-bit buckets (same fold order, same IEEE doubles).
    The bucket is the static {_ADAPT_PMAX}-plane id masked to the low p
    bits, p computed from the corpus count by the same exact integer
    threshold tests the Spark side folds (corpus-adaptive geometry)."""
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    pcnt AS ({_plane_count_sql("e")}),
    b AS (
        SELECT vec_id, v,
           ({_bucket_bits_sql(_ADAPT_PMAX, dim)})
               % CAST(pow(2, p.p) AS BIGINT) AS bucket
        FROM e, pcnt p
    ),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS match_id,
               round(list_cosine_similarity(q.v, c.v), 5) + 0.0 AS cosine
        FROM b q
        JOIN b c ON c.bucket = q.bucket AND c.vec_id != q.vec_id
        WHERE q.vec_id < {q_cut}
    )
    SELECT query_id, match_id, cosine
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, match_id
        ) AS rn
        FROM scored
    )
    WHERE rn <= {k}
    """


@query(
    "ann_lsh_topk",
    oracle=_ann_lsh_oracle(),
    tags=("similarity", "ann", "lsh", "scale-path"),
)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-k — the 100 TB scale path for
    cosine_topk: candidates come from an equality join on the sign-bit
    bucket (hash-partitionable, no all-pairs blowup), then exact cosine
    re-ranks within the bucket. The plane count is corpus-adaptive
    (smallest p with 2^p >= n/{_ADAPT_OCC}, clamped to
    [{_ADAPT_PMIN}, {_ADAPT_PMAX}]): a fixed p would drift toward
    empty buckets as the corpus shrinks and over-cap buckets as it
    grows — the one geometry knob SCALE.md r11 flagged as open. The
    oracle folds the identical threshold tests, so the check stays
    exact at every corpus size."""
    t = load(spark, sf_dir)
    b = adaptive_lsh_buckets(t.embeddings, t.embeddings, "embedding")
    q = b.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        "lsh_bucket",
        F.col("embedding").alias("_qvec"),
    )
    c = b.select(
        F.col("vec_id").alias("match_id"),
        "lsh_bucket",
        F.col("embedding").alias("_cvec"),
    )
    scored = (
        c.join(F.broadcast(q), "lsh_bucket")
        .where(F.col("match_id") != F.col("query_id"))
        .select(
            "query_id",
            "match_id",
            (F.round(cosine_col(F.col("_qvec"), F.col("_cvec")), 5) + 0.0).alias(
                "cosine"
            ),
        )
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("match_id"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= 5)
        .drop("_rn")
    )


def _bucket_histogram_oracle(num_planes: int = 8, dim: int = 64) -> str:
    """The plane literals are shared (lsh_planes seed=42), so the bucket
    assignment — and hence the whole histogram — is exactly twinned."""
    return f"""
    WITH e AS (SELECT embedding::DOUBLE[] AS v FROM embeddings)
    SELECT CAST({_bucket_bits_sql(num_planes, dim)} AS BIGINT) AS lsh_bucket,
           count(*) AS n_vectors
    FROM e
    GROUP BY 1
    """


@query(
    "lsh_bucket_histogram",
    oracle=_bucket_histogram_oracle(),
    tags=("similarity", "lsh"),
)
def lsh_bucket_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH bucket occupancy — the candidate-generation
    structure for ANN at scale (deterministic planes, seed=42)."""
    t = load(spark, sf_dir)
    return (
        hyperplane_lsh_buckets(t.embeddings, "embedding", num_planes=8, dim=64)
        .groupBy("lsh_bucket")
        .agg(F.count("*").alias("n_vectors"))
    )


def _ann_ivf_oracle(dim: int = 64, nprobe: int = 2, k: int = 5) -> str:
    """DuckDB twin of the IVF path: identical centroids (per-label mean,
    each component rounded to 6 digits on both engines), identical probe
    ranking and in-cluster re-rank."""
    return f"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    un AS (
        SELECT label, i, v[i] AS x
        FROM e, generate_series(1, {dim}) AS g(i)
    ),
    cent AS (
        SELECT label, list(round(m, 6) ORDER BY i) AS c
        FROM (SELECT label, i, avg(x) AS m FROM un GROUP BY label, i)
        GROUP BY label
    ),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 8),
    probe AS (
        SELECT query_id, label, qv FROM (
            SELECT q.query_id, cent.label, q.qv,
                   row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY round(list_cosine_similarity(q.qv, cent.c), 5)
                                DESC, cent.label
                   ) AS rn
            FROM q, cent
        )
        WHERE rn <= {nprobe}
    ),
    scored AS (
        SELECT p.query_id, e.vec_id AS match_id,
               round(list_cosine_similarity(p.qv, e.v), 5) + 0.0 AS cosine
        FROM probe p
        JOIN e ON e.label = p.label AND e.vec_id != p.query_id
    )
    SELECT query_id, match_id, cosine
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, match_id
        ) AS rn
        FROM scored
    )
    WHERE rn <= {k}
    """


@query(
    "ann_ivf_topk",
    oracle=_ann_ivf_oracle(),
    tags=("similarity", "ann", "ivf", "scale-path"),
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: coarse quantizer = per-label centroids (at 100 TB
    these come from a k-means fit; the label column stands in as the
    trained assignment, keeping the oracle exact), probe the top-2
    clusters per query, exact re-rank inside probed clusters only.

    Scan economics: centroids are tiny (n_clusters × dim) → broadcast;
    the candidate join is an equality join on the cluster id —
    hash-partitionable, touching only probed inverted lists instead of
    the full corpus (the LSH variant's bucket join, with a trained
    codebook instead of random planes)."""
    dim, nprobe, k = 64, 2, 5
    t = load(spark, sf_dir)
    e = t.embeddings
    cent = e.groupBy("label").agg(
        F.expr(
            "array(" + ", ".join(
                f"round(avg(CAST(embedding[{i}] AS DOUBLE)), 6)"
                for i in range(dim)
            ) + ")"
        ).alias("cvec")
    )
    q = e.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    ranked = q.crossJoin(F.broadcast(cent)).select(
        "query_id",
        "qv",
        F.col("label"),
        F.round(cosine_col(F.col("qv"), F.col("cvec")), 5).alias("ccos"),
    )
    from pyspark.sql import Window as W

    wp = W.partitionBy("query_id").orderBy(F.col("ccos").desc(), F.col("label"))
    probe = (
        ranked.withColumn("_rn", F.row_number().over(wp))
        .where(F.col("_rn") <= nprobe)
        .select("query_id", "label", "qv")
    )
    scored = (
        e.join(F.broadcast(probe), "label")
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("match_id"),
            (F.round(cosine_col(F.col("qv"), F.col("embedding")), 5) + 0.0).alias(
                "cosine"
            ),
        )
    )
    wk = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("match_id"))
    return (
        scored.withColumn("_rn", F.row_number().over(wk))
        .where(F.col("_rn") <= k)
        .drop("_rn")
    )


# --------------------------------------------------------------------------
# ext — higher-order array functions as the vector-math surface:
# transform / aggregate / zip_with stay inside codegen (no UDF, no
# serialization) — the JVM-side path for embedding feature stats
# --------------------------------------------------------------------------
@query(
    "vector_norm_stats",
    oracle="""
    SELECT label,
           round(avg(sqrt(list_aggregate(list_transform(embedding::DOUBLE[], x -> x * x), 'sum'))), 5)
               AS avg_l2,
           round(max(list_aggregate(embedding::DOUBLE[], 'max')), 5) AS max_component,
           round(avg(embedding[1]::DOUBLE), 5) AS avg_first
    FROM embeddings
    GROUP BY label
    """,
    tags=("similarity", "higher-order", "array"),
)
def vector_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding stats via higher-order functions
    (F.aggregate for the L2 norm, F.array_max, element access) — all
    whole-stage-codegen expressions; the 100 TB path never leaves the
    JVM."""
    t = load(spark, sf_dir)
    emb = F.transform("embedding", lambda x: x.cast("double"))
    l2 = F.sqrt(
        F.aggregate(
            F.transform("embedding", lambda x: (x * x).cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    return t.embeddings.groupBy("label").agg(
        F.round(F.avg(l2), 5).alias("avg_l2"),
        F.round(F.max(F.array_max(emb)), 5).alias("max_component"),
        F.round(F.avg(F.col("embedding")[0].cast("double")), 5).alias("avg_first"),
    )


# --------------------------------------------------------------------------
# ANN quality evaluation: recall of the LSH path vs exact top-k
# --------------------------------------------------------------------------
def _ann_recall_oracle(k: int = 5, q_cut: int = 5) -> str:
    """Compose the existing exact and LSH oracle fragments: recall@k =
    |lsh ∩ exact| / k per query, with both sides built from the same
    shared plane literals the component queries already prove."""
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    exact_scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS match_id,
               round(list_cosine_similarity(q.v, c.v), 5) + 0.0 AS cosine
        FROM e q JOIN e c ON c.vec_id != q.vec_id
        WHERE q.vec_id < {q_cut}
    ),
    exact_topk AS (
        SELECT query_id, match_id FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cosine DESC, match_id
            ) AS rn FROM exact_scored
        ) WHERE rn <= {k}
    ),
    pcnt AS ({_plane_count_sql("e")}),
    b AS (
        SELECT vec_id, v,
           ({_bucket_bits_sql(_ADAPT_PMAX, 64)})
               % CAST(pow(2, p.p) AS BIGINT) AS bucket
        FROM e, pcnt p
    ),
    lsh_scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS match_id,
               round(list_cosine_similarity(q.v, c.v), 5) + 0.0 AS cosine
        FROM b q JOIN b c ON c.bucket = q.bucket AND c.vec_id != q.vec_id
        WHERE q.vec_id < {q_cut}
    ),
    lsh_topk AS (
        SELECT query_id, match_id FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cosine DESC, match_id
            ) AS rn FROM lsh_scored
        ) WHERE rn <= {k}
    )
    SELECT x.query_id,
           count(l.match_id) AS n_hits,
           round(count(l.match_id) * 1.0 / {k}, 6) AS recall_at_{k}
    FROM exact_topk x
    LEFT JOIN lsh_topk l
      ON x.query_id = l.query_id AND x.match_id = l.match_id
    GROUP BY x.query_id
    """


@query(
    "ann_recall_eval",
    oracle=_ann_recall_oracle(),
    tags=("similarity", "ann", "eval"),
)
def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-evaluating ANN: recall@5 of the LSH-bucketed path against
    the exact brute-force top-5 for the same queries — the measurement
    loop that tunes num_planes in production. Both sides reuse the
    component operators (cosine_topk, hyperplane LSH re-rank); the
    intersection is a per-query left join of two k-row-per-query
    frames, so the eval costs one extra tiny join over running the two
    searches. At 100 TB this runs on a sampled query set while the
    exact side is the expensive scan — exactly how ANN indexes are
    evaluated offline."""
    t = load(spark, sf_dir)
    k, q_cut = 5, 5
    queries_df = t.embeddings.where(F.col("vec_id") < q_cut)
    exact = cosine_topk(
        corpus=t.embeddings, queries=queries_df, id_col="vec_id",
        vec_col="embedding", k=k,
    ).select("query_id", "match_id")

    b = adaptive_lsh_buckets(t.embeddings, t.embeddings, "embedding")
    q = b.where(F.col("vec_id") < q_cut).select(
        F.col("vec_id").alias("query_id"), "lsh_bucket",
        F.col("embedding").alias("_qvec"),
    )
    c = b.select(
        F.col("vec_id").alias("match_id"), "lsh_bucket",
        F.col("embedding").alias("_cvec"),
    )
    from pyspark.sql import Window as W

    scored = (
        c.join(F.broadcast(q), "lsh_bucket")
        .where(F.col("match_id") != F.col("query_id"))
        .select(
            "query_id", "match_id",
            (F.round(cosine_col(F.col("_qvec"), F.col("_cvec")), 5) + 0.0).alias(
                "cosine"
            ),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("match_id"))
    lsh = (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .select("query_id", "match_id", F.lit(1).alias("_hit"))
    )
    return (
        exact.join(F.broadcast(lsh), ["query_id", "match_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("_hit").alias("n_hits"),
            F.round(F.count("_hit") * 1.0 / k, 6).alias(f"recall_at_{k}"),
        )
    )


# --------------------------------------------------------------------------
# ext — SQ8 scalar-quantized ANN scoring: the memory-compression leg of
# large-scale similarity search (FAISS IndexScalarQuantizer QT_8bit).
# Corpus vectors store as 64 uint8 codes (8x smaller than float64);
# scoring reconstructs midpoints and ranks by asymmetric (raw-query vs
# reconstructed-corpus) cosine. Quantizer training is just per-dim
# min/max — one aggregate pass, exactly SQL-expressible, so unlike
# k-means codebooks the oracle replicates the codec bit-for-bit.
# --------------------------------------------------------------------------
def _sq8_rec_cte(dim: int = 64) -> str:
    """Shared CTE fragment: per-dim min/max stats and the SQ8
    reconstructed corpus `rec(vec_id, r)` — the codec half both the
    top-k oracle and the recall-eval oracle build on."""
    return f"""
    dims AS (
        SELECT u.i AS i, min(e.v[u.i]) AS mn, max(e.v[u.i]) AS mx
        FROM e, (SELECT unnest(range(1, {dim + 1})) AS i) u
        GROUP BY u.i
    ),
    st AS (
        SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs
        FROM dims
    ),
    rec AS (
        SELECT vec_id,
               list_transform(range(1, {dim + 1}), i ->
                   CASE WHEN mxs[i] = mns[i] THEN mns[i]
                        ELSE mns[i]
                             + (least(255.0, greatest(0.0,
                                  floor((v[i] - mns[i])
                                        / (mxs[i] - mns[i]) * 256)))
                                + 0.5)
                               * (mxs[i] - mns[i]) / 256
                   END) AS r
        FROM e, st
    )"""


def _ann_sq8_oracle(dim: int = 64, k: int = 5, q_cut: int = 5) -> str:
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    {_sq8_rec_cte(dim)},
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS match_id,
               round(list_cosine_similarity(q.v, c.r), 5) + 0.0 AS cosine_sq8
        FROM e q
        JOIN rec c ON c.vec_id != q.vec_id
        WHERE q.vec_id < {q_cut}
    )
    SELECT query_id, match_id, cosine_sq8
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cosine_sq8 DESC, match_id
        ) AS rn
        FROM scored
    )
    WHERE rn <= {k}
    """


@query(
    "ann_sq8_topk",
    oracle=_ann_sq8_oracle(),
    tags=("similarity", "ann", "quantization", "scale-path"),
)
def ann_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 by asymmetric cosine against an SQ8-quantized corpus: each
    dimension compresses to an 8-bit code against the corpus per-dim
    [min, max] range; scoring reconstructs bucket midpoints
    (mn + (code+0.5)*range/256) and ranks raw query vs reconstruction.

    Scale shape: the quantizer state is 2*dim doubles (one aggregate
    pass, broadcast); encode and reconstruct are zip_with chains in
    whole-stage codegen — no UDF, no shuffle beyond the final per-query
    top-k. In production the codes (64 B/vector vs 512 B) are what a
    100 TB corpus keeps hot while raw floats stay cold, and this
    scoring plan composes with the IVF probe (ann_ivf_topk) unchanged —
    probe selects inverted lists, SQ8 scores inside them. Recall loss
    is measurable by swapping this frame into ann_recall_eval."""
    dim, k, q_cut = 64, 5, 5
    t = load(spark, sf_dir)
    e = t.embeddings
    # one parsed array-of-aggregates per stat (operators/sqlexpr, r12):
    # the per-dim Column loop cost ~5 py4j round trips × 2 × dim
    st = e.agg(
        F.expr(
            "array(" + ", ".join(
                f"min(CAST(embedding[{i}] AS DOUBLE))" for i in range(dim)
            ) + ")"
        ).alias("mns"),
        F.expr(
            "array(" + ", ".join(
                f"max(CAST(embedding[{i}] AS DOUBLE))" for i in range(dim)
            ) + ")"
        ).alias("mxs"),
    )
    from ..operators.similarity import sq8_reconstruct_col

    with_st = e.crossJoin(F.broadcast(st))
    rec = sq8_reconstruct_col(
        F.col("embedding"), F.col("mns"), F.col("mxs")
    )
    corpus = with_st.select(
        F.col("vec_id").alias("match_id"), rec.alias("rvec")
    )
    q = e.where(F.col("vec_id") < q_cut).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    scored = (
        corpus.crossJoin(F.broadcast(q))
        .where(F.col("match_id") != F.col("query_id"))
        .select(
            "query_id",
            "match_id",
            (F.round(cosine_col(F.col("qv"), F.col("rvec")), 5) + 0.0).alias(
                "cosine_sq8"
            ),
        )
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("query_id").orderBy(
        F.col("cosine_sq8").desc(), F.col("match_id")
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .drop("_rn")
    )


def _ann_sq8_recall_oracle(dim: int = 64, k: int = 5, q_cut: int = 5) -> str:
    """Compose the exact-top-k and SQ8-top-k fragments: recall@k of the
    quantized ranking against the exact one, per query."""
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    {_sq8_rec_cte(dim)},
    exact_topk AS (
        SELECT query_id, match_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS match_id,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY round(list_cosine_similarity(q.v, c.v), 5)
                                    DESC, c.vec_id
                   ) AS rn
            FROM e q JOIN e c ON c.vec_id != q.vec_id
            WHERE q.vec_id < {q_cut}
        ) WHERE rn <= {k}
    ),
    sq8_topk AS (
        SELECT query_id, match_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS match_id,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY round(list_cosine_similarity(q.v, c.r), 5)
                                    DESC, c.vec_id
                   ) AS rn
            FROM e q JOIN rec c ON c.vec_id != q.vec_id
            WHERE q.vec_id < {q_cut}
        ) WHERE rn <= {k}
    )
    SELECT x.query_id,
           count(s.match_id) AS n_hits,
           round(count(s.match_id) * 1.0 / {k}, 6) AS recall_at_{k}
    FROM exact_topk x
    LEFT JOIN sq8_topk s
      ON x.query_id = s.query_id AND x.match_id = s.match_id
    GROUP BY x.query_id
    """


@query(
    "ann_sq8_recall_eval",
    oracle=_ann_sq8_recall_oracle(),
    tags=("similarity", "ann", "quantization", "eval"),
)
def ann_sq8_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the SQ8-quantized ranking against the exact top-5 —
    the offline measurement that decides whether 8-bit compression is
    free for a given corpus (here it effectively is: the fixture's
    per-dim ranges make midpoint error tiny relative to neighbor
    gaps). Same composition shape as ann_recall_eval: both searches
    reuse their component operators; the intersection is one tiny
    per-query join."""
    k, q_cut = 5, 5
    t = load(spark, sf_dir)
    exact = cosine_topk(
        corpus=t.embeddings,
        queries=t.embeddings.where(F.col("vec_id") < q_cut),
        id_col="vec_id",
        vec_col="embedding",
        k=k,
    ).select("query_id", "match_id")
    sq8 = ann_sq8_topk(spark, sf_dir).select(
        "query_id", "match_id", F.lit(1).alias("_hit")
    )
    return (
        exact.join(F.broadcast(sq8), ["query_id", "match_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("_hit").alias("n_hits"),
            F.round(F.count("_hit") * 1.0 / k, 6).alias(f"recall_at_{k}"),
        )
    )


# --------------------------------------------------------------------------
# Johnson-Lindenstrauss random projection (64 -> 4), norm-preservation check
# --------------------------------------------------------------------------
_JL_K, _JL_SEED = 4, 7


def _jl_mat() -> list[list[float]]:
    """Seeded Gaussian projection rows with the 1/sqrt(k) JL scale
    folded in — identical literals on both engines."""
    k = _JL_K
    return [
        [x / k**0.5 for x in row]
        for row in lsh_planes(num_planes=k, dim=64, seed=_JL_SEED)
    ]


def _jl_oracle() -> str:
    rows = _jl_mat()
    projs = ",\n           ".join(
        f"list_dot_product(v, [{', '.join(repr(x) for x in r)}]) AS p{i}"
        for i, r in enumerate(rows)
    )
    sq = " + ".join(f"p{i} * p{i}" for i in range(_JL_K))
    return f"""
    WITH e AS (SELECT label, embedding::DOUBLE[] AS v FROM embeddings),
    p AS (SELECT label, list_dot_product(v, v) AS vv,
           {projs}
          FROM e)
    SELECT label,
           count(*) AS n,
           round(avg(({sq}) / vv), 4) + 0.0 AS norm_ratio,
           round(avg(p0), 5) + 0.0 AS mean_p0,
           round(avg(p1), 5) + 0.0 AS mean_p1
    FROM p
    GROUP BY label
    """


@query(
    "random_projection_features",
    oracle=_jl_oracle(),
    tags=("similarity", "ml", "features", "scale-path"),
)
def random_projection_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection 64 -> 4 (seeded Gaussian
    rows, 1/sqrt(k) scale) with the norm-preservation ratio E[||Rv||^2 /
    ||v||^2] ~= 1 reported per label — the standard cheap dimensionality
    reduction in front of clustering / dedup at corpus scale.

    Scale shape: the projection matrix folds into column literals (like
    the LSH planes and IVF centroids), so the whole map is one narrow
    codegen pass over the scan — zero shuffle, zero broadcast, zero
    Python; only the final per-label aggregate exchanges data.  At
    100 TB the k x 64 doubles never leave the plan."""
    t = load(spark, sf_dir)
    rows = _jl_mat()
    # parsed-SQL projection columns (operators/sqlexpr, r12): the
    # literal plane arrays cost ~80 py4j round trips per projection row
    p = t.embeddings.select(
        "label",
        F.expr(dot_sql("embedding", "embedding")).alias("vv"),
        *[
            F.expr(dot_sql("embedding", arr_dlit(r), cast_b=False)).alias(
                f"p{i}"
            )
            for i, r in enumerate(rows)
        ],
    )
    # `0 + ...`: mirrors Python sum()'s int-0 seed. NOTE the seed sits
    # on the LEFT here while the Column form's __radd__ chain put it on
    # the right ("(p0*p0) + 0"); the trees differ but the doubles are
    # numerically identical (IEEE addition of a 0 seed), oracle-pinned.
    sq = "0 + " + " + ".join(f"p{i} * p{i}" for i in range(_JL_K))
    return p.groupBy("label").agg(
        F.count("*").alias("n"),
        F.expr(f"round(avg(({sq}) / vv), 4) + 0.0D").alias("norm_ratio"),
        (F.round(F.avg("p0"), 5) + 0.0).alias("mean_p0"),
        (F.round(F.avg("p1"), 5) + 0.0).alias("mean_p1"),
    )


# --------------------------------------------------------------------------
# Product quantization (PQ) with ADC lookup-table scoring
# --------------------------------------------------------------------------
_PQ_M, _PQ_SUB, _PQ_K = 4, 16, 4  # m subspaces × sub dim × codebook size
_PQ_TOPK, _PQ_QCUT = 5, 3


def _pq_codebooks() -> list[list[list[float]]]:
    """Per-subspace codebooks — deterministic literals shared with the
    oracle (a trained variant would come from operators/clustering.
    fit_kmeans per subspace slice; plan shape identical)."""
    from ..operators.clustering import kmeans_centroids

    return [
        kmeans_centroids(_PQ_K, _PQ_SUB, seed=101 + j) for j in range(_PQ_M)
    ]


# PQ expression fragments are emitted as ONE parsed SQL string per
# column (operators/sqlexpr discipline): the element-by-element Column
# form cost ~2 s of py4j round trips per invocation — more than the
# queries' execution (r12 measurement, guide §4 applied to the
# plan-construction side). Trees are node-for-node what the Column
# builders produced: only the query vector is CAST (the codebook side
# is already a double literal array), `x * 2.0D` matches __rmul__,
# literals are repr+D.


def _pq_slice_sql(vec: str, j: int) -> str:
    return f"slice({vec}, {j * _PQ_SUB + 1}, {_PQ_SUB})"


def _pq_dot_slice_sql(vec: str, j: int, cent: list[float]) -> str:
    return (
        f"aggregate(zip_with({_pq_slice_sql(vec, j)}, {arr_dlit(cent)}, "
        "(_lx, _ly) -> CAST(_lx AS DOUBLE) * _ly), "
        "0.0D, (_lacc, _lv) -> _lacc + _lv)"
    )


def _pq_self_dot_slice_sql(vec: str, j: int) -> str:
    s = _pq_slice_sql(vec, j)
    return (
        f"aggregate(zip_with({s}, {s}, "
        "(_lx, _ly) -> CAST(_lx AS DOUBLE) * CAST(_ly AS DOUBLE)), "
        "0.0D, (_lacc, _lv) -> _lacc + _lv)"
    )


def _pq_codes_df(emb: DataFrame, extra_cols: list[str] = []) -> DataFrame:
    """(vec_id[, extra], code_0..code_{m-1}) — distances behind a
    projection boundary, then argmin (the k=16 codegen lesson)."""
    books = _pq_codebooks()
    dist_cols = []
    for j, cents in enumerate(books):
        for c, cent in enumerate(cents):
            cc = sum(x * x for x in cent)
            d = F.expr(
                f"round({_pq_self_dot_slice_sql('embedding', j)} - "
                f"{_pq_dot_slice_sql('embedding', j, cent)} * 2.0D + "
                f"{dlit(cc)}, 5)"
            )
            dist_cols.append(d.alias(f"_d{j}_{c}"))
    with_d = emb.select("vec_id", *extra_cols, *dist_cols)
    code_cols = [
        F.expr(
            assign_case_sql([f"_d{j}_{c}" for c in range(_PQ_K)])
        ).alias(f"code_{j}")
        for j in range(_PQ_M)
    ]
    return with_d.select("vec_id", *extra_cols, *code_cols)


def _pq_lut_cols() -> list:
    """m×k ADC sub-dot-products for a query row's `embedding`."""
    return [
        F.expr(_pq_dot_slice_sql("embedding", j, cent)).alias(f"lut_{j}_{c}")
        for j, cents in enumerate(_pq_codebooks())
        for c, cent in enumerate(cents)
    ]


def _pq_score_sql() -> str:
    """ADC score: m integer CASE lookups into the query LUT."""
    terms = []
    for j in range(_PQ_M):
        expr = f"lut_{j}_{_PQ_K - 1}"
        for c in range(_PQ_K - 2, -1, -1):
            expr = (
                f"CASE WHEN code_{j} = {c} THEN lut_{j}_{c} "
                f"ELSE {expr} END"
            )
        terms.append(expr)
    return " + ".join(f"({t})" for t in terms)


def _pq_sql_fragments() -> tuple[str, str, str]:
    """(code column list, LUT column list, score expression) — the PQ
    algebra as SQL, written once for both PQ oracles."""
    books = _pq_codebooks()

    def sub(j: int, var: str = "v") -> str:  # 1-based inclusive slice
        return f"{var}[{j * _PQ_SUB + 1}:{(j + 1) * _PQ_SUB}]"

    code_cols, lut_cols, score_terms = [], [], []
    for j, cents in enumerate(books):
        ds = []
        for c, cent in enumerate(cents):
            lit = f"[{', '.join(repr(x) for x in cent)}]"
            cc = sum(x * x for x in cent)
            ds.append(
                f"round(list_dot_product({sub(j)}, {sub(j)}) "
                f"- 2.0 * list_dot_product({sub(j)}, {lit}) + {cc!r}, 5)"
            )
            lut_cols.append(
                f"list_dot_product({sub(j, 'qv')}, {lit}) AS lut_{j}_{c}"
            )
        least = f"least({', '.join(ds)})"
        case = (
            "CASE "
            + " ".join(
                f"WHEN {d} = {least} THEN {c}" for c, d in enumerate(ds[:-1])
            )
            + f" ELSE {_PQ_K - 1} END"
        )
        code_cols.append(f"{case} AS code_{j}")
        lut_case = (
            "CASE "
            + " ".join(
                f"WHEN c.code_{j} = {c} THEN q.lut_{j}_{c}"
                for c in range(_PQ_K - 1)
            )
            + f" ELSE q.lut_{j}_{_PQ_K - 1} END"
        )
        score_terms.append(lut_case)
    return ", ".join(code_cols), ", ".join(lut_cols), " + ".join(score_terms)


def _pq_oracle() -> str:
    code_cols, lut_cols, score = _pq_sql_fragments()
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    codes AS (SELECT vec_id, {code_cols} FROM e),
    q AS (SELECT vec_id AS query_id, v AS qv, {lut_cols}
          FROM e WHERE vec_id < {_PQ_QCUT}),
    scored AS (
        SELECT q.query_id, c.vec_id AS match_id,
               round({score}, 5) + 0.0 AS score
        FROM q JOIN codes c ON c.vec_id != q.query_id
    )
    SELECT query_id, match_id, score
    FROM (SELECT *, row_number() OVER (
              PARTITION BY query_id ORDER BY score DESC, match_id) AS rn
          FROM scored)
    WHERE rn <= {_PQ_TOPK}
    """


@query(
    "ann_pq_topk",
    oracle=_pq_oracle(),
    tags=("similarity", "ann", "quantization", "scale-path"),
)
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (Jégou et al. 2011) with asymmetric
    distance via lookup tables — the FAISS `PQ{m}` shape completing
    the quantization family next to SQ8 and IVF: each vector stores m
    sub-codes (argmin against per-subspace codebooks), and each query
    precomputes an m×k table of sub-dot-products ONCE; pair scoring is
    then m table lookups — no floating-point folds in the pair loop at
    all.

    Scale shape: code assignment is a narrow literal-folded map (like
    kmeans assignment) done once per corpus vector — at 100 TB codes
    are 4 bytes/vector, stored instead of recomputed; the per-query
    LUT is a k-row broadcast side; the scan of the code table does
    only integer CASE lookups per candidate.  Every distance constant
    lives behind a named-column projection boundary (the k=16 argmin
    lesson from semantic_dedup_clusters)."""
    t = load(spark, sf_dir)
    codes = _pq_codes_df(t.embeddings)
    # query LUT: m×k sub-dot-products, once per query row
    lut = t.embeddings.where(F.col("vec_id") < _PQ_QCUT).select(
        F.col("vec_id").alias("query_id"), *_pq_lut_cols()
    )
    scored = codes.join(
        F.broadcast(lut), F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id",
        F.col("vec_id").alias("match_id"),
        F.expr(f"round({_pq_score_sql()}, 5) + 0.0D").alias("score"),
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("query_id").orderBy(F.col("score").desc(), "match_id")
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= _PQ_TOPK)
        .drop("_rn")
    )


def _pq_recall_oracle(k: int = _PQ_TOPK, q_cut: int = _PQ_QCUT) -> str:
    """Exact-top-k vs the full PQ ranking query (nested as a derived
    table so the PQ algebra is written exactly once)."""
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    exact_topk AS (
        SELECT query_id, match_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS match_id,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY round(list_cosine_similarity(q.v, c.v), 5)
                                    DESC, c.vec_id
                   ) AS rn
            FROM e q JOIN e c ON c.vec_id != q.vec_id
            WHERE q.vec_id < {q_cut}
        ) WHERE rn <= {k}
    ),
    pq_topk AS (SELECT query_id, match_id FROM ({_pq_oracle()}))
    SELECT x.query_id,
           count(s.match_id) AS n_hits,
           round(count(s.match_id) * 1.0 / {k}, 6) AS recall_at_{k}
    FROM exact_topk x
    LEFT JOIN pq_topk s
      ON x.query_id = s.query_id AND x.match_id = s.match_id
    GROUP BY x.query_id
    """


@query(
    "ann_pq_recall_eval",
    oracle=_pq_recall_oracle(),
    tags=("similarity", "ann", "quantization", "eval"),
)
def ann_pq_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the PQ/ADC ranking against the exact top-5 — the
    measurement that sizes m and k for a target recall before rolling
    codes out corpus-wide (PQ at 4 bytes/vector trades much more
    precision than SQ8's 64 bytes; this query quantifies exactly how
    much, per query). Composition shape identical to
    ann_sq8_recall_eval."""
    k = _PQ_TOPK
    t = load(spark, sf_dir)
    exact = cosine_topk(
        corpus=t.embeddings,
        queries=t.embeddings.where(F.col("vec_id") < _PQ_QCUT),
        id_col="vec_id",
        vec_col="embedding",
        k=k,
    ).select("query_id", "match_id")
    pq = ann_pq_topk(spark, sf_dir).select(
        "query_id", "match_id", F.lit(1).alias("_hit")
    )
    return (
        exact.join(F.broadcast(pq), ["query_id", "match_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("_hit").alias("n_hits"),
            F.round(F.count("_hit") * 1.0 / k, 6).alias(f"recall_at_{k}"),
        )
    )


# --------------------------------------------------------------------------
# IVF-PQ: coarse probe on inverted lists, ADC lookup scoring within
# --------------------------------------------------------------------------
_IVFPQ_NPROBE = 2


def _ivfpq_oracle(dim: int = 64, k: int = _PQ_TOPK, q_cut: int = _PQ_QCUT) -> str:
    code_cols, lut_cols, score = _pq_sql_fragments()
    return f"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    un AS (
        SELECT label, i, v[i] AS x
        FROM e, generate_series(1, {dim}) AS g(i)
    ),
    cent AS (
        SELECT label, list(round(m, 6) ORDER BY i) AS c
        FROM (SELECT label, i, avg(x) AS m FROM un GROUP BY label, i)
        GROUP BY label
    ),
    q AS (SELECT vec_id AS query_id, v AS qv, {lut_cols}
          FROM e WHERE vec_id < {q_cut}),
    probe AS (
        SELECT query_id, label FROM (
            SELECT q.query_id, cent.label,
                   row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY round(list_cosine_similarity(q.qv, cent.c), 5)
                                DESC, cent.label
                   ) AS rn
            FROM q, cent
        )
        WHERE rn <= {_IVFPQ_NPROBE}
    ),
    codes AS (SELECT vec_id, label, {code_cols} FROM e),
    scored AS (
        SELECT p.query_id, c.vec_id AS match_id,
               round({score}, 5) + 0.0 AS score
        FROM probe p
        JOIN codes c ON c.label = p.label AND c.vec_id != p.query_id
        JOIN q ON q.query_id = p.query_id
    )
    SELECT query_id, match_id, score
    FROM (SELECT *, row_number() OVER (
              PARTITION BY query_id ORDER BY score DESC, match_id) AS rn
          FROM scored)
    WHERE rn <= {k}
    """


@query(
    "ann_ivfpq_topk",
    oracle=_ivfpq_oracle(),
    tags=("similarity", "ann", "quantization", "scale-path"),
)
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ — the full FAISS `IVF{n},PQ{m}` architecture: the coarse
    quantizer (per-label centroids, as in ann_ivf_topk) bounds the
    candidate set to nprobe inverted lists, and within those lists the
    scoring touches ONLY the 4-byte PQ codes via the query's ADC
    lookup table (ann_pq_topk) — neither the full corpus nor any raw
    candidate vector is read at query time.

    Scale shape: the two quantizers compose orthogonally — the probe
    join is an equality join on the list id (hash-partitionable), the
    candidate scan reads the code table (a ~16x compression of the
    vector column), and per-candidate cost is m integer lookups. This
    is what a billion-vector deployment actually runs; recall is
    priced per knob by ann_pq_recall_eval / ann_recall_eval."""
    dim = 64
    t = load(spark, sf_dir)
    e = t.embeddings
    cent = e.groupBy("label").agg(
        F.expr(
            "array(" + ", ".join(
                f"round(avg(CAST(embedding[{i}] AS DOUBLE)), 6)"
                for i in range(dim)
            ) + ")"
        ).alias("cvec")
    )
    lut = e.where(F.col("vec_id") < _PQ_QCUT).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        *_pq_lut_cols(),
    )
    ranked = lut.select("query_id", "qv").crossJoin(F.broadcast(cent)).select(
        "query_id",
        "label",
        F.round(cosine_col(F.col("qv"), F.col("cvec")), 5).alias("ccos"),
    )
    from pyspark.sql import Window as W

    wp = W.partitionBy("query_id").orderBy(F.col("ccos").desc(), F.col("label"))
    probe = (
        ranked.withColumn("_rn", F.row_number().over(wp))
        .where(F.col("_rn") <= _IVFPQ_NPROBE)
        .select("query_id", "label")
    )
    codes = _pq_codes_df(e, extra_cols=["label"])
    scored = (
        codes.join(F.broadcast(probe), "label")
        .where(F.col("vec_id") != F.col("query_id"))
        .join(F.broadcast(lut.drop("qv")), "query_id")
        .select(
            "query_id",
            F.col("vec_id").alias("match_id"),
            F.expr(f"round({_pq_score_sql()}, 5) + 0.0D").alias("score"),
        )
    )
    wk = W.partitionBy("query_id").orderBy(F.col("score").desc(), "match_id")
    return (
        scored.withColumn("_rn", F.row_number().over(wk))
        .where(F.col("_rn") <= _PQ_TOPK)
        .drop("_rn")
    )


# --------------------------------------------------------------------------
# ext — Matryoshka truncation evaluation (Kusupati et al. 2022,
# "Matryoshka Representation Learning"): MRL-style deployments serve
# a PREFIX of each embedding to cut memory/latency; before switching,
# you measure how much of the full-dimension neighborhood the
# truncated prefix preserves.
# --------------------------------------------------------------------------
MRL_TRUNC_DIM = 16
MRL_K = 5
MRL_QUERIES = 8


@query(
    "mrl_truncation_recall",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    fullk AS (
        SELECT query_id, match_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS match_id,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY round(list_cosine_similarity(q.v, c.v),
                                      5) DESC, c.vec_id
                   ) AS rn
            FROM e q JOIN e c ON c.vec_id != q.vec_id
            WHERE q.vec_id < {MRL_QUERIES}
        ) WHERE rn <= {MRL_K}
    ),
    trunck AS (
        SELECT query_id, match_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS match_id,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY round(list_cosine_similarity(
                           q.v[1:{MRL_TRUNC_DIM}], c.v[1:{MRL_TRUNC_DIM}]),
                           5) DESC, c.vec_id
                   ) AS rn
            FROM e q JOIN e c ON c.vec_id != q.vec_id
            WHERE q.vec_id < {MRL_QUERIES}
        ) WHERE rn <= {MRL_K}
    )
    SELECT f.query_id,
           CAST({MRL_K} AS BIGINT) AS k,
           CAST(count(t.match_id) AS BIGINT) AS n_overlap,
           CAST(count(t.match_id) * 1000000 // {MRL_K} AS BIGINT)
               AS recall_ppm
    FROM fullk f
    LEFT JOIN trunck t
      ON t.query_id = f.query_id AND t.match_id = f.match_id
    GROUP BY f.query_id
    """,
    tags=("similarity", "ann", "embeddings", "eval"),
)
def mrl_truncation_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of prefix-truncated embeddings against the
    full-dimension neighborhood: brute-force cosine top-5 with all 64
    dims vs the first 16 dims, overlap counted per query — the
    go/no-go number for serving Matryoshka-style truncated vectors.
    Both rankings use the rounded-score + id tiebreak discipline, so
    the selected sets are deterministic on both engines and the
    overlap is integer-exact.

    Scale shape: two broadcast-query corpus scans (the cosine_topk
    operator's one-pass shape) + one bounded k-row join per query.
    The truncated pass reads the same column and slices JVM-side —
    at serving scale the prefix would be materialized, which only
    shrinks the scan."""
    t = load(spark, sf_dir)
    queries = t.embeddings.where(F.col("vec_id") < MRL_QUERIES)
    full = cosine_topk(
        corpus=t.embeddings, queries=queries, id_col="vec_id",
        vec_col="embedding", k=MRL_K,
    )
    tr_corpus = t.embeddings.select(
        "vec_id", F.slice("embedding", 1, MRL_TRUNC_DIM).alias("embedding")
    )
    trunc = cosine_topk(
        corpus=tr_corpus,
        queries=tr_corpus.where(F.col("vec_id") < MRL_QUERIES),
        id_col="vec_id",
        vec_col="embedding",
        k=MRL_K,
    )
    tr = trunc.select(
        F.col("query_id").alias("tq"), F.col("match_id").alias("tmatch")
    )
    return (
        full.select("query_id", "match_id")
        .join(
            F.broadcast(tr),  # k rows per query — always broadcastable
            on=(F.col("query_id") == F.col("tq"))
            & (F.col("match_id") == F.col("tmatch")),
            how="left",
        )
        .groupBy("query_id")
        .agg(
            F.lit(MRL_K).cast("long").alias("k"),
            F.count("tmatch").alias("n_overlap"),
            F.expr(
                f"CAST(count(tmatch) * 1000000 div {MRL_K} AS BIGINT)"
            ).alias("recall_ppm"),
        )
    )


#: grid-DBSCAN parameters: integer coordinate units are 1e-4 of the
#: embedding scale, radius 0.02, density threshold 5 (incl. self)
_DB_EPS = 200
_DB_MINPTS = 5

_DBSCAN_ORACLE = f"""
WITH RECURSIVE pts AS MATERIALIZED (
    SELECT vec_id,
           CAST(round(CAST(embedding[1] AS DOUBLE) * 10000, 0) AS BIGINT) AS x,
           CAST(round(CAST(embedding[2] AS DOUBLE) * 10000, 0) AS BIGINT) AS y
    FROM embeddings
),
b AS MATERIALIZED (
    SELECT vec_id, x, y,
           (x + 10000) // {_DB_EPS} AS cx,
           (y + 10000) // {_DB_EPS} AS cy
    FROM pts
),
ex AS (
    SELECT b.vec_id, b.x, b.y, b.cx + dx.v AS nx, b.cy + dy.v AS ny
    FROM b
    CROSS JOIN (VALUES (-1), (0), (1)) AS dx(v)
    CROSS JOIN (VALUES (-1), (0), (1)) AS dy(v)
),
pr AS MATERIALIZED (
    SELECT e.vec_id AS a, b.vec_id AS nb
    FROM ex e
    JOIN b ON b.cx = e.nx AND b.cy = e.ny AND e.vec_id != b.vec_id
    WHERE (e.x - b.x) * (e.x - b.x) + (e.y - b.y) * (e.y - b.y)
          <= {_DB_EPS} * {_DB_EPS}
),
core AS MATERIALIZED (
    SELECT a AS node FROM pr GROUP BY a
    HAVING count(*) + 1 >= {_DB_MINPTS}
),
ce AS MATERIALIZED (
    SELECT p.a, p.nb
    FROM pr p
    JOIN core ca ON ca.node = p.a
    JOIN core cb ON cb.node = p.nb
),
cc AS (
    SELECT node, node AS label FROM core
    UNION
    SELECT e.a AS node, c.label FROM ce e JOIN cc c ON c.node = e.nb
),
comp AS MATERIALIZED (
    SELECT node, min(label) AS component FROM cc GROUP BY node
),
corec AS (
    SELECT component AS cluster, count(*) AS n_core FROM comp GROUP BY 1
),
border AS MATERIALIZED (
    SELECT p.a AS node, min(comp.component) AS cluster
    FROM pr p
    JOIN core cb ON cb.node = p.nb
    JOIN comp ON comp.node = p.nb
    WHERE p.a NOT IN (SELECT node FROM core)
    GROUP BY p.a
),
borderc AS (
    SELECT cluster, count(*) AS n_border FROM border GROUP BY 1
)
SELECT c.cluster, c.n_core, coalesce(bc.n_border, 0) AS n_border
FROM corec c LEFT JOIN borderc bc USING (cluster)
UNION ALL
SELECT -1 AS cluster, 0 AS n_core, count(*) AS n_border
FROM pts
WHERE vec_id NOT IN (SELECT node FROM core)
  AND vec_id NOT IN (SELECT node FROM border)
"""


@query(
    "grid_dbscan_embeddings",
    oracle=_DBSCAN_ORACLE,
    tags=("similarity", "clustering", "dbscan", "blocking"),
)
def grid_dbscan_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Density-based clustering (DBSCAN, Ester et al. 1996) on the
    2-D embedding projection by GRID BLOCKING: coordinates quantize to
    exact integers (1e-4 units, so the radius test is integer
    arithmetic on both engines), points bin into eps-sized cells, the
    eps-neighbor join expands each probe into its 3x3 cell
    neighborhood (the spatial_neighbor_pairs discipline — bounded 9x
    expansion, never n^2), core points are those with >= minPts
    neighbors including self, clusters are connected components over
    core-core edges (operators/components.py), border points attach
    to the smallest core-neighbor component, everything else is the
    noise row (cluster = -1).  Parameter-free cluster COUNT (unlike
    k-means) — the curation-side density view of the embedding space.

    Scale shape: one 9x cell-join for candidates (at 100 TB: bucket
    the table by cell id to co-locate), map-side-combined degree
    count, min-label components with localCheckpointed rounds, and
    broadcast-sized core/component frames back onto the pair stream.
    The DuckDB twin replays the exact pipeline with a recursive-CTE
    closure, so this gets a full value-hash check."""
    from ..operators.components import connected_components

    t = load(spark, sf_dir)
    pts = t.embeddings.select(
        "vec_id",
        F.round(F.element_at("embedding", 1).cast("double") * 10000, 0)
        .cast("long")
        .alias("x"),
        F.round(F.element_at("embedding", 2).cast("double") * 10000, 0)
        .cast("long")
        .alias("y"),
    )
    b = pts.select(
        "vec_id", "x", "y",
        F.expr(f"(x + 10000) div {_DB_EPS}").alias("cx"),
        F.expr(f"(y + 10000) div {_DB_EPS}").alias("cy"),
    )
    offsets = F.array(*[F.lit(v) for v in (-1, 0, 1)])
    ex = (
        b.select(
            F.col("vec_id").alias("a"), F.col("x").alias("ax"),
            F.col("y").alias("ay"), "cx", "cy",
            F.explode(offsets).alias("dx"),
        )
        .select(
            "a", "ax", "ay", "cx", "cy", "dx",
            F.explode(offsets).alias("dy"),
        )
        .select(
            "a", "ax", "ay",
            (F.col("cx") + F.col("dx")).alias("nx"),
            (F.col("cy") + F.col("dy")).alias("ny"),
        )
    )
    right = b.select(
        F.col("vec_id").alias("nb"), F.col("x").alias("bx"),
        F.col("y").alias("by"), F.col("cx").alias("nx"),
        F.col("cy").alias("ny"),
    )
    d2 = (F.col("ax") - F.col("bx")) * (F.col("ax") - F.col("bx")) + (
        F.col("ay") - F.col("by")
    ) * (F.col("ay") - F.col("by"))
    # candidate pairs feed the degree count, the core-edge build and
    # the border attach — persist so the 9x join runs once
    pr = (
        ex.join(right, ["nx", "ny"])
        .where((F.col("a") != F.col("nb")) & (d2 <= _DB_EPS * _DB_EPS))
        .select("a", "nb")
        .persist()
    )
    core = (
        pr.groupBy(F.col("a").alias("node"))
        .agg(F.count("*").alias("deg"))
        .where(F.col("deg") + 1 >= _DB_MINPTS)
        .select("node")
    )
    # NOT persisted (r12 paired A/B, 2 rounds): core feeds five
    # subtrees, but caching it (and border) measured consistently
    # SLOWER — the InMemoryRelation write + codegen boundary costs more
    # than recomputing a tiny degree aggregate over the persisted pair
    # stream. Same boundary as the loop-family checkpoint-elision result.
    ce = pr.join(
        F.broadcast(core.withColumnRenamed("node", "a")), "a"
    ).join(F.broadcast(core.withColumnRenamed("node", "nb")), "nb")
    # self-loops keep isolated core points as singleton clusters
    edges = ce.select(F.col("a").alias("src"), F.col("nb").alias("dst"))
    edges = edges.unionByName(
        core.select(F.col("node").alias("src"), F.col("node").alias("dst"))
    )
    # symmetric=True (r13): pr holds BOTH directions of every in-eps
    # pair by construction (the 9x cell join emits (a, nb) and (nb, a)
    # separately) and the core filter is applied to both endpoints, so
    # the components loop can skip its union + distinct exchange
    comp = connected_components(edges, symmetric=True)
    corec = comp.groupBy(F.col("component").alias("cluster")).agg(
        F.count("*").alias("n_core")
    )
    border = (
        pr.join(F.broadcast(core.withColumnRenamed("node", "nb")), "nb")
        .join(
            F.broadcast(comp.withColumnRenamed("node", "nb")), "nb"
        )
        .join(core.withColumnRenamed("node", "a"), "a", "left_anti")
        .groupBy(F.col("a").alias("node"))
        .agg(F.min("component").alias("cluster"))
    )
    borderc = border.groupBy("cluster").agg(F.count("*").alias("n_border"))
    clusters = corec.join(borderc, "cluster", "left").select(
        "cluster",
        "n_core",
        F.coalesce(F.col("n_border"), F.lit(0)).alias("n_border"),
    )
    noise = (
        pts.join(core.withColumnRenamed("node", "vec_id"), "vec_id",
                 "left_anti")
        .join(border.withColumnRenamed("node", "vec_id"), "vec_id",
              "left_anti")
        .agg(F.count("*").alias("n_border"))
        .select(
            F.lit(-1).cast("long").alias("cluster"),
            F.lit(0).cast("long").alias("n_core"),
            F.col("n_border"),
        )
    )
    return clusters.select(
        F.col("cluster").cast("long"),
        F.col("n_core").cast("long"),
        F.col("n_border").cast("long"),
    ).unionByName(noise)


@query(
    "ari_cell_vs_label",
    # every pair count is an exact integer (DECIMAL(38,0) binomials);
    # the one float expression is the final ARI ratio, identical on
    # both engines.
    oracle=f"""
    WITH pts AS (
        SELECT vec_id, label,
               (CAST(round(CAST(embedding[1] AS DOUBLE) * 10000, 0)
                     AS BIGINT) + 10000) // {_DB_EPS} AS cx,
               (CAST(round(CAST(embedding[2] AS DOUBLE) * 10000, 0)
                     AS BIGINT) + 10000) // {_DB_EPS} AS cy
        FROM embeddings
    ),
    nij AS (
        SELECT cx, cy, label, CAST(count(*) AS DECIMAL(38,0)) AS n
        FROM pts GROUP BY cx, cy, label
    ),
    sij AS (SELECT sum(n * (n - 1) / 2) AS s FROM nij),
    ai AS (
        SELECT sum(n * (n - 1) / 2) AS s FROM (
            SELECT CAST(count(*) AS DECIMAL(38,0)) AS n
            FROM pts GROUP BY cx, cy)
    ),
    bj AS (
        SELECT sum(n * (n - 1) / 2) AS s FROM (
            SELECT CAST(count(*) AS DECIMAL(38,0)) AS n
            FROM pts GROUP BY label)
    ),
    nn AS (
        SELECT CAST(count(*) AS DECIMAL(38,0)) * (CAST(count(*)
               AS DECIMAL(38,0)) - 1) / 2 AS s,
               count(*) AS n
        FROM pts
    )
    SELECT CAST(nn.n AS BIGINT) AS n_points,
           CASE WHEN (CAST(ai.s AS DOUBLE) + CAST(bj.s AS DOUBLE)) / 2.0
                     - CAST(ai.s AS DOUBLE) * CAST(bj.s AS DOUBLE)
                       / CAST(nn.s AS DOUBLE) = 0.0
                THEN 1.0  -- identical trivial partitions (convention)
                ELSE round((CAST(sij.s AS DOUBLE)
                  - CAST(ai.s AS DOUBLE) * CAST(bj.s AS DOUBLE)
                    / CAST(nn.s AS DOUBLE))
                 / ((CAST(ai.s AS DOUBLE) + CAST(bj.s AS DOUBLE)) / 2.0
                    - CAST(ai.s AS DOUBLE) * CAST(bj.s AS DOUBLE)
                      / CAST(nn.s AS DOUBLE)), 6) + 0.0
           END AS ari
    FROM sij, ai, bj, nn
    """,
    tags=("similarity", "clustering", "eval"),
)
def ari_cell_vs_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjusted Rand Index (Hubert & Arabie 1985) between the
    embedding table's ground-truth labels and the eps-grid cell
    partition the DBSCAN pipeline buckets by — the standard
    chance-corrected external clustering evaluation (0 = chance
    agreement, 1 = identical partitions), here quantifying how much
    label structure the 2-D projection's cells capture (near zero for
    this corpus: labels separate in higher dimensions — the measured
    justification for why similarity search uses full vectors, not the
    2-D cells).

    Scale shape: three map-side-combined contingency groupBys (cells x
    labels, cells, labels) and four one-row binomial sums — all pair
    counts exact DECIMAL(38,0) integers, one final float ratio.  No
    windows, no pair materialization (ARI's pair counts come from the
    binomial identity, never from an O(n^2) join)."""
    t = load(spark, sf_dir)
    dec = "decimal(38,0)"
    pts = t.embeddings.select(
        "vec_id",
        "label",
        # NB: element_at is 1-based like DuckDB's embedding[i];
        # Spark's bracket indexing would be 0-based
        F.expr(
            f"(cast(round(cast(element_at(embedding, 1) AS DOUBLE)"
            f" * 10000, 0) AS BIGINT) + 10000) div {_DB_EPS}"
        ).alias("cx"),
        F.expr(
            f"(cast(round(cast(element_at(embedding, 2) AS DOUBLE)"
            f" * 10000, 0) AS BIGINT) + 10000) div {_DB_EPS}"
        ).alias("cy"),
    ).persist()
    choose2 = lambda c: (c * (c - 1) / 2)  # noqa: E731
    nij = pts.groupBy("cx", "cy", "label").agg(
        F.expr("CAST(count(*) AS DECIMAL(38,0))").alias("n")
    )
    sij = nij.agg(F.sum(choose2(F.col("n"))).alias("s"))
    ai = (
        pts.groupBy("cx", "cy")
        .agg(F.expr("CAST(count(*) AS DECIMAL(38,0))").alias("n"))
        .agg(F.sum(choose2(F.col("n"))).alias("s"))
    )
    bj = (
        pts.groupBy("label")
        .agg(F.expr("CAST(count(*) AS DECIMAL(38,0))").alias("n"))
        .agg(F.sum(choose2(F.col("n"))).alias("s"))
    )
    nn = pts.agg(
        choose2(F.expr("CAST(count(*) AS DECIMAL(38,0))")).alias("s"),
        F.count("*").alias("n"),
    )
    sd = lambda c: F.col(c).cast("double")  # noqa: E731
    exp = sd("ai_s") * sd("bj_s") / sd("nn_s")
    return (
        sij.select(F.col("s").alias("sij_s"))
        .crossJoin(F.broadcast(ai.select(F.col("s").alias("ai_s"))))
        .crossJoin(F.broadcast(bj.select(F.col("s").alias("bj_s"))))
        .crossJoin(
            F.broadcast(nn.select(F.col("s").alias("nn_s"), "n"))
        )
        .select(
            F.col("n").cast("long").alias("n_points"),
            F.when(
                (sd("ai_s") + sd("bj_s")) / 2.0 - exp == 0.0,
                F.lit(1.0),  # identical trivial partitions (convention)
            )
            .otherwise(
                F.round(
                    (sd("sij_s") - exp)
                    / ((sd("ai_s") + sd("bj_s")) / 2.0 - exp),
                    6,
                )
                + 0.0
            )
            .alias("ari"),
        )
    )


# --------------------------------------------------------------------------
# multiprobe LSH ANN (round 9) — probe the query's own sign-bit bucket
# plus every Hamming-1 neighbor (one plane bit flipped): the standard
# recall-vs-memory trade (Lv et al. 2007) that buys back most of the
# recall lost to bucketing WITHOUT adding planes or replicas.
# --------------------------------------------------------------------------
_MP_PLANES = 8
_MP_K = 5
_MP_QCUT = 8


def _multiprobe_topk_oracle(k: int = _MP_K, q_cut: int = _MP_QCUT) -> str:
    probes = ", ".join(
        ["q.bucket"] + [f"xor(q.bucket, {2 ** i})"
                        for i in range(_MP_PLANES)]
    )
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    b AS (
        SELECT vec_id, v,
           {_bucket_bits_sql(_MP_PLANES, 64)} AS bucket
        FROM e
    ),
    probes AS (
        SELECT q.vec_id AS query_id, q.v AS qv,
               unnest([{probes}]) AS pb
        FROM b q WHERE q.vec_id < {q_cut}
    ),
    scored AS (
        SELECT p.query_id, c.vec_id AS match_id,
               round(list_cosine_similarity(p.qv, c.v), 5) + 0.0
                   AS cosine
        FROM probes p JOIN b c ON c.bucket = p.pb
        WHERE c.vec_id != p.query_id
    )
    SELECT query_id, match_id, cosine FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, match_id
        ) AS rn FROM scored
    ) WHERE rn <= {k}
    """


@query(
    "ann_multiprobe_topk",
    oracle=_multiprobe_topk_oracle(),
    tags=("similarity", "ann", "lsh"),
)
def ann_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiprobe LSH top-{_MP_K} (Lv et al. 2007): each query probes
    its own sign-bit bucket plus all {_MP_PLANES} Hamming-1 neighbors
    (one plane bit flipped — the buckets a borderline projection most
    likely fell into), then exact cosine re-ranks the union. Candidate
    set grows ~9x vs single-probe while staying a bucket-keyed
    equi-join — the standard way to buy recall without more planes,
    more memory, or all-pairs.

    Scale shape: the probe fan-out is a 9-element explode on the TINY
    query side only; candidates join on the bucket key exactly like
    ann_lsh_topk. Each corpus vector lives in ONE bucket, so the
    probe union needs no dedup."""
    from pyspark.sql import Window as W

    t = load(spark, sf_dir)
    b = hyperplane_lsh_buckets(
        t.embeddings, "embedding", num_planes=_MP_PLANES, dim=64
    )
    probe_arr = F.array(
        F.col("lsh_bucket"),
        *[
            F.expr(f"lsh_bucket ^ {2 ** i}")
            for i in range(_MP_PLANES)
        ],
    )
    q = (
        b.where(F.col("vec_id") < _MP_QCUT)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("_qvec"),
            F.explode(probe_arr).alias("pb"),
        )
    )
    c = b.select(
        F.col("vec_id").alias("match_id"),
        F.col("lsh_bucket").alias("pb"),
        F.col("embedding").alias("_cvec"),
    )
    scored = (
        c.join(F.broadcast(q), "pb")
        .where(F.col("match_id") != F.col("query_id"))
        .select(
            "query_id", "match_id",
            (F.round(cosine_col(F.col("_qvec"), F.col("_cvec")), 5)
             + 0.0).alias("cosine"),
        )
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("match_id")
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= _MP_K)
        .drop("_rn")
    )


def _multiprobe_recall_oracle(k: int = _MP_K, q_cut: int = _MP_QCUT) -> str:
    probes = ", ".join(
        ["q.bucket"] + [f"xor(q.bucket, {2 ** i})"
                        for i in range(_MP_PLANES)]
    )
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    exact_scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS match_id,
               round(list_cosine_similarity(q.v, c.v), 5) + 0.0 AS cosine
        FROM e q JOIN e c ON c.vec_id != q.vec_id
        WHERE q.vec_id < {q_cut}
    ),
    exact_topk AS (
        SELECT query_id, match_id FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cosine DESC, match_id
            ) AS rn FROM exact_scored
        ) WHERE rn <= {k}
    ),
    b AS (
        SELECT vec_id, v,
           {_bucket_bits_sql(_MP_PLANES, 64)} AS bucket
        FROM e
    ),
    single AS (
        SELECT q.vec_id AS query_id, c.vec_id AS match_id,
               round(list_cosine_similarity(q.v, c.v), 5) + 0.0 AS cosine
        FROM b q JOIN b c ON c.bucket = q.bucket AND c.vec_id != q.vec_id
        WHERE q.vec_id < {q_cut}
    ),
    single_topk AS (
        SELECT query_id, match_id FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cosine DESC, match_id
            ) AS rn FROM single
        ) WHERE rn <= {k}
    ),
    probes AS (
        SELECT q.vec_id AS query_id, q.v AS qv,
               unnest([{probes}]) AS pb
        FROM b q WHERE q.vec_id < {q_cut}
    ),
    multi AS (
        SELECT p.query_id, c.vec_id AS match_id,
               round(list_cosine_similarity(p.qv, c.v), 5) + 0.0 AS cosine
        FROM probes p JOIN b c ON c.bucket = p.pb
        WHERE c.vec_id != p.query_id
    ),
    multi_topk AS (
        SELECT query_id, match_id FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cosine DESC, match_id
            ) AS rn FROM multi
        ) WHERE rn <= {k}
    ),
    per_q AS (
        SELECT x.query_id,
               count(s.match_id) AS hit_s,
               count(m.match_id) AS hit_m
        FROM exact_topk x
        LEFT JOIN single_topk s
          ON s.query_id = x.query_id AND s.match_id = x.match_id
        LEFT JOIN multi_topk m
          ON m.query_id = x.query_id AND m.match_id = x.match_id
        GROUP BY x.query_id
    ),
    cand AS (
        SELECT (SELECT count(*) FROM single) AS n_cand_single,
               (SELECT count(*) FROM multi) AS n_cand_multi
    )
    SELECT (SELECT count(*) FROM per_q) AS n_queries,
           round((SELECT sum(hit_s) FROM per_q) * 1.0
                 / ((SELECT count(*) FROM per_q) * {k}), 6) + 0.0
               AS recall_single,
           round((SELECT sum(hit_m) FROM per_q) * 1.0
                 / ((SELECT count(*) FROM per_q) * {k}), 6) + 0.0
               AS recall_multiprobe,
           (SELECT n_cand_single FROM cand) AS n_cand_single,
           (SELECT n_cand_multi FROM cand) AS n_cand_multi
    """


@query(
    "ann_multiprobe_recall_eval",
    oracle=_multiprobe_recall_oracle(),
    tags=("similarity", "ann", "eval"),
)
def ann_multiprobe_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multiprobe trade MEASURED, not narrated: recall@{_MP_K}
    of single-probe vs Hamming-1 multiprobe LSH against the exact
    brute-force truth, plus the total candidates each scanned — the
    two numbers (recall bought, candidates paid) that decide whether
    multiprobe or more planes wins for a given corpus.

    All integer hit counts; two rounded divisions at the end."""
    from pyspark.sql import Window as W

    t = load(spark, sf_dir)
    k, q_cut = _MP_K, _MP_QCUT
    queries_df = t.embeddings.where(F.col("vec_id") < q_cut)
    exact = cosine_topk(
        corpus=t.embeddings, queries=queries_df, id_col="vec_id",
        vec_col="embedding", k=k,
    ).select("query_id", "match_id")

    b = hyperplane_lsh_buckets(
        t.embeddings, "embedding", num_planes=_MP_PLANES, dim=64
    ).persist()
    w = W.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("match_id")
    )

    qs = b.where(F.col("vec_id") < q_cut).select(
        F.col("vec_id").alias("query_id"), "lsh_bucket",
        F.col("embedding").alias("_qvec"),
    )
    cs = b.select(
        F.col("vec_id").alias("match_id"), "lsh_bucket",
        F.col("embedding").alias("_cvec"),
    )
    single = (
        cs.join(F.broadcast(qs), "lsh_bucket")
        .where(F.col("match_id") != F.col("query_id"))
        .select(
            "query_id", "match_id",
            (F.round(cosine_col(F.col("_qvec"), F.col("_cvec")), 5)
             + 0.0).alias("cosine"),
        )
        .persist()
    )
    probe_arr = F.array(
        F.col("lsh_bucket"),
        *[F.expr(f"lsh_bucket ^ {2 ** i}") for i in range(_MP_PLANES)],
    )
    qm = (
        b.where(F.col("vec_id") < q_cut)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("_qvec"),
            F.explode(probe_arr).alias("pb"),
        )
    )
    cm = b.select(
        F.col("vec_id").alias("match_id"),
        F.col("lsh_bucket").alias("pb"),
        F.col("embedding").alias("_cvec"),
    )
    multi = (
        cm.join(F.broadcast(qm), "pb")
        .where(F.col("match_id") != F.col("query_id"))
        .select(
            "query_id", "match_id",
            (F.round(cosine_col(F.col("_qvec"), F.col("_cvec")), 5)
             + 0.0).alias("cosine"),
        )
        .persist()
    )

    def topk(scored):
        return (
            scored.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= k)
            .select("query_id", "match_id", F.lit(1).alias("_hit"))
        )

    per_q = (
        exact.join(F.broadcast(topk(single).withColumnRenamed("_hit", "_s")),
                   ["query_id", "match_id"], "left")
        .join(F.broadcast(topk(multi).withColumnRenamed("_hit", "_m")),
              ["query_id", "match_id"], "left")
        .groupBy("query_id")
        .agg(F.count("_s").alias("hit_s"), F.count("_m").alias("hit_m"))
    )
    tot = per_q.agg(
        F.count("*").alias("n_queries"),
        F.sum("hit_s").alias("hs"),
        F.sum("hit_m").alias("hm"),
    )
    nc_s = single.agg(F.count("*").alias("n_cand_single"))
    nc_m = multi.agg(F.count("*").alias("n_cand_multi"))
    return (
        tot.crossJoin(F.broadcast(nc_s))
        .crossJoin(F.broadcast(nc_m))
        .select(
            "n_queries",
            (F.round(F.col("hs") / (F.col("n_queries") * k), 6) + 0.0)
            .alias("recall_single"),
            (F.round(F.col("hm") / (F.col("n_queries") * k), 6) + 0.0)
            .alias("recall_multiprobe"),
            "n_cand_single",
            "n_cand_multi",
        )
    )


# --------------------------------------------------------------------------
# ext — binary-quantized (BQ) ANN: the 1-bit-per-dimension compression
# leg of large-scale similarity search (sign quantization + Hamming
# scan + exact re-rank — the RaBitQ/BQ recipe production vector stores
# ship). A 64-dim float vector stores as TWO 32-bit sign packs (16x
# smaller than float64); the scan ranks by Hamming distance in pure
# integer codegen (xor + bit_count), then the top-C candidates re-rank
# by exact cosine. Packing is sign(v[i]) — exactly SQL-expressible, so
# the oracle replicates the codec bit-for-bit.
# --------------------------------------------------------------------------
_BQ_K = 5          #: final neighbors returned
_BQ_CAND = 20      #: Hamming candidates kept for exact re-rank
_BQ_QCUT = 8       #: query vectors: vec_id < _BQ_QCUT


def _bq_pack_spark(vec):
    """(lo, hi) 32-bit sign packs of a 64-dim double array column."""
    lo = F.expr(
        "aggregate(transform(slice({v}, 1, 32), (x, i) ->"
        " IF(x > 0D, shiftleft(1L, i), 0L)), 0L, (a, b) -> a + b)"
        .format(v=vec)
    )
    hi = F.expr(
        "aggregate(transform(slice({v}, 33, 32), (x, i) ->"
        " IF(x > 0D, shiftleft(1L, i), 0L)), 0L, (a, b) -> a + b)"
        .format(v=vec)
    )
    return lo, hi


_BQ_PACK_SQL = """
    b AS (
        SELECT vec_id, v,
               CAST(list_sum(list_transform(v[1:32], (x, i) ->
                   CASE WHEN x > 0 THEN (1::BIGINT << (i - 1))
                        ELSE 0 END)) AS BIGINT) AS lo,
               CAST(list_sum(list_transform(v[33:64], (x, i) ->
                   CASE WHEN x > 0 THEN (1::BIGINT << (i - 1))
                        ELSE 0 END)) AS BIGINT) AS hi
        FROM e
    )"""


@query(
    "ann_bq_topk",
    # identical sign packs on both engines (x > 0 over the same
    # doubles), Hamming is exact integer xor+popcount, the candidate
    # cut and the final cut are both total orders — the whole pipeline
    # is deterministic end to end.
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    {_BQ_PACK_SQL},
    q AS (SELECT * FROM b WHERE vec_id < {_BQ_QCUT}),
    ham AS (
        SELECT q.vec_id AS query_id, c.vec_id AS match_id,
               bit_count(xor(q.lo, c.lo))
                   + bit_count(xor(q.hi, c.hi)) AS hamming,
               q.v AS qv, c.v AS cv
        FROM q JOIN b c ON c.vec_id != q.vec_id
    ),
    cand AS (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY hamming, match_id
        ) AS rn
        FROM ham
    ),
    rr AS (
        SELECT query_id, match_id, hamming,
               round(list_cosine_similarity(qv, cv), 5) + 0.0 AS cosine
        FROM cand WHERE rn <= {_BQ_CAND}
    )
    SELECT query_id, match_id, CAST(hamming AS INT) AS hamming, cosine
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, match_id
        ) AS rn2
        FROM rr
    )
    WHERE rn2 <= {_BQ_K}
    """,
    tags=("similarity", "ann", "scale-path"),
)
def ann_bq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-quantized ANN top-{_BQ_K}: corpus vectors compress to two
    32-bit sign packs, the scan ranks every candidate by Hamming
    distance (xor + bit_count — pure integer whole-stage codegen, 16x
    less memory traffic than float dot products), and the top-{_BQ_CAND}
    Hamming candidates re-rank by exact cosine — the asymmetric
    BQ-then-rerank recipe of production vector stores (RaBitQ-family
    1-bit quantization).

    Scale shape: the packed corpus is the only thing the scan touches
    (float vectors load only for the {_BQ_CAND}-per-query re-rank);
    queries broadcast, so the corpus never shuffles; both cuts are
    per-query row_number windows under total orders."""
    from pyspark.sql import Window as W

    t = load(spark, sf_dir)
    e = t.embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    lo, hi = _bq_pack_spark("v")
    b = e.select("vec_id", "v", lo.alias("lo"), hi.alias("hi"))
    q = b.where(F.col("vec_id") < _BQ_QCUT).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("lo").alias("qlo"),
        F.col("hi").alias("qhi"),
    )
    ham = (
        b.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("match_id"),
            (
                F.bit_count(F.col("qlo").bitwiseXOR(F.col("lo")))
                + F.bit_count(F.col("qhi").bitwiseXOR(F.col("hi")))
            ).alias("hamming"),
            "qv",
            F.col("v").alias("cv"),
        )
    )
    wc = W.partitionBy("query_id").orderBy("hamming", "match_id")
    cand = ham.withColumn("rn", F.row_number().over(wc)).where(
        F.col("rn") <= _BQ_CAND
    )
    rr = cand.select(
        "query_id", "match_id", "hamming",
        (F.round(cosine_col(F.col("qv"), F.col("cv")), 5) + 0.0).alias(
            "cosine"
        ),
    )
    wf = W.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), "match_id"
    )
    return (
        rr.withColumn("rn2", F.row_number().over(wf))
        .where(F.col("rn2") <= _BQ_K)
        .select(
            "query_id", "match_id",
            F.col("hamming").cast("int").alias("hamming"), "cosine",
        )
    )


@query(
    "ann_bq_recall_eval",
    # the eval twins both pipelines (exact brute force + BQ-rerank)
    # with shared deterministic cuts, so recall@k is a pure integer
    # intersection count — measured, not narrated.
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    {_BQ_PACK_SQL},
    q AS (SELECT * FROM b WHERE vec_id < {_BQ_QCUT}),
    exact AS (
        SELECT query_id, match_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS match_id,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY round(list_cosine_similarity(q.v, c.v), 5)
                                    DESC,
                                c.vec_id
                   ) AS rn
            FROM q JOIN e c ON c.vec_id != q.vec_id
        ) WHERE rn <= {_BQ_K}
    ),
    ham AS (
        SELECT q.vec_id AS query_id, c.vec_id AS match_id,
               bit_count(xor(q.lo, c.lo))
                   + bit_count(xor(q.hi, c.hi)) AS hamming,
               q.v AS qv, c.v AS cv
        FROM q JOIN b c ON c.vec_id != q.vec_id
    ),
    cand AS (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY hamming, match_id
        ) AS rn
        FROM ham
    ),
    bq AS (
        SELECT query_id, match_id FROM (
            SELECT query_id, match_id,
                   row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY round(list_cosine_similarity(qv, cv), 5)
                                    DESC,
                                match_id
                   ) AS rn2
            FROM cand WHERE rn <= {_BQ_CAND}
        ) WHERE rn2 <= {_BQ_K}
    )
    SELECT ex.query_id,
           CAST(count(bq.match_id) AS BIGINT) AS n_hits,
           round(count(bq.match_id) * 1.0 / {_BQ_K}, 6)
               AS recall_at_{_BQ_K}
    FROM exact ex
    LEFT JOIN bq ON bq.query_id = ex.query_id
                AND bq.match_id = ex.match_id
    GROUP BY ex.query_id
    """,
    tags=("similarity", "ann", "eval"),
)
def ann_bq_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{_BQ_K} of the binary-quantized re-rank pipeline against
    exact brute-force cosine for the same queries — the measured
    compression-vs-recall trade of 1-bit quantization (the number a
    production deployment checks before swapping floats for sign
    packs; companion to ann_sq8_recall_eval / ann_pq_recall_eval on
    the same query set).

    Scale shape: both pipelines reuse the ann_bq_topk shape (broadcast
    queries, integer Hamming scan, bounded re-rank); the eval adds one
    tiny per-query left join of two k-row frames."""
    from pyspark.sql import Window as W

    t = load(spark, sf_dir)
    queries_df = t.embeddings.where(F.col("vec_id") < _BQ_QCUT)
    exact = cosine_topk(
        corpus=t.embeddings, queries=queries_df, id_col="vec_id",
        vec_col="embedding", k=_BQ_K,
    ).select("query_id", "match_id")
    bq = ann_bq_topk(spark, sf_dir).select(
        "query_id", "match_id", F.lit(1).alias("_hit")
    )
    return (
        exact.join(F.broadcast(bq), ["query_id", "match_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("_hit").alias("n_hits"),
            F.round(F.count("_hit") * 1.0 / _BQ_K, 6).alias(
                f"recall_at_{_BQ_K}"
            ),
        )
    )


# --------------------------------------------------------------------------
# ext — IVF with a TRAINED coarse quantizer (round 9): one Lloyd update
# from deterministic seed centroids replaces ann_ivf_topk's label
# stand-in — the "k-means-trained IVF codebook" upgrade SCALE.md's
# what-I-would-change list names, landed at test scale with an exact
# oracle (assignment argmin + update means + probe + re-rank all twin).
# --------------------------------------------------------------------------
_IVFT_K = 8        #: codebook size
_IVFT_NPROBE = 2   #: probed inverted lists per query
_IVFT_TOPK = 5
_IVFT_QCUT = 8


def _ivf_trained_oracle(
    k: int = _IVFT_K, dim: int = 64, nprobe: int = _IVFT_NPROBE,
    topk: int = _IVFT_TOPK, q_cut: int = _IVFT_QCUT,
) -> str:
    """DuckDB twin: identical seed-centroid literals and rounded
    distance argmin (the _kmeans_oracle discipline), identical rounded
    update means, identical probe and re-rank cuts."""
    from ..operators.clustering import kmeans_centroids

    cents = kmeans_centroids(k, dim)
    d_cols = ",\n               ".join(
        f"round(vv - 2.0 * list_dot_product(v, "
        f"[{', '.join(repr(x) for x in c)}]) + {sum(x * x for x in c)!r}, 5)"
        f" AS d{i}"
        for i, c in enumerate(cents)
    )
    least = f"least({', '.join(f'd{i}' for i in range(k))})"
    case = (
        "CASE "
        + " ".join(f"WHEN d{i} = dm THEN {i}" for i in range(k - 1))
        + f" ELSE {k - 1} END"
    )
    return f"""
    WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    d AS (SELECT vec_id, v, list_dot_product(v, v) AS vv FROM e),
    a0 AS (SELECT vec_id, v,
               {d_cols}
           FROM d),
    asg AS (
        SELECT vec_id, v, {case} AS cluster
        FROM (SELECT *, {least} AS dm FROM a0)
    ),
    dims AS (
        SELECT asg.cluster, u.i AS i, round(avg(asg.v[u.i]), 6) AS m
        FROM asg, (SELECT unnest(range(1, {dim + 1})) AS i) u
        GROUP BY asg.cluster, u.i
    ),
    cent AS (
        SELECT cluster, list(m ORDER BY i) AS cvec
        FROM dims GROUP BY cluster
    ),
    q AS (
        SELECT vec_id AS query_id, v AS qv FROM asg
        WHERE vec_id < {q_cut}
    ),
    pr AS (
        SELECT query_id, cluster, qv, row_number() OVER (
            PARTITION BY query_id
            ORDER BY round(list_cosine_similarity(qv, cvec), 5) DESC,
                     cluster
        ) AS rn
        FROM q, cent
    ),
    probe AS (SELECT query_id, cluster, qv FROM pr WHERE rn <= {nprobe}),
    scored AS (
        SELECT p.query_id, c.vec_id AS match_id,
               round(list_cosine_similarity(p.qv, c.v), 5) + 0.0
                   AS cosine
        FROM probe p
        JOIN asg c ON c.cluster = p.cluster
                  AND c.vec_id != p.query_id
    )
    SELECT query_id, match_id, cosine
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, match_id
        ) AS rn
        FROM scored
    )
    WHERE rn <= {topk}
    """


@query(
    "ann_ivf_trained_topk",
    oracle=_ivf_trained_oracle(),
    tags=("similarity", "ann", "scale-path"),
)
def ann_ivf_trained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with a TRAINED coarse quantizer: one Lloyd update from
    the deterministic seed codebook (assignment = codegen argmin over
    centroid literals; update = one map-side-combined groupBy of
    rounded per-dim means) replaces ann_ivf_topk's label stand-in,
    then the standard IVF flow — probe the top-{_IVFT_NPROBE} trained
    centroids per query, exact re-rank inside probed lists only.

    Scale shape: training touches the corpus once (narrow scan-fused
    assignment + one keyed aggregate to a {_IVFT_K}-row codebook);
    at 100 TB more Lloyd rounds feed the means back as next-step
    literals (kmeans_lloyd_step's loop rule) with the SAME plan shape.
    Probing is a broadcast of the tiny codebook; the candidate join is
    an equality join on cluster id — only probed inverted lists are
    scanned, never the full corpus."""
    from pyspark.sql import Window as W

    from ..operators.clustering import kmeans_centroids
    from ..operators.sqlexpr import assign_case_sql, sq_dist_sql

    dim = 64
    t = load(spark, sf_dir)
    e = t.embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    cents0 = kmeans_centroids(_IVFT_K, dim)
    # the assignment IS the inverted-list table of the index: persist
    # it — it feeds the codebook aggregate, the query-side filter AND
    # the candidate join, and without the persist the ~512-literal
    # assignment scan executed three times (6 parquet scans in the
    # r11 plan). At corpus scale this frame is the stored IVF list
    # table a build job writes once.
    asg = e.select(
        "vec_id", "v",
        F.expr(
            assign_case_sql([sq_dist_sql("v", c) for c in cents0])
        ).alias("cluster"),
    ).persist()
    cent = asg.groupBy("cluster").agg(
        F.expr(
            "array(" + ", ".join(
                f"round(avg(v[{i}]), 6)" for i in range(dim)
            ) + ")"
        ).alias("cvec")
    )
    q = asg.where(F.col("vec_id") < _IVFT_QCUT).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    pr = q.crossJoin(F.broadcast(cent)).select(
        "query_id", "cluster", "qv",
        F.round(cosine_col(F.col("qv"), F.col("cvec")), 5).alias("ccos"),
    )
    wp = W.partitionBy("query_id").orderBy(
        F.col("ccos").desc(), "cluster"
    )
    probe = (
        pr.withColumn("_rn", F.row_number().over(wp))
        .where(F.col("_rn") <= _IVFT_NPROBE)
        .select("query_id", "cluster", "qv")
    )
    scored = (
        asg.join(F.broadcast(probe), "cluster")
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("match_id"),
            (
                F.round(cosine_col(F.col("qv"), F.col("v")), 5) + 0.0
            ).alias("cosine"),
        )
    )
    wk = W.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), "match_id"
    )
    return (
        scored.withColumn("_rn", F.row_number().over(wk))
        .where(F.col("_rn") <= _IVFT_TOPK)
        .drop("_rn")
    )


def _ivf_trained_recall_oracle(
    k: int = _IVFT_K, dim: int = 64, nprobe: int = _IVFT_NPROBE,
    topk: int = _IVFT_TOPK, q_cut: int = _IVFT_QCUT,
) -> str:
    """Eval twin: the _ivf_trained_oracle pipeline beside the exact
    brute-force top-k, intersected per query."""
    from ..operators.clustering import kmeans_centroids

    cents = kmeans_centroids(k, dim)
    d_cols = ",\n               ".join(
        f"round(vv - 2.0 * list_dot_product(v, "
        f"[{', '.join(repr(x) for x in c)}]) + {sum(x * x for x in c)!r}, 5)"
        f" AS d{i}"
        for i, c in enumerate(cents)
    )
    least = f"least({', '.join(f'd{i}' for i in range(k))})"
    case = (
        "CASE "
        + " ".join(f"WHEN d{i} = dm THEN {i}" for i in range(k - 1))
        + f" ELSE {k - 1} END"
    )
    return f"""
    WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    d AS (SELECT vec_id, v, list_dot_product(v, v) AS vv FROM e),
    a0 AS (SELECT vec_id, v,
               {d_cols}
           FROM d),
    asg AS (
        SELECT vec_id, v, {case} AS cluster
        FROM (SELECT *, {least} AS dm FROM a0)
    ),
    dims AS (
        SELECT asg.cluster, u.i AS i, round(avg(asg.v[u.i]), 6) AS m
        FROM asg, (SELECT unnest(range(1, {dim + 1})) AS i) u
        GROUP BY asg.cluster, u.i
    ),
    cent AS (
        SELECT cluster, list(m ORDER BY i) AS cvec
        FROM dims GROUP BY cluster
    ),
    q AS (
        SELECT vec_id AS query_id, v AS qv FROM asg
        WHERE vec_id < {q_cut}
    ),
    exact AS (
        SELECT query_id, match_id FROM (
            SELECT q.query_id, c.vec_id AS match_id,
                   row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY round(list_cosine_similarity(q.qv, c.v),
                                      5) DESC,
                                c.vec_id
                   ) AS rn
            FROM q JOIN e c ON c.vec_id != q.query_id
        ) WHERE rn <= {topk}
    ),
    pr AS (
        SELECT query_id, cluster, qv, row_number() OVER (
            PARTITION BY query_id
            ORDER BY round(list_cosine_similarity(qv, cvec), 5) DESC,
                     cluster
        ) AS rn
        FROM q, cent
    ),
    probe AS (SELECT query_id, cluster, qv FROM pr WHERE rn <= {nprobe}),
    ivf AS (
        SELECT query_id, match_id FROM (
            SELECT p.query_id, c.vec_id AS match_id,
                   row_number() OVER (
                       PARTITION BY p.query_id
                       ORDER BY round(list_cosine_similarity(p.qv, c.v),
                                      5) DESC,
                                c.vec_id
                   ) AS rn
            FROM probe p
            JOIN asg c ON c.cluster = p.cluster
                      AND c.vec_id != p.query_id
        ) WHERE rn <= {topk}
    )
    SELECT ex.query_id,
           CAST(count(ivf.match_id) AS BIGINT) AS n_hits,
           round(count(ivf.match_id) * 1.0 / {topk}, 6)
               AS recall_at_{topk}
    FROM exact ex
    LEFT JOIN ivf ON ivf.query_id = ex.query_id
                 AND ivf.match_id = ex.match_id
    GROUP BY ex.query_id
    """


@query(
    "ann_ivf_trained_recall_eval",
    oracle=_ivf_trained_recall_oracle(),
    tags=("similarity", "ann", "eval"),
)
def ann_ivf_trained_recall_eval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Recall@{_IVFT_TOPK} of the TRAINED-codebook IVF against exact
    brute force on the same queries — the measured probe-budget trade
    for the one-Lloyd-step quantizer (compare with ann_recall_eval's
    label-codebook IVF to see what training buys); evals are measured,
    not narrated.

    Scale shape: both pipelines reuse their component shapes; the eval
    adds one tiny per-query intersection join."""
    from pyspark.sql import Window as W

    t = load(spark, sf_dir)
    queries_df = t.embeddings.where(F.col("vec_id") < _IVFT_QCUT)
    exact = cosine_topk(
        corpus=t.embeddings, queries=queries_df, id_col="vec_id",
        vec_col="embedding", k=_IVFT_TOPK,
    ).select("query_id", "match_id")
    ivf = ann_ivf_trained_topk(spark, sf_dir).select(
        "query_id", "match_id", F.lit(1).alias("_hit")
    )
    return (
        exact.join(F.broadcast(ivf), ["query_id", "match_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("_hit").alias("n_hits"),
            F.round(F.count("_hit") * 1.0 / _IVFT_TOPK, 6).alias(
                f"recall_at_{_IVFT_TOPK}"
            ),
        )
    )


# --------------------------------------------------------------------------
# Label-centroid separability matrix (round 9)
# --------------------------------------------------------------------------
@query(
    "label_centroid_similarity",
    # per-label per-dim means use the proven round-6 centroid parity
    # (the ann_ivf discipline); the 5x5 cosine matrix and the
    # separability margin are closed expressions on that tiny frame.
    oracle="""
    WITH e AS (
        SELECT label, embedding::DOUBLE[] AS v FROM embeddings
    ),
    dims AS (
        SELECT e.label, u.i AS i, round(avg(e.v[u.i]), 6) AS m
        FROM e, (SELECT unnest(range(1, 65)) AS i) u
        GROUP BY e.label, u.i
    ),
    cent AS (
        SELECT label, list(m ORDER BY i) AS cvec
        FROM dims GROUP BY label
    ),
    sz AS (SELECT label, count(*) AS n FROM e GROUP BY label)
    SELECT a.label AS label_a, b.label AS label_b,
           CAST(sa.n AS BIGINT) AS n_a,
           CAST(sb.n AS BIGINT) AS n_b,
           round(list_cosine_similarity(a.cvec, b.cvec), 6) + 0.0
               AS centroid_cosine
    FROM cent a
    JOIN cent b ON a.label < b.label
    JOIN sz sa ON sa.label = a.label
    JOIN sz sb ON sb.label = b.label
    """,
    tags=("similarity", "clustering", "eval"),
)
def label_centroid_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine similarity between the label centroids of the
    embedding space — the cheapest separability read on a labeled
    vector corpus (centroids near cosine 1 mean the labels are not
    linearly separable and any centroid-routed ANN or SemDeDup
    clustering will mix them; the summary view over
    ari_cell_vs_label's full pair-counting evaluation).

    Scale shape + parity: one scan collapses to a labels x dims mean
    frame (round-6 centroid parity, the ann_ivf discipline); the
    pairwise matrix lives on a bounded |labels|-row frame joined to
    itself with a < guard."""
    t = load(spark, sf_dir)
    dim = 64
    e = t.embeddings.select(
        "label", F.col("embedding").cast("array<double>").alias("v")
    )
    cent = e.groupBy("label").agg(
        F.expr(
            "array(" + ", ".join(
                f"round(avg(v[{i}]), 6)" for i in range(dim)
            ) + ")"
        ).alias("cvec"),
        F.count("*").alias("n"),
    )
    a = cent.select(
        F.col("label").alias("label_a"),
        F.col("cvec").alias("va"),
        F.col("n").alias("n_a"),
    )
    b = cent.select(
        F.col("label").alias("label_b"),
        F.col("cvec").alias("vb"),
        F.col("n").alias("n_b"),
    )
    return (
        a.join(F.broadcast(b), F.col("label_a") < F.col("label_b"))
        .select(
            "label_a", "label_b",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            (
                F.round(cosine_col(F.col("va"), F.col("vb")), 6) + 0.0
            ).alias("centroid_cosine"),
        )
    )


# --------------------------------------------------------------------------
# r10 — range (radius) search and filtered vector search: the two ANN
# query shapes production retrieval systems need beyond top-k.
# --------------------------------------------------------------------------

_RADIUS_TAU = 0.3      #: cosine threshold for the range query
_RADIUS_PLANES = 4     #: fewer planes than top-k LSH: range queries
#: want bigger buckets (recall over precision — every candidate is
#: exact-verified against tau anyway, so false positives only cost
#: compute, while a missed bucket loses a true neighbor outright)
_RADIUS_QCUT = 8


def _radius_probes_sql() -> str:
    return ", ".join(
        ["q.bucket"]
        + [f"xor(q.bucket, {2 ** i})" for i in range(_RADIUS_PLANES)]
    )


def _radius_oracle() -> str:
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    b AS (
        SELECT vec_id, v,
           {_bucket_bits_sql(_RADIUS_PLANES, 64)} AS bucket
        FROM e
    ),
    pr AS (
        SELECT q.vec_id AS query_id, q.v AS qv,
               unnest([{_radius_probes_sql()}]) AS pb
        FROM b q WHERE q.vec_id < {_RADIUS_QCUT}
    )
    SELECT p.query_id, c.vec_id AS match_id,
           round(list_cosine_similarity(p.qv, c.v), 5) + 0.0 AS cosine
    FROM pr p JOIN b c ON c.bucket = p.pb
    WHERE c.vec_id != p.query_id
      AND round(list_cosine_similarity(p.qv, c.v), 5) >= {_RADIUS_TAU}
    """


@query(
    "ann_radius_search",
    oracle=_radius_oracle(),
    tags=("similarity", "ann", "lsh", "scale-path"),
)
def ann_radius_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range query (radius search): ALL corpus vectors with cosine >=
    tau of each query — the dedup/recommendation shape where the
    answer set size is data-dependent, not a fixed k. Scale path:
    multiprobe hyperplane-LSH (own sign-bit bucket + every Hamming-1
    neighbor) bounds the candidate set to (planes+1)/2^planes of the
    corpus per query — no all-pairs — then exact cosine verifies every
    candidate against the threshold, so false bucket-mates cost
    compute but never wrong results; missed buckets are the measured
    recall trade (ann_radius_recall_eval). Fewer planes than the
    top-k path: range queries favor bigger buckets because
    verification is exact, and for a near-orthogonal radius (tau=0.3
    is ~72 degrees) per-plane agreement is only ~0.6, so single-probe
    recall would collapse as 0.6^planes.

    Scale shape: the probe fan-out explodes only the tiny broadcast
    query side; candidates join on the bucket key; each corpus vector
    lives in ONE bucket so the probe union needs no dedup; threshold
    filter inside codegen; output is the (sparse) neighbor list."""
    t = load(spark, sf_dir)
    b = hyperplane_lsh_buckets(
        t.embeddings, "embedding", num_planes=_RADIUS_PLANES, dim=64
    )
    probe_arr = F.array(
        F.col("lsh_bucket"),
        *[F.expr(f"lsh_bucket ^ {2 ** i}") for i in range(_RADIUS_PLANES)],
    )
    q = b.where(F.col("vec_id") < _RADIUS_QCUT).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("_qvec"),
        F.explode(probe_arr).alias("pb"),
    )
    c = b.select(
        F.col("vec_id").alias("match_id"),
        F.col("lsh_bucket").alias("pb"),
        F.col("embedding").alias("_cvec"),
    )
    return (
        c.join(F.broadcast(q), "pb")
        .where(F.col("match_id") != F.col("query_id"))
        .select(
            "query_id", "match_id",
            (F.round(cosine_col(F.col("_qvec"), F.col("_cvec")), 5) + 0.0)
            .alias("cosine"),
        )
        .where(F.col("cosine") >= _RADIUS_TAU)
    )


def _radius_recall_oracle() -> str:
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    truth AS (
        SELECT q.vec_id AS query_id, c.vec_id AS match_id
        FROM e q JOIN e c ON c.vec_id != q.vec_id
        WHERE q.vec_id < {_RADIUS_QCUT}
          AND round(list_cosine_similarity(q.v, c.v), 5) >= {_RADIUS_TAU}
    ),
    b AS (
        SELECT vec_id, v,
           {_bucket_bits_sql(_RADIUS_PLANES, 64)} AS bucket
        FROM e
    ),
    pr AS (
        SELECT q.vec_id AS query_id, q.v AS qv,
               unnest([{_radius_probes_sql()}]) AS pb
        FROM b q WHERE q.vec_id < {_RADIUS_QCUT}
    ),
    caught AS (
        SELECT p.query_id, c.vec_id AS match_id
        FROM pr p JOIN b c ON c.bucket = p.pb
        WHERE c.vec_id != p.query_id
          AND round(list_cosine_similarity(p.qv, c.v), 5) >= {_RADIUS_TAU}
    )
    SELECT (SELECT count(*) FROM truth)::BIGINT AS n_truth,
           (SELECT count(*) FROM caught)::BIGINT AS n_caught,
           round((SELECT count(*) FROM caught) * 1.0
                 / (SELECT count(*) FROM truth), 6) + 0.0 AS recall
    """


@query(
    "ann_radius_recall_eval",
    oracle=_radius_recall_oracle(),
    tags=("similarity", "ann", "eval"),
)
def ann_radius_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall of the LSH-bucketed radius search against the
    brute-force >= tau truth set — the number that says whether
    {planes} planes keep enough of the (data-dependent-size) answer.
    Every caught pair is exact-verified, so precision is 1 by
    construction; recall is the only free variable, and it is measured,
    not read off the (1 - (1 - s^r)^b) curve."""
    t = load(spark, sf_dir)
    qs = t.embeddings.where(F.col("vec_id") < _RADIUS_QCUT).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("_qvec"),
    )
    cs = t.embeddings.select(
        F.col("vec_id").alias("match_id"),
        F.col("embedding").alias("_cvec"),
    )
    truth = (
        cs.crossJoin(F.broadcast(qs))
        .where(F.col("match_id") != F.col("query_id"))
        .where(
            F.round(cosine_col(F.col("_qvec"), F.col("_cvec")), 5)
            >= _RADIUS_TAU
        )
        .select("query_id", "match_id")
    )
    caught = ann_radius_search(spark, sf_dir).select(
        "query_id", "match_id", F.lit(1).alias("_hit")
    )
    n_truth = truth.join(
        F.broadcast(caught), ["query_id", "match_id"], "left"
    ).agg(
        F.count("*").alias("n_truth"),
        F.count("_hit").alias("n_caught"),
    )
    return n_truth.select(
        "n_truth", "n_caught",
        (F.round(F.col("n_caught") * 1.0 / F.col("n_truth"), 6) + 0.0)
        .alias("recall"),
    )


_FILTER_QCUT = 8
_FILTER_K = 5
_FILTER_PREFETCH = 20  #: unfiltered candidates fetched by post-filter


def _filtered_topk_oracle() -> str:
    return f"""
    WITH e AS (
        SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS match_id,
               round(list_cosine_similarity(q.v, c.v), 5) + 0.0 AS cosine
        FROM e q
        JOIN e c ON c.label = q.label AND c.vec_id != q.vec_id
        WHERE q.vec_id < {_FILTER_QCUT}
    )
    SELECT query_id, match_id, cosine
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, match_id
        ) AS rn
        FROM scored
    )
    WHERE rn <= {_FILTER_K}
    """


@query(
    "ann_filtered_topk",
    oracle=_filtered_topk_oracle(),
    tags=("similarity", "ann", "filtered", "scale-path"),
)
def ann_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered vector search, PRE-FILTER strategy: top-k restricted
    to corpus vectors satisfying a per-query metadata predicate (here
    label == query label — the tenant/language/category case). The
    filter attribute is the join key, so the predicate prunes the
    candidate set BEFORE any distance arithmetic and the search within
    the filter is EXACT — the right strategy whenever the filter is
    selective, and the baseline a post-filter ANN must beat
    (ann_postfilter_recall_eval measures what post-filtering loses).

    Scale shape: candidates co-partitioned by the filter key (at
    100 TB the corpus is bucketed/partitioned by exactly that key);
    queries broadcast; per-query top-k via a bounded keyed window."""
    from pyspark.sql import Window as W

    t = load(spark, sf_dir)
    q = t.embeddings.where(F.col("vec_id") < _FILTER_QCUT).select(
        F.col("vec_id").alias("query_id"), "label",
        F.col("embedding").alias("_qvec"),
    )
    c = t.embeddings.select(
        F.col("vec_id").alias("match_id"), "label",
        F.col("embedding").alias("_cvec"),
    )
    scored = (
        c.join(F.broadcast(q), "label")
        .where(F.col("match_id") != F.col("query_id"))
        .select(
            "query_id", "match_id",
            (F.round(cosine_col(F.col("_qvec"), F.col("_cvec")), 5) + 0.0)
            .alias("cosine"),
        )
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("match_id")
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= _FILTER_K)
        .drop("_rn")
    )


def _postfilter_recall_oracle() -> str:
    return f"""
    WITH e AS (
        SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    truth AS (
        SELECT query_id, match_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS match_id,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY round(list_cosine_similarity(q.v, c.v), 5)
                                DESC, c.vec_id
                   ) AS rn
            FROM e q
            JOIN e c ON c.label = q.label AND c.vec_id != q.vec_id
            WHERE q.vec_id < {_FILTER_QCUT}
        ) WHERE rn <= {_FILTER_K}
    ),
    b AS (
        SELECT vec_id, label, v,
           {_bucket_bits_sql(8, 64)} AS bucket
        FROM e
    ),
    pr AS (
        SELECT q.vec_id AS query_id, q.label AS qlabel, q.v AS qv,
               unnest([q.bucket,
                       {", ".join(f"xor(q.bucket, {2 ** i})"
                                  for i in range(8))}]) AS pb
        FROM b q WHERE q.vec_id < {_FILTER_QCUT}
    ),
    prefetch AS (
        SELECT query_id, match_id, mlabel, qlabel, cosine FROM (
            SELECT p.query_id, c.vec_id AS match_id,
                   c.label AS mlabel, p.qlabel,
                   round(list_cosine_similarity(p.qv, c.v), 5) + 0.0
                       AS cosine,
                   row_number() OVER (
                       PARTITION BY p.query_id
                       ORDER BY round(list_cosine_similarity(p.qv, c.v), 5)
                                DESC, c.vec_id
                   ) AS rn
            FROM pr p JOIN b c ON c.bucket = p.pb
            WHERE c.vec_id != p.query_id
        ) WHERE rn <= {_FILTER_PREFETCH}
    ),
    post AS (
        SELECT query_id, match_id FROM (
            SELECT query_id, match_id,
                   row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY cosine DESC, match_id
                   ) AS rn
            FROM prefetch WHERE mlabel = qlabel
        ) WHERE rn <= {_FILTER_K}
    )
    SELECT (SELECT count(*) FROM truth)::BIGINT AS n_truth,
           (SELECT count(*) FROM post)::BIGINT AS n_post,
           (SELECT count(*) FROM truth t
             JOIN post p USING (query_id, match_id))::BIGINT AS n_caught,
           round((SELECT count(*) FROM truth t
                   JOIN post p USING (query_id, match_id)) * 1.0
                 / (SELECT count(*) FROM truth), 6) + 0.0 AS recall
    """


@query(
    "ann_postfilter_recall_eval",
    oracle=_postfilter_recall_oracle(),
    tags=("similarity", "ann", "filtered", "eval"),
)
def ann_postfilter_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The post-filter pitfall MEASURED: fetch unfiltered multiprobe-
    LSH candidates per query (own bucket + Hamming-1 probes, the
    ann_multiprobe_topk machinery), apply the metadata filter
    afterwards, keep the best k — then report recall against the true
    filtered top-k (ann_filtered_topk's answer). Post-filtering loses
    neighbors twice (bucket misses AND filter-eligible vectors crowded
    out of the prefetch by ineligible ones); this eval prices that
    against the pre-filter baseline, the standard over-fetch sizing
    loop for filtered ANN."""
    from pyspark.sql import Window as W

    t = load(spark, sf_dir)
    # true filtered top-k (the pre-filter answer)
    truth = ann_filtered_topk(spark, sf_dir).select("query_id", "match_id")

    b = hyperplane_lsh_buckets(t.embeddings, "embedding", num_planes=8, dim=64)
    probe_arr = F.array(
        F.col("lsh_bucket"),
        *[F.expr(f"lsh_bucket ^ {2 ** i}") for i in range(8)],
    )
    q = b.where(F.col("vec_id") < _FILTER_QCUT).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("_qlabel"),
        F.col("embedding").alias("_qvec"),
        F.explode(probe_arr).alias("pb"),
    )
    c = b.select(
        F.col("vec_id").alias("match_id"),
        F.col("label").alias("_mlabel"),
        F.col("lsh_bucket").alias("pb"),
        F.col("embedding").alias("_cvec"),
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("match_id")
    )
    prefetch = (
        c.join(F.broadcast(q), "pb")
        .where(F.col("match_id") != F.col("query_id"))
        .select(
            "query_id", "match_id", "_qlabel", "_mlabel",
            (F.round(cosine_col(F.col("_qvec"), F.col("_cvec")), 5) + 0.0)
            .alias("cosine"),
        )
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= _FILTER_PREFETCH)
    )
    post = (
        prefetch.where(F.col("_mlabel") == F.col("_qlabel"))
        .withColumn("_rn2", F.row_number().over(w))
        .where(F.col("_rn2") <= _FILTER_K)
        .select("query_id", "match_id", F.lit(1).alias("_hit"))
    )
    return (
        truth.join(F.broadcast(post), ["query_id", "match_id"], "left")
        .agg(
            F.count("*").alias("n_truth"),
            F.sum(
                F.when(F.col("_hit").isNotNull(), 1).otherwise(0)
            ).cast("long").alias("n_caught"),
        )
        .crossJoin(F.broadcast(post.agg(F.count("*").alias("n_post"))))
        .select(
            "n_truth", "n_post", "n_caught",
            (F.round(F.col("n_caught") * 1.0 / F.col("n_truth"), 6) + 0.0)
            .alias("recall"),
        )
    )


# --------------------------------------------------------------------------
# ext — graph-traversal ANN (HNSW-shaped, r11): a bounded-degree
# nearest-neighbor graph built from capped LSH-bucket candidates, then
# fixed-round best-first beam search from fixed entry points. The
# graph-index family that dominates single-node ANN practice (HNSW /
# NSG / DiskANN), re-expressed as what it IS relationally: an edge
# table + R unrolled (frontier ⋈ edges → score → top-B) rounds. Fixed
# rounds keep the oracle twin expressible without recursion; the
# deterministic rounded-cosine + id tie-break makes both engines pick
# identical beams. Reference n/a (extended surface per BASELINE.json).
# --------------------------------------------------------------------------
#: Per-bucketing sign bits are corpus-adaptive since r12 (the
#: _ADAPT_* geometry above; SCALE.md r11 named the fixed count as the
#: one open scaling knob). Two independent seeds remain.
_GR_SEED_B = 1337   #: second bucketing seed (first is the default 42)
_GR_M = 10          #: graph out-degree (top-M by cosine per node)
_GR_BUCKET_CAP = 200  #: candidate buckets larger than this are dropped
_GR_ND = 2          #: NN-descent refinement rounds on the edge table
_GR_BEAM = 16       #: beam width
_GR_ROUNDS = 3      #: unrolled expansion rounds after entry seeding
_GR_ENTRY = 8       #: entry points: vec_id < this (fixed, deterministic)
_GR_K = 5           #: neighbors returned
_GR_QCUT = 8        #: query vectors: vec_id < this


def _graph_build_ctes(g: str, corpus: str) -> str:
    """CTE chain building the bounded-degree neighbor graph ``{g}``
    over the corpus CTE ``{corpus}``: two independent sign-bit
    bucketings (corpus-adaptive plane count from the shared ``pcnt``
    CTE — the caller defines it over the FULL corpus ``e``, the
    geometry an index is provisioned for), capped buckets, in-bucket
    candidate pairs, top-M by (rounded cosine, id) per source node,
    then _GR_ND NN-descent refinement rounds (Dong, Moses & Li 2011:
    re-rank each node's neighbors against its neighbors' neighbors +
    reverse edges — the step that turns low-recall bucket candidates
    into a real k-NN graph; measured edge recall 9.8% → 44% at
    sf0.01). MATERIALIZED is load-bearing: each refinement references
    the previous graph four times, and DuckDB's default CTE inlining
    re-evaluates the whole upstream chain per reference (measured
    118 s → 1.3 s for the full eval). All sub-CTE names carry the
    ``{g}`` tag so the repair twin can instantiate the chain twice in
    one statement."""
    steps = f"""
    b1_{g} AS (SELECT vec_id, v,
                  ({_bucket_bits_sql(_ADAPT_PMAX, 64)})
                      % CAST(pow(2, p.p) AS BIGINT) AS bucket
           FROM {corpus}, pcnt p),
    b2_{g} AS (SELECT vec_id, v,
                  ({_bucket_bits_sql(_ADAPT_PMAX, 64, _GR_SEED_B)})
                      % CAST(pow(2, p.p) AS BIGINT) AS bucket
           FROM {corpus}, pcnt p),
    k1_{g} AS (SELECT bucket FROM b1_{g} GROUP BY bucket
           HAVING count(*) <= {_GR_BUCKET_CAP}),
    k2_{g} AS (SELECT bucket FROM b2_{g} GROUP BY bucket
           HAVING count(*) <= {_GR_BUCKET_CAP}),
    cand_{g} AS MATERIALIZED (
        SELECT a.vec_id AS src, b.vec_id AS dst
        FROM b1_{g} a JOIN k1_{g} USING (bucket)
        JOIN b1_{g} b ON b.bucket = a.bucket AND b.vec_id != a.vec_id
        UNION
        SELECT a.vec_id, b.vec_id
        FROM b2_{g} a JOIN k2_{g} USING (bucket)
        JOIN b2_{g} b ON b.bucket = a.bucket AND b.vec_id != a.vec_id
    ),
    {g}0 AS MATERIALIZED (
        SELECT src, dst FROM (
            SELECT c.src, c.dst,
                   row_number() OVER (
                       PARTITION BY c.src
                       ORDER BY round(list_cosine_similarity(es.v, ed.v),
                                      5) DESC, c.dst
                   ) AS rn
            FROM cand_{g} c
            JOIN e es ON es.vec_id = c.src
            JOIN e ed ON ed.vec_id = c.dst
        ) WHERE rn <= {_GR_M}
    )"""
    prev = f"{g}0"
    for r in range(1, _GR_ND + 1):
        nxt = f"{g}{r}"
        steps += f""",
    c_{nxt} AS (
        SELECT src, dst FROM {prev}
        UNION SELECT dst, src FROM {prev}
        UNION SELECT a.src, b.dst FROM {prev} a JOIN {prev} b
              ON b.src = a.dst AND b.dst != a.src
        UNION SELECT a.src, b.src FROM {prev} a JOIN {prev} b
              ON b.dst = a.dst AND b.src != a.src
    ),
    {nxt} AS MATERIALIZED (
        SELECT src, dst FROM (
            SELECT c.src, c.dst,
                   row_number() OVER (
                       PARTITION BY c.src
                       ORDER BY round(list_cosine_similarity(es.v, ed.v),
                                      5) DESC, c.dst
                   ) AS rn
            FROM c_{nxt} c
            JOIN e es ON es.vec_id = c.src
            JOIN e ed ON ed.vec_id = c.dst
        ) WHERE rn <= {_GR_M}
    )"""
        prev = nxt
    return steps


def _graph_cte() -> str:
    """Full-corpus graph build: corpus `e`, adaptive geometry `pcnt`,
    refined edge table exposed as `graph`, query set as `qs`."""
    return f"""
    e AS MATERIALIZED (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    pcnt AS ({_plane_count_sql("e")}),
    {_graph_build_ctes("g", "e")},
    graph AS (SELECT src, dst FROM g{_GR_ND}),
    qs AS (SELECT vec_id AS query_id, v AS qv FROM e
           WHERE vec_id < {_GR_QCUT})"""


def _beam_ctes(graph: str = "graph", tag: str = "") -> str:
    """Entry seeding + _GR_ROUNDS unrolled beam rounds over the edge
    CTE ``graph``; the final beam lives in beam{tag}{_GR_ROUNDS}.
    Beams are MATERIALIZED — each round references the previous beam
    twice (carry + expand), so inlining would double the upstream
    chain per round."""
    parts = [f"""
    beam{tag}0 AS MATERIALIZED (
        SELECT query_id, node, cosine FROM (
            SELECT q.query_id, en.vec_id AS node,
                   round(list_cosine_similarity(q.qv, en.v), 5) + 0.0
                       AS cosine,
                   row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY round(list_cosine_similarity(q.qv, en.v),
                                      5) DESC, en.vec_id
                   ) AS rn
            FROM qs q JOIN e en ON en.vec_id < {_GR_ENTRY}
        ) WHERE rn <= {_GR_BEAM}
    )"""]
    for r in range(1, _GR_ROUNDS + 1):
        parts.append(f"""
    c{tag}{r} AS (
        SELECT query_id, node FROM beam{tag}{r - 1}
        UNION
        SELECT b.query_id, g.dst FROM beam{tag}{r - 1} b
        JOIN {graph} g ON g.src = b.node
    ),
    beam{tag}{r} AS MATERIALIZED (
        SELECT query_id, node, cosine FROM (
            SELECT c.query_id, c.node,
                   round(list_cosine_similarity(q.qv, en.v), 5) + 0.0
                       AS cosine,
                   row_number() OVER (
                       PARTITION BY c.query_id
                       ORDER BY round(list_cosine_similarity(q.qv, en.v),
                                      5) DESC, c.node
                   ) AS rn
            FROM c{tag}{r} c
            JOIN e en ON en.vec_id = c.node
            JOIN qs q ON q.query_id = c.query_id
        ) WHERE rn <= {_GR_BEAM}
    )""")
    return ",".join(parts)


def _graph_topk_oracle() -> str:
    return f"""
    WITH {_graph_cte()}, {_beam_ctes()}
    SELECT query_id, match_id, cosine FROM (
        SELECT query_id, node AS match_id, cosine,
               row_number() OVER (
                   PARTITION BY query_id ORDER BY cosine DESC, node
               ) AS rn
        FROM beam{_GR_ROUNDS} WHERE node != query_id
    ) WHERE rn <= {_GR_K}
    """


def _build_graph_edges(
    emb: DataFrame,
    geom: DataFrame | None = None,
    both: DataFrame | None = None,
    nemb: DataFrame | None = None,
) -> DataFrame:
    """(src, dst) bounded-degree neighbor graph over the ``emb``
    corpus: union of capped-bucket candidates from two independent
    sign-bit bucketings (plane count corpus-adaptive from ``geom`` —
    defaults to the indexed corpus; the repair twin passes the FULL
    corpus so base build and insert share one geometry), top-{_GR_M}
    by (rounded cosine, id) per node, refined by {_GR_ND} NN-descent
    rounds (candidates = current edges ∪ reversed edges ∪ 2-hop
    neighbors ∪ co-neighbors, re-ranked top-M — Dong, Moses & Li
    2011). Each round's graph is persisted: the next round references
    it four times, and an unmaterialized frame would re-execute the
    whole build per reference (the same lineage discipline as the
    kcore loop, but with a FIXED round count so the oracle unrolls as
    CTEs)."""
    from pyspark.sql import Window as W

    if geom is None:
        geom = emb
    # `both` / `nemb` injection (r12): the repair twin builds buckets
    # and norms for the FULL corpus anyway; both frames are pure
    # per-row projections (bucket id and norm depend only on the
    # vector + geometry literals), so the base build can reuse them
    # filtered/as-is instead of re-materializing the many-literal
    # projection a second time.
    if both is None:
        both = _both_buckets(emb, geom)
    if nemb is None:
        # the fused bucket frame carries (embedding, _n) — reuse it
        # as the norms frame instead of materializing a second pass
        nemb = both.select("vec_id", "embedding", "_n")
    pairs = _capped_pairs_both(both)
    topm = _topm_fn(emb, nemb=nemb)
    # localCheckpoint per round: each refinement references the
    # previous graph FOUR times (self-joins inside the candidate
    # helper), and a lazy lineage would both re-execute the build per
    # reference and deepen the plan tree past what explain/codegen can
    # hold (the r11 first cut hit a driver OOM just STRINGIFYING the
    # 3-round plan).
    # no .distinct() before topm: the set-aggregate inside dedupes
    g = topm(pairs).localCheckpoint()
    for _ in range(_GR_ND):
        g = topm(_nn_descent_cands(g)).localCheckpoint()
    return g


def _both_buckets(emb: DataFrame, geom: DataFrame) -> DataFrame:
    """(vec_id, b1, b2, embedding, _n): both seeds' adaptive bucket
    ids AND the vector + its norm in ONE materialized pass — the
    plane projection is a many-hundred-literal expression tree per
    seed, and leaving it lazy inlines it into every downstream
    reference (cap aggregate + both join sides each): multi-MiB task
    binaries whose COMPILE time, not the 2k-row data, dominated the
    g0 build.  The norm column (r13) folds what used to be a second
    checkpointed corpus pass (:func:`_graph_norms`) into this one —
    the frame doubles as the ``nemb`` input of :func:`_topm_fn`."""
    return adaptive_lsh_buckets(
        adaptive_lsh_buckets(
            emb, geom, "embedding", seed=42
        ).withColumnRenamed("lsh_bucket", "b1"),
        geom, "embedding", seed=_GR_SEED_B,
    ).select(
        "vec_id", "b1", F.col("lsh_bucket").alias("b2"),
        "embedding", F.expr(norm_sql("embedding")).alias("_n"),
    ).localCheckpoint()


def _capped_pairs_both(both, src_pred=None) -> DataFrame:
    """Union of both bucketings' capped in-bucket candidate pairs in
    ONE pipeline (r13): explode each row into (seed, bucket), so one
    cap aggregate and one src×dst join replace the per-seed pair of
    each (guide §2.4 — two operations keyed the same way share one
    exchange; the replaced per-seed helper lived here through r12).
    The produced (src, dst) multiset is exactly the union of the two
    per-seed pipelines — per-seed cap counts (src side restricted to
    kept <= cap buckets, optionally to src_pred rows: the insert path)
    and the src != dst guard are keyed on (seed, bucket), and the
    consumer (the top-M set-aggregate) dedupes cross-seed repeats the
    same way it deduped the old UNION ALL."""
    eb = both.select(
        "vec_id",
        F.expr(
            "explode(array(named_struct('s', 1, 'bkt', b1),"
            " named_struct('s', 2, 'bkt', b2)))"
        ).alias("_sb"),
    ).select("vec_id", F.col("_sb.s").alias("s"),
             F.col("_sb.bkt").alias("bkt"))
    keep = (
        eb.groupBy("s", "bkt")
        .agg(F.count("*").alias("n"))
        .where(F.col("n") <= _GR_BUCKET_CAP)
        .select("s", "bkt")
    )
    kb = eb.join(keep, ["s", "bkt"])
    if src_pred is not None:
        kb = kb.where(src_pred)
    return (
        kb.select(F.col("vec_id").alias("src"), "s", "bkt")
        .join(
            eb.select(F.col("vec_id").alias("dst"), "s", "bkt"),
            ["s", "bkt"],
        )
        .where(F.col("src") != F.col("dst"))
        .select("src", "dst")
    )


def _topm_fn(emb: DataFrame, nemb: DataFrame | None = None):
    """Closure ranking candidate (src, dst) pairs to the top-_GR_M by
    (rounded cosine, dst) per src. The per-vector norm is computed
    ONCE (bit-identical to the fold inside cosine_col — same ops on
    the same values), so each scored pair pays one dot product instead
    of dot + two norm folds.  Pass ``nemb`` (a previously checkpointed
    (vec_id, embedding, _n) frame — see :func:`_graph_norms`) to share
    one norms materialization across several topm closures (r12: the
    repair twin built it twice)."""
    if nemb is None:
        nemb = _graph_norms(emb)
    ev = nemb.select(F.col("vec_id").alias("src"),
                     F.col("embedding").alias("_sv"),
                     F.col("_n").alias("_sn"))
    dv = nemb.select(F.col("vec_id").alias("dst"),
                     F.col("embedding").alias("_dv"),
                     F.col("_n").alias("_dn"))

    def topm(cands: DataFrame) -> DataFrame:
        # top-M per src as ONE map-side-combined aggregation (r12):
        # collect_set dedupes candidate (cos, dst) pairs (duplicate
        # (src,dst) score identically, so set semantics == the old
        # caller-side .distinct()), array_sort on struct(-cos, dst)
        # reproduces the (cosine DESC, dst) window order exactly, and
        # slice keeps M — replacing the distinct exchange + window
        # exchange with a single partially-aggregated shuffle whose
        # per-group state is bounded by the bucket caps.
        # parsed-SQL fragments (operators/sqlexpr, r12): this closure
        # re-runs per NN-descent round, so its py4j construction cost
        # multiplies by the round count
        scored = (
            cands.join(ev, "src")
            .join(dv, "dst")
            .select(
                "src", "dst",
                F.expr(
                    f"round({dot_sql('_sv', '_dv')} / (_sn * _dn), 5)"
                ).alias("_cos"),
            )
        )
        return (
            scored.groupBy("src")
            .agg(
                F.expr(
                    "slice(array_sort(collect_set("
                    "named_struct('_nc', -_cos, 'dst', dst)"
                    f")), 1, {_GR_M})"
                ).alias("_top")
            )
            .select("src", F.explode("_top").alias("_t"))
            .select("src", F.col("_t.dst").alias("dst"))
        )

    return topm


def _graph_norms(emb: DataFrame) -> DataFrame:
    """Checkpointed (vec_id, embedding, _n) norms frame shared by topm
    closures (norm identical to the fold inside cosine_col)."""
    return emb.select(
        "vec_id", "embedding", F.expr(norm_sql("embedding")).alias("_n")
    ).localCheckpoint()


def _nn_descent_cands(g: DataFrame, touched: DataFrame | None = None) -> DataFrame:
    """One NN-descent round's candidate set over graph `g`: current
    edges + reversed + 2-hop + co-neighbors, deduped; when `touched`
    (a 1-column src frame) is given, only candidates whose resulting
    src is touched survive — the repair round's restriction, applied
    BEFORE the expansion joins (each class semi-joins its src-bearing
    input against the tiny broadcast touched set, so repair work is
    proportional to the touched neighborhoods, not the corpus).
    Renamed-column joins, not .alias() self-joins — aliasing two sides
    of the same cached plan mis-resolved the join condition and
    produced edges the oracle (correctly) doesn't have."""
    gs = g
    if touched is not None:
        # src-side classes (direct / 2-hop / co-neighbor) start from
        # edges whose src is touched; the reversed class starts from
        # edges whose DST is touched (its resulting src is g.dst)
        gs = g.join(F.broadcast(touched), "src", "left_semi")
        rev_in = g.join(
            F.broadcast(touched.withColumnRenamed("src", "dst")),
            "dst", "left_semi",
        )
    else:
        rev_in = g
    rev = rev_in.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    left_mid = gs.select("src", F.col("dst").alias("_mid"))
    hop = (
        left_mid.join(
            g.select(F.col("src").alias("_mid"),
                     F.col("dst").alias("_dst2")),
            "_mid",
        )
        .where(F.col("_dst2") != F.col("src"))
        .select("src", F.col("_dst2").alias("dst"))
    )
    codst = (
        left_mid.join(
            g.select(F.col("dst").alias("_mid"),
                     F.col("src").alias("_src2")),
            "_mid",
        )
        .where(F.col("_src2") != F.col("src"))
        .select("src", F.col("_src2").alias("dst"))
    )
    # all four classes are already src-restricted when touched is
    # given (gs / rev_in carry the semi-join), so no post-filter; no
    # .distinct() either — the consumer is always topm, whose
    # set-aggregate dedupes (r12: one fewer exchange per round)
    return gs.union(rev).union(hop).union(codst)


def _beam_rescore_fn(emb: DataFrame):
    """Closure ranking beam candidates: top-BEAM per query as one
    map-side-combined aggregation (r12, same fusion as _topm_fn):
    collect_set dedupes repeated candidates (identical (cosine, node)
    structs), array_sort on struct(-cosine, node) is the
    (cosine DESC, node) beam order, slice keeps the width — one
    exchange where the old union().distinct() + row_number window
    paid two."""
    qs = emb.where(F.col("vec_id") < _GR_QCUT).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("_qv")
    )

    def rescore(cands: DataFrame) -> DataFrame:
        scored = (
            cands.join(
                emb.select(F.col("vec_id").alias("node"),
                           F.col("embedding").alias("_nv")),
                "node",
            )
            .join(F.broadcast(qs), "query_id")
            .select(
                "query_id", "node",
                F.expr(
                    f"round({cosine_sql('_qv', '_nv')}, 5) + 0.0D"
                ).alias("cosine"),
            )
        )
        return (
            scored.groupBy("query_id")
            .agg(
                F.expr(
                    "slice(array_sort(collect_set("
                    "named_struct('_nc', -cosine, 'node', node)"
                    f")), 1, {_GR_BEAM})"
                ).alias("_top")
            )
            .select("query_id", F.explode("_top").alias("_t"))
            .select(
                "query_id",
                F.col("_t.node").alias("node"),
                (-F.col("_t._nc")).alias("cosine"),
            )
        )

    return rescore


def _graph_entry_beam(t) -> DataFrame:
    """Checkpointed entry beam: rescore(queries × entry points).
    Depends only on the corpus — shareable across every beam search
    over the same embeddings (r13)."""
    emb = t.embeddings.select("vec_id", "embedding")
    qs = emb.where(F.col("vec_id") < _GR_QCUT).select(
        F.col("vec_id").alias("query_id")
    )
    en = emb.where(F.col("vec_id") < _GR_ENTRY).select(
        F.col("vec_id").alias("node")
    )
    rescore = _beam_rescore_fn(emb)
    return rescore(qs.crossJoin(F.broadcast(en))).localCheckpoint()


def _graph_beam(t, edges: DataFrame,
                beam0: DataFrame | None = None) -> DataFrame:
    """Fixed-round beam search: (query_id, node, cosine) final beam.
    Per round the tiny beam frame broadcasts into the edge join; the
    candidate set re-scores against the query vector with the same
    rounded-cosine + id tie-break the oracle uses.

    ``beam0`` (r13): the entry beam — rescore(queries × entry points)
    — depends only on the corpus, NOT on ``edges``, so a caller
    running several beam searches over the same corpus (the repair
    twin searches the stale and the repaired graph) can materialize
    it once and pass it in; one fewer entry-scoring job + checkpoint
    per extra search, bit-identical beams."""
    emb = t.embeddings.select("vec_id", "embedding")
    rescore = _beam_rescore_fn(emb)

    # per-round localCheckpoint: the beam is (queries × width) rows,
    # and flattening it keeps the unrolled 3-round plan bounded (each
    # round references the previous beam twice: carry + expand)
    if beam0 is not None:
        beam = beam0
    else:
        beam = _graph_entry_beam(t)
    for r in range(_GR_ROUNDS):
        nbrs = (
            edges.join(
                F.broadcast(beam.select("query_id",
                                        F.col("node").alias("src"))),
                "src",
            )
            .select("query_id", F.col("dst").alias("node"))
        )
        cands = beam.select("query_id", "node").union(nbrs)
        beam = rescore(cands)
        if r < _GR_ROUNDS - 1:
            # the last beam flows straight into the caller's final
            # top-k window
            beam = beam.localCheckpoint()
    return beam


def _graph_edges_shared(spark: SparkSession, t, sf_dir: str) -> DataFrame:
    """Maintained graph-ANN index (VERDICT r11 #5): the |V|·{_GR_M}
    edge table, built once per (embeddings fingerprint, geometry) via
    the plans.artifacts seam and scanned by every search thereafter —
    the build job / search query split every production vector index
    has (mirrors the co-supply edge artifact and the IVF codebook).
    The DuckDB twins rebuild the graph from raw embeddings per query,
    so artifact/build divergence would fail the parity gate."""
    key = (
        f"ann_graph_edges_v1_m{_GR_M}_nd{_GR_ND}_cap{_GR_BUCKET_CAP}"
        f"_p{_ADAPT_PMIN}-{_ADAPT_PMAX}o{_ADAPT_OCC}"
        f"_{source_fingerprint(sf_dir, ('embeddings',))}"
    )
    emb = t.embeddings.select("vec_id", "embedding")
    return materialized(spark, key, lambda: _build_graph_edges(emb))


@query(
    "ann_graph_build",
    # the build job's auditable summary: the out-degree histogram of
    # the refined edge table (top-M bounds out_deg at M; the histogram
    # shows how tightly the bound binds)
    oracle=f"""
    WITH {_graph_cte()}
    SELECT out_deg, count(*) AS n_nodes FROM (
        SELECT src, count(*) AS out_deg FROM graph GROUP BY src
    ) GROUP BY out_deg
    """,
    tags=("similarity", "ann", "graph", "iterative"),
)
def ann_graph_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-ANN index BUILD job: materializes the bounded-degree
    neighbor graph through the artifact seam (idempotent — a warm
    artifact is just scanned) and returns the out-degree histogram of
    the edge table as the build's auditable summary. This is the
    ingest-time half of the build/search split: at 100 TB the
    NN-descent build runs once per corpus snapshot and every search
    (`ann_graph_topk`) reads the maintained edge table instead of
    re-deriving it."""
    t = load(spark, sf_dir)
    edges = _graph_edges_shared(spark, t, sf_dir)
    deg = edges.groupBy("src").agg(F.count("*").alias("out_deg"))
    return deg.groupBy("out_deg").agg(F.count("*").alias("n_nodes"))


@query(
    "ann_graph_topk",
    oracle=_graph_topk_oracle(),
    tags=("similarity", "ann", "graph", "iterative"),
)
def ann_graph_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-traversal ANN (the HNSW/NSG/DiskANN family shape): answer
    each query with {_GR_ROUNDS} unrolled best-first beam rounds
    (width {_GR_BEAM}) from fixed entry points — greedy routing over a
    navigable bounded-degree ({_GR_M}-out) neighbor graph read from
    the maintained index artifact (`ann_graph_build` is the build
    job; a cold cache builds inline once).

    Scale shape: each search round broadcasts the tiny (queries ×
    beam) frontier into ONE equality join against the edge table — no
    per-query scans, no recursion; steady-state search cost is
    independent of the build. The DuckDB twin rebuilds graph + beams
    as plain CTEs."""
    t = load(spark, sf_dir)
    edges = _graph_edges_shared(spark, t, sf_dir)
    beam = _graph_beam(t, edges)
    from pyspark.sql import Window as W

    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(),
                                          F.col("node"))
    return (
        beam.where(F.col("node") != F.col("query_id"))
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= _GR_K)
        .select("query_id", F.col("node").alias("match_id"), "cosine")
    )


def _graph_recall_oracle() -> str:
    return f"""
    WITH {_graph_cte()}, {_beam_ctes()},
    got AS (
        SELECT query_id, match_id FROM (
            SELECT query_id, node AS match_id,
                   row_number() OVER (
                       PARTITION BY query_id ORDER BY cosine DESC, node
                   ) AS rn
            FROM beam{_GR_ROUNDS} WHERE node != query_id
        ) WHERE rn <= {_GR_K}
    ),
    exact_topk AS (
        SELECT query_id, match_id FROM (
            SELECT q.query_id, c.vec_id AS match_id,
                   row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY round(list_cosine_similarity(q.qv, c.v),
                                      5) DESC, c.vec_id
                   ) AS rn
            FROM qs q JOIN e c ON c.vec_id != q.query_id
        ) WHERE rn <= {_GR_K}
    )
    SELECT x.query_id,
           count(g.match_id) AS n_hits,
           round(count(g.match_id) * 1.0 / {_GR_K}, 6) + 0.0
               AS recall_at_{_GR_K}
    FROM exact_topk x
    LEFT JOIN got g
      ON g.query_id = x.query_id AND g.match_id = x.match_id
    GROUP BY x.query_id
    """


@query(
    "ann_graph_recall_eval",
    oracle=_graph_recall_oracle(),
    tags=("similarity", "ann", "graph", "eval", "iterative"),
)
def ann_graph_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall@{_GR_K} of the graph-traversal ANN against the
    exact brute-force top-{_GR_K} for the same queries — the offline
    loop that sizes out-degree / beam width / rounds, reported as a
    number beside the LSH/IVF/PQ family evals so the families are
    directly comparable on the same corpus."""
    t = load(spark, sf_dir)
    got = ann_graph_topk(spark, sf_dir).select(
        "query_id", "match_id", F.lit(1).alias("_hit")
    )
    queries_df = t.embeddings.where(F.col("vec_id") < _GR_QCUT)
    exact = cosine_topk(
        corpus=t.embeddings, queries=queries_df, id_col="vec_id",
        vec_col="embedding", k=_GR_K,
    ).select("query_id", "match_id")
    return (
        exact.join(F.broadcast(got), ["query_id", "match_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("_hit").alias("n_hits"),
            (F.round(F.count("_hit") * 1.0 / _GR_K, 6) + 0.0).alias(
                f"recall_at_{_GR_K}"
            ),
        )
    )


# --------------------------------------------------------------------------
# ext — graph-ANN incremental maintenance (VERDICT r11 #5): the graph
# analog of ann_ivf_retrain_drift. A crawl increment arrives after the
# neighbor graph was built; new vectors are INSERTED cheaply (bucket
# candidates against the full corpus, top-M out-edges for new nodes
# only), then ONE NN-descent repair round runs over just the touched
# neighborhoods (new nodes + the base nodes they point at) — repair
# cost proportional to the increment, not the corpus. The query prices
# the maintenance decision by measuring beam-search recall on the
# stale (insert-only) graph vs the repaired graph against the exact
# full-corpus top-k. Reference n/a (extended surface).
# --------------------------------------------------------------------------
_GRI_MOD = 4   #: vec_id % MOD == REM is the crawl increment (25%)
_GRI_REM = 3


def _graph_repair_oracle() -> str:
    bits1 = _bucket_bits_sql(_ADAPT_PMAX, 64)
    bits2 = _bucket_bits_sql(_ADAPT_PMAX, 64, _GR_SEED_B)
    k = _GR_K
    return f"""
    WITH e AS MATERIALIZED (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    pcnt AS ({_plane_count_sql("e")}),
    base AS MATERIALIZED (
        SELECT vec_id, v FROM e WHERE vec_id % {_GRI_MOD} != {_GRI_REM}),
    {_graph_build_ctes("gb", "base")},
    bi1 AS (SELECT vec_id, v,
                ({bits1}) % CAST(pow(2, p.p) AS BIGINT) AS bucket
            FROM e, pcnt p),
    bi2 AS (SELECT vec_id, v,
                ({bits2}) % CAST(pow(2, p.p) AS BIGINT) AS bucket
            FROM e, pcnt p),
    ki1 AS (SELECT bucket FROM bi1 GROUP BY bucket
            HAVING count(*) <= {_GR_BUCKET_CAP}),
    ki2 AS (SELECT bucket FROM bi2 GROUP BY bucket
            HAVING count(*) <= {_GR_BUCKET_CAP}),
    icand AS MATERIALIZED (
        SELECT a.vec_id AS src, b.vec_id AS dst
        FROM bi1 a JOIN ki1 USING (bucket)
        JOIN bi1 b ON b.bucket = a.bucket AND b.vec_id != a.vec_id
        WHERE a.vec_id % {_GRI_MOD} = {_GRI_REM}
        UNION
        SELECT a.vec_id, b.vec_id
        FROM bi2 a JOIN ki2 USING (bucket)
        JOIN bi2 b ON b.bucket = a.bucket AND b.vec_id != a.vec_id
        WHERE a.vec_id % {_GRI_MOD} = {_GRI_REM}
    ),
    new_out AS MATERIALIZED (
        SELECT src, dst FROM (
            SELECT c.src, c.dst,
                   row_number() OVER (
                       PARTITION BY c.src
                       ORDER BY round(list_cosine_similarity(es.v, ed.v),
                                      5) DESC, c.dst
                   ) AS rn
            FROM icand c
            JOIN e es ON es.vec_id = c.src
            JOIN e ed ON ed.vec_id = c.dst
        ) WHERE rn <= {_GR_M}
    ),
    stale AS MATERIALIZED (
        SELECT src, dst FROM gb{_GR_ND}
        UNION ALL SELECT src, dst FROM new_out),
    touched AS MATERIALIZED (
        SELECT DISTINCT src FROM new_out
        UNION SELECT DISTINCT dst FROM new_out),
    rc AS (
        SELECT s.src, s.dst FROM stale s
        WHERE s.src IN (SELECT src FROM touched)
        UNION
        SELECT s.dst AS src, s.src AS dst FROM stale s
        WHERE s.dst IN (SELECT src FROM touched)
        UNION
        SELECT a.src, b.dst FROM stale a JOIN stale b
            ON b.src = a.dst AND b.dst != a.src
        WHERE a.src IN (SELECT src FROM touched)
        UNION
        SELECT a.src, b.src FROM stale a JOIN stale b
            ON b.dst = a.dst AND b.src != a.src
        WHERE a.src IN (SELECT src FROM touched)
    ),
    repaired AS MATERIALIZED (
        SELECT src, dst FROM (
            SELECT c.src, c.dst,
                   row_number() OVER (
                       PARTITION BY c.src
                       ORDER BY round(list_cosine_similarity(es.v, ed.v),
                                      5) DESC, c.dst
                   ) AS rn
            FROM rc c
            JOIN e es ON es.vec_id = c.src
            JOIN e ed ON ed.vec_id = c.dst
        ) WHERE rn <= {_GR_M}
    ),
    final AS MATERIALIZED (
        SELECT src, dst FROM stale
        WHERE src NOT IN (SELECT src FROM touched)
        UNION ALL SELECT src, dst FROM repaired),
    qs AS (SELECT vec_id AS query_id, v AS qv FROM e
           WHERE vec_id < {_GR_QCUT}),
    {_beam_ctes(graph="stale", tag="s")},
    {_beam_ctes(graph="final", tag="r")},
    got_s AS (
        SELECT query_id, match_id FROM (
            SELECT query_id, node AS match_id,
                   row_number() OVER (
                       PARTITION BY query_id ORDER BY cosine DESC, node
                   ) AS rn
            FROM beams{_GR_ROUNDS} WHERE node != query_id
        ) WHERE rn <= {k}
    ),
    got_r AS (
        SELECT query_id, match_id FROM (
            SELECT query_id, node AS match_id,
                   row_number() OVER (
                       PARTITION BY query_id ORDER BY cosine DESC, node
                   ) AS rn
            FROM beamr{_GR_ROUNDS} WHERE node != query_id
        ) WHERE rn <= {k}
    ),
    exact_topk AS (
        SELECT query_id, match_id FROM (
            SELECT q.query_id, c.vec_id AS match_id,
                   row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY round(list_cosine_similarity(q.qv, c.v),
                                      5) DESC, c.vec_id
                   ) AS rn
            FROM qs q JOIN e c ON c.vec_id != q.query_id
        ) WHERE rn <= {k}
    )
    SELECT x.query_id,
           count(gs.match_id) AS n_hits_stale,
           round(count(gs.match_id) * 1.0 / {k}, 6) + 0.0 AS recall_stale,
           count(gr.match_id) AS n_hits_repaired,
           round(count(gr.match_id) * 1.0 / {k}, 6) + 0.0
               AS recall_repaired
    FROM exact_topk x
    LEFT JOIN got_s gs
      ON gs.query_id = x.query_id AND gs.match_id = x.match_id
    LEFT JOIN got_r gr
      ON gr.query_id = x.query_id AND gr.match_id = x.match_id
    GROUP BY x.query_id
    """


def _beam_topk(beam: DataFrame) -> DataFrame:
    """Final top-k cut of a beam frame: (query_id, match_id)."""
    from pyspark.sql import Window as W

    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(),
                                          F.col("node"))
    return (
        beam.where(F.col("node") != F.col("query_id"))
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= _GR_K)
        .select("query_id", F.col("node").alias("match_id"))
    )


@query(
    "ann_graph_repair_recall",
    oracle=_graph_repair_oracle(),
    tags=("similarity", "ann", "graph", "maintenance", "iterative"),
)
def ann_graph_repair_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental graph-ANN maintenance, priced: build the neighbor
    graph on the pre-increment corpus (vec_id % {_GRI_MOD} !=
    {_GRI_REM}), insert the increment's vectors by giving each new
    node its top-{_GR_M} out-edges from capped-bucket candidates
    (stale state: new nodes are searchable, but no base node points at
    them), then run ONE NN-descent repair round over just the touched
    neighborhoods (new srcs + the base dsts they point at). Reports
    per-query beam-search recall@{_GR_K} against the exact full-corpus
    top-{_GR_K} for BOTH graphs — the stale-vs-repaired delta is the
    number that decides how often the repair job must run.

    Scale shape: the insert prices candidate generation only for new
    srcs (bucket join against the full corpus, caps bound expansion);
    the repair round semi-joins every candidate class against the tiny
    broadcast touched set BEFORE the expansion joins, so repair cost
    is proportional to the increment's neighborhoods, not the corpus
    — the property that makes periodic repair affordable at 100 TB
    where full rebuilds are not."""
    t = load(spark, sf_dir)
    emb = t.embeddings.select("vec_id", "embedding")
    base = emb.where(F.col("vec_id") % _GRI_MOD != _GRI_REM)
    # one bucket frame and one norms frame for the whole query (r12):
    # bucket id and norm are pure per-row projections of (vector,
    # geometry), so the base build's frames are just the full-corpus
    # frames filtered to base rows — previously the many-literal plane
    # projection and the norms fold were each materialized twice.
    # (_capped_bucket_pairs recomputes its bucket-size cap over the
    # filtered frame, so base cap counts exclude increment rows exactly
    # as before.)
    both = _both_buckets(emb, emb)
    # the fused bucket frame carries (embedding, _n) — one corpus
    # materialization serves buckets AND norms (r13)
    nemb = both.select("vec_id", "embedding", "_n")
    both_base = both.where(F.col("vec_id") % _GRI_MOD != _GRI_REM)
    g_base = _build_graph_edges(base, geom=emb, both=both_base, nemb=nemb)
    topm = _topm_fn(emb, nemb=nemb)
    ipairs = _capped_pairs_both(
        both, src_pred=F.col("vec_id") % _GRI_MOD == _GRI_REM
    )
    new_out = topm(ipairs).localCheckpoint()
    # stale graph NOT checkpointed (r13 paired A/B, 3 pairs:
    # 9.34/9.86/10.02 elided vs 9.63/10.12/10.81 kept): it is a
    # narrow, exchange-free union of two already-checkpointed frames,
    # so each downstream reference re-reads materialized blocks — the
    # checkpoint job cost more than the recomputes it saved.
    stale = g_base.unionByName(new_out)
    # touched: no .distinct(), no checkpoint (r13) — every consumer is
    # a broadcast left_semi/left_anti join, which is duplicate-
    # insensitive, and the frame is a narrow projection of the
    # checkpointed new_out; the distinct exchange + checkpoint job
    # bought nothing semantically.
    touched = new_out.select("src").union(
        new_out.select(F.col("dst").alias("src"))
    )
    repaired = topm(_nn_descent_cands(stale, touched=touched))
    final = (
        stale.join(F.broadcast(touched), "src", "left_anti")
        .unionByName(repaired)
        .localCheckpoint()
    )
    # entry beam shared by both searches (r13): rescore(queries ×
    # entry points) is graph-independent, so the stale and repaired
    # beams start from ONE materialized frame — one fewer
    # entry-scoring job + checkpoint; beams bit-identical
    beam0 = _graph_entry_beam(t)
    got_s = _beam_topk(_graph_beam(t, stale, beam0=beam0)).withColumn(
        "_hs", F.lit(1)
    )
    got_r = _beam_topk(_graph_beam(t, final, beam0=beam0)).withColumn(
        "_hr", F.lit(1)
    )
    queries_df = t.embeddings.where(F.col("vec_id") < _GR_QCUT)
    exact = cosine_topk(
        corpus=t.embeddings, queries=queries_df, id_col="vec_id",
        vec_col="embedding", k=_GR_K,
    ).select("query_id", "match_id")
    return (
        exact.join(F.broadcast(got_s), ["query_id", "match_id"], "left")
        .join(F.broadcast(got_r), ["query_id", "match_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("_hs").alias("n_hits_stale"),
            (F.round(F.count("_hs") * 1.0 / _GR_K, 6) + 0.0)
            .alias("recall_stale"),
            F.count("_hr").alias("n_hits_repaired"),
            (F.round(F.count("_hr") * 1.0 / _GR_K, 6) + 0.0)
            .alias("recall_repaired"),
        )
    )


# --------------------------------------------------------------------------
# ext — IVF index maintenance (r11 stretch): the vector-index analog of
# pipeline.rollup.recluster. An IVF codebook trained BEFORE a crawl
# increment goes stale as the increment shifts the distribution; the
# maintenance decision (retrain now vs keep serving) is priced by a
# drift census: re-train on the full corpus and report, per cluster,
# how many vectors the stale index mis-files relative to the fresh one
# and how far each centroid moved. Reference n/a (extended surface).
# --------------------------------------------------------------------------
_DRIFT_K = 8          #: codebook size (shared with the trained-IVF family)
_DRIFT_NEWMOD = 4     #: vec_id % this == _DRIFT_NEWREM is the increment
_DRIFT_NEWREM = 3


def _drift_assign_cte(tag: str, corpus_pred: str) -> str:
    """CTEs: one Lloyd update from the seed literals over rows
    matching `corpus_pred`, then assignment of the FULL corpus to the
    updated centroids (rounded-distance argmin, cluster tiebreak)."""
    from ..operators.clustering import kmeans_centroids

    cents = kmeans_centroids(_DRIFT_K, 64)
    d_cols = ",\n               ".join(
        f"round(vv - 2.0 * list_dot_product(v, "
        f"[{', '.join(repr(x) for x in c)}]) + {sum(x * x for x in c)!r}, 5)"
        f" AS d{i}"
        for i, c in enumerate(cents)
    )
    least = f"least({', '.join(f'd{i}' for i in range(_DRIFT_K))})"
    case = (
        "CASE "
        + " ".join(f"WHEN d{i} = dm THEN {i}" for i in range(_DRIFT_K - 1))
        + f" ELSE {_DRIFT_K - 1} END"
    )
    return f"""
    seed_{tag} AS (
        SELECT vec_id, v, {case} AS cluster
        FROM (SELECT *, {least} AS dm
              FROM (SELECT vec_id, v, vv, {d_cols} FROM d
                    WHERE {corpus_pred}))
    ),
    dims_{tag} AS (
        SELECT s.cluster, u.i AS i, round(avg(s.v[u.i]), 6) AS m
        FROM seed_{tag} s, (SELECT unnest(range(1, 65)) AS i) u
        GROUP BY s.cluster, u.i
    ),
    cent_{tag} AS MATERIALIZED (
        SELECT cluster, list(m ORDER BY i) AS cvec
        FROM dims_{tag} GROUP BY cluster
    ),
    asg_{tag} AS MATERIALIZED (
        SELECT vec_id, cluster FROM (
            SELECT d.vec_id, c.cluster,
                   row_number() OVER (
                       PARTITION BY d.vec_id
                       ORDER BY round(d.vv
                                - 2.0 * list_dot_product(d.v, c.cvec)
                                + list_dot_product(c.cvec, c.cvec), 5),
                               c.cluster
                   ) AS rn
            FROM d, cent_{tag} c
        ) WHERE rn = 1
    )"""


def _drift_oracle() -> str:
    new_pred = f"vec_id % {_DRIFT_NEWMOD} = {_DRIFT_NEWREM}"
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    d AS MATERIALIZED (
        SELECT vec_id, v, list_dot_product(v, v) AS vv FROM e
    ),
    {_drift_assign_cte("stale", f"NOT ({new_pred})")},
    {_drift_assign_cte("fresh", "TRUE")},
    moved AS (
        SELECT a.cluster AS cluster,
               count(*) AS n_stale,
               sum(CASE WHEN b.cluster != a.cluster THEN 1 ELSE 0 END)
                   ::BIGINT AS n_moved
        FROM asg_stale a JOIN asg_fresh b USING (vec_id)
        GROUP BY a.cluster
    ),
    fresh_n AS (
        SELECT cluster, count(*) AS n_fresh FROM asg_fresh GROUP BY cluster
    )
    SELECT m.cluster,
           m.n_stale,
           coalesce(f.n_fresh, 0) AS n_fresh,
           m.n_moved,
           round(sqrt(list_dot_product(
                    list_transform(range(1, 65),
                        i -> cs.cvec[i] - cf.cvec[i]),
                    list_transform(range(1, 65),
                        i -> cs.cvec[i] - cf.cvec[i]))), 6) + 0.0
               AS centroid_shift
    FROM moved m
    LEFT JOIN fresh_n f ON f.cluster = m.cluster
    JOIN cent_stale cs ON cs.cluster = m.cluster
    JOIN cent_fresh cf ON cf.cluster = m.cluster
    """


@query(
    "ann_ivf_retrain_drift",
    oracle=_drift_oracle(),
    tags=("similarity", "ann", "maintenance", "eval"),
)
def ann_ivf_retrain_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index-maintenance census: codebook STALE is one Lloyd update
    (from the deterministic seed literals) over the pre-increment
    corpus (vec_id % {_DRIFT_NEWMOD} != {_DRIFT_NEWREM}); codebook
    FRESH is the same update over the full corpus. Both then assign
    every vector (rounded-distance argmin, cluster tiebreak), and the
    report prices the retrain per cluster: how many vectors the stale
    index files there, how many the fresh one would, how many MOVE,
    and how far the centroid itself drifted — the numbers an index
    maintenance job thresholds before paying for a re-train +
    re-assignment pass (FAISS's add-with-stale-quantizer trade).

    Scale shape: two scan-fused literal-argmin assignments + two
    {_DRIFT_K}-row codebook aggregates, then ONE re-assignment pass:
    both trained codebooks collapse to a single broadcast row of
    (cluster, cvec) structs and every vector resolves both argmins in
    one projection via an ordered array fold — no per-vector window,
    no corpus×{_DRIFT_K} shuffle, no assignment self-join (the r11
    form shuffled 8× the corpus through four Sort+WindowGroupLimit
    pipelines and ran the a⋈b join subtree twice). Every stage is
    linear in the corpus; no pair expansion anywhere."""
    from ..operators.clustering import kmeans_centroids
    from ..operators.similarity import dot_col
    from ..operators.sqlexpr import assign_case_sql, sq_dist_sql

    dim = 64
    t = load(spark, sf_dir)
    e = t.embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    cents0 = kmeans_centroids(_DRIFT_K, dim)
    is_new = (F.col("vec_id") % _DRIFT_NEWMOD) == _DRIFT_NEWREM

    # ONE literal-argmin pass: the seed assignment is per-row, so both
    # codebooks (stale = means over the pre-increment rows, fresh =
    # means over all rows) aggregate the same materialized frame — the
    # ~512-literal distance tree compiles and scans once, not twice
    seed_asg = e.select(
        "vec_id", "v", is_new.alias("_new"),
        F.expr(
            assign_case_sql([sq_dist_sql("v", c) for c in cents0])
        ).alias("cluster"),
    ).localCheckpoint()

    def trained_centroids(corpus: DataFrame) -> DataFrame:
        return corpus.groupBy("cluster").agg(
            F.expr(
                "array(" + ", ".join(
                    f"round(avg(v[{i}]), 6)" for i in range(dim)
                ) + ")"
            ).alias("cvec")
        )

    def codebook_row(cent: DataFrame, col: str) -> DataFrame:
        # the whole codebook as ONE broadcastable row, structs in
        # ascending-cluster order (sort_array on struct sorts by the
        # first field) — the fold below scans it in that order so the
        # argmin tiebreak is "smallest cluster", identical to the
        # window form's ORDER BY (_d, cluster)
        return cent.agg(
            F.sort_array(
                F.collect_list(F.struct("cluster", "cvec"))
            ).alias(col)
        )

    def argmin_col(cb: str) -> Column:
        # per-row argmin over the codebook array: same rounded
        # distance as the r11 window form (round 5, dot_col folds in
        # the same element order), strict < keeps the first minimum =
        # smallest cluster on ties
        def step(acc, c):
            d = F.round(
                F.col("_vv")
                - 2.0 * dot_col(F.col("v"), c["cvec"])
                + dot_col(c["cvec"], c["cvec"]),
                5,
            )
            better = d < acc["d"]
            return F.struct(
                F.when(better, d).otherwise(acc["d"]).alias("d"),
                F.when(better, c["cluster"])
                .otherwise(acc["cluster"]).alias("cluster"),
            )

        init = F.struct(
            F.lit(float("inf")).alias("d"),
            F.lit(-1).alias("cluster"),
        )
        return F.aggregate(F.col(cb), init, step)["cluster"]

    cent_stale = trained_centroids(seed_asg.where(~F.col("_new"))).persist()
    cent_fresh = trained_centroids(seed_asg).persist()
    both = (
        seed_asg.withColumn("_vv", dot_col(F.col("v"), F.col("v")))
        .crossJoin(F.broadcast(codebook_row(cent_stale, "_cbs")))
        .crossJoin(F.broadcast(codebook_row(cent_fresh, "_cbf")))
        .select(
            "vec_id",
            argmin_col("_cbs").alias("stale_c"),
            argmin_col("_cbf").alias("fresh_c"),
        )
    )
    # (stale, fresh) contingency table: ≤ K² rows, computed in one
    # pass over the corpus and persisted so the two marginal
    # aggregates below don't re-run the assignment projection
    pre = (
        both.groupBy("stale_c", "fresh_c")
        .agg(F.count("*").alias("_n"))
        .persist()
    )
    moved = pre.groupBy(F.col("stale_c").alias("cluster")).agg(
        F.sum("_n").alias("n_stale"),
        F.sum(
            F.when(F.col("fresh_c") != F.col("stale_c"), F.col("_n"))
            .otherwise(F.lit(0))
        ).cast("long").alias("n_moved"),
    )
    fresh_n = pre.groupBy(F.col("fresh_c").alias("cluster")).agg(
        F.sum("_n").alias("n_fresh")
    )
    shift = F.round(
        F.sqrt(
            F.aggregate(
                F.zip_with(
                    F.col("_cs"), F.col("_cf"), lambda x, y: (x - y) * (x - y)
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        ),
        6,
    ) + 0.0
    return (
        moved.join(F.broadcast(fresh_n), "cluster", "left")
        .withColumn("n_fresh", F.coalesce("n_fresh", F.lit(0)))
        .join(
            F.broadcast(
                cent_stale.select("cluster", F.col("cvec").alias("_cs"))
            ),
            "cluster",
        )
        .join(
            F.broadcast(
                cent_fresh.select("cluster", F.col("cvec").alias("_cf"))
            ),
            "cluster",
        )
        .select(
            "cluster", "n_stale", "n_fresh", "n_moved",
            shift.alias("centroid_shift"),
        )
    )


# --------------------------------------------------------------------------
# ext — k-center greedy coreset selection (r11): the geometric data-
# selection complement to DSIR's feature-based selection — pick k
# maximally-spread representatives of the embedding corpus (Gonzalez
# 1985 farthest-point traversal, the 2-approximation for the k-center
# objective; the coreset construction behind diversity-balanced
# training subsets). Deterministic: squared distances rounded to 5
# digits per round, ties to the smallest vec_id, seed = min vec_id.
# --------------------------------------------------------------------------
_KC_K = 8  #: picks (seed + 7 farthest-point rounds)


def _kcenter_oracle() -> str:
    rounds = []
    prev_m = "m1"
    rounds.append(f"""
    seed AS (SELECT min(vec_id) AS pid FROM e),
    p1 AS MATERIALIZED (
        SELECT 1 AS pick_order, d.vec_id, d.v, 0.0 AS d2_at_pick
        FROM d JOIN seed ON d.vec_id = seed.pid
    ),
    m1 AS MATERIALIZED (
        SELECT d.vec_id, d.v, d.vv,
               round(d.vv - 2.0 * list_dot_product(d.v, p.v)
                     + list_dot_product(p.v, p.v), 5) AS dmin
        FROM d, p1 p
    )""")
    for r in range(2, _KC_K + 1):
        rounds.append(f"""
    p{r} AS MATERIALIZED (
        SELECT {r} AS pick_order, vec_id, v, dmin AS d2_at_pick
        FROM {prev_m} ORDER BY dmin DESC, vec_id LIMIT 1
    ),
    m{r} AS MATERIALIZED (
        SELECT m.vec_id, m.v, m.vv,
               least(m.dmin,
                     round(m.vv - 2.0 * list_dot_product(m.v, p.v)
                           + list_dot_product(p.v, p.v), 5)) AS dmin
        FROM {prev_m} m, p{r} p
    )""")
        prev_m = f"m{r}"
    picks = " UNION ALL ".join(
        f"SELECT pick_order, vec_id, d2_at_pick FROM p{r}"
        for r in range(1, _KC_K + 1)
    )
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    d AS MATERIALIZED (
        SELECT vec_id, v, list_dot_product(v, v) AS vv FROM e
    ),
    {",".join(rounds)}
    SELECT pick_order, vec_id, d2_at_pick + 0.0 AS d2_at_pick
    FROM ({picks})
    """


@query(
    "kcenter_coreset_selection",
    oracle=_kcenter_oracle(),
    tags=("similarity", "selection", "coreset", "iterative"),
)
def kcenter_coreset_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gonzalez farthest-point traversal: seed at the smallest vec_id,
    then {_KC_K - 1} rounds of "pick the point farthest from every
    center so far" — the classic 2-approximation of the k-center
    objective and the standard geometric coreset for diversity-
    balanced subset selection. Returns (pick_order, vec_id,
    d2_at_pick): d2_at_pick is the squared distance that made the pick
    (monotonically non-increasing — reading the curve tells you when
    added centers stop buying coverage).

    Scale shape: the loop-carried state is ONE (vec_id, dmin) row per
    corpus vector; each round updates it with a broadcast of the 1-row
    pick (no driver collect — the pick frame stays distributed via
    TakeOrdered(1)), localCheckpointed per round so the plan never
    deepens. {_KC_K} linear passes total; the DuckDB twin unrolls the
    rounds as MATERIALIZED CTEs."""
    t = load(spark, sf_dir)
    e = t.embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )

    # one parsed SQL expression, built once and reused every round
    # (operators/sqlexpr, r12): the three dot folds cost ~120 py4j
    # round trips per round when built as Columns in the loop
    d2 = F.expr(
        f"round({dot_sql('v', 'v')} - {dot_sql('v', 'pv')} * 2.0D"
        f" + {dot_sql('pv', 'pv')}, 5)"
    )

    seed = e.orderBy("vec_id").limit(1).select(
        F.lit(1).alias("pick_order"),
        "vec_id",
        F.col("v").alias("pv"),
        F.lit(0.0).alias("d2_at_pick"),
    ).localCheckpoint()
    picks = [seed]
    m = (
        e.crossJoin(F.broadcast(seed.select("pv")))
        .select("vec_id", "v", d2.alias("dmin"))
        .localCheckpoint()
    )
    for r in range(2, _KC_K + 1):
        pick = (
            m.orderBy(F.col("dmin").desc(), "vec_id")
            .limit(1)
            .select(
                F.lit(r).alias("pick_order"),
                "vec_id",
                F.col("v").alias("pv"),
                F.col("dmin").alias("d2_at_pick"),
            )
            .localCheckpoint()
        )
        picks.append(pick)
        if r < _KC_K:
            m = (
                m.crossJoin(F.broadcast(pick.select("pv")))
                .select(
                    "vec_id", "v",
                    F.least(F.col("dmin"), d2).alias("dmin"),
                )
                .localCheckpoint()
            )
    out = picks[0].select("pick_order", "vec_id", "d2_at_pick")
    for p in picks[1:]:
        out = out.unionByName(
            p.select("pick_order", "vec_id", "d2_at_pick")
        )
    return out
