"""Deduplication operators — exact and near-duplicate.

The reference deduplicates with ROW_NUMBER over (dateValue, namesId)
partitions and deletes n>1 (finanalyzer/database/sql/redundancy.sql) —
exact key-dedup with an arbitrary survivor. The engine generalizes
this to the LLM-corpus dedup families (BASELINE.json):

* exact: hash-groupBy on content fingerprint — one shuffle.
* key dedup with deterministic survivor — row_number over ordered
  partition (the oracle-checkable variant of dropDuplicates).
* MinHash + LSH banding → candidate pairs, O(docs × bands) shuffle.
* n-gram Jaccard: exact verify step for candidate pairs.
* SimHash: 32-bit weighted-projection fingerprint.

Performance design (100 TB corpus): the only cryptographic hash is ONE
md5 per TOKEN (not per shingle × seed). Everything downstream is
integer arithmetic mod P = 2^31-1 inside whole-stage codegen:

  token_hash  = int(md5(token)[:15 hex]) mod P          (one md5/token)
  shingle     = polynomial hash of its k token hashes    (3 mults)
  minhash_i   = min over shingles of (a_i·sh + b_i) mod P (universal)
  band_hash   = base-2^31 packing of r signature values   (exact, r≤2)

The shingle stream is EXPLODED to rows and min-hashed with plain
aggregates — grouped codegen'd min()s, one hash shuffle on doc_id —
instead of nested higher-order array lambdas (which are interpreted
per element and re-inline the shingle expression once per seed).
Every step is reproducible in ANSI SQL, so the DuckDB oracle matches
bit-for-bit (see plans/dedup.py, which generates the mirror SQL from
the same constants).
"""

from __future__ import annotations

import random
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

#: Mersenne prime 2^31-1 — all shingle/minhash arithmetic is mod P so
#: every product stays below 2^63 (a·x < 2^31·2^31 = 2^62).
P = 2147483647
#: polynomial base for combining token hashes into a shingle hash
B = 131071
B2 = (B * B) % P
#: base-2^31 packing factor for collision-free 2-row band hashes
PACK = 2147483648
#: max LSH bucket size admitted to the quadratic pair expansion — a
#: degenerate bucket (all-identical corpus) is dropped, not exploded;
#: mirrored into the DuckDB oracle so both engines share the semantics
BUCKET_CAP = 1000


def minhash_params(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) universal-hash coefficients; shared with
    the oracle-SQL generator so both engines use identical literals."""
    rng = random.Random(seed)
    return [(rng.randrange(1, P), rng.randrange(0, P)) for _ in range(num_hashes)]


# --------------------------------------------------------------------------
# exact dedup
# --------------------------------------------------------------------------
def exact_dedup_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Group identical content by fingerprint; keep min-id as canonical.
    One shuffle on the 16-byte hash — at 100 TB this is the cheapest
    possible exact dedup (shuffles digests, not documents)."""
    return (
        df.select(F.md5(F.col(text_col)).alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("n_copies"),
        )
    )


def dedup_by_key(
    df: DataFrame, keys: Sequence[str], order: Sequence[Column], rn: str = "_rn"
) -> DataFrame:
    """Deterministic-survivor key dedup: redundancy.sql semantics with
    an explicit ORDER BY (reference survivor is arbitrary; ours is
    reproducible). `rn` names the temporary row-number column."""
    w = W.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn(rn, F.row_number().over(w))
        .where(F.col(rn) == 1)
        .drop(rn)
    )


# --------------------------------------------------------------------------
# tokenize → hash → shingle (shared kernels)
# --------------------------------------------------------------------------
def token_hashes_col(text: Column) -> Column:
    """array<long>: one md5 per token, folded to [0, P)."""
    toks = F.when(F.trim(text) == "", F.array().cast("array<string>")).otherwise(
        F.split(F.trim(text), r"\s+")
    )
    return F.transform(
        toks,
        lambda w: F.conv(F.substring(F.md5(w), 1, 15), 16, 10).cast("long") % P,
    )


def shingle_hashes_col(text: Column, k: int = 3) -> Column:
    """array<long> of word-k-shingle hashes (polynomial over token
    hashes). Docs shorter than k yield one shingle over all tokens;
    empty docs yield an empty array."""
    if k != 3:
        raise ValueError("portable oracle parity is generated for k=3")
    th = token_hashes_col(text)
    n = F.size(th)
    full = F.transform(
        F.sequence(F.lit(0), n - k),
        lambda i: (
            (F.element_at(th, i + 1) * B2) % P
            + (F.element_at(th, i + 2) * B) % P
            + F.element_at(th, i + 3)
        )
        % P,
    )
    two = F.array(((F.element_at(th, 1) * B) % P + F.element_at(th, 2)) % P)
    one = F.array(F.element_at(th, 1))
    return (
        F.when(n >= k, full)
        .when(n == 2, two)
        .when(n == 1, one)
        .otherwise(F.array().cast("array<long>"))
    )


def minhash_sig_array_expr(
    text_col: str = "text", num_hashes: int = 16, k: int = 3
) -> str:
    """SQL expression: array<long> of `num_hashes` minhash values per
    ROW — the streaming-safe signature path (shingle_rows' lead()
    window is not allowed on a stream). Bit-identical to
    minhash_signature: same token md5, same polynomial shingle, same
    (a·sh + b) mod P universal hashes. Stages are bound with
    single-element-array transform lambdas so the token-hash array is
    evaluated once per row, not once per element_at reference (the
    CollapseProject/O(len²) trap shingle_hashes_col's docstring
    warns about). Empty/short docs yield NULL minhashes (array_min of
    an empty array) — filter on `element_at(ms, 1) IS NOT NULL`."""
    if k != 3:
        raise ValueError("portable oracle parity is generated for k=3")
    params = minhash_params(num_hashes)

    def let(bind: str, var: str, body: str) -> str:
        return f"element_at(transform(array({bind}), {var} -> {body}), 1)"

    toks = (
        f"if(trim({text_col}) = '', array(), "
        f"split(trim({text_col}), '\\\\s+'))"
    )
    th = (
        f"transform({toks}, w -> "
        f"cast(conv(substring(md5(w), 1, 15), 16, 10) as bigint) % {P})"
    )
    sh = (
        f"case when size(th) >= {k} then "
        f"transform(sequence(1, size(th) - {k} + 1), i -> "
        f"((element_at(th, i) * {B2}) % {P}"
        f" + (element_at(th, i + 1) * {B}) % {P}"
        f" + element_at(th, i + 2)) % {P}) "
        f"when size(th) = 2 then array(((element_at(th, 1) * {B}) % {P}"
        f" + element_at(th, 2)) % {P}) "
        f"when size(th) = 1 then array(element_at(th, 1)) "
        f"else array() end"
    )
    pstructs = ", ".join(
        f"named_struct('a', {a}L, 'b', {b}L)" for a, b in params
    )
    ms = (
        f"transform(array({pstructs}), p -> "
        f"array_min(transform(sh, s -> (p.a * s + p.b) % {P})))"
    )
    return let(th, "th", let(sh, "sh", ms))


def band_hash_sqls(
    num_hashes: int, bands: int, col_fmt: str = "element_at(ms, {i1})"
) -> list[str]:
    """Band-hash SQL fragments: exact base-2^31 packing for r≤2 rows
    per band, mod-P polynomial fold otherwise. ``col_fmt`` names the
    t-th hash of band j ({i0} = flat 0-based index, {i1} = 1-based) —
    `element_at(ms, {i1})` for the per-row array form, `m{i0}` for the
    signature-column form. One parsed string per band replaces ~30 py4j
    round trips per hash (operators/sqlexpr discipline, r12); trees are
    node-for-node the Column-built ones."""
    r = num_hashes // bands
    out = []
    for j in range(bands):
        names = [
            col_fmt.format(i0=j * r + t, i1=j * r + t + 1) for t in range(r)
        ]
        if r <= 2:
            bh = names[0]
            for c in names[1:]:
                bh = f"({bh} * {PACK} + {c})"
        else:
            bh = "CAST(0 AS BIGINT)"
            for c in names:
                bh = f"((({bh} * {B2}) % {P} + {c}) % {P})"
        out.append(bh)
    return out


def band_hash_exprs(num_hashes: int, bands: int) -> list:
    """Band-hash Columns over an `ms` array column (the per-row twin
    of band_hash_cols, which expects m0..m{n-1} columns)."""
    return [F.expr(s) for s in band_hash_sqls(num_hashes, bands)]


# --------------------------------------------------------------------------
# row-based shingle stream (the hot-path kernel)
# --------------------------------------------------------------------------
def shingle_rows(df: DataFrame, text_col: str, id_col: str, k: int = 3) -> DataFrame:
    """(id, sh) rows of word-k-shingle hashes.

    Row-based on purpose: posexplode tokens → ONE md5 per token row →
    shingle hash via lead() over (doc, position). Everything is
    whole-stage-codegen'd row expressions; the array-lambda form
    (shingle_hashes_col) re-inlines — and re-evaluates — the full
    token-hash array once per element_at reference, which is O(len²)
    md5 calls per document."""
    if k != 3:
        raise ValueError("portable oracle parity is generated for k=3")
    toks = F.when(
        F.trim(F.col(text_col)) == "", F.array().cast("array<string>")
    ).otherwise(F.split(F.trim(F.col(text_col)), r"\s+"))
    # Shuffle BEFORE exploding: the lead() window needs a hash partition
    # on the doc id anyway, and placing the exchange here (a) moves whole
    # documents instead of ~token-count× more token rows, and (b)
    # parallelizes the md5/explode kernel even when the source collapses
    # to few input splits (one small parquet file → one task otherwise).
    # Same-key hash partitioning means the window adds no second shuffle.
    # Explicit partition count: tiny-but-CPU-heavy inputs (text bytes are
    # small, md5-per-token cost is not) must not let AQE coalesce the
    # exchange down to one task on byte-size grounds.
    n_shuffle = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    df = df.repartition(n_shuffle, F.col(id_col))
    base = df.select(
        F.col(id_col),
        F.size(toks).alias("_n"),
        F.posexplode(toks).alias("_pos", "_w"),
    ).select(
        F.col(id_col),
        "_n",
        "_pos",
        (F.conv(F.substring(F.md5("_w"), 1, 15), 16, 10).cast("long") % P).alias("_th"),
    )
    w = W.partitionBy(id_col).orderBy("_pos")
    l1 = F.lead("_th", 1).over(w)
    l2 = F.lead("_th", 2).over(w)
    sh = (
        F.when(
            l2.isNotNull(),
            ((F.col("_th") * B2) % P + (l1 * B) % P + l2) % P,
        )
        .when(
            (F.col("_n") == 2) & (F.col("_pos") == 0),
            ((F.col("_th") * B) % P + l1) % P,
        )
        .when(F.col("_n") == 1, F.col("_th"))
    )
    return base.select(F.col(id_col), sh.alias("sh")).where(F.col("sh").isNotNull())


# --------------------------------------------------------------------------
# MinHash signature + LSH banding
# --------------------------------------------------------------------------
def minhash_signature(
    df: DataFrame, text_col: str, id_col: str, num_hashes: int = 16, k: int = 3
) -> DataFrame:
    """id → m0..m{n-1} minhash columns: shingle rows, then ONE groupBy
    with `num_hashes` codegen'd min() aggregates (the lead-window and
    the groupBy hash-partition on the same key, so AQE reuses the
    exchange). Docs with no shingles (empty text) drop out."""
    return minhash_signature_from_shingles(
        shingle_rows(df, text_col, id_col, k), id_col, num_hashes
    )


def minhash_signature_from_shingles(
    shingles: DataFrame, id_col: str, num_hashes: int = 16
) -> DataFrame:
    """Signatures from a pre-built (id, sh) shingle stream — the seam
    that lets an eval pipeline compute the shingle frame ONCE and hang
    both its exact-Jaccard truth side and the LSH candidate side off
    the same persisted lineage (r11). min() is multiplicity-insensitive,
    so a distinct()-ed stream yields identical signatures."""
    params = minhash_params(num_hashes)
    # one parsed SQL fragment per universal hash instead of ~34 py4j
    # round trips each (operators/sqlexpr discipline, r12); int-range
    # literals keep the parsed tree identical to the Column form
    aggs = [
        F.expr(f"min(({a} * sh + {b}) % {P})").alias(f"m{i}")
        for i, (a, b) in enumerate(params)
    ]
    return shingles.groupBy(id_col).agg(*aggs)


def band_hash_cols(num_hashes: int, bands: int) -> list[Column]:
    """One column per band: exact base-2^31 packing for r≤2 rows per
    band (collision-free), mod-P polynomial fold otherwise (collisions
    ~n²/2P — harmless: both engines mirror them and the Jaccard verify
    stage rejects false positives)."""
    return [
        F.expr(s) for s in band_hash_sqls(num_hashes, bands, col_fmt="m{i0}")
    ]


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 16,
    bands: int = 8,
    k: int = 3,
    bucket_cap: int = BUCKET_CAP,
) -> DataFrame:
    """Candidate near-duplicate pairs (id_a < id_b, distinct): docs
    sharing ANY full band bucket. Shuffle cost O(docs × bands) longs —
    never O(docs²).

    `bucket_cap` bounds the per-bucket pair expansion: a degenerate
    corpus (every document identical) puts all n docs in ONE bucket per
    band, and the n²/2 in-bucket expansion would OOM an executor at
    scale. Buckets larger than the cap are dropped before expansion —
    at a real near-dup threshold such buckets are all mutual duplicates
    anyway, and exact_dedup_groups is the right (linear) tool for them.
    The DuckDB oracle twin applies the identical cap."""
    sig = minhash_signature(df, text_col, id_col, num_hashes, k)
    return lsh_pairs_from_signature(sig, id_col, num_hashes, bands, bucket_cap)


def lsh_pairs_from_signature(
    sig: DataFrame,
    id_col: str,
    num_hashes: int = 16,
    bands: int = 8,
    bucket_cap: int = BUCKET_CAP,
) -> DataFrame:
    """Banding + bucket expansion over a prebuilt signature frame —
    split out (r11) so eval pipelines can feed signatures derived from
    an already-persisted shingle stream. Semantics identical to
    minhash_lsh_pairs."""
    bsqls = band_hash_sqls(num_hashes, bands, col_fmt="m{i0}")
    banded = sig.select(
        F.col(id_col),
        F.explode(
            F.expr(
                "array(" + ", ".join(
                    f"named_struct('band', {j}, 'bhash', {s})"
                    for j, s in enumerate(bsqls)
                ) + ")"
            )
        ).alias("bb"),
    ).select(
        F.col(id_col), F.col("bb.band").alias("band"), F.col("bb.bhash").alias("bhash")
    )
    # One pass, no self-join: a self-join would re-run the whole
    # scan→shingle→minhash pipeline for each side (Catalyst does not
    # dedupe self-joined subplans). Grouping the bucket members and
    # expanding in-bucket pairs reads the corpus ONCE; bucket sizes are
    # small by construction (b·r tuned for the similarity threshold), so
    # the n² expansion is per-bucket-tiny; `bucket_cap` (enforced below,
    # before the expansion) bounds the pathological all-identical case.
    buckets = banded.groupBy("band", "bhash").agg(
        F.array_sort(F.collect_list(id_col)).alias("ids")
    )
    pair = F.explode(
        F.flatten(
            F.transform(
                F.col("ids"),
                lambda x, i: F.transform(
                    F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                    lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
                ),
            )
        )
    )
    return (
        buckets.where((F.size("ids") >= 2) & (F.size("ids") <= bucket_cap))
        .select(pair.alias("p"))
        .select(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .distinct()
    )


# --------------------------------------------------------------------------
# n-gram Jaccard verify (explode-join, no giant array intersections)
# --------------------------------------------------------------------------
def ngram_jaccard(
    pairs: DataFrame, docs: DataFrame, text_col: str, id_col: str, k: int = 3
) -> DataFrame:
    """Exact Jaccard over distinct shingle-hash sets for candidate
    pairs: |A∩B| via a (pair ⋈ shingles_a ⋈ shingles_b) equi-join,
    |A|,|B| via group counts. Runs only on candidates.

    The distinct shingle stream is referenced three times (sizes + both
    join sides); Catalyst re-executes self-referenced subplans, so it is
    persisted (memory-and-disk — ~16 bytes/shingle, spills cleanly) to
    make the corpus scan + hash kernel run once."""
    sh = (
        shingle_rows(docs, text_col, id_col, k)
        .distinct()
        .select(F.col(id_col).alias("_id"), F.col("sh").alias("_sh"))
        .persist()
    )
    sizes = sh.groupBy("_id").agg(F.count("*").alias("_n"))
    inter = (
        pairs.join(sh.select(F.col("_id").alias("id_a"), "_sh"), "id_a")
        .join(sh.select(F.col("_id").alias("id_b"), F.col("_sh").alias("_shb")), "id_b")
        .where(F.col("_sh") == F.col("_shb"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("_inter"))
    )
    return (
        pairs.join(inter, ["id_a", "id_b"], "left")
        .join(sizes.select(F.col("_id").alias("id_a"), F.col("_n").alias("_na")), "id_a")
        .join(sizes.select(F.col("_id").alias("id_b"), F.col("_n").alias("_nb")), "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.coalesce(F.col("_inter"), F.lit(0))
                / F.greatest(
                    F.col("_na") + F.col("_nb") - F.coalesce(F.col("_inter"), F.lit(0)),
                    F.lit(1),
                )
            ).alias("jaccard"),
        )
    )


# --------------------------------------------------------------------------
# SimHash — explode + 32 codegen'd sum() aggregates (no nested lambdas)
# --------------------------------------------------------------------------
def simhash_fingerprints(
    df: DataFrame, text_col: str, id_col: str, bits: int = 32
) -> DataFrame:
    """id → simhash{bits} fingerprint. Token hash = first 8 hex chars of
    md5 (32-bit); bit b votes ±1; fingerprint bit = sign of vote sum.

    Bit extraction is floor(h / 2^b) % 2 — division by a power of two
    is exact in binary FP, so any oracle engine agrees bit-for-bit.
    explode_outer keeps empty docs (fingerprint 0)."""
    toks = F.when(
        F.trim(F.col(text_col)) == "", F.array().cast("array<string>")
    ).otherwise(F.split(F.trim(F.col(text_col)), r"\s+"))
    hashed = df.select(
        F.col(id_col),
        F.explode_outer(
            F.transform(
                toks, lambda w: F.conv(F.substring(F.md5(w), 1, 8), 16, 10).cast("long")
            )
        ).alias("_h"),
    )

    # one parsed SQL fragment per vote / one for the fingerprint fold
    # instead of ~20 py4j round trips per bit (operators/sqlexpr, r12);
    # trees are node-for-node the Column-built ones (floor-divide by an
    # exact double power of two, int literals in the CASEs)
    def vote_sql(b: int) -> str:
        bit = f"CAST(FLOOR(_h / {float(2 ** b)!r}D) AS BIGINT) % 2"
        return (
            "sum(CASE WHEN _h IS NULL THEN 0 "
            f"WHEN ({bit}) = 1 THEN 1 ELSE -1 END)"
        )

    votes = hashed.groupBy(id_col).agg(
        *[F.expr(vote_sql(b)).alias(f"v{b}") for b in range(bits)]
    )
    fp_sql = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN CAST({2 ** b} AS BIGINT) "
        "ELSE CAST(0 AS BIGINT) END)"
        for b in range(bits)
    )
    return votes.select(
        F.col(id_col), F.expr(fp_sql).alias(f"simhash{bits}")
    )


def simhash_col(text: Column, bits: int = 32) -> Column:
    """Single-column SimHash (array-expression form) — keep for ad-hoc
    use on narrow data; prefer `simhash_fingerprints` (explode+agg) in
    pipelines: nested array lambdas are interpreted, not codegen'd."""

    toks = F.when(F.trim(text) == "", F.array().cast("array<string>")).otherwise(
        F.split(F.trim(text), r"\s+")
    )
    hashes = F.transform(
        toks, lambda w: F.conv(F.substring(F.md5(w), 1, 8), 16, 10).cast("long")
    )

    def bit_of(h: Column, b: Column) -> Column:
        return F.floor(h / F.pow(F.lit(2.0), b)).cast("long") % 2

    bit_ids = F.sequence(F.lit(0), F.lit(bits - 1))
    return F.aggregate(
        F.transform(
            bit_ids,
            lambda b: F.when(
                F.aggregate(
                    hashes,
                    F.lit(0).cast("long"),
                    lambda acc, h: acc + F.when(bit_of(h, b) == 1, 1).otherwise(-1),
                )
                > 0,
                F.pow(F.lit(2.0), b).cast("long"),
            ).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def ngram_overlap(
    pairs: DataFrame, docs: DataFrame, text_col: str, id_col: str, k: int = 3
) -> DataFrame:
    """Exact shingle-set overlap COUNTS for candidate pairs —
    (id_a, id_b, na, nb, inter) — the integer core both resemblance
    (Jaccard) and the asymmetric containment coefficients
    |A∩B|/|A| and |A∩B|/|B| (Broder 1997's two measures) divide out
    of.  Same bounded candidate-only join shape as ngram_jaccard."""
    sh = (
        shingle_rows(docs, text_col, id_col, k)
        .distinct()
        .select(F.col(id_col).alias("_id"), F.col("sh").alias("_sh"))
        .persist()
    )
    sizes = sh.groupBy("_id").agg(F.count("*").alias("_n"))
    inter = (
        pairs.join(sh.select(F.col("_id").alias("id_a"), "_sh"), "id_a")
        .join(
            sh.select(F.col("_id").alias("id_b"), F.col("_sh").alias("_shb")),
            "id_b",
        )
        .where(F.col("_sh") == F.col("_shb"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("_inter"))
    )
    return (
        pairs.join(inter, ["id_a", "id_b"], "left")
        .join(
            sizes.select(F.col("_id").alias("id_a"), F.col("_n").alias("na")),
            "id_a",
        )
        .join(
            sizes.select(F.col("_id").alias("id_b"), F.col("_n").alias("nb")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            "na",
            "nb",
            F.coalesce(F.col("_inter"), F.lit(0)).alias("inter"),
        )
    )


# ---------------------------------------------------------------------------
# exact-substring dedup (suffix-group formulation)
# ---------------------------------------------------------------------------

def substring_pos_grams(
    docs: DataFrame, text_col: str, id_col: str, k: int,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Every k-token gram occurrence as (id, pos, gh): pos 1-based, gh
    the md5 digest of the space-joined gram. Grouping downstream on the
    digest keeps shuffle keys 32 bytes regardless of gram length (the
    exact-dedup discipline: shuffle digests, never payloads) with
    2^-128-scale collision odds. One codegen zip-of-slices pass per
    document, then posexplode — no UDFs.  `carry` names extra columns
    to pass through unchanged (e.g. `source` for the streaming novelty
    twin — cheaper than a join-back, and streaming-legal where a
    stream-stream join would not be)."""
    from .text import tokens_col, word_ngrams_col

    toks = docs.select(
        F.col(id_col).alias("_id"), *carry,
        tokens_col(F.col(text_col)).alias("t"),
    )
    return (
        toks.where(F.size("t") >= k)
        .select(
            "_id", *carry,
            F.posexplode(word_ngrams_col(F.col("t"), k)).alias("p0", "g"),
        )
        .select(
            F.col("_id").alias(id_col),
            *carry,
            (F.col("p0") + 1).alias("pos"),
            F.md5("g").alias("gh"),
        )
    )


def exact_substring_transform(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    pos_pack: int = 1 << 20,
) -> DataFrame:
    """Exact-substring dedup transform (the suffix-array family of the
    public training-data dedup literature, as distributed suffix
    GROUPS): every occurrence of a repeated >= k-token span is removed
    except the globally-first one (min (id, pos), packed into one
    orderable BIGINT — ids must stay below 2^63/pos_pack and documents
    below pos_pack tokens).

    Returns (id_col, n_tokens, n_removed_tokens, n_removed_spans,
    clean_text) — clean_text is the kept tokens re-joined with single
    spaces. Coverage intervals [q, q+k-1] merge when they touch
    (position gap <= k).

    Scale: two digest-keyed shuffles (gram count/argmin + join-back),
    doc-bounded windows for the coverage merge, one doc-keyed
    anti-join for the token rebuild — linear in corpus tokens; no
    suffix array is ever materialized."""
    from pyspark.sql import Window as W

    from .text import tokens_col

    grams = substring_pos_grams(docs, text_col, id_col, k)
    packed = F.col(id_col) * pos_pack + F.col("pos")
    agg = grams.groupBy("gh").agg(
        F.count("*").alias("n"), F.min(packed).alias("first_k")
    )
    removed = (
        grams.join(agg, "gh")
        .where((F.col("n") > 1) & (packed > F.col("first_k")))
        .select(id_col, "pos")
    )
    wo = W.partitionBy(id_col).orderBy("pos")
    brk = removed.withColumn(
        "b",
        F.when(
            F.col("pos") - F.lag("pos").over(wo) <= k, F.lit(0)
        ).otherwise(F.lit(1)),
    )
    isl = brk.withColumn(
        "grp",
        F.sum("b").over(wo.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    spans = isl.groupBy(id_col, "grp").agg(
        F.min("pos").alias("s"),
        (F.max("pos") + F.lit(k - 1)).alias("e"),
    )
    toks = docs.select(
        F.col(id_col).alias("_id"), tokens_col(F.col(text_col)).alias("t")
    )
    tok_pos = toks.select(
        "_id", F.posexplode("t").alias("p0", "w")
    ).select("_id", (F.col("p0") + 1).alias("pos"), "w")
    kept = tok_pos.join(
        spans,
        (tok_pos._id == spans[id_col])
        & (tok_pos.pos >= spans.s)
        & (tok_pos.pos <= spans.e),
        "left_anti",
    )
    clean = kept.groupBy("_id").agg(
        F.expr(
            "array_join(transform(array_sort(collect_list(struct(pos, w))),"
            " x -> x.w), ' ')"
        ).alias("clean_text")
    )
    stats = spans.groupBy(id_col).agg(
        F.sum(F.col("e") - F.col("s") + 1).alias("n_removed_tokens"),
        F.count("*").alias("n_removed_spans"),
    )
    return (
        toks.join(stats, toks._id == stats[id_col], "left")
        .drop(id_col)
        .join(clean, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.size("t").cast("long").alias("n_tokens"),
            F.coalesce(F.col("n_removed_tokens"), F.lit(0))
            .cast("long").alias("n_removed_tokens"),
            F.coalesce(F.col("n_removed_spans"), F.lit(0))
            .cast("long").alias("n_removed_spans"),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        )
    )
