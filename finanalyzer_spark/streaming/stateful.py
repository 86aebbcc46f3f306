"""Custom stateful streaming operator — applyInPandasWithState.

The built-in windowed aggregations (streaming/events.py) cover the
reference's incremental semantics; this module shows the ESCAPE HATCH
for operators Spark lacks natively: an arbitrary per-key state machine
running inside Structured Streaming, Arrow-batched.

`running_user_totals` keeps (count, sum, last_ts) per user and emits the
updated totals every micro-batch — the online form of
`events.groupBy(user_id).agg(count, sum)`, but with user-defined state
you could extend to OHLC candle building, anomaly flags, or
session-carryover logic that `session_window` can't express.

Scale notes: state lives in the state store partitioned by key (one
shuffle on user_id); each executor holds only its keys' state. With a
timeout (GroupStateTimeout) idle keys evict — bounded state at any key
cardinality. Arrow batches keep the Python boundary vectorized.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("sum_value", T.DoubleType()),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("total", T.DoubleType()),
    ]
)


def _update_totals(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame(
        {"user_id": [user_id], "n_events": [n], "sum_value": [round(total, 2)]}
    )


def running_user_totals(events: DataFrame) -> DataFrame:
    """Per-user running (count, sum) with explicit GroupState; emits the
    current totals for every user seen in each micro-batch."""
    return events.groupBy("user_id").applyInPandasWithState(
        _update_totals,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


EWMA_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("ewma", T.DoubleType()),
    ]
)

EWMA_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("ewma", T.DoubleType()),
    ]
)

EWMA_ALPHA = 0.3


def _update_ewma(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    n, ewma = state.get if state.exists else (0, None)
    # one group's micro-batch may arrive as several Arrow chunks with no
    # order guarantee across them — concatenate, then impose the
    # deterministic (ts, event_id) order before folding (state size is
    # one double; the transient buffer is one key's batch volume)
    batch = pd.concat(list(pdfs))
    batch = batch.sort_values(["ts", "event_id"])
    for x in batch["value"].to_list():
        ewma = x if ewma is None else EWMA_ALPHA * x + (1.0 - EWMA_ALPHA) * ewma
        n += 1
    state.update((n, float(ewma)))
    yield pd.DataFrame(
        {"user_id": [user_id], "n_events": [n], "ewma": [round(float(ewma), 9)]}
    )


def running_ewma(events: DataFrame) -> DataFrame:
    """Per-user RECURSIVE EWMA (e ← αx + (1−α)e) as a stateful
    streaming operator. The recursive form needs a sequential fold no
    window function expresses — exactly the escape-hatch case: state is
    one (n, ewma) pair per user, updated in event-time order within
    each micro-batch. The batch registry query `ewma_anomaly_flags`
    uses the finite-lag approximation because batch SQL has no
    sequential state; this operator is the exact online form."""
    return events.groupBy("user_id").applyInPandasWithState(
        _update_ewma,
        outputStructType=EWMA_OUTPUT_SCHEMA,
        stateStructType=EWMA_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --------------------------------------------------------------------------
# transformWithStateInPandas — the successor stateful API (Spark 4):
# typed state handles (value/list/map state, timers, TTL) instead of a
# single state tuple. Same operator as running_user_totals, new API.
# --------------------------------------------------------------------------
try:  # the processor API needs pyspark >= 4.0
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    class _RunningTotalsProcessor(StatefulProcessor):
        """Per-user (count, sum) in a ValueState handle."""

        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("totals", STATE_SCHEMA)

        def handleInputRows(self, key, rows, timerValues):
            n, total = self._state.get() if self._state.exists() else (0, 0.0)
            user_id = key[0]
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
            self._state.update((n, total))
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "n_events": [n],
                    "sum_value": [round(total, 2)],
                }
            )

        def close(self) -> None:
            pass

    def running_user_totals_tws(events: DataFrame) -> DataFrame:
        """`transformWithStateInPandas` twin of running_user_totals.
        Requires the RocksDB state store provider (state lives off-heap,
        checkpointed incrementally — the 100 TB-state configuration)."""
        return events.groupBy("user_id").transformWithStateInPandas(
            statefulProcessor=_RunningTotalsProcessor(),
            outputStructType=OUTPUT_SCHEMA,
            outputMode="Update",
            timeMode="None",
        )

except ImportError:  # pragma: no cover
    running_user_totals_tws = None  # type: ignore[assignment]


# ---------------------------------------------------------------------------
# Streaming heavy hitters: bucketed Misra-Gries state
# ---------------------------------------------------------------------------
HH_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.IntegerType()),
        T.StructField("item", T.StringType()),
        T.StructField("count_lb", T.LongType()),
    ]
)

#: MG counters as parallel arrays (GroupState rows must be flat)
HH_STATE_SCHEMA = T.StructType(
    [
        T.StructField("items", T.ArrayType(T.StringType())),
        T.StructField("counts", T.ArrayType(T.LongType())),
    ]
)


def _update_heavy(m: int):
    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (bucket,) = key
        if state.exists:
            items, counts = state.get
            mg = dict(zip(list(items), list(counts)))
        else:
            mg = {}
        for pdf in pdfs:
            for v, c in pdf["item"].value_counts().items():
                c = int(c)
                if v in mg:
                    mg[v] += c
                elif len(mg) < m:
                    mg[v] = c
                else:
                    dec = min(min(mg.values()), c)
                    mg = {k: n - dec for k, n in mg.items() if n - dec > 0}
                    if c - dec > 0 and len(mg) < m:
                        mg[v] = c - dec
        state.update((list(mg.keys()), [int(v) for v in mg.values()]))
        yield pd.DataFrame(
            {
                "bucket": [bucket] * len(mg),
                "item": list(mg.keys()),
                "count_lb": [int(v) for v in mg.values()],
            }
        )

    return update


def running_heavy_hitters(
    stream: DataFrame, col: str, support: float, num_buckets: int = 16
) -> DataFrame:
    """Streaming heavy-hitter candidates: hash-bucket the value space
    and run a Misra-Gries summary as per-bucket GroupState — the online
    form of operators/heavy.heavy_hitters' pass 1.

    Because the bucket key is a hash OF THE VALUE, every occurrence of
    an item lands in one bucket, so the per-bucket MG bound applies to
    the item's FULL stream count: any item with global frequency
    > support * n survives in its bucket's state (m = 2/support
    counters). Each trigger emits the surviving (item, lower-bound
    count) rows in 'update' mode; an exact recount joining candidates
    against stored history completes the exactly-counted answer, as in
    the batch operator.

    Scale notes: state is num_buckets * m counters TOTAL (not
    per-user-key) — a few KB regardless of stream cardinality; the one
    shuffle is on the bucket hash, so the operator scales with
    executor count, and skew is impossible by construction (buckets
    are a uniform hash)."""
    from pyspark.sql import functions as F

    m = int(2.0 / support) + 1
    keyed = stream.select(
        F.pmod(F.xxhash64(F.col(col)), F.lit(num_buckets))
        .cast("int")
        .alias("bucket"),
        F.col(col).cast("string").alias("item"),
    )
    return keyed.groupBy("bucket").applyInPandasWithState(
        _update_heavy(m),
        outputStructType=HH_OUTPUT_SCHEMA,
        stateStructType=HH_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --------------------------------------------------------------------------
# Streaming twin of the exact-substring family's crawl-increment read
# (plans/dedup.ngram_novelty_rate): per-gram first-seen state.
# --------------------------------------------------------------------------

NOVELTY_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("source", T.StringType()),
        T.StructField("n_grams", T.LongType()),
        T.StructField("n_repeat", T.LongType()),
    ]
)

NOVELTY_STATE_SCHEMA = T.StructType(
    [T.StructField("first_doc", T.LongType())]
)


def _update_novelty(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (first_doc,) = state.get if state.exists else (None,)
    batch = pd.concat(list(pdfs))
    # crawl order within the micro-batch: the same (doc, pos) order the
    # batch query's min(doc*PACK + pos) argmin imposes
    batch = batch.sort_values(["doc_id", "pos"])
    n: dict[str, int] = {}
    rep: dict[str, int] = {}
    for doc_id, src in zip(batch["doc_id"], batch["source"]):
        d = int(doc_id)
        if first_doc is None:
            first_doc = d
        n[src] = n.get(src, 0) + 1
        if first_doc < d:
            rep[src] = rep.get(src, 0) + 1
    state.update((int(first_doc),))
    yield pd.DataFrame(
        {
            "source": list(n),
            "n_grams": [n[s] for s in n],
            "n_repeat": [rep.get(s, 0) for s in n],
        }
    )


def novel_gram_increments(docs: DataFrame, k: int = 8) -> DataFrame:
    """Incremental n-gram novelty over a document stream — the online
    form of plans/dedup.ngram_novelty_rate (crawl order = arrival
    order): each k-token gram occurrence is a REPEAT iff the gram's
    digest was first seen in an EARLIER document; state per digest is
    that one first-seen doc id.  Each trigger appends per-(digest x
    source) partial counts; summing them per source after any prefix
    of increments gives exactly the batch query's (n_grams, n_repeat)
    on that prefix — the number an acquisition team tails to see a
    crawl increment's marginal value WITHOUT re-scanning the corpus.

    Scale notes: the shuffle key is the 32-byte digest (payloads never
    shuffle — the exact-dedup discipline); state is ONE long per
    distinct gram, the same cardinality the batch query's groupBy(gh)
    materializes per run, but carried incrementally. The transient
    buffer is one digest's occurrences within one micro-batch (corpus
    duplication bounded)."""
    from ..operators.dedup import substring_pos_grams

    grams = substring_pos_grams(
        docs.select("doc_id", "source", "text"),
        "text", "doc_id", k, carry=("source",),
    )
    return grams.groupBy("gh").applyInPandasWithState(
        _update_novelty,
        outputStructType=NOVELTY_OUTPUT_SCHEMA,
        stateStructType=NOVELTY_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --------------------------------------------------------------------------
# streaming MinHash-LSH near-dup candidates (r11): the banded-LSH twin
# of the crawl-increment story — as documents arrive, emit (earlier,
# later) candidate pairs the moment a new document lands in an LSH
# band bucket an earlier document occupies. Online form of
# operators/dedup.minhash_lsh_pairs.
# --------------------------------------------------------------------------

LSH_PAIRS_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("id_a", T.LongType()),
        T.StructField("id_b", T.LongType()),
    ]
)

LSH_PAIRS_STATE_SCHEMA = T.StructType(
    [T.StructField("ids", T.ArrayType(T.LongType()))]
)


def _update_lsh_bucket(bucket_cap: int):
    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        ids: list[int] = list(state.get[0]) if state.exists else []
        seen = set(ids)
        # crawl order within a micro-batch = doc_id order (the batch
        # twin's array_sort gives the same deterministic pairing)
        new = sorted(
            {int(d) for pdf in pdfs for d in pdf["doc_id"]} - seen
        )
        out_a: list[int] = []
        out_b: list[int] = []
        overflow = len(ids) > bucket_cap
        for d in new:
            if len(ids) + 1 > bucket_cap:
                overflow = True
            if not overflow:
                for o in ids:
                    out_a.append(min(o, d))
                    out_b.append(max(o, d))
            if len(ids) <= bucket_cap:  # cap+1 rows mark overflow
                ids.append(d)
        state.update((ids,))
        yield pd.DataFrame({"id_a": out_a, "id_b": out_b})

    return update


def lsh_candidate_increments(
    docs: DataFrame,
    num_hashes: int = 16,
    bands: int = 8,
    k: int = 3,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Incremental MinHash-LSH candidate pairs over a document stream:
    per-row signatures (minhash_sig_array_expr — bit-identical to the
    batch minhash_signature, but windowless so it runs on a stream),
    banded into (band, bhash) keys; per-bucket state is the id list of
    documents seen so far, and each arrival emits one (earlier, later)
    pair per co-bucketed predecessor. The distinct-ed union of all
    appended pairs over any prefix of the crawl equals
    minhash_lsh_pairs on that prefix (tests/test_streaming_lsh.py),
    with ONE divergence by construction: a bucket that outgrows
    `bucket_cap` stops emitting (append mode cannot retract the pairs
    emitted while it was small), whereas the batch query drops the
    whole bucket — the parity test pins the agreement on uncapped
    buckets.

    Scale notes: shuffle key is the (band, bhash) long pair; state per
    bucket is its member ids, capped at bucket_cap + 1 rows (the +1 is
    the overflow marker), so state is O(corpus × bands) longs worst
    case and bounded per key. Payloads never shuffle — the signature
    collapses each document to num_hashes longs before the state
    exchange."""
    from ..operators.dedup import (
        BUCKET_CAP,
        band_hash_exprs,
        minhash_sig_array_expr,
    )

    cap = BUCKET_CAP if bucket_cap is None else bucket_cap
    sig = docs.select(
        "doc_id",
        F.expr(minhash_sig_array_expr("text", num_hashes, k)).alias("ms"),
    ).where(F.expr("element_at(ms, 1) IS NOT NULL"))
    banded = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("band"), bh.alias("bhash")
                    )
                    for j, bh in enumerate(
                        band_hash_exprs(num_hashes, bands)
                    )
                ]
            )
        ).alias("bb"),
    ).select(
        "doc_id",
        F.col("bb.band").alias("band"),
        F.col("bb.bhash").alias("bhash"),
    )
    return banded.groupBy("band", "bhash").applyInPandasWithState(
        _update_lsh_bucket(cap),
        outputStructType=LSH_PAIRS_OUTPUT_SCHEMA,
        stateStructType=LSH_PAIRS_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --------------------------------------------------------------------------
# Streaming perceptual media dedup: the crawl-increment
# form of plans/multimodal.media_dhash_cross_format_dedup — new blobs
# arrive, each is decoded and difference-hashed by the SAME row function
# the batch query runs (operators/multimodal.media_dhash_row), and a
# per-hash survivor state answers "perceptually new or dup?" at arrival
# time. The media analog of incremental_ingest_dedup.
# --------------------------------------------------------------------------

DHASH_DEDUP_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("fmt", T.LongType()),
        T.StructField("dhash", T.LongType()),
        T.StructField("blob_md5", T.StringType()),
        T.StructField("survivor", T.LongType()),
        T.StructField("is_new", T.BooleanType()),
    ]
)

#: one long per distinct perceptual hash — state is O(#distinct
#: images), independent of crawl length or blob sizes
DHASH_DEDUP_STATE_SCHEMA = T.StructType(
    [T.StructField("survivor", T.LongType())]
)


def _update_dhash_group(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    survivor = int(state.get[0]) if state.exists else None
    rows = pd.concat(list(pdfs), ignore_index=True)
    # crawl order within a micro-batch = media_id order (matches the
    # batch twin's min(media_id) survivor election)
    rows = rows.sort_values("media_id", kind="mergesort")
    out = []
    for r in rows.itertuples(index=False):
        is_new = survivor is None
        if is_new:
            survivor = int(r.media_id)
        out.append(
            {
                "media_id": int(r.media_id),
                "fmt": int(r.fmt),
                "dhash": int(key[0]),
                "blob_md5": r.blob_md5,
                "survivor": survivor,
                "is_new": is_new,
            }
        )
    state.update((survivor,))
    yield pd.DataFrame(
        out,
        columns=[
            "media_id", "fmt", "dhash", "blob_md5", "survivor", "is_new",
        ],
    )


def dhash_dedup_increments(
    docs: DataFrame, side: int = 8, keys: int = 31
) -> DataFrame:
    """Incremental perceptual image dedup over a media stream: each
    arriving document's blob (the k-keyed pattern really encoded by
    the doc's codec, exactly the batch fixture) is decoded and
    difference-hashed inside one Arrow mapInPandas kernel — payloads
    never shuffle, only the 8-byte hash + format id + digest exit —
    then a per-dhash survivor state emits an append-mode verdict row
    per arrival: `is_new` on first sight of a hash, `survivor` = the
    first media_id that carried it. Aggregating all appended rows by
    dhash reproduces the batch query's (n_media, n_formats,
    n_distinct_blobs, survivor) exactly on any crawl prefix
    (tests/test_streaming_dhash.py).

    Scale notes: shuffle key is the 8-byte hash; state per key is ONE
    long, so total state is O(#distinct perceptual images) — bounded
    and tiny next to the corpus. Append mode never retracts: a dup
    verdict is final because a hash's survivor never changes once
    elected (min-id within the first micro-batch that carries it,
    earlier micro-batches always win)."""
    from ..operators.multimodal import MEDIA_DHASH_SCHEMA, media_dhash_row
    from ..operators.rows import map_rows

    media = docs.select(
        F.col("doc_id").alias("media_id"),
        (F.col("doc_id") % keys).alias("k"),
        (F.col("doc_id") % 3).alias("fmt"),
    )
    hashed = map_rows(media, MEDIA_DHASH_SCHEMA, media_dhash_row(side))
    return hashed.groupBy("dhash").applyInPandasWithState(
        _update_dhash_group,
        outputStructType=DHASH_DEDUP_OUTPUT_SCHEMA,
        stateStructType=DHASH_DEDUP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
