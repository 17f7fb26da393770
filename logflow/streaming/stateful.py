"""Stateful streaming operators (SURVEY §2.2 "streaming: stateful").

One state path per shape.  An operator whose per-key state is an
aggregate buffer (counts, sums, distinct sets) is Spark's own streaming
aggregate in update mode: ``running_totals``, ``distinct_label_counts``
and ``streaming_dependency_graph``.  Their state lives in the engine's
state store, each micro-batch stays in the JVM, and the statestore
reader shows it as ``value.<agg buffer field>``.  Pandas state
(``applyInPandasWithState``, ``GroupStateTimeout.NoTimeout``) is only for
transitions that depend on arrival order: the funnel automaton,
Misra-Gries and the frozen-prefix KS monitor.  Gap sessions are Spark's
native ``session_window`` aggregate (``windows.session_spans``).

Both paths partition state by the grouping key across executors
(HDFS/RocksDB-backed state store at cluster scale) and keep it
O(distinct keys) — the shape that keeps a 100 TB/day stream's state
bounded.  Each aggregate's latest emission per key equals its batch
``groupBy`` over everything seen so far (asserted in tests).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)


def running_totals(records: DataFrame, key_col: str, value_col: str) -> DataFrame:
    """Incremental (count, sum) per key over a stream.

    Emits one row per key per micro-batch the key appears in, carrying the
    running totals since stream start; the latest row per key equals the
    batch ``groupBy(key).count/sum`` over everything seen so far.
    """
    keyed = records.select(
        F.col(key_col).cast("string").alias("key"),
        F.col(value_col).cast("double").alias("value"),
    )
    return keyed.groupBy("key").agg(
        F.count(F.lit(1)).alias("n"), F.sum("value").alias("total")
    )


def distinct_label_counts(records: DataFrame, key_col: str, label_col: str) -> DataFrame:
    """Streaming per-key (event count, exact distinct label count).

    The latest emitted row per key equals the batch
    ``groupBy(key).agg(count(*), countDistinct(label))`` over everything
    seen so far (asserted in tests).  The ``collect_set`` buffer holds
    each key's distinct labels, so state is O(distinct labels) per key,
    bounded by cardinality, not volume.
    """
    keyed = records.select(
        F.col(key_col).cast("string").alias("key"),
        F.col(label_col).cast("string").alias("label"),
    )
    return keyed.groupBy("key").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.size(F.collect_set("label")).cast("long").alias("n_types"),
    )


# --------------------------------------------------------------------------
# Stateful row-pattern matcher: the streaming twin of seq_regex_funnel
# --------------------------------------------------------------------------

FUNNEL_STATE_SCHEMA = StructType(
    [
        StructField("key", StringType()),
        StructField("n_funnels", LongType()),
        StructField("armed", LongType()),
        StructField("n_out_of_order", LongType()),
    ]
)

_FUNNEL_STATE = "n LONG, armed LONG, max_us LONG, max_eid LONG, n_ooo LONG"

#: automaton for leftmost non-overlapping S[CV]*P matching:
#:   idle  + S        -> armed
#:   armed + S        -> armed   (failed attempt restarts at the new S)
#:   armed + C/V      -> armed
#:   armed + P        -> count++, idle
#:   armed + other(E) -> idle
#: equivalent to regexp_count(symbols, 'S[CV]*P') on the concatenated
#: per-key symbol string — asserted against seq_regex_funnel in tests.


def _update_funnels(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    n, armed, max_us, max_eid, n_ooo = (
        state.get if state.exists else (0, 0, -(1 << 62), -(1 << 62), 0)
    )
    for pdf in batches:
        # event-time order within the micro-batch; cross-batch order is
        # the arrival order (exactly ordered when the feed replays in
        # event-time order, as the tests do — production pipelines get
        # this from a watermark-sorted upstream or log-compacted source).
        # The ordered-feed CONTRACT is enforced, not assumed: the max
        # (ts, event_id) seen is carried in state, and any event arriving
        # below it is counted in n_out_of_order so a violating feed
        # SURFACES instead of silently miscounting (round-5 advice).
        pdf = pdf.sort_values(["ts", "event_id"])
        ts = pdf["ts"]
        if str(ts.dtype).startswith("datetime64"):
            us = ts.astype("datetime64[us]").astype("int64").to_numpy()
        else:
            us = ts.astype("int64").to_numpy()
        eids = pdf["event_id"].astype("int64").to_numpy()
        for t, e, c in zip(us, eids, pdf["c"]):
            if (t, e) < (max_us, max_eid):
                n_ooo += 1
            else:
                max_us, max_eid = int(t), int(e)
            if c == "S":
                armed = 1
            elif armed and c in ("C", "V"):
                pass
            elif armed and c == "P":
                n += 1
                armed = 0
            else:
                armed = 0
    state.update((n, armed, max_us, max_eid, n_ooo))
    yield pd.DataFrame(
        {
            "key": [key[0]],
            "n_funnels": [n],
            "armed": [armed],
            "n_out_of_order": [n_ooo],
        }
    )


def streaming_funnel_counts(events: DataFrame) -> DataFrame:
    """Incremental S[CV]*P funnel counting per user over a stream.

    The streaming twin of ``seq_regex_funnel``: per-key automaton state is
    two integers (position + count) regardless of stream length — the
    bounded-state property that makes row-pattern matching feasible on an
    unbounded 100 TB/day stream, where the batch form's per-user symbol
    string would grow without bound.
    """
    keyed = events.select(
        F.col("user_id").cast("string").alias("key"),
        F.col("ts"),
        F.col("event_id"),
        F.upper(F.substring("event_type", 1, 1)).alias("c"),
    )
    return keyed.groupBy("key").applyInPandasWithState(
        _update_funnels,
        outputStructType=FUNNEL_STATE_SCHEMA,
        stateStructType=_FUNNEL_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --------------------------------------------------------------------------
# Streaming Misra-Gries heavy hitters: the streaming twin of
# operators/heavyhitters.py (batch candidates + exact verify).
# --------------------------------------------------------------------------

MG_SCHEMA = StructType(
    [
        StructField("bucket", LongType()),
        StructField("item", LongType()),
        StructField("est_count", LongType()),
    ]
)

_MG_STATE = "items ARRAY<LONG>, counts ARRAY<LONG>"
_MG_CAPACITY = 20


def _update_mg(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    if state.exists:
        items, counts = state.get
        summary = dict(zip(items, counts))
    else:
        summary = {}
    for pdf in batches:
        # merge the micro-batch's EXACT per-item counts, then apply the
        # batched Misra-Gries truncation: while over capacity, subtract
        # the minimum count from every entry and drop zeros — each round
        # removes >= 1 entry, and the classic guarantee survives batching
        # (any item's true count is underestimated by at most
        # total_decremented <= stream_total / capacity).
        for item, c in pdf.groupby("item").size().items():
            summary[item] = summary.get(item, 0) + int(c)
        while len(summary) > _MG_CAPACITY:
            m = min(summary.values())
            summary = {i: c - m for i, c in summary.items() if c > m}
    state.update((list(summary.keys()), list(summary.values())))
    items = sorted(summary)
    yield pd.DataFrame(
        {
            "bucket": [key[0]] * len(items),
            "item": items,
            "est_count": [summary[i] for i in items],
        }
    )


def streaming_heavy_hitters(records: DataFrame, item_col: str, n_buckets: int = 8) -> DataFrame:
    """Streaming heavy-hitter CANDIDATES via per-bucket Misra-Gries state.

    Items hash into ``n_buckets`` groups; each group keeps a bounded
    ``_MG_CAPACITY``-entry summary regardless of stream length — the
    bounded-state property that makes frequent-item tracking feasible on
    an unbounded stream (the batch twin, heavy_hitters_tokens, scans and
    verifies exactly; here the guarantee is RECALL: any item with true
    count >= bucket_total/capacity survives in its bucket's summary, so a
    downstream exact verify over the candidate set stays corpus-bounded).
    """
    keyed = records.select(
        (F.col(item_col) % n_buckets).cast("long").alias("bucket"),
        F.col(item_col).cast("long").alias("item"),
    )
    return keyed.groupBy("bucket").applyInPandasWithState(
        _update_mg,
        outputStructType=MG_SCHEMA,
        stateStructType=_MG_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --------------------------------------------------------------------------
# Streaming KS drift monitor — the applyInPandasWithState twin of the
# batch two-sample KS operators (ks_click_purchase_drift / cogroup form,
# diag_ks_exact_value / value-domain form): per key, freeze the first
# ``ref_n`` observations as the REFERENCE distribution, then report the
# KS distance of everything after it against that reference after every
# micro-batch — the drift gate a training-data ingest pipeline runs on
# live feature streams.
# --------------------------------------------------------------------------

KS_DRIFT_SCHEMA = StructType(
    [
        StructField("key", StringType()),
        StructField("n_ref", LongType()),
        StructField("n_cur", LongType()),
        StructField("ks_num", LongType()),
        StructField("ks", DoubleType()),
    ]
)

#: bounded per-key state: two fixed-width histograms as parallel LONG
#: arrays (the round-6 array-state recipe) + the two counts.
_KS_STATE_SCHEMA = "ref ARRAY<LONG>, cur ARRAY<LONG>, n_ref LONG, n_cur LONG"


def _make_ks_drift_updater(n_bins: int, lo: float, hi: float, ref_n: int):
    width = (hi - lo) / n_bins

    def update(
        key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        import numpy as np

        if state.exists:
            ref_l, cur_l, n_ref, n_cur = state.get
            ref = np.asarray(ref_l, dtype=np.int64)
            cur = np.asarray(cur_l, dtype=np.int64)
        else:
            ref = np.zeros(n_bins, dtype=np.int64)
            cur = np.zeros(n_bins, dtype=np.int64)
            n_ref, n_cur = 0, 0
        for pdf in batches:
            v = pdf["value"].to_numpy(dtype=float)
            b = np.clip(((v - lo) / width).astype(np.int64), 0, n_bins - 1)
            take = max(0, min(ref_n - n_ref, len(b)))
            if take:
                ref += np.bincount(b[:take], minlength=n_bins)
                n_ref += take
            if take < len(b):
                cur += np.bincount(b[take:], minlength=n_bins)
                n_cur += len(b) - take
        state.update(([int(x) for x in ref], [int(x) for x in cur], n_ref, n_cur))
        # exact integer common-denominator KS over the bin-edge ECDFs
        # (the diag_ks_exact_value recipe): D = max |R_ref*n_cur -
        # R_cur*n_ref| / (n_ref*n_cur)
        if n_ref > 0 and n_cur > 0:
            ks_num = int(
                np.max(np.abs(np.cumsum(ref) * n_cur - np.cumsum(cur) * n_ref))
            )
            ks = ks_num / float(n_ref * n_cur)
        else:
            ks_num, ks = 0, 0.0
        yield pd.DataFrame(
            {
                "key": [key[0]],
                "n_ref": [n_ref],
                "n_cur": [n_cur],
                "ks_num": [ks_num],
                "ks": [ks],
            }
        )

    return update


def ks_drift_monitor(
    records: DataFrame,
    key_col: str,
    value_col: str,
    n_bins: int = 20,
    lo: float = 0.0,
    hi: float = 100.0,
    ref_n: int = 1000,
) -> DataFrame:
    """Per-key streaming KS drift against a frozen reference prefix.

    The first ``ref_n`` values per key (in pandas-batch iteration order)
    define the reference histogram; every subsequent value accumulates
    into the current histogram, and each micro-batch emits the
    exact-integer KS distance between the two binned ECDFs.  State is
    O(n_bins) longs per key — bounded forever, RocksDB-friendly at
    cluster scale — and the KS numerator is exact BIGINT (no float ECDF
    drift).

    Determinism caveat (r10 ADVICE): row order WITHIN a micro-batch
    after the groupBy shuffle is not guaranteed, so when a single batch
    straddles the ``ref_n`` boundary a retry from the same offsets may
    assign different rows to the reference.  Emissions are therefore
    reproducible across retries/restarts only when batch boundaries
    align with ``ref_n`` (as in the tests); callers needing a
    retry-stable reference should pre-sort each batch on an explicit
    ordering column (e.g. event time) upstream, or pick ``ref_n`` as a
    multiple of the ingest batch size.
    """
    keyed = records.select(
        F.col(key_col).cast("string").alias("key"),
        F.col(value_col).cast("double").alias("value"),
    )
    return keyed.groupBy("key").applyInPandasWithState(
        _make_ks_drift_updater(n_bins, lo, hi, ref_n),
        outputStructType=KS_DRIFT_SCHEMA,
        stateStructType=_KS_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --------------------------------------------------------------------------
# Streaming dependency graph — the incremental twin of the batch Q3
# (queries/trace.py:trace_dependency_graph): per-(service, remote) edge
# call counts maintained across micro-batches by the streaming aggregate,
# the reference's Zipkin dependency aggregation kept continuously fresh
# instead of recomputed per batch window.
# --------------------------------------------------------------------------


def streaming_dependency_graph(spans: DataFrame) -> DataFrame:
    """Incrementally-maintained service dependency graph over a span
    stream (reference Q3, README.adoc:140-145): rows with a Kafka remote
    hop count toward their (service, remote_service/topic) edge; each
    micro-batch emits the updated cumulative call_count for every edge
    it touched.  State is ONE long per edge — O(|services|²) bounded
    forever regardless of stream length, exactly the shape a RocksDB
    state store scales to; restarts resume from the checkpointed counts
    (asserted in tests), so the graph stays exactly-once consistent
    with the batch recompute.
    """
    edges = spans.filter(F.col("kafka_topic").isNotNull()).select(
        "service",
        # remote_service arrives already P3-rewritten (operators/topology.
        # rewrite_remote_service folds the topic in) — same edge naming as
        # the batch Q3, so the two results compare key-for-key.
        F.col("remote_service").alias("remote"),
    )
    return edges.groupBy("service", "remote").agg(
        F.count(F.lit(1)).alias("call_count")
    )
