"""logflow — a PySpark-native analytics engine for correlated record streams.

Re-expresses the capabilities of timtebeek/kafka-streams-log-correlation
(Kafka-record data model, trace enrich/branch/route operators, Zipkin-style
trace analytics) as an idiomatic Spark DataFrame library, extended with the
relational + LLM-data-pipeline operator surface described in SURVEY.md §2.

Design stance (SURVEY.md §7): public API = functions returning DataFrames;
trace semantics = derived columns; "topology" = composition of DataFrame
transformations; streaming = the same functions applied to streaming frames.
"""

# First: Python workers import logflow when they unpickle its code, and the
# zip directory guard must be in place before their next task starts.
from logflow import pyworker  # noqa: F401
from logflow.operators.branch import branch
from logflow.operators.dedup import (
    exact_dedup_groups,
    minhash_lsh_pairs,
    prefix_filter_jaccard_join,
)
from logflow.operators.distribution import ks_distance_cogrouped
from logflow.operators.intervals import interval_max_concurrency
from logflow.operators.multimodal import (
    decode_pgm,
    decode_wav,
    decode_y4m_sampled,
    resize_pgm_half,
    synthesize_pgm,
    synthesize_wav,
    synthesize_y4m,
)
from logflow.operators.joins import asof_join, bucketed_join, salted_join
from logflow.operators.similarity import cosine_topk, ivf_topk
from logflow.operators.topology import enrich_trace, route_even_odd, spans_from_records
from logflow.session import get_spark
from logflow.sources.records import records_from_events
from logflow.sources.tables import load_table, register_views

__all__ = [
    "asof_join",
    "branch",
    "bucketed_join",
    "cosine_topk",
    "decode_pgm",
    "decode_wav",
    "decode_y4m_sampled",
    "enrich_trace",
    "exact_dedup_groups",
    "get_spark",
    "interval_max_concurrency",
    "ivf_topk",
    "ks_distance_cogrouped",
    "load_table",
    "minhash_lsh_pairs",
    "prefix_filter_jaccard_join",
    "records_from_events",
    "resize_pgm_half",
    "register_views",
    "route_even_odd",
    "salted_join",
    "spans_from_records",
    "synthesize_pgm",
    "synthesize_wav",
    "synthesize_y4m",
]
__version__ = "0.2.0"
