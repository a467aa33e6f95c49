"""Large-scale pipeline operators beyond the reference surface:
deduplication, similarity search (brute-force / LSH / IVF), as-of and
range joins, skew-salted joins, sessionization, multimodal columns."""

from nlp_to_nosql_spark.operators.asof import asof_join, asof_join_bucketed
from nlp_to_nosql_spark.operators.graph import connected_components, dedup_clusters
from nlp_to_nosql_spark.operators.interval import range_join
from nlp_to_nosql_spark.operators.ivf import IVFIndex
from nlp_to_nosql_spark.operators.joins import salted_join
from nlp_to_nosql_spark.operators.sessions import sessionize, sessionize_stream
from nlp_to_nosql_spark.operators.similarity import (
    IntSRPLSH,
    embedding_neardup_exact,
    topk_batch,
    topk_bruteforce,
)

__all__ = [
    "asof_join",
    "asof_join_bucketed",
    "connected_components",
    "dedup_clusters",
    "range_join",
    "IVFIndex",
    "salted_join",
    "sessionize",
    "sessionize_stream",
    "IntSRPLSH",
    "embedding_neardup_exact",
    "topk_batch",
    "topk_bruteforce",
]
