"""nlp_to_nosql_spark — a PySpark-native analytics engine.

A brand-new engine with the query and data-processing capabilities of the
reference NL→NoSQL system (see SURVEY.md), re-expressed Spark-first:

* NL string → :class:`~nlp_to_nosql_spark.ir.QuerySpec` (deterministic rule
  compiler, reference parity: ``No_Sql.py:316-377``; optional LLM front end
  with the same IR contract: ``No_Sql.py:104-136,269-314``).
* QuerySpec → DataFrame logical plan (filter/project) — Catalyst and
  Tungsten do all physical work (pushdown, pruning, codegen).
* Executor reproducing ``run_mongo_query`` semantics (``No_Sql.py:379-439``):
  bounded collect, filtered count with graceful degradation, per-row JSON
  sanitization.
* Large-scale pipeline extensions (not in the reference): deduplication
  (exact / MinHash-LSH / SimHash / n-gram Jaccard / embedding cosine),
  similarity search, text analysis, multimodal column plumbing, streaming
  history metrics.
* HTTP serving layer (:mod:`nlp_to_nosql_spark.server`): ``POST /query``
  with the reference's validation, budgets, and error envelopes
  (``app_server.py:75-93,202-332``) — ``create_app(Engine(spark))``.
"""

from nlp_to_nosql_spark.ir import QuerySpec
from nlp_to_nosql_spark.compiler.rules import nl_to_queryspec
from nlp_to_nosql_spark.plans.compile import apply_spec
from nlp_to_nosql_spark.executor import execute
from nlp_to_nosql_spark.api import Engine

__all__ = [
    "QuerySpec",
    "nl_to_queryspec",
    "apply_spec",
    "execute",
    "Engine",
]

__version__ = "0.1.0"
