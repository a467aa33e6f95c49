"""QuerySpec → DataFrame logical-plan compilation.

Everything here is declarative: we emit ``Column`` expression trees and let
Catalyst do pushdown, pruning, and limit placement (SURVEY §4 — the
reference's delegation to MongoDB maps 1:1 onto Catalyst built-ins).
"""

from nlp_to_nosql_spark.plans.compile import apply_spec, compile_projection

__all__ = ["apply_spec", "compile_projection"]
