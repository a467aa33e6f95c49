"""Dump `.explain("formatted")` for named contract queries to files.

Usage: python tools/dump_plans.py [--side] OUTDIR SUFFIX [sf_dir] query ...

Writes OUTDIR/<query>_<SUFFIX>.txt for each query.  Streaming replay
queries execute on construction (their plan is the batch twin's), so the
dump still works — it just takes the replay's wall time.

``--side`` additionally EXECUTES each query (noop sink) and appends the
physical plan of every SQL execution the run dispatched — artifact
writes, sizing counts, prefix-sum collects — read back from the SQL
status store, so multi-action queries' side jobs are self-evidencing
(the r14 tok6 dump missed the artifact sub-action this way).
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from nlp_to_nosql_spark.session import get_spark


def _executions_since(spark, min_id: int) -> list:
    """(id, description, physical plan) of every SQL execution with id
    > ``min_id``, read from the session's SQL status store (what the
    UI's SQL tab renders)."""
    store = spark._jsparkSession.sharedState().statusStore()
    seq = store.executionsList()
    out = []
    for i in range(seq.size()):
        e = seq.apply(i)
        if e.executionId() > min_id:
            out.append(
                (e.executionId(), e.description(), e.physicalPlanDescription())
            )
    return out


def _side_label(desc) -> str:
    """First line of an execution description, cut to 120 chars; empty
    for a missing or blank description."""
    return ((desc or "").splitlines() or [""])[0][:120]


def _last_execution_id(spark) -> int:
    seq = spark._jsparkSession.sharedState().statusStore().executionsList()
    return seq.apply(seq.size() - 1).executionId() if seq.size() else -1


def main() -> int:
    args = sys.argv[1:]
    side = False
    if args and args[0] == "--side":
        side = True
        args = args[1:]
    if len(args) < 2 or args[0] in ("-h", "--help"):
        usage = next(ln for ln in __doc__.splitlines() if ln.startswith("Usage:"))
        print(usage, file=sys.stderr)
        return 2
    outdir, suffix = args[0], args[1]
    rest = args[2:]
    if rest and os.path.isdir(rest[0]):
        sf_dir, names = rest[0], rest[1:]
    else:
        sf_dir, names = "/root/testdata/sf0.01", rest
    os.makedirs(outdir, exist_ok=True)
    spark = get_spark("dump_plans", master="local[8]")
    spark.sparkContext.setLogLevel("ERROR")
    entrymod.register_tables(spark, sf_dir)
    qs = entrymod.queries()
    # Short prefix ("tok6") or full name both accepted.
    by_prefix = {n.split("_")[0]: n for n in qs}
    for want in names:
        name = want if want in qs else by_prefix.get(want)
        if name is None:
            print(f"SKIP unknown query: {want}")
            continue
        before_id = _last_execution_id(spark) if side else -1
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df = qs[name](spark, sf_dir)
            df.explain("formatted")
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(buf.getvalue())
            if side:
                df.write.mode("overwrite").format("noop").save()
                for eid, desc, plan in _executions_since(spark, before_id):
                    f.write(
                        f"\n\n=== side execution {eid}: "
                        f"{_side_label(desc)} ===\n"
                    )
                    f.write(plan)
                spark.catalog.clearCache()
        print(f"wrote {path}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
