"""Five-minute end-to-end demo: the three client surfaces (CLI, HTTP
API, browser UI) running the natural-language compiler against real
parquet tables — the walkthrough a reviewer runs to see the
reference-parity story (reference: ``main.py`` Streamlit UI,
``app_server.py`` FastAPI service, both driven by ``No_Sql.py``) on
this engine's Spark stack.

Run:  python docs/demo.py [sf_dir]          (default /root/testdata/sf0.01)

Everything is offline: the LLM compiler path falls back to the
rule-based compiler (reference ``No_Sql.py:316-377`` precedence), the
HTTP surface uses Flask's test client (no port binds), and the UI check
verifies the served page wires its widgets to the same ``/query`` API.
The printed transcript is committed at docs/DEMO_TRANSCRIPT.txt;
tests/test_cli.py::test_demo_walkthrough smoke-runs this module.
"""

from __future__ import annotations

import io
import json
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

DEFAULT_SF_DIR = "/root/testdata/sf0.01"


def run_demo(sf_dir: str = DEFAULT_SF_DIR, spark=None) -> str:
    """Run all three surfaces; return the transcript text."""
    from nlp_to_nosql_spark.api import Engine
    from nlp_to_nosql_spark.cli import main as cli_main
    from nlp_to_nosql_spark.server import create_app
    from nlp_to_nosql_spark.session import get_spark
    from nlp_to_nosql_spark.sources.catalog import register_tables

    out = io.StringIO()

    def say(*lines: str) -> None:
        for ln in lines:
            out.write(ln + "\n")

    spark = spark or get_spark("demo")
    register_tables(spark, sf_dir)
    # The reference queries an "employees" collection; here it is a
    # derived VIEW over the TPC-H customer table (same mapping the nl*
    # contract queries use) so NL filters like "earning more than 4000"
    # hit a real salary column.
    from __spark_entry__ import EMPLOYEES_VIEW_SQL

    spark.sql(EMPLOYEES_VIEW_SQL).createOrReplaceTempView("employees")

    # ---- 1. CLI (terminal twin of the reference's Streamlit client) ----
    say("=" * 72, "1. CLI surface — natural language in, table out", "=" * 72)
    nl = "Find employees earning more than 4000"
    say(f"$ python -m nlp_to_nosql_spark.cli {nl!r} --table employees "
        f"--sf-dir {sf_dir} --limit 3", "")
    cli_out = io.StringIO()
    with redirect_stdout(cli_out):
        rc = cli_main(
            [nl, "--table", "employees", "--sf-dir", sf_dir, "--limit", "3"]
        )
    say(cli_out.getvalue().rstrip(), f"(exit code {rc})", "")

    # ---- 2. HTTP API (endpoint parity with app_server.py) --------------
    say("=" * 72, "2. HTTP surface — POST /query (FastAPI-parity envelope)",
        "=" * 72)
    engine = Engine(spark)
    app = create_app(engine)
    app.config["TESTING"] = True
    client = app.test_client()
    body = {"input": nl, "collection": "employees", "limit": 3}
    say(f"$ curl -s -X POST localhost:8000/query -d '{json.dumps(body)}'", "")
    resp = client.post("/query", json=body)
    envelope = resp.get_json()
    shown = dict(envelope)
    shown["results"] = shown.get("results", [])[:1] + ["..."]
    say(json.dumps(shown, indent=2, default=str)[:1500], "")
    health = client.get("/health").get_json()
    say("$ curl -s localhost:8000/health", json.dumps(health, default=str), "")

    # ---- 3. Browser UI (HTML twin of the Streamlit app) ----------------
    say("=" * 72, "3. UI surface — GET /ui drives the same /query API",
        "=" * 72)
    page = client.get("/ui").get_data(as_text=True)
    widgets = [w for w in (
        "NLP to NoSQL", "Success Rate", 'fetch("/query"', 'fetch("/health")',
        "Find employees earning more than 50000",
    ) if w in page]
    say(f"GET /ui -> {len(page)} bytes; widgets wired: {widgets}", "")

    # ---- 4. Pipeline surface (the LLM-training-data extensions) --------
    say("=" * 72, "4. Pipeline surface — fit a BPE tokenizer, count "
        "tokens, pack batches,", "   and DSIR-select target-like "
        "documents (plain DataFrame APIs)", "=" * 72)
    from pyspark.sql import functions as F

    from nlp_to_nosql_spark.operators.packing import pack_by_token_budget
    from nlp_to_nosql_spark.operators.selection import (
        bpe_encode_len,
        bpe_train,
        dsir_select_gumbel,
    )

    docs = spark.table("documents")
    merges = bpe_train(docs, n_merges=4)
    say(f">>> bpe_train(docs, n_merges=4)  ->  {merges}")
    enc = bpe_encode_len(docs, merges)
    packed = pack_by_token_budget(enc, "doc_id", "n_tokens", budget=5_000)
    n_batches = packed.agg(F.max("batch_id") + 1).collect()[0][0]
    say(f">>> pack_by_token_budget(enc, budget=5000)  ->  "
        f"{packed.count()} docs into {n_batches} batches")
    picked = dsir_select_gumbel(docs, F.col("lang") == "en", k=3)
    say(">>> dsir_select_gumbel(docs, lang=='en', k=3)  ->")
    for r in picked.collect():
        say(f"    doc {r['doc_id']}: weight_micro={r['weight_micro']} "
            f"key_micro={r['key_micro']}")
    say("")

    say("=" * 72, "5. Round-11 additions — trained language ID, UniMax "
        "budget planning,", "   unigram-LM segmentation (plain DataFrame "
        "APIs)", "=" * 72)
    from nlp_to_nosql_spark.operators.classify import nb_charngram_langid
    from nlp_to_nosql_spark.operators.curation import unimax_allocation
    from nlp_to_nosql_spark.operators.selection import unigram_viterbi

    pred = nb_charngram_langid(docs, n=3, seed=11)
    agree = pred.filter(F.col("pred_lang") == F.col("lang")).count()
    total = pred.count()
    say(f">>> nb_charngram_langid(docs)  ->  {total} held-out docs "
        f"scored, {agree} predicted == labeled")
    plan = unimax_allocation(docs, "lang", budget=20_000, max_epochs=1)
    say(">>> unimax_allocation(docs, 'lang', budget=20000, E=1)  ->")
    for r in sorted(plan.collect(), key=lambda r: r["lang"]):
        say(f"    {r['lang']}: n_tokens={r['n_tokens']} "
            f"alloc={r['allocation']} epochs_micro={r['epochs_micro']}")
    segs = unigram_viterbi(docs).orderBy(F.col("wc").desc()).limit(3)
    say(">>> unigram_viterbi(docs)  (3 most frequent words)  ->")
    for r in segs.collect():
        say(f"    {r['word']!r} -> {r['seg']!r} "
            f"(score_micro={r['score_micro']})")
    say("")

    say("=" * 72, "6. Round-12 additions — Kneser-Ney scoring, paragraph "
        "dedup,", "   ExactSubstr span removal, and the unigram-LM "
        "TRAINER", "=" * 72)
    from nlp_to_nosql_spark.operators.curation import (
        exact_substring_decontaminate,
        kneser_ney_score,
    )
    from nlp_to_nosql_spark.operators.dedup import paragraph_dedup
    from nlp_to_nosql_spark.operators.selection import unigram_train

    is_en = F.col("lang").eqNullSafe(F.lit("en"))
    kn = kneser_ney_score(docs.filter(~is_en), docs.filter(is_en))
    top = kn.orderBy(F.desc_nulls_last("mean_lp_micro"), "doc_id").limit(2)
    say(">>> kneser_ney_score(pool, target)  (2 most target-like)  ->")
    for r in top.collect():
        say(f"    doc {r['doc_id']}: n_tokens={r['n_tokens']} "
            f"mean_lp_micro={r['mean_lp_micro']}")
    multi = docs.select(
        "doc_id",
        F.regexp_replace(F.col("text"), r"(\S+ \S+ \S+ \S+ \S+) ",
                         "$1\n").alias("text"),
    )
    pd_out = paragraph_dedup(multi)
    touched = pd_out.filter(F.col("n_removed") > 0)
    say(f">>> paragraph_dedup(docs-as-5-token-lines)  ->  "
        f"{touched.count()} docs lost paragraphs "
        f"({pd_out.agg(F.sum('n_removed')).collect()[0][0]} paragraphs "
        "deduped corpus-wide)")
    ev = F.col("doc_id") % 97 == 0
    dc = exact_substring_decontaminate(
        docs.filter(~ev), docs.filter(ev), k=3
    )
    hit = dc.filter(F.col("n_removed") > 0)
    say(f">>> exact_substring_decontaminate(train, eval, k=3)  ->  "
        f"{hit.count()} docs had shared >=3-token spans stripped "
        f"({dc.agg(F.sum('n_removed')).collect()[0][0]} words removed)")
    inv = unigram_train(docs, max_piece_len=4, min_count=2, n_iters=2,
                        max_pieces=5)
    say(">>> unigram_train(docs, n_iters=2, max_pieces=5)  "
        "(top multi-char pieces)  ->")
    for r in inv.filter(F.length("piece") >= 2).orderBy(
        F.desc("c"), "piece"
    ).collect():
        say(f"    {r['piece']!r}: uses={r['c']} lp_micro={r['lp_micro']}")
    say("")

    say("=" * 72, "Demo complete: one NL query compiled (rule-based "
        "fallback, offline),", "executed on Spark, and returned through "
        "all three client surfaces,", "plus the corpus-pipeline "
        "operators on the documents table.", "=" * 72)
    return out.getvalue()


if __name__ == "__main__":
    transcript = run_demo(sys.argv[1] if len(sys.argv) > 1 else DEFAULT_SF_DIR)
    print(transcript)
