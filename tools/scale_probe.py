"""Empirical scaling probe: run the heavy operator families at sf0.1 and
at a synthetic N× of it, and report the wall-clock scaling factor.

The bench proves absolute cost at sf0.1; this probes the SHAPE — an
operator whose cost grows ~linearly in rows here has no hidden
all-pairs/driver bottleneck waiting at 100 TB, and one that grows
super-linearly is flagged before a cluster finds out.

The N× corpus is built by unioning N deterministic variants of the
sf0.1 tables (ids offset; document text passed through a per-copy
Caesar `translate`, so each copy has a DISJOINT vocabulary — this
simulates N× more independent data rather than N× duplication, which
would measure the dup-explosion regime instead of scale).  Events get
N× the users over the same time range, which is how event volume
actually grows; embeddings get N× id-offset, slightly-shifted vectors.

Usage: python tools/scale_probe.py [sf_dir] [copies] [probe ...] —
writes a markdown table to stdout; ~2-4 min on local[32] at the default
10 copies.  Optional probe names restrict the run (exact keys of the
probes() dict) — e.g. the cheap new families at 100× without paying for
the heavy dedup pipelines again.
"""

from __future__ import annotations

import json
import os
import string
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from nlp_to_nosql_spark.session import get_spark
from nlp_to_nosql_spark.sources.catalog import register_tables

COPIES = 10


def _union_all(parts):
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def scaled_documents(docs, copies=COPIES):
    # rotation cycles after 26, so past 26 copies some copy groups share
    # a vocabulary (deliberate: the big corpus then carries a realistic
    # few-percent duplicate rate — noted next to the recorded results)
    alpha = string.ascii_lowercase
    parts = []
    for i in range(copies):
        rot = alpha[i % 26:] + alpha[: i % 26]
        parts.append(
            docs.select(
                (F.col("doc_id") + F.lit(i * 1_000_000)).alias("doc_id"),
                F.translate(F.col("text"), alpha, rot).alias("text"),
                "lang",
                "source",
                "n_chars",
            )
        )
    return _union_all(parts)


def scaled_embeddings(emb, copies=COPIES):
    # id-offset copies with a small per-copy deterministic component
    # shift ((dim_index + copy) mod 7 millis) so near-dup structure
    # doesn't explode; cost in ANN ops is row count × dim, which this
    # preserves exactly
    parts = []
    for i in range(copies):
        parts.append(
            emb.select(
                (F.col("vec_id") + F.lit(i * 1_000_000)).alias("vec_id"),
                F.transform(
                    "embedding",
                    lambda x, j: x + (j + F.lit(i)) % 7 * F.lit(0.001),
                )
                .cast("array<float>")
                .alias("embedding"),
                "label",
            )
        )
    return _union_all(parts)


def scaled_events(ev, copies=COPIES):
    return _union_all(
        [
            ev.select(
                (F.col("event_id") + F.lit(i * 10_000_000)).alias("event_id"),
                "ts",
                (F.col("user_id") + F.lit(i * 1_000_000)).alias("user_id"),
                "event_type",
                "value",
                "props",
            )
            for i in range(copies)
        ]
    )


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    copies = int(sys.argv[2]) if len(sys.argv) > 2 else COPIES
    only = set(sys.argv[3:])  # empty = all probes
    spark = get_spark("scale_probe", master="local[32]")
    spark.sparkContext.setLogLevel("ERROR")
    tables = register_tables(spark, sf_dir)

    # Materialize both scales to parquet so every probe reads a real scan
    # (unionByName lineage would re-run the translate per probe).
    base = "/tmp/spark_graft_scale_probe"
    d1p, d10p = f"{base}/docs_1x", f"{base}/docs_{copies}x"
    e1p, e10p = f"{base}/events_1x", f"{base}/events_{copies}x"
    tables["documents"].write.mode("overwrite").parquet(d1p)
    scaled_documents(tables["documents"], copies).write.mode(
        "overwrite"
    ).parquet(d10p)
    tables["events"].write.mode("overwrite").parquet(e1p)
    scaled_events(tables["events"], copies).write.mode("overwrite").parquet(
        e10p
    )
    v1p, v10p = f"{base}/emb_1x", f"{base}/emb_{copies}x"
    tables["embeddings"].write.mode("overwrite").parquet(v1p)
    scaled_embeddings(tables["embeddings"], copies).write.mode(
        "overwrite"
    ).parquet(v10p)

    from nlp_to_nosql_spark.functions.text import fingerprint
    from nlp_to_nosql_spark.operators import dedup as dd
    from nlp_to_nosql_spark.operators.changelog import (
        latest_wins,
        snapshot_diff,
    )
    from nlp_to_nosql_spark.operators.curation import (
        consistent_key_sample,
        repetition_signals,
        stratified_split,
    )
    from nlp_to_nosql_spark.operators.layout import exact_quantiles
    from nlp_to_nosql_spark.operators.funnel import funnel_stages
    from nlp_to_nosql_spark.operators.graph import (
        cluster_representatives,
        dedup_clusters,
    )
    from nlp_to_nosql_spark.operators.ivf import IVFIndex
    from nlp_to_nosql_spark.operators.pq import fit_pq, pq_encode
    from nlp_to_nosql_spark.operators.sessions import sessionize
    from nlp_to_nosql_spark.operators.similarity import (
        IntSRPLSH,
        hard_negative_topk,
        topk_bruteforce,
    )
    from nlp_to_nosql_spark.operators.sketch import (
        cms_heavy_hitters,
        cms_heavy_hitters_by,
        hll_ndv_by,
        hll_registers,
        tokens_by,
    )
    from nlp_to_nosql_spark.operators.classify import hashed_linear_score
    from nlp_to_nosql_spark.operators.evals import classification_metrics
    from nlp_to_nosql_spark.operators.selection import (
        bpe_merge_pairs,
        dsir_select,
        dsir_select_by,
        dsir_select_gumbel,
    )
    from nlp_to_nosql_spark.operators.semdedup import semantic_dedup

    query_vec = [float(x) for x in tables["embeddings"].first()["embedding"]]

    def keep_best_probe(docs):
        # the dedup12 chain: Jaccard pairs -> CC labels -> scored arg-max
        pairs = dd.ngram_jaccard_pairs(
            docs, "doc_id", "text", k=3, threshold=0.2
        )
        labels = dedup_clusters(pairs, docs)
        scores = repetition_signals(docs).select(
            "doc_id", F.col("distinct_word_frac").alias("score")
        )
        return cluster_representatives(labels, scores, min_members=2)

    def snapshot_diff_probe(docs):
        # the diff1 chain: two fingerprinted key-slices full-outer-joined
        old = consistent_key_sample(docs, "doc_id", 0.95, seed=3).select(
            "doc_id", fingerprint(F.col("text")).alias("fp")
        )
        new = consistent_key_sample(docs, "doc_id", 0.95, seed=5).select(
            "doc_id",
            fingerprint(
                F.regexp_replace(F.col("text"), "spark", "engine")
            ).alias("fp"),
        )
        return snapshot_diff(old, new)

    def ivf_probe(emb):
        idx = IVFIndex(n_lists=16, seed=3)
        assigned = idx.fit(emb)
        return idx.topk(assigned, query_vec, k=10, nprobe=4)

    def incremental_probe(docs):
        # the dedup13 chain: HLL auto-sizing + corpus Bloom fold +
        # anti-join admission (m_bits=None exercises the round-8
        # auto-sizer, so the probe measures the filter that would
        # actually ship at this corpus size)
        corpus = docs.filter(F.col("doc_id") % 5 != 0)
        batch = docs.filter(F.col("doc_id") % 5 == 0)
        return dd.incremental_new_docs(batch, corpus, m_bits=None)

    def hard_negative_probe(emb):
        # the ann12 chain: per-label batched different-label top-k;
        # queries fixed at 6 so growth measures the corpus scan
        qs = [
            (r["vec_id"], [float(x) for x in r["embedding"]], r["label"])
            for r in emb.orderBy("vec_id").limit(6).collect()
        ]
        return hard_negative_topk(emb, qs, k=5)

    def pq_probe(emb):
        # fit is a bounded collect (k rows); encode is the corpus scan —
        # the growth factor measures the zero-shuffle projection.
        model = fit_pq(emb, m=4, k=16, seed=7)
        return pq_encode(emb, model)

    def semdedup_probe(emb):
        # SemDeDup's scale contract: n_clusters grows with n so cell
        # size stays bounded and the within-cell O(n²/k) term stays
        # linear overall.  Cell target ~250 rows mirrors the contract
        # config at sf0.1 (2000 rows / 8 cells); the count job runs
        # inside the timed region but is one cheap metadata-ish scan.
        n = max(8, emb.count() // 250)
        return semantic_dedup(emb, n_clusters=n, threshold=0.4)

    def bm25_probe(docs):
        # the text4 chain: TF build + broadcast query-term prune +
        # salted two-stage top-k.  Query tokens are rotated per copy by
        # scaled_documents' Caesar translate, so probe terms from the
        # UNROTATED vocabulary only match copy 0 — include their rot-1
        # and rot-2 variants so candidate volume grows with the corpus.
        from nlp_to_nosql_spark.operators.terms import bm25_topk

        alpha = string.ascii_lowercase
        base = [("q1", "fast"), ("q1", "merge"), ("q2", "stream"),
                ("q2", "filter"), ("q3", "the")]
        rows = [
            (q, t.translate(str.maketrans(alpha, alpha[i:] + alpha[:i])))
            for i in range(3)
            for q, t in base
        ]
        qterms = docs.sparkSession.createDataFrame(
            rows, "query_id string, token string"
        )
        return bm25_topk(docs, qterms, "doc_id", "text", k=5)

    def rrf_probe(docs, emb):
        # the fuse1 chain: bm25_probe's sparse ranking fused with a
        # dense batch top-k over three anchor vectors via integer RRF —
        # the fusion layer itself is #queries×k rows, so the probe
        # measures the two retrievers plus a constant
        from pyspark.sql import Window

        from nlp_to_nosql_spark.operators.evals import rrf_fuse
        from nlp_to_nosql_spark.operators.similarity import topk_batch

        sparse = bm25_probe(docs).select("query_id", "rk", "doc_id")
        anchors = emb.orderBy("vec_id").limit(3).collect()
        queries = [
            (10 * (i + 1), [float(x) for x in r["embedding"]])
            for i, r in enumerate(anchors)
        ]
        dw = Window.partitionBy("query_id").orderBy(
            F.desc("cos_sim"), F.asc("vec_id")
        )
        dense = (
            topk_batch(emb, queries, k=10)
            .withColumn("rk", F.row_number().over(dw).cast("int"))
            .select(
                F.expr(
                    "concat('q', CAST(query_id div 10 AS STRING))"
                ).alias("query_id"),
                "rk",
                F.col("vec_id").alias("doc_id"),
            )
        )
        return rrf_fuse([sparse, dense], k=60, top_n=10)

    def pair_quality_probe(docs):
        # the eval5 chain: banded MinHash candidates vs the exact
        # inverted-index Jaccard truth, compared by one pair-set-sized
        # full outer join
        from nlp_to_nosql_spark.operators.evals import pair_set_quality

        pred = dd.minhash_lsh_pairs(
            docs,
            "doc_id",
            "text",
            k=4,
            num_perm=32,
            bands=8,
            threshold=0.5,
        )
        truth = dd.ngram_jaccard_pairs(
            docs, "doc_id", "text", k=4, threshold=0.5
        )
        return pair_set_quality(pred, truth)

    def bpe_train_probe(docs, n_merges):
        # the tok4 trainer: the word-count collect and the driver-side
        # merge loop both run inside this call, so wall time covers the
        # whole fit; the ranked merge table is the noop-write target
        from nlp_to_nosql_spark.operators.selection import bpe_train

        merges = bpe_train(docs, n_merges=n_merges)
        return docs.sparkSession.createDataFrame(
            [(r, l, rh, c) for r, l, rh, c in merges],
            "merge_rank int, lhs string, rhs string, pair_count long",
        )

    def bpe_encode_probe(docs):
        # tok5 end-to-end: train 4 merges then encode every document
        from nlp_to_nosql_spark.operators.selection import (
            bpe_encode_len,
            bpe_train,
        )

        return bpe_encode_len(docs, bpe_train(docs, n_merges=4))

    def semdedup_fitted_probe(emb):
        # dedup15: the sampled integer-micro Lloyd's fit (iteration
        # collects inside) plus the within-cell pair search.  Same
        # k ∝ n scale contract as semdedup_probe — a FIXED k under a
        # 100× corpus measures the O(n²/k) within-cell term growing
        # quadratically (measured: 41× at 100×), which is exactly the
        # misconfiguration SemDeDup's cell sizing exists to prevent.
        from nlp_to_nosql_spark.operators.semdedup import semantic_dedup

        n = max(8, emb.count() // 250)
        return semantic_dedup(
            emb, n_clusters=n, threshold=0.4, fit="micro_kmeans",
            fit_iters=2, fit_seed=7,
        )

    def bpe_pack_probe(docs):
        # pipe6 end-to-end: train 4 merges, encode, prefix-sum pack
        from nlp_to_nosql_spark.operators.packing import (
            pack_by_token_budget,
        )
        from nlp_to_nosql_spark.operators.selection import (
            bpe_encode_len,
            bpe_train,
        )

        enc = bpe_encode_len(docs, bpe_train(docs, n_merges=4))
        return pack_by_token_budget(enc, "doc_id", "n_tokens", budget=5_000)

    def target_lm_probe(docs):
        # lm2: stupid-backoff LM fit on the target split, pool scored —
        # target-side exchanges target-sized, pool pays one context
        # explode + broadcast joins + a per-doc reduce
        from nlp_to_nosql_spark.operators.curation import target_lm_score

        pred = F.col("lang") == "en"
        return target_lm_score(
            docs.filter(~pred.eqNullSafe(F.lit(True))),
            docs.filter(pred.eqNullSafe(F.lit(True))),
        )

    def kneser_ney_probe(docs):
        # lm5: interpolated-KN twin of lm2's shape — model tables are
        # target-sized distinct-count aggregates, pool pays the same
        # context explode + five gram joins
        from nlp_to_nosql_spark.operators.curation import kneser_ney_score

        pred = F.col("lang") == "en"
        return kneser_ney_score(
            docs.filter(~pred.eqNullSafe(F.lit(True))),
            docs.filter(pred.eqNullSafe(F.lit(True))),
        )

    def _mldocs(docs):
        # the dedup19/pipe10 pseudo-paragraph rendering (10 tokens/line)
        from nlp_to_nosql_spark.functions.text import normalize_text

        staged = docs.select(
            "doc_id",
            "lang",
            F.split(normalize_text(F.col("text")), " ").alias("_ws"),
        )
        lines = F.transform(
            F.sequence(F.lit(1), F.expr("(size(_ws) + 9) div 10").cast("int")),
            lambda i: F.array_join(
                F.slice(F.col("_ws"), (i - F.lit(1)) * 10 + 1, 10), " "
            ),
        )
        return staged.select(
            "doc_id", "lang", F.array_join(lines, "\n").alias("text")
        )

    def paragraph_dedup_probe(docs):
        # dedup19: (id, pos, 16-byte key) census shuffle + one rebuild
        import nlp_to_nosql_spark.operators.dedup as ddp

        return ddp.paragraph_dedup(_mldocs(docs), "doc_id", "text")

    def dc3_probe(docs):
        # dc3: eval gram set broadcast, train text never shuffles for
        # the match; coverage groupBy moves (id, pos) ints only
        from nlp_to_nosql_spark.operators.curation import (
            exact_substring_decontaminate,
        )

        ev = F.col("doc_id") % 97 == 0
        return exact_substring_decontaminate(
            docs.filter(~ev), docs.filter(ev), k=3
        )

    def pipe10_probe(docs):
        # paragraph dedup of the crawl → LM tertiles (CCNet stage order)
        import nlp_to_nosql_spark.operators.dedup as ddp
        from nlp_to_nosql_spark.operators.curation import ppl_buckets

        ml = _mldocs(docs)
        pred = F.col("lang") == "en"
        cleaned = ddp.paragraph_dedup(
            ml.filter(~pred.eqNullSafe(F.lit(True))), "doc_id", "text"
        )
        pool = cleaned.join(docs.select("doc_id", "lang"), "doc_id").select(
            "doc_id", "lang", F.col("clean_text").alias("text")
        )
        target = ml.filter(pred.eqNullSafe(F.lit(True)))
        return ppl_buckets(pool, target, "lang", n_buckets=3).filter(
            F.col("ppl_bucket") <= 2
        )

    def tok8_probe(docs):
        # tok8: 2 unrolled EM rounds; everything after the word count
        # is vocabulary-sized (Heaps'-law sublinear)
        from nlp_to_nosql_spark.operators.selection import unigram_train

        return unigram_train(
            docs, "text", max_piece_len=4, min_count=2, n_iters=2,
            max_pieces=25,
        )

    def cluster_purity_probe(emb):
        # eval8: rides ann13's probed generator; everything after the
        # graph is edge-list joins + <=|clusters| rows
        from pyspark.sql import Window

        from nlp_to_nosql_spark.operators.graph import connected_components
        from nlp_to_nosql_spark.operators.similarity import knn_graph

        edges = knn_graph(emb, k=5).filter(F.col("mutual")).select(
            "src", "dst"
        )
        labels = connected_components(
            edges, "src", "dst", nodes=emb, id_col="vec_id"
        )
        clusters = labels.select(
            F.col("id").alias("vec_id"), F.col("label").alias("cluster_id")
        )
        votes = (
            clusters.join(emb.select("vec_id", "label"), "vec_id")
            .groupBy("cluster_id", "label")
            .agg(F.count(F.lit(1)).cast("long").alias("v"))
        )
        w = Window.partitionBy("cluster_id").orderBy(
            F.col("v").desc(), F.col("label").asc()
        )
        return votes.withColumn("rn", F.row_number().over(w)).filter(
            F.col("rn") == 1
        )

    def ndcg_probe(docs):
        # eval9: rides text4's probed BM25; the metric layer itself is
        # judgment-sized joins + per-query BIGINT gain sums
        from nlp_to_nosql_spark.functions.text import normalize_text
        from nlp_to_nosql_spark.operators.evals import ndcg_at_k
        from nlp_to_nosql_spark.operators.terms import bm25_topk

        spark = docs.sparkSession
        qrows = [
            ("q1", "fast"), ("q1", "merge"), ("q1", "join"),
            ("q2", "window"), ("q2", "filter"), ("q2", "stream"),
        ]
        qterms = spark.createDataFrame(
            qrows, schema="query_id string, token string"
        )
        results = bm25_topk(docs, qterms, "doc_id", "text", k=5)
        dt = docs.select(
            "doc_id",
            F.explode(
                F.array_distinct(F.split(normalize_text(F.col("text")), " "))
            ).alias("token"),
        )
        nterms = qterms.groupBy("query_id").agg(
            F.count(F.lit(1)).alias("nt")
        )
        qrels = (
            dt.join(qterms, "token")
            .groupBy("query_id", "doc_id")
            .agg(F.count(F.lit(1)).alias("hit"))
            .join(nterms, "query_id")
            .filter(F.col("hit") == F.col("nt"))
            .select("query_id", "doc_id")
        )
        return ndcg_at_k(results, qrels, k=5)

    def semdedup_incremental_probe(emb):
        # dedup16: the daily ingest job — fit on the corpus split
        # (k ∝ n, the semdedup cell contract), read the stored
        # assignment (recomputed lazily here, a zero-shuffle scan),
        # admit the 20 % batch against kept reps.  The full-rerun
        # O(n²/k) corpus pair term is exactly what this tier avoids.
        from nlp_to_nosql_spark.operators.semdedup import (
            assign_cells,
            micro_kmeans_fit,
            semantic_dedup_incremental,
        )

        corpus = emb.filter(F.col("vec_id") % 5 != 0)
        batch = emb.filter(F.col("vec_id") % 5 == 0)
        n = max(8, corpus.count() // 250)
        cents = micro_kmeans_fit(corpus, n, iters=2, seed=7)
        state = assign_cells(corpus, cents).withColumn(
            "kept", F.lit(True)
        )
        return semantic_dedup_incremental(
            batch, state, cents, threshold=0.4, compare_to="kept"
        )

    def ppl_buckets_probe(docs):
        # lm3: lm2's scoring plan + a per-language NTILE over the
        # one-row-per-doc score frame
        from nlp_to_nosql_spark.operators.curation import ppl_buckets

        pred = F.col("lang") == "en"
        return ppl_buckets(
            docs.filter(~pred.eqNullSafe(F.lit(True))),
            docs.filter(pred.eqNullSafe(F.lit(True))),
            "lang",
            n_buckets=3,
        )

    def score_corr_probe(docs):
        # eval6: two LM scorers joined one-row-per-doc, two rank windows
        from nlp_to_nosql_spark.operators.curation import (
            bigram_likelihood,
            target_lm_score,
        )
        from nlp_to_nosql_spark.operators.evals import rank_correlation

        pred = F.col("lang") == "en"
        pool = docs.filter(~pred.eqNullSafe(F.lit(True)))
        target = docs.filter(pred.eqNullSafe(F.lit(True)))
        scores = (
            target_lm_score(pool, target)
            .select("doc_id", F.col("mean_lp_micro").alias("s_target"))
            .join(
                bigram_likelihood(docs).select(
                    "doc_id",
                    F.col("mean_cond_prob_micro").alias("s_self"),
                ),
                "doc_id",
            )
            .join(docs.select("doc_id", "lang"), "doc_id")
        )
        return rank_correlation(scores, "s_self", "s_target", group_col="lang")

    def decontaminate_probe(docs):
        # dc2: eval gram set broadcast, training corpus scan-side only
        from nlp_to_nosql_spark.operators.dedup import ngram_decontaminate

        ev = F.col("doc_id") % 97 == 0
        return ngram_decontaminate(docs.filter(~ev), docs.filter(ev), k=13)

    def ccnet_probe(docs):
        # pipe7: lm2 score -> lm3 tertiles -> keep head+middle -> exact
        # dedup -> 64/16 chunks
        from nlp_to_nosql_spark.operators.curation import (
            chunk_by_tokens,
            ppl_buckets,
        )

        pred = F.col("lang") == "en"
        buckets = ppl_buckets(
            docs.filter(~pred.eqNullSafe(F.lit(True))),
            docs.filter(pred.eqNullSafe(F.lit(True))),
            "lang",
            n_buckets=3,
        )
        keep_ids = buckets.filter(F.col("ppl_bucket") <= 2).select("doc_id")
        kept = docs.join(keep_ids, "doc_id")
        rep = kept.groupBy(fingerprint(F.col("text")).alias("_fp")).agg(
            F.min("doc_id").alias("doc_id")
        )
        deduped = docs.join(rep.select("doc_id"), "doc_id")
        return chunk_by_tokens(
            deduped, "doc_id", "text", chunk_tokens=64, overlap=16
        )

    def probes(docs, events, emb):
        all_probes = _all_probes(docs, events, emb)
        if only:
            unknown = only - set(all_probes)
            if unknown:
                raise SystemExit(f"unknown probes: {sorted(unknown)}")
            return {k: v for k, v in all_probes.items() if k in only}
        return all_probes

    def _all_probes(docs, events, emb):
        return {
            "pq_fit_and_encode": lambda: pq_probe(emb),
            "cdc_latest_wins": lambda: latest_wins(
                events,
                ["user_id", "event_type"],
                ["ts", "event_id"],
                ["value"],
            ),
            "funnel_stages": lambda: funnel_stages(events),
            "ann_bruteforce_topk": lambda: topk_bruteforce(
                emb, query_vec, k=10
            ),
            "ann_ivf_fit_and_topk": lambda: ivf_probe(emb),
            "dedup1_exact": lambda: dd.dedup_exact(docs, "doc_id", "text"),
            "dedup2_jaccard_pairs": lambda: dd.ngram_jaccard_pairs(
                docs, "doc_id", "text", k=3, threshold=0.2
            ),
            "dedup10_minhash_md5": lambda: dd.minhash_lsh_pairs(
                docs,
                "doc_id",
                "text",
                threshold=0.3,
            ),
            "dedup11_winnowed": lambda: dd.winnowed_duplicated_spans(
                docs, "doc_id", "text"
            ),
            "quality1_repetition": lambda: repetition_signals(docs),
            "sess_sessionize": lambda: sessionize(
                events, user_col="user_id", ts_col="ts", gap_minutes=30
            ),
            "ann2_int_srp_topk": lambda: IntSRPLSH(
                dim=len(query_vec), nbits=16, seed=42
            ).topk(emb, query_vec, k=10, max_hamming=6),
            "dedup12_keep_best": lambda: keep_best_probe(docs),
            "diff1_snapshot_diff": lambda: snapshot_diff_probe(docs),
            "dedup13_incremental": lambda: incremental_probe(docs),
            "ann12_hard_negatives": lambda: hard_negative_probe(emb),
            "sketch1_hll_registers": lambda: hll_registers(docs),
            "sketch2_cms_heavy_hitters": lambda: cms_heavy_hitters(docs),
            "split2_stratified": lambda: stratified_split(
                docs, "lang", {"train": 0.8, "val": 0.1, "test": 0.1}
            ),
            "prof5_quantiles": lambda: exact_quantiles(
                docs, "n_chars", (25, 50, 75, 90, 99), group_col="lang"
            ),
            "dedup14_semdedup": lambda: semdedup_probe(emb),
            "quality3_model_filter": lambda: hashed_linear_score(
                docs, n_buckets=1024, scale=1000
            ),
            "text4_bm25_topk": lambda: bm25_probe(docs),
            "fuse1_rrf_hybrid": lambda: rrf_probe(docs, emb),
            "eval5_pair_quality": lambda: pair_quality_probe(docs),
            "sel1_dsir_select": lambda: dsir_select(
                docs, F.col("lang") == "en", n_buckets=4096, k=100
            ),
            "sel2_dsir_per_source": lambda: dsir_select_by(
                docs, F.col("lang") == "en", "source",
                n_buckets=4096, k_per_group=10,
            ),
            "tok3_bpe_pairs": lambda: bpe_merge_pairs(docs, top_n=50),
            "sel3_dsir_gumbel": lambda: dsir_select_gumbel(
                docs, F.col("lang") == "en", n_buckets=4096, k=100, seed=7
            ),
            "tok4_bpe_train": lambda: bpe_train_probe(docs, 4),
            "tok5_bpe_encode": lambda: bpe_encode_probe(docs),
            "dedup15_semdedup_fitted": lambda: semdedup_fitted_probe(emb),
            "pipe6_bpe_pack": lambda: bpe_pack_probe(docs),
            # production merge count: n_merges=1000 ≫ the 4-merge
            # contract; the rotated copies give the big corpus a ~26×
            # vocabulary, so the driver-side loop has real work
            "tok_bpe_train_1k": lambda: bpe_train_probe(docs, 1000),
            "lm2_target_ppl": lambda: target_lm_probe(docs),
            "lm3_ppl_buckets": lambda: ppl_buckets_probe(docs),
            "eval6_score_correlation": lambda: score_corr_probe(docs),
            "dc2_ngram_decontamination": lambda: decontaminate_probe(docs),
            "pipe7_ccnet_curation": lambda: ccnet_probe(docs),
            "dedup16_semdedup_incremental": lambda: (
                semdedup_incremental_probe(emb)
            ),
            "sketch3_hll_ndv_by_lang": lambda: hll_ndv_by(
                tokens_by(docs, ["lang"]), ["lang"], "tok", m=64
            ),
            "sketch5_cms_heavy_by_lang": lambda: cms_heavy_hitters_by(
                docs, ["lang"], top_n=10
            ),
            "langid1_nb_charngram": lambda: __import__(
                "nlp_to_nosql_spark.operators.classify", fromlist=["x"]
            ).nb_charngram_langid(docs, n=3, seed=11),
            "ann13_knn_graph": lambda: __import__(
                "nlp_to_nosql_spark.operators.similarity", fromlist=["x"]
            ).knn_graph(emb, k=5),
            "tok7_unigram_viterbi": lambda: __import__(
                "nlp_to_nosql_spark.operators.selection", fromlist=["x"]
            ).unigram_viterbi(docs, max_piece_len=4, min_count=2),
            "sketch6_kmv_overlap": lambda: (lambda sk: __import__(
                "nlp_to_nosql_spark.operators.sketch", fromlist=["x"]
            ).kmv_jaccard_pairs(sk, "lang", k=64))(__import__(
                "nlp_to_nosql_spark.operators.sketch", fromlist=["x"]
            ).kmv_by(docs, ["lang"], "text", k=64)),
            "mix3_unimax": lambda: __import__(
                "nlp_to_nosql_spark.operators.curation", fromlist=["x"]
            ).unimax_allocation(docs, "lang", budget=200000, max_epochs=1),
            "pipe8_langid_unimax": lambda: (lambda cls, cur: (
                lambda keep: cur.unimax_allocation(
                    keep, "source", budget=2000, max_epochs=1
                ))(
                docs.join(
                    cls.nb_charngram_langid(docs, n=3, seed=11)
                    .filter(F.col("pred_lang") == "en")
                    .select("doc_id"),
                    "doc_id",
                )
            ))(
                __import__(
                    "nlp_to_nosql_spark.operators.classify", fromlist=["x"]
                ),
                __import__(
                    "nlp_to_nosql_spark.operators.curation", fromlist=["x"]
                ),
            ),
            "pipe9_unigram_pack": lambda: (lambda sel, pk: pk.pack_by_token_budget(
                sel.unigram_encode_len(docs), "doc_id", "n_tokens", 5000
            ))(
                __import__(
                    "nlp_to_nosql_spark.operators.selection", fromlist=["x"]
                ),
                __import__(
                    "nlp_to_nosql_spark.operators.packing", fromlist=["x"]
                ),
            ),
            "quality5_filter_attribution": lambda: __import__(
                "nlp_to_nosql_spark.operators.curation", fromlist=["x"]
            ).filter_attribution(docs, F.col("lang") == "en"),
            "eval7_knn_label_eval": lambda: __import__(
                "nlp_to_nosql_spark.operators.evals", fromlist=["x"]
            ).knn_label_eval(emb, k=5),
            "eval2_classifier_metrics": lambda: classification_metrics(
                hashed_linear_score(docs, n_buckets=1024, scale=1000)
                .select("doc_id", F.col("keep").alias("pred"))
                .join(docs.select("doc_id", "lang"), "doc_id"),
                docs.select(
                    "doc_id",
                    ((F.col("n_chars") >= 150) & (F.col("n_chars") <= 2000))
                    .alias("label"),
                ),
                group_cols=["lang"],
            ),
            # round-12 additions + the round-11 unprobed tail
            "lm5_kneser_ney": lambda: kneser_ney_probe(docs),
            "lm7_sampled_tertiles": lambda: (lambda cur: (
                lambda pred: cur.ppl_buckets_sampled(
                    docs.filter(~pred.eqNullSafe(F.lit(True))),
                    docs.filter(pred.eqNullSafe(F.lit(True))),
                    "lang", rate=0.3, seed=41,
                ))(F.col("lang") == "en"))(
                __import__(
                    "nlp_to_nosql_spark.operators.curation", fromlist=["x"]
                )
            ),
            "dedup19_paragraph_dedup": lambda: paragraph_dedup_probe(docs),
            "dc3_exact_substring": lambda: dc3_probe(docs),
            "dc4_longest_shared_span": lambda: (lambda cur: (
                lambda ev: cur.longest_shared_span(
                    docs.filter(~ev), docs.filter(ev), k=3
                ))(F.col("doc_id") % 97 == 0))(
                __import__(
                    "nlp_to_nosql_spark.operators.curation", fromlist=["x"]
                )
            ),
            "pipe10_ccnet_paragraph": lambda: pipe10_probe(docs),
            "tok8_unigram_train": lambda: tok8_probe(docs),
            "pipe11_trained_pack": lambda: (lambda sel, pk, tmp: (
                sel.unigram_save(
                    sel.unigram_train(
                        docs, max_piece_len=4, min_count=2, n_iters=2,
                        max_pieces=25,
                    ),
                    tmp,
                ),
                pk.pack_by_token_budget(
                    sel.unigram_encode_len_artifact(
                        docs, tmp, max_piece_len=4
                    ),
                    "doc_id", "n_tokens", 5000,
                ),
            )[1])(
                __import__(
                    "nlp_to_nosql_spark.operators.selection", fromlist=["x"]
                ),
                __import__(
                    "nlp_to_nosql_spark.operators.packing", fromlist=["x"]
                ),
                __import__("tempfile").mkdtemp(prefix="probe_uni_"),
            ),
            "eval8_cluster_purity": lambda: cluster_purity_probe(emb),
            "eval9_ndcg": lambda: ndcg_probe(docs),
            "sel4_kcenter": lambda: __import__(
                "nlp_to_nosql_spark.operators.selection", fromlist=["x"]
            ).kcenter_select(emb, k=4),
            "mm6_aspect_buckets": lambda: __import__(
                "nlp_to_nosql_spark.operators.multimodal", fromlist=["x"]
            ).aspect_bucket_plan(
                docs.select(
                    F.col("doc_id").alias("media_id"),
                    F.lit("image").alias("kind"),
                    F.struct(
                        (F.lit(256) + (F.col("doc_id") * 37) % 1024)
                        .cast("int").alias("width"),
                        (F.lit(256) + (F.col("doc_id") * 101) % 1024)
                        .cast("int").alias("height"),
                    ).alias("meta"),
                )
            ),
            "prof6_zipf_slope": lambda: __import__(
                "nlp_to_nosql_spark.operators.terms", fromlist=["x"]
            ).zipf_slope(docs),
            # round-13 additions
            "ann14_knn_graph_celled": lambda: __import__(
                "nlp_to_nosql_spark.operators.similarity", fromlist=["x"]
            ).knn_graph_celled(emb, n_cells=8, k=5),
            "eval10_knn_eval_celled": lambda: __import__(
                "nlp_to_nosql_spark.operators.evals", fromlist=["x"]
            ).knn_label_eval_celled(emb, n_cells=8, k=5),
            "dedup20_paragraph_neardup": lambda: __import__(
                "nlp_to_nosql_spark.operators.dedup", fromlist=["x"]
            ).paragraph_neardup(_mldocs(docs), "doc_id", "text"),
            "eval11_paragraph_dedup_quality": lambda: (lambda ddp, ev: (
                lambda reps: ev.pair_set_quality(
                    ddp.minhash_lsh_pairs(
                        reps, "para_key", "para_text", k=3, num_perm=32,
                        bands=8, threshold=0.5,
                    ),
                    ddp.ngram_jaccard_pairs(
                        reps, "para_key", "para_text", k=3, threshold=0.5
                    ),
                ))(ddp.distinct_paragraphs(_mldocs(docs), "doc_id", "text"))
            )(
                __import__(
                    "nlp_to_nosql_spark.operators.dedup", fromlist=["x"]
                ),
                __import__(
                    "nlp_to_nosql_spark.operators.evals", fromlist=["x"]
                ),
            ),
            "lm6_kn_artifact": lambda: (lambda cur, tmp: (
                cur.kneser_ney_fit(
                    docs.filter(F.col("lang") == "en"), tmp
                ),
                cur.kneser_ney_score_artifact(
                    docs.filter(~(F.col("lang") == "en")
                                .eqNullSafe(F.lit(True))), tmp
                ),
            )[1])(
                __import__(
                    "nlp_to_nosql_spark.operators.curation", fromlist=["x"]
                ),
                __import__("tempfile").mkdtemp(prefix="probe_kn_"),
            ),
            # round-14 additions
            "ann14_auto_cells": lambda: __import__(
                "nlp_to_nosql_spark.operators.similarity", fromlist=["x"]
            ).knn_graph_celled(emb, n_cells="auto", k=5),
            "eval12_pair_quality_sampled": lambda: (lambda ddp, ev: (
                ev.pair_set_quality_sampled(
                    ddp.distinct_paragraphs(_mldocs(docs), "doc_id", "text"),
                    "para_key",
                    lambda s: ddp.minhash_lsh_pairs(
                        s, "para_key", "para_text", k=3, num_perm=32,
                        bands=8, threshold=0.5,
                    ),
                    lambda s: ddp.ngram_jaccard_pairs(
                        s, "para_key", "para_text", k=3, threshold=0.5
                    ),
                    rate=0.5,
                    seed=101,
                )
            ))(
                __import__(
                    "nlp_to_nosql_spark.operators.dedup", fromlist=["x"]
                ),
                __import__(
                    "nlp_to_nosql_spark.operators.evals", fromlist=["x"]
                ),
            ),
            "pack3_best_fit": lambda: (lambda pk, txf: pk.best_fit_pack(
                docs.select(
                    "doc_id", txf.token_count(F.col("text")).alias("n_tokens")
                ),
                "doc_id",
                "n_tokens",
                budget=100,
            ))(
                __import__(
                    "nlp_to_nosql_spark.operators.packing", fromlist=["x"]
                ),
                __import__(
                    "nlp_to_nosql_spark.functions.text", fromlist=["x"]
                ),
            ),
            "quality6_c4_rules": lambda: __import__(
                "nlp_to_nosql_spark.operators.curation", fromlist=["x"]
            ).c4_rules(docs, "doc_id", "text"),
        }

    # Discarded warm-up pass at 1x: JVM/codegen/Arrow warm-up otherwise
    # lands in whichever probe runs first and corrupts its 1x baseline
    # (earlier revisions showed ANN "scaling" at 0.6x for this reason).
    warm_docs = spark.read.parquet(d1p)
    warm_events = spark.read.parquet(e1p)
    warm_emb = spark.read.parquet(v1p)
    for mk in probes(warm_docs, warm_events, warm_emb).values():
        mk().write.mode("overwrite").format("noop").save()
        spark.catalog.clearCache()

    results = {}
    for scale, dp, ep, vp in (
        ("1x", d1p, e1p, v1p),
        (f"{copies}x", d10p, e10p, v10p),
    ):
        docs = spark.read.parquet(dp)
        events = spark.read.parquet(ep)
        emb = spark.read.parquet(vp)
        for name, mk in probes(docs, events, emb).items():
            t0 = time.time()
            mk().write.mode("overwrite").format("noop").save()
            results.setdefault(name, {})[scale] = round(time.time() - t0, 2)
            spark.catalog.clearCache()

    big = f"{copies}x"
    print(f"| operator | 1x (s) | {big} (s) | factor |")
    print("|---|---|---|---|")
    for name, r in results.items():
        factor = round(r[big] / max(r["1x"], 0.01), 1)
        print(f"| {name} | {r['1x']} | {r[big]} | {factor}x |")
    print(json.dumps(results))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
