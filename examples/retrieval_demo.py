"""Retrieval training-set construction — the contrastive-learning data
story composed from certified registry operators:

  corpus (documents + embeddings)
    → positives      (dedup.minhash_lsh_pairs: near-duplicate pairs —
                      the classic self-supervised positive signal)
    → hard negatives (dedup.retrieval_negative_samples: hash-ordered,
                      near-dups excluded, replay-stable)
    → training triples (query, doc, label) for a bi-encoder loss
    + hybrid retrieval sanity check (similarity.hybrid_search_rrf:
      lexical ∪ vector fused by reciprocal rank)
    + ANN recall report (similarity.ann_recall_report: is the fast
      index good enough to mine with?)

Run: python examples/retrieval_demo.py [sf_dir] (default sf0.001).
Every step is the same function the driver's correctness gate checks.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from edu_online_spark.config import EngineConfig
from edu_online_spark.operators import similarity
from edu_online_spark.operators.dedup import (
    NEG_QUERY_MOD,
    minhash_lsh_pairs,
    retrieval_negative_samples,
)
from edu_online_spark.session import get_spark
from edu_online_spark.sources import load_table


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark(EngineConfig(cpus=8))

    docs = load_table(spark, sf_dir, "documents")
    embs = load_table(spark, sf_dir, "embeddings")

    queries = docs.filter(F.col("doc_id") % NEG_QUERY_MOD == 0)
    n_queries = queries.count()

    # positives: near-dup partners of the query batch (either side)
    pairs = minhash_lsh_pairs(docs)
    pos = (
        pairs.select(F.col("doc_a").alias("query_id"), F.col("doc_b").alias("doc_id"))
        .unionByName(
            pairs.select(F.col("doc_b").alias("query_id"), F.col("doc_a").alias("doc_id"))
        )
        .filter(F.col("query_id") % NEG_QUERY_MOD == 0)
        .withColumn("label", F.lit(1))
    )
    neg = retrieval_negative_samples(docs).select(
        "query_id", F.col("negative_id").alias("doc_id"), F.lit(0).alias("label")
    )
    triples = pos.unionByName(neg)
    n_pos = pos.count()
    n_neg = neg.count()

    # retrieval sanity: hybrid lexical+vector ranking for the corpus head
    hybrid = similarity.hybrid_search_rrf(docs, embs, k=3, n_queries=2)
    top = [
        (r["qid"], r["nid"], round(r["rrf_score"], 4))
        for r in hybrid.orderBy("qid", F.desc("rrf_score"), "nid").collect()
    ]
    # the production (LSH-candidate-fed) path, certified vs the exact
    # form by a >=0.9 recall gate
    hybrid_prod = similarity.hybrid_search_rrf_lsh_certified(docs, embs).first()

    recall = similarity.ann_recall_report(embs).first().asDict()
    n_q = recall.get("n_queries", embs.count())

    # persisted-index path (round 7): build once, probe the batch —
    # must reproduce the inline IVF answers exactly
    import tempfile

    with tempfile.TemporaryDirectory() as idx:
        similarity.build_ivf_index(embs, idx)
        probed = similarity.knn_ivf_probe(
            spark, idx, embs.filter(F.col("vec_id") < 20), k=10
        )
        inline = similarity.knn_ivf(embs, k=10, n_queries=20)
        probe_matches = sorted(
            map(tuple, probed.select("qid", "nid").collect())
        ) == sorted(map(tuple, inline.select("qid", "nid").collect()))

    # round-14 tail: embedding hygiene pre-flight (norm_deciles, the
    # R15-queue op promoted this round) — a retrieval corpus whose
    # vectors are unit-normalized shows every decile pinned at ~1.0;
    # dead vectors or un-normalized imports would spread the band
    norm_rows = similarity.norm_deciles(embs).collect()
    norm_band = (
        round(min(r["d1"] for r in norm_rows), 3),
        round(max(r["d9"] for r in norm_rows), 3),
    )

    print(f"training queries:     {n_queries}")
    print(f"positive pairs:       {n_pos}")
    print(f"hard negatives:       {n_neg} "
          f"({n_neg // max(n_queries, 1)} per query, near-dups excluded)")
    print(f"training triples:     {triples.count()}")
    print(f"hybrid top-3 (q, doc, rrf): {top}")
    print(f"hybrid LSH-fed recall_ok:   {hybrid_prod['recall_ok']} "
          f"(vs exact RRF over {hybrid_prod['n_exact']} top-k rows)")
    print(f"ann recall@{recall['k']}:        {recall['recall']:.2f} "
          f"over {n_q} queries (LSH vs exact)")
    print(f"persisted IVF probe == inline: {probe_matches}")
    print(f"norm hygiene d1..d9 band:   {norm_band[0]}..{norm_band[1]} "
          f"over {len(norm_rows)} labels (unit-normalized corpus -> ~1.0)")

    # round-16 tail: ranked-quality evals over the same certified
    # brute-force ranking — NDCG@k grades the whole list, MRR@k
    # grades where the first hit lands (the retrieve-then-read
    # number). Random synthetic labels over 10 classes put ~10% of
    # the corpus in-label, so mid-range scores are the honest
    # expected reading, not a defect.
    emb = load_table(spark, sf_dir, "embeddings")
    ndcg_rows = similarity.label_ndcg(emb).collect()
    mrr_rows = similarity.label_mrr(emb).collect()
    mean_ndcg = sum(r["ndcg"] or 0.0 for r in ndcg_rows) / len(ndcg_rows)
    mean_rr = sum(r["rr"] for r in mrr_rows) / len(mrr_rows)
    hits = sum(1 for r in mrr_rows if r["first_hit_rank"] is not None)
    print(f"label NDCG@10 / MRR@10:     {mean_ndcg:.3f} / {mean_rr:.3f} "
          f"over {len(ndcg_rows)} queries ({hits} with an in-label hit "
          f"in the top 10)")


if __name__ == "__main__":
    main()
