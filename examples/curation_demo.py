"""End-to-end batch curation pipeline — the LLM-training-data story in
one script, composed entirely from registry operators:

  raw documents
    → normalization       (textops.normalize_documents: control chars,
                           whitespace runs)
    → PII scrub           (pii.pii_redact: emails/phones/IPs/ids →
                           class tokens, before anything persists)
    → quality gate        (textops.curate_documents: token floor,
                           punctuation ceiling)
    → boilerplate gate    (textops.doc_boilerplate_fraction < 50%)
    → near-dup removal    (dedup.neardup_curated: MinHash-LSH bands →
                           connected components → one survivor/cluster)
    → chunking            (textops.chunk_documents: fixed-stride token
                           windows for a training loader)
    → packing + encoding  (pack_training_sequences / encode_documents:
                           budget packs and vocab-id sequences)
    → curated corpus      written Z-ORDERED on (doc_id, n_chars) so a
                           downstream scan filtered on either prunes
    + corpus stats        (vocabulary, per-source token stats)

Run: python examples/curation_demo.py [sf_dir] (default sf0.001).
Every step is the same function the driver's correctness gate checks.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from edu_online_spark.config import EngineConfig
from edu_online_spark.operators import dedup, pii, textops
from edu_online_spark.session import get_spark
from edu_online_spark.sources import load_table
from edu_online_spark.sources.layout import write_zordered


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/edu-online-curated"
    spark = get_spark(EngineConfig(cpus=8))

    docs = load_table(spark, sf_dir, "documents")
    n_raw = docs.count()

    # normalize + scrub FIRST: every later stage (fingerprints, shingles,
    # chunks) must only ever see cleaned, redacted text
    normed = textops.normalize_documents(docs)
    scrubbed = pii.pii_redact(
        normed.select("doc_id", F.col("text_norm").alias("text"))
    )
    n_redactions = scrubbed.agg(F.sum("n_redactions")).first()[0]
    docs = docs.select("doc_id", "lang", "source").join(
        scrubbed.select("doc_id", F.col("text_clean").alias("text")), "doc_id"
    ).withColumn("n_chars", F.length("text"))

    # curate_documents returns (doc_id, lang, n_tokens) — join the ids
    # back to recover full rows for the downstream text-bearing stages
    quality_ids = textops.curate_documents(docs).select("doc_id")
    n_quality = quality_ids.count()

    bp = textops.doc_boilerplate_fraction(docs)
    clean_ids = bp.filter(F.col("boilerplate_frac") < 0.5).select("doc_id")
    gated = docs.join(quality_ids, "doc_id").join(clean_ids, "doc_id")
    n_gated = gated.count()

    # round-4 session stage: Gopher-style rule gate with per-rule
    # audit — report WHY documents fall, then keep the passers
    gopher = textops.gopher_quality_rules(gated)
    reasons = {
        r["drop_reason"]: r["n"]
        for r in gopher.filter(~F.col("keep"))
        .groupBy("drop_reason")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    gated = gated.join(gopher.filter(F.col("keep")).select("doc_id"), "doc_id")
    n_gopher = gated.count()

    # round-4 stage: bigram-LM perplexity gate (CCNet-style) — drop the
    # worst-NLL tail (95th percentile cut on this synthetic corpus)
    nll = textops.lm_perplexity_scores(gated)
    cut = nll.agg(
        F.expr("percentile(avg_nll, 0.95)").alias("c")
    ).first()["c"]
    lm_ids = nll.filter(F.col("avg_nll") <= cut).select("doc_id")
    lm_gated = gated.join(lm_ids, "doc_id")
    n_lm = lm_gated.count()

    # neardup_curated projects to (doc_id, source, lang); join the
    # surviving ids back for the text-bearing chunking stage
    survivors = dedup.neardup_curated(lm_gated).select("doc_id")
    curated = lm_gated.join(survivors, "doc_id")
    n_curated = curated.count()

    chunks = textops.chunk_documents(curated)
    n_chunks = chunks.count()

    # loader-facing tail: fixed-budget packs + vocab-encoded sequences
    n_packs = textops.pack_training_sequences(curated).count()
    n_encoded = textops.encode_documents(curated).count()

    write_zordered(
        curated.select("doc_id", "text", "lang", "source", "n_chars"),
        out,
        "doc_id",
        "n_chars",
        num_files=4,
    )

    vocab = textops.vocabulary_topk(curated, k=10).collect()

    # round-4 session tail: the release deliverables — per-source
    # dataset card over the curated corpus + the CMS frequency sketch
    card = {
        r["source"]: r
        for r in textops.corpus_dataset_card(curated).collect()
    }
    from edu_online_spark.operators import sketches

    cms = sketches.token_countmin(curated).collect()
    n_collided = sum(1 for r in cms if r["overestimate"] > 0)

    # round-4 tail: BPE vocabulary induction on the curated corpus +
    # encode (merge loop runs on the word-frequency table, not docs)
    from edu_online_spark.operators import bpe

    merges = bpe.train_bpe_merges(curated, n_merges=12)
    bpe_stats = (
        bpe.bpe_encode(curated, merges)
        .agg(F.sum("n_tokens").alias("t"), F.sum("n_words").alias("w"))
        .first()
    )

    print(f"raw documents:        {n_raw}")
    print(f"pii redactions:       {n_redactions}")
    print(f"after quality gate:   {n_quality}")
    print(f"after boilerplate:    {n_gated}")
    print(f"after gopher rules:   {n_gopher} (dropped: "
          + ", ".join(f"{k}={v}" for k, v in sorted(reasons.items())) + ")")
    print(f"after LM perplexity:  {n_lm}")
    print(f"after near-dup:       {n_curated}")
    print(f"training chunks:      {n_chunks}")
    print(f"packed sequences:     {n_packs}")
    print(f"encoded documents:    {n_encoded}")
    print(f"curated corpus:       {out} (z-ordered, "
          f"{len(os.listdir(out))} entries)")
    print("top tokens:", [(r['token'], r['cnt']) for r in vocab[:5]])
    print(f"bpe merges:           {len(merges)} learned; "
          f"{bpe_stats['t']} tokens / {bpe_stats['w']} words "
          f"({bpe_stats['t'] / bpe_stats['w']:.2f} tokens/word)")
    print("dataset card:         "
          + "; ".join(
              f"{s}: {c['n_docs']} docs, {c['total_tokens']} tok, "
              f"top_lang={c['top_lang']}, dup={c['exact_dup_rate']:.2f}"
              for s, c in sorted(card.items())[:2]
          )
          + f" (+{max(len(card) - 2, 0)} more sources)")
    print(f"countmin sketch:      {len(cms)} probes, "
          f"{n_collided} collided (4x16 cells)")

    # round-6 tail: per-source token quota, then the deterministic
    # epoch layout cut into training shards with manifest checksums
    from edu_online_spark.operators.textops import (
        shard_manifest,
        token_budget_cap,
    )

    capped = token_budget_cap(curated, budget=800)
    n_capped = capped.filter(F.col("kept")).count()
    man = sorted(
        shard_manifest(
            curated.join(
                capped.filter(F.col("kept")).select("doc_id"), "doc_id"
            ),
            shard_tokens=512,
        ).collect(),
        key=lambda r: r["shard_id"],
    )
    print(f"after token budget:   {n_capped} docs "
          f"(800 tok/source quota)")
    print(f"training shards:      {len(man)} shards of ~512 tok; "
          f"masses {[r['shard_token_mass'] for r in man[:6]]}...; "
          f"xor checksums stable")

    # round-10 tail: duplication diagnostics — what dedup will yield
    # BEFORE paying for it (per-source inflation, threshold curve,
    # cluster size histogram)
    from edu_online_spark.operators.dedup import (
        cluster_size_profile,
        dup_inflation,
        minhash_lsh_pairs,
        threshold_yield_curve,
    )

    raw_docs = load_table(spark, sf_dir, "documents")
    # one LSH pass feeds both the yield curve and the cluster profile
    shared_pairs = minhash_lsh_pairs(raw_docs).localCheckpoint(eager=True)
    infl = sorted(
        dup_inflation(raw_docs).collect(), key=lambda r: -r["inflation"]
    )
    print(
        "dup inflation:        "
        + "; ".join(
            f"{r['source']} {r['inflation']:.2f}x"
            f" ({r['dup_tokens']} dup tok)" for r in infl[:3]
        )
    )
    curve = sorted(
        threshold_yield_curve(raw_docs, pairs=shared_pairs).collect(), key=lambda r: r["threshold"]
    )
    print(
        "dedup yield curve:    "
        + "; ".join(
            f"j>={r['threshold']:.1f}: {r['n_pairs']}p/{r['n_docs']}d"
            for r in curve
        )
    )
    prof = sorted(
        cluster_size_profile(raw_docs, pairs=shared_pairs).collect(), key=lambda r: r["cluster_size"]
    )
    print(
        "cluster profile:      "
        + "; ".join(
            f"size {r['cluster_size']}: {r['n_clusters']} clusters"
            for r in prof
        )
        + f"; {sum(r['n_dup_docs'] for r in prof)} redundant docs"
    )

    # round-11 tail: the same shared pairs pass also feeds the
    # survivorship cost report and the cross-lingual cluster probe
    # (four consumers, ONE LSH pass — the composed-diagnostics path
    # BASELINE.md quantifies)
    from edu_online_spark.operators.dedup import (
        cluster_lang_purity,
        near_dup_clusters,
        savings_by_source,
    )

    shared_clusters = near_dup_clusters(shared_pairs).localCheckpoint(
        eager=True
    )
    sav = sorted(
        savings_by_source(raw_docs, clusters=shared_clusters).collect(),
        key=lambda r: -r["chars_removed"],
    )
    print(
        "dedup savings:        "
        + "; ".join(
            f"{r['source']} -{r['n_redundant']}d/-{r['chars_removed']}ch"
            f" ({r['savings_ratio']:.4f})" for r in sav[:3]
        )
    )
    pur = cluster_lang_purity(raw_docs, clusters=shared_clusters).collect()
    n_cross = sum(1 for r in pur if r["cross_lang"])
    print(
        f"cluster lang purity:  {len(pur)} clusters, {n_cross} cross-lang; "
        + "; ".join(
            f"rep {r['cluster_rep']}: {r['n_langs']} langs"
            f" top={r['top_lang']}@{r['top_lang_share']:.2f}"
            for r in sorted(pur, key=lambda r: (-r["n_langs"], r["cluster_rep"]))[:2]
        )
    )
    # round-13 tail: the SIXTH consumer of the same pairs pass — the
    # near-dup graph's degree spectrum (clique vs star structure)
    from edu_online_spark.operators.dedup import pair_degree_spectrum

    spec = sorted(
        pair_degree_spectrum(raw_docs, pairs=shared_pairs).collect(),
        key=lambda r: r["degree"],
    )
    print(
        "pair degree spectrum: "
        + "; ".join(
            f"deg {r['degree']}: {r['n_docs']}d ({r['share']:.3f})"
            for r in spec
        )
    )
    # round-13 tail (second session): the SEVENTH consumer — the
    # triangle census answers clique-vs-chain for the whole graph
    # (transitivity 1.0 here: every family is a clique, so
    # representative-collapse is the safe remediation)
    from edu_online_spark.operators.dedup import pair_transitivity

    tr = pair_transitivity(raw_docs, pairs=shared_pairs).first()
    print(
        f"pair transitivity: edges={tr['n_edges']} "
        f"wedges={tr['n_wedges']} triangles={tr['n_triangles']} "
        + (
            f"3T/W={tr['transitivity']:.3f}"
            if tr["transitivity"] is not None
            else "3T/W=n/a"
        )
    )


if __name__ == "__main__":
    main()
