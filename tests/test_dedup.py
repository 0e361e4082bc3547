"""Dedup operators on planted duplicates: exact recall for the planted
pairs, LSH candidates ⊇ true near-dups, SimHash catches token-identical
variants."""

from __future__ import annotations

from pyspark.sql import functions as F

from edu_online_spark.operators.dedup import (
    exact_dedup,
    embedding_neardup_pairs,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)

BASE = (
    "spark shuffles data between stages when aggregation keys change "
    "and broadcast joins avoid moving the large fact table at all"
)


def _docs(spark):
    rows = [
        (0, BASE),
        (1, BASE),  # exact dup of 0
        (2, BASE.replace("large", "huge")),  # near dup of 0
        (3, "completely different words about cooking pasta tonight ok"),
        (4, "the quick brown fox jumps over the lazy dog again today"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup_keeps_min_id(spark):
    out = {r["doc_id"]: r["dup_cnt"] for r in exact_dedup(_docs(spark)).collect()}
    assert out[0] == 2  # docs 0+1 collapse, min id kept
    assert 1 not in out
    assert out[3] == 1 and out[4] == 1


def test_ngram_and_minhash_agree_on_planted_pairs(spark):
    docs = _docs(spark)
    exact = {
        (r["doc_a"], r["doc_b"]) for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    lsh = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_pairs(docs, threshold=0.5).collect()
    }
    assert (0, 1) in exact and (0, 2) in exact and (1, 2) in exact
    assert lsh == exact  # high-similarity pairs: LSH recall 1, verify kills FPs


def test_minhash_recall_on_corpus(spark, sf_dir):
    """The sf corpus plants near-dups at j≈0.9+; banded LSH must find
    every pair the exact operator finds."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    exact = {(r["doc_a"], r["doc_b"]) for r in ngram_jaccard_pairs(docs).collect()}
    lsh = {(r["doc_a"], r["doc_b"]) for r in minhash_lsh_pairs(docs).collect()}
    assert lsh == exact


def test_simhash_finds_near_identical(spark):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_pairs(_docs(spark)).collect()
    }
    assert pairs[(0, 1)] == 0  # identical text → identical fingerprint
    assert (0, 2) in pairs  # one-word swap stays within hamming 3


def test_embedding_neardup_threshold(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.99, 0.1, 0.0]),  # near 0
        (2, [0.0, 1.0, 0.0]),  # orthogonal
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = {(r["vec_a"], r["vec_b"]) for r in embedding_neardup_pairs(df, 0.9).collect()}
    assert out == {(0, 1)}


def test_all_pairs_guard_raises_on_big_corpus(spark):
    """The O(n²) baselines must refuse corpus-sized inputs."""
    import pytest
    from pyspark.sql import functions as F

    from edu_online_spark.operators.dedup import (
        ALL_PAIRS_MAX_ROWS,
        embedding_neardup_pairs,
    )

    big = spark.range(ALL_PAIRS_MAX_ROWS + 1).select(
        F.col("id").alias("vec_id"), F.array(F.lit(1.0)).alias("embedding")
    )
    with pytest.raises(ValueError, match="all-pairs baseline"):
        embedding_neardup_pairs(big)


def test_text_knn_minhash_finds_planted_neighbor(spark):
    """A near-duplicate pair must rank each other as top-1 neighbor
    with the exact Jaccard score; unrelated docs must not outrank it."""
    from edu_online_spark.operators.dedup import text_knn_minhash

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base + " extra"),  # near-dup of 1
            (3, "completely different words nothing shared here at all ok"),
            (4, base.replace("alpha", "omega")),  # still close to 1
        ],
        ["doc_id", "text"],
    )
    out = text_knn_minhash(docs, k=2).collect()
    top = {
        r["doc_id"]: r["neighbor_id"] for r in out if r["rank"] == 1
    }
    assert top[1] == 2 and top[2] == 1
    scores = {(r["doc_id"], r["neighbor_id"]): r["jaccard"] for r in out}
    assert scores[(1, 2)] > 0.8
    # the unrelated doc shares no shingles: it may simply have no
    # neighbors (no band collisions), never a high-score edge
    assert all(s < 0.5 for (a, b), s in scores.items() if a == 3 or b == 3)


def test_containment_detects_excerpt(spark):
    """A document fully contained in a larger one must score 1.0 in the
    contained->container direction even though symmetric Jaccard is
    low; the reverse direction must NOT pass the threshold."""
    from edu_online_spark.operators.dedup import containment_pairs

    small = "alpha beta gamma delta epsilon"
    big = small + " " + " ".join(f"w{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(1, small), (2, big), (3, "unrelated text having no overlap at all")],
        ["doc_id", "text"],
    )
    out = {(r["doc_a"], r["doc_b"]): r["containment"] for r in
           containment_pairs(docs).collect()}
    assert out[(1, 2)] == 1.0
    assert (2, 1) not in out  # big is not contained in small
    assert not any(3 in k for k in out)


def test_cross_corpus_finds_only_cross_side_pairs(spark):
    """Incremental dedup must surface new↔corpus near-dups and NOTHING
    internal to either side: the corpus holds its own near-dup pair
    (20, 21) which must not appear, and the unique new doc matches
    nothing."""
    from edu_online_spark.operators.dedup import cross_corpus_minhash_pairs

    corpus = spark.createDataFrame(
        [
            (20, BASE),
            (21, BASE.replace("large", "huge")),  # corpus-internal near dup
            (22, "the quick brown fox jumps over the lazy dog again today"),
        ],
        ["doc_id", "text"],
    )
    new = spark.createDataFrame(
        [
            (30, BASE.replace("stages", "phases")),  # near dup of corpus 20/21
            (31, "completely different words about cooking pasta tonight ok"),
        ],
        ["doc_id", "text"],
    )
    pairs = {
        (r["new_id"], r["corpus_id"])
        for r in cross_corpus_minhash_pairs(new, corpus).collect()
    }
    assert (30, 20) in pairs
    assert all(n == 30 for n, _ in pairs), pairs  # 31 matches nothing
    assert (20, 21) not in pairs and (21, 20) not in pairs


def test_semantic_dedup_keep_clusters_and_singletons(spark):
    from edu_online_spark.operators.dedup import semantic_dedup_keep

    # v1 ≈ v2 (same direction, different scale) form a cluster; v3 is
    # orthogonal to both -> singleton. Cosine is scale-invariant so the
    # planted pair sits at cosine 1.0 regardless of magnitudes.
    rows = [
        (1, [1.0, 0.0, 1.0, 0.0]),
        (2, [2.0, 0.0, 2.0, 0.0]),
        (3, [0.0, 1.0, 0.0, -1.0]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = {
        r["vec_id"]: (r["cluster_rep"], r["kept"])
        for r in semantic_dedup_keep(df, threshold=0.9).collect()
    }
    assert got == {1: (1, True), 2: (1, False), 3: (3, True)}


def test_negative_samples_exclude_near_dups_and_are_stable(spark):
    """Negatives never include the query itself or its near-duplicates,
    exactly k per query, and the selection is partitioning-invariant
    (hash order, not rand)."""
    from pyspark.sql import functions as F

    from edu_online_spark.operators.dedup import (
        minhash_lsh_pairs,
        retrieval_negative_samples,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(
        # doc 0 and 3 are near-identical -> 3 must not be 0's negative
        [(0, base), (3, base + " iota")]
        + [(i, f"doc {i} " + " ".join(f"w{i}{j}" for j in range(8)))
           for i in range(4, 20)],
        ["doc_id", "text"],
    )
    out = retrieval_negative_samples(docs, k=5).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], set()).add(r["negative_id"])
    assert set(by_q) == {0}  # only doc 0 is a query (id % 50 == 0)
    assert len(by_q[0]) == 5
    assert 0 not in by_q[0]
    near = {
        r["doc_b"] for r in minhash_lsh_pairs(docs).collect() if r["doc_a"] == 0
    } | {r["doc_a"] for r in minhash_lsh_pairs(docs).collect() if r["doc_b"] == 0}
    assert 3 in near  # the planted near-dup is detected...
    assert not (by_q[0] & near)  # ...and excluded from the negatives
    again = {
        r["negative_id"]
        for r in retrieval_negative_samples(docs.repartition(7), k=5).collect()
    }
    assert again == by_q[0]


def test_substring_dedup_masks_shared_passage(spark):
    """Two otherwise-distinct docs share a verbatim 20-token passage:
    exact substring dedup must remove the passage from BOTH (document
    near-dup dedup would keep both docs untouched — their overall
    Jaccard is low), leave unique text intact, and leave a doc with no
    repeated span untouched."""
    from edu_online_spark.operators.dedup import (
        repeated_spans,
        substring_dedup,
    )

    shared = " ".join(f"lic{i}" for i in range(20))  # 20-token passage
    a_unique = " ".join(f"alpha{i}" for i in range(10))
    b_unique = " ".join(f"beta{i}" for i in range(12))
    c_text = " ".join(f"gamma{i}" for i in range(25))
    docs = spark.createDataFrame(
        [
            (0, a_unique + " " + shared),
            (1, shared + " " + b_unique),
            (2, c_text),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in substring_dedup(docs).collect()}
    assert out[0]["text_deduped"] == a_unique
    assert out[0]["n_removed"] == 20 and out[0]["n_tokens"] == 30
    assert out[1]["text_deduped"] == b_unique
    assert out[1]["n_removed"] == 20
    assert out[2]["text_deduped"] == c_text and out[2]["n_removed"] == 0
    # the span inventory sees the passage (overlapping windows: a
    # 20-token passage has 6 repeated 15-token windows)
    spans = repeated_spans(docs).collect()
    assert len(spans) == 6
    assert all(r["n_docs"] == 2 for r in spans)


def test_substring_dedup_fully_covered_doc_survives_empty(spark):
    """An exact duplicate pair is fully covered - both must surface
    with empty text_deduped, not vanish."""
    from edu_online_spark.operators.dedup import substring_dedup

    t = " ".join(f"w{i}" for i in range(18))
    docs = spark.createDataFrame([(0, t), (1, t)], ["doc_id", "text"])
    out = {r["doc_id"]: r for r in substring_dedup(docs).collect()}
    assert set(out) == {0, 1}
    for r in out.values():
        assert r["text_deduped"] == "" and r["n_removed"] == 18


def test_cross_corpus_substring_dedup_masks_only_corpus_spans(spark):
    """Incremental masking: a new-batch passage already in the corpus
    is removed; a passage repeated only WITHIN the new batch is NOT
    (that's the batch-internal operator's job)."""
    from edu_online_spark.operators.dedup import cross_corpus_substring_dedup

    corpus_passage = " ".join(f"lic{i}" for i in range(18))
    batch_passage = " ".join(f"tmpl{i}" for i in range(18))
    a_unique = " ".join(f"alpha{i}" for i in range(8))
    new = spark.createDataFrame(
        [
            (0, a_unique + " " + corpus_passage),   # masked (in corpus)
            (10, batch_passage),                    # batch-internal dup:
            (20, batch_passage),                    # NOT masked here
        ],
        ["doc_id", "text"],
    )
    corpus = spark.createDataFrame(
        [(1, corpus_passage + " " + " ".join(f"c{i}" for i in range(9)))],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in cross_corpus_substring_dedup(new, corpus).collect()}
    assert out[0]["text_deduped"] == a_unique and out[0]["n_removed"] == 18
    assert out[10]["n_removed"] == 0 and out[10]["text_deduped"] == batch_passage
    assert out[20]["n_removed"] == 0


def test_leakage_safe_split_keeps_clusters_together(spark):
    """Near-dup cluster members must land in the SAME split (keyed on
    the rep), and singletons must keep the plain per-doc assignment."""
    from edu_online_spark.operators.dedup import leakage_safe_split

    base = (
        "spark shuffles data between stages when keys change and joins "
        "move rows across the cluster network every time"
    )
    docs = spark.createDataFrame(
        [
            (0, base),
            (1, base.replace("rows", "tuples")),   # near-dup of 0
            (2, base.replace("keys", "values")),   # near-dup of 0
            (3, "completely different cooking pasta recipe tonight ok"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in leakage_safe_split(docs).collect()}
    assert {out[i]["split_key"] for i in (0, 1, 2)} == {0}  # rep-keyed
    assert len({out[i]["split"] for i in (0, 1, 2)}) == 1   # same split
    assert out[3]["split_key"] == 3                         # singleton


def test_memorization_risk_flags_repeated_passage(spark):
    """Docs sharing a 15-token passage get risk > 0 proportional to the
    share of their spans that are corpus-repeated; a fresh doc gets 0."""
    from edu_online_spark.operators.dedup import memorization_risk

    passage = " ".join(f"p{i}" for i in range(15))
    rows = [
        (1, passage + " unique1 tail1"),
        (2, "head2 " + passage),
        (3, " ".join(f"fresh{i}" for i in range(20))),
        (4, "short doc"),  # < 15 tokens → zero spans, risk 0
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in memorization_risk(docs).collect()}
    assert out[1]["n_repeated_spans"] == 1  # exactly the shared window
    assert out[2]["n_repeated_spans"] == 1
    assert 0 < out[1]["memorization_risk"] < 1
    assert out[3]["n_repeated_spans"] == 0
    assert out[3]["memorization_risk"] == 0.0
    assert out[4]["n_spans"] == 0 and out[4]["memorization_risk"] == 0.0


def test_split_leakage_compare_safe_split_never_leaks(spark):
    """Planted near-dup cluster: the plain split must be able to leak,
    the leakage-safe split must report zero cross-split pairs, and the
    doc totals must cover the corpus under both methods."""
    from edu_online_spark.operators.dedup import split_leakage_compare

    base = " ".join(f"tok{i}" for i in range(30))
    rows = [(i, base + f" v{i}") for i in range(6)]  # one big near-dup cluster
    rows += [(100 + i, " ".join(f"u{i}_{j}" for j in range(25))) for i in range(20)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["method"]: r for r in split_leakage_compare(docs).collect()}
    assert set(out) == {"plain", "leakage_safe"}
    assert out["leakage_safe"]["n_cross_split_pairs"] == 0
    n = len(rows)
    for m in out.values():
        assert m["n_train"] + m["n_val"] + m["n_test"] == n
    # the cluster was actually found
    assert out["plain"]["n_clustered_docs"] >= 6


def test_source_dup_matrix_counts_and_grid(spark):
    """Planted cross-source duplication: sources a/b share texts
    (with multiplicity — dup_pairs is the product count), a/c share
    nothing (the zero row must still appear), and text_jaccard is the
    distinct-text set Jaccard."""
    from edu_online_spark.operators.dedup import source_dup_matrix

    rows = [
        (1, "shared one", "a"), (2, "shared one", "a"),  # twice in a
        (3, "shared one", "b"),                          # once in b → 2 pairs
        (4, "shared two", "a"), (5, "shared two", "b"),  # 1 pair
        (6, "only in a", "a"),
        (7, "only in b", "b"),
        (8, "only in c", "c"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    out = {(r["source_a"], r["source_b"]): r
           for r in source_dup_matrix(docs).collect()}
    assert set(out) == {("a", "b"), ("a", "c"), ("b", "c")}
    ab = out[("a", "b")]
    assert ab["shared_texts"] == 2 and ab["dup_pairs"] == 3
    assert ab["docs_a"] == 4 and ab["docs_b"] == 3
    # a has 3 distinct texts, b has 3, shared 2 → 2/(3+3-2)
    assert abs(ab["text_jaccard"] - 0.5) < 1e-12
    ac = out[("a", "c")]
    assert ac["shared_texts"] == 0 and ac["dup_pairs"] == 0
    assert ac["text_jaccard"] == 0.0


def test_source_dup_matrix_matches_r9_oracle(spark, sf_dir):
    """The round-9 registered oracle hash-matches at sf0.001."""
    from edu_online_spark.operators.dedup import ORACLE, source_dup_matrix
    from edu_online_spark.sources import load_table
    from tools.parity import compare, run_oracle

    problems = compare(
        "source_dup_matrix",
        source_dup_matrix(load_table(spark, sf_dir, "documents")),
        run_oracle(ORACLE["source_dup_matrix"], sf_dir),
    )
    assert not problems, problems


def test_minhash_index_probe_equals_inline(spark, sf_dir, tmp_path):
    """The persisted-index probe must reproduce the inline
    cross-corpus pairs bit-for-bit: same band keys, same stored
    shingle sets, same exact-Jaccard arithmetic."""
    import os

    from edu_online_spark.operators.dedup import (
        build_minhash_index,
        cross_corpus_minhash_pairs,
        cross_corpus_minhash_probe,
    )
    from edu_online_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 10 == 0)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    idx = str(tmp_path / "mhidx")
    build_minhash_index(corpus, idx)
    # bucket-partitioned verification layout (the IVF cid pattern)
    buckets = [
        d for d in os.listdir(f"{idx}/shingles") if d.startswith("bucket=")
    ]
    assert buckets, "shingles/ must be bucket-partitioned"
    inline = sorted(map(tuple, cross_corpus_minhash_pairs(new, corpus).collect()))
    probed = sorted(map(tuple, cross_corpus_minhash_probe(new, idx).collect()))
    assert probed == inline and probed  # identical, and non-trivial


def test_minhash_index_probe_empty_delta(spark, sf_dir, tmp_path):
    """A delta with no collisions probes to an empty result without
    touching a single shingle bucket (bounded bucket collect on an
    empty candidate set)."""
    from edu_online_spark.operators.dedup import (
        build_minhash_index,
        cross_corpus_minhash_probe,
    )
    from edu_online_spark.sources import load_table

    corpus = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 10 != 0
    )
    idx = str(tmp_path / "mhidx")
    build_minhash_index(corpus, idx)
    alien = spark.createDataFrame(
        [(999999, "zzz qqq vvv kkk jjj xxx uuu www yyy nnn mmm ppp", "s")],
        ["doc_id", "text", "source"],
    )
    assert cross_corpus_minhash_probe(alien, idx).count() == 0


def test_cross_corpus_probe_matches_r10_oracle(spark, sf_dir):
    """The queued round-10 oracle hash-matches at sf0.001 — promotion
    next round is a registry edit, not new arithmetic."""
    from edu_online_spark.operators.dedup import ORACLE_R10, _q_cross_corpus_probe
    from tools.parity import compare, run_oracle

    problems = compare(
        "dedup_cross_corpus_probe",
        _q_cross_corpus_probe(spark, sf_dir),
        run_oracle(ORACLE_R10["dedup_cross_corpus_probe"], sf_dir),
    )
    assert not problems, problems


def test_dup_inflation_counts(spark):
    """Hand-built: s1 has 'a b c' x3 + 'd e' x1 (11 tokens total, 5
    unique-text tokens -> inflation 2.2); s2 is duplicate-free
    (inflation exactly 1.0)."""
    from edu_online_spark.operators.dedup import dup_inflation

    docs = spark.createDataFrame(
        [(1, "a b c", "s1"), (2, "a b c", "s1"), (3, "a b c", "s1"),
         (4, "d e", "s1"), (5, "f g h i", "s2")],
        ["doc_id", "text", "source"],
    )
    out = {r["source"]: r for r in dup_inflation(docs).collect()}
    s1 = out["s1"]
    assert (s1["docs"], s1["texts"], s1["dup_docs"]) == (4, 2, 2)
    assert (s1["tokens_total"], s1["tokens_unique"], s1["dup_tokens"]) == (
        11, 5, 6,
    )
    assert s1["inflation"] == 11 / 5
    assert out["s2"]["dup_docs"] == 0 and out["s2"]["inflation"] == 1.0


def test_cluster_size_profile_partitions_corpus(spark):
    """A 3-family, a 2-family, and two singletons: histogram rows
    (3,1), (2,1), (1,2); n_docs column partitions the corpus (sums to
    7) and n_dup_docs is the exact survivorship yield (3)."""
    from edu_online_spark.operators.dedup import cluster_size_profile

    def fam(seed, n=30, edit=-1):
        words = [f"{seed}{i}" for i in range(n)]
        if edit >= 0:
            words[edit] = f"edited{edit}"
        return " ".join(words)

    docs = spark.createDataFrame(
        [(1, fam("a"), "s"), (2, fam("a", edit=3), "s"),
         (3, fam("a", edit=7), "s"),
         (10, fam("b"), "s"), (11, fam("b", edit=5), "s"),
         (20, fam("c"), "s"), (21, fam("d"), "s")],
        ["doc_id", "text", "source"],
    )
    rows = {
        r["cluster_size"]: r for r in cluster_size_profile(docs).collect()
    }
    assert {(k, v["n_clusters"]) for k, v in rows.items()} == {
        (3, 1), (2, 1), (1, 2),
    }
    assert sum(r["n_docs"] for r in rows.values()) == 7
    assert sum(r["n_dup_docs"] for r in rows.values()) == 3


def test_threshold_yield_curve_matches_r11_oracle(spark, sf_dir):
    """The queued round-11 oracle hash-matches at sf0.001 — promotion
    next round is a registry edit, not new arithmetic."""
    from edu_online_spark.operators.dedup import (
        ORACLE_R11,
        threshold_yield_curve,
    )
    from edu_online_spark.sources import load_table
    from tools.parity import compare, run_oracle

    problems = compare(
        "dedup_threshold_yield_curve",
        threshold_yield_curve(load_table(spark, sf_dir, "documents")),
        run_oracle(ORACLE_R11["dedup_threshold_yield_curve"], sf_dir),
    )
    assert not problems, problems


def test_threshold_yield_curve_is_monotone(spark, sf_dir):
    """Tightening the threshold can only shed pairs and docs, and the
    loosest point must agree with the certified LSH pair count."""
    from edu_online_spark.operators.dedup import (
        minhash_lsh_pairs,
        threshold_yield_curve,
    )
    from edu_online_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    rows = sorted(
        threshold_yield_curve(docs).collect(), key=lambda r: r["threshold"]
    )
    assert [r["threshold"] for r in rows] == [0.5, 0.6, 0.7, 0.8, 0.9]
    for lo, hi in zip(rows, rows[1:]):
        assert lo["n_pairs"] >= hi["n_pairs"]
        assert lo["n_docs"] >= hi["n_docs"]
    assert rows[0]["n_pairs"] == minhash_lsh_pairs(docs).count()


def test_ngram_jaccard_prefix_matches_r12_oracle(spark, sf_dir):
    """The queued round-12 oracle hash-matches at sf0.001 — and the
    oracle is the UNFILTERED brute-force mirror, so this is the
    losslessness claim itself under test."""
    from edu_online_spark.operators.dedup import (
        ORACLE_R12,
        ngram_jaccard_pairs_prefix,
    )
    from edu_online_spark.sources import load_table
    from tools.parity import compare, run_oracle

    problems = compare(
        "dedup_ngram_jaccard_prefix",
        ngram_jaccard_pairs_prefix(load_table(spark, sf_dir, "documents")),
        run_oracle(ORACLE_R12["dedup_ngram_jaccard_prefix"], sf_dir),
    )
    assert not problems, problems


def test_ngram_jaccard_prefix_bit_equals_cooccurrence(spark, sf_dir):
    """Prefix filtering is a candidate-generation change only: the
    relation (pairs AND jaccard doubles) is bit-identical to the
    certified co-occurrence form on the real corpus."""
    from edu_online_spark.operators.dedup import (
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_prefix,
    )
    from edu_online_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    a = {tuple(r) for r in ngram_jaccard_pairs(docs).collect()}
    b = {tuple(r) for r in ngram_jaccard_pairs_prefix(docs).collect()}
    assert a == b
    assert a  # the planted near-dups make this non-vacuous


def test_ngram_jaccard_prefix_keeps_boundary_pair(spark):
    """A pair engineered to sit just past the θ = 0.5 threshold
    (J = 7/13) survives the prefix filter — the lossless bound's worst
    case is |A∩B| barely clearing ⌈θ|A|⌉, where the prefix is at its
    shortest relative to the intersection."""
    from edu_online_spark.operators.dedup import (
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_prefix,
    )

    # 12 tokens → 10 shingles each; a 9-token shared suffix gives 7
    # shared shingles: J = 7 / (10 + 10 - 7) = 7/13 ≥ 0.5; trimming
    # the overlap by one token → 6/14 < 0.5 (checked below).
    shared = "alpha beta gamma delta epsilon zeta eta theta iota"
    d0 = "one two three " + shared
    d1 = "four five six " + shared
    d2 = "seven eight nine ten " + shared.rsplit(" ", 1)[0] + " kappa"
    docs = spark.createDataFrame(
        [(0, d0), (1, d1), (2, d2)], ["doc_id", "text"]
    )
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs_prefix(docs).collect()
    }
    ref = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs).collect()
    }
    assert got == ref
    assert (0, 1) in got and abs(got[(0, 1)] - 7 / 13) < 1e-12


def test_minhash_index_cache_key_covers_tuning_params(monkeypatch, tmp_path):
    """Pins the ADVICE-r9 fix at dedup._minhash_index: the /tmp cache
    key must move when DEFAULT_NUM_HASHES / DEFAULT_BANDS / the bucket
    count change, so retuning never serves a stale index to the
    oracle-parity path. The build step is stubbed out — only the key
    derivation is under test."""
    import os
    import uuid

    from edu_online_spark.functions import hashing
    from edu_online_spark.operators import dedup

    built = []

    def fake_build(docs, path, **kw):
        built.append(path)
        os.makedirs(path, exist_ok=True)

    from unittest.mock import MagicMock

    monkeypatch.setattr(dedup, "build_minhash_index", fake_build)
    monkeypatch.setattr(
        dedup, "load_table", lambda spark, sf_dir, name: MagicMock()
    )
    monkeypatch.setattr(dedup, "F", MagicMock())  # no live SparkContext needed

    # the key is derived from the path, and pytest reuses tmp_path names
    # across sessions: a fresh name keeps an index dir some earlier run
    # left under /tmp from answering the first call
    sf_dir = str(tmp_path / uuid.uuid4().hex)
    base = dedup._minhash_index(None, sf_dir)
    assert dedup._minhash_index(None, sf_dir) == base  # stable + cached
    assert len(built) == 1  # second call reused the committed dir

    monkeypatch.setattr(hashing, "DEFAULT_NUM_HASHES", 9999)
    after_hashes = dedup._minhash_index(None, sf_dir)
    assert after_hashes != base

    monkeypatch.setattr(hashing, "DEFAULT_NUM_HASHES", 9999 - 1)
    monkeypatch.setattr(hashing, "DEFAULT_BANDS", 7777)
    assert dedup._minhash_index(None, sf_dir) not in (base, after_hashes)

    monkeypatch.setattr(dedup, "MINHASH_INDEX_BUCKETS", 3)
    paths = {base, after_hashes, dedup._minhash_index(None, sf_dir)}
    assert len(paths) == 3


def test_broadcast_if_bounded_branches(spark):
    """The dup-mass broadcast probe: small relations keep the hint
    (BroadcastHashJoin in the join plan), relations past the cap fall
    back to the plain relation so AQE picks the strategy (no forced
    broadcast of an unbounded side)."""
    from edu_online_spark.operators.dedup import broadcast_if_bounded

    left = spark.range(100).withColumnRenamed("id", "doc_id")
    small = spark.range(10).withColumnRenamed("id", "doc_id")
    hinted = left.join(broadcast_if_bounded(small, cap=10), "doc_id")
    assert "BroadcastHashJoin" in hinted._jdf.queryExecution().executedPlan().toString()
    # past the cap the hint is dropped (plan may still broadcast via
    # AQE size estimation — assert the HINT is gone, not the strategy)
    unhinted = broadcast_if_bounded(small, cap=5)
    assert "ResolvedHint" not in unhinted._jdf.queryExecution().logical().toString()


def test_composed_diagnostics_equal_standalones(spark, sf_dir):
    """VERDICT r14 #5: the composed entry (one shared LSH pass) must
    melt EXACTLY the rows the five standalone diagnostics produce —
    the sharing changes the plan, never the report."""
    from pyspark.sql import functions as F

    from edu_online_spark.operators.dedup import (
        cluster_lang_purity,
        cluster_size_profile,
        dedup_diagnostics_composed,
        pair_degree_spectrum,
        savings_by_source,
        threshold_yield_curve,
    )
    from edu_online_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    got = dedup_diagnostics_composed(docs)
    by_diag = {
        d: sorted(
            map(
                tuple,
                got.filter(F.col("diagnostic") == d)
                .drop("diagnostic")
                .collect(),
            )
        )
        for d in ("savings", "yield", "size", "purity", "degree")
    }

    def rows(df, cols):
        return sorted(map(tuple, df.select(*cols).collect()))

    assert by_diag["savings"] == rows(
        savings_by_source(docs).select(
            F.col("source").alias("k"),
            F.lit(None).cast("string").alias("t"),
            "n_docs",
            "chars_total",
            "n_redundant",
            "chars_removed",
            "savings_ratio",
        ),
        ["k", "t", "n_docs", "chars_total", "n_redundant",
         "chars_removed", "savings_ratio"],
    )
    yc = threshold_yield_curve(docs).collect()
    assert by_diag["yield"] == sorted(
        (str(int(round(r["threshold"] * 10))), None, r["n_pairs"],
         r["n_docs"], None, None, None)
        for r in yc
    )
    sp = cluster_size_profile(docs).collect()
    assert by_diag["size"] == sorted(
        (str(r["cluster_size"]), None, r["n_clusters"], r["n_docs"],
         r["n_dup_docs"], None, None)
        for r in sp
    )
    lp = cluster_lang_purity(docs).collect()
    assert by_diag["purity"] == sorted(
        (str(r["cluster_rep"]), r["top_lang"], r["cluster_size"],
         r["n_langs"], r["top_lang_cnt"], int(r["cross_lang"]),
         r["top_lang_share"])
        for r in lp
    )
    ds = pair_degree_spectrum(docs).collect()
    assert by_diag["degree"] == sorted(
        (str(r["degree"]), None, r["n_docs"], None, None, None,
         r["share"])
        for r in ds
    )


def test_near_dup_clusters_matches_union_find(spark):
    """Equivalence pin for the r17 star-contraction rewrite: on
    randomized graphs (long chains — the winnowing shape that forced 7
    propagation rounds — plus stars, cliques, and uniform random
    edges), near_dup_clusters must label every vertex with its
    component MINIMUM, per a union-find reference."""
    import random

    from edu_online_spark.operators.dedup import near_dup_clusters

    def uf_reference(pairs):
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {v: find(v) for v in parent}

    rng = random.Random(17)
    cases = []
    # long chains with shuffled ids (worst case for propagation)
    ids = list(range(100))
    rng.shuffle(ids)
    cases.append([(ids[i], ids[i + 1]) for i in range(len(ids) - 1)])
    # stars + a clique + isolated pairs
    cases.append(
        [(50, i) for i in range(10)]
        + [(i, j) for i in range(20, 25) for j in range(i + 1, 25)]
        + [(100, 101), (102, 103)]
    )
    # uniform random graphs of varying density
    for n, m in [(60, 30), (60, 90), (40, 200)]:
        cases.append(
            [
                tuple(rng.sample(range(n), 2))
                for _ in range(m)
            ]
        )
    for pairs in cases:
        df = spark.createDataFrame(
            [(int(a), int(b)) for a, b in pairs], ["doc_a", "doc_b"]
        )
        got = {
            r["doc_id"]: r["cluster_rep"]
            for r in near_dup_clusters(df).collect()
        }
        assert got == uf_reference(pairs)


def test_near_dup_clusters_string_ids(spark):
    """The contraction loop must stay generic over id types (string
    ordering = lexicographic min), as the r16 form was."""
    from edu_online_spark.operators.dedup import near_dup_clusters

    df = spark.createDataFrame(
        [("b", "c"), ("c", "a"), ("x", "y")], ["doc_a", "doc_b"]
    )
    got = {
        r["doc_id"]: r["cluster_rep"] for r in near_dup_clusters(df).collect()
    }
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}
