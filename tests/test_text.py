"""Text functions: tokenization, language-ID, fingerprints."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from edu_online_spark.functions import text as T
from edu_online_spark.operators.textops import text_quality


def test_token_counts_and_quality(spark):
    df = spark.createDataFrame(
        [(1, "the cat sat on the mat."), (2, "x!!!")], ["doc_id", "text"]
    )
    rows = {r["doc_id"]: r for r in text_quality(df).collect()}
    assert rows[1]["n_tokens"] == 6
    assert rows[1]["n_punct"] == 1
    assert rows[1]["n_stop"] == 2  # 'the' twice ('mat.' has the dot)
    assert rows[2]["quality_score"] < rows[1]["quality_score"]


def test_bpe_tokens(spark):
    df = spark.createDataFrame([(1, "abc123 def!")], ["doc_id", "text"])
    n = df.select(T.bpe_token_count("text").alias("n")).collect()[0]["n"]
    # abc | 123 | def | !
    assert n == 4


def test_predict_lang(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog of the house"),
            (2, "el perro y la casa de los gatos"),
            (3, "der hund und die katze ist hier"),
            (4, "zzz qqq www"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r["p"]
        for r in df.select("doc_id", T.predict_lang("text").alias("p")).collect()
    }
    assert out[1] == "en" and out[2] == "es" and out[3] == "de"
    assert out[4] == "und"


def test_fingerprint_deterministic_and_sensitive(spark):
    df = spark.createDataFrame(
        [(1, "hello world"), (2, "hello world"), (3, "hello worle"), (4, "")],
        ["doc_id", "text"],
    )
    fp = {r["doc_id"]: r["f"] for r in df.select("doc_id", T.fingerprint("text").alias("f")).collect()}
    assert fp[1] == fp[2]
    assert fp[1] != fp[3]
    assert fp[4] == 0
    # reference value: fold of (acc*31 + ascii) % 1e9+7
    acc = 0
    for ch in "hello world":
        acc = (acc * 31 + ord(ch)) % 1_000_000_007
    assert fp[1] == acc


def test_fingerprint_fast_deterministic_and_sensitive(spark):
    """xxhash64 default: stable across runs/partitionings, distinct for
    distinct text, equal for equal text."""
    rows = [(0, "the quick brown fox"), (1, "the quick brown fox"), (2, "other")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: r["fp"]
        for r in df.select("doc_id", T.fingerprint_fast("text").alias("fp")).collect()
    }
    again = {
        r["doc_id"]: r["fp"]
        for r in df.repartition(7)
        .select("doc_id", T.fingerprint_fast("text").alias("fp"))
        .collect()
    }
    assert got == again
    assert got[0] == got[1] != got[2]


def test_spread_small_scan_passthrough_above_threshold(spark, tmp_path):
    """VERDICT r16 #9: the spread must be a structural NO-OP whenever
    the file input exceeds one split — at real scale input splits
    supply the parallelism and an added Exchange would be a regression.
    Simulated by dropping the threshold below the file's size. The
    decision follows the file's CURRENT size: a file rewritten larger
    in place (same path) flips it to pass-through."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from edu_online_spark.functions.text import (
        SPREAD_MAX_INPUT_BYTES_CONF,
        spread_small_scan,
    )

    p = str(tmp_path / "docs.parquet")

    def write_docs(n: int) -> int:
        pq.write_table(
            pa.table({"doc_id": list(range(n)), "text": ["text " * 50] * n}), p
        )
        return os.path.getsize(p)

    def spreads() -> bool:
        out = spread_small_scan(spark.read.parquet(p), "doc_id")
        return "RepartitionByExpression" in out._jdf.queryExecution().logical().toString()

    small = write_docs(500)
    try:
        # small input (default threshold): the spread fires
        assert spreads()
        # input above the threshold: pass-through, no repartition node
        spark.conf.set(SPREAD_MAX_INPUT_BYTES_CONF, "1")
        assert not spreads()
        # same path, rewritten larger in place: the decision flips
        spark.conf.set(SPREAD_MAX_INPUT_BYTES_CONF, str(small + 1))
        assert spreads()
        assert write_docs(5000) > small + 1
        assert not spreads()
    finally:
        try:
            spark.conf.unset(SPREAD_MAX_INPUT_BYTES_CONF)
        except Exception:
            pass
