"""Text-analysis column functions (extension surface, all JVM-side).

Tokenization, shingling, quality metrics, language-ID scoring, and a
rolling-hash fingerprint — every one a Column expression (codegen), no
Python UDFs. At 100 TB these run inside the scan stage, fully fused.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Marker stopwords per language for the n-gram/lexicon heuristic.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is"),
    "es": ("el", "la", "los", "que", "de"),
    "de": ("der", "die", "und", "das", "ist"),
    "fr": ("le", "la", "les", "et", "est"),
    "zh": ("的", "是", "了", "在", "我"),
}

STOPWORDS_EN = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
)

# BPE-ish token pattern: letter runs, digit runs, or single symbols.
# Kept RE2-compatible so the DuckDB oracle evaluates the identical regex.
BPE_TOKEN_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"

FINGERPRINT_MOD = 1_000_000_007
FINGERPRINT_BASE = 31


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization; collapses runs, trims edges."""
    return F.split(F.trim(_c(col)), " +")


# Spread threshold for spread_small_scan, overridable per session
# (plain bytes). Default = one default input split (128 MB): below it
# the scan is provably 1-2 partitions AND the repartition provably
# moves < 128 MB, so the spread is near-free; above it, input splits
# supply the parallelism and the spread would be a real shuffle.
SPREAD_MAX_INPUT_BYTES_CONF = "spark.edu_online.spread.maxInputBytes"
_SPREAD_DEFAULT_MAX_BYTES = 128 * 1024 * 1024


def spread_small_scan(df, *part_cols: str):
    """Scale-adaptive scan spread (guide §2 — derive partitioning from
    input size, not a constant). Per-row array work (shingle/winnow
    gram building) runs in the SCAN stage; a tiny local input is one
    parquet split (and one row group), so without help one task does
    all of it serially. When the df's entire file input is provably
    smaller than one default split (128 MB, conf-overridable), hash-
    repartition the compact doc rows by id across all cores — the
    downstream per-id aggregation reuses that exchange (verified: the
    signature plan has ONE exchange either way, but it now carries doc
    rows, not the exploded token stream). At any real scale the input
    exceeds the threshold and this is a structural no-op: zero added
    shuffle. Streaming inputs, non-local storage, and plans with no
    file source (e.g. localCheckpointed relations) are left untouched.
    """
    if df.isStreaming:
        return df
    try:
        files = df.inputFiles()
    except Exception:
        return df
    if not files:
        return df
    import os

    total = 0
    for f in files:
        path = f[5:] if f.startswith("file:") else f
        if not path.startswith("/"):
            return df  # remote storage: splits are the cluster's job
        try:
            total += os.path.getsize(path)
        except OSError:
            return df
    spark = df.sparkSession
    try:
        thr = int(
            spark.conf.get(
                SPREAD_MAX_INPUT_BYTES_CONF, str(_SPREAD_DEFAULT_MAX_BYTES)
            )
        )
    except Exception:
        thr = _SPREAD_DEFAULT_MAX_BYTES
    par = spark.sparkContext.defaultParallelism
    if total < thr:
        return df.repartition(par, *[F.col(c) for c in part_cols])
    return df


def shingle_array(text_col: Column | str, n: int = 3, distinct: bool = False) -> Column:
    """Word n-gram shingle ARRAY, computed per row with no shuffle.

    MUST be used over a column that is already a materialized token
    array (see shingle_rows for the two-step-projection contract) —
    NOT over a raw tokens(text) expression, or Catalyst inlines the
    split() into the per-element lambda (O(tokens²) per doc, the
    measured 9 s/477-doc failure mode shingle_rows' old window form
    existed to avoid)."""
    t = _c(text_col)
    gram = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at(t, i + j) for j in range(n)]
    )
    grams = F.transform(F.sequence(F.lit(1), F.size(t) - (n - 1)), gram)
    if distinct:
        grams = F.array_distinct(grams)
    return F.when(F.size(t) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def shingle_rows(df, id_col: str, text_col: str = "text", n: int = 3,
                 distinct: bool = False):
    """(id, shingle)-row form of word n-gram shingling — ZERO-shuffle
    (optimization r16, guide §2.4): tokenize once into a materialized
    array column, build the gram array per row with a higher-order
    transform, explode. Replaces the posexplode + lead()-window form,
    which shuffled and sorted the ENTIRE token stream by id before any
    aggregation — the largest exchange at the base of every
    MinHash/shingle consumer. With the array form the first exchange a
    consumer pays is its own (usually map-side-combined) aggregation.

    The two-step select is load-bearing: `_ts` is a separate
    projection, and the gram builder references it n+1 times, so
    CollapseProject keeps the (non-cheap, multi-referenced) split()
    OUT of the transform lambda — one tokenization per row, O(n·tokens)
    gram work. (Inlined, the split would re-run per array element:
    O(tokens²) per doc, the documented failure mode of the old
    shingles() expression.) Verified in the physical plan: exactly one
    split(), zero Exchange nodes.

    distinct=True dedups shingles per id inside the array
    (array_distinct) — replaces a downstream
    dropDuplicates([id, shingle]) exchange for free. Row order differs
    from the old window form (no sort); all consumers are
    multiset/set-level.

    spread_small_scan parallelizes the per-row gram work when the
    input is a sub-split-sized local file (measured 0.26 s vs 0.40 s
    serial vs 0.54 s for the old window form, bare at sf0.1); at real
    scale it is a no-op and the relation stays zero-shuffle.

    id_col accepts a sequence of column names to carry several id/
    dimension columns through the explode (grams are built per ROW
    either way, so they never span rows regardless of the ids carried)
    — consumers grouping by a non-doc grain avoid a corpus-sized
    join-back for the extra column (optimization r16, guide §2.4)."""
    ids = [id_col] if isinstance(id_col, str) else list(id_col)
    step = spread_small_scan(df, *ids).select(
        *ids, tokens(text_col).alias("_ts")
    )
    return step.select(
        *ids, F.explode(shingle_array(F.col("_ts"), n, distinct)).alias("shingle")
    )


def shingles(col: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles. Documents shorter than n words
    yield an empty set (guard keeps `sequence` bounds valid)."""
    t = tokens(col)
    grams = F.transform(
        F.sequence(F.lit(1), F.size(t) - (n - 1)),
        lambda i: F.array_join(F.slice(t, i, n), " "),
    )
    empty = F.array().cast("array<string>")
    return F.when(F.size(t) >= n, F.array_distinct(grams)).otherwise(empty)


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


def bpe_token_count(col: Column | str) -> Column:
    """Count of BPE-ish tokens via regexp_count (JVM regex engine)."""
    return F.regexp_count(_c(col), F.lit(BPE_TOKEN_PATTERN))


def punct_count(col: Column | str) -> Column:
    return F.regexp_count(_c(col), F.lit("[.,!?;:]"))


def marker_hits(
    col_name: str, markers: tuple[str, ...], pre_split: bool = False
) -> Column:
    """How many tokens are in the marker lexicon. IN-list inside a
    higher-order lambda stays entirely in codegen. pre_split=True reads
    `col_name` as an ALREADY-tokenized array column (optimization r16,
    guide §1.2 step 2): a consumer scoring several lexicons over the
    same text projects split(trim(text)) ONCE and every lexicon filter
    reuses the array, instead of re-splitting per lexicon."""
    arr = col_name if pre_split else f"split(trim({col_name}), ' +')"
    return F.expr(
        f"size(filter({arr}, w -> w IN ({_in_list(markers)})))"
    )


def _in_list(words: tuple[str, ...]) -> str:
    return ", ".join("'" + w.replace("'", "''") + "'" for w in words)


def lang_scores(col_name: str, pre_split: bool = False) -> dict[str, Column]:
    """Marker-hit count per candidate language."""
    return {
        lang: marker_hits(col_name, m, pre_split)
        for lang, m in LANG_MARKERS.items()
    }


def predict_lang(col_name: str, pre_split: bool = False) -> Column:
    """Argmax language by marker hits; deterministic tie-break on language
    code order; 'und' when no markers hit at all."""
    scores = lang_scores(col_name, pre_split)
    ordered = sorted(scores)  # fixed lexicographic tie-break
    best_lang = F.lit("und")
    best_score = F.lit(0)
    # Iterate descending so earlier (lexicographically smaller) language
    # wins ties with strict '>' on the final fold.
    for lang in reversed(ordered):
        s = scores[lang]
        take = s > best_score
        best_lang = F.when(take, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(take, s).otherwise(best_score)
    return best_lang


def fingerprint_fast(col: Column | str) -> Column:
    """Default content fingerprint: xxhash64 — a single codegen'd JVM
    expression that runs inside the scan stage. This is the 100 TB
    form; the polynomial fold below is an interpreted per-character
    higher-order function (~100× slower on long documents) kept only
    for cross-engine oracle parity."""
    return F.xxhash64(_c(col))


def fingerprint(col: Column | str) -> Column:
    """Polynomial rolling hash over characters, mod 1e9+7 — the
    ORACLE-PARITY variant (use fingerprint_fast as the default).

    Sequential fold (acc*31 + ascii(char)) % p — identical order and
    arithmetic to the DuckDB oracle's list_reduce, so values match
    bit-for-bit. Empty-string guard: fingerprint('') = 0. Being an
    F.aggregate HOF it does NOT codegen; on long documents it is the
    scan-stage bottleneck, which is why it is not the default.
    """
    chars = F.filter(F.split(_c(col), ""), lambda ch: ch != "")
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * FINGERPRINT_BASE + F.ascii(ch)) % FINGERPRINT_MOD,
    )
