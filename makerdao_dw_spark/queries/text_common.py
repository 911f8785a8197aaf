"""Shared text-normalization fragments (same single-definition rule as
tpch_common.py for money math).

The corpus normalization (lowercase → non-alnum → space → collapse
runs → trim → md5) feeds BOTH dedup_exact_normalized and the dedup
stage of corpus_end_to_end_pipeline, on both engines. One definition
each: a tweak here (e.g. widening the keep-class) propagates to every
consumer and its oracle at once — per-file copies could drift while
every per-query gate still passes, silently desynchronizing the two
pipelines' norm_hash.

Spark and DuckDB need separate spellings (DuckDB's regexp_replace
replaces only the first match without the 'g' flag; Spark's replaces
all and hashes via a binary cast), so the pair is defined together
here and unit-pinned equal in tests/test_review_fixes.py.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# DuckDB: md5 of the normalized text (md5() takes VARCHAR directly)
NORM_HASH_DUCK = (
    "md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),"
    " ' +', ' ', 'g')))"
)


def norm_text(col: str = "text") -> Column:
    """Normalized text as a Spark Column (pure codegen string ops)."""
    return F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col(col)), "[^a-z0-9 ]", " "), " +", " "
        )
    )


def norm_hash(col: str = "text") -> Column:
    """md5 of the normalized text — Spark twin of NORM_HASH_DUCK."""
    return F.md5(norm_text(col).cast("binary"))


# --- word tokenization (keep-class [a-zA-Z], lowercased) -------------------
# Shared by the n-gram/LM/prefix-filter family; per-file copies of the
# regex or the length floor could desynchronize queries documented as
# one pipeline.

def tokens_arr(col: str = "text", min_len: int = 2) -> Column:
    """Filtered token ARRAY (Spark): lowercased maximal ASCII-letter
    runs of length >= min_len.

    Formulated as ONE regex split on non-[A-Za-z] runs over the RAW
    text, then per-token lowercase — token-for-token identical to the
    duck twin's replace-then-split for ALL input including non-ASCII:
    both engines delete non-ASCII letters BEFORE any case folding.
    (The r7 lower-then-split spelling diverged on characters whose
    lowercase maps INTO [a-z] — 'İ' -> 'i'+U+0307 minted an extra 'i'
    token, Kelvin sign U+212A became a 'k' — because Spark folded
    before deleting while DuckDB deleted before folding; pinned by
    test_review_fixes.test_tokens_arr_non_ascii_cross_engine.)
    Still one regex pass over every byte (the split); the lower()
    runs only over kept letter runs. Edge empties drop in the length
    filter, which is case-invariant for ASCII runs, so filtering
    before lowering is safe and cheaper."""
    return F.transform(
        F.filter(F.split(col, "[^a-zA-Z]+"), lambda t: F.length(t) >= min_len),
        F.lower,
    )


def tokens_arr_duck(col: str = "text", min_len: int = 2) -> str:
    """DuckDB twin of tokens_arr."""
    return (
        f"list_filter(string_split(lower(regexp_replace({col}, '[^a-zA-Z ]', ' ', 'g')), ' '),"
        f" t -> len(t) >= {min_len})"
    )


def ws_words_arr(col: str = "text") -> Column:
    """Whitespace word ARRAY (Spark): split on single spaces, drop
    empties — the 'word' unit for density/length/fertility metrics
    (vs tokens_arr's letter-class subword stand-in)."""
    return F.filter(F.split(col, " "), lambda x: x != "")


def ws_words_duck(col: str = "text") -> str:
    """DuckDB twin of ws_words_arr."""
    return f"list_filter(string_split({col}, ' '), x -> x != '')"


def bigram_zip_expr(arr: str = "ts", combine: str = "concat(a, ' ', b)") -> str:
    """Spark SQL expr: zip an array with its tail via two slices whose
    length is clamped >= 0 — a <2-token array yields an EMPTY bigram
    list. The index-based sequence(1, size-1) form crashes there:
    Spark's sequence DESCENDS when start > stop ([1,0]), and arr[1] on
    a 1-element array throws INVALID_ARRAY_INDEX under Spark 4's
    default ANSI mode. `combine` sees the pair as (a, b)."""
    return (
        f"zip_with(slice({arr}, 1, greatest(size({arr}) - 1, 0)),"
        f"         slice({arr}, 2, greatest(size({arr}) - 1, 0)),"
        f"         (a, b) -> {combine})"
    )


# --- md5 word-k-gram keys (span dedup / novelty family) --------------------
# One definition per engine: the gram key is a JOIN/GROUP key across
# queries documented as one pipeline (dup_span_coverage,
# ngram_novelty_curve, novelty_incremental_batch) — a drifted copy
# would silently desynchronize their oracles.

def gram_md5_arr_spark(k: int) -> str:
    """Spark expr: md5 keys of word k-grams over the array column `w`.
    try_element_at past the end is NULL, NULL || x propagates, the
    filter drops them — so a <k-word doc yields an EMPTY array
    (sequence() is clamped to start at 1 so it can never run
    DESCENDING, the Spark start>stop landmine). Surviving entry i
    (0-based after posexplode) = the gram starting at word i+1."""
    parts = " || ' ' || ".join(f"try_element_at(w, i + {j})" for j in range(k))
    return (
        f"filter(transform(sequence(1, greatest(size(w) - {k - 1}, 1)), "
        f"i -> md5(cast({parts} as binary))), s -> s is not null)"
    )


def gram_md5_arr_duck(k: int) -> str:
    """DuckDB twin of gram_md5_arr_spark (generate_series with start >
    stop is empty in DuckDB, so no clamp/filter dance is needed)."""
    parts = " || ' ' || ".join(f"w[i + {j}]" for j in range(k))
    return f"list_transform(generate_series(1, len(w) - {k - 1}), i -> md5({parts}))"


def gram_md5_pos_duck(k: int) -> str:
    """DuckDB k-gram keys WITH 0-based start positions, as a list of
    {'p0', 'ghash'} structs for `UNNEST(..., recursive := true)` —
    position parity with Spark's posexplode over gram_md5_arr_spark."""
    parts = " || ' ' || ".join(f"w[i + {j}]" for j in range(k))
    return (
        f"list_transform(generate_series(1, len(w) - {k - 1}), "
        f"i -> {{'p0': i - 1, 'ghash': md5({parts})}})"
    )
