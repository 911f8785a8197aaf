"""Column-expression builders for text/dedup/similarity operators.

Everything here is pure Catalyst expression composition (JVM-side,
whole-stage-codegen friendly) — no Python UDFs. Hashing is md5-based so
the DuckDB oracles can reproduce signatures bit-for-bit; at production
scale you'd swap md5 for xxhash64 (cheaper) without changing shapes.

Scale notes: all per-document work (shingling, minhash) is embarrassingly
parallel; the only shuffles in the dedup pipeline are the LSH band
group-join (keyed by 128-bit band hash — uniform, skew-free) and the
candidate-pair join.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..functions import md5_int_duck, md5_int_spark

# Deliberately tiny english stopword list — deterministic, oracle-friendly.
STOPWORDS = ("the", "a", "an", "of", "and", "or", "to", "in", "is", "it")

# words per shingle, in both engines
_SHINGLE_N = 3


def words(text: Column) -> Column:
    """Whitespace tokens (corpus is single-space separated)."""
    return F.split(text, " ")


def shingles_expr(text_col: str) -> Column:
    """Word _SHINGLE_N-gram shingles of `text_col` as array<string>.

    The words array is let-bound (split runs once per row, not per
    shingle). Out-of-range try_element_at -> NULL, and NULL || x
    propagates, so short documents degrade to fewer (never broken)
    shingles.
    """
    parts = " || ' ' || ".join(f"try_element_at({{x}}, i + {k})" for k in range(_SHINGLE_N))
    return F.expr(
        let_bound(
            f"split({text_col}, ' ')",
            f"filter(transform(sequence(1, greatest(size({{x}}) - {_SHINGLE_N - 1}, 1)), "
            f"i -> {parts}), s -> s is not null)",
        )
    )


def shingles_sql_duckdb(text_col: str) -> str:
    """DuckDB twin of shingles_expr (|| propagates NULL, unlike concat)."""
    parts = " || ' ' || ".join(f"string_split({text_col}, ' ')[i + {k}]" for k in range(_SHINGLE_N))
    return (
        f"list_filter(list_transform(generate_series(1, greatest(len(string_split({text_col}, ' ')) - {_SHINGLE_N - 1}, 1)), "
        f"i -> {parts}), s -> s IS NOT NULL)"
    )


_LET_COUNTER = [0]


def let_bound(value_expr: str, body_template: str) -> str:
    """Emulate a let-binding in Spark SQL expressions.

    `element_at(transform(array(V), x -> BODY(x)), 1)` evaluates V exactly
    once per row. Without this, Catalyst's projection collapse inlines V
    into every reference site, and non-codegen higher-order lambdas
    re-evaluate outer subexpressions per element — turning O(n) pipelines
    into O(n^2). (Observed: 4 band exprs x 16 minhash exprs recomputed the
    shingle+md5 work ~64x.) Lambda variables are uniquely named so
    let-bound expressions can nest without shadowing.
    """
    _LET_COUNTER[0] += 1
    var = f"__let{_LET_COUNTER[0]}"
    return f"element_at(transform(array({value_expr}), {var} -> {body_template.format(x=var)}), 1)"


_MERSENNE31 = 2147483647  # 2^31 - 1


def _affine_constants(num_hashes: int) -> tuple[list[int], list[int]]:
    """Deterministic (a_i, b_i) pairs for the affine hash family,
    derived from md5 so both engines bake identical literals."""
    import hashlib

    a = [int(hashlib.md5(f"a{i}".encode()).hexdigest()[:7], 16) | 1 for i in range(num_hashes)]
    b = [int(hashlib.md5(f"b{i}".encode()).hexdigest()[:7], 16) for i in range(num_hashes)]
    return a, b


def minhash_fold_expr(shingles_sql: str, num_hashes: int = 16) -> str:
    """MinHash signature in ONE pass over the shingles.

    Perf-critical formulation: ONE md5 per shingle (reduced to a 31-bit
    int), then the `num_hashes` variants come from the affine family
    h_i(x) = (a_i*x + b_i) mod (2^31-1) — integer multiply-adds instead
    of 16 digest computations per shingle (measured 4-5x cheaper; the
    higher-order fold is interpreted, so per-element cost dominates).
    All intermediates stay < 2^62, no signed-64 overflow. The empty-
    shingle accumulator is the modulus itself (sorts after any hash).
    """
    a, b = _affine_constants(num_hashes)
    x_expr = f"{md5_int_spark('s')} % {_MERSENNE31}"
    # one array_min pass per hash over the materialized base-hash array:
    # unlike an aggregate+zip_with fold (which allocates a 16-wide array
    # per SHINGLE), this allocates num_hashes+1 arrays per DOC
    mins = ", ".join(
        f"coalesce(array_min(transform({{x}}, x -> ({a[i]} * x + {b[i]}) % {_MERSENNE31})), {_MERSENNE31}L)"
        for i in range(num_hashes)
    )
    return let_bound(
        f"transform({shingles_sql}, s -> {x_expr})",
        f"array({mins})",
    )


def minhash_signature(shingle_col: str, num_hashes: int = 16) -> Column:
    """MinHash signature column (single-pass fold)."""
    return F.expr(minhash_fold_expr(shingle_col, num_hashes))


def minhash_signature_sql_duckdb(shingle_expr: str, num_hashes: int = 16) -> str:
    a, b = _affine_constants(num_hashes)
    x = f"({md5_int_duck('s')} % {_MERSENNE31})"
    sigs = ", ".join(
        f"COALESCE(list_min(list_transform({shingle_expr}, "
        f"s -> ({a[i]} * {x} + {b[i]}) % {_MERSENNE31})), {_MERSENNE31})"
        for i in range(num_hashes)
    )
    return f"[{sigs}]"


def band_hashes(sig_expr: str, bands: int = 4, rows: int = 4) -> Column:
    """LSH banding: hash each contiguous r-slice of the signature.

    `sig_expr` may be an arbitrarily expensive expression — it is let-bound
    so it evaluates once per row even though every band references it.
    """
    body = ", ".join(
        f"named_struct('band', {b}, 'h', md5(array_join("
        f"transform(slice({{x}}, {b * rows + 1}, {rows}), v -> cast(v as string)), '|')))"
        for b in range(bands)
    )
    return F.expr(let_bound(sig_expr, f"array({body})"))


def band_hashes_sql_duckdb(sig_col: str, bands: int = 4, rows: int = 4) -> str:
    exprs = ", ".join(
        f"{{'band': {b}, 'h': md5(array_to_string({sig_col}[{b * rows + 1}:{b * rows + rows}], '|'))}}"
        for b in range(bands)
    )
    return f"[{exprs}]"


def sorted_pairs_expr(arr: str) -> str:
    """Spark expr: all i<j (doc_a, doc_b) struct pairs of a sorted id
    array — the in-bucket pair expansion shared by the LSH candidate
    pipeline and the parameter sweep (one definition: a cap or ANSI
    edge fix here reaches both). Requires size(arr) >= 2 (the bucket
    gate guarantees it), so sequence() never runs descending."""
    return (
        f"flatten(transform(sequence(1, size({arr}) - 1), "
        f"i -> transform(slice({arr}, i + 1, size({arr}) - i), "
        f"j -> named_struct('doc_a', element_at({arr}, i), 'doc_b', j))))"
    )
