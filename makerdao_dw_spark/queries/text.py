"""Text-analysis operators over `documents` (training-data-pipeline plane).

All Catalyst-only (JVM, codegen) — splitting, regex token counting,
stopword/punct ratios, language-ID scoring, winnowing fingerprints.
Each has a DuckDB oracle; ratios are derived by deterministic scalar
double ops on exact integer counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.text_features import STOPWORDS, let_bound
from ..session import load_table
from .registry import query

_SW = ", ".join(f"'{w}'" for w in STOPWORDS)


@query(
    "text_quality_stats",
    oracle=f"""
WITH t AS (
    SELECT doc_id, lang, source, n_chars,
           string_split(text, ' ') AS toks,
           length(text) AS len_chars
    FROM documents
)
SELECT doc_id, lang, source,
       len(toks) AS n_tokens,
       len(list_filter(toks, w -> w IN ({_SW}))) AS n_stopwords,
       ROUND(CAST(len(list_filter(toks, w -> w IN ({_SW}))) AS DOUBLE) / len(toks), 6) AS stopword_ratio,
       ROUND(CAST(len_chars AS DOUBLE) / len(toks), 6) AS avg_token_len,
       CASE WHEN len(toks) >= 20 AND len_chars >= 100 THEN 'keep' ELSE 'drop' END AS quality_gate
FROM t
ORDER BY doc_id
""",
    tags=("text", "quality"),
)
def text_quality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents", spread=True)
    t = d.select(
        "doc_id",
        "lang",
        "source",
        F.split("text", " ").alias("toks"),
        F.length("text").alias("len_chars"),
    )
    n_toks = F.size("toks")
    n_sw = F.size(F.expr(f"filter(toks, w -> w IN ({_SW}))"))
    return t.select(
        "doc_id",
        "lang",
        "source",
        n_toks.alias("n_tokens"),
        n_sw.alias("n_stopwords"),
        F.round(n_sw.cast("double") / n_toks, 6).alias("stopword_ratio"),
        F.round(F.col("len_chars").cast("double") / n_toks, 6).alias("avg_token_len"),
        F.when((n_toks >= 20) & (F.col("len_chars") >= 100), "keep").otherwise("drop").alias("quality_gate"),
    ).orderBy("doc_id")


@query(
    "token_count_regex",
    oracle=r"""
SELECT doc_id,
       len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS n_bpe_ish_tokens,
       len(regexp_extract_all(text, '[0-9]+')) AS n_numbers,
       len(string_split(text, ' ')) AS n_ws_tokens
FROM documents
ORDER BY doc_id
""",
    tags=("text", "tokenize"),
)
def token_count_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace + a BPE-ish regex splitter."""
    d = load_table(spark, sf_dir, "documents", spread=True)
    return d.select(
        "doc_id",
        F.size(F.expr(r"regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\s]', 0)")).alias("n_bpe_ish_tokens"),
        F.size(F.expr("regexp_extract_all(text, '[0-9]+', 0)")).alias("n_numbers"),
        F.size(F.split("text", " ")).alias("n_ws_tokens"),
    ).orderBy("doc_id")


# Tiny per-language marker vocabularies for the n-gram/stopword language-ID
# heuristic. The corpus text is synthetic, so the interesting property is
# the deterministic argmax with tie-break, not linguistic accuracy.
_LANG_MARKERS = {
    "en": ("the", "and", "of"),
    "de": ("der", "und", "die"),
    "fr": ("le", "et", "les"),
    "es": ("el", "y", "los"),
    "zh": ("de", "le", "shi"),
}


def _lang_score_sql(markers: tuple[str, ...], dialect: str) -> str:
    lst = ", ".join(f"'{m}'" for m in markers)
    if dialect == "duck":
        return f"len(list_filter(string_split(text, ' '), w -> w IN ({lst})))"
    return f"size(filter(split(text, ' '), w -> w IN ({lst})))"


_DUCK_SCORES = ", ".join(f"{_lang_score_sql(m, 'duck')} AS score_{lang}" for lang, m in _LANG_MARKERS.items())
_DUCK_ARGMAX = (
    "CASE "
    + " ".join(
        f"WHEN score_{lang} = GREATEST(score_en, score_de, score_fr, score_es, score_zh) THEN '{lang}'"
        for lang in _LANG_MARKERS
    )
    + " END"
)


@query(
    "langid_heuristic",
    oracle=f"""
WITH scored AS (SELECT doc_id, lang AS actual_lang, {_DUCK_SCORES} FROM documents)
SELECT doc_id, actual_lang, {_DUCK_ARGMAX} AS predicted_lang,
       score_en, score_de, score_fr, score_es, score_zh
FROM scored
ORDER BY doc_id
""",
    tags=("text", "langid"),
)
def langid_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language ID: argmax over per-language hit counts with
    first-match (declaration-order) tie-break — identical CASE both sides."""
    d = load_table(spark, sf_dir, "documents", spread=True)
    scored = d.select(
        "doc_id",
        F.col("lang").alias("actual_lang"),
        *[F.expr(_lang_score_sql(m, "spark")).alias(f"score_{lang}") for lang, m in _LANG_MARKERS.items()],
    )
    best = F.greatest(*[F.col(f"score_{lang}") for lang in _LANG_MARKERS])
    pred = F.when(F.col("score_en") == best, "en")
    for lang in list(_LANG_MARKERS)[1:]:
        pred = pred.when(F.col(f"score_{lang}") == best, lang)
    return scored.select(
        "doc_id",
        "actual_lang",
        pred.alias("predicted_lang"),
        *[f"score_{lang}" for lang in _LANG_MARKERS],
    ).orderBy("doc_id")


@query(
    "doc_fingerprint_winnow",
    oracle="""
WITH grams AS (
    -- COALESCE: a NULL text fingerprints like an empty one ('' row),
    -- identically on both engines
    SELECT doc_id,
           list_transform(generate_series(1, greatest(length(COALESCE(text, '')) - 7, 1)),
                          i -> substr(md5(substr(COALESCE(text, ''), i, 8)), 1, 16)) AS hs
    FROM documents
)
SELECT doc_id,
       array_to_string(list_sort(list_distinct(list_transform(
           generate_series(1, greatest(len(hs) - 3, 1)),
           i -> list_min(hs[i:i+3])))), ',') AS fingerprints
FROM grams
ORDER BY doc_id
""",
    tags=("text", "fingerprint"),
)
def doc_fingerprint_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprint: 8-char-gram md5 hashes, min per
    sliding window of 4, distinct + sorted. (Rolling-hash fingerprinting
    re-expressed with cryptographic gram hashes so both engines agree.)"""
    d = load_table(spark, sf_dir, "documents", spread=True)
    # let-bind the gram-hash array: referenced by size() and per-element
    # slice(); without binding, the md5 pass would re-run O(n) times.
    fp_expr = let_bound(
        "transform(sequence(1, greatest(length(coalesce(text, '')) - 7, 1)), i -> substring(md5(substring(coalesce(text, ''), i, 8)), 1, 16))",
        "array_join(array_sort(array_distinct(transform(sequence(1, greatest(size({x}) - 3, 1)), i -> array_min(slice({x}, i, 4))))), ',')",
    )
    return d.select("doc_id", F.expr(fp_expr).alias("fingerprints")).orderBy("doc_id")


@query(
    "lang_source_rollup",
    oracle="""
SELECT lang, source, GROUPING(lang) AS g_lang, GROUPING(source) AS g_source,
       COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars
FROM documents
GROUP BY ROLLUP(lang, source)
""",
    tags=("text", "rollup"),
)
def lang_source_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents", spread=True)
    return d.rollup("lang", "source").agg(
        F.grouping("lang").alias("g_lang"),
        F.grouping("source").alias("g_source"),
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("avg_chars"),
    )


# --------------------------------------------------------------------------
# Rabin-Karp polynomial rolling hash (exact integer fingerprinting)
# --------------------------------------------------------------------------
# hash(s) = fold(h -> h*B + code(c) mod M); B=257, M=2^31-1 keeps every
# intermediate < 2^63 so bigint math is exact in BOTH engines.
@query(
    "doc_rolling_hash_rabin",
    oracle="""
WITH chars AS (
    -- COALESCE: a NULL text hashes like an empty one, both engines
    SELECT doc_id, length(text) AS n_chars_txt,
           list_transform(generate_series(1, length(COALESCE(text, ''))),
                          i -> ord(substr(COALESCE(text, ''), i, 1))) AS cs
    FROM documents
), hashed AS (
    SELECT doc_id, n_chars_txt,
           list_reduce(list_prepend(CAST(0 AS BIGINT), cs),
                       (h, c) -> (h * 257 + c) % 2147483647) AS full_hash,
           list_transform(generate_series(0, GREATEST(CAST(CEIL(len(cs) / 64.0) AS BIGINT), 1) - 1),
                          b -> list_reduce(list_prepend(CAST(0 AS BIGINT), cs[(b*64+1):(b*64+64)]),
                                           (h, c) -> (h * 257 + c) % 2147483647)) AS block_hashes
    FROM chars
)
SELECT doc_id, n_chars_txt, full_hash,
       len(block_hashes) AS n_blocks,
       len(list_distinct(block_hashes)) AS n_distinct_blocks,
       list_min(block_hashes) AS min_block_hash
FROM hashed
ORDER BY doc_id
""",
    tags=("text", "fingerprint", "rolling-hash"),
)
def doc_rolling_hash_rabin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rabin-Karp polynomial fingerprints, computed with EXACT integer
    folds (base 257 mod 2^31-1 — every intermediate fits a bigint, so
    the hash is bit-identical in any engine): the full-document hash
    plus per-64-char-block hashes (the content-defined-chunk shape used
    for shift-tolerant dedup), with block distinctness and the min block
    hash (the winnowing selector) as summary columns.

    Scale shape: pure map-side higher-order expressions over the scan —
    char codes, one fold per block, zero shuffles before the final sort;
    the fingerprint columns are what a dedup pass would shuffle, never
    the text."""
    d = load_table(spark, sf_dir, "documents", spread=True)
    fold = "(acc, c) -> (acc * 257 + c) % 2147483647"
    expr = let_bound(
        "transform(sequence(1, length(coalesce(text, ''))), i -> ascii(substring(coalesce(text, ''), i, 1)))",
        "struct("
        f" aggregate({{x}}, cast(0 as bigint), {fold}) AS full_hash,"
        # greatest(...,1): Spark sequence(0,-1) DESCENDS for empty text while
        # DuckDB generate_series(0,-1) is empty — clamp to one (empty) block
        " transform(sequence(0, greatest(cast(ceil(size({x}) / 64.0) as bigint), 1) - 1),"
        f"  b -> aggregate(slice({{x}}, b*64+1, 64), cast(0 as bigint), {fold})) AS block_hashes"
        ")",
    )
    h = d.select(
        "doc_id",
        F.length("text").alias("n_chars_txt"),
        F.expr(expr).alias("h"),
    )
    return h.select(
        "doc_id",
        "n_chars_txt",
        F.col("h.full_hash").alias("full_hash"),
        F.size("h.block_hashes").cast("long").alias("n_blocks"),
        F.size(F.array_distinct("h.block_hashes")).cast("long").alias("n_distinct_blocks"),
        F.array_min("h.block_hashes").alias("min_block_hash"),
    ).orderBy("doc_id")
