"""BPE merge-table training + application — the tokenizer-fitting stage
of a training-data pipeline, run in-engine.

Byte-pair encoding (Sennrich et al., ACL 2016) trains on the WORD
FREQUENCY table, not the corpus: each merge step counts adjacent symbol
pairs weighted by word frequency, picks the most frequent pair, and
fuses it everywhere. The corpus-sized work is the one tokenize+count
pass; every iteration after that touches only the vocabulary (sublinear
in corpus size — the 100 TB property that makes in-engine BPE sane).

Both queries unroll a FIXED number of merge steps (the same
deterministic-unroll technique as the k-means oracle in similarity.py):
each step is two vocabulary-sized aggregates plus a broadcast 1-row
cross join carrying the winning pair into the merge expression. The
greedy left-to-right merge pass itself is a string fold over the
symbol list — identical lambda semantics on both engines, pinned by
tests/test_bpe.py against a pure-Python reference implementation.

Reference scope note: the reference warehouse (649 LoC ETL) has no
tokenizer stage; this family belongs to the LLM-data-pipeline surface
the engine adds on top (SURVEY.md §2 addendum).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import load_table, materialize, materialize_lazy
from .registry import query
from .text_common import tokens_arr, tokens_arr_duck

_BPE_STEPS = 4

# --- shared fragments (one definition per engine, same rule as
# text_common: a drifted copy would desynchronize train and apply) ----------

# greedy left-to-right merge of one (p1, p2) pair over a space-separated
# symbol string, as a fold: start from the first symbol; for each next
# symbol x, if x == p2 and the accumulated string's LAST symbol == p1
# (exactly p1, or preceded by a space — symbols are letter runs, so the
# string test is symbol-exact), append x WITHOUT the separator (the
# merged symbol is p1||p2); else append ' '||x. Non-overlap is free:
# after a merge the last symbol becomes p1||p2 != p1 (p2 is non-empty),
# so a chain like pair=(a,a) over 'a a a a' yields 'aa aa', exactly the
# reference BPE pass.
_MERGE_SPARK = (
    "aggregate("
    "  slice(split({sym}, ' '), 2, greatest(size(split({sym}, ' ')) - 1, 0)),"
    "  element_at(split({sym}, ' '), 1),"
    "  (acc, x) -> CASE WHEN x = {p2} AND (acc = {p1} OR endswith(acc, concat(' ', {p1})))"
    "              THEN concat(acc, x) ELSE concat(acc, ' ', x) END)"
)
_MERGE_DUCK = (
    "list_reduce(string_split({sym}, ' '),"
    " (acc, x) -> CASE WHEN x = {p2} AND (acc = {p1} OR ends_with(acc, ' ' || {p1}))"
    "             THEN acc || x ELSE acc || ' ' || x END)"
)

# adjacent symbol pairs of a space-separated symbol string
_PAIRS_SPARK = (
    "zip_with("
    "  slice(split({sym}, ' '), 1, greatest(size(split({sym}, ' ')) - 1, 0)),"
    "  slice(split({sym}, ' '), 2, greatest(size(split({sym}, ' ')) - 1, 0)),"
    "  (a, b) -> concat(a, ' ', b))"
)
_PAIRS_DUCK = (
    "list_transform(generate_series(1, len(string_split({sym}, ' ')) - 1),"
    " j -> string_split({sym}, ' ')[j] || ' ' || string_split({sym}, ' ')[j + 1])"
)


_WORDS_FROM_DOCS_DUCK = f"""SELECT t AS word, COUNT(*) AS freq
    FROM (SELECT UNNEST({tokens_arr_duck()}) AS t FROM documents)
    GROUP BY t"""


def _duck_train_ctes(words_body: str = _WORDS_FROM_DOCS_DUCK) -> str:
    """DuckDB CTE unroll of the BPE trainer: words -> s0, then per step
    i: p{i} (weighted pair counts) -> b{i} (argmax pair, ties to the
    lexicographically smaller) -> s{i} (vocabulary re-segmented).

    `words_body` lets a caller feed the word-frequency table from an
    already-tokenized CTE (bpe_apply_fertility derives it as a rollup
    of its per-(lang, word) counts — ONE corpus tokenize, not two).

    The per-step re-segment is a LEFT JOIN ON TRUE, not a CROSS JOIN:
    if a step finds no remaining pair (a degenerate corpus fully fused
    before _BPE_STEPS), b{{i}} is empty and a cross join would EMPTY
    the vocabulary; the left join keeps every word and the merge fold
    with NULL p1/p2 is the identity (x = NULL is never true), so the
    previous segmentation carries forward unchanged."""
    parts = [
        f"""words AS (
    {words_body}
), s0 AS (
    SELECT word, rtrim(regexp_replace(word, '(.)', '\\1 ', 'g')) AS sym, freq
    FROM words
)"""
    ]
    for i in range(1, _BPE_STEPS + 1):
        prev = f"s{i - 1}"
        pairs = _PAIRS_DUCK.format(sym="sym")
        merge = _MERGE_DUCK.format(sym=f"{prev}.sym", p1=f"b{i}.p1", p2=f"b{i}.p2")
        parts.append(
            f"""p{i} AS (
    SELECT pair, CAST(SUM(freq) AS BIGINT) AS cnt
    FROM (SELECT UNNEST({pairs}) AS pair, freq FROM {prev})
    GROUP BY pair
), b{i} AS (
    SELECT {i} AS step, pair, cnt,
           split_part(pair, ' ', 1) AS p1, split_part(pair, ' ', 2) AS p2
    FROM p{i} ORDER BY cnt DESC, pair ASC LIMIT 1
), s{i} AS (
    SELECT word, {merge} AS sym, freq FROM {prev} LEFT JOIN b{i} ON TRUE
)"""
        )
    return ",\n".join(parts)


_TRAIN_FINAL = " UNION ALL ".join(
    f"SELECT step, pair, cnt FROM b{i}" for i in range(1, _BPE_STEPS + 1)
)


def _spark_train(spark: SparkSession, sf_dir: str, words: DataFrame | None = None):
    """Shared Spark trainer: returns (merge-table DataFrame rows
    [step, pair, cnt], final vocabulary DataFrame [word, sym, freq]).

    `words` (word, freq) lets a caller that already tokenized the
    corpus feed the frequency table directly (bpe_apply_fertility
    rolls its per-(lang, word) counts up) — the corpus is tokenized
    exactly once per query.

    Each step's vocabulary is persisted (materialize_lazy): it feeds
    both the pair count and the next step's merge, and the chain would
    otherwise recompute the corpus tokenize once per step (O(steps)
    corpus passes instead of one).

    The per-step argmax pair is COLLECTED (exactly one row by
    construction — `limit(1)` — the same bounded-cardinality driver
    transfer as the k-means centroid collect) and inlined as string
    literals into the merge fold. The previous broadcast-join
    formulation made step i's plan reference step i-1 TWICE (directly
    and through the argmax subtree), so the logical tree grew 2^steps
    — 44k formatted-plan lines and multi-second Catalyst analysis per
    action at 4 steps. With literals the lineage is a linear chain;
    the collect doubles as the forcing action that builds the step's
    vocabulary cache (one TakeOrdered job per step, no eager count,
    no BroadcastExchange build)."""
    if words is None:
        d = load_table(spark, sf_dir, "documents", spread=True)
        words = (
            d.select(F.explode(tokens_arr("text")).alias("word"))
            .groupBy("word")
            .agg(F.count(F.lit(1)).alias("freq"))
        )
    s = materialize_lazy(
        words.select(
            "word",
            F.expr("rtrim(regexp_replace(word, '(.)', '$1 '))").alias("sym"),
            "freq",
        )
    )

    def _q(v: str) -> str:
        # escape backslashes BEFORE quote-doubling (ADVICE r11): Spark's
        # default string-literal escaping would mangle a backslash in a
        # merge-pair token inlined via F.expr. Unreachable for the
        # letters-only tokens_arr symbols, but _spark_train accepts
        # arbitrary caller-supplied words frames.
        return "'" + v.replace("\\", "\\\\").replace("'", "''") + "'"

    merge_rows: list[tuple[int, str, int]] = []
    for i in range(1, _BPE_STEPS + 1):
        pc = (
            s.select(F.explode(F.expr(_PAIRS_SPARK.format(sym="sym"))).alias("pair"), "freq")
            .groupBy("pair")
            .agg(F.sum("freq").alias("cnt"))
        )
        top = pc.orderBy(F.col("cnt").desc(), F.col("pair").asc()).limit(1).collect()
        if not top:
            # degenerate corpus fully fused before _BPE_STEPS: the
            # previous segmentation carries forward unchanged, and no
            # later step can find a pair either (s is unchanged) — the
            # oracle's empty b{i} contributes no merge row, same here
            break
        pair, cnt = top[0]["pair"], top[0]["cnt"]
        p1, p2 = pair.split(" ", 1)
        merge_rows.append((i, pair, cnt))
        s = materialize_lazy(
            s.select(
                "word",
                F.expr(_MERGE_SPARK.format(sym="sym", p1=_q(p1), p2=_q(p2))).alias("sym"),
                "freq",
            )
        )
    table = spark.createDataFrame(merge_rows, schema="step int, pair string, cnt bigint")
    return table, s


@query(
    "bpe_merge_train",
    oracle=f"""
WITH {_duck_train_ctes()}
SELECT step, pair, cnt FROM ({_TRAIN_FINAL}) ORDER BY step
""",
    tags=("text", "bpe", "tokenizer"),
)
def bpe_merge_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge-table training, 4 unrolled greedy steps (_BPE_STEPS):
    emits (step, winning pair, weighted pair count) — the learned merge
    table a tokenizer would serialize.

    100 TB shape: ONE corpus-sized tokenize+count shuffle builds the
    word-frequency table; every merge step after that is two
    vocabulary-sized aggregates (pair explode ~ symbols-per-word x
    vocab) plus a broadcast single-row cross join carrying the argmax
    pair into the merge fold — no driver loop over data, no growth
    with corpus size beyond the initial count. The greedy merge pass
    is a string fold with identical lambda semantics on both engines
    (see _MERGE_SPARK/_MERGE_DUCK; pinned vs a pure-Python reference
    in tests/test_bpe.py)."""
    table, _ = _spark_train(spark, sf_dir)
    return table.orderBy("step")


@query(
    "bpe_apply_fertility",
    oracle=f"""
WITH langw AS (
    SELECT lang, t AS word, COUNT(*) AS freq
    FROM (SELECT lang, UNNEST({tokens_arr_duck()}) AS t FROM documents)
    GROUP BY lang, t
),
{_duck_train_ctes(words_body='''SELECT word, CAST(SUM(freq) AS BIGINT) AS freq
    FROM langw GROUP BY word''')}
SELECT l.lang,
       CAST(SUM(l.freq) AS BIGINT) AS n_words,
       CAST(SUM(l.freq * len(string_split(v.sym, ' '))) AS BIGINT) AS n_tokens,
       ROUND(CAST(SUM(l.freq * len(string_split(v.sym, ' '))) AS DOUBLE)
             / SUM(l.freq), 6) AS fertility
FROM langw l JOIN s{_BPE_STEPS} v USING (word)
GROUP BY l.lang
ORDER BY l.lang
""",
    tags=("text", "bpe", "tokenizer"),
)
def bpe_apply_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the trained merge table: per-language token fertility
    (subword tokens per word) under the learned segmentation — the
    go/no-go metric for whether a tokenizer fits a corpus slice.

    Application reuses the trainer's final vocabulary segmentation
    (word -> sym) and joins it to per-(lang, word) frequencies: the
    corpus is never re-segmented row by row — at 100 TB the join is
    (lang x vocab)-sized against a vocabulary-sized dimension (AQE
    broadcasts it when it fits).

    The corpus is tokenized ONCE: the per-(lang, word) aggregate is the
    only corpus-sized shuffle, and the trainer's word-frequency table
    is a (lang x vocab)-sized rollup of it (SUM over lang) — feeding
    the trainer its own tokenize would re-explode the same corpus a
    second time for zero information."""
    d = load_table(spark, sf_dir, "documents", spread=True)
    langw = materialize(
        d.select("lang", F.explode(tokens_arr("text")).alias("word"))
        .groupBy("lang", "word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    words = langw.groupBy("word").agg(F.sum("freq").alias("freq"))
    _, vocab = _spark_train(spark, sf_dir, words=words)
    n_tok = F.sum(F.col("freq") * F.size(F.split("sym", " ")))
    return (
        langw.join(vocab.select("word", "sym"), "word")
        .groupBy("lang")
        .agg(
            F.sum("freq").alias("n_words"),
            n_tok.alias("n_tokens"),
            F.round(n_tok.cast("double") / F.sum("freq"), 6).alias("fertility"),
        )
        .orderBy("lang")
    )
