"""Second text-analysis wave: TF-IDF term ranking and a salted skewed
aggregation, both oracle-checked."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.skew import salted_agg
from ..session import load_table, materialize
from .registry import query
from .text_common import bigram_zip_expr, tokens_arr, tokens_arr_duck


@query(
    "text_tfidf_topterms",
    oracle="""
WITH toks AS (
    SELECT doc_id, UNNEST(string_split(lower(regexp_replace(text, '[^a-zA-Z ]', ' ', 'g')), ' ')) AS term
    FROM documents
), terms AS (
    SELECT doc_id, term, COUNT(*) AS tf
    FROM toks WHERE len(term) >= 3
    GROUP BY doc_id, term
), df AS (
    SELECT term, COUNT(DISTINCT doc_id) AS docfreq FROM terms GROUP BY term
), n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
    SELECT t.doc_id, t.term,
           ROUND(t.tf * LN((n.n_docs + 1.0) / (df.docfreq + 1.0)), 6) AS tfidf
    FROM terms t JOIN df USING (term) CROSS JOIN n
)
SELECT doc_id, term, tfidf, rk FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rk
    FROM scored
) WHERE rk <= 3
ORDER BY doc_id, rk
""",
    tags=("text", "tfidf"),
)
def text_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document.

    Classic two-aggregation shape: term frequencies per doc (shuffle on
    (doc, term)), document frequencies (shuffle on term, map-side
    combined), broadcast the doc count, window top-k. The df table is
    vocabulary-sized — at 100 TB it broadcasts; the big shuffles carry
    only (doc_id, term, count) triples, never text.
    """
    d = load_table(spark, sf_dir, "documents", spread=True)
    # one regex pass (split on non-letter runs) — token-identical to the
    # oracle's replace+split, ~20% cheaper (text_common.tokens_arr note)
    toks = d.select(
        "doc_id",
        F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("term"),
    ).filter(F.length("term") >= 3)
    terms = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # docfreq = plain count over the already-unique (doc_id, term) rows,
    # NOT countDistinct (which plans its own (term, doc_id)
    # pre-aggregation — a different exchange, defeating ReusedExchange
    # and re-running scan+tokenize+agg). The tf > 0 predicate (always
    # true) stops column pruning from dropping tf out of this branch's
    # child aggregate, which would again make the two exchanges differ.
    # Net effect: ONE tokenization, both consumers read the same
    # (doc_id, term) exchange (ReusedExchange, plan-asserted).
    dfreq = terms.groupBy("term").agg(
        F.count(F.when(F.col("tf") > 0, 1)).alias("docfreq")
    )
    # corpus size as a 1-row broadcast, NOT d.count(): keeps the whole
    # query one lazy plan (no driver-side job at DataFrame-build time)
    nd = F.broadcast(d.agg(F.count(F.lit(1)).alias("n_docs")))
    scored = (
        terms.join(F.broadcast(dfreq), "term")
        .crossJoin(nd)
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf")
                * F.log((F.col("n_docs") + 1.0) / (F.col("docfreq") + 1.0)),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "term")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "term", "tfidf", "rk")
        .orderBy("doc_id", "rk")
    )


@query(
    "salted_skew_aggregate",
    oracle="""
SELECT event_type,
       COUNT(*) AS n,
       SUM(CAST(value AS DECIMAL(38,6))) AS total,
       MIN(value) AS lo,
       MAX(value) AS hi
FROM events
GROUP BY event_type
ORDER BY event_type
""",
    tags=("skew", "salting", "B7"),
)
def salted_skew_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skewed GROUP BY (5 event types over all rows) via explicit
    two-phase salting — result identical to the direct aggregation
    (decimal/long merges are associative), reduction work spread over
    16 salted subkeys per hot key."""
    e = load_table(spark, sf_dir, "events")
    return salted_agg(
        e,
        ["event_type"],
        {
            "n": ("count", F.lit(1)),
            "total": ("sum", F.col("value").cast("decimal(38,6)")),
            "lo": ("min", F.col("value")),
            "hi": ("max", F.col("value")),
        },
        salt=16,
    ).orderBy("event_type")


@query(
    "ngram_bigram_topk",
    oracle=f"""
WITH toks AS (
    SELECT doc_id, {tokens_arr_duck('text', 2)} AS ts
    FROM documents
), grams AS (
    SELECT UNNEST(list_transform(generate_series(1, len(ts) - 1),
                  i -> ts[i] || ' ' || ts[i+1])) AS bigram
    FROM toks
)
SELECT bigram, COUNT(*) AS n FROM grams
GROUP BY bigram
HAVING COUNT(*) >= 5
ORDER BY n DESC, bigram
LIMIT 50
""",
    tags=("text", "ngram"),
)
def ngram_bigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-50 word bigrams (n >= 5). Bigrams are built with
    a JVM-side transform over the token array (zip of the array with its
    tail) — no Python, one shuffle on the bigram key."""
    d = load_table(spark, sf_dir, "documents", spread=True)
    toks = d.select(tokens_arr("text", 2).alias("ts"))
    grams = toks.select(
        F.explode(F.expr(bigram_zip_expr("ts", "concat(a, ' ', b)"))).alias("bigram")
    )
    return (
        grams.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 5)
        .orderBy(F.col("n").desc(), "bigram")
        .limit(50)
    )


@query(
    "fuzzy_match_levenshtein",
    oracle="""
WITH names AS (
    -- exact-dedup stage first: fuzzy matching operates on DISTINCT
    -- names, each represented by its smallest key (exact duplicates
    -- are the exact-dedup operator's job, and duplicate groups grow
    -- with the corpus — verifying inside them is quadratic work for
    -- zero linkage information)
    SELECT c_name, MIN(c_custkey) AS key_a
    FROM customer WHERE c_name IS NOT NULL AND c_custkey % 25 = 0
    GROUP BY c_name
), blk AS (
    SELECT key_a, c_name,
           substr(c_name, 1, 16) AS block
    FROM names
), pairs AS (
    SELECT a.key_a, b.key_a AS best_match,
           levenshtein(a.c_name, b.c_name) AS edit_dist
    FROM blk a JOIN blk b
      ON a.block = b.block AND a.c_name <> b.c_name
    WHERE levenshtein(a.c_name, b.c_name) <= 2
)
SELECT key_a, best_match, edit_dist FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY key_a
                ORDER BY edit_dist ASC, best_match ASC) AS rk
    FROM pairs
) WHERE rk = 1
ORDER BY key_a
""",
    tags=("fuzzy", "levenshtein", "blocking"),
)
def fuzzy_match_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy record matching as a linkage pipeline runs it: exact-dedup
    first (DISTINCT names of the flagged % 25 subset, each represented
    by its smallest key), block the distinct names on a FIXED-LENGTH
    16-char prefix, verify same-block pairs with edit distance <= 2,
    and report each name's BEST match (min distance, ties to the
    smallest representative key) — one output row per matchable name.
    The prefix is fixed-length on purpose: a length-relative prefix
    (all-but-last-2) gives different-length names different blocks, so
    NO insertion/deletion edit is ever detectable — with a fixed
    prefix, edits (of all three kinds) beyond char 16 are caught, and
    only edits inside the prefix are traded away.

    Three scale classes fixed here, all caught by the round-8 registry
    sweep (92x wall for 10x data, 2.4s -> 221s at sf1):
    - candidate pairs were ALL pairs of the % 25 subset (the round-7
      probe-panel class, for pair generation): O(n^2) by construction.
      The block key in the join bounds candidates to same-block pairs.
    - pair ENUMERATION is quadratic inside exact-duplicate groups, and
      duplicate groups grow WITH the corpus (the scale corpora tile
      each base name 10x per decade — emit-every-pair grew 130x rows
      at 10x data, and even top-1 output still paid b^2 verify work,
      43x at the second decade). Exact-dedup-first collapses each
      group to one representative: fuzzy VERIFY work is bounded by
      distinct-name count, the corpus contributes only a linear
      group-by.
    - best-match (top-1) output instead of all pairs: linear output at
      any match multiplicity.
    Blocking recall: an edit inside the blocked prefix is missed — at
    scale you run 2-3 complementary blocking passes (phonetic key,
    sorted-neighborhood) and union, same dataflow per pass. NULL names
    are unmatchable and excluded on both engines."""
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_name").isNotNull() & (F.col("c_custkey") % 25 == 0)
    )
    names = c.groupBy("c_name").agg(F.min("c_custkey").alias("key_a"))
    blk = names.select(
        "key_a",
        "c_name",
        F.expr("substr(c_name, 1, 16)").alias("block"),
    )
    a = blk.select(
        F.col("key_a"),
        F.col("c_name").alias("na"),
        F.col("block").alias("ba"),
    )
    b = blk.select(
        F.col("key_a").alias("best_match"),
        F.col("c_name").alias("nb"),
        F.col("block").alias("bb"),
    )
    pairs = (
        a.join(b, (F.col("ba") == F.col("bb")) & (F.col("na") != F.col("nb")))
        .select("key_a", "best_match", F.levenshtein("na", "nb").alias("edit_dist"))
        .filter(F.col("edit_dist") <= 2)
    )
    w = Window.partitionBy("key_a").orderBy(
        F.col("edit_dist").asc(), F.col("best_match").asc()
    )
    return (
        pairs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("key_a", "best_match", "edit_dist")
        .orderBy("key_a")
    )


# --------------------------------------------------------------------------
# regexp_extract_all battery: multi-match extraction + array aggregation
# --------------------------------------------------------------------------
@query(
    "regexp_extract_all_ops",
    oracle="""
SELECT doc_id,
       LEN(regexp_extract_all(text, '[a-z]*an[a-z]*', 0)) AS n_an_words,
       LEN(regexp_extract_all(text, 'scan|sort|join|merge', 0)) AS n_op_words,
       COALESCE(array_to_string(regexp_extract_all(text, 'scan|sort|join|merge', 0)[1:5], ','), '') AS first_ops,
       LEN(regexp_extract_all(text, '\\b[a-z]{6,}\\b', 0)) AS n_long_words
FROM documents
ORDER BY doc_id
""",
    tags=("regexp", "extract-all", "text"),
)
def regexp_extract_all_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-match regex extraction: count every match of several
    patterns per document and carry the first few matches as a joined
    string (regexp_extract_all -> slice -> array_join). Group index 0
    is passed explicitly on both engines (Spark defaults to 1, DuckDB
    to 0 — an easy cross-engine trap).

    Scale notes: pure JVM-side string expressions inside whole-stage
    codegen — one scan of documents, no shuffle except the final sort
    for display determinism.
    """
    d = load_table(spark, sf_dir, "documents", spread=True)
    ops = F.regexp_extract_all(F.col("text"), F.lit("scan|sort|join|merge"), 0)
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("text"), F.lit("[a-z]*an[a-z]*"), 0)).alias("n_an_words"),
        F.size(ops).alias("n_op_words"),
        # COALESCE('') mirrors the oracle: a NULL text has no matches —
        # the joined string is '' on both engines, not NULL-vs-''
        F.coalesce(F.array_join(F.slice(ops, 1, 5), ","), F.lit("")).alias(
            "first_ops"
        ),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(r"\b[a-z]{6,}\b"), 0)).alias("n_long_words"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# Tokenizer-prep: vocabulary coverage / OOV rate
# --------------------------------------------------------------------------
_VOCAB_K = 1000

@query(
    "vocab_oov_coverage",
    oracle=f"""
WITH toks AS (
    SELECT doc_id, UNNEST(string_split(text, ' ')) AS term FROM documents
), freq AS (
    SELECT term, COUNT(*) AS c FROM toks GROUP BY term
), vocab AS (
    SELECT term FROM (
        SELECT term, ROW_NUMBER() OVER (ORDER BY c DESC, term) AS rk FROM freq
    ) WHERE rk <= {_VOCAB_K}
)
SELECT t.doc_id,
       COUNT(*) AS n_tokens,
       CAST(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       ROUND(CAST(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS oov_rate
FROM toks t LEFT JOIN vocab v ON t.term = v.term
GROUP BY t.doc_id
ORDER BY t.doc_id
""",
    tags=("text", "vocab", "tokenizer-prep"),
)
def vocab_oov_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage: build the top-1000 corpus vocabulary by term
    frequency (deterministic rank: count DESC, term ASC), then score every
    document's out-of-vocabulary token count and rate — the standard
    pre-tokenizer corpus health check.

    Scale shape: term frequencies shuffle once on the term key (map-side
    combined); the vocabulary is top-K and therefore tiny — it BROADCASTS
    to the per-token membership join, so the second pass is map-side only
    plus the final doc_id aggregation. At 100 TB the vocab stays KB-MB
    regardless of corpus size (K is fixed), so the plan shape is
    scan + 2 small shuffles, never a big-big join."""
    d = load_table(spark, sf_dir, "documents", spread=True)
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    freq = toks.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    # top-K via orderBy+limit = TakeOrderedAndProject: per-partition
    # partial top-K merged on the driver — no single-partition global
    # window sort over the whole term space.
    vocab = (
        freq.orderBy(F.col("c").desc(), "term")
        .limit(_VOCAB_K)
        .select("term", F.lit(1).alias("in_vocab"))
    )
    return (
        toks.join(F.broadcast(vocab), "term", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_oov"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_oov",
            F.round(F.col("n_oov").cast("double") / F.col("n_tokens"), 6).alias("oov_rate"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Bigram language-model quality scoring (corpus-trained, add-one smoothed)
# --------------------------------------------------------------------------
_LM_TOKS_DUCK = f"""
    SELECT doc_id, {tokens_arr_duck('text', 2)} AS ts
    FROM documents
"""


@query(
    "lm_bigram_doc_score",
    oracle=f"""
WITH toks AS ({_LM_TOKS_DUCK}),
bg AS (
    SELECT doc_id, UNNEST(list_zip(ts[1:-2], ts[2:-1])) AS z
    FROM toks WHERE len(ts) >= 2
), db AS (
    SELECT doc_id, z[1] AS w1, z[2] AS w2 FROM bg
), db2 AS (
    SELECT doc_id, w1, w2, COUNT(*) AS occ FROM db GROUP BY doc_id, w1, w2
), c2 AS (
    SELECT w1, w2, SUM(occ) AS n2 FROM db2 GROUP BY w1, w2
), c1 AS (
    SELECT w1, SUM(n2) AS n1 FROM c2 GROUP BY w1
), v AS (
    SELECT COUNT(*) AS vocab FROM c1
), scored AS (
    SELECT d.doc_id, d.occ,
           CAST(CAST(ROUND(ln((c2.n2 + 1) / CAST(c1.n1 + v.vocab AS DOUBLE)), 6)
                AS DECIMAL(38,6)) * d.occ AS DECIMAL(38,6)) AS lp_tot
    FROM db2 d
    JOIN c2 ON d.w1 = c2.w1 AND d.w2 = c2.w2
    JOIN c1 ON d.w1 = c1.w1
    CROSS JOIN v
)
SELECT doc_id,
       CAST(SUM(occ) AS BIGINT) AS n_bigrams,
       ROUND(CAST(SUM(lp_tot) AS DOUBLE) / SUM(occ), 6) AS avg_logprob
FROM scored
GROUP BY doc_id
ORDER BY doc_id
""",
    tags=("text", "lm", "quality-scoring"),
)
def lm_bigram_doc_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document fluency score from a corpus-trained bigram LM with
    add-one smoothing: avg over the doc's bigrams of
    ln((C(w1,w2)+1) / (C(w1)+V)) — the classic perplexity-style quality
    screen (gibberish and boilerplate score low) that needs no external
    model.

    Shapes at 100 TB: the corpus is tokenized ONCE — everything hangs
    off the per-(doc, w1, w2) occurrence aggregate db2, which is
    MATERIALIZED (session.materialize) before fan-out. Without it the
    probe, c2, c1 and V subtrees each re-run the bigram explode — the
    dominant cost (the explode is ~n_tokens rows; db2 is ~50x smaller)
    — and AQE's ReusedExchange cannot dedupe them (the probe side has
    no exchange once the model broadcasts, and c1/V hang off different
    partial-agg subtrees). Measured round 6 at sf1: 24.1 s -> 13.2 s;
    the remaining time is one tokenize+explode pass, which is
    scan-proportional and irreducible without changing tokenizer
    semantics. The checkpoint is executor-local storage of the
    aggregate (linear in corpus, ~50x smaller than the token stream) —
    exactly what a production LM-scoring pipeline persists anyway.
    Determinism: each log is rounded
    to 6 decimals, weighted by the exact integer occurrence count and
    summed as DECIMAL(38,6) — arrival order can never flip a bit (ln
    inputs are exact-integer ratios, identical in both engines)."""
    d = load_table(spark, sf_dir, "documents", spread=True)
    toks = d.select("doc_id", tokens_arr("text", 2).alias("ts"))
    db = toks.filter(F.size("ts") >= 2).select(
        "doc_id",
        F.explode(
            F.expr(bigram_zip_expr("ts", "struct(a AS w1, b AS w2)"))
        ).alias("g"),
    ).select("doc_id", "g.w1", "g.w2")
    db2 = (
        db.groupBy("doc_id", "w1", "w2")
        .agg(F.count(F.lit(1)).alias("occ"))
        .transform(materialize)
    )
    c2 = db2.groupBy("w1", "w2").agg(F.sum("occ").alias("n2"))
    c1 = c2.groupBy("w1").agg(F.sum("n2").alias("n1"))
    v = F.broadcast(c1.agg(F.count(F.lit(1)).alias("vocab")))
    # no forced broadcast of the bigram model: |distinct (w1,w2)| grows
    # with the corpus for natural text — AQE broadcasts when it fits,
    # shuffle-joins otherwise; the single-tokenize ReusedExchange only
    # needs the two db2 subtrees identical, not a broadcast
    model = c2.join(F.broadcast(c1), "w1").crossJoin(v)
    lp = F.round(
        F.log((F.col("n2") + 1) / (F.col("n1") + F.col("vocab")).cast("double")), 6
    ).cast("decimal(38,6)")
    scored = db2.join(model, ["w1", "w2"]).select(
        "doc_id",
        "occ",
        (lp * F.col("occ")).cast("decimal(38,6)").alias("lp_tot"),
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.sum("occ").alias("n_bigrams"),
            F.round(F.sum("lp_tot").cast("double") / F.sum("occ"), 6).alias(
                "avg_logprob"
            ),
        )
        .orderBy("doc_id")
    )
