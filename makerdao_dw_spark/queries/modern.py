"""Modern Spark-4 API surface: Python UDTF, per-line CSV/XML parsing,
VARIANT semi-structured access.

The reference stores decoded payloads as plain relational columns and
ships no semi-structured parsing at all (its one JSON-ish surface is the
ABI file loader, functions.py:20-37). A warehouse replacing it ingests
raw exports too — CSV/XML lines and JSON blobs — so the engine declares
that surface as first-class, each with a DuckDB oracle:

- ``udtf_split_words``  — a Python UDTF (arrow-optimized table function,
  Spark 4 `@udtf`) lateral-joined per document; the UDTF family is the
  engine's extension point for custom row-generating operators.
- ``csv_line_parse``    — `from_csv` line → typed struct → aggregate.
- ``xml_line_parse``    — `from_xml` line → typed struct → aggregate.
- ``variant_json_extract`` — `parse_json` → VARIANT → `variant_get`
  typed path access (the open-type column pattern for 100 TB ingest:
  parse once, bind types at query time, no reprocessing on schema
  drift).

UDTFs are the deliberate slow path (row-Python) — used here on a bounded
input; the CSV/XML/VARIANT parsers are JVM expressions and stay inside
whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import udtf

from ..session import load_table
from .registry import query


# --------------------------------------------------------------------------
# Python UDTF: split a document into (pos, word) rows, lateral-joined.
# --------------------------------------------------------------------------
@udtf(returnType="pos int, word string")
class _SplitWords:
    def eval(self, text: str):  # noqa: ANN001 - UDTF protocol
        if text is None:
            return
        for i, w in enumerate(text.split(" ")):
            yield i, w


_UDTF_ORACLE = """
SELECT t.doc_id, CAST(u.i - 1 AS INT) AS pos, t.parts[u.i] AS word
FROM (SELECT doc_id, string_split(text, ' ') AS parts
      FROM documents WHERE doc_id % 10 = 0) t,
     LATERAL (SELECT unnest(generate_series(1, len(t.parts))) AS i) u
ORDER BY doc_id, pos
"""


@query("udtf_split_words", oracle=_UDTF_ORACLE, tags=("udtf", "lateral", "text"))
def udtf_split_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-generating Python table function via LATERAL correlated join
    (every 10th document keeps the output bounded)."""
    spark.udtf.register("split_words", _SplitWords)
    return spark.sql(
        """
        SELECT d.doc_id, s.pos, s.word
        FROM {docs} d, LATERAL split_words(d.text) s
        WHERE d.doc_id % 10 = 0
        ORDER BY d.doc_id, s.pos
        """,
        docs=load_table(spark, sf_dir, "documents"),
    )


# --------------------------------------------------------------------------
# from_csv: serialize -> parse back to typed struct -> aggregate.
# --------------------------------------------------------------------------
_CSV_ORACLE = """
WITH lines AS (
  SELECT concat(event_id, ',', event_type, ',', user_id) AS line FROM events
), parsed AS (
  -- NULLIF('') mirrors from_csv: an empty CSV field is NULL (DuckDB's
  -- bare CAST('' AS BIGINT) throws instead)
  SELECT CAST(NULLIF(split_part(line, ',', 1), '') AS BIGINT) AS event_id,
         NULLIF(split_part(line, ',', 2), '') AS event_type,
         CAST(NULLIF(split_part(line, ',', 3), '') AS BIGINT) AS user_id
  FROM lines
)
SELECT event_type, COUNT(*) AS n, CAST(SUM(event_id) AS BIGINT) AS sum_id
FROM parsed WHERE user_id % 7 = 0
GROUP BY event_type ORDER BY event_type
"""


@query("csv_line_parse", oracle=_CSV_ORACLE, tags=("csv", "parse"))
def csv_line_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV text line -> `from_csv` typed struct -> filter + aggregate;
    the parse is a JVM expression (codegen), not a Python UDF. A NULL
    field serializes as an EMPTY field (coalesce-to-'' + plain concat):
    concat_ws would silently DROP the field and its separator, shifting
    every later column one slot left on NULL-bearing rows."""
    ev = load_table(spark, sf_dir, "events")
    lines = ev.select(
        F.concat(
            F.coalesce(F.col("event_id").cast("string"), F.lit("")),
            F.lit(","),
            F.coalesce("event_type", F.lit("")),
            F.lit(","),
            F.coalesce(F.col("user_id").cast("string"), F.lit("")),
        ).alias("line")
    )
    parsed = lines.select(
        F.from_csv("line", "event_id BIGINT, event_type STRING, user_id BIGINT").alias("c")
    ).select("c.*")
    return (
        parsed.filter(F.col("user_id") % 7 == 0)
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), F.sum("event_id").cast("bigint").alias("sum_id"))
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# from_xml: one XML record per line -> typed struct -> aggregate.
# --------------------------------------------------------------------------
_XML_ORACLE = """
WITH lines AS (
  SELECT concat('<e><t>', event_type, '</t><u>', user_id, '</u></e>') AS line
  FROM events
), parsed AS (
  -- from_xml parses an empty STRING element as '' but an empty
  -- numeric element as NULL; the regexp twin mirrors both
  SELECT regexp_extract(line, '<t>(.*)</t>', 1) AS t,
         CAST(NULLIF(regexp_extract(line, '<u>(.*)</u>', 1), '') AS BIGINT) AS u
  FROM lines
)
SELECT t AS event_type, COUNT(*) AS n, CAST(MAX(u) AS BIGINT) AS max_user
FROM parsed GROUP BY t ORDER BY t
"""


@query("xml_line_parse", oracle=_XML_ORACLE, tags=("xml", "parse"))
def xml_line_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML record line -> `from_xml` typed struct -> aggregate (oracle
    parses the same lines with regexp — independent implementations)."""
    ev = load_table(spark, sf_dir, "events")
    # NULL fields serialize as EMPTY elements (coalesce-to-''): bare
    # concat would NULL the whole line when any field is NULL
    lines = ev.select(
        F.concat(
            F.lit("<e><t>"),
            F.coalesce("event_type", F.lit("")),
            F.lit("</t><u>"),
            F.coalesce(F.col("user_id").cast("string"), F.lit("")),
            F.lit("</u></e>"),
        ).alias("line")
    )
    parsed = lines.select(F.from_xml("line", "t STRING, u BIGINT").alias("x")).select("x.*")
    return (
        parsed.groupBy(F.col("t").alias("event_type"))
        .agg(F.count("*").alias("n"), F.max("u").alias("max_user"))
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# VARIANT: parse_json once, typed path access at query time.
# --------------------------------------------------------------------------
_VARIANT_ORACLE = """
SELECT event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(json_extract(TRY_CAST(props AS JSON), '$.k') AS INT)) AS BIGINT) AS sum_k,
       CAST(MIN(CAST(json_extract(TRY_CAST(props AS JSON), '$.k') AS INT)) AS INT) AS min_k
FROM events
GROUP BY event_type ORDER BY event_type
"""


@query("variant_json_extract", oracle=_VARIANT_ORACLE, tags=("variant", "json", "semi-structured"))
def variant_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-type column pattern: `try_parse_json` -> VARIANT ->
    `variant_get` with a typed path ('$.k' as int) -> aggregate.
    try_parse_json, not parse_json: malformed/empty props rows become
    NULL variants instead of failing the whole job (oracle twin:
    TRY_CAST(props AS JSON)) — ingest pipelines always contain a few
    broken JSON blobs."""
    ev = load_table(spark, sf_dir, "events")
    k = ev.select(
        "event_type", F.variant_get(F.try_parse_json("props"), "$.k", "int").alias("k")
    )
    return (
        k.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").cast("bigint").alias("sum_k"),
            F.min("k").alias("min_k"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# parse_url: structured access into URL-shaped strings.
# --------------------------------------------------------------------------
_URL_ORACLE = """
WITH urls AS (
  -- URL synthesis needs every component; rows missing one have no
  -- well-formed URL to parse (DuckDB concat would silently turn a
  -- NULL into '', Spark concat into a NULL url — neither is a URL)
  SELECT concat('https://', source, '.example.com/', lang, '/doc/', doc_id,
                '?n=', n_chars) AS url
  FROM documents
  WHERE source IS NOT NULL AND lang IS NOT NULL AND n_chars IS NOT NULL
), parsed AS (
  SELECT regexp_extract(url, 'https://([^/]+)/', 1) AS host,
         regexp_extract(url, 'https://[^/]+(/[^?]*)', 1) AS path,
         CAST(regexp_extract(url, 'n=(\\d+)', 1) AS BIGINT) AS n_param
  FROM urls
)
SELECT host, COUNT(*) AS n_docs,
       CAST(SUM(n_param) AS BIGINT) AS total_chars,
       MIN(path) AS first_path
FROM parsed GROUP BY host ORDER BY host
"""


@query("url_parse_rollup", oracle=_URL_ORACLE, tags=("url", "parse"))
def url_parse_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL column -> `parse_url` HOST/PATH/QUERY-param extraction ->
    per-host rollup (the crawl-inventory shape of a training-data
    pipeline; oracle re-parses with regexp). Rows missing a URL
    component are excluded from synthesis on both engines — a real
    pipeline parses a stored URL column, where parse_url(NULL) is
    simply NULL."""
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("source").isNotNull()
        & F.col("lang").isNotNull()
        & F.col("n_chars").isNotNull()
    )
    urls = d.select(
        F.concat(
            F.lit("https://"), "source", F.lit(".example.com/"), "lang",
            F.lit("/doc/"), F.col("doc_id").cast("string"),
            F.lit("?n="), F.col("n_chars").cast("string"),
        ).alias("url")
    )
    parsed = urls.select(
        F.parse_url("url", F.lit("HOST")).alias("host"),
        F.parse_url("url", F.lit("PATH")).alias("path"),
        F.parse_url("url", F.lit("QUERY"), F.lit("n")).cast("bigint").alias("n_param"),
    )
    return (
        parsed.groupBy("host")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_param").cast("bigint").alias("total_chars"),
            F.min("path").alias("first_path"),
        )
        .orderBy("host")
    )


# --------------------------------------------------------------------------
# Collation-aware grouping (Spark 4 COLLATE)
# --------------------------------------------------------------------------
@query(
    "collation_ci_rollup",
    oracle="""
WITH cased AS (
  SELECT CASE WHEN doc_id % 2 = 0 THEN upper(source) ELSE source END AS src_cased
  FROM documents
)
SELECT min(src_cased) AS src_label, COUNT(*) AS n_docs
FROM cased
GROUP BY lower(src_cased)
ORDER BY src_label
""",
    tags=("modern", "collation"),
)
def collation_ci_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Case-insensitive rollup via a real collation (`UTF8_LCASE`), not
    a lower() rewrite: the mixed-case source labels (synthesized — the
    corpus is lowercase) group together under the collated comparison,
    and the oracle proves equivalence to the lower()-normalized
    grouping. Collation-aware grouping matters at scale because it
    keeps the comparison inside codegen'd binary comparators instead
    of materializing a normalized shadow column; the deterministic
    label is min() over the group (the collated GROUP BY key's own
    display value is first-seen, i.e. nondeterministic)."""
    d = load_table(spark, sf_dir, "documents")
    cased = d.select(
        F.when(F.col("doc_id") % 2 == 0, F.upper("source"))
        .otherwise(F.col("source"))
        .alias("src_cased")
    )
    return (
        cased.groupBy(F.expr("collate(src_cased, 'UTF8_LCASE')").alias("k"))
        .agg(F.min("src_cased").alias("src_label"), F.count(F.lit(1)).alias("n_docs"))
        .select("src_label", "n_docs")
        .orderBy("src_label")
    )


# --------------------------------------------------------------------------
# File provenance via metadata columns
# --------------------------------------------------------------------------
@query(
    "provenance_file_rowcounts",
    oracle="""
SELECT 'events.parquet' AS file_name,
       COUNT(*) AS n_rows,
       MIN(event_id) AS min_event_id,
       MAX(event_id) AS max_event_id
FROM events
HAVING COUNT(*) > 0
""",
    tags=("modern", "provenance", "metadata-columns"),
)
def provenance_file_rowcounts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row provenance from the hidden `_metadata` struct: per source
    file, row count and event-id range. Training-data governance needs
    exactly this lineage (which shard contributed which rows) and the
    metadata column gives it without storing a path per row — it is
    synthesized at scan time, costs nothing in the file, and survives
    predicate pushdown. Testdata is one file per table, so the oracle
    pins the single expected (file_name, counts) row."""
    load_table(spark, sf_dir, "events")  # side effect: session conf incl. NANOS handling
    # load_table may have repartitioned away from the scan node; re-read
    # with metadata directly so _metadata binds to the file scan
    import os

    raw = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    return (
        raw.groupBy(F.col("_metadata.file_name").alias("file_name"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("event_id").alias("min_event_id"),
            F.max("event_id").alias("max_event_id"),
        )
        .orderBy("file_name")
    )
