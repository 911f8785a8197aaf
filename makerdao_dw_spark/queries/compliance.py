"""Compliance / governance auditing, wave 13 (round 6): the
privacy-and-forensics screens a data platform runs before releasing a
corpus or publishing aggregate statistics — a distinct family next to
the PII redaction and contamination screens.

- `k_anonymity_audit`: per (lang, source) stratum, how many
  quasi-identifier groups (lang, source, 50-char length bucket) fall
  below k=5 members, and what fraction of documents a
  suppress-small-groups release policy would drop. THE re-identification
  audit for any quasi-identifier release; all-integer aggregation plus
  one final ratio.
- `dp_noised_histogram`: per-source document counts released through a
  deterministic Laplace mechanism (inverse-CDF sampling of a
  md5-anchored uniform, the repo's standard arithmetic hash — so both
  engines draw the SAME noise and the mechanism is fully
  value-oracled; a production release would swap the anchor for a real
  RNG, the surrounding plan is unchanged). Noise scale b = sens/eps
  with eps = 1.0, sensitivity 1 (one doc changes one count by 1).
- `benford_first_digit`: first-significant-digit distribution of order
  totals vs Benford's law, with per-digit chi-square contributions —
  the classic forensic screen for fabricated numeric data. Digit
  extraction is pure double math (floor(x / 10^floor(log10 x))),
  identical expression trees on both engines.

Determinism: md5-anchored uniforms, exact integer counts, per-term
DECIMAL(38,12) casts under every floating sum, one ROUND per emitted
double, NULLIF on denominators that can vanish.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import load_table, materialize
from .registry import query


_K_ANON = 5
_QID_BUCKET = 50  # n_chars quantized to 50-char buckets as the third QID

# ---------------------------------------------------------------------------
# k-anonymity audit over (lang, source, length-bucket) quasi-identifiers
# ---------------------------------------------------------------------------


@query(
    "k_anonymity_audit",
    oracle=f"""
WITH qid AS (
    SELECT lang, source,
           CAST(FLOOR(n_chars / {_QID_BUCKET}) AS BIGINT) * {_QID_BUCKET} AS len_bucket
    FROM documents
),
groups AS (
    SELECT lang, source, len_bucket, COUNT(*) AS n
    FROM qid GROUP BY 1, 2, 3
)
SELECT lang, source,
       COUNT(*) AS n_groups,
       CAST(SUM(CASE WHEN n < {_K_ANON} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_violating,
       CAST(SUM(CASE WHEN n < {_K_ANON} THEN n ELSE 0 END) AS BIGINT)
           AS n_docs_suppressed,
       CAST(SUM(n) AS BIGINT) AS n_docs,
       ROUND(CAST(SUM(CASE WHEN n < {_K_ANON} THEN n ELSE 0 END) AS DOUBLE)
             / NULLIF(SUM(n), 0), 6) AS suppression_rate
FROM groups GROUP BY lang, source ORDER BY lang, source
""",
    tags=("compliance", "privacy", "k-anonymity"),
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit: quasi-identifier = (lang, source, 50-char
    length bucket); per (lang, source) stratum, the count of QID groups
    below k=5 and the document fraction a suppress-below-k release
    would drop. Two chained integer aggregations (QID groups, then the
    stratum rollup) — one shuffle each, the second over group-count
    cardinality; the fact table is touched once."""
    d = load_table(spark, sf_dir, "documents")
    qid = d.select(
        "lang",
        "source",
        (
            F.floor(F.col("n_chars") / _QID_BUCKET).cast("bigint") * _QID_BUCKET
        ).alias("len_bucket"),
    )
    groups = qid.groupBy("lang", "source", "len_bucket").agg(
        F.count(F.lit(1)).alias("n")
    )
    viol = F.when(F.col("n") < _K_ANON, F.col("n")).otherwise(F.lit(0))
    return (
        groups.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_groups"),
            F.sum(
                F.when(F.col("n") < _K_ANON, 1).otherwise(0)
            ).alias("n_violating"),
            F.sum(viol).alias("n_docs_suppressed"),
            F.sum("n").alias("n_docs"),
            F.round(
                F.sum(viol).cast("double") / F.expr("nullif(sum(n), 0)"), 6
            ).alias("suppression_rate"),
        )
        .orderBy("lang", "source")
    )


# ---------------------------------------------------------------------------
# Deterministic-Laplace DP release of per-source counts
# ---------------------------------------------------------------------------
_DP_EPS = 1.0
_DP_DENOM = 1 << 20
# uniform in [2^-20, 1 - 2^-20] — STRICTLY inside (0, 1) so the inverse
# CDF below can never hit ln(0). The md5 arithmetic anchor is the repo
# standard (training3.py); the 'dp:' prefix namespaces the draw.
_U_SPARK = (
    f"(cast(conv(substr(md5(concat('dp:', source)), 1, 8), 16, 10) as bigint)"
    f" % {_DP_DENOM - 1} + 1) / cast({_DP_DENOM} as double)"
)
_U_DUCK = (
    f"(CAST('0x' || substr(md5('dp:' || source), 1, 8) AS BIGINT)"
    f" % {_DP_DENOM - 1} + 1) / CAST({_DP_DENOM} AS DOUBLE)"
)


@query(
    "dp_noised_histogram",
    oracle=f"""
WITH counts AS (
    SELECT source, COUNT(*) AS n_true FROM documents GROUP BY source
),
draw AS (
    SELECT source, n_true, {_U_DUCK} - 0.5 AS u FROM counts
)
SELECT source,
       CAST(n_true AS BIGINT) AS n_true,
       ROUND(-(1.0 / {_DP_EPS}) * SIGN(u) * LN(1.0 - 2.0 * ABS(u)), 6)
           AS laplace_noise,
       ROUND(n_true + (-(1.0 / {_DP_EPS}) * SIGN(u) * LN(1.0 - 2.0 * ABS(u))), 6)
           AS n_released
FROM draw ORDER BY source
""",
    tags=("compliance", "privacy", "differential-privacy"),
)
def dp_noised_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source counts through a Laplace(1/eps) mechanism, eps = 1:
    noise = -b * sign(u) * ln(1 - 2|u|) for u uniform in (-1/2, 1/2) —
    the standard inverse-CDF construction. The uniform is md5-anchored
    (content-stable) so BOTH engines draw identical noise and the
    release is value-oracled end to end; swapping the anchor for a real
    RNG changes one expression, not the plan. The uniform's domain
    excludes +-1/2 by construction (never ln(0)). n_true is emitted
    alongside for the oracle check — a real release would drop it.
    Map-side noise over a source-cardinality count table: one shuffle
    total at any scale."""
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_true"))
    draw = counts.withColumn("u", F.expr(_U_SPARK) - 0.5)
    noise = (
        F.lit(-(1.0 / _DP_EPS))
        * F.signum("u")
        * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(F.col("u")))
    )
    return (
        draw.select(
            "source",
            "n_true",
            F.round(noise, 6).alias("laplace_noise"),
            F.round(F.col("n_true") + noise, 6).alias("n_released"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Benford first-digit forensic screen on order totals
# ---------------------------------------------------------------------------
@query(
    "benford_first_digit",
    oracle="""
WITH digits AS (
    SELECT CAST(FLOOR(o_totalprice
               / POWER(10.0, FLOOR(LOG10(o_totalprice)))) AS BIGINT) AS digit
    FROM orders WHERE o_totalprice > 0
),
obs AS (SELECT digit, COUNT(*) AS n_obs FROM digits GROUP BY digit),
tot AS (SELECT SUM(n_obs) AS n FROM obs),
scored AS (
    SELECT digit, n_obs,
           CAST(n_obs AS DOUBLE) / tot.n AS obs_share,
           LOG10(1.0 + 1.0 / digit) AS exp_share,
           tot.n AS n
    FROM obs, tot
)
SELECT digit,
       CAST(n_obs AS BIGINT) AS n_obs,
       ROUND(obs_share, 6) AS obs_share,
       ROUND(exp_share, 6) AS exp_share,
       ROUND((n_obs - n * exp_share) * (n_obs - n * exp_share)
             / (n * exp_share), 6) AS chi2_term
FROM scored ORDER BY digit
""",
    tags=("compliance", "forensics", "benford", "quality"),
)
def benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit distribution of order totals vs
    Benford's law, with each digit's chi-square contribution — the
    forensic screen for fabricated numbers. Digit extraction is pure
    double math (floor(x / 10^floor(log10 x)), identical trees both
    engines); the digit table is <= 9 rows, so the total joins back as
    a broadcast 1-row aggregate and everything after the single count
    shuffle is arithmetic. exp_share > 0 always (digit >= 1), so the
    chi2 denominator never vanishes on a non-empty corpus."""
    o = load_table(spark, sf_dir, "orders")
    digits = o.filter(F.col("o_totalprice") > 0).select(
        F.floor(
            F.col("o_totalprice")
            / F.pow(F.lit(10.0), F.floor(F.log10("o_totalprice")))
        )
        .cast("bigint")
        .alias("digit")
    )
    # <= 9 rows, two consumers (broadcast total + the scored pass) —
    # checkpoint once so orders is scanned exactly once (the
    # source_token_kl lesson: a broadcast subtree defeats reuse)
    obs = (
        digits.groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n_obs"))
        .transform(materialize)
    )
    tot = F.broadcast(obs.agg(F.sum("n_obs").alias("n")))
    scored = obs.crossJoin(tot).select(
        "digit",
        "n_obs",
        (F.col("n_obs").cast("double") / F.col("n")).alias("obs_share"),
        F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit")).alias("exp_share"),
        "n",
    )
    return scored.select(
        "digit",
        "n_obs",
        F.round("obs_share", 6).alias("obs_share"),
        F.round("exp_share", 6).alias("exp_share"),
        F.round(
            (F.col("n_obs") - F.col("n") * F.col("exp_share"))
            * (F.col("n_obs") - F.col("n") * F.col("exp_share"))
            / (F.col("n") * F.col("exp_share")),
            6,
        ).alias("chi2_term"),
    ).orderBy("digit")
