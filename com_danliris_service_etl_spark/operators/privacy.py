"""Privacy operators: pseudonymization, generalization, k-anonymity audit.

The reference ETL copies person-identifying columns (buyer names, staff
names) verbatim into warehouse facts (e.g. DimBuyer loads in
danliris/com-danliris-service-etl; `Pembelian/run.js` carries buyer.name
through to the fact). A modern pipeline must be able to do the opposite —
ship the same facts with direct identifiers pseudonymized and
quasi-identifiers generalized. All narrow per-row expressions plus one
window; scales as a single shuffle on the quasi-identifier key.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from com_danliris_service_etl_spark.operators.partitioning import spread


def pseudonymize_k_anon(
    df: DataFrame,
    key_col: str,
    hash_cols: Sequence[str],
    band_col: str,
    band_width: float,
    quasi_cols: Sequence[str],
    sensitive_col: str,
    k: int = 5,
) -> DataFrame:
    """Hash direct identifiers (md5 — deterministic so joins across
    pseudonymized tables still work), generalize the numeric column into
    ``band_width``-sized bands, count each quasi-identifier group's size
    with one window, and suppress the sensitive value (to ``'*'``) in
    groups smaller than ``k``.

    Plan shape: one shuffle, on (band, *quasi_cols) — the window and the
    suppression reuse the same partitioning. At 100 TB the quasi groups
    are the natural partition key and skew is bounded by band_width."""
    # Band label = band START = floor(v/w)*w, computed with w UNTRUNCATED:
    # an int(w) here would zero the label for any fractional w < 1 and
    # merge every band into one quasi-group — silently disabling the
    # k-suppression. Integer widths keep the BIGINT label (oracle parity).
    label = F.floor(F.col(band_col) / F.lit(band_width)) * F.lit(band_width)
    if float(band_width).is_integer():
        label = label.cast("long")
    band = label.alias(f"{band_col}_band")
    w = Window.partitionBy(f"{band_col}_band", *quasi_cols)
    out = df.select(
        F.col(key_col),
        *[F.md5(F.col(c).cast("string")).alias(f"{c}_pseudo") for c in hash_cols],
        band,
        *[F.col(c) for c in quasi_cols],
        F.col(sensitive_col),
    )
    return (
        out.withColumn("k_anon", F.count("*").over(w))
        .withColumn(
            sensitive_col,
            F.when(F.col("k_anon") < k, F.lit("*")).otherwise(F.col(sensitive_col)),
        )
    )


# Backslash-free patterns (Spark string literals process backslash escapes,
# DuckDB's don't — see the verify-skill escaping gotcha): character classes
# and [.] only, valid in both Java regex and RE2.
PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"
PII_PHONE = "[+][0-9]{2} [0-9]{3}-[0-9]{7}"


def pii_redact(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """PII scrub pass: count and redact email addresses and international
    phone numbers. Pure per-row Catalyst regex — no UDF; at 100 TB this
    pipelines into the scan and the redacted text streams straight to
    the sink (a one-file input is first spread on the id, one exchange,
    so the regexes run on every core). Patterns are backslash-free so
    the same literal means the same regex in Java (Spark) and RE2
    (DuckDB oracle).

    Output keeps the redacted text as an md5 digest (the driver's
    canonicalizer hashes values; emitting megabytes of redacted text per
    row would just slow the compare) plus the match counts and a flag —
    the real pipeline would write the redacted text itself."""
    t = F.col(text_col)
    n_emails = F.size(F.regexp_extract_all(t, F.lit(PII_EMAIL), F.lit(0))).cast("long")
    n_phones = F.size(F.regexp_extract_all(t, F.lit(PII_PHONE), F.lit(0))).cast("long")
    redacted = F.regexp_replace(
        F.regexp_replace(t, F.lit(PII_EMAIL), F.lit("<EMAIL>")),
        F.lit(PII_PHONE),
        F.lit("<PHONE>"),
    )
    return spread(df, id_col).select(
        F.col(id_col),
        n_emails.alias("n_emails"),
        n_phones.alias("n_phones"),
        ((n_emails > 0) | (n_phones > 0)).alias("has_pii"),
        F.md5(redacted).alias("redacted_md5"),
    )


def l_diversity_audit(
    df: DataFrame,
    quasi_cols: Sequence[str],
    sensitive_col: str,
    l: int = 2,
) -> DataFrame:
    """l-diversity audit — the check k-anonymity misses: a group can be
    k-large yet carry ONE sensitive value, so membership alone discloses
    it (the classic homogeneity attack). Per quasi-identifier group,
    report its size, the number of DISTINCT sensitive values, the
    dominant value's share, and whether the group meets distinct
    l-diversity (≥ l distinct sensitive values).

    One map-side-combinable (quasi, sensitive) pre-aggregation collapses
    the data to value-count grain, then a (quasi) aggregation over those
    compact rows computes size / distinct count / max share — the same
    two-stage shape as the dedup monitor, so no count-distinct expand
    over raw rows. Dominant share divides exact integers, rounded before
    any compare."""
    vc = df.groupBy(*quasi_cols, sensitive_col).agg(
        F.count(F.lit(1)).alias("__n")
    )
    return vc.groupBy(*quasi_cols).agg(
        F.sum("__n").cast("long").alias("group_size"),
        F.count(F.lit(1)).alias("n_sensitive_values"),
        F.round(F.max("__n") / F.sum("__n"), 6).alias("dominant_share"),
        (F.count(F.lit(1)) >= l).alias("l_diverse"),
    )


def dp_noisy_counts(
    df: DataFrame,
    group_cols: list[str],
    eps: float = 0.5,
    seed: str = "dp",
) -> DataFrame:
    """Differentially-private group counts: exact partial-aggregated
    counts + per-group Laplace(1/eps) noise via inverse-CDF sampling.

    The uniform draw is DETERMINISTIC — md5 of the group key and seed,
    13 hex chars scaled into (0, 1) — which makes releases reproducible
    and cross-engine testable (the repo's shared-hash scheme; a true
    DP deployment swaps the hash draw for a CSPRNG, changing ONE
    expression). Noise is added to the one-row-per-group aggregate, so
    the mechanism costs nothing beyond the groupBy it protects: the
    sensitivity-1 count query shape at any scale.

    Output: (*group_cols, noisy_count) with noise rounded to 4dp."""
    b = 1.0 / eps
    key = F.concat_ws("\x1f", F.lit(seed), *[F.col(c).cast("string") for c in group_cols])
    u = (
        (F.conv(F.substring(F.md5(key), 1, 13), 16, 10).cast("double") + 0.5)
        / F.lit(float(16**13))
    ) - 0.5  # (-0.5, 0.5), never exactly the endpoints
    lap = -F.lit(b) * F.signum(u) * F.log(1.0 - 2.0 * F.abs(u))
    return (
        df.groupBy(*group_cols)
        .agg(F.count(F.lit(1)).alias("__n"))
        .select(
            *group_cols,
            F.round(F.col("__n") + lap, 4).alias("noisy_count"),
        )
    )
