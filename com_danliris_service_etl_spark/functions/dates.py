"""Date/time scalar functions (SURVEY.md §2.9, D1-D8).

Each function mirrors a `moment(...)`-based transform in the reference but
compiles to a native Spark SQL expression (vectorized, codegen'd, no UDF).
Reference sites are cited per function.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

ColumnOrName = Column | str


def _c(col: ColumnOrName) -> Column:
    return F.col(col) if isinstance(col, str) else col


def day_diff(end: ColumnOrName, start: ColumnOrName) -> Column:
    """D1 — whole-day difference on day-truncated dates.

    Reference: `Pembelian/run.js:206-214` — moment(b).startOf('day')
    .diff(moment(a).startOf('day'), 'days').
    """
    return F.datediff(F.to_date(_c(end)), F.to_date(_c(start)))


def minute_diff(end: ColumnOrName, start: ColumnOrName) -> Column:
    """D2 — duration in whole minutes between two timestamps (truncated
    toward zero, matching moment's `.diff(x, 'minutes')`).

    Reference: `MonitoringEvent/run.js:232` (event duration),
    `Pembelian/run.js:16` (job runtime minutes).
    """
    # Exact integer arithmetic at MICROSECOND precision, truncating the
    # TOTAL delta toward zero like moment's trunc(ms/60000): flooring
    # each operand to whole seconds first would inflate sub-second deltas
    # by up to a minute (the reference's inputs are reconstructed at
    # second precision, where both forms agree — this form is also right
    # for sub-second timestamps). `us % m` follows the dividend's sign,
    # so (us - us % m) is the toward-zero multiple for both signs, and
    # the final division of exact multiples is exact.
    us = F.unix_micros(_c(end)) - F.unix_micros(_c(start))
    m = F.lit(60_000_000)
    return ((us - us % m) / m).cast("long")


def to_jakarta(ts: ColumnOrName) -> Column:
    """D3 — UTC → Asia/Jakarta (+7h, no DST) shift applied before every
    output date format in the reference.

    Reference: `Pembelian/run.js:218`, `Packing/run.js:122`. Jakarta has a
    fixed +7 offset, so `from_utc_timestamp` and the reference's literal
    `+7h` agree for all instants.
    """
    return F.from_utc_timestamp(_c(ts), "Asia/Jakarta")


def fmt_date(ts: ColumnOrName) -> Column:
    """D4 — format `YYYY-MM-DD` (`Pembelian/run.js:218`)."""
    return F.date_format(_c(ts), "yyyy-MM-dd")


def fmt_datetime(ts: ColumnOrName) -> Column:
    """D4 — format `YYYY-MM-DD HH:mm:ss` (`DealTrackingActivity/run.js:98`)."""
    return F.date_format(_c(ts), "yyyy-MM-dd HH:mm:ss")


def fmt_time(ts: ColumnOrName) -> Column:
    """D4 — format `HH:mm:ss` (`MonitoringEvent/run.js:239-240`)."""
    return F.date_format(_c(ts), "HH:mm:ss")


def epoch_millis_time_of_day(ms: ColumnOrName) -> Column:
    """D8 — epoch-millis column → `HH:mm:ss` time-of-day string.

    Reference: `MonitoringEvent/run.js:226,239-240` (timeInMilisStart).
    """
    return F.date_format(F.timestamp_millis(_c(ms).cast("long")), "HH:mm:ss")


def epoch_micros(frame: DataFrame, col: str = "ts") -> Column:
    """``frame[col]`` → epoch-MICROS BIGINT, picked by the column's own
    Spark type — the representation Spark and DuckDB agree on exactly
    (oracle side: ``epoch_us(ts)``) for every timestamp a parquet file
    can hold:

    - ``LongType``: a TIMESTAMP(NANOS) column, which Spark reads as raw
      nanos under the ``nanosAsLong`` conf `session.get_session` sets;
    - ``TimestampNTZType``: TIMESTAMP(MICROS, isAdjustedToUTC=false),
      converted against an NTZ epoch literal so the session timezone
      never enters;
    - ``TimestampType``: TIMESTAMP(MICROS, isAdjustedToUTC=true).
    """
    dtype = frame.schema[col].dataType
    if isinstance(dtype, T.LongType):
        return F.expr(f"`{col}` div 1000")
    if isinstance(dtype, T.TimestampNTZType):
        return F.expr(
            "timestampdiff(MICROSECOND,"
            f" CAST('1970-01-01 00:00:00' AS TIMESTAMP_NTZ), `{col}`)"
        )
    return F.unix_micros(F.col(col))


def reconstruct_timestamp(date_part: ColumnOrName, ms_time_part: ColumnOrName) -> Column:
    """D5 — date from one column + time-of-day from an epoch-millis column.

    Reference: `MonitoringEvent/run.js:225-231` builds an ISO timestamp from
    `dateStart` + `timeInMilisStart`.
    """
    return F.to_timestamp(
        F.concat(
            F.date_format(_c(date_part), "yyyy-MM-dd"),
            F.lit(" "),
            F.date_format(F.timestamp_millis(_c(ms_time_part).cast("long")), "HH:mm:ss"),
        )
    )


MIN_SQLSERVER_DATE = "1753-01-01"


def clamp_min_date(ts: ColumnOrName) -> Column:
    """D6 — dates below SQL Server's datetime minimum (1753-01-01) get the
    year replaced with the current year, exactly like the reference's
    ``date.setFullYear(now.getFullYear())`` (`Pembelian/run.js:108-118`,
    `GarmentPembelian/run.js:588-598`): the TIME OF DAY is preserved (it
    matters — the later +7h Jakarta shift can move the calendar day), and
    Feb 29 in a non-leap target year overflows to Mar 1 (JS Date
    normalization), which ``date_add(first-of-month, day-1)`` reproduces
    without make_date's invalid-date NULL/ANSI-error.
    """
    c = _c(ts)
    rolled = F.date_add(
        F.make_date(F.year(F.current_date()), F.month(c), F.lit(1)),
        F.dayofmonth(c) - 1,
    )
    tod_us = F.unix_micros(c) - F.unix_micros(F.date_trunc("DAY", c))
    repaired = F.timestamp_micros(F.unix_micros(rolled.cast("timestamp")) + tod_us)
    return F.when(c < F.lit(MIN_SQLSERVER_DATE).cast("timestamp"), repaired).otherwise(c)


def repair_year_typos(formatted: ColumnOrName, century: str = "20") -> Column:
    """D7 — repair `0017`-style century typos on already-formatted date
    strings: a leading `00` century is replaced with the intended one.

    Reference: `Pembelian/run.js:311` chains six `.replace("/001X","/201X")`
    calls; generalized to one anchored regexp over the leading year.
    """
    return F.regexp_replace(_c(formatted), r"^00(\d{2})", f"{century}$1")


def business_days_between(start: ColumnOrName, end: ColumnOrName) -> Column:
    """Count of WEEKDAYS (Mon-Fri) in the half-open interval
    [start, end) — SLA arithmetic ("ship within 5 business days") the
    reference approximates with raw day diffs (D1).

    Closed-form, branch-free, whole-stage-codegen-friendly: with
    days(d) = days since 1970-01-05 (a Monday), the number of weekdays
    before d is prefix(d) = 5·(days div 7) + min(days mod 7, 5) —
    full weeks contribute 5 each, the partial week contributes its
    leading weekday run — and the interval count is the prefix
    difference. Exact integer arithmetic end to end (no calendar UDF,
    no per-day explode). Assumes dates ≥ the 1970 epoch anchor, where
    integer div/mod semantics agree across engines; both operands may
    be DATE or TIMESTAMP (truncated to their calendar date)."""

    return business_day_prefix(end) - business_day_prefix(start)


def business_day_prefix(d: ColumnOrName) -> Column:
    """Weekdays strictly before ``d`` since the 1970-01-05 Monday anchor —
    the prefix half of :func:`business_days_between`, exposed so a join
    can evaluate each side's prefix BEFORE the join (smaller build-side
    payload — one long instead of a timestamp — and the per-row
    arithmetic runs once per source row, not once per joined row)."""
    days = F.datediff(_c(d), F.lit("1970-01-05").cast("date"))
    rem = F.pmod(days, F.lit(7))
    full_weeks = (days - rem) / F.lit(7)  # exact: numerator ≡ 0 (mod 7)
    return (F.lit(5) * full_weeks + F.least(rem, F.lit(5))).cast("long")
