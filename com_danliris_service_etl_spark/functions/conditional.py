"""Math / conditional scalar functions (SURVEY.md §2.11, M1-M10).

All CASE-shaped logic from the reference's per-row ternaries, as native
Spark expressions.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

ColumnOrName = Column | str


def _c(col: ColumnOrName) -> Column:
    return F.col(col) if isinstance(col, str) else col


def uom_to_meter(qty: ColumnOrName, uom: ColumnOrName) -> Column:
    """M2 — yard/yds → metre (×0.9144); other units pass through.

    Reference: `SpinningSC/run.js:86-94`, `ProductionOrderStatus/run.js:241-249`.
    """
    return F.when(F.lower(_c(uom)).isin("yard", "yds"), _c(qty) * F.lit(0.9144)).otherwise(
        _c(qty)
    )


def bucket_days_week(days: ColumnOrName, *, empty_else: bool = False) -> Column:
    """M4 — day-range bucket, week flavor: ≤7 / 8-14 / 15-30 / >30.

    Reference: `Pembelian/run.js:77-87`; `GarmentPembelian/run.js:553-565`
    uses '' for the else branch (`empty_else=True`).
    """
    d = _c(days)
    out = (
        F.when(d <= 7, F.lit("0-7 hari"))
        .when((d >= 8) & (d <= 14), F.lit("8-14 hari"))
        .when((d >= 15) & (d <= 30), F.lit("15-30 hari"))
    )
    return out.when(d > 30, F.lit(">30 hari")).otherwise(F.lit("") if empty_else else F.lit(None))


def bucket_days_month(days: ColumnOrName) -> Column:
    """M5 — day-range bucket, month flavor: ≤30 / 31-60 / 61-90 / >90.

    Reference: `Pembelian/run.js:65-75`, `GarmentPembelian/run.js:539-551`.
    """
    d = _c(days)
    return (
        F.when(d <= 30, F.lit("0-30 hari"))
        .when((d >= 31) & (d <= 60), F.lit("31-60 hari"))
        .when((d >= 61) & (d <= 90), F.lit("61-90 hari"))
        # explicit > 90 arm so NULL days stay NULL (a bare `otherwise`
        # would silently bucket NULL as >90)
        .when(d > 90, F.lit(">90 hari"))
    )


def category_bahan_baku(category_name: ColumnOrName) -> Column:
    """M6 — purchasing category: 'BAHAN BAKU' vs 'NON BAHAN BAKU'.

    Reference: `Pembelian/run.js:89-95`, `TotalHutang/run.js:164`.
    """
    return F.when(
        F.upper(_c(category_name)) == "BAHAN BAKU", F.lit("BAHAN BAKU")
    ).otherwise(F.lit("NON BAHAN BAKU"))


_GARMENT_JASA_CODES = ("emb", "wsh", "pls", "prn", "tes", "qlt")


def category_garment(category_code: ColumnOrName) -> Column:
    """M7 — garment category: fab→'Bahan Baku'; emb/wsh/pls/prn/tes/qlt→'Jasa';
    else 'Accessories'.

    Reference: `GarmentPembelian/run.js:567-577`, `GarmentTotalHutang/run.js:199-209`.
    """
    code = F.lower(_c(category_code))
    return (
        F.when(code == "fab", F.lit("Bahan Baku"))
        .when(code.isin(*_GARMENT_JASA_CODES), F.lit("Jasa"))
        .otherwise(F.lit("Accessories"))
    )


def on_time_status(actual: ColumnOrName, planned: ColumnOrName) -> Column:
    """M8 — datediff(actual, planned) <= 0 → 'Tepat Waktu' else 'Tidak Tepat Waktu'.

    Reference: `Pembelian/run.js:97-106`, `GarmentPembelian/run.js:579-586`.
    """
    return F.when(
        F.datediff(F.to_date(_c(actual)), F.to_date(_c(planned))) <= 0, F.lit("Tepat Waktu")
    ).otherwise(F.lit("Tidak Tepat Waktu"))


def nan_guard(col: ColumnOrName) -> Column:
    """M9 — `!isNaN(x) ? x : 0` → NaN/NULL to 0.

    Reference: `GarmentPembelian/run.js:635,637,643`.
    """
    c = _c(col)
    return F.coalesce(F.nanvl(c.cast("double"), F.lit(0.0)), F.lit(0.0))


def null_guard(cond: Column, value: Column) -> Column:
    """M10 — per-column ternary: emit value when guard holds, else NULL.

    Reference: `Pembelian/run.js:217-279` (every output column).
    """
    return F.when(cond, value).otherwise(F.lit(None))


def weighted_score(
    a: ColumnOrName, b: ColumnOrName, c: ColumnOrName, d: ColumnOrName, point_system: ColumnOrName
) -> Column:
    """A3 — weighted linear score a*1 + b*3 + c*5 + d*10 gated on pointSystem==10.

    Reference: `FabricQC/run.js:120-124`.
    """
    score = _c(a) * 1 + _c(b) * 3 + _c(c) * 5 + _c(d) * 10
    return F.when(_c(point_system) == 10, score).otherwise(F.lit(None))
