"""Deterministic flight-domain fixtures per FIXTURES.md §A: cola spine +
5 supplier tables with key overlap, duplicate-key fan-out, placeholder
strings in keys, pad-needed flight numbers, and near-duplicate rows for
latest-wins dedup."""

from __future__ import annotations

NOW = 1_700_000_000.0


def cola_rows() -> list[dict]:
    base = {
        "去程航班編號1": "CI073",
        "去程艙等與艙等編碼1": "經濟艙 K",
        "回程航班編號1": "CI074",
        "回程艙等與艙等編碼1": "經濟艙 K",
        "去程起飛時間1": "2025-11-05 19:20:00",
        "去程降落時間1": "2025-11-05 21:25:00",
        "回程起飛時間1": "2025-11-12 09:10:00",
        "回程降落時間1": "2025-11-12 11:15:00",
        "去程起飛機場1": "TPE 桃園機場",
        "去程降落機場1": "HKG 香港機場",
        "回程起飛機場1": "HKG 香港機場",
        "回程降落機場1": "TPE 桃園機場",
        "去程飛機公司及型號1": "A321",
        "回程飛機公司及型號1": "A321",
        "去程飛行時間1": "0 days 02:05:00",
        "回程飛行時間1": "02:05:00",
        "去程行李1": "25 公斤",
        "回程行李1": "1件",
        "基礎票價": 5000.0,
        "票價加價成數": 0.1,
        "總售價": 6200.0,
        "稅金": 1200.0,
        "稅金加價成數": 0.05,
        "票型": "淨價",
        "公式類型": "A",
        "GDS Type": "amadeus",
        "折讓百分比": "3%",
        "折扣": 100.0,
        "固定金額": 50.0,
        "建立時間": NOW,
    }
    rows = []
    # r0: full match with settour/lion
    rows.append(dict(base))
    # r1: near-duplicate of r0 differing only in 建立時間 (older) -> latest-wins
    r1 = dict(base)
    r1["建立時間"] = NOW - 1000
    rows.append(r1)
    # r2: different flight, matches eztravel only; legs 2-3 missing (Q1)
    r2 = dict(base)
    r2.update(
        {
            "去程航班編號1": "BR016",
            "回程航班編號1": "BR015",
            "去程起飛時間1": "2025-12-30 08:00:00",
            "回程起飛時間1": "2026-01-02 18:30:00",
            "總售價": 9000.0,
            "稅金": 800.0,
        }
    )
    rows.append(r2)
    # r3: matches nothing (no supplier tax) -> removed by P5
    r3 = dict(base)
    r3.update({"去程航班編號1": "JX0500", "回程航班編號1": "JX0501", "總售價": 3000.0})
    rows.append(r3)
    # r4: duplicate-key row (same key as r0, different price) -> fan-out (Q3)
    r4 = dict(base)
    r4.update({"總售價": 6300.0, "建立時間": NOW - 50})
    rows.append(r4)
    return rows


def _supplier_base(price: float, tax: float | None) -> dict:
    return {
        "去程日期": "2025-11-05",
        "回程日期": "2025-11-12",
        "票面價格": price,
        "稅金": tax,
        "去程航班編號1": "CI73",  # pad-needed -> CI073
        "去程艙等1": "經濟艙K",
        "回程航班編號1": " ci 74 ",  # whitespace/case -> CI074
        "回程艙等1": "經濟艙 K",  # inner space stripped at join normalize
        "crawl_time": "1700000000",
    }


def settour_rows() -> list[dict]:
    rows = [_supplier_base(5100.0, 1210.0)]
    # duplicate-key second offer -> fan-out with cola r0/r4
    dup = _supplier_base(5150.0, 1215.0)
    rows.append(dup)
    # orphan (no cola match)
    orphan = _supplier_base(4000.0, 900.0)
    orphan["去程航班編號1"] = "ZZ0999"
    rows.append(orphan)
    # invalid flight number -> removed by P4
    bad = _supplier_base(1.0, 1.0)
    bad["去程航班編號1"] = "C7"
    rows.append(bad)
    return rows


def lion_rows() -> list[dict]:
    r = _supplier_base(5050.0, 1190.0)
    # placeholder string in a CABIN column (Q1: normalizes to '' at join
    # time and matches cola's missing leg). NOTE a literal "nan" in a
    # FLIGHT-NUMBER column would be uppercased to "NAN" and the row removed
    # by the P4 validity filter — reference behavior, locked in
    # test_supplier_validity_filter_removed_bad_rows.
    r["回程艙等2"] = "<NA>"
    return [r]


def eztravel_rows() -> list[dict]:
    # domestic row matching cola r2 (cross-year pair; legs 2-3 absent)
    r = _supplier_base(8800.0, 790.0)
    r.update(
        {
            "去程日期": "2025-12-30",
            "回程日期": "2026-01-02",
            "去程航班編號1": "BR16",
            "去程艙等1": "經濟艙K",
            "回程航班編號1": "BR15",
            "回程艙等1": "經濟艙 K",
            "海外供應商": False,
        }
    )
    no_match = _supplier_base(7000.0, 600.0)
    no_match["去程航班編號1"] = "QQ0777"
    no_match["海外供應商"] = False
    foreign = _supplier_base(9100.0, 810.0)
    foreign.update(
        {
            "去程日期": "2025-12-30",
            "回程日期": "2026-01-02",
            "去程航班編號1": "BR16",
            "回程航班編號1": "BR15",
            "海外供應商": True,
        }
    )
    return [r, no_match, foreign]


def rich_rows() -> list[dict]:
    # tax NULL: joins but contributes no tax (P5 interplay)
    r = _supplier_base(5200.0, None)
    return [r]


NUMERIC_COLS = {
    "基礎票價", "票價加價成數", "總售價", "稅金", "稅金加價成數",
    "折扣", "固定金額", "建立時間", "票面價格",
}
BOOL_COLS = {"海外供應商"}


def build_frames(spark):
    """The six pipeline inputs as Spark frames, mirroring BigQuery result
    shapes; eztravel split by 海外供應商."""
    from pyspark.sql import functions as F

    cola = _frame(spark, cola_rows())
    settour = _frame(spark, settour_rows())
    lion = _frame(spark, lion_rows())
    ez_all = _frame(spark, eztravel_rows())
    eztravel = ez_all.filter(F.col("海外供應商") == False).drop("海外供應商")  # noqa: E712
    f_eztravel = ez_all.filter(F.col("海外供應商") == True).drop("海外供應商")  # noqa: E712
    rich = _frame(spark, rich_rows())
    return cola, settour, lion, eztravel, f_eztravel, rich


def _frame(spark, rows: list[dict]):
    """One frame with an EXPLICIT schema (all-string except typed
    price/tax/bool): inference dies on all-None columns on a vanilla
    session."""
    from pyspark.sql.types import (
        BooleanType, DoubleType, StringType, StructField, StructType,
    )

    cols = list(rows[0].keys())
    schema = StructType(
        [
            StructField(
                c,
                DoubleType() if c in NUMERIC_COLS
                else BooleanType() if c in BOOL_COLS
                else StringType(),
                True,
            )
            for c in cols
        ]
    )
    return spark.createDataFrame([tuple(r.get(c) for c in cols) for r in rows], schema)


# ---- three-leg parquet lake ------------------------------------------------
# The frames above carry leg-1 columns only. The reference tables carry every
# leg's raw columns, and that width decides how much code the fused spine
# stage generates, so the lake below widens every table to all three legs.

COLA_LEG_FIELDS = (
    "航班編號", "艙等與艙等編碼", "起飛時間", "降落時間", "起飛機場", "降落機場",
    "飛機公司及型號", "飛行時間", "行李",
)
SUPPLIER_LEG_FIELDS = ("航班編號", "艙等")
CUTOFF = NOW - 12 * 3600  # Extractor's 12 h lookback


def _all_legs(rows: list[dict], fields: tuple[str, ...]) -> list[dict]:
    legs = {f"{d}{f}{i}": None for i in (1, 2, 3) for d in ("去程", "回程") for f in fields}
    return [{**legs, **r} for r in rows]


def _three_leg_content() -> dict:
    """A cola content flying three legs each way (matched by the
    three-leg settour offer)."""
    r = dict(cola_rows()[0])
    r["總售價"] = 7700.0
    for d, flights, day in (("去程", ("CI073", "CX450", "BR891"), "2025-11-05"),
                            ("回程", ("BR892", "CX451", "CI074"), "2025-11-12")):
        for i, flight in enumerate(flights, start=1):
            r[f"{d}航班編號{i}"] = flight
            r[f"{d}艙等與艙等編碼{i}"] = "經濟艙 K"
            r[f"{d}起飛時間{i}"] = f"{day} 0{2 * i}:10:00"
            r[f"{d}降落時間{i}"] = f"{day} 0{2 * i + 1}:05:00"
            r[f"{d}起飛機場{i}"] = "TPE 桃園機場"
            r[f"{d}降落機場{i}"] = "HKG 香港機場"
            r[f"{d}飛機公司及型號{i}"] = "A321"
            r[f"{d}飛行時間{i}"] = "0 days 00:55:31"
            r[f"{d}行李{i}"] = f"{10 * i} kg"
    return r


def _three_leg_offer() -> dict:
    r = _supplier_base(7000.0, 1300.0)
    r.update({"去程航班編號2": "CX450", "去程航班編號3": "BR891",
              "回程航班編號1": "BR892", "回程航班編號2": "CX451", "回程航班編號3": "CI074"})
    for i in (1, 2, 3):
        r[f"去程艙等{i}"] = r[f"回程艙等{i}"] = "經濟艙K"
    return r


def write_lake(spark, path: str) -> str:
    """Write the fixture tables, widened to every leg's raw columns and
    with one three-leg content + offer added, as parquet under
    `Extractor.TABLES` names (eztravel unsplit, as in the reference);
    returns `path`."""
    import os

    from domanda_etl_spark.sources import Extractor

    tables = {
        "cola": (cola_rows() + [_three_leg_content()], COLA_LEG_FIELDS),
        "set": (settour_rows() + [_three_leg_offer()], SUPPLIER_LEG_FIELDS),
        "lion": (lion_rows(), SUPPLIER_LEG_FIELDS),
        "eztravel": (eztravel_rows(), SUPPLIER_LEG_FIELDS),
        "rich": (rich_rows(), SUPPLIER_LEG_FIELDS),
    }
    for key, (rows, fields) in tables.items():
        _frame(spark, _all_legs(rows, fields)).write.parquet(
            os.path.join(path, f"{Extractor.TABLES[key]}.parquet")
        )
    return path
