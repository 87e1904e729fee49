"""Golden-vector unit tests for the scalar expression library (F1-F17).

Vectors come from the reference's docstring examples (FIXTURES.md A.7) plus
edge cases pinned in SURVEY.md §2.8/§8.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from domanda_etl_spark.functions import scalars as S


def run1(spark, expr_builder, value):
    df = spark.createDataFrame([(value,)], "v string")
    return df.select(expr_builder("v").alias("out")).collect()[0]["out"]


# ---- F1 airline code
@pytest.mark.parametrize(
    "inp,out",
    [("HX261", "HX"), (None, ""), ("CI073", "CI"), ("073", ""), ("", ""), ("ci73", "CI")],
)
def test_airline_code(spark, inp, out):
    assert run1(spark, S.airline_code, inp) == out


# ---- F2 to_time_hhmm
@pytest.mark.parametrize(
    "inp,out",
    [
        ("2025-11-05 19:20:00", "19:20"),
        ("0 days 19:20:00", "19:20"),
        ("19:05", "19:05"),
        ("9:05", "09:05"),
        ("2025/11/05 07:45", "07:45"),
        ("2025-11-05 07:45", "07:45"),
        ("junk", ""),
        (None, ""),
        ("", ""),
    ],
)
def test_to_time_hhmm(spark, inp, out):
    assert run1(spark, S.to_time_hhmm, inp) == out


# ---- F3 duration_to_minutes
@pytest.mark.parametrize(
    "inp,out",
    [
        ("0 days 02:05:00", 125),
        ("01:30:30", 91),
        ("01:30:29", 90),
        ("95", 95),
        ("2 days 01:00", 2940),
        ("junk", None),
        (None, None),
        ("", None),
    ],
)
def test_duration_to_minutes(spark, inp, out):
    assert run1(spark, S.duration_to_minutes, inp) == out


# ---- F4 luggage split
@pytest.mark.parametrize(
    "inp,val,unit",
    [
        ("1件", 1.0, "件"),
        ("25 公斤", 25.0, "公斤"),
        ("30kg", 30.0, "公斤"),
        ("無", None, ""),
        (None, None, ""),
        ("2 件", 2.0, "件"),
        ("23.5公斤", 23.5, "公斤"),
    ],
)
def test_split_luggage(spark, inp, val, unit):
    assert run1(spark, S.luggage_value, inp) == val
    assert run1(spark, S.luggage_unit, inp) == unit


# ---- F5 luggage reassembly
@pytest.mark.parametrize(
    "inp,out",
    [("1件", "1件"), ("25 公斤", "25公斤"), ("23.5 kg", "23.5公斤"), ("無", ""), (None, "")],
)
def test_luggage_reassemble(spark, inp, out):
    assert run1(spark, S.luggage_reassemble, inp) == out


# ---- F6 to YYYY/MM/DD
@pytest.mark.parametrize(
    "inp,out",
    [
        ("2025-11-05 19:20:00", "2025/11/05"),
        ("2025-11-05", "2025/11/05"),
        ("2025/11/05 19:20", "2025/11/05"),
        ("2025/11/05", "2025/11/05"),
        ("garbage", ""),
        (None, ""),
    ],
)
def test_to_date(spark, inp, out):
    assert run1(spark, S.to_date_yyyy_mm_dd, inp) == out


# ---- F7 MM/DD slice
@pytest.mark.parametrize(
    "inp,out",
    [("2025-11-05 19:20:00", "11/05"), ("2025-11-05", "11/05"), ("abc", ""), (None, None)],
)
def test_date_slice(spark, inp, out):
    assert run1(spark, S.date_to_mm_dd_slice, inp) == out


# ---- F8/F9 year handling
def test_year_prefix_attach(spark):
    assert run1(spark, S.year_prefix, "2025-11-05 19:20:00") == "2025"
    assert run1(spark, S.year_prefix, "2025/11/05") == "2025/11/05"  # Q9 quirk
    df = spark.createDataFrame([("2025", "11/05"), (None, "11/05")], "y string, d string")
    rows = df.select(S.attach_year("y", "d").alias("out")).collect()
    assert rows[0]["out"] == "2025/11/05"
    assert rows[1]["out"] is None  # null-propagating like pandas NaN + str


# ---- F10 flight canonicalization + P4 validity
@pytest.mark.parametrize(
    "inp,out",
    [
        ("CI73", "CI073"),
        ("CI7", "CI007"),
        (" ci 73 ", "CI073"),
        ("CI0731", "CI0731"),
        ("73123", "73123"),
        (None, ""),
        ("", ""),
    ],
)
def test_canonical_flight_number(spark, inp, out):
    assert run1(spark, S.canonical_flight_number, inp) == out


def test_invalid_flight_row(spark):
    df = spark.createDataFrame(
        [("CI073", "BR0012"), ("CI073", "BAD!"), ("", ""), ("C7", "")],
        "a string, b string",
    )
    out = df.filter(~S.invalid_flight_row(["a", "b"])).collect()
    assert [(r["a"], r["b"]) for r in out] == [("CI073", "BR0012"), ("", "")]


# ---- F12 first token
@pytest.mark.parametrize(
    "inp,out", [("TPE 桃園機場", "TPE"), ("  TPE  X", "TPE"), (None, ""), ("", "")]
)
def test_first_token(spark, inp, out):
    assert run1(spark, S.first_token, inp) == out


# ---- F13 split flight+class
def test_split_flight_and_class(spark):
    df = spark.createDataFrame([("CI073 K",), ("BR16",)], "v string")
    fl, cl = S.split_flight_and_class("v")
    rows = df.select(fl.alias("f"), cl.alias("c")).collect()
    assert (rows[0]["f"], rows[0]["c"]) == ("CI073", "K")
    assert (rows[1]["f"], rows[1]["c"]) == ("BR16", None)


# ---- F14 guarded long
def test_guarded_to_long(spark):
    df = spark.createDataFrame(
        [(1.0,), (2.7,), (-2.7,), (None,), (float("nan",),), (float("inf"),)], "v double"
    )
    out = [r["out"] for r in df.select(S.guarded_to_long("v").alias("out")).collect()]
    assert out == [1, 2, -2, None, None, None]


# ---- F15/F16 placeholders + whitespace
@pytest.mark.parametrize(
    "inp,out",
    [("NaN", ""), ("<NA>", ""), ("null", ""), ("NaT", ""), ("ok", "ok"), (None, "")],
)
def test_placeholder(spark, inp, out):
    assert run1(spark, S.placeholder_to_empty, inp) == out


# ---- F17 join-date normalization
@pytest.mark.parametrize(
    "inp,out",
    [
        ("2025-11-05", "11/05"),
        ("2025.11.05", "11/05"),
        ("11-5", "11/05"),
        ("1/5", "01/05"),
        ("11/05/2025", "11/05"),
        ("13/45", "13/45"),  # unparseable -> keep (padded) original
        ("TBD", "TBD"),
        ("", ""),
    ],
)
def test_normalize_join_date(spark, inp, out):
    assert run1(spark, S.normalize_join_date, inp) == out


# ---- J2 full key normalization
@pytest.mark.parametrize(
    "inp,strip,out",
    [
        (" cx  450 ", True, "CX450"),
        (" cx  450 ", False, "CX 450"),
        ("nan", True, ""),
        (None, True, ""),
        ("<NA>", False, ""),
        ("經濟艙 K", True, "經濟艙K"),
    ],
)
def test_normalize_join_key(spark, inp, strip, out):
    assert run1(spark, lambda c: S.normalize_join_key(c, strip_all_whitespace=strip), inp) == out


# ---- SQL-string twins (plan-construction fast path) must be EXACTLY
# equivalent to the Column builders — the pipeline's join-key
# normalization goes through the twins (operators/joins.py), so any
# divergence is a silent correctness bug, not a perf detail.
ADVERSARIAL_KEYS = [
    None, "", " ", "nan", " None ", "<NA>", "NULL", "nat",
    "a  b\tc", " HX 261 ", "經濟艙 K", "back`tick",
    "2024.3.5", "3-5", "2024/03/05", "05/2024", "13/45", "1/2",
    "02/29", "xx/yy", "12.31", "  7 / 8  ", "2024-12-31", "31/2024", "0/0",
]


ADVERSARIAL_VALUES = ADVERSARIAL_KEYS + [
    "HX261", " cx  450 ", "CI45", "CI7", "ci45", "A1", "AB12345", "AB12C",
    "2025-11-05 19:20:00", "0 days 19:20:00", "9:05", "25:99", "x 12:30 y",
    "1件", "25 公斤", "20KG", "2.5kg", "無", "20KG/2件", "1.0件", "3.7",
    "0 days 02:05:00", "01:30:30", "95", "1 days 2:05", "02:05:31",
    "2025/11/5 8:3", "2025-11-5", "-2024-", "abc-def-ghi",
    # shapes the rewritten time/duration/luggage twins must still agree on
    "123:45", "x9:5", "0:00", "2025-11-05 9:5:00", "1days02:05:30", "12:30:3",
    "公 斤", "2 k g", "3 K.G", "1 公 2 斤", "1件公斤", "1.2.3kg", ".5", "kg",
]


@pytest.mark.parametrize(
    "builder,twin",
    [
        (S.airline_code, S.airline_code_sql),
        (S.first_token, S.first_token_sql),
        (S.to_time_hhmm, S.to_time_hhmm_sql),
        (S.duration_to_minutes, S.duration_to_minutes_sql),
        (S.luggage_value, S.luggage_value_sql),
        (S.luggage_unit, S.luggage_unit_sql),
        (S.luggage_reassemble, S.luggage_reassemble_sql),
        (S.to_date_yyyy_mm_dd, S.to_date_yyyy_mm_dd_sql),
        (S.date_to_mm_dd_slice, S.date_to_mm_dd_slice_sql),
        (S.year_prefix, S.year_prefix_sql),
        (S.despace, S.despace_sql),
        (S.canonical_flight_number, S.canonical_flight_number_sql),
    ],
    ids=lambda f: getattr(f, "__name__", str(f)),
)
def test_scalar_sql_twin_matches_builder(spark, builder, twin):
    """Every scalar SQL twin must agree with its Column builder on every
    adversarial vector (nulls, placeholders, CJK, regex metacharacters,
    every date/time/luggage/flight shape)."""
    df = spark.createDataFrame([(v,) for v in ADVERSARIAL_VALUES], "x string")
    bad = (
        df.select("x", builder("x").alias("col_v"), F.expr(twin("`x`")).alias("sql_v"))
        .filter(~F.col("col_v").eqNullSafe(F.col("sql_v")))
        .collect()
    )
    assert bad == [], f"{twin.__name__} diverges from builder: {bad}"


def test_two_arg_and_list_sql_twins_match(spark):
    """attach_year / guarded_to_long / invalid_flight_row twins (non-unary
    signatures) against their builders."""
    rows = [
        ("2024", "03/05"), (None, "03/05"), ("2024", None), ("", ""),
    ]
    df = spark.createDataFrame(rows, "y string, m string")
    bad = (
        df.select(
            S.attach_year("y", "m").alias("col_v"),
            F.expr(S.attach_year_sql("`y`", "`m`")).alias("sql_v"),
        )
        .filter(~F.col("col_v").eqNullSafe(F.col("sql_v")))
        .collect()
    )
    assert bad == []
    nums = [(x,) for x in [None, 1.0, -3.99, 0.0, float("nan"), float("inf"), float("-inf"), 2.5e18]]
    dfn = spark.createDataFrame(nums, "x double")
    bad = (
        dfn.select(
            S.guarded_to_long("x").alias("col_v"),
            F.expr(S.guarded_to_long_sql("`x`")).alias("sql_v"),
        )
        .filter(~F.col("col_v").eqNullSafe(F.col("sql_v")))
        .collect()
    )
    assert bad == []
    flights = [
        ("CI045", "HX261"), ("", ""), ("BAD", "CI045"), (None, "x"),
        ("CI0456", "AB123"), ("ci045", "AB12"),
    ]
    dff = spark.createDataFrame(flights, "f1 string, f2 string")
    bad = (
        dff.select(
            S.invalid_flight_row(["f1", "f2"]).alias("col_v"),
            F.expr(S.invalid_flight_row_sql(["f1", "f2"])).alias("sql_v"),
        )
        .filter(~F.col("col_v").eqNullSafe(F.col("sql_v")))
        .collect()
    )
    assert bad == []


def test_sql_twins_match_column_builders(spark):
    df = spark.createDataFrame([(v,) for v in ADVERSARIAL_KEYS], "x string")
    for strip in (False, True):
        a = S.normalize_join_key("x", strip_all_whitespace=strip)
        b = F.expr(S.normalize_join_key_sql("x", strip_all_whitespace=strip))
        bad = (
            df.select("x", a.alias("col_v"), b.alias("sql_v"))
            .filter(~F.col("col_v").eqNullSafe(F.col("sql_v")))
            .collect()
        )
        assert bad == [], f"normalize_join_key twin diverges (strip={strip}): {bad}"
    a = S.normalize_join_date(S.normalize_join_key("x"))
    b = F.expr(S.normalize_join_date_sql(S.normalize_join_key_sql("x")))
    bad = (
        df.select("x", a.alias("col_v"), b.alias("sql_v"))
        .filter(~F.col("col_v").eqNullSafe(F.col("sql_v")))
        .collect()
    )
    assert bad == [], f"normalize_join_date twin diverges: {bad}"


def test_sql_twins_fuzz_random_strings(spark):
    """Fuzz the twin/builder equivalence over 300 seeded-random strings
    mixing CJK, digits, separators, whitespace runs, and placeholder
    fragments — one DataFrame pass per twin, exact equality required."""
    import random

    rng = random.Random(20260814)
    alphabet = (
        "abcXYZ012345 \t:/-.件公斤kgKG無經濟艙 días days nan None NULL <NA> nat"
    )
    vals = [
        "".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 24)))
        for _ in range(300)
    ] + [None]
    df = spark.createDataFrame([(v,) for v in vals], "x string")
    twins = [
        (S.airline_code, S.airline_code_sql),
        (S.first_token, S.first_token_sql),
        (S.to_time_hhmm, S.to_time_hhmm_sql),
        (S.duration_to_minutes, S.duration_to_minutes_sql),
        (S.luggage_value, S.luggage_value_sql),
        (S.luggage_unit, S.luggage_unit_sql),
        (S.luggage_reassemble, S.luggage_reassemble_sql),
        (S.to_date_yyyy_mm_dd, S.to_date_yyyy_mm_dd_sql),
        (S.date_to_mm_dd_slice, S.date_to_mm_dd_slice_sql),
        (S.year_prefix, S.year_prefix_sql),
        (S.despace, S.despace_sql),
        (S.canonical_flight_number, S.canonical_flight_number_sql),
        (lambda c: S.normalize_join_key(c), lambda x: S.normalize_join_key_sql(x.strip("`"))),
        (
            lambda c: S.normalize_join_date(S.normalize_join_key(c)),
            lambda x: S.normalize_join_date_sql(S.normalize_join_key_sql(x.strip("`"))),
        ),
    ]
    exprs = []
    for i, (builder, twin) in enumerate(twins):
        exprs.append(builder("x").alias(f"col_{i}"))
        exprs.append(F.expr(twin("`x`")).alias(f"sql_{i}"))
    row = (
        df.select(*exprs)
        .select(
            *[
                (~F.col(f"col_{i}").eqNullSafe(F.col(f"sql_{i}")))
                .cast("int")
                .alias(f"d_{i}")
                for i in range(len(twins))
            ]
        )
        .groupBy()
        .sum()
        .collect()[0]
    )
    diffs = {i: v for i, v in enumerate(row) if v}
    assert not diffs, f"twin divergence counts by index: {diffs}"
