"""Scalar expression library (reference functions F1-F17, SURVEY.md §2.8).

Every row-wise Python function of the reference is re-expressed as a native
Column expression so it runs JVM-side inside whole-stage codegen — the
reference's `.apply(python_fn)` row loops (its main CPU bottleneck,
reference unified_transformer.py:308-501) disappear entirely.

Semantics are pinned to the reference implementation (file:line cited per
function). Where the reference's docstring and code disagree, the docstring
(= the published contract, mirrored in FIXTURES.md golden vectors) wins and
the divergence is noted.
"""

from __future__ import annotations

from functools import reduce
from operator import or_

from pyspark.sql import Column
from pyspark.sql import functions as F

# Placeholder literals the reference maps to empty string before joining
# (reference unified_transformer.py:218-234). Lowercased match.
PLACEHOLDERS = ("", "nan", "none", "<na>", "null", "nat")

FLIGHT_NUMBER_RE = r"^[A-Z0-9]{2}\d{3,4}$"


def _s(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


# ---------------------------------------------------------------- F1
def airline_code(c: Column | str) -> Column:
    """F1 — leading alphabetic prefix of a flight number, uppercased;
    '' when unparseable/null. Reference unified_transformer.py:13-31
    ("HX261" -> "HX", None -> "")."""
    return F.coalesce(F.upper(F.regexp_extract(_s(c), r"^([A-Za-z]+)", 1)), F.lit(""))


# ---------------------------------------------------------------- F2
def to_time_hhmm(c: Column | str) -> Column:
    """F2 — normalize a time-ish string to 'HH:MM'.

    Order of attempts mirrors reference unified_transformer.py:33-74:
    full datetime formats, then a bare H:MM, then the first H:MM found
    anywhere in the string, else ''. ("2025-11-05 19:20:00" -> "19:20",
    "0 days 19:20:00" -> "19:20", "9:05" -> "09:05").
    """
    s = F.trim(_s(c).cast("string"))
    ts = F.coalesce(
        F.try_to_timestamp(s, F.lit("yyyy-M-d H:m:s")),
        F.try_to_timestamp(s, F.lit("yyyy/M/d H:m")),
        F.try_to_timestamp(s, F.lit("yyyy-M-d H:m")),
    )
    bare = F.regexp_extract(s, r"^(\d{1,2}):(\d{2})$", 0)
    anywhere_h = F.regexp_extract(s, r"(\d{1,2}):(\d{2})", 1)
    anywhere_m = F.regexp_extract(s, r"(\d{1,2}):(\d{2})", 2)
    pad = lambda h, m: F.concat(F.lpad(h, 2, "0"), F.lit(":"), m)  # noqa: E731
    return (
        F.when(s.isNull() | (s == ""), F.lit(""))
        .when(ts.isNotNull(), F.date_format(ts, "HH:mm"))
        .when(bare != "", pad(F.regexp_extract(s, r"^(\d{1,2}):(\d{2})$", 1),
                              F.regexp_extract(s, r"^(\d{1,2}):(\d{2})$", 2)))
        .when(anywhere_h != "", pad(anywhere_h, anywhere_m))
        .otherwise(F.lit(""))
    )


# ---------------------------------------------------------------- F3
def duration_to_minutes(c: Column | str) -> Column:
    """F3 — '[D days ]HH:MM[:SS]' -> total minutes (int), seconds >= 30
    round up one minute; digit-only strings are already minutes; else null.
    Reference unified_transformer.py:76-113 ("0 days 02:05:00" -> 125,
    "01:30:30" -> 91, "95" -> 95).
    """
    s = F.trim(_s(c).cast("string"))
    pat = r"(?:(\d+)\s*days\s*)?(\d{1,2}):(\d{2})(?::(\d{2}))?"
    g = lambda i: F.regexp_extract(s, pat, i)  # noqa: E731
    # group 2 (hours) is mandatory in the pattern => '' means "no match"
    days = F.coalesce(F.nullif(g(1), F.lit("")).cast("int"), F.lit(0))
    hours = g(2).cast("int")
    mins = g(3).cast("int")
    secs = F.coalesce(F.nullif(g(4), F.lit("")).cast("int"), F.lit(0))
    total = days * 1440 + hours * 60 + mins + F.when(secs >= 30, 1).otherwise(0)
    return (
        F.when(g(2) != "", total)
        .when(s.rlike(r"^\d+$"), s.cast("int"))
        .otherwise(F.lit(None).cast("int"))
    )


# ---------------------------------------------------------------- F4
def luggage_value(c: Column | str) -> Column:
    """F4a — first decimal number in a luggage string, as double; null when
    absent. Reference cola_transformer.py:87-119 / unified_transformer.py:115-147
    ("1件" -> 1.0, "25 公斤" -> 25.0, "無" -> null)."""
    s = F.trim(_s(c).cast("string"))
    n = F.regexp_extract(s, r"(\d+(?:\.\d+)?)", 1)
    return F.when(n != "", n.cast("double"))


def luggage_unit(c: Column | str) -> Column:
    """F4b — unit: digits/whitespace/dots stripped, then normalized
    (contains 件 -> 件; contains 公斤/kg/KG/Kg -> 公斤). Per the reference
    docstring contract (FIXTURES.md A.7) an unrecognized unit with no
    number yields '' ("無" -> ''); with a number the raw residue is kept
    (code behavior, reference unified_transformer.py:139-146)."""
    s = F.trim(_s(c).cast("string"))
    raw = F.regexp_replace(s, r"[\d\s\.]+", "")
    num = F.regexp_extract(s, r"(\d+(?:\.\d+)?)", 1)
    unit = (
        F.when(raw.contains("件"), F.lit("件"))
        .when(
            raw.contains("公斤") | raw.contains("kg") | raw.contains("KG") | raw.contains("Kg"),
            F.lit("公斤"),
        )
        .otherwise(F.when(num != "", raw).otherwise(F.lit("")))
    )
    return F.when(s.isNull() | (s == ""), F.lit("")).otherwise(unit)


# ---------------------------------------------------------------- F5
def luggage_reassemble(c: Column | str) -> Column:
    """F5 — '<number><unit>' with integer-valued floats printed as ints
    ('1件', '25公斤'); number-only -> str(number); no number -> ''.
    Reference cola_transformer.py:247-269."""
    v = luggage_value(c)
    u = luggage_unit(c)
    n_str = F.when(v == F.floor(v), v.cast("long").cast("string")).otherwise(
        v.cast("string")
    )
    return (
        F.when(v.isNotNull() & (u != ""), F.concat(n_str, u))
        .when(v.isNotNull(), n_str)
        .otherwise(F.lit(""))
    )


# ---------------------------------------------------------------- F6
def to_date_yyyy_mm_dd(c: Column | str) -> Column:
    """F6 — parse several datetime shapes to 'YYYY/MM/DD'; '' when
    unparseable. Reference cola_transformer.py:50-85
    ("2025-11-05 19:20:00" -> "2025/11/05")."""
    s = F.trim(_s(c).cast("string"))
    ts = F.coalesce(
        F.try_to_timestamp(s, F.lit("yyyy-M-d H:m:s")),
        F.try_to_timestamp(s, F.lit("yyyy-M-d")),
        F.try_to_timestamp(s, F.lit("yyyy/M/d H:m")),
        F.try_to_timestamp(s, F.lit("yyyy/M/d")),
        F.try_to_timestamp(s),  # ISO-ish fallback (reference uses pd.to_datetime)
    )
    return F.when(ts.isNotNull(), F.date_format(ts, "yyyy/MM/dd")).otherwise(F.lit(""))


# ---------------------------------------------------------------- F7
def date_to_mm_dd_slice(c: Column | str) -> Column:
    """F7 — chars 6..10 of 'YYYY-MM-DD...' with '-' -> '/'
    (positional slice, NOT a parse — parity with
    reference set_transformer.py:60-66 `.str.slice(5,10)`)."""
    return F.regexp_replace(F.substring(_s(c), 6, 5), "-", "/")


# ---------------------------------------------------------------- F8
def year_prefix(c: Column | str) -> Column:
    """F8 — token before the first '-' (the year of a 'YYYY-MM-DD...'
    string; the whole string when no '-' — a reference quirk kept as-is,
    SURVEY.md Q9). Reference cola_transformer.py:224,228."""
    return F.split(_s(c), "-").getItem(0)


# ---------------------------------------------------------------- F9
def attach_year(year: Column | str, mmdd: Column | str) -> Column:
    """F9 — 'YYYY' + '/' + 'MM/DD'; null-propagating (pandas NaN + str = NaN,
    so F.concat — which nulls on any null — is the correct mapping, not
    concat_ws). Reference unified_transformer.py:518-537."""
    return F.concat(_s(year), F.lit("/"), _s(mmdd))


# ---------------------------------------------------------------- F10
def canonical_flight_number(c: Column | str) -> Column:
    """F10 — trim, strip ALL whitespace, uppercase, zero-pad the numeric
    tail of 2-letter/digit prefixed flight numbers: CI73 -> CI073,
    CI7 -> CI007. Nulls -> ''. Reference set_transformer.py:85-92."""
    s = F.upper(F.regexp_replace(F.trim(F.coalesce(_s(c).cast("string"), F.lit(""))), r"\s+", ""))
    s = F.regexp_replace(s, r"^(?<p>[A-Z0-9]{2})(?<d>\d{2})$", "${p}0${d}")
    s = F.regexp_replace(s, r"^(?<p>[A-Z0-9]{2})(?<d>\d{1})$", "${p}00${d}")
    return s


def invalid_flight_row(cols: list[Column | str]) -> Column:
    """P4 — true when ANY non-empty flight-number column fails
    ^[A-Z0-9]{2}\\d{3,4}$ (row is then removed). Runs AFTER F10 padding.
    Reference set_transformer.py:94-110."""
    def bad(c: Column | str) -> Column:
        s = F.coalesce(_s(c).cast("string"), F.lit(""))
        return (s != "") & ~s.rlike(FLIGHT_NUMBER_RE)

    return reduce(or_, [bad(c) for c in cols])


# ---------------------------------------------------------------- F11
def despace(c: Column | str) -> Column:
    """F11 — remove literal spaces (cabin-class cleanup,
    reference cola_transformer.py:232-245)."""
    return F.regexp_replace(_s(c), " ", "")


# ---------------------------------------------------------------- F12
def first_token(c: Column | str) -> Column:
    """F12 — token before the first whitespace run, null -> '' first
    (airport-code extraction, reference unified_transformer.py:314-338)."""
    return F.split(F.trim(F.coalesce(_s(c).cast("string"), F.lit(""))), r"\s+").getItem(0)


# ---------------------------------------------------------------- F13
def split_flight_and_class(c: Column | str) -> tuple[Column, Column]:
    """F13 — split 'CI073 K' into (flight, class) on the first space,
    flight trimmed. Declared-but-dead surface in the reference
    (cola_transformer.py:170-201, SURVEY.md Q8) — implemented for parity."""
    parts = F.split(_s(c), " ", 2)
    # F.get (not getItem): ANSI mode errors on out-of-bounds index when the
    # value has no class suffix
    return F.trim(F.get(parts, 0)), F.get(parts, 1)


# ---------------------------------------------------------------- F14
def guarded_to_long(c: Column | str) -> Column:
    """F14 — finite numbers truncate to integers; null stays null.
    (Reference keeps inf/NaN as-is in an object column,
    unified_transformer.py:475-487; Spark maps non-finite to null —
    a typed-column simplification, SURVEY.md §1.2.)"""
    col = _s(c)
    return F.when(col.isNotNull() & ~F.isnan(col) & (F.abs(col) != float("inf")), col.cast("long"))


# ---------------------------------------------------------------- F15
def placeholder_to_empty(c: Column | str) -> Column:
    """F15 — lowercase match against {'', 'nan', 'none', '<na>', 'null',
    'nat'} -> ''; nulls too (pandas astype(str) turns NaN/None into
    'nan'/'None' which then match). Reference unified_transformer.py:218-234."""
    s = F.coalesce(_s(c).cast("string"), F.lit(""))
    return F.when(F.lower(s).isin(*PLACEHOLDERS), F.lit("")).otherwise(s)


# ---------------------------------------------------------------- F16
def collapse_whitespace(c: Column | str) -> Column:
    """F16 — internal whitespace runs -> single space.
    Reference unified_transformer.py:232."""
    return F.regexp_replace(_s(c), r"\s+", " ")


# ---------------------------------------------------------------- F17
def normalize_join_date(c: Column | str) -> Column:
    """F17 — canonicalize a date-ish join key to 'MM/DD':
    '.'/'-' -> '/', strip leading 'YYYY/' or trailing '/YYYY', zero-pad
    M/D, validate by parsing MM/dd — unparseable values pass through
    UNCHANGED (the reference's keep-original rule,
    unified_transformer.py:244-257)."""
    s = F.trim(F.regexp_replace(F.regexp_replace(_s(c).cast("string"), r"\.", "/"), "-", "/"))
    s = F.regexp_replace(s, r"^\s*\d{4}\s*/", "")
    s = F.regexp_replace(s, r"/\s*\d{4}\s*$", "")
    m = F.regexp_extract(s, r"^\s*(\d{1,2})\s*/\s*(\d{1,2})\s*$", 1)
    d = F.regexp_extract(s, r"^\s*(\d{1,2})\s*/\s*(\d{1,2})\s*$", 2)
    padded = F.when(m != "", F.concat(F.lpad(m, 2, "0"), F.lit("/"), F.lpad(d, 2, "0"))).otherwise(s)
    parsed = F.try_to_timestamp(padded, F.lit("MM/dd"))
    return F.when(parsed.isNotNull(), F.date_format(parsed, "MM/dd")).otherwise(padded)


def normalize_join_date_stage1_sql(inner: str) -> str:
    """First half of the join-date normalize as a LINEAR chain (every
    regexp used exactly once): dots/dashes -> '/', trim, strip a leading
    or trailing 4-digit year. Splitting the twin in two stages (with a
    one-evaluation barrier between, see operators.conform.one_eval_barrier)
    keeps the composed expression tree linear — the single-expression form
    below repeats subtrees ~70x, which both multiplies per-row regex work
    and overflows janino's 64 KB generated-method limit when several keys
    land in one fused projection (measured on the flagship, r13)."""
    s = (
        "trim(regexp_replace(regexp_replace("
        f"cast(({inner}) AS STRING), '\\\\.', '/'), '-', '/'))"
    )
    s = f"regexp_replace({s}, '^\\\\s*\\\\d{{4}}\\\\s*/', '')"
    return f"regexp_replace({s}, '/\\\\s*\\\\d{{4}}\\\\s*$', '')"


def normalize_join_date_stage2_sql(inner: str) -> str:
    """Second half of the join-date normalize: zero-pad M/D if the stage-1
    output looks like one, then canonicalize through a MM/dd parse with
    unparseable values kept verbatim. `inner` should be a plain attribute
    (the stage-1 output behind a barrier) — it is referenced ~10 times."""
    pat = "'^\\\\s*(\\\\d{1,2})\\\\s*/\\\\s*(\\\\d{1,2})\\\\s*$'"
    m = f"regexp_extract({inner}, {pat}, 1)"
    d = f"regexp_extract({inner}, {pat}, 2)"
    padded = (
        f"CASE WHEN {m} != '' THEN "
        f"concat(lpad({m}, 2, '0'), '/', lpad({d}, 2, '0')) ELSE {inner} END"
    )
    parsed = f"try_to_timestamp({padded}, 'MM/dd')"
    return (
        f"CASE WHEN {parsed} IS NOT NULL THEN "
        f"date_format({parsed}, 'MM/dd') ELSE {padded} END"
    )


def normalize_join_date_sql(inner: str) -> str:
    """SQL-string twin of normalize_join_date over an arbitrary SQL input
    expression (equality asserted in tests/test_scalars.py); see
    normalize_join_key_sql for why the twins exist. Single-expression
    composition of the two stages — fine for one column, but multi-key
    normalization should stage through a barrier (joins.normalize_join_keys
    does) to keep the expression tree linear."""
    return normalize_join_date_stage2_sql(normalize_join_date_stage1_sql(inner))


# ---------------------------------------------------------------- F18
def epoch_now() -> Column:
    """F18 — current epoch seconds (reference time.time(),
    cola_transformer.py:297). Tests inject a frozen literal instead
    (SURVEY.md Q4)."""
    return F.unix_timestamp(F.current_timestamp()).cast("double")


def normalize_join_key(c: Column | str, strip_all_whitespace: bool = False) -> Column:
    """J2 — full join-key canonicalization chain: stringify, trim, collapse
    whitespace, placeholder -> '', uppercase; flight/cabin keys additionally
    drop ALL internal whitespace. Reference unified_transformer.py:216-243.
    Joining on '' (never NULL) is load-bearing: placeholder keys must match
    each other (SURVEY.md Q1)."""
    s = collapse_whitespace(F.trim(F.coalesce(_s(c).cast("string"), F.lit(""))))
    s = F.when(F.lower(s).isin(*PLACEHOLDERS), F.lit("")).otherwise(s)
    s = F.upper(s)
    if strip_all_whitespace:
        s = F.regexp_replace(s, r"\s+", "")
    return s


def _sql_ident(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def normalize_join_key_sql(name: str, strip_all_whitespace: bool = False) -> str:
    """SQL-string twin of normalize_join_key, semantics identical
    (equality asserted per-column in tests/test_scalars.py).

    Exists for plan-construction speed: the Column version crosses py4j
    once per expression node (~30 round-trips/key × 84 keys in the
    94-column pipeline), while this composes the whole chain in pure
    Python and pays ONE F.expr call per key — measured ~2 s off every
    cold construction of domanda_pipeline_full."""
    q = _sql_ident(name)
    s = f"regexp_replace(trim(coalesce(cast({q} AS STRING), '')), '\\\\s+', ' ')"
    placeholders = ", ".join(f"'{p}'" for p in PLACEHOLDERS)
    s = f"CASE WHEN lower({s}) IN ({placeholders}) THEN '' ELSE {s} END"
    s = f"upper({s})"
    if strip_all_whitespace:
        s = f"regexp_replace({s}, '\\\\s+', '')"
    return s


# ---------------------------------------------------------------------
# SQL-string twins of the builders above.
#
# Each <builder>_sql takes a SQL expression STRING (already quoted /
# composed by the caller) and returns the SQL text of the equivalent
# Column builder. They exist purely for plan-construction speed: the
# Column builders cross py4j once per expression node, which at the
# 94-column pipeline's breadth adds seconds of pure driver latency per
# build; the twins compose in Python and parse JVM-side in one call.
# The time, duration and luggage twins are not literal transcriptions:
# they are rewritten to evaluate each regex once (each rewrite says why
# it is equivalent), because their generated Java dominates the fused
# pipeline stage. Lines of Java per column, literal -> rewritten:
# to_time_hhmm 432 -> 176, duration_to_minutes 373 -> 271, luggage_unit
# 439 -> 99, luggage_reassemble 1,876 -> 465.
# Twin == builder equality is asserted vector-by-vector in
# tests/test_scalars.py::test_scalar_sql_twin_matches_builder, and the
# full-pipeline DuckDB hash (tests/test_oracle_parity.py) covers them on
# real data.


def _trimmed_sql(x: str) -> str:
    return f"trim(cast({x} AS STRING))"


def airline_code_sql(x: str) -> str:
    return f"coalesce(upper(regexp_extract({x}, '^([A-Za-z]+)', 1)), '')"


def first_token_sql(x: str) -> str:
    return f"split(trim(coalesce(cast({x} AS STRING), '')), '\\\\s+')[0]"


def to_time_hhmm_sql(x: str) -> str:
    # Shrunk form: the builder's bare-H:MM branch is subsumed by the
    # anywhere-H:MM branch (a full-string match is also the first match,
    # with the same groups), and lpad(H:MM, 5) == lpad(H, 2) || ':' || MM.
    # NULL and '' inputs fall through to ''. One regex and one timestamp
    # parse per row instead of five and two.
    s = _trimmed_sql(x)
    ts = (
        f"coalesce(try_to_timestamp({s}, 'yyyy-M-d H:m:s'), "
        f"try_to_timestamp({s}, 'yyyy/M/d H:m'), "
        f"try_to_timestamp({s}, 'yyyy-M-d H:m'))"
    )
    hhmm = f"regexp_extract({s}, '(\\\\d{{1,2}}:\\\\d{{2}})', 1)"
    return f"coalesce(date_format({ts}, 'HH:mm'), nullif(lpad({hhmm}, 5, '0'), '00000'), '')"


def duration_to_minutes_sql(x: str) -> str:
    # Shrunk form: hours/minutes parse with try_cast, so a non-match ('')
    # leaves the total NULL and the digit-only fallback takes over — each
    # group is extracted once.
    s = _trimmed_sql(x)
    pat = "'(?:(\\\\d+)\\\\s*days\\\\s*)?(\\\\d{1,2}):(\\\\d{2})(?::(\\\\d{2}))?'"
    g = lambda i: f"regexp_extract({s}, {pat}, {i})"  # noqa: E731
    total = (
        f"coalesce(CAST(nullif({g(1)}, '') AS INT), 0) * 1440"
        f" + try_cast({g(2)} AS INT) * 60 + try_cast({g(3)} AS INT)"
        f" + CAST({g(4)} >= '30' AS INT)"
    )
    return f"coalesce({total}, CASE WHEN {s} RLIKE '^\\\\d+$' THEN CAST({s} AS INT) END)"


def luggage_value_sql(x: str) -> str:
    s = _trimmed_sql(x)
    return f"CAST(nullif(regexp_extract({s}, '(\\\\d+(?:\\\\.\\\\d+)?)', 1), '') AS DOUBLE)"


def luggage_unit_sql(x: str) -> str:
    # Shrunk form: the 件/公斤 checks run on the input, not on the stripped
    # residue — '件' survives stripping unchanged, and the residue contains
    # 公斤/kg/KG/Kg exactly when the input has the pair with only stripped
    # characters ([\d\s.]) between — so the residue is built once, for
    # the fallback. A number is present exactly when there is a digit;
    # NULL and '' inputs fall through to ''.
    s = _trimmed_sql(x)
    strip = "[\\\\d\\\\s\\\\.]"
    kg = f"公{strip}*斤|k{strip}*g|K{strip}*[Gg]"
    return (
        f"CASE WHEN contains({s}, '件') THEN '件' "
        f"WHEN {s} RLIKE '{kg}' THEN '公斤' "
        f"WHEN {s} RLIKE '\\\\d' THEN regexp_replace({s}, '{strip}+', '') "
        f"ELSE '' END"
    )


def luggage_reassemble_sql(x: str) -> str:
    # concat is NULL exactly when there is no number, and a '' unit leaves
    # the number alone — the builder's two-branch CASE in one coalesce
    v = luggage_value_sql(x)
    n_str = (
        f"CASE WHEN {v} = floor({v}) THEN CAST(CAST({v} AS BIGINT) AS STRING) "
        f"ELSE CAST({v} AS STRING) END"
    )
    return f"coalesce(concat({n_str}, {luggage_unit_sql(x)}), '')"


def to_date_yyyy_mm_dd_sql(x: str) -> str:
    s = _trimmed_sql(x)
    ts = (
        f"coalesce(try_to_timestamp({s}, 'yyyy-M-d H:m:s'), "
        f"try_to_timestamp({s}, 'yyyy-M-d'), "
        f"try_to_timestamp({s}, 'yyyy/M/d H:m'), "
        f"try_to_timestamp({s}, 'yyyy/M/d'), "
        f"try_to_timestamp({s}))"
    )
    return (
        f"CASE WHEN {ts} IS NOT NULL THEN date_format({ts}, 'yyyy/MM/dd') "
        f"ELSE '' END"
    )


def date_to_mm_dd_slice_sql(x: str) -> str:
    return f"regexp_replace(substring({x}, 6, 5), '-', '/')"


def year_prefix_sql(x: str) -> str:
    return f"split({x}, '-')[0]"


def attach_year_sql(y: str, mmdd: str) -> str:
    return f"concat({y}, '/', {mmdd})"


def despace_sql(x: str) -> str:
    return f"regexp_replace({x}, ' ', '')"


def canonical_flight_number_sql(x: str) -> str:
    # No `$n`/`${name}` replacement references here: the SQL parser's
    # variable substitution eats `${...}` (yields ''), so the zero-padding
    # is expressed as CASE + substring instead of the Column version's
    # named-group regexp_replace. The two 4/3-char patterns are mutually
    # exclusive, so CASE order == the builder's sequential replaces.
    s = f"upper(regexp_replace(trim(coalesce(cast({x} AS STRING), '')), '\\\\s+', ''))"
    return (
        f"CASE WHEN {s} RLIKE '^[A-Z0-9]{{2}}\\\\d{{2}}$' "
        f"THEN concat(substring({s}, 1, 2), '0', substring({s}, 3, 2)) "
        f"WHEN {s} RLIKE '^[A-Z0-9]{{2}}\\\\d{{1}}$' "
        f"THEN concat(substring({s}, 1, 2), '00', substring({s}, 3, 1)) "
        f"ELSE {s} END"
    )


def invalid_flight_row_sql(names: list[str]) -> str:
    # Backslashes in the Python-side regex must be doubled to survive the
    # SQL string-literal parse ('\d' in a SQL literal parses to 'd').
    pat = FLIGHT_NUMBER_RE.replace("\\", "\\\\")
    parts = []
    for name in names:
        s = f"coalesce(cast({_sql_ident(name)} AS STRING), '')"
        parts.append(f"({s} != '' AND {s} NOT RLIKE '{pat}')")
    return " OR ".join(parts)


def guarded_to_long_sql(x: str) -> str:
    return (
        f"CASE WHEN {x} IS NOT NULL AND NOT isnan({x}) "
        f"AND abs({x}) != CAST('Infinity' AS DOUBLE) "
        f"THEN CAST({x} AS BIGINT) END"
    )
