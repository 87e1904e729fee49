"""Seeded flight-price inputs: the source lake (FIXTURES.md §A) and a fares
table in the pipeline's output schema.

`Plan.write_base` writes the six reference source tables as parquet under the
`Extractor.TABLES` file names, using the reference's raw column names, and
derives from its own model what the pipeline must produce. The model never
runs the engine: it knows, for every itinerary, how many distinct supplier
offers survive extraction and cleaning, and turns that into the expected
output row count, per-supplier non-null counts and exact integer sums.

What the data contains, on purpose:
- rows older than the 12 h cutoff (dropped at extraction);
- exact duplicate rows (dropped by the source DISTINCT);
- near-duplicates differing only in 建立時間 / crawl_time (collapsed by the
  latest-wins dedup);
- pad-needed (`CI73`), whitespace/case (` ci 73 `) and invalid (`C7`,
  `CI73456`, `nan`) flight numbers; placeholder strings in empty legs;
- legs 2-3 empty in about half of the itineraries;
- duplicate-key supplier offers (many-to-many fan-out) and orphan offers;
- route skew: itineraries on a few routes get most of the cola rows.

`Plan.write_fares` writes a table shaped like the pipeline's output (and
upsert deltas of it) straight to parquet, with per-itinerary totals for a
key -> latest-rows model.

Every itinerary is a (combo, day) pair. A combo fixes the route, airline,
cabin and flight numbers; its leg-1 departure flight number is unique, so
(leg-1 flight numbers, leg-1 cabins, dates) identify an itinerary.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

NOW = 1_760_000_000.0  # frozen clock: 2025-10-09 08:53:20 UTC
CUTOFF = NOW - 12 * 3600
HOUR = 3600.0

TABLES = {  # Extractor.TABLES
    "cola": "New_cola_air_tickets_price",
    "set": "New_settour_air_tickets_price",
    "lion": "New_Lion_air_tickets_price",
    "eztravel": "New_Eztravel_air_tickets_price",
    "rich": "New_richmond_air_tickets_price",
}

# logical suppliers: eztravel is one table split by 海外供應商
SUPPLIERS = ("set", "lion", "eztravel", "f_eztravel", "rich")
PRICE_COL = {
    "set": "settour_air_tickets_price",
    "lion": "lion_air_tickets_price",
    "eztravel": "eztravel_ticket_air_tickets_price",
    "f_eztravel": "foreign_supplier_eztraval_ticket_air_tickets_price",
    "rich": "rich_mond_air_tickets_price",
}
TAX_COL = {
    "set": "settour_tax",
    "lion": "lion_tax",
    "eztravel": "eztravel_tax",
    "f_eztravel": "foreign_supplier_eztraval_tax",
    "rich": "rich_mond_tax",
}
OFFER_RATE = {"set": 0.55, "lion": 0.45, "eztravel": 0.40, "f_eztravel": 0.20, "rich": 0.35}

# output columns that identify an itinerary (merge keys of the upsert stream)
MERGE_KEYS = [
    "departure_flight_number_1",
    "return_flight_number_1",
    "departure_cabin_class_1",
    "return_cabin_class_1",
    "departure_date",
    "return_date",
]

AIRLINES = np.array(["CI", "BR", "JX", "CX", "HX", "IT", "7C", "MM"])
AIRPORTS = np.array(
    ["TPE 桃園機場", "HKG 香港機場", "NRT 成田機場", "KIX 關西機場", "ICN 仁川機場",
     "BKK 素萬那普機場", "SIN 樟宜機場", "MNL 馬尼拉機場", "OKA 那霸機場", "FUK 福岡機場",
     "CTS 新千歲機場", "SGN 新山一機場", "DAD 峴港機場", "LAX 洛杉磯機場", "SFO 舊金山機場"]
)
CABINS = np.array(["經濟艙 K", "經濟艙 Y", "經濟艙 M", "豪華經濟艙 W", "商務艙 C", "頭等艙 F"])
AIRCRAFT = np.array(["A321", "A330-300", "A350-900", "B737-800", "B777-300ER", "B787-9"])
DURATIONS = np.array(["0 days 02:05:00", "01:30:30", "95", "0 days 04:40:00", "03:15:00"])
LUGGAGE = np.array(["1件", "2件", "25 公斤", "30kg", "無", "20 公斤"])
CABIN_PLACEHOLDERS = np.array(["nan", "None", "<NA>", "null", "NaT", "", "  "], dtype=object)
# empty legs; each list is also drawn with one extra code that means NULL
FLIGHT_BLANKS = np.array(["", "  "], dtype=object)
COLA_FLIGHT_PLACEHOLDERS = np.array(["nan", "None", "<NA>", "null", ""], dtype=object)
INVALID_FLIGHTS = np.array(["C7", "CI73456", "ABC12", "nan", "None"], dtype=object)

START = dt.date(2025, 11, 1)  # departure window spans the year end
DAYS = 300  # < 1 year: MM/DD join keys stay unambiguous
LEGS = (1, 2, 3)


def day_string(day: int) -> str:
    """Output form of a departure day (YYYY/MM/DD)."""
    return (START + dt.timedelta(days=int(day))).strftime("%Y/%m/%d")


def rng_for(seed: int, *tags: int) -> np.random.Generator:
    return np.random.default_rng([seed, *tags])


def _fmt_flight(code: np.ndarray, num: np.ndarray) -> np.ndarray:
    return np.array([f"{c}{n:03d}" for c, n in zip(code, num)], dtype=object)


@dataclass
class Catalogue:
    """Fixed attributes of every (combo, day) itinerary of one seed."""

    combos: int
    weight: np.ndarray  # itinerary -> sampling weight (route skew)
    n_dep: np.ndarray  # combo -> legs on the way out (1..3)
    n_ret: np.ndarray
    cabin: np.ndarray  # combo -> index into CABINS
    flights: dict  # (dir, leg) -> combo -> canonical flight number
    airports: dict  # (dir, leg, end) -> combo -> index into AIRPORTS
    aircraft: np.ndarray  # combo -> index into AIRCRAFT
    hour: np.ndarray  # combo -> departure hour
    ret_gap: np.ndarray  # itinerary -> days between departure and return

    @property
    def size(self) -> int:
        return self.combos * DAYS

    def lookup_key(self, itin: int) -> dict:
        """Output-column values that find an itinerary's rows."""
        return {"departure_flight_number_1": self.flights[("dep", 1)][itin // DAYS],
                "departure_date": day_string(itin % DAYS)}

    @staticmethod
    def build(seed: int, combos: int) -> "Catalogue":
        rng = rng_for(seed, 1)
        routes = 30
        route_p = 1.0 / np.arange(1, routes + 1) ** 1.2
        route_p /= route_p.sum()
        route = rng.choice(routes, size=combos, p=route_p)
        n_dep = rng.choice([1, 2, 3], size=combos, p=[0.5, 0.3, 0.2])
        n_ret = np.where(rng.random(combos) < 0.8, n_dep, rng.choice([1, 2, 3], size=combos))
        airline = AIRLINES[rng.integers(0, len(AIRLINES), combos)]
        # leg-1 outbound number is unique per combo (c+1 < 100 needs padding
        # in the supplier spelling); return numbers live in another range
        flights = {
            ("dep", 1): _fmt_flight(airline, np.arange(combos) + 1),
            ("ret", 1): _fmt_flight(airline, np.arange(combos) + 5001),
        }
        for leg in (2, 3):
            for d in ("dep", "ret"):
                other = AIRLINES[rng.integers(0, len(AIRLINES), combos)]
                flights[(d, leg)] = _fmt_flight(other, rng.integers(100, 9999, combos))
        origin = np.zeros(combos, dtype=int)
        dest = 1 + route % (len(AIRPORTS) - 1)
        via = [1 + (route + k) % (len(AIRPORTS) - 1) for k in (3, 7)]
        stops = [origin, via[0], via[1]]
        airports = {}
        for leg in LEGS:
            frm = stops[leg - 1]
            to = np.where(n_dep == leg, dest, stops[leg % 3])
            airports[("dep", leg, "from")] = frm
            airports[("dep", leg, "to")] = to
            airports[("ret", leg, "from")] = to
            airports[("ret", leg, "to")] = frm
        weight = np.repeat(route_p[route] / np.bincount(route, minlength=routes)[route], DAYS)
        return Catalogue(
            combos=combos,
            weight=weight / weight.sum(),
            n_dep=n_dep,
            n_ret=n_ret,
            cabin=rng.integers(0, len(CABINS), combos),
            flights=flights,
            airports=airports,
            aircraft=rng.integers(0, len(AIRCRAFT), combos),
            hour=rng.integers(6, 22, combos),
            ret_gap=rng.integers(2, 15, combos * DAYS),
        )


def _pick(rng: np.random.Generator, k: int, n: int) -> np.ndarray:
    return rng.integers(0, k, n)


def _coded(codes: np.ndarray, values) -> tuple[np.ndarray, list]:
    """A string column as codes into a small list of values; code -1 is
    NULL. Columns stay coded until the table is built, which keeps
    generation free of per-row Python string work."""
    return np.asarray(codes, dtype=np.int32), list(values)


def _arrow(v, order: np.ndarray) -> pa.Array:
    if isinstance(v, tuple):
        codes = v[0][order]
        return pa.DictionaryArray.from_arrays(
            pa.array(codes, mask=codes < 0), pa.array(v[1], type=pa.string())
        )
    if isinstance(v, pa.Array):
        return v.take(pa.array(order))
    return pa.array(v[order], from_pandas=True)  # NaN -> NULL


def _day_values(fmt: str) -> list[str]:
    return [(START + dt.timedelta(days=d)).strftime(fmt) for d in range(DAYS + 16)]


def _time_codes(day: np.ndarray, hour: np.ndarray) -> np.ndarray:
    return day * 24 + hour % 24


def _time_values(minute: int) -> list[str]:
    days = _day_values("%Y-%m-%d")
    return [f"{d} {h:02d}:{minute:02d}:00" for d in days for h in range(24)]


def _dates(cat: "Catalogue", itin: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(departure, return) day offsets from START."""
    dep = itin % DAYS
    return dep, dep + cat.ret_gap[itin]


# --------------------------------------------------------------- cola
def _cola_table(rng, cat: Catalogue, itin: np.ndarray, base_price: np.ndarray,
                fresh_base: float) -> tuple[pa.Table, dict]:
    """One row per cola content, then exact and near-duplicate copies."""
    n = len(itin)
    combo = itin // DAYS
    dep, ret = _dates(cat, itin)
    stale = rng.random(n) < 0.08
    created = np.where(
        stale,
        NOW - rng.uniform(13 * HOUR, 40 * HOUR, n),
        fresh_base - rng.uniform(0, 10 * HOUR, n),
    ).round(3)
    tax = rng.integers(300, 3000, n)
    final = base_price + tax + 100 * (np.arange(n) % 7)
    final_null = rng.random(n) < 0.01
    gds_null = rng.random(n) < 0.05
    none = np.full(n, -1)
    c = cat.combos
    t_off, t_on = _time_values(20), _time_values(25)
    cols: dict[str, object] = {}
    for d, name, day in (("dep", "去程", dep), ("ret", "回程", ret)):
        legs = cat.n_dep[combo] if d == "dep" else cat.n_ret[combo]
        hour = cat.hour[combo] if d == "dep" else cat.hour[combo] + 7
        for leg in LEGS:
            present = legs >= leg
            canon = cat.flights[(d, leg)]
            # leg 1 carries whitespace/case variants the join must undo;
            # empty legs carry placeholder strings (or NULL)
            variant = combo + c * ((leg == 1) & (rng.random(n) < 0.05))
            blank = 2 * c + _pick(rng, len(COLA_FLIGHT_PLACEHOLDERS) + 1, n)
            blank[blank == 2 * c + len(COLA_FLIGHT_PLACEHOLDERS)] = -1
            flights = [*canon, *[f.lower() + " " for f in canon], *COLA_FLIGHT_PLACEHOLDERS]
            cols[f"{name}航班編號{leg}"] = _coded(np.where(present, variant, blank), flights)
            cols[f"{name}艙等與艙等編碼{leg}"] = _coded(np.where(present, cat.cabin[combo], none), CABINS)
            h = hour + 2 * (leg - 1)
            cols[f"{name}起飛時間{leg}"] = _coded(np.where(present, _time_codes(day, h), none), t_off)
            cols[f"{name}降落時間{leg}"] = _coded(np.where(present, _time_codes(day, h + 1), none), t_on)
            cols[f"{name}起飛機場{leg}"] = _coded(np.where(present, cat.airports[(d, leg, "from")][combo], none), AIRPORTS)
            cols[f"{name}降落機場{leg}"] = _coded(np.where(present, cat.airports[(d, leg, "to")][combo], none), AIRPORTS)
            cols[f"{name}飛機公司及型號{leg}"] = _coded(np.where(present, cat.aircraft[combo], none), AIRCRAFT)
            cols[f"{name}飛行時間{leg}"] = _coded(np.where(present, _pick(rng, len(DURATIONS), n), none), DURATIONS)
            cols[f"{name}行李{leg}"] = _coded(np.where(present, _pick(rng, len(LUGGAGE), n), none), LUGGAGE)
    cols.update(
        {
            "基礎票價": base_price.astype(float),
            "票價加價成數": np.round(rng.uniform(0, 0.2, n), 3),
            "總售價": np.where(final_null, np.nan, final.astype(float)),
            "稅金": tax.astype(float),
            "稅金加價成數": np.round(rng.uniform(0, 0.1, n), 3),
            "票型": _coded(_pick(rng, 2, n), ["淨價", "票面"]),
            "公式類型": _coded(_pick(rng, 3, n), ["A", "B", "C"]),
            "GDS Type": _coded(np.where(gds_null, -1, _pick(rng, 3, n)), ["amadeus", "sabre", "galileo"]),
            "折讓百分比": _coded(_pick(rng, 4, n), ["3%", "5%", "0%", ""]),
            "折扣": rng.integers(0, 300, n).astype(float),
            "固定金額": rng.integers(0, 100, n).astype(float),
        }
    )
    # copies: exact duplicates (source DISTINCT) and near-duplicates that
    # differ only in 建立時間 (latest-wins dedup); both keep the original's
    # freshness, so the model counts each content once
    exact = np.flatnonzero(rng.random(n) < 0.03)
    near = np.flatnonzero(rng.random(n) < 0.05)
    order = np.concatenate([np.arange(n), exact, near])
    created = np.concatenate([created, created[exact], created[near] - rng.uniform(1, 3000, len(near)).round(3)])
    perm = rng.permutation(len(order))
    table = pa.table({**{k: _arrow(v, order[perm]) for k, v in cols.items()}, "建立時間": created[perm]})
    kept = ~stale & ~final_null & ~gds_null
    return table, {"itin": itin, "kept": kept, "final": final}


# ----------------------------------------------------------- suppliers
@dataclass
class Offers:
    itin: np.ndarray
    price: np.ndarray
    tax: np.ndarray  # -1 = NULL
    kept: np.ndarray  # survives cutoff, price filter and validity filter


def _supplier_rows(rng, cat: Catalogue, itin_matched: np.ndarray, orphans: np.ndarray,
                   crawl_base: float, price_base: int) -> tuple[dict, Offers]:
    """Raw supplier rows for offers on `itin_matched` (itineraries the cola
    spine has) plus orphan offers on itineraries it has not."""
    n_m = len(itin_matched)
    itin = np.concatenate([itin_matched, orphans])
    n = len(itin)
    combo = itin // DAYS
    dep, ret = _dates(cat, itin)
    price = price_base + np.arange(n) * 3 + rng.integers(0, 3, n)
    tax = np.where(rng.random(n) < 0.2, -1, rng.integers(200, 2500, n))
    stale = rng.random(n) < 0.08
    price_null = rng.random(n) < 0.01
    invalid = rng.random(n) < 0.02
    crawl = np.where(
        stale,
        NOW - rng.uniform(13 * HOUR, 40 * HOUR, n),
        crawl_base - rng.uniform(0, 10 * HOUR, n),
    ).astype(np.int64)
    cols: dict[str, object] = {}
    # dates: mostly ISO, some '/' and '.' separators; junk on some orphans
    span = DAYS + 16
    day_values = [*_day_values("%Y-%m-%d"), *_day_values("%Y/%m/%d"), *_day_values("%Y.%m.%d"), "TBD"]
    sep = rng.choice(3, size=n, p=[0.85, 0.10, 0.05]) * span
    junk = np.zeros(n, dtype=bool)
    junk[n_m:] = rng.random(n - n_m) < 0.2
    cols["去程日期"] = _coded(np.where(junk, 3 * span, sep + dep), day_values)
    cols["回程日期"] = _coded(sep + ret, day_values)
    c = cat.combos
    for d, name in (("dep", "去程"), ("ret", "回程")):
        legs = cat.n_dep[combo] if d == "dep" else cat.n_ret[combo]
        for leg in LEGS:
            present = legs >= leg
            canon = cat.flights[(d, leg)]
            # pad-needed spellings (CI073 -> CI73, CI007 -> CI7) and
            # whitespace/case spellings (" ci 73 "); the engine canonicalizes
            padded = [f[:2] + f[2:].lstrip("0") for f in canon]
            spelled = [*canon, *padded]
            spelled += [f" {f[:2].lower()} {f[2:]} " for f in spelled]
            pad_ok = np.array([f[2] == "0" for f in canon])[combo]
            code = combo + c * (pad_ok & (rng.random(n) < 0.6)) + 2 * c * (rng.random(n) < 0.1)
            blanks = 4 * c + _pick(rng, len(FLIGHT_BLANKS) + 1, n)
            blanks[blanks == 4 * c + len(FLIGHT_BLANKS)] = -1
            flights = [*spelled, *FLIGHT_BLANKS, *INVALID_FLIGHTS]
            code = np.where(present, code, blanks)
            if leg == 1:
                code = np.where(invalid, 4 * c + len(FLIGHT_BLANKS) + _pick(rng, len(INVALID_FLIGHTS), n), code)
            cols[f"{name}航班編號{leg}"] = _coded(code, flights)
            cabins = [*CABINS, *[x.replace(" ", "") for x in CABINS], *CABIN_PLACEHOLDERS]
            cabin = cat.cabin[combo] + len(CABINS) * (rng.random(n) < 0.5)
            holder = 2 * len(CABINS) + _pick(rng, len(CABIN_PLACEHOLDERS), n)
            cols[f"{name}艙等{leg}"] = _coded(np.where(present, cabin, holder), cabins)
    cols["票面價格"] = np.where(price_null, np.nan, price.astype(float))
    cols["稅金"] = np.where(tax < 0, np.nan, tax.astype(float))

    exact = np.flatnonzero(rng.random(n) < 0.03)
    near = np.flatnonzero(rng.random(n) < 0.04)
    order = np.concatenate([np.arange(n), exact, near])
    crawl = np.concatenate([crawl, crawl[exact], crawl[near] - rng.integers(1, 600, len(near))])
    cols["crawl_time"] = pc.cast(pa.array(crawl), pa.string())
    cols["_order"] = order
    kept = ~stale & ~price_null & ~invalid
    matched = Offers(itin=itin[:n_m], price=price[:n_m], tax=tax[:n_m], kept=kept[:n_m])
    return cols, matched


def _to_table(cols: dict, rng) -> pa.Table:
    """Build the supplier table, rows shuffled."""
    order = cols["_order"]
    perm = rng.permutation(len(order))
    out = {}
    for k, v in cols.items():
        if k == "_order":
            continue
        out[k] = v.take(pa.array(perm)) if isinstance(v, pa.Array) else _arrow(v, order[perm])
    return pa.table(out)


# ------------------------------------------------------------- model
@dataclass
class Expected:
    """Expected pipeline output per itinerary, after the P6 NULL-gds
    filter: `fields` maps a total's name (`rows`, `final_sum`,
    `<supplier>.price_n`, ...) to an array aligned with `itin`."""

    itin: np.ndarray
    fields: dict

    def totals(self) -> dict:
        return {k: int(v.sum()) for k, v in self.fields.items()}


class TableModel:
    """Key -> latest rows: what a table holds after an overwrite and a
    series of merges keyed by itinerary."""

    def __init__(self, size: int):
        self.size = size
        self.fields: dict[str, np.ndarray] = {}

    def overwrite(self, exp: Expected) -> None:
        self.fields = {k: np.zeros(self.size, dtype=np.int64) for k in exp.fields}
        self.merge(exp)

    def merge(self, exp: Expected) -> None:
        """Itineraries with output rows in `exp` replace the stored ones;
        an itinerary whose delta yields no row is not a key of the update."""
        hit = exp.fields["rows"] > 0
        for k, v in exp.fields.items():
            self.fields[k][exp.itin[hit]] = v[hit]

    def totals(self) -> dict:
        return {k: int(v.sum()) for k, v in self.fields.items()}


def _expected(cola: dict, offers: dict[str, Offers]) -> Expected:
    """Row counts and sums the pipeline must produce, per itinerary.

    For a cola content on itinerary k with n_s distinct surviving offers
    from supplier s (z_s of them without tax), the join yields
    M = prod(max(1, n_s)) rows, of which Z = prod(n_s ? z_s : 1) carry no
    supplier tax and are removed; sums follow the same inclusion-exclusion
    per supplier column."""
    keep = cola["kept"]
    itins, pos = np.unique(cola["itin"][keep], return_inverse=True)
    m = len(itins)
    contents = np.bincount(pos, minlength=m).astype(np.int64)
    final = np.bincount(pos, weights=cola["final"][keep], minlength=m).astype(np.int64)
    stats = {}
    for s, o in offers.items():
        idx = np.searchsorted(itins, o.itin)
        ok = o.kept & (idx < m) & (itins[np.minimum(idx, m - 1)] == o.itin)
        idx = idx[ok]
        notax = o.tax[ok] < 0
        pr, tx = o.price[ok].astype(np.int64), o.tax[ok].astype(np.int64)

        def tally(mask, vals=None):
            out = np.zeros(m, dtype=np.int64)
            np.add.at(out, idx[mask], 1 if vals is None else vals[mask])
            return out

        every = np.ones(len(idx), dtype=bool)
        stats[s] = dict(
            n=tally(every), z=tally(notax), sp=tally(every, pr), spz=tally(notax, pr),
            nt=tally(~notax), st=tally(~notax, tx),
        )
    mult = {s: np.maximum(1, st["n"]) for s, st in stats.items()}
    zero = {s: np.where(st["n"] == 0, 1, st["z"]) for s, st in stats.items()}
    M = np.prod(np.stack(list(mult.values())), axis=0)
    Z = np.prod(np.stack(list(zero.values())), axis=0)
    fields = {"rows": contents * (M - Z), "final_sum": final * (M - Z)}
    for s, st in stats.items():
        others_m = M // mult[s]
        others_z = np.prod(np.stack([zero[t] for t in stats if t != s]), axis=0)
        fields[f"{s}.price_n"] = contents * (st["n"] * others_m - st["z"] * others_z)
        fields[f"{s}.price_sum"] = contents * (st["sp"] * others_m - st["spz"] * others_z)
        fields[f"{s}.tax_n"] = contents * st["nt"] * others_m
        fields[f"{s}.tax_sum"] = contents * st["st"] * others_m
    return Expected(itin=itins, fields=fields)


# ---------------------------------------------------------- snapshots
def write_snapshot(path: str, seed: int, tag: int, cat: Catalogue, itin: np.ndarray,
                   orphan_pool: np.ndarray, fresh_base: float) -> Expected:
    """Write one lake (cola spine rows on `itin`, one per content, plus the
    four supplier tables) to `path`; return the expected output."""
    rng = rng_for(seed, 2, tag)
    price_base = 10_000 + tag * 1_000_000  # unique prices across snapshots
    cola_t, cola = _cola_table(rng, cat, itin, price_base + np.arange(len(itin)) * 5, fresh_base)
    os.makedirs(path, exist_ok=True)
    pq.write_table(cola_t, os.path.join(path, f"{TABLES['cola']}.parquet"))
    uniq = np.unique(itin)
    offers: dict[str, Offers] = {}
    tables: dict[str, pa.Table] = {}
    for si, s in enumerate(SUPPLIERS):
        has = uniq[rng.random(len(uniq)) < OFFER_RATE[s]]
        dup = has[rng.random(len(has)) < 0.12]  # duplicate-key fan-out
        matched = np.concatenate([has, dup])
        orphans = orphan_pool[rng.integers(0, len(orphan_pool), max(1, len(matched) // 4))]
        cols, offers[s] = _supplier_rows(
            rng, cat, matched, orphans, fresh_base, price_base + 100_000 * (si + 1)
        )
        tables[s] = _to_table(cols, rng)
    for s in ("set", "lion", "rich"):
        pq.write_table(tables[s], os.path.join(path, f"{TABLES[s]}.parquet"))
    dom, foreign = tables["eztravel"], tables["f_eztravel"]
    ez = pa.concat_tables([
        dom.append_column("海外供應商", pa.array(np.zeros(dom.num_rows, dtype=bool))),
        foreign.append_column("海外供應商", pa.array(np.ones(foreign.num_rows, dtype=bool))),
    ], promote_options="permissive")
    ez = ez.take(pa.array(rng.permutation(ez.num_rows)))
    pq.write_table(ez, os.path.join(path, f"{TABLES['eztravel']}.parquet"))
    return _expected(cola, offers)


@dataclass
class Plan:
    """Which itineraries a seed's inputs use."""

    cat: Catalogue
    base: np.ndarray  # itinerary per base cola content
    spare: np.ndarray  # never in the base: new keys and orphans

    @staticmethod
    def build(seed: int, spine_rows: int) -> "Plan":
        itineraries = max(1000, spine_rows // 3)
        combos = max(20, -(-itineraries * 3 // DAYS))
        cat = Catalogue.build(seed, combos)
        rng = rng_for(seed, 3)
        perm = rng.permutation(cat.size)
        used, spare = perm[:itineraries], perm[itineraries:]
        w = cat.weight[used] / cat.weight[used].sum()
        base = used[rng.choice(itineraries, size=spine_rows, p=w)]
        return Plan(cat=cat, base=base, spare=spare)

    def write_base(self, path: str, seed: int) -> Expected:
        return write_snapshot(path, seed, 0, self.cat, self.base, self.spare, NOW)

    def write_fares(self, path: str, seed: int, step: int, share: float = 0.01,
                    new_keys: int = 40) -> Expected:
        """A table in the pipeline's 94-column output schema, written
        straight to parquet: step 0 holds every base itinerary, step n >= 1
        is an upsert delta re-pricing about `share` of them plus `new_keys`
        itineraries the table has not seen."""
        rng = rng_for(seed, 5, step)
        if step == 0:
            itin = self.base
        else:
            picked = np.unique(self.base[rng.integers(0, len(self.base), max(1, int(len(self.base) * share)))])
            fresh = self.spare[(step * new_keys) % len(self.spare):][:new_keys]
            itin = np.concatenate([picked, fresh])
        itin = np.repeat(itin, 1 + (rng.random(len(itin)) < 0.3))  # supplier fan-out
        table, exp = _fares(rng, self.cat, itin, 10_000 + step * 1_000_000, NOW + HOUR * step)
        pq.write_table(table, path)
        return exp


OUTPUT_TYPES = {"double": pa.float64(), "int": pa.int32(), "bigint": pa.int64()}


def _leg_values(values: list[str]) -> tuple[list, list]:
    """Split 'value unit' luggage strings the way the pipeline does ('' is
    a blank the pipeline turns into NULL)."""
    nums, units = [], []
    for v in values:
        digits = "".join(ch for ch in v if ch.isdigit() or ch == ".")
        nums.append(float(digits) if digits else np.nan)
        units.append(v[len(digits):].strip() if digits else "")
    return nums, units


def _aggregate(itin: np.ndarray, final: np.ndarray, price: dict, tax: dict) -> Expected:
    """Per-itinerary totals of explicit rows (-1 = NULL price or tax)."""
    itins, pos = np.unique(itin, return_inverse=True)
    m = len(itins)

    def tally(mask, vals=None):
        return np.bincount(pos[mask], weights=None if vals is None else vals[mask], minlength=m).astype(np.int64)

    every = np.ones(len(itin), dtype=bool)
    fields = {"rows": tally(every), "final_sum": tally(every, final)}
    for s in SUPPLIERS:
        fields[f"{s}.price_n"] = tally(price[s] >= 0)
        fields[f"{s}.price_sum"] = tally(price[s] >= 0, price[s])
        fields[f"{s}.tax_n"] = tally(tax[s] >= 0)
        fields[f"{s}.tax_sum"] = tally(tax[s] >= 0, tax[s])
    return Expected(itin=itins, fields=fields)


def _fares(rng, cat: Catalogue, itin: np.ndarray, price_base: int, fresh_base: float
           ) -> tuple[pa.Table, Expected]:
    n = len(itin)
    combo = itin // DAYS
    dep, ret = _dates(cat, itin)
    none = np.full(n, -1)
    cols: dict[str, object] = {}
    lug_num, lug_unit = _leg_values(list(LUGGAGE))
    minutes = [125, 91, 95, 280, 195]  # DURATIONS in minutes
    hhmm = [f"{h:02d}:{m:02d}" for h in range(24) for m in (20, 25)]
    per = {}
    for d in ("dep", "ret"):
        legs = cat.n_dep[combo] if d == "dep" else cat.n_ret[combo]
        hour = cat.hour[combo] if d == "dep" else cat.hour[combo] + 7
        for leg in LEGS:
            present = legs >= leg
            canon = cat.flights[(d, leg)]
            lug = _pick(rng, len(LUGGAGE), n)
            dur = _pick(rng, len(minutes), n)
            h = (hour + 2 * (leg - 1)) % 24
            has_unit = np.array([u != "" for u in lug_unit])[lug]
            alpha = np.array([f[:2].isalpha() for f in canon])[combo]
            per[(d, leg)] = {
                "airline": _coded(np.where(present & alpha, combo, none), [f[:2] for f in canon]),
                "from": _coded(np.where(present, cat.airports[(d, leg, "from")][combo], none), [a.split()[0] for a in AIRPORTS]),
                "to": _coded(np.where(present, cat.airports[(d, leg, "to")][combo], none), [a.split()[0] for a in AIRPORTS]),
                "off": _coded(np.where(present, h * 2, none), hhmm),
                "on": _coded(np.where(present, ((h + 1) % 24) * 2 + 1, none), hhmm),
                "aircraft": _coded(np.where(present, cat.aircraft[combo], none), AIRCRAFT),
                "lug_value": np.where(present, np.array(lug_num, dtype=float)[lug], np.nan),
                "lug_unit": _coded(np.where(present & has_unit, lug, none), lug_unit),
                "duration": np.where(present, np.array(minutes)[dur], -1),
                "number": _coded(np.where(present, combo, none), canon),
                "cabin": _coded(np.where(present, cat.cabin[combo], none), [c.replace(" ", "") for c in CABINS]),
            }
    name = {"dep": "departure", "ret": "return"}
    for leg in LEGS:
        for d in ("dep", "ret"):
            cols[f"{name[d]}_airline_{leg}"] = per[(d, leg)]["airline"]
    for leg in LEGS:
        cols[f"departure_airport_{leg}"] = per[("dep", leg)]["from"]
        cols[f"departure_arrival_airport_{leg}"] = per[("dep", leg)]["to"]
        cols[f"return_airport_{leg}"] = per[("ret", leg)]["from"]
        cols[f"return_arrival_airport_{leg}"] = per[("ret", leg)]["to"]
    for leg in LEGS:
        for d in ("dep", "ret"):
            cols[f"{name[d]}_flight_time_{leg}"] = per[(d, leg)]["off"]
            cols[f"{name[d]}_arrival_flight_time_{leg}"] = per[(d, leg)]["on"]
    for leg in LEGS:
        for d in ("dep", "ret"):
            cols[f"{name[d]}_aircraft_type_{leg}"] = per[(d, leg)]["aircraft"]
    for leg in LEGS:
        for d in ("dep", "ret"):
            cols[f"{name[d]}_luggage_value_{leg}"] = per[(d, leg)]["lug_value"]
            cols[f"{name[d]}_luggage_unit_{leg}"] = per[(d, leg)]["lug_unit"]
    for leg in LEGS:
        for d in ("dep", "ret"):
            cols[f"{name[d]}_flight_duration_{leg}"] = ("int", per[(d, leg)]["duration"])
    for leg in LEGS:
        for d in ("dep", "ret"):
            cols[f"{name[d]}_flight_number_{leg}"] = per[(d, leg)]["number"]
        for d in ("dep", "ret"):
            cols[f"{name[d]}_cabin_class_{leg}"] = per[(d, leg)]["cabin"]
    cols["departure_transfer_count"] = ("int", cat.n_dep[combo] - 1)
    cols["return_transfer_count"] = ("int", cat.n_ret[combo] - 1)
    cols["gds_type"] = _coded(_pick(rng, 3, n), ["amadeus", "sabre", "galileo"])
    ticket = price_base + np.arange(n) * 5
    tax = rng.integers(300, 3000, n)
    final = ticket + tax + 100 * (np.arange(n) % 7)
    cols["ticket_price"] = ticket.astype(float)
    cols["ticket_price_markup_percentage"] = np.round(rng.uniform(0, 0.2, n), 3)
    cols["tax"] = tax.astype(float)
    cols["tax_markup_percentage"] = np.round(rng.uniform(0, 0.1, n), 3)
    cols["final_price"] = final.astype(float)
    cols["departure_date"] = _coded(dep, _day_values("%Y/%m/%d"))
    cols["return_date"] = _coded(ret, _day_values("%Y/%m/%d"))
    cols["creation_time"] = (fresh_base - rng.uniform(0, 10 * HOUR, n)).round(3)
    cols["ezfly_ticket_price"] = ("bigint", none)
    cols["ezfly_tax"] = ("bigint", none)
    price, taxes = {}, {}
    for si, s in enumerate(SUPPLIERS):
        has = rng.random(n) < OFFER_RATE[s] + 0.2
        price[s] = np.where(has, price_base + 100_000 * (si + 1) + rng.integers(0, 90_000, n), -1)
        taxes[s] = np.where(has & (rng.random(n) < 0.8), rng.integers(200, 2500, n), -1)
        cols[PRICE_COL[s]] = ("bigint", price[s])
        cols[TAX_COL[s]] = ("bigint", taxes[s])
    cols["net_price_or_ticket_price"] = _coded(_pick(rng, 2, n), ["淨價", "票面"])
    cols["ticket_rule_type"] = _coded(_pick(rng, 3, n), ["A", "B", "C"])
    cols["kp"] = _coded(_pick(rng, 4, n) - 1, ["3%", "5%", "0%"])
    cols["discount"] = rng.integers(0, 300, n).astype(float)
    cols["activity_fee_adjustment"] = rng.integers(0, 100, n).astype(float)

    order = rng.permutation(n)
    arrays = {}
    for k, v in cols.items():
        if isinstance(v, tuple) and isinstance(v[0], str):  # typed integers, -1 = NULL
            vals = v[1][order]
            arrays[k] = pa.array(vals, type=OUTPUT_TYPES[v[0]], mask=vals < 0)
        else:
            arrays[k] = _arrow(v, order)
    return pa.table(arrays), _aggregate(itin, final, price, taxes)
