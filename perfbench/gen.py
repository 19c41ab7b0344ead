"""Seeded input generators for the benchmark.

Everything here is a pure function of the seed: the same seed writes the
same bytes. The engine under test only ever sees the files written here.

- ``house_city_files``: reference-shaped raw house-price CSVs (UTF-8 BOM
  on the first header cell, the embedded English header row, Minguo
  dates with ~1 % invalid, garbage total prices, zero unit prices that
  the ETL repairs, and a mix of building / land / parking rows), with
  the cleaned row counts and per-city per-year flagship averages the
  ETL must reproduce.
- ``UpsertSchedule``: the incremental workload's arrival stream (single
  city raw CSV files whose rows partly revisit earlier keys as price
  corrections), MERGE corrections, DELETE retractions and OPTIMIZE
  points, plus a running model of the table that predicts every
  read-after-write result and the final snapshot.
- ``tpch_tables``: the TPC-H-shaped parquet tables the benchmark's
  catalog queries read (region, nation, customer, orders), with the
  column names, types and value domains those queries use.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass, field

import numpy as np

BOM = "﻿"
HEADER_ZH = ("鄉鎮市區,交易標的,土地位置建物門牌,土地移轉總面積平方公尺,"
             "建物移轉總面積平方公尺,建築完成年月,交易年月日,總價元,單價元平方公尺")
HEADER_EN = ("The villages and towns urban district,transaction sign,"
             "land sector position building sector house number plate,"
             "land shifting total area square meter,"
             "building shifting total area square meter,"
             "construction to complete the years,transaction year month and day,"
             "total price NTD,the unit price (NTD / square meter)")
# city code (char 7 of the file name) -> the city the ETL derives from it
CITIES = {"a": "台北市", "b": "台中市", "e": "高雄市", "f": "新北市",
          "g": "宜蘭縣", "h": "桃園縣", "j": "新竹縣", "k": "苗栗縣"}
DISTRICTS = ["礁溪鄉", "宜蘭市", "羅東鎮", "大安區", "中山區", "板橋區", "北屯區"]
ROADS = ["中正路", "民生路", "復興路", "和平街", "光明路"]
SECTIONS = ["大湖段", "光復段", "新生段", "五結段"]
BUILDING, LAND, PARKING = "房地(土地+建物)", "土地", "車位"
INVALID_DATES = ["1100231", "1091301", "1080000", "1100", "11a0101", "1110431"]
GARBAGE_PRICES = ["garbage", "N/A", "--"]
M2_PER_PING = 3.30579
YEAR_LO, YEAR_HI = 2012, 2023      # Minguo 101..112


def _round2(x):
    """Round half away from zero to 2 places (Spark ``round`` on
    doubles); NaN passes through."""
    return np.sign(x) * np.floor(np.abs(x) * 100.0 + 0.5) / 100.0


def _minguo(d: dt.date) -> str:
    return f"{d.year - 1911}{d.month:02d}{d.day:02d}"


def _random_dates(rng: np.random.Generator, n: int) -> np.ndarray:
    lo = dt.date(YEAR_LO, 1, 1).toordinal()
    hi = dt.date(YEAR_HI, 12, 31).toordinal()
    return rng.integers(lo, hi + 1, size=n)


@dataclass
class RawRows:
    """Columns of one raw CSV file plus the ground truth of its rows."""
    code: str
    district: list[str]
    sign: np.ndarray           # object array of the three transaction signs
    position: list[str]
    land_m2: np.ndarray        # float, 2 decimals
    bldg_m2: np.ndarray        # float, 2 decimals (0 on land/parking rows)
    completion: list[str]
    date_ord: np.ndarray       # proleptic ordinal of the transaction date
    date_ok: np.ndarray        # bool: the date string is a real date
    date_str: list[str]
    total: np.ndarray          # float, NaN where the price is garbage
    total_str: list[str]
    unit_m2: np.ndarray        # int, 0 where the ETL must repair it

    def csv_text(self) -> str:
        lines = [BOM + HEADER_ZH, HEADER_EN]
        for i in range(len(self.position)):
            lines.append(
                f"{self.district[i]},{self.sign[i]},{self.position[i]},"
                f"{self.land_m2[i]:.2f},{self.bldg_m2[i]:.2f},"
                f"{self.completion[i]},{self.date_str[i]},"
                f"{self.total_str[i]},{self.unit_m2[i]}")
        return "\n".join(lines) + "\n"

    def unit_price_ping(self, area: np.ndarray) -> np.ndarray:
        """The cleaned ``unit_price_ping`` each row should get, with the
        zero unit price repaired as total / area (NaN when unknowable)."""
        unit = self.unit_m2.astype(float)
        with np.errstate(divide="ignore", invalid="ignore"):
            repaired = _round2(self.total / area)
        unit = np.where(self.unit_m2 == 0, repaired, unit)
        unit = np.where(np.isfinite(unit), unit, np.nan)
        return _round2(unit * M2_PER_PING)

    def year(self) -> np.ndarray:
        return np.array([dt.date.fromordinal(int(o)).year
                         for o in self.date_ord])


def building_position(key_id: int) -> str:
    """The address of building key ``key_id`` (the upsert key is
    (city, position))."""
    return f"{ROADS[key_id % len(ROADS)]}{key_id}號"


def raw_rows(rng: np.random.Generator, code: str, n: int,
             key_ids: np.ndarray | None = None,
             date_ord: np.ndarray | None = None) -> RawRows:
    """``n`` reference-shaped rows for city ``code``: ~60 % building,
    30 % land, 10 % parking. Given ``key_ids``, exactly those building
    keys appear (once each) with the valid transaction dates
    ``date_ord``; otherwise building keys are random and ~1 % of all
    dates are invalid."""
    if key_ids is None:
        u = rng.random(n)
        sign = np.where(u < 0.6, BUILDING, np.where(u < 0.9, LAND, PARKING))
    else:
        rest = np.where(rng.random(n - len(key_ids)) < 0.75, LAND, PARKING)
        sign = np.concatenate([np.full(len(key_ids), BUILDING), rest])
    sign = sign.astype(object)
    order = rng.permutation(n)
    sign = sign[order]
    is_b = sign == BUILDING
    district = [DISTRICTS[i] for i in rng.integers(0, len(DISTRICTS), n)]
    ids = rng.integers(0, 10**9, n)
    if key_ids is not None:
        ids[is_b] = key_ids[order[is_b]]
    position = []
    for i in range(n):
        if sign[i] == LAND:
            position.append(f"{SECTIONS[ids[i] % 4]}{ids[i] % 997}地號")
        elif sign[i] == PARKING:
            position.append(f"{district[i]}車位{ids[i]}")
        else:
            position.append(building_position(int(ids[i])))
    land_m2 = rng.integers(2000, 40000, n) / 100.0
    bldg_m2 = np.where(sign == LAND, 0.0, rng.integers(3000, 25000, n) / 100.0)
    if date_ord is None:
        date_ord = _random_dates(rng, n)
        date_ok = rng.random(n) >= 0.01
    else:
        full = _random_dates(rng, n)
        full[is_b] = date_ord[order[is_b]]
        date_ord = full
        date_ok = np.ones(n, dtype=bool)
    date_str = [
        _minguo(dt.date.fromordinal(int(o))) if ok
        else INVALID_DATES[int(o) % len(INVALID_DATES)]
        for o, ok in zip(date_ord, date_ok)]
    comp = rng.integers(dt.date(1980, 1, 1).toordinal(),
                        dt.date(2011, 12, 31).toordinal(), n)
    completion = ["" if s == LAND else _minguo(dt.date.fromordinal(int(c)))
                  for s, c in zip(sign, comp)]
    total = rng.integers(100, 3000, n) * 10_000.0
    garbage = rng.random(n) < 0.01
    total_str = [GARBAGE_PRICES[i % 3] if g else str(int(t))
                 for i, (t, g) in enumerate(zip(total, garbage))]
    total = np.where(garbage, np.nan, total)
    area = np.where(sign == LAND, land_m2, bldg_m2)
    unit = np.floor(np.nan_to_num(total, nan=5e6) / np.maximum(area, 1.0)).astype(np.int64)
    unit[rng.random(n) < 0.05] = 0
    return RawRows(code, district, sign, position, land_m2, bldg_m2,
                   completion, date_ord, date_ok, date_str, total,
                   total_str, unit)


def raw_file_name(seq: int, code: str) -> str:
    # char 7 of the name is the city code; the "a.csv" suffix is the
    # landing directory's ingest filter
    return f"{seq:05d}_{code}_lvr_land_a.csv"


# --------------------------------------------------------------------------
# etl_batch inputs
# --------------------------------------------------------------------------

@dataclass
class EtlExpect:
    raw_rows: int = 0           # data rows in the CSVs (headers excluded)
    raw_bytes: int = 0
    building_rows: dict[str, int] = field(default_factory=dict)
    land_rows: dict[str, int] = field(default_factory=dict)
    # city -> {year: average unit_price_ping (NaN if all unknown)}
    flagship: dict[str, dict[int, float]] = field(default_factory=dict)


def house_city_files(seed: int, out_dir: str, rows_per_city: int) -> EtlExpect:
    """Write one raw CSV per city into ``out_dir``; return expectations."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    exp = EtlExpect()
    for seq, (code, city) in enumerate(sorted(CITIES.items())):
        r = raw_rows(rng, code, rows_per_city)
        path = os.path.join(out_dir, raw_file_name(seq, code))
        with open(path, "w", encoding="utf-8") as f:
            f.write(r.csv_text())
        exp.raw_rows += rows_per_city
        exp.raw_bytes += os.path.getsize(path)
        b = (r.sign == BUILDING) & r.date_ok
        exp.building_rows[city] = int(b.sum())
        exp.land_rows[city] = int(((r.sign == LAND) & r.date_ok).sum())
        price = r.unit_price_ping(r.bldg_m2)[b]
        years = r.year()[b]
        exp.flagship[city] = {
            int(y): (float(np.mean(price[(years == y) & ~np.isnan(price)]))
                     if np.any((years == y) & ~np.isnan(price)) else float("nan"))
            for y in np.unique(years)}
    return exp


# --------------------------------------------------------------------------
# incremental_upsert inputs
# --------------------------------------------------------------------------

@dataclass
class Step:
    kind: str                  # land | merge | delete | optimize
    city: str = ""
    path: str = ""             # land: staged raw file to move into landing
    raw_rows: int = 0          # land: data rows in the file
    raw_bytes: int = 0
    rows: list = field(default_factory=list)   # merge: cleaned rows
    keys: list = field(default_factory=list)   # delete: positions
    # ledger entries (city, position, date_ord, total_price or None,
    # unit_price_ping or NaN) this step makes live
    live: list = field(default_factory=list)


class TableModel:
    """Keep-latest-by-(city, position) model of the upsert table with
    per-(city, year) running sums, so every read-after-write flagship
    result is predicted in O(years)."""

    def __init__(self):
        self.rows: dict[tuple[str, str], tuple] = {}
        self.sums: dict[tuple[str, int], list] = {}

    def _acc(self, city, date_ord, price, sign):
        y = dt.date.fromordinal(date_ord).year
        s = self.sums.setdefault((city, y), [0, 0, 0])
        s[0] += sign                       # rows in the group
        if not np.isnan(price):
            s[1] += sign * int(round(price * 100))
            s[2] += sign

    def put(self, city, pos, date_ord, total, price):
        old = self.rows.get((city, pos))
        if old is not None:
            if old[0] >= date_ord:
                return                     # an older version never wins
            self._acc(city, old[0], old[2], -1)
        self.rows[(city, pos)] = (date_ord, total, price)
        self._acc(city, date_ord, price, +1)

    def drop(self, city, pos):
        old = self.rows.pop((city, pos), None)
        if old is not None:
            self._acc(city, old[0], old[2], -1)

    def apply(self, step: Step):
        if step.kind == "delete":
            for pos in step.keys:
                self.drop(step.city, pos)
        for city, pos, d, total, price in step.live:
            self.put(city, pos, d, total, price)

    def flagship(self, city: str) -> dict[int, float]:
        return {y: (s[1] / 100.0 / s[2] if s[2] else float("nan"))
                for (c, y), s in sorted(self.sums.items())
                if c == city and s[0] > 0}


class UpsertSchedule:
    """Seeded arrival stream. Cycle ``i`` lands one single-city raw file
    (``arrival_rows`` rows, ``correction_share`` of its building rows
    revisiting live keys with a strictly later date), then commits a
    MERGE of ``merge_rows`` corrections to the city landed one cycle
    earlier and a DELETE of ``delete_keys`` live keys of the city landed
    two cycles earlier; every ``optimize_every``-th cycle ends with an
    OPTIMIZE. Deleted keys are never revisited, so the final table is
    exactly keep-latest over the landed rows minus the retractions."""

    def __init__(self, seed: int, stage_dir: str, cycles: int,
                 arrival_rows: int, correction_share: float = 0.2,
                 merge_rows: int = 200, delete_keys: int = 50,
                 optimize_every: int = 3):
        os.makedirs(stage_dir, exist_ok=True)
        self.rng = np.random.default_rng([seed, 2])
        self.codes = sorted(CITIES)
        self.next_id = 1
        # city -> {building key id: current transaction date ordinal}
        self.alive: dict[str, dict[int, int]] = {c: {} for c in CITIES.values()}
        self.steps: list[Step] = []
        for i in range(cycles):
            self.steps.append(self._arrival(stage_dir, i, arrival_rows,
                                            correction_share))
            self.steps.append(self._merge(i, merge_rows))
            self.steps.append(self._delete(i, delete_keys))
            if (i + 1) % optimize_every == 0:
                self.steps.append(Step("optimize"))

    def _revisit(self, city: str, n: int) -> tuple[np.ndarray, np.ndarray]:
        """``n`` distinct live keys of ``city`` and their current dates."""
        live = self.alive[city]
        n = min(n, len(live))
        keys = np.fromiter(live, dtype=np.int64, count=len(live))
        chosen = np.sort(self.rng.choice(keys, size=n, replace=False))
        return chosen, np.array([live[int(k)] for k in chosen], dtype=np.int64)

    def _arrival(self, stage_dir: str, i: int, n: int, share: float) -> Step:
        code = self.codes[i % len(self.codes)]
        city = CITIES[code]
        nb = int(n * 0.6)
        rev, old = self._revisit(city, int(nb * share))
        fresh = np.arange(self.next_id, self.next_id + nb - len(rev))
        self.next_id += len(fresh)
        keys = np.concatenate([rev, fresh])
        r = raw_rows(self.rng, code, n, key_ids=keys,
                     date_ord=np.concatenate(
                         [old + self.rng.integers(1, 90, len(rev)),
                          _random_dates(self.rng, len(fresh))]))
        # ~1 % of the fresh keys land with an invalid date: the ETL drops
        # them and the key stays unknown
        rev_pos = {building_position(int(k)) for k in rev}
        for j in np.flatnonzero((r.sign == BUILDING)
                                & (self.rng.random(n) < 0.01)):
            if r.position[j] not in rev_pos:
                r.date_ok[j] = False
                r.date_str[j] = INVALID_DATES[j % len(INVALID_DATES)]
        path = os.path.join(stage_dir, raw_file_name(i, code))
        with open(path, "w", encoding="utf-8") as f:
            f.write(r.csv_text())
        price = r.unit_price_ping(r.bldg_m2)
        key_of = {building_position(int(k)): int(k) for k in keys}
        live = []
        for j in np.flatnonzero((r.sign == BUILDING) & r.date_ok):
            total = None if np.isnan(r.total[j]) else int(r.total[j])
            live.append((city, r.position[j], int(r.date_ord[j]), total,
                         float(price[j])))
            self.alive[city][key_of[r.position[j]]] = int(r.date_ord[j])
        return Step("land", city=city, path=path, raw_rows=n,
                    raw_bytes=os.path.getsize(path), live=live)

    def _city(self, i: int) -> str:
        return CITIES[self.codes[i % len(self.codes)]]

    def _merge(self, i: int, n: int) -> Step:
        city = self._city(max(0, i - 1))
        keys, old = self._revisit(city, n)
        dates = old + self.rng.integers(1, 90, len(keys))
        prices = self.rng.integers(5_000_000, 40_000_000, len(keys)) / 100.0
        totals = self.rng.integers(100, 3000, len(keys)) * 10_000
        rows, live = [], []
        for k, d, p, t in zip(keys, dates, prices, totals):
            pos = building_position(int(k))
            rows.append((city, DISTRICTS[0], BUILDING, pos, 30.0, "0990101",
                         dt.date.fromordinal(int(d)), int(t), float(p)))
            live.append((city, pos, int(d), int(t), float(p)))
            self.alive[city][int(k)] = int(d)
        return Step("merge", city=city, rows=rows, live=live)

    def _delete(self, i: int, n: int) -> Step:
        city = self._city(max(0, i - 2))
        keys, _ = self._revisit(city, n)
        for k in keys:
            del self.alive[city][int(k)]
        return Step("delete", city=city,
                    keys=[building_position(int(k)) for k in keys])


def merge_source_ddl() -> str:
    """Schema of a MERGE source: the cleaned building table's columns."""
    return ("city string, township_dist string, transaction_sign string, "
            "position string, building_area_ping double, "
            "completion_date string, transaction_date date, "
            "total_price bigint, unit_price_ping double")


# --------------------------------------------------------------------------
# catalog query inputs
# --------------------------------------------------------------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def _ts(rng, lo: dt.date, hi: dt.date, n: int) -> np.ndarray:
    days = rng.integers(0, (hi - lo).days + 1, n)
    return (np.datetime64(lo, "us") + days.astype("timedelta64[D]")).astype("datetime64[us]")


def tpch_tables(seed: int, out_dir: str, sf: float) -> dict[str, int]:
    """Write ``<table>.parquet`` for region, nation, customer and orders
    at TPC-H scale ``sf`` (orders 1.5M*sf rows); return the row count of
    each."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 3])
    n_cust = max(2100, int(150_000 * sf))
    n_ord = max(1000, int(1_500_000 * sf))

    def cents(lo, hi, n):
        return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0

    i32, i64, f64, s, ts = pa.int32(), pa.int64(), pa.float64(), pa.string(), pa.timestamp("us")
    tables = {
        "region": pa.table({"r_regionkey": pa.array(range(5), i32),
                            "r_name": pa.array(REGIONS, s)}),
        "nation": pa.table({"n_nationkey": pa.array(range(25), i32),
                            "n_name": pa.array([f"NATION_{k}" for k in range(25)], s),
                            "n_regionkey": pa.array([k % 5 for k in range(25)], i32)}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": pa.array([f"Customer#{k:09d}" for k in range(n_cust)], s),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": pa.array(cents(-999.99, 9999.99, n_cust), f64),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust), s)}),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord), s),
            "o_totalprice": pa.array(cents(1000, 500_000, n_ord), f64),
            "o_orderdate": pa.array(_ts(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_ord), ts),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord), s)}),
    }
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
