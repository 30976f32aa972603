"""Seeded input generator for the benchmark.

Everything a workload reads is written here from ``--seed``; the same seed
gives byte-identical inputs. Three kinds of input:

* ``write_star``: a synthetic twin of the engine's star schema (region,
  nation, customer, supplier, part, orders, lineitem, events, documents,
  embeddings) with the column types and value shapes of the sf fixtures.
  Dimensions are generated at the base scale factor; the fact tables are
  then subsampled FK-safe with a seeded mask (lineitem keeps only rows of
  kept orders), the way the off-grid twin halves sf0.1.
* ``write_lake``: a raw Alpha Vantage payload lake of daily "compact"
  snapshots, one ``{SYMBOL}_{DATE}.json`` per symbol-day, with a stated
  share of throttle-note or malformed bodies, symbols left for the fetch
  step to fill, and a day-2 increment that overlaps day 1.
* ``write_landing``: an events landing directory split into parquet
  files for the streaming tick, with injected duplicates and late rows.

Each writer returns the expected values the correctness gate checks.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_US = 86_400 * 10**6
_EPOCH = dt.datetime(1970, 1, 1)

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_ADJ = ["small", "large", "red", "blue", "hot", "cold", "green", "old"]
P_NOUN = ["ring", "bolt", "widget", "gear", "nut", "screw", "pipe", "valve"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per input stream, so resizing one table
    never shifts the values of another."""
    return np.random.default_rng([seed, *stream.encode()])


def _ts_us(y: int, m: int, d: int) -> int:
    return (dt.datetime(y, m, d) - _EPOCH) // dt.timedelta(microseconds=1)


def _days(rng, n, lo, hi):
    """``n`` midnight timestamps (µs) uniform over the days [lo, hi]."""
    span = (hi - lo) // DAY_US
    return lo + rng.integers(0, span + 1, n) * DAY_US


def _table(cols: dict, types: dict) -> pa.Table:
    return pa.table({k: pa.array(v, type=types[k]) for k, v in cols.items()})


def write_star(out_dir: str, seed: int, base_sf: float, keep: float) -> dict:
    """Write the ten star-schema tables; returns ``{table: rows}``."""
    os.makedirs(out_dir, exist_ok=True)
    r = lambda s: _rng(seed, s)  # noqa: E731
    tables: dict[str, pa.Table] = {}
    tables["region"] = _table(
        {"r_regionkey": range(5), "r_name": REGIONS},
        {"r_regionkey": pa.int32(), "r_name": pa.string()},
    )
    tables["nation"] = _table(
        {
            "n_nationkey": range(25),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": [i % 5 for i in range(25)],
        },
        {"n_nationkey": pa.int32(), "n_name": pa.string(),
         "n_regionkey": pa.int32()},
    )
    n_c, n_s, n_p = (int(round(x * base_sf)) for x in (150_000, 10_000, 200_000))
    g = r("customer")
    tables["customer"] = _table(
        {
            "c_custkey": np.arange(n_c),
            "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
            "c_nationkey": g.integers(0, 25, n_c),
            "c_acctbal": np.round(g.uniform(-999.99, 9999.99, n_c), 2),
            "c_mktsegment": g.choice(SEGMENTS, n_c),
        },
        {"c_custkey": pa.int64(), "c_name": pa.string(),
         "c_nationkey": pa.int32(), "c_acctbal": pa.float64(),
         "c_mktsegment": pa.string()},
    )
    g = r("supplier")
    tables["supplier"] = _table(
        {
            "s_suppkey": np.arange(n_s),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
            "s_nationkey": g.integers(0, 25, n_s),
            "s_acctbal": np.round(g.uniform(-999.99, 9999.99, n_s), 2),
        },
        {"s_suppkey": pa.int64(), "s_name": pa.string(),
         "s_nationkey": pa.int32(), "s_acctbal": pa.float64()},
    )
    g = r("part")
    tables["part"] = _table(
        {
            "p_partkey": np.arange(n_p),
            "p_name": [f"{a} {b}" for a, b in zip(
                g.choice(P_ADJ, n_p), g.choice(P_NOUN, n_p))],
            "p_brand": [f"Brand#{i}" for i in g.integers(1, 26, n_p)],
            "p_type": g.choice(P_TYPES, n_p),
            "p_size": g.integers(1, 51, n_p),
            "p_retailprice": np.round(900 + (np.arange(n_p) % 1000) / 10, 1),
        },
        {"p_partkey": pa.int64(), "p_name": pa.string(),
         "p_brand": pa.string(), "p_type": pa.string(),
         "p_size": pa.int32(), "p_retailprice": pa.float64()},
    )

    # Facts: generated at the base scale, then subsampled FK-safe.
    n_o = int(round(1_500_000 * base_sf))
    g = r("orders")
    okeep = g.random(n_o) < keep
    okeys = np.flatnonzero(okeep)
    m = len(okeys)
    tables["orders"] = _table(
        {
            "o_orderkey": okeys,
            "o_custkey": g.integers(0, n_c, m),
            "o_orderstatus": g.choice(["F", "O", "P"], m),
            "o_totalprice": np.round(g.uniform(1000, 500_000, m), 2),
            "o_orderdate": _days(g, m, _ts_us(1995, 1, 1), _ts_us(2001, 8, 1)),
            "o_orderpriority": g.choice(PRIORITIES, m),
        },
        {"o_orderkey": pa.int64(), "o_custkey": pa.int64(),
         "o_orderstatus": pa.string(), "o_totalprice": pa.float64(),
         "o_orderdate": pa.timestamp("us"), "o_orderpriority": pa.string()},
    )
    n_l = 4 * n_o
    g = r("lineitem")
    l_ok = g.integers(0, n_o, n_l)
    sel = okeep[l_ok]
    m = int(sel.sum())
    tables["lineitem"] = _table(
        {
            "l_orderkey": l_ok[sel],
            "l_partkey": g.integers(0, n_p, m),
            "l_suppkey": g.integers(0, n_s, m),
            "l_linenumber": g.integers(1, 8, m),
            "l_quantity": g.integers(1, 51, m).astype(float),
            "l_extendedprice": np.round(g.uniform(900, 105_000, m), 2),
            "l_discount": g.integers(0, 11, m) / 100,
            "l_tax": g.integers(0, 9, m) / 100,
            "l_returnflag": g.choice(["A", "N", "R"], m),
            "l_linestatus": g.choice(["F", "O"], m),
            "l_shipdate": _days(g, m, _ts_us(1995, 1, 2), _ts_us(2001, 11, 4)),
        },
        {"l_orderkey": pa.int64(), "l_partkey": pa.int64(),
         "l_suppkey": pa.int64(), "l_linenumber": pa.int32(),
         "l_quantity": pa.float64(), "l_extendedprice": pa.float64(),
         "l_discount": pa.float64(), "l_tax": pa.float64(),
         "l_returnflag": pa.string(), "l_linestatus": pa.string(),
         "l_shipdate": pa.timestamp("us")},
    )
    tables["events"] = events_table(seed, int(round(1_000_000 * base_sf)),
                                    int(round(15_000 * base_sf)), keep)
    n_d = max(500, int(round(50_000 * base_sf)))
    g = r("documents")
    texts = [" ".join(g.choice(VOCAB, k)) for k in g.integers(10, 101, n_d)]
    for i in np.flatnonzero(g.random(n_d) < 0.05):  # near-duplicates
        texts[i] = texts[g.integers(0, max(i, 1))] + " dup"
    for i in np.flatnonzero(g.random(n_d) < 0.002):  # exact duplicates
        texts[i] = texts[g.integers(0, max(i, 1))]
    dkeep = np.flatnonzero(g.random(n_d) < keep)
    tables["documents"] = _table(
        {
            "doc_id": dkeep,
            "text": [texts[i] for i in dkeep],
            "lang": g.choice(LANGS, n_d, p=LANG_P)[dkeep],
            "source": [f"src{i % 20}" for i in dkeep],
            "n_chars": [len(texts[i]) for i in dkeep],
        },
        {"doc_id": pa.int64(), "text": pa.string(), "lang": pa.string(),
         "source": pa.string(), "n_chars": pa.int64()},
    )
    n_v = max(500, int(round(20_000 * base_sf)))
    g = r("embeddings")
    labels = g.integers(0, 10, n_v)
    centers = g.standard_normal((10, 64))
    vecs = g.standard_normal((n_v, 64)) + 0.08 * centers[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    vkeep = np.flatnonzero(g.random(n_v) < keep)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(vkeep, pa.int64()),
        "embedding": pa.array(list(vecs[vkeep]), pa.list_(pa.float32())),
        "label": pa.array(labels[vkeep], pa.int32()),
    })
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def events_table(seed: int, n: int, n_users: int, keep: float = 1.0,
                 stream: str = "events") -> pa.Table:
    """Event stream over 30 days: Poisson arrivals, so ``event_id`` is
    monotonic in ``ts`` (the generator contract operators rely on)."""
    g = _rng(seed, stream)
    gaps = g.exponential(30 * DAY_US / n, n)
    ts = _ts_us(2024, 1, 1) + np.cumsum(gaps).astype(np.int64)
    sel = np.flatnonzero(g.random(n) < keep)
    return _table(
        {
            "event_id": sel,
            "ts": ts[sel],
            "user_id": g.integers(0, max(n_users, 1), n)[sel],
            "event_type": g.choice(EVENT_TYPES, n)[sel],
            "value": np.round(g.exponential(50.0, n), 2)[sel],
            "props": [f'{{"k": {k}}}' for k in g.integers(0, 100, n)[sel]],
        },
        {"event_id": pa.int64(), "ts": pa.timestamp("us"),
         "user_id": pa.int64(), "event_type": pa.string(),
         "value": pa.float64(), "props": pa.string()},
    )


# --- Alpha Vantage payload lake ----------------------------------------------

_META = "Daily Prices (open, high, low, close) and Volumes"
_LAKE_START = dt.date(2025, 1, 6)


def trading_days(n: int) -> list[str]:
    """``n`` consecutive weekdays from a fixed start, ISO formatted."""
    out, d = [], _LAKE_START
    while len(out) < n:
        if d.weekday() < 5:
            out.append(d.isoformat())
        d += dt.timedelta(days=1)
    return out


class SymbolHistory:
    """Deterministic OHLCV per (symbol, date): every snapshot that covers a
    date carries the same strings, as a real compact re-download would."""

    def __init__(self, seed: int, symbol: str, dates: list[str]):
        g = _rng(seed, "sym:" + symbol)
        n = len(dates)
        close = np.clip(100 + 500 * g.random() + np.cumsum(g.normal(0, 2, n)),
                        100, 600)
        opn = np.clip(close + g.normal(0, 1.5, n), 100, 600)
        hi = np.maximum(opn, close) + g.uniform(0, 3, n)
        lo = np.minimum(opn, close) - g.uniform(0, 3, n)
        vol = g.integers(10**7, 10**8, n)
        self.rows = {
            d: (f"{o:.4f}", f"{h:.4f}", f"{lw:.4f}", f"{c:.4f}", str(v))
            for d, o, h, lw, c, v in zip(dates, opn, hi, lo, close, vol)
        }

    def payload(self, symbol: str, dates: list[str]) -> dict:
        keys = ["1. open", "2. high", "3. low", "4. close", "5. volume"]
        return {
            "Meta Data": {
                "1. Information": _META,
                "2. Symbol": symbol,
                "3. Last Refreshed": dates[-1],
                "4. Output Size": "Compact",
                "5. Time Zone": "US/Eastern",
            },
            "Time Series (Daily)": {
                d: dict(zip(keys, self.rows[d])) for d in reversed(dates)
            },
        }


def bad_body(g: np.random.Generator) -> str:
    """A throttle note, an error body, or a truncated JSON document."""
    kind = g.integers(0, 3)
    if kind == 0:
        return json.dumps({"Note": "Thank you for using Alpha Vantage! Our "
                           "standard API rate limit is 25 requests per day."})
    if kind == 1:
        return json.dumps({"Error Message": "Invalid API call."})
    return '{"Meta Data": {"1. Information": "Daily Prices", "2. Sym'


class LakeSpec:
    """Shape of the payload lake and which payloads are bad, all fixed by
    the seed. ``history`` dates per compact snapshot; snapshot ``k`` of
    ``days`` ends on trading date ``history + k - 1``; day 2 is one more
    snapshot per symbol, overlapping day 1 in ``history - 1`` dates."""

    def __init__(self, seed: int, symbols: int, days: int, history: int,
                 bad_share: float, missing_share: float):
        self.seed, self.days, self.history = seed, days, history
        self.symbols = [f"S{i:04d}" for i in range(symbols)]
        self.dates = trading_days(history + days)
        g = _rng(seed, "lake")
        # bad[s][k]: snapshot k of symbol s is a bad body (k == days is the
        # day-2 snapshot). The fetch day's bad bodies come from the
        # transport instead of the lake.
        self.bad = g.random((symbols, days + 1)) < bad_share
        self.missing = set(
            np.flatnonzero(g.random(symbols) < missing_share).tolist())
        self.fetch_day = self.dates[history + days - 2]

    def snapshot_dates(self, k: int) -> list[str]:
        return self.dates[k: k + self.history]

    def history_of(self, s: int) -> SymbolHistory:
        return SymbolHistory(self.seed, self.symbols[s], self.dates)

    def body(self, s: int, k: int) -> str:
        if self.bad[s, k]:
            return bad_body(_rng(self.seed, f"bad:{s}:{k}"))
        sym = self.symbols[s]
        return json.dumps(
            self.history_of(s).payload(sym, self.snapshot_dates(k)), indent=4)


class Transport:
    """Seeded in-process stand-in for the Alpha Vantage HTTP call, used as
    ``fetch_distributed(..., fetch_one=Transport(spec))`` on executors."""

    def __init__(self, spec: LakeSpec):
        self.spec = spec

    def __call__(self, symbol: str, api_key: str | None) -> dict:
        s = self.spec.symbols.index(symbol)
        k = self.spec.days - 1
        body = self.spec.body(s, k)
        try:
            return json.loads(body)
        except ValueError:
            return {"Note": "truncated response"}


def _valid_rows(spec: LakeSpec, snaps: list[int]) -> dict:
    """(symbol, date) -> close string over the valid snapshots listed."""
    out = {}
    for s, sym in enumerate(spec.symbols):
        ks = [k for k in snaps if not spec.bad[s, k]]
        if not ks:
            continue
        h = spec.history_of(s)
        for k in ks:
            for d in spec.snapshot_dates(k):
                out[(sym, d)] = h.rows[d][3]
    return out


def write_lake(lake_dir: str, day2_dir: str, spec: LakeSpec) -> dict:
    """Write day-1 snapshots (minus the symbols left to fetch on the last
    day) and the day-2 increment. Returns the expected warehouse state."""
    os.makedirs(lake_dir, exist_ok=True)
    os.makedirs(day2_dir, exist_ok=True)
    for s, sym in enumerate(spec.symbols):
        for k in range(spec.days + 1):
            if k == spec.days - 1 and s in spec.missing:
                continue
            day = spec.snapshot_dates(k)[-1]
            body = spec.body(s, k)
            d = day2_dir if k == spec.days else lake_dir
            with open(os.path.join(d, f"{sym}_{day}.json"), "w") as f:
                f.write(body)
    day1 = _valid_rows(spec, list(range(spec.days)))
    both = _valid_rows(spec, list(range(spec.days + 1)))
    per_symbol = {}
    for (sym, _d), close in both.items():
        n, tot = per_symbol.get(sym, (0, Decimal(0)))
        per_symbol[sym] = (n + 1, tot + Decimal(close))
    fetched = [spec.symbols[s] for s in sorted(spec.missing)]
    return {
        "day1_rows": len(day1),
        "day2_new_rows": len(both) - len(day1),
        "per_symbol": {k: (n, str(t)) for k, (n, t) in per_symbol.items()},
        "fetch_symbols": fetched,
        "fetch_valid": int(sum(not spec.bad[s, spec.days - 1]
                               for s in spec.missing)),
    }


# --- Events landing directory for the streaming tick ------------------------


def write_landing(out_dir: str, seed: int, n: int, files: int,
                  dup_share: float, late_share: float, late_from: int) -> None:
    """Split an event stream into ``files`` ts-ordered parquet files.
    File ``j > 0`` also carries re-sent copies of rows from file ``j-1``
    (duplicates); files ``j >= late_from`` also carry rows with fresh ids
    stamped at the stream's first event time, late beyond any watermark
    set after the first ``late_from`` files."""
    os.makedirs(out_dir, exist_ok=True)
    t = events_table(seed, n, max(n // 60, 1), stream="landing")
    g = _rng(seed, "landing-mix")
    bounds = np.linspace(0, t.num_rows, files + 1).astype(int)
    next_id = t.num_rows
    prev = None
    for j in range(files):
        part = t.slice(bounds[j], bounds[j + 1] - bounds[j])
        extra = []
        if prev is not None:
            n_dup = int(prev.num_rows * dup_share)
            if n_dup:
                extra.append(prev.take(g.choice(prev.num_rows, n_dup, False)))
            n_late = int(part.num_rows * late_share) if j >= late_from else 0
            if n_late:
                late = prev.take(g.choice(prev.num_rows, n_late, False))
                late = late.set_column(
                    0, "event_id",
                    pa.array(np.arange(next_id, next_id + n_late), pa.int64()))
                late = late.set_column(
                    1, "ts", pa.array(np.full(n_late, t["ts"][0].value),
                                      pa.timestamp("us")))
                next_id += n_late
                extra.append(late)
        pq.write_table(pa.concat_tables([part, *extra]),
                       os.path.join(out_dir, f"events-{j:03d}.parquet"))
        prev = part
