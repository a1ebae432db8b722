"""Seeded input generators. Every table, request and file the program
sees comes from here, made before the timed region; the same seed gives
the same inputs."""
import datetime as dt
import json
import math
import os
import random
import urllib.parse

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

US = 1_000_000
DAY_US = 86_400 * US
JAN_2024_US = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp()) * US
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]


def ts_str(us):
    """Epoch microseconds as the 'YYYY-MM-DD HH:MM:SS' form requests use."""
    return dt.datetime.fromtimestamp(us // US, dt.timezone.utc).strftime("%Y-%m-%d %H:%M:%S")


def parse_ts(s):
    """A request's 'YYYY-MM-DD[ HH:MM:SS]' as epoch microseconds (UTC)."""
    return int(dt.datetime.strptime(s, "%Y-%m-%d %H:%M:%S" if " " in s else "%Y-%m-%d")
               .replace(tzinfo=dt.timezone.utc).timestamp()) * US


def _ts_array(us, utc):
    return pa.array(us, type=pa.timestamp("us", tz="UTC" if utc else None))


def _increasing(rng, start_us, span_us, n):
    """n strictly increasing epoch-µs stamps spread over span_us."""
    mean_gap = max(2, span_us // n)
    return start_us + np.cumsum(rng.integers(1, 2 * mean_gap, n))


def _cents(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def events_table(rng, n, users, start_us, span_us):
    """The `events` shape: id, strictly increasing ts, user, type, value."""
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": _ts_array(_increasing(rng, start_us, span_us, n), utc=False),
        "user_id": pa.array(rng.integers(0, users, n, dtype=np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2) + 0.01),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


# ---------------------------------------------------------------- board

def board_tables(out_dir, seed, sf):
    """TPC-H-like star schema plus `events`, with the column names, types
    and value domains of the repository's test tables, at scale sf."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n = {k: max(1, int(v * sf)) for k, v in dict(
        customer=150_000, supplier=10_000, part=200_000, orders=1_500_000,
        lineitem=6_000_000, events=1_000_000, users=15_000).items()}
    i32 = lambda a: pa.array(np.asarray(a, dtype=np.int32))
    i64 = lambda a: pa.array(np.asarray(a, dtype=np.int64))
    pick = lambda vals, k: pa.array(np.array(vals)[rng.integers(0, len(vals), k)])
    day = lambda y, m, d: (dt.date(y, m, d) - dt.date(1970, 1, 1)).days
    dates = lambda lo, hi, k: _ts_array(rng.integers(lo, hi + 1, k) * DAY_US, utc=False)
    tables = {
        "region": pa.table({"r_regionkey": i32(range(5)), "r_name": pa.array(
            ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])}),
        "nation": pa.table({"n_nationkey": i32(range(25)),
                            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                            "n_regionkey": i32([i % 5 for i in range(25)])}),
    }
    c = n["customer"]
    tables["customer"] = pa.table({
        "c_custkey": i64(range(c)), "c_name": pa.array([f"Customer#{i:09d}" for i in range(c)]),
        "c_nationkey": i32(rng.integers(0, 25, c)), "c_acctbal": _cents(rng, -999.99, 9999.99, c),
        "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], c)})
    s = n["supplier"]
    tables["supplier"] = pa.table({
        "s_suppkey": i64(range(s)), "s_name": pa.array([f"Supplier#{i:09d}" for i in range(s)]),
        "s_nationkey": i32(rng.integers(0, 25, s)), "s_acctbal": _cents(rng, -999.99, 9999.99, s)})
    p = n["part"]
    words = [f"{a} {b}" for a in ["blue", "hot", "small", "old", "red", "new", "cold", "large"]
             for b in ["bolt", "gear", "anvil", "ring", "widget", "rod", "plate", "gizmo"]]
    tables["part"] = pa.table({
        "p_partkey": i64(range(p)), "p_name": pick(words, p),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, p)]),
        "p_type": pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], p),
        "p_size": i32(rng.integers(1, 51, p)), "p_retailprice": _cents(rng, 900.0, 999.99, p)})
    o = n["orders"]
    tables["orders"] = pa.table({
        "o_orderkey": i64(range(o)), "o_custkey": i64(rng.integers(0, c, o)),
        "o_orderstatus": pick(["F", "O", "P"], o), "o_totalprice": _cents(rng, 1000.0, 500000.0, o),
        "o_orderdate": dates(day(1995, 1, 1), day(2001, 8, 1), o),
        "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], o)})
    li = n["lineitem"]
    tables["lineitem"] = pa.table({
        "l_orderkey": i64(rng.integers(0, o, li)), "l_partkey": i64(rng.integers(0, p, li)),
        "l_suppkey": i64(rng.integers(0, s, li)), "l_linenumber": i32(rng.integers(1, 8, li)),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _cents(rng, 900.0, 105000.0, li),
        "l_discount": np.round(rng.integers(0, 11, li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, li) / 100.0, 2),
        "l_returnflag": pick(["A", "N", "R"], li), "l_linestatus": pick(["F", "O"], li),
        "l_shipdate": dates(day(1995, 1, 2), day(2001, 11, 4), li)})
    tables["events"] = events_table(rng, n["events"], n["users"], JAN_2024_US, 30 * DAY_US)
    d = max(20, int(50_000 * sf))
    vocab = np.array(("row the query stream fast spark line small customer group value hash "
                      "batch sort data big filter dup key agg scan slow table part a merge "
                      "window order column join vector").split())
    text = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in rng.integers(10, 100, d)]
    tables["documents"] = pa.table({
        "doc_id": i64(range(d)), "text": pa.array(text),
        "lang": pick(["en", "en", "en", "zh", "de", "fr", "es"], d),
        "source": pa.array([f"src{i % 20}" for i in range(d)]),
        "n_chars": i64([len(t) for t in text])})
    emb = rng.standard_normal((d, 64)).astype(np.float32) * np.float32(0.12)
    tables["embeddings"] = pa.table({
        "vec_id": i64(range(d)),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": i32(rng.integers(0, 10, d))})
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return sorted(tables)


# ---------------------------------------------------------------- serve

def ticks(path, seed, n, n_sym, days):
    """A tick table: strictly increasing ts over `days` days, symbols with
    Zipf popularity in name order (S000 the busiest, so every seed's
    requests cost alike), prices on a cent grid. Returns its metadata."""
    rng = np.random.default_rng(seed)
    syms = [f"S{i:03d}" for i in range(n_sym)]
    weights = 1.0 / np.arange(1, n_sym + 1) ** 1.1
    weights /= weights.sum()
    ts = _increasing(rng, JAN_2024_US, days * DAY_US, n)
    sym = rng.choice(n_sym, n, p=weights)
    base = rng.uniform(10.0, 500.0, n_sym)
    price = np.maximum(0.01, np.round(base[sym] * (1 + 0.01 * rng.standard_normal(n)), 2))
    pq.write_table(pa.table({
        "ts": _ts_array(ts, utc=True), "sym": pa.array(np.array(syms)[sym]),
        "price": pa.array(price), "size": pa.array(rng.integers(1, 1000, n, dtype=np.int64)),
    }), path, row_group_size=1 << 17)
    return {"first_us": int(ts[0]), "last_us": int(ts[-1]),
            "symbols": syms, "weights": list(weights)}


def _window(rng, meta, lo_s, hi_s):
    """A recency-biased [from, to] window of log-uniform length."""
    length = int(math.exp(rng.uniform(math.log(lo_s), math.log(hi_s)))) * US
    span = meta["last_us"] - meta["first_us"]
    back = min(int(rng.expovariate(1.0 / (2 * DAY_US))), span - length)
    to = (meta["last_us"] - back) // US * US
    return ts_str(to - length), ts_str(to)


# One block of the mix is one visit to the chart page (ChartPage) plus
# three API calls, in a fixed op order so that any run, however few
# requests it completes, sees the same op shares; the seed draws each
# request's symbol and window.
#   - page load, as ChartPage.load does it: /symbols for the picker, then
#     the first symbol's /ohlcv over 1970-01-01..2100-01-01 at the
#     default 1-minute width;
#   - then four reloads (an assumption: the page has no usage data): one
#     picks another symbol by popularity at the full range, three type a
#     1 h - 1 day window near the end of the data into from/to;
#   - POST /q scan (5-10 min, projected), sql (VWAP by symbol over a
#     window) and range: the API calls the benchmark's design asks for,
#     one of each per visit (an assumption too: the repository has no
#     client for them).
MIX_BLOCK = ["symbols", "ohlcv_page", "ohlcv", "scan", "ohlcv_full", "ohlcv", "sql",
             "ohlcv", "range"]
# the chart page forwards these /chart query parameters to /ohlcv; no
# width, so bars take QueryRunner's default
CHART_PARAMS = {"col": "sym", "price": "price", "size": "size"}
FULL_RANGE = ("1970-01-01", "2100-01-01")


def request_mix(seed, meta, blocks):
    """The seeded request sequence, `blocks` visits long. `$TABLE`
    stands for the table path, which only the server side knows."""
    rng = random.Random(seed)
    return [_request(rng, op, meta) for _ in range(blocks) for op in MIX_BLOCK]


def _ohlcv(op, frm, to, sym):
    q = urllib.parse.urlencode({"symbols": sym, **CHART_PARAMS})
    path = "/ohlcv/ticks/%s/%s?%s" % (urllib.parse.quote(frm), urllib.parse.quote(to), q)
    qr = {"op": "ohlcv", "table": "$TABLE", "from": frm, "to": to, "symbols": [sym],
          **CHART_PARAMS}
    return {"op": op, "method": "GET", "path": path, "body": None, "qr": json.dumps(qr),
            "args": {"from": frm, "to": to, "symbols": [sym], "width_s": 60}}


def _post(op, body, args):
    b = json.dumps(body)
    return {"op": op, "method": "POST", "path": "/q", "body": b, "qr": b, "args": args}


def _request(rng, op, meta):
    if op == "ohlcv_page":
        return _ohlcv(op, *FULL_RANGE, meta["symbols"][0])
    if op == "ohlcv_full":
        return _ohlcv(op, *FULL_RANGE, rng.choices(meta["symbols"], meta["weights"])[0])
    if op == "ohlcv":
        frm, to = _window(rng, meta, 3600, 86400)
        return _ohlcv(op, frm, to, rng.choices(meta["symbols"], meta["weights"])[0])
    if op == "scan":
        frm, to = _window(rng, meta, 300, 600)
        return _post(op, {"op": "scan", "table": "$TABLE", "from": frm, "to": to,
                          "cols": ["sym", "price", "size"]}, {"from": frm, "to": to})
    if op == "sql":
        frm, to = _window(rng, meta, 3600, 86400)
        query = ("SELECT sym, count(*) AS n, sum(size) AS vol, "
                 "sum(price * size) / sum(size) AS vwap FROM ticks "
                 f"WHERE ts >= TIMESTAMP '{frm}' AND ts < TIMESTAMP '{to}' GROUP BY sym")
        return _post(op, {"op": "sql", "query": query, "tables": ["ticks"]},
                     {"from": frm, "to": to})
    if op == "symbols":
        qr = {"op": "symbols", "table": "$TABLE", "col": "sym"}
        return {"op": op, "method": "GET", "path": "/symbols/ticks/sym", "body": None,
                "qr": json.dumps(qr), "args": {}}
    if op == "range":
        return _post(op, {"op": "range", "table": "$TABLE"}, {})
    raise ValueError(op)
