"""Expected answers, computed with DuckDB straight from the generator's
files: never through ZTable, QueryRunner or Spark."""
import glob
import os
import sys
import zlib

import duckdb
import numpy as np
import pandas as pd

from gen import US, parse_ts

# the repository's DuckDB-oracle compare (tools/compare.py) owns the
# canonical form board rows are checked in
sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "tools"))
from compare import canon  # noqa: E402


def _con():
    con = duckdb.connect()
    con.sql("SET TimeZone = 'UTC'")
    return con


class ServeOracle:
    """Count and checksum of the reply each serve request must get."""

    def __init__(self, ticks_path):
        self.con = _con()
        self.con.sql(f"CREATE VIEW t AS SELECT epoch_us(ts) AS us, sym, price, size "
                     f"FROM read_parquet('{ticks_path}')")

    def _one(self, sql, params=()):
        return self.con.execute(sql, list(params)).fetchone()

    def digest(self, req):
        op, a = req["op"], req["args"]
        if op.startswith("ohlcv"):
            width = a["width_s"] * US
            syms = a["symbols"]
            r = self._one(f"""
                WITH bars AS (
                  SELECT us // {width} AS b, sym, arg_min(price, us) AS o, max(price) AS h,
                         min(price) AS l, arg_max(price, us) AS c, sum(size) AS v
                  FROM t WHERE us BETWEEN ? AND ? AND sym IN ({",".join("?" * len(syms))})
                  GROUP BY ALL)
                SELECT count(*), sum(v), sum(round(o * 100)), sum(round(h * 100)),
                       sum(round(l * 100)), sum(round(c * 100)) FROM bars""",
                          [parse_ts(a["from"]), parse_ts(a["to"])] + syms)
            keys = ["rows", "vol", "open_c", "high_c", "low_c", "close_c"]
            return {k: int(v or 0) for k, v in zip(keys, r)}
        if op == "scan":
            r = self._one("SELECT count(*), sum(round(price * 100)), sum(size) FROM t "
                          "WHERE us BETWEEN ? AND ?", [parse_ts(a["from"]), parse_ts(a["to"])])
            return {"rows": int(r[0]), "price_c": int(r[1] or 0), "size": int(r[2] or 0)}
        if op == "sql":
            r = self._one("""SELECT count(*), sum(n), sum(vol), sum(vwap) FROM (
                               SELECT count(*) AS n, sum(size) AS vol,
                                      sum(price * size) / sum(size) AS vwap
                               FROM t WHERE us >= ? AND us < ? GROUP BY sym)""",
                          [parse_ts(a["from"]), parse_ts(a["to"])])
            return {"rows": int(r[0]), "n": int(r[1] or 0), "vol": int(r[2] or 0),
                    "vwap": float(r[3] or 0.0)}
        if op == "symbols":
            syms = [s for (s,) in self.con.sql("SELECT DISTINCT sym FROM t ORDER BY sym").fetchall()]
            return {"rows": len(syms), "crc": zlib.crc32("\n".join(syms).encode())}
        if op == "range":
            r = self._one("SELECT min(us) // 1000, max(us) // 1000 FROM t")
            return {"rows": 1, "first_ms": int(r[0]), "last_ms": int(r[1])}
        raise ValueError(op)


def digest_matches(got, want):
    if set(got) != set(want):
        return False
    for k, w in want.items():
        g = got[k]
        if isinstance(w, float):
            if abs(g - w) > 1e-9 * max(1.0, abs(w)):
                return False
        elif g != w:
            return False
    return True


def type_lint(rel):
    """The oracle columns whose DuckDB-only types (HUGEINT, UBIGINT,
    DECIMAL) would hash differently from Spark's, as tools/compare.py
    rejects them."""
    return [f"{c}:{t}" for c, t in zip(rel.columns, map(str, rel.types))
            if any(b in t.upper() for b in ("HUGEINT", "UBIGINT", "DECIMAL"))]


def frame_mismatch(oracle, spark):
    """Why two result frames differ after tools/compare.py's canon (same
    rule as its compare: columns by name, rows sorted, floats exact, NULL
    equals NULL), or None when they agree."""
    o, s = canon(oracle), canon(spark)
    if list(o.columns) != list(s.columns):
        return f"columns oracle={list(o.columns)} spark={list(s.columns)}"
    if len(o) != len(s):
        return f"rows oracle={len(o)} spark={len(s)}"
    for c in o.columns:
        oc, sc = o[c].values, s[c].values
        if oc.dtype.kind == "f" or sc.dtype.kind == "f":
            eq = oc == sc
        else:
            eq = pd.Series(oc).eq(pd.Series(sc))
        eq = np.asarray(eq | (pd.isna(oc) & pd.isna(sc)))
        if not eq.all():
            i = int(np.argmin(eq))
            return f"{c}[{i}]: oracle={oc[i]!r} spark={sc[i]!r}"
    return None


def board_checks(data_dir, tables, out_dir, oracle_sql):
    """Per board row: None when the Spark output written under out_dir
    equals the row's oracle SQL run in DuckDB, else why not."""
    con = _con()
    for t in tables:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(data_dir, t)}.parquet'")
    out = {}
    for name, sql in sorted(oracle_sql.items()):
        files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
        if not files:
            out[name] = "no spark output"
            continue
        try:
            rel = con.sql(sql)
            bad = type_lint(rel)
            out[name] = (f"oracle type-lint: {', '.join(bad)}" if bad else frame_mismatch(
                rel.df(), con.sql(f"SELECT * FROM read_parquet({files!r})").df()))
        except Exception as e:  # an oracle that cannot run is a failed check
            out[name] = f"oracle error: {e}"
    return out
