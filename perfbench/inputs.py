"""Seeded benchmark inputs.

The engine only ever sees the files written here (and, for the lake
workload, the fetcher built here). Everything is a pure function of the
seed: the same seed gives byte-identical inputs.

* ``star_tables`` derives the ten star-schema tables from the engine's
  default fixture directory (``catalog.DEFAULT_SF_DIR``) with DuckDB. Row
  counts and key relationships are kept; money and measure columns are
  perturbed by a hash of (seed, key) and rounded to the fixture's two
  decimals (so the registry's exact-decimal oracles still apply); order
  and ship dates move by one seeded day shift; the document text is
  re-worded per seed the way ``tools/gen_scale.py --dup-frac`` does it,
  with the seed mixed into the word hash, so most text is unique to the
  seed while a quarter of the documents stay verbatim.
* ``lake_inputs`` makes the ingest workload: a screener with planted
  invalid tickers, a null symbol and a null sector, and a fetcher with a
  planted short history and an upstream failure, plus the truth the
  checks use.
"""

from __future__ import annotations

import os
import random
import time
import zlib
from dataclasses import dataclass

import duckdb
import numpy as np
import pandas as pd

# a seeded factor in [1 - pct/100, 1 + pct/100], from a hash of the row key
_JITTER = "(1 + (CAST(hash({key}, {seed}) % {span} AS BIGINT) - {half}) / 10000.0)"


def _jitter(key: str, seed: int, pct: int) -> str:
    span = 2 * pct * 100 + 1
    return _JITTER.format(key=key, seed=seed, span=span, half=pct * 100)


def _projections(seed: int, shift_days: int) -> dict[str, str]:
    days = f"INTERVAL {shift_days} DAY"
    return {
        "region": "*",
        "nation": "*",
        "customer": f"* REPLACE (round(c_acctbal * {_jitter('c_custkey', seed, 5)}, 2) AS c_acctbal)",
        "supplier": f"* REPLACE (round(s_acctbal * {_jitter('s_suppkey', seed, 5)}, 2) AS s_acctbal)",
        "part": f"* REPLACE (round(p_retailprice * {_jitter('p_partkey', seed, 5)}, 2) AS p_retailprice)",
        "orders": (
            f"* REPLACE (round(o_totalprice * {_jitter('o_orderkey', seed, 5)}, 2) AS o_totalprice, "
            f"o_orderdate + {days} AS o_orderdate)"
        ),
        "lineitem": (
            "* REPLACE (round(l_extendedprice * "
            f"{_jitter('l_orderkey * 8 + l_linenumber', seed, 5)}, 2) AS l_extendedprice, "
            f"l_shipdate + {days} AS l_shipdate)"
        ),
        "events": f"* REPLACE (round(value * {_jitter('event_id', seed, 10)}, 2) AS value)",
        # three quarters of the documents are re-worded: every word becomes
        # a same-length pseudoword hashed from (word, seed), so equal words
        # stay equal inside one input set and differ across seeds
        "documents": (
            "* REPLACE ("
            f"CASE WHEN hash(doc_id, {seed}) % 4 = 0 THEN text ELSE "
            "array_to_string(list_transform(string_split(text, ' '), "
            f"w -> substring(md5(w || '#{seed}'), 1, greatest(length(w), 1))), ' ') "
            "END AS text)"
        ),
        "embeddings": (
            "* REPLACE (list_transform(embedding, "
            f"x -> (x * {_jitter('vec_id', seed, 2)})::FLOAT) AS embedding)"
        ),
    }


def star_tables(src: str, out: str, seed: int, tables: tuple[str, ...], doc_limit: int | None = None) -> dict:
    """Write the seeded ``tables`` under ``out``; return their sizes
    (rows, bytes, files) per table. ``doc_limit`` keeps only the first
    that many documents."""
    os.makedirs(out, exist_ok=True)
    shift_days = random.Random(seed).randrange(0, 366)
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        sizes = {}
        projections = _projections(seed, shift_days)
        for t in tables:
            path = f"{out}/{t}.parquet"
            query = f"SELECT {projections[t]} FROM read_parquet('{src}/{t}.parquet')"
            if t == "documents":
                limit = f"WHERE doc_id < {doc_limit}" if doc_limit else ""
                query = f"SELECT * REPLACE (length(text) AS n_chars) FROM ({query}) {limit}"
            con.execute(f"COPY ({query}) TO '{path}' (FORMAT parquet, COMPRESSION snappy)")
            rows = con.execute(f"SELECT count(*) FROM read_parquet('{path}')").fetchone()[0]
            sizes[t] = {"rows": rows, "bytes": os.path.getsize(path), "files": 1}
        return sizes
    finally:
        con.close()


def oracle_connection(sf_dir: str, tables: tuple[str, ...]) -> duckdb.DuckDBPyConnection:
    """DuckDB connection with ``tables`` of ``sf_dir`` registered as
    views, the way the registry's oracle SQL expects."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


# --------------------------------------------------------------------------
# ingest-lake
# --------------------------------------------------------------------------

LAKE_START = "2000-01-01"
LAKE_END = "2025-01-01"
_LETTERS = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"


def _symbol_seed(seed: int, symbol: str) -> int:
    return zlib.crc32(f"{seed}:{symbol}".encode())


@dataclass
class SeededFetcher:
    """The upstream API the lake workload ingests from.

    Deterministic in (seed, symbol): full business-day histories from
    2000 through 2024, except the planted short history (starts later)
    and the planted upstream failure (raises). Every call appends one line to a
    per-process log under ``log_dir`` (``symbol seconds ok``), which is
    how the benchmark counts fetch calls from outside the engine.
    """

    seed: int
    short: dict[str, str]
    failing: frozenset[str]
    log_dir: str

    def bars(self, symbol: str, start: str, end: str) -> pd.DataFrame:
        start = max(pd.Timestamp(start), pd.Timestamp(self.short.get(symbol, start)))
        dates = pd.bdate_range(start, end, inclusive="left")
        rng = np.random.default_rng(_symbol_seed(self.seed, symbol))
        # a seasonal price with seeded noise: the same spread of values,
        # so the same compressibility, for every seed
        t = np.arange(len(dates))
        close = np.round(50 + 10 * np.sin(t / 40 + rng.uniform(0, 6.3)) + rng.normal(0, 0.5, len(dates)), 2)
        return pd.DataFrame(
            {
                "company": symbol,
                "bar_date": dates.date,
                "open": np.round(close - 0.1, 2),
                "high": np.round(close + 0.5, 2),
                "low": np.round(close - 0.5, 2),
                "close": close,
                "adj_close": close,
                "volume": rng.integers(1_000, 1_000_000, len(dates)),
                "fetch_error": None,
            }
        )

    def __call__(self, symbol: str, start: str, end: str) -> pd.DataFrame:
        t0 = time.perf_counter()
        ok = symbol not in self.failing
        try:
            if not ok:
                raise ConnectionError(f"upstream refused {symbol}")
            return self.bars(symbol, start, end)
        finally:
            with open(os.path.join(self.log_dir, f"fetch-{os.getpid()}.log"), "a") as fh:
                fh.write(f"{symbol} {time.perf_counter() - t0:.6f} {int(ok)}\n")


@dataclass
class LakeInputs:
    """Screener rows, fetcher and the truth the lake checks compare to."""

    screener: pd.DataFrame
    fetcher: SeededFetcher
    valid: list[str]
    quarantined: list[str]
    processed: list[str]
    rows: dict[str, int]

    @property
    def lake_rows(self) -> int:
        return sum(self.rows.values())


def lake_inputs(seed: int, n_symbols: int, log_dir: str) -> LakeInputs:
    """A screener of ``n_symbols`` valid tickers plus planted junk rows
    (two invalid tickers and one null symbol). Among the valid tickers
    one has an upstream failure, one a history that starts in mid-2010
    and one a null sector; the seed picks names, prices and which ticker
    gets which plant."""
    rng = random.Random(seed)
    valid: list[str] = []
    while len(valid) < n_symbols:
        sym = "".join(rng.choice(_LETTERS) for _ in range(rng.randint(2, 4)))
        if sym not in valid:
            valid.append(sym)
    failing_sym, short_sym, null_sector_sym = rng.sample(valid, 3)
    failing = {failing_sym}
    short = {short_sym: "2010-07-01"}
    null_sector = {null_sector_sym}
    junk = [valid[0] + "^P", valid[1][:2] + "/W", None]
    records = []
    for sym in valid + junk:
        records.append(
            {
                "Symbol": sym,
                "Name": f"{sym} Holdings",
                "Last Sale": f"${rng.uniform(1, 500):.2f}",
                "Net Change": round(rng.uniform(-5, 5), 2),
                "% Change": f"{rng.uniform(-9, 9):.3f}%",
                "Market Cap": round(rng.uniform(0, 1e11), 0),
                "Country": rng.choice(["United States", "Canada", None]),
                "IPO Year": float(rng.randint(1980, 2020)),
                "Volume": rng.randint(0, 10_000_000),
                "Sector": None if sym in null_sector else rng.choice(["Technology", "Finance", "Energy"]),
                "Industry": rng.choice(["Software", "Banks", "Oil", None]),
            }
        )
    fetcher = SeededFetcher(seed, short, frozenset(failing), log_dir)
    fetched = [s for s in valid if s not in failing]
    rows = {s: len(pd.bdate_range(max(pd.Timestamp(LAKE_START), pd.Timestamp(short.get(s, LAKE_START))), LAKE_END, inclusive="left")) for s in fetched}
    full = max(rows.values())
    processed = sorted(s for s in fetched if rows[s] == full and s not in null_sector)
    return LakeInputs(
        screener=pd.DataFrame.from_records(records),
        fetcher=fetcher,
        valid=valid,
        quarantined=sorted(failing),
        processed=processed,
        rows=rows,
    )
