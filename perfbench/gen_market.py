"""Seeded generator for the minute-bar ETL workload.

Writes Xetra and Eurex minute bars in the Deutsche Boerse public-dataset
layout the pipelines read — one CSV per trading hour per day,
``<date>/<date>_BINS_XETR<HH>.csv`` and ``<date>/<date>_BINS_XEUR<HH>.csv``,
headers bound positionally — plus a 2,728-row product specification.
The ground truth goes next to the data as ``truth.json``:

* ``xetra_rows`` and ``eurex_rows``;
* ``missing_isin`` and ``missing_underlying``: the ``(market_segment,
  mleg)`` pairs of the planted rows whose ``isin`` or
  ``underlying_symbol`` is empty;
* ``b2_rows``: how many Eurex bars find their underlying's Xetra bar at
  the same minute (the derivative-to-underlying join);
* ``trading_dates``: the dates written, one output partition each.

The same ``(seed, days, hours, ...)`` always writes the same bytes.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np

DIM_ROWS = 2_728
XETRA_HEADER = (
    "ISIN,Mnemonic,SecurityDesc,SecurityType,Currency,SecurityID,Date,Time,"
    "StartPrice,MaxPrice,MinPrice,EndPrice,TradedVolume,NumberOfTrades"
)
EUREX_HEADER = (
    "ISIN,MarketSegment,UnderlyingSymbol,UnderlyingISIN,Currency,SecurityType,"
    "MaturityDate,StrikePrice,PutOrCall,MLEG,ContractGenerationNumber,"
    "SecurityID,Date,Time,StartPrice,MaxPrice,MinPrice,EndPrice,"
    "NumberOfContracts,NumberOfTrades"
)
DIM_HEADER = (
    "Product,Name,Product ISIN,Product Line,Product Type,Product Type Symbol,"
    "Liquidity Class,Trading Environment,Partition,Currency,US Approval Type,"
    "Settlement Type,Contract Size,Tick Size,Tick Value,Max Order Qty TSL,"
    "Max TES Qty TSL,Max Future Spread Qty TSL,Max Market Order Qty,"
    "Position Limit,Pre Trade Limits,Underlying,Underlying ISIN,"
    "Underlying Name,Underlying Category"
)
_LETTERS = np.array(list("ABCDEFGHIJKLMNOPQRSTUVWXYZ"))


def _segments(n: int) -> list[str]:
    """``n`` distinct four-letter product codes, like ``FDAX``."""
    return ["".join(_LETTERS[(k // 26**p) % 26] for p in (3, 2, 1, 0)) for k in range(n)]


def _trading_days(days: int) -> list[str]:
    out, d = [], dt.date(2020, 11, 2)
    while len(out) < days:
        if d.weekday() < 5:
            out.append(d.isoformat())
        d += dt.timedelta(days=1)
    return out


def _bars(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` OHLC price quadruples as CSV fragments."""
    start = np.round(rng.uniform(5.0, 500.0, n), 2)
    end = np.round(start * rng.uniform(0.99, 1.01, n), 2)
    hi = np.round(np.maximum(start, end) * rng.uniform(1.0, 1.005, n), 2)
    lo = np.round(np.minimum(start, end) * rng.uniform(0.995, 1.0, n), 2)
    return [f"{a},{b},{c},{d}" for a, b, c, d in zip(start, hi, lo, end)]


def generate(
    out_dir: str,
    seed: int,
    days: int,
    hours: int,
    xetra_instruments: int,
    eurex_contracts: int,
    fill: float = 0.6,
) -> dict:
    """Write the bars, the product spec and ``truth.json`` under
    ``out_dir``; return the ground truth. ``fill`` is the chance that an
    instrument trades in a given minute."""
    rng = np.random.default_rng(seed)
    segments = _segments(DIM_ROWS)
    x_isin = [f"DE000X{i:06d}" for i in range(xetra_instruments)]
    # Eurex contracts: most reference a Xetra underlying (B2 matches);
    # a few carry no ISIN or no underlying symbol (quality checks).
    c_seg = rng.integers(0, DIM_ROWS, eurex_contracts)
    c_mleg = rng.choice(["", "OSTR", "FUT"], eurex_contracts, p=[0.8, 0.1, 0.1])
    c_und = rng.integers(0, xetra_instruments, eurex_contracts)
    c_has_und = rng.random(eurex_contracts) < 0.7
    c_null_isin = rng.random(eurex_contracts) < 0.03
    c_null_sym = rng.random(eurex_contracts) < 0.03
    contracts = []
    for k in range(eurex_contracts):
        und_isin = x_isin[c_und[k]] if c_has_und[k] else f"XX000U{k:06d}"
        contracts.append(
            (
                "" if c_null_isin[k] else f"DE000E{k:06d}",
                segments[c_seg[k]],
                "" if c_null_sym[k] else f"U{c_und[k]:04d}",
                und_isin,
                "EUR",
                "OPT" if k % 3 else "FUT",
                f"2021{1 + k % 12:02d}{15 + k % 10:02d}",
                f"{100 + (k % 40) * 5:.1f}",
                "C" if k % 2 else "P",
                c_mleg[k],
                str(1 + k % 3),
                str(5_000_000 + k),
            )
        )
    x_static = [
        (isin, f"M{i:04d}", f"SECURITY {i}", "Common stock", "EUR", str(2_500_000 + i))
        for i, isin in enumerate(x_isin)
    ]
    truth = {
        "xetra_rows": 0,
        "eurex_rows": 0,
        "b2_rows": 0,
        "missing_isin": set(),
        "missing_underlying": set(),
        "trading_dates": [],
    }
    for date in _trading_days(days):
        os.makedirs(os.path.join(out_dir, date), exist_ok=True)
        truth["trading_dates"].append(date)
        for h in range(8, 8 + hours):
            x_lines, e_lines = [XETRA_HEADER], [EUREX_HEADER]
            for minute in range(60):
                t = f"{h:02d}:{minute:02d}"
                x_on = np.flatnonzero(rng.random(xetra_instruments) < fill)
                e_on = np.flatnonzero(rng.random(eurex_contracts) < fill)
                x_set = set(x_on.tolist())
                vol = rng.integers(1, 10_000, len(x_on))
                trades = rng.integers(1, 50, len(x_on))
                for i, ohlc, v, n in zip(x_on, _bars(rng, len(x_on)), vol, trades):
                    x_lines.append(",".join((*x_static[i], date, t, ohlc, str(v), str(n))))
                lots = rng.integers(1, 500, len(e_on))
                trades = rng.integers(1, 20, len(e_on))
                for k, ohlc, v, n in zip(e_on, _bars(rng, len(e_on)), lots, trades):
                    c = contracts[k]
                    e_lines.append(",".join((*c[:12], date, t, ohlc, str(v), str(n))))
                    if c_has_und[k] and c_und[k] in x_set:
                        truth["b2_rows"] += 1
                    if c_null_isin[k]:
                        truth["missing_isin"].add((c[1], c[9] or None))
                    if c_null_sym[k]:
                        truth["missing_underlying"].add((c[1], c[9] or None))
                truth["xetra_rows"] += len(x_on)
                truth["eurex_rows"] += len(e_on)
            for kind, lines in (("XETR", x_lines), ("XEUR", e_lines)):
                name = f"{date}_BINS_{kind}{h:02d}.csv"
                with open(os.path.join(out_dir, date, name), "w") as f:
                    f.write("\n".join(lines) + "\n")
    _write_dim(os.path.join(out_dir, "product_spec.csv"), rng, segments)
    truth["missing_isin"] = sorted(truth["missing_isin"], key=str)
    truth["missing_underlying"] = sorted(truth["missing_underlying"], key=str)
    with open(os.path.join(out_dir, "truth.json"), "w") as f:
        json.dump(truth, f, indent=1)
    return truth


def _write_dim(path: str, rng: np.random.Generator, segments: list[str]) -> None:
    types = ["Equity Option", "Index Future", "Index Option", "Equity Future"]
    cats = ["EQUITY", "INDEX", "BOND", "COMMODITY"]
    lines = [DIM_HEADER]
    for i, seg in enumerate(segments):
        size = int(rng.choice([1, 10, 100]))
        tick = float(rng.choice([0.01, 0.05, 0.5]))
        lines.append(
            ",".join(
                (
                    seg, f"PRODUCT {seg}", f"DE000P{i:06d}", "Derivatives",
                    types[i % 4], seg[:3], "A", "T7", "P1", "EUR", "None",
                    "Cash", str(size), f"{tick}", f"{tick * size}", "10000",
                    "20000", "5000", "1000", "", "Y", f"U{i % 500:04d}",
                    f"DE000U{i % 500:06d}", f"UNDERLYING {i % 500}", cats[i % 4],
                )
            )
        )
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")
