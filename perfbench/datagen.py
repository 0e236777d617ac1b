"""Seeded inputs for the benchmark.

``write_tables`` writes the ten parquet tables the registry queries
read (``region`` .. ``embeddings``), shaped like the project's
TPC-H-style test tables: the same schemas, key ranges, value grids
(2-decimal prices, integer quantities, 0.00-0.10 discounts) and row
counts per scale factor. ``EtlHistory`` is the ingest source for the
``etl_write`` workload: random-walk closes with rare 2:1 splits.

The same seed always gives the same bytes of data; nothing is read
from outside the output directory.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from marketviz_spark.pipelines.ingest import HistorySource

EMB_DIM = 64
VOCAB = (
    "join hash row batch scan customer column filter small slow merge "
    "order vector line data table agg value key stream window spark a "
    "group part big sort query fast the".split()
)
LANGS = ["en", "en", "en", "es", "zh", "de", "fr"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = "large hot blue old cold small red green".split()
PART_NOUN = "ring bolt plate nut screw gear pipe valve".split()
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]


def _days(rng: np.random.Generator, lo: str, hi: str, n: int) -> np.ndarray:
    """n uniform midnight timestamps in [lo, hi]."""
    a = np.datetime64(lo, "D")
    span = (np.datetime64(hi, "D") - a).astype(int) + 1
    return (a + rng.integers(0, span, n)).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, choices: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(choices)[rng.integers(0, len(choices), n)])


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))
            texts.append(" ".join(VOCAB[w] for w in words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": _pick(rng, LANGS, n),
            "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    v = rng.normal(0.0, 1.0, (n, EMB_DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.astype(np.float32).ravel(), pa.float32())
    offsets = pa.array(np.arange(0, n * EMB_DIM + 1, EMB_DIM), pa.int32())
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
        }
    )


def _events(rng: np.random.Generator, n: int, n_users: int) -> pa.Table:
    start = np.datetime64("2024-01-01T00:00:00", "us")
    month_us = 30 * 86_400 * 1_000_000
    ts = start + np.sort(rng.integers(0, month_us, n)).astype("timedelta64[us]")
    value = np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
            "event_type": _pick(rng, EVENT_TYPES, n),
            "value": pa.array(value, pa.float64()),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten tables at scale factor ``sf`` into ``out_dir``;
    returns the row count per table."""
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * sf)
    n_supp = max(10, int(10_000 * sf))
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_li = int(6_000_000 * sf)
    tables = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                "r_name": pa.array(
                    ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
                ),
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
                "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
                "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
                "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part), pa.int64()),
                "p_name": pa.array(
                    [
                        f"{PART_ADJ[a]} {PART_NOUN[b]}"
                        for a, b in rng.integers(0, 8, (n_part, 2))
                    ]
                ),
                "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
                "p_type": _pick(rng, PART_TYPES, n_part),
                "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
                "p_retailprice": pa.array(
                    np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)
                ),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
                "o_orderstatus": _pick(rng, ["O", "P", "F"], n_ord),
                "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
                "o_orderdate": pa.array(
                    _days(rng, "1995-01-01", "2001-08-01", n_ord), pa.timestamp("us")
                ),
                "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
                "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
                "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
                "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
                "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_li)),
                "l_discount": pa.array(np.round(rng.uniform(0.0, 0.10, n_li), 2)),
                "l_tax": pa.array(np.round(rng.uniform(0.0, 0.08, n_li), 2)),
                "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
                "l_linestatus": _pick(rng, ["F", "O"], n_li),
                "l_shipdate": pa.array(
                    _days(rng, "1995-01-02", "2001-11-04", n_li), pa.timestamp("us")
                ),
            }
        ),
        "events": _events(rng, int(1_000_000 * sf), max(10, int(15_000 * sf))),
        "documents": _documents(rng, max(500, int(50_000 * sf))),
        "embeddings": _embeddings(rng, max(500, int(20_000 * sf))),
    }
    for name, table in tables.items():
        pq.write_table(table, f"{out_dir}/{name}.parquet")
    return {name: t.num_rows for name, t in tables.items()}


def trading_days(n: int, start: str = "2023-01-02") -> list[str]:
    """The first ``n`` weekdays from ``start`` as ISO strings."""
    return [d.strftime("%Y-%m-%d") for d in pd.bdate_range(start, periods=n)]


class EtlHistory(HistorySource):
    """Per-ticker history over a window of trading days.

    Every ticker's full path is derived from (seed, ticker) alone, so a
    one-day increment returns exactly the row the full history would
    hold for that day. Closes are a 2-decimal random walk; a day splits
    2:1 with probability 1/500. Tickers are ``TK0000``..; picklable, so
    Spark's Python workers can run ``fetch``.
    """

    def __init__(self, seed: int, days: list[str], all_days: list[str]):
        self.seed = seed
        self.days = days
        self.all_days = all_days

    def _path(self, ticker: str) -> pd.DataFrame:
        rng = np.random.default_rng([self.seed, int(ticker[2:])])
        n = len(self.all_days)
        steps = rng.normal(0.0005, 0.02, n)
        close = np.round(20.0 + 180.0 * rng.random() * np.exp(np.cumsum(steps)), 2)
        splits = np.where(rng.random(n) < 0.002, 2.0, 0.0)
        return pd.DataFrame(
            {
                "date": self.all_days,
                "close": np.maximum(close, 0.01),
                "stock_splits": splits,
                "shares_outstanding": float(rng.integers(1_000_000, 50_000_000)),
            }
        )

    def fetch(self, ticker: str) -> pd.DataFrame:
        path = self._path(ticker)
        return path[path["date"].isin(self.days)].reset_index(drop=True)

    def expected_stocks(self, tickers: list[str]) -> pd.DataFrame:
        """The stocks rows an ingest of this source must write, sorted
        by ticker and date: the close as share price, and the market
        cap over the shares divided by the split factor, which counts
        the 2:1 splits from the batch's last day back to the row."""
        frames = []
        for t in tickers:
            h = self.fetch(t).sort_values("date")
            factor = 2.0 ** (h["stock_splits"] == 2.0)[::-1].cumsum()[::-1]
            frames.append(
                pd.DataFrame(
                    {
                        "ticker": t,
                        "date": h["date"],
                        "share_price": h["close"],
                        "market_cap": h["close"] * (h["shares_outstanding"] / factor),
                    }
                )
            )
        return pd.concat(frames).sort_values(["ticker", "date"]).reset_index(drop=True)


def tickers(n: int) -> list[str]:
    return [f"TK{i:04d}" for i in range(n)]

