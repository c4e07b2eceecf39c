"""Seeded inputs for the benchmark workloads.

Everything the program sees comes from here and from the ``--seed``
argument alone: the same seed writes byte-identical inputs.

- ``write_corpus`` writes the three source tables the paper path reads
  (``part``, ``orders``, ``lineitem``) with the row counts, column types and
  value domains of the sf0.1 TPC-H-ish test corpus: 20,000 parts, 150,000
  orders and 600,000 order lines, every column drawn uniformly and
  independently like the original.
- ``RefreshFeed`` draws the warehouse-refresh landing feed like the
  lineitem table (supplier, quantity, extended price): a 300,000-row bulk
  file keyed by a unique row id, plus incremental batches of 1% with fixed
  shares of upserts, new keys, tombstones and malformed lines. It tracks
  the live state, so every count a refresh should report is known before
  the refresh runs.
- ``detail_pages`` draws the product-detail page requests (page number,
  sort column, direction) of a dashboard load, and ``session_order`` the
  order of the warm session's requests.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_PARTS = 20_000
N_ORDERS = 150_000
N_LINES = 600_000
N_CUSTOMERS = 15_000
N_SUPPLIERS = 1_000

_ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_ORDER_DAY0 = np.datetime64("1995-01-01", "D")
_ORDER_DAYS = 2_404  # 1995-01-01 .. 2001-08-01
_SHIP_DAY0 = np.datetime64("1995-01-02", "D")
_SHIP_DAYS = 2_499  # 1995-01-02 .. 2001-11-04


def _days(rng: np.random.Generator, day0: np.datetime64, span: int, n: int) -> pa.Array:
    d = day0 + rng.integers(0, span, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), type=pa.timestamp("us"))


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def write_corpus(seed: int, out_dir: str) -> dict[str, int]:
    """Write part/orders/lineitem parquet under ``out_dir``; return bytes per table."""
    rng = np.random.default_rng([seed, 0])
    os.makedirs(out_dir, exist_ok=True)
    keys = np.arange(N_PARTS, dtype=np.int64)
    adj = np.asarray(_ADJECTIVES, dtype=object)[rng.integers(0, 8, N_PARTS)]
    noun = np.asarray(_NOUNS, dtype=object)[rng.integers(0, 8, N_PARTS)]
    brand = np.char.add("Brand#", rng.integers(1, 26, N_PARTS).astype(str)).astype(object)
    part = pa.table(
        {
            "p_partkey": pa.array(keys),
            "p_name": pa.array(adj + " " + noun),
            "p_brand": pa.array(brand),
            "p_type": _pick(rng, _TYPES, N_PARTS),
            "p_size": pa.array(rng.integers(1, 51, N_PARTS).astype(np.int32)),
            "p_retailprice": pa.array(np.round(900.0 + (keys % 1000) * 0.1, 1)),
        }
    )
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(N_ORDERS, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, N_CUSTOMERS, N_ORDERS)),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], N_ORDERS),
            "o_totalprice": pa.array(_cents(rng, 1000.0, 500000.0, N_ORDERS)),
            "o_orderdate": _days(rng, _ORDER_DAY0, _ORDER_DAYS, N_ORDERS),
            "o_orderpriority": _pick(rng, _PRIORITIES, N_ORDERS),
        }
    )
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, N_ORDERS, N_LINES)),
            "l_partkey": pa.array(rng.integers(0, N_PARTS, N_LINES)),
            "l_suppkey": pa.array(rng.integers(0, N_SUPPLIERS, N_LINES)),
            "l_linenumber": pa.array(rng.integers(1, 8, N_LINES).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, N_LINES).astype(np.float64)),
            "l_extendedprice": pa.array(_cents(rng, 900.0, 105000.0, N_LINES)),
            "l_discount": pa.array(rng.integers(0, 11, N_LINES) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, N_LINES) / 100.0),
            "l_returnflag": _pick(rng, ["A", "N", "R"], N_LINES),
            "l_linestatus": _pick(rng, ["F", "O"], N_LINES),
            "l_shipdate": _days(rng, _SHIP_DAY0, _SHIP_DAYS, N_LINES),
        }
    )
    sizes = {}
    for name, tbl in (("part", part), ("orders", orders), ("lineitem", lineitem)):
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tbl, path)
        sizes[name] = os.path.getsize(path)
    return sizes


# ---------------------------------------------------------------------------
# warehouse_refresh landing feed
# ---------------------------------------------------------------------------

FEED_COLUMNS = ("row_id", "supplier", "qty", "price_cents", "deleted")
FEED_ROWS = 300_000
BATCH_ROWS = FEED_ROWS // 100
UPSERT_SHARE, NEW_SHARE = 0.60, 0.25  # the remaining 15% are tombstones
MALFORMED_LINES = 20


@dataclass
class Batch:
    """One landed CSV batch and the counts the refresh must report for it."""

    path: str
    upserts: int
    new_keys: int
    tombstones: int
    malformed: int
    csv_bytes: int

    @property
    def changes(self) -> int:
        # every upsert changes a non-key attribute, every new key is an
        # addition and every tombstone removes a live key
        return self.upserts + self.new_keys + self.tombstones


@dataclass
class RefreshFeed:
    """The seeded landing feed and the live table state it implies.

    Measures are integers (order quantity and price in cents), so every
    rollup sum is exact in double precision whatever order the engine adds
    them in, and the maintained rollup can be compared exactly with a full
    recompute.
    """

    seed: int
    landing_dir: str
    state: dict[str, np.ndarray] = field(default_factory=dict)
    batches: list[Batch] = field(default_factory=list)

    def __post_init__(self) -> None:
        os.makedirs(self.landing_dir, exist_ok=True)

    def _write(self, name: str, rows: dict[str, np.ndarray], bad: list[str]) -> tuple[str, int]:
        path = os.path.join(self.landing_dir, name)
        deleted = np.where(rows["deleted"], "true", "false")
        with open(path, "w") as fh:
            fh.write(",".join(FEED_COLUMNS) + "\n")
            fh.writelines(
                f"{i},s{s},{q},{p},{d}\n"
                for i, s, q, p, d in zip(
                    rows["row_id"], rows["supplier"], rows["qty"], rows["price_cents"], deleted
                )
            )
            fh.writelines(line + "\n" for line in bad)
        return path, os.path.getsize(path)

    def land_bulk(self) -> Batch:
        """The initial feed, drawn like sf0.1 ``lineitem``."""
        rng = np.random.default_rng([self.seed, 1])
        rows = {
            "row_id": np.arange(FEED_ROWS, dtype=np.int64),
            "supplier": rng.integers(0, N_SUPPLIERS, FEED_ROWS),
            "qty": rng.integers(1, 51, FEED_ROWS),
            "price_cents": rng.integers(90_000, 10_500_001, FEED_ROWS),
            "deleted": np.zeros(FEED_ROWS, dtype=bool),
        }
        path, size = self._write("batch-00000.csv", rows, [])
        self.state = {k: v for k, v in rows.items() if k != "deleted"}
        self._next_id = FEED_ROWS
        batch = Batch(path, 0, FEED_ROWS, 0, 0, size)
        self.batches.append(batch)
        return batch

    def land_increment(self) -> Batch:
        """Land the next batch: upserts and tombstones on distinct live keys,
        fresh keys never seen before, and malformed lines."""
        n = len(self.batches)
        rng = np.random.default_rng([self.seed, 2, n])
        n_up = round(BATCH_ROWS * UPSERT_SHARE)
        n_new = round(BATCH_ROWS * NEW_SHARE)
        n_del = BATCH_ROWS - n_up - n_new
        live = self.state["row_id"]
        pick = rng.choice(len(live), n_up + n_del, replace=False)
        up_idx, del_idx = pick[:n_up], pick[n_up:]
        new = {
            "row_id": np.arange(self._next_id, self._next_id + n_new, dtype=np.int64),
            "supplier": rng.integers(0, N_SUPPLIERS, n_new),
            "qty": rng.integers(1, 51, n_new),
            "price_cents": rng.integers(90_000, 10_500_001, n_new),
        }
        self._next_id += n_new
        upserted = {k: v[up_idx] for k, v in self.state.items()}
        upserted["qty"] = upserted["qty"] % 50 + 1  # always differs from the live value
        tombstoned = {k: v[del_idx] for k, v in self.state.items()}
        rows = {k: np.concatenate([upserted[k], new[k], tombstoned[k]]) for k in self.state}
        rows["deleted"] = np.repeat([False, False, True], [n_up, n_new, n_del])
        order = rng.permutation(BATCH_ROWS)
        rows = {k: v[order] for k, v in rows.items()}
        # malformed: a non-numeric key, or a non-numeric quantity
        bad = [
            f"x{n}-{k},s1,3,100,false" if k % 2 else f"{k},s1,{k}q,100,false"
            for k in range(MALFORMED_LINES)
        ]
        path, size = self._write(f"batch-{n:05d}.csv", rows, bad)

        self.state["qty"][up_idx] = upserted["qty"]
        keep = np.ones(len(live), bool)
        keep[del_idx] = False
        self.state = {k: np.concatenate([v[keep], new[k]]) for k, v in self.state.items()}
        batch = Batch(path, n_up, n_new, n_del, MALFORMED_LINES, size)
        self.batches.append(batch)
        return batch

    def lookup_keys(self, request: int, k: int = 25) -> dict[int, tuple[int, int, int]]:
        """A seeded sample of live keys with their expected (supplier, qty,
        price), drawn anew for each read request after a refresh."""
        rng = np.random.default_rng([self.seed, 3, len(self.batches), request])
        idx = rng.choice(len(self.state["row_id"]), k, replace=False)
        return {
            int(self.state["row_id"][i]): (
                int(self.state["supplier"][i]),
                int(self.state["qty"][i]),
                int(self.state["price_cents"][i]),
            )
            for i in idx
        }

    @property
    def malformed_total(self) -> int:
        return sum(b.malformed for b in self.batches)


# ---------------------------------------------------------------------------
# dashboard requests
# ---------------------------------------------------------------------------

DETAIL_SORT_COLUMNS = ("profit", "average_unit_price", "nunique_customer", "selling_duration")


def detail_pages(seed: int, n: int, n_products: int, page_size: int = 20) -> list[tuple[int, str, bool]]:
    """``n`` seeded (page, sort column, descending) product-detail requests,
    skewed towards the first pages like a browsing user."""
    rng = np.random.default_rng([seed, 4])
    last_page = max(1, -(-n_products // page_size))
    pages = np.minimum(rng.geometric(0.15, n), last_page)
    cols = rng.integers(0, len(DETAIL_SORT_COLUMNS), n)
    desc = rng.integers(0, 2, n).astype(bool)
    return [(int(p), DETAIL_SORT_COLUMNS[c], bool(d)) for p, c, d in zip(pages, cols, desc)]


def session_order(seed: int, mix: dict[str, int]) -> list[str]:
    """The warm dashboard session's request order: ``mix[name]`` requests of
    each page, shuffled by the seed. The counts are fixed so that every seed
    times the same mix of pages."""
    names = [name for name, k in mix.items() for _ in range(k)]
    order = np.random.default_rng([seed, 5]).permutation(len(names))
    return [names[i] for i in order]
