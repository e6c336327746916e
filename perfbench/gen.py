"""Seeded input generators for the benchmark.

Two families, both pure functions of ``seed``:

* ``write_star(out_dir, seed, sf)`` writes the ten analytic tables the
  query registry reads (``region`` ... ``embeddings``), with the schemas
  and value distributions of the tables described in TESTDATA.md and
  FIXTURES.md, at scale factor ``sf``.
* ``EtlGenerator`` writes raw-zone drops for ``pipeline.run_pipeline``:
  a products CSV and real ``.xlsx`` orders / order_items workbooks,
  each carrying a dirt mix (null required fields, duplicate keys within
  a file, dangling foreign keys, corrections of keys landed earlier, and
  on request a sheet missing a required column).  It keeps the
  pipeline's semantics in pandas so every drop comes with the row
  counts the lake must hold afterwards.

Order-item ids come from a running row index, never from natural-key
pairs, so two distinct items can never collide under dedup.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from lakehouse_ecommerce_etl_pipeline_spark.sources.xlsx import write_xlsx

# --------------------------------------------------------------------------
# analytic star schema
# --------------------------------------------------------------------------

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "fr", "es", "zh", "de"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_N_DOCS = 500
_N_VECS = 500
_DIM = 64


def _ts(days: np.ndarray, base: str) -> pd.Series:
    return pd.Series(
        pd.Timestamp(base) + pd.to_timedelta(days, unit="D")
    ).astype("datetime64[us]")


def star_tables(seed: int, sf: float) -> dict[str, pd.DataFrame]:
    """The ten analytic tables, as pandas frames."""
    rng = np.random.default_rng(seed)
    n_cust = max(50, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(100, int(200_000 * sf))
    n_ord = max(500, int(1_500_000 * sf))
    n_ev = max(500, int(1_000_000 * sf))

    region = pd.DataFrame(
        {"r_regionkey": np.arange(5, dtype="int32"), "r_name": _REGIONS}
    )
    nation = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype="int32"),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype("int32"),
        }
    )
    customer = pd.DataFrame(
        {
            "c_custkey": np.arange(n_cust, dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
        }
    )
    supplier = pd.DataFrame(
        {
            "s_suppkey": np.arange(n_supp, dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        }
    )
    pk = np.arange(n_part, dtype="int64")
    part = pd.DataFrame(
        {
            "p_partkey": pk,
            "p_name": [
                f"{_ADJ[a]} {_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(_PTYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype("int32"),
            "p_retailprice": np.round(900.0 + (pk % 200) / 10.0, 2),
        }
    )
    odays = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    orders = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_ord, dtype="int64"),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
            "o_orderdate": _ts(odays, "1995-01-01"),
            "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
        }
    )
    nlines = rng.integers(1, 8, n_ord)
    l_order = np.repeat(np.arange(n_ord), nlines)
    n_li = len(l_order)
    starts = np.repeat(np.cumsum(nlines) - nlines, nlines)
    qty = rng.integers(1, 51, n_li).astype("float64")
    lineitem = pd.DataFrame(
        {
            "l_orderkey": l_order.astype("int64"),
            "l_partkey": rng.integers(0, n_part, n_li).astype("int64"),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype("int64"),
            "l_linenumber": (np.arange(n_li) - starts + 1).astype("int32"),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": _ts(odays[l_order] + rng.integers(1, 122, n_li), "1995-01-01"),
        }
    )
    secs = np.sort(rng.uniform(0, 30 * 86400, n_ev))
    events = pd.DataFrame(
        {
            "event_id": np.arange(n_ev, dtype="int64"),
            "ts": pd.Series(
                pd.Timestamp("2024-01-01") + pd.to_timedelta(np.round(secs * 1e6), unit="us")
            ).astype("datetime64[us]"),
            "user_id": rng.integers(0, max(15, n_ev // 100), n_ev).astype("int64"),
            "event_type": rng.choice(_EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2) + 0.01,
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts = [
        " ".join(rng.choice(_WORDS, rng.integers(10, 100)))
        for _ in range(_N_DOCS)
    ]
    # planted near-duplicates: an earlier document plus a marker word
    for i in rng.choice(np.arange(50, _N_DOCS), 30, replace=False):
        texts[i] = texts[int(rng.integers(0, 50))] + " dup"
    documents = pd.DataFrame(
        {
            "doc_id": np.arange(_N_DOCS, dtype="int64"),
            "text": texts,
            "lang": rng.choice(_LANGS, _N_DOCS, p=_LANG_P),
            "source": [f"src{i % 20}" for i in range(_N_DOCS)],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )
    centroids = rng.normal(0.0, 1.0, (10, _DIM))
    labels = rng.integers(0, 10, _N_VECS)
    vecs = centroids[labels] + rng.normal(0.0, 0.8, (_N_VECS, _DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    embeddings = pd.DataFrame(
        {
            "vec_id": np.arange(_N_VECS, dtype="int64"),
            "embedding": list(vecs),
            "label": labels.astype("int32"),
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
        "events": events,
        "documents": documents,
        "embeddings": embeddings,
    }


def write_star(out_dir: str, seed: int, sf: float) -> int:
    """Write ``<out_dir>/<table>.parquet`` for every table; returns the
    total bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, pdf in star_tables(seed, sf).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pdf.to_parquet(path, index=False)
        total += os.path.getsize(path)
    return total


# --------------------------------------------------------------------------
# ETL raw-zone drops
# --------------------------------------------------------------------------

_DEPTS = [
    "bakery", "beverages", "dairy", "deli", "frozen",
    "household", "pantry", "personal", "produce", "snacks",
]
_ORDER_REQ = ["order_id", "user_id", "order_timestamp"]
_ITEM_REQ = ["id", "order_id", "user_id", "product_id", "order_timestamp"]
_PRODUCT_REQ = ["product_id", "department_id", "department", "product_name"]
# the column each table's corrections change, checked by its sum
CHECKED_SUMS = {"orders": "total_amount", "order_items": "add_to_cart_order"}


@dataclass
class Expected:
    """What the lake must hold after a drop, kept in pandas."""

    keys: dict[str, set] = field(
        default_factory=lambda: {"products": set(), "orders": set(), "order_items": set()}
    )
    rejected: dict[str, int] = field(
        default_factory=lambda: {"products": 0, "orders": 0, "order_items": 0}
    )
    # key -> current value of the column the corrections change
    values: dict[str, dict] = field(default_factory=lambda: {d: {} for d in CHECKED_SUMS})

    def counts(self) -> dict[str, int]:
        out = {}
        for d in self.keys:
            out[d] = len(self.keys[d])
            out[f"{d}_rejected"] = self.rejected[d]
        return out

    def sums(self) -> dict[str, float]:
        """Per checked table, the sum of its corrected column: a MERGE
        that dropped updates leaves the counts right but not this."""
        return {f"{d}.{c}": round(float(sum(self.values[d].values())), 2)
                for d, c in CHECKED_SUMS.items()}


@dataclass
class DropStats:
    files: list[str]
    rows_landed: int  # loaded plus rejected rows, skipped sheets excluded
    raw_bytes: int


def _null_some(pdf: pd.DataFrame, cols: list[str], frac: float, rng) -> None:
    """Null one random required field in ``frac`` of the rows."""
    n = int(round(len(pdf) * frac))
    if n == 0:
        return
    rows = rng.choice(len(pdf), n, replace=False)
    which = rng.integers(0, len(cols), n)
    for r, c in zip(rows, which):
        pdf.iat[r, pdf.columns.get_loc(cols[c])] = None


def _with_dups(pdf: pd.DataFrame, frac: float, rng) -> pd.DataFrame:
    n = int(round(len(pdf) * frac))
    if n == 0:
        return pdf
    extra = pdf.iloc[rng.choice(len(pdf), n, replace=False)]
    out = pd.concat([pdf, extra], ignore_index=True)
    return out.iloc[rng.permutation(len(out))].reset_index(drop=True)


def _valid(pdf: pd.DataFrame, req: list[str]) -> pd.Series:
    return pdf[req].notna().all(axis=1)


class EtlGenerator:
    """Writes drops into ``<base>/raw/<dataset>/`` and tracks the
    counts the pipeline must produce.

    ``n_products`` rows go into every products CSV; each call to
    ``drop`` adds ``n_orders`` orders with 1-7 items each, timestamped
    inside ``[start, start + days)``.
    """

    def __init__(self, base: str, seed: int, n_products: int):
        self.base = base
        self.rng = np.random.default_rng(seed)
        self.n_products = n_products
        self.next_order = 0
        self.next_item = 0
        self.expected = Expected()
        self.landed_orders: list[pd.DataFrame] = []
        self.landed_items: list[pd.DataFrame] = []
        self.delivered: list[tuple[str, str]] = []  # (dataset, archived name)

    # -- file writers -----------------------------------------------------

    def _path(self, dataset: str, name: str) -> str:
        d = os.path.join(self.base, "raw", dataset)
        os.makedirs(d, exist_ok=True)
        return os.path.join(d, name)

    def products(self, name: str) -> tuple[str, int]:
        rng = self.rng
        n = self.n_products
        ids = np.arange(n)
        pdf = pd.DataFrame(
            {
                "product_id": [f"p{i}" for i in ids],
                "department_id": pd.array(ids % len(_DEPTS) + 1, dtype="Int64"),
                "department": [_DEPTS[i % len(_DEPTS)] for i in ids],
                "product_name": [
                    f"{_ADJ[a]} {_NOUN[b]} {i}"
                    for i, a, b in zip(ids, rng.integers(0, 8, n), rng.integers(0, 8, n))
                ],
            }
        )
        pdf = pdf.astype({"product_id": object, "department": object, "product_name": object})
        _null_some(pdf, _PRODUCT_REQ, 0.02, rng)
        pdf = _with_dups(pdf, 0.02, rng)
        path = self._path("products", name)
        pdf.to_csv(path, index=False)
        ok = _valid(pdf, _PRODUCT_REQ)
        self.expected.rejected["products"] += int((~ok).sum())
        self.expected.keys["products"] |= set(pdf.loc[ok, "product_id"])
        self.delivered.append(("products", name))
        return path, len(pdf)

    def _orders_frame(self, n: int, start: dt.datetime, days: int) -> pd.DataFrame:
        rng = self.rng
        ids = np.arange(self.next_order, self.next_order + n)
        self.next_order += n
        secs = rng.integers(0, days * 86400, n)
        return pd.DataFrame(
            {
                "order_num": [f"n{i}" for i in ids],
                "order_id": [f"o{i}" for i in ids],
                "user_id": [f"u{u}" for u in rng.integers(0, 5000, n)],
                "order_timestamp": [start + dt.timedelta(seconds=int(s)) for s in secs],
                "total_amount": np.round(rng.uniform(-20.0, 900.0, n), 2),
            }
        )

    def _items_frame(self, orders: pd.DataFrame) -> pd.DataFrame:
        rng = self.rng
        # 1-7 items per order, shuffled; the total depends only on the
        # order count, so every seed lands the same number of rows
        k = rng.permutation(np.resize(np.arange(1, 8), len(orders)))
        idx = np.repeat(np.arange(len(orders)), k)
        n = len(idx)
        ids = np.arange(self.next_item, self.next_item + n)
        self.next_item += n
        dsp = rng.integers(0, 31, n).astype("float64")
        dsp[rng.random(n) < 0.1] = np.nan  # nullable, not required
        src = orders.iloc[idx].reset_index(drop=True)
        return pd.DataFrame(
            {
                "id": [f"i{i}" for i in ids],
                "order_id": src["order_id"].to_numpy(),
                "user_id": src["user_id"].to_numpy(),
                "days_since_prior_order": dsp,
                "product_id": [f"p{p}" for p in rng.integers(0, self.n_products, n)],
                "add_to_cart_order": (np.arange(n) - np.repeat(np.cumsum(k) - k, k) + 1),
                "reordered": rng.integers(0, 2, n),
                "order_timestamp": src["order_timestamp"].to_numpy(),
            }
        )

    def _workbook(
        self, dataset: str, name: str, pdf: pd.DataFrame, drop_col: str, bad_sheet: bool
    ) -> str:
        half = len(pdf) // 2
        sheets = {"Sheet1": pdf.iloc[:half], "Sheet2": pdf.iloc[half:]}
        if bad_sheet:
            # skip-bad-sheet path: a sheet missing a required column
            sheets["summary"] = pdf.head(20).drop(columns=[drop_col])
        path = self._path(dataset, name)
        write_xlsx(path, sheets)
        self.delivered.append((dataset, name))
        return path

    # -- one drop ---------------------------------------------------------

    def drop(
        self,
        tag: str,
        start: dt.datetime,
        days: int,
        n_orders: int,
        with_products: bool,
        bad_sheet: bool,
    ) -> DropStats:
        rng = self.rng
        files, rows = [], 0
        if with_products:
            p, n = self.products(f"products_{tag}.csv")
            files.append(p)
            rows += n

        orders = self._orders_frame(n_orders, start, days)
        items = self._items_frame(orders)
        # dangling FKs: items pointing at orders / products that never exist
        n_dang = max(1, len(items) // 50)
        dang = rng.choice(len(items), n_dang, replace=False)
        half = n_dang // 2
        items.loc[dang[:half], "order_id"] = [f"ox{i}" for i in items.loc[dang[:half], "id"]]
        items.loc[dang[half:], "product_id"] = [f"px{i}" for i in items.loc[dang[half:], "id"]]
        # corrections of keys landed by earlier drops: MERGE updates.  One
        # row per key (its latest version), so a file never holds two
        # different versions of a key.
        if self.landed_orders:
            prev_o = pd.concat(self.landed_orders, ignore_index=True).drop_duplicates("order_id", keep="last")
            fix_o = prev_o.iloc[rng.choice(len(prev_o), max(1, len(orders) // 30), replace=False)].copy()
            fix_o["total_amount"] = fix_o["total_amount"] + 1.0
            orders = pd.concat([orders, fix_o], ignore_index=True)
            prev_i = pd.concat(self.landed_items, ignore_index=True).drop_duplicates("id", keep="last")
            fix_i = prev_i.iloc[rng.choice(len(prev_i), max(1, len(items) // 30), replace=False)].copy()
            fix_i["add_to_cart_order"] = fix_i["add_to_cart_order"] + 1
            items = pd.concat([items, fix_i], ignore_index=True)
        orders = orders.astype({c: object for c in _ORDER_REQ})
        items = items.astype({c: object for c in _ITEM_REQ})
        _null_some(orders, _ORDER_REQ, 0.01, rng)
        _null_some(items, _ITEM_REQ, 0.01, rng)
        orders = _with_dups(orders, 0.02, rng)
        items = _with_dups(items, 0.02, rng)

        # expected state, mirroring validate -> FK -> dedup -> MERGE
        ok_o = _valid(orders, _ORDER_REQ)
        self.expected.rejected["orders"] += int((~ok_o).sum())
        self.expected.keys["orders"] |= set(orders.loc[ok_o, "order_id"])
        ok_i = _valid(items, _ITEM_REQ)
        fk_i = items["order_id"].isin(self.expected.keys["orders"]) & items[
            "product_id"
        ].isin(self.expected.keys["products"])
        self.expected.rejected["order_items"] += int((~ok_i).sum() + (ok_i & ~fk_i).sum())
        self.expected.keys["order_items"] |= set(items.loc[ok_i & fk_i, "id"])
        acc_o = orders[ok_o].drop_duplicates("order_id")
        acc_i = items[ok_i & fk_i].drop_duplicates("id")
        self.expected.values["orders"].update(zip(acc_o["order_id"], acc_o["total_amount"]))
        self.expected.values["order_items"].update(zip(acc_i["id"], acc_i["add_to_cart_order"]))
        self.landed_orders.append(acc_o)
        self.landed_items.append(acc_i)

        files.append(self._workbook("orders", f"orders_{tag}.xlsx", orders, "order_timestamp", bad_sheet))
        files.append(self._workbook("order_items", f"order_items_{tag}.xlsx", items, "product_id", bad_sheet))
        rows += len(orders) + len(items)
        return DropStats(files, rows, sum(os.path.getsize(f) for f in files))

    def redeliver(self) -> str:
        """Copy an already-processed file back into the raw zone: the
        marker log must make the pipeline skip it."""
        done = [
            (d, n) for d, n in self.delivered
            if os.path.exists(os.path.join(self.base, "archived", d, n))
        ]
        dataset, name = done[int(self.rng.integers(0, len(done)))]
        src = os.path.join(self.base, "archived", dataset, name)
        dst = self._path(dataset, name)
        shutil.copyfile(src, dst)
        return dst
