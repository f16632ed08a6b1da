"""Seeded retail corpus in the dataset_15 shape, plus its independent expectation.

The corpus mirrors FIXTURES.md: 36 products, 30 customers, one JSON-array
file per day, 1-5 items per transaction, qty uniform 1-5 with ~7.5 % nulls
(so some transactions are all-null), and a handful of hot products whose
demand outruns stock, so the greedy depletion cancels lines.

Each day file is written in timestamp order and the files carry increasing
mtimes, so the batch pipeline's arrival order, the stream's per-file
micro-batches and timestamp order all agree.

The expectation is computed here with numpy/pandas from the same arrays,
never through Spark: the greedy-with-skip fold per product, current stock,
order count, daily sales/profit and cancelled lines.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd

N_PRODUCTS = 36
N_CUSTOMERS = 30
N_HOT = 6
NULL_QTY_P = 0.075
FIRST_DAY = dt.date(2024, 2, 1)

_FLAVOURS = ["Sprinkles", "Caramel", "Mint", "Cherry", "Lemon", "Cocoa"]
_KINDS = [("Chocolate", "Truffles"), ("Gummies", "Bears"), ("Hard Candy", "Drops"),
          ("Chocolate", "Bars"), ("Licorice", "Twists"), ("Gummies", "Worms")]
_SHAPES = ["Discs", "Coins", "Cubes", "Stars", "Hearts", "Balls"]
_FIRST = ["Brad", "Ana", "Li", "Omar", "Sara", "Ken", "Maya", "Ivan", "Zoe", "Raj"]
_LAST = ["Lawrence", "Ng", "Silva", "Okafor", "Berg", "Patel"]


@dataclass
class Corpus:
    """Paths of one generated corpus and its expectation."""

    customers_csv: str
    products_csv: str
    transactions_glob: str
    day_files: list[str]
    expect_path: str
    gen_s: float  # seconds spent generating (0.0 when served from cache)


def ensure_corpus(cache_root: str, seed: int, days: int, txns_per_day: int) -> Corpus:
    """Generate the corpus for (seed, size) unless it is already cached."""
    root = os.path.join(cache_root, f"retail-s{seed}-d{days}-t{txns_per_day}")
    done = os.path.join(root, "_DONE")
    t0 = time.perf_counter()
    if not os.path.exists(done):
        shutil.rmtree(root, ignore_errors=True)
        _generate(root, seed, days, txns_per_day)
        with open(done, "w") as f:
            f.write("ok\n")
        gen_s = time.perf_counter() - t0
    else:
        gen_s = 0.0
    day_files = sorted(
        os.path.join(root, "tx", f) for f in os.listdir(os.path.join(root, "tx"))
    )
    return Corpus(
        customers_csv=os.path.join(root, "customers.csv"),
        products_csv=os.path.join(root, "products.csv"),
        transactions_glob=os.path.join(root, "tx", "transactions_*.json"),
        day_files=day_files,
        expect_path=os.path.join(root, "expect.npz"),
        gen_s=gen_s,
    )


def _generate(root: str, seed: int, days: int, txns_per_day: int) -> None:
    rng = np.random.default_rng(seed)
    os.makedirs(os.path.join(root, "tx"))

    # ---- customers: quoted addresses with commas, free-format phones
    cust = pd.DataFrame(
        {
            "customer_id": np.arange(1, N_CUSTOMERS + 1),
            "first_name": rng.choice(_FIRST, N_CUSTOMERS),
            "last_name": rng.choice(_LAST, N_CUSTOMERS),
        }
    )
    cust["email"] = [f"user{i}@example.com" for i in cust.customer_id]
    cust["address"] = [
        f"{rng.integers(1, 999)} Gray Coves Suite {rng.integers(100, 999)}, "
        f"New Douglas, MS {rng.integers(10000, 99999)}"
        for _ in range(N_CUSTOMERS)
    ]
    cust["phone"] = [f"({rng.integers(200, 999)}){rng.integers(100, 999)}-"
                     f"{rng.integers(1000, 9999)}" for _ in range(N_CUSTOMERS)]
    cust.to_csv(os.path.join(root, "customers.csv"), index=False)

    # ---- transactions: sizes first, so demand is known before stock is set
    n_tx = days * txns_per_day
    n_items = rng.integers(1, 6, n_tx)
    n_lines = int(n_items.sum())
    weights = np.ones(N_PRODUCTS)
    hot = rng.choice(N_PRODUCTS, N_HOT, replace=False)
    weights[hot] = 3.0
    weights /= weights.sum()
    product = rng.choice(N_PRODUCTS, n_lines, p=weights) + 1
    qty = rng.integers(1, 6, n_lines)
    null = rng.random(n_lines) < NULL_QTY_P

    # ---- products: hot ones get slightly less stock than their demand
    demand = np.bincount(product[~null], weights=qty[~null], minlength=N_PRODUCTS + 1)[1:]
    cover = rng.uniform(1.1, 1.6, N_PRODUCTS)
    cover[hot] = rng.uniform(0.9, 0.99, N_HOT)
    stock = np.maximum(1, np.round(demand * cover)).astype(np.int64)
    price_c = rng.integers(50, 1000, N_PRODUCTS)  # cents, decimal(3,2)
    cost_c = np.maximum(1, (price_c * rng.uniform(0.3, 0.8, N_PRODUCTS)).astype(np.int64))
    names = [
        f"{_FLAVOURS[i % 6]} {_KINDS[(i // 6) % 6][1]} {_SHAPES[(i * 5) % 6]}"
        for i in range(N_PRODUCTS)
    ]
    prod = pd.DataFrame(
        {
            "product_id": np.arange(1, N_PRODUCTS + 1),
            "product_name": names,
            "product_category": [_KINDS[(i // 6) % 6][0] for i in range(N_PRODUCTS)],
            "product_subcategory": [_KINDS[(i // 6) % 6][1] for i in range(N_PRODUCTS)],
            "product_shape": [_SHAPES[(i * 5) % 6] for i in range(N_PRODUCTS)],
            "sales_price": [f"{c / 100:.2f}" for c in price_c],
            "cost_to_make": [f"{c / 100:.2f}" for c in cost_c],
            "stock": stock,
        }
    )
    prod.to_csv(os.path.join(root, "products.csv"), index=False)

    # ---- per-transaction keys: unique ids, sorted unique timestamps per day
    tx_id = rng.choice(np.arange(10_000_000, 100_000_000), n_tx, replace=False)
    cust_id = rng.integers(1, N_CUSTOMERS + 1, n_tx)
    day_of_tx = np.repeat(np.arange(days), txns_per_day)
    micros = np.empty(n_tx, dtype=np.int64)
    for d in range(days):
        m = np.sort(rng.choice(86_400_000_000, txns_per_day, replace=False))
        micros[d * txns_per_day:(d + 1) * txns_per_day] = m
    line_tx = np.repeat(np.arange(n_tx), n_items)
    line_pos = np.arange(n_lines) - np.repeat(np.cumsum(n_items) - n_items, n_items)

    # ---- day files, written in timestamp order with increasing mtimes
    starts = np.concatenate([[0], np.cumsum(n_items)])
    base_mtime = 1_700_000_000
    for d in range(days):
        day = FIRST_DAY + dt.timedelta(days=d)
        docs = []
        for t in range(d * txns_per_day, (d + 1) * txns_per_day):
            m = int(micros[t])
            ts = (dt.datetime.combine(day, dt.time()) + dt.timedelta(microseconds=m))
            items = [
                {
                    "product_id": int(product[i]),
                    "product_name": names[product[i] - 1],
                    "qty": None if null[i] else int(qty[i]),
                }
                for i in range(starts[t], starts[t + 1])
            ]
            docs.append(
                {
                    "transaction_id": int(tx_id[t]),
                    "customer_id": int(cust_id[t]),
                    "timestamp": ts.strftime("%Y-%m-%dT%H:%M:%S.%f"),
                    "items": items,
                }
            )
        path = os.path.join(root, "tx", f"transactions_{day:%Y%m%d}.json")
        with open(path, "w") as f:
            json.dump(docs, f)
        os.utime(path, (base_mtime + d * 60, base_mtime + d * 60))

    _write_expectation(
        os.path.join(root, "expect.npz"),
        tx_id=tx_id, day_of_tx=day_of_tx, line_tx=line_tx, line_pos=line_pos,
        product=product, qty=qty, null=null, stock=stock,
        price_c=price_c, cost_c=cost_c,
    )


def _write_expectation(path, *, tx_id, day_of_tx, line_tx, line_pos, product,
                       qty, null, stock, price_c, cost_c) -> None:
    """Greedy-with-skip fold in timestamp order, and the contract aggregates.

    Lines are generated in (day, timestamp, line_pos) order, which is the
    order the fold must consume them in.
    """
    keep = ~null
    l_tx, l_pos, l_prod, l_qty = line_tx[keep], line_pos[keep], product[keep], qty[keep]
    remaining = stock.tolist()
    filled = []
    for p, q in zip(l_prod.tolist(), l_qty.tolist()):
        if q <= remaining[p - 1]:
            remaining[p - 1] -= q
            filled.append(q)
        else:
            filled.append(0)
    filled = np.asarray(filled, dtype=np.int64)

    line_total_c = filled * price_c[l_prod - 1]
    line_cost_c = filled * cost_c[l_prod - 1]
    l_day = day_of_tx[l_tx]
    days = int(day_of_tx.max()) + 1
    orders_per_day = np.bincount(day_of_tx[np.unique(l_tx)], minlength=days)
    np.savez(
        path,
        order_id=tx_id[l_tx],
        line_pos=l_pos,
        product_id=l_prod,
        quantity=filled,
        current_stock=np.asarray(remaining, dtype=np.int64),
        num_orders=np.int64(len(np.unique(l_tx))),
        cancelled=np.int64((filled == 0).sum()),
        day_orders=orders_per_day,
        day_sales_c=np.bincount(l_day, weights=line_total_c, minlength=days).astype(np.int64),
        day_cost_c=np.bincount(l_day, weights=line_cost_c, minlength=days).astype(np.int64),
        first_day=np.datetime64(FIRST_DAY),
    )


def load_expectation(path: str) -> dict[str, np.ndarray]:
    with np.load(path) as z:
        return {k: z[k] for k in z.files}
