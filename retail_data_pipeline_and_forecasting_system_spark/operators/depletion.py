"""Greedy sequential inventory depletion — the one non-relational operator.

Semantics (reference src/data_processor.py:288-331, verified against the
golden outputs): walk each product's demand lines in time order; if the
remaining stock covers the line's qty, fulfill it and decrement, otherwise
cancel the line (fulfilled qty = 0) and LEAVE STOCK UNTOUCHED so a later,
smaller order can still succeed. Greedy-with-skip is deliberately NOT a
window cumulative sum: with stock 5 and demand sequence [3, 3, 2] the result
is [3, 0, 2], where a cumsum would give [3, 0, 0] (FIXTURES.md invariant 6).

Spark-first design
------------------
The fold is sequential *per product* but independent *across products*, so it
maps exactly onto a grouped-map: hash-repartition on ``product_id``, then one
Arrow-batched pandas kernel per product group. On a 1000-executor cluster
each product's timeline is processed by one task while thousands of products
run in parallel — the reference instead collect()s every joined line to a
single driver loop (src/data_processor.py:289,293), its scalability cliff.

Determinism: the reference relies on the accidental row order surviving an
``orderBy`` *before* a join (src/data_processor.py:280-286) — joins do not
preserve order, so its depletion order is only stable at small scale. This
kernel sorts *inside* the group by (timestamp, transaction_id, line_pos),
making the fold order total and reproducible at any parallelism.

Scale notes
-----------
- Parallelism = number of distinct products. A single ultra-hot product is an
  irreducibly sequential timeline (the fold's output for line i depends on
  all lines < i), so no salting can split it without changing semantics.
  ``applyInPandas`` materializes one bucket per task, so a product whose
  timeline exceeds one task's memory does not fit. Splitting such a timeline
  into epochs that chain closing stock into the next epoch's opening stock
  (same fold, staged) would bound that memory; it is not implemented.
- The fold is one Python pass per product timeline, O(lines) whatever the
  mix of fulfilled and cancelled lines.
- Cross-day carryover is free: state is per-product and days are concatenated
  in time order, so one multi-day pass ≡ the reference's day loop feeding
  closing stock into the next day (SURVEY.md A5).
"""

from __future__ import annotations

import weakref
from typing import Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: session -> {products-plan semanticHash -> row count}. The bucketed
#: fold's bucket count is bounded by the dim's cardinality
#: (r14 verdict item 5: 2 x parallelism is over-provisioned when
#: distinct keys < buckets — retail's 36 products drew 64 buckets).
#: The count is a PLAN-TUNING statistic, not a result: bucket count
#: only changes group-to-task placement, never output rows, so a stale
#: memo can never affect correctness — the same stance as the fan
#: gate's memoized layout probe. Keyed weakly by session; the one tiny
#: count job per distinct dim plan amortizes across invocations (the
#: retail bench re-reads the same products CSV every rep — same
#: analyzed plan, same hash, one job per session).
_DIM_COUNT_MEMO: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def _dim_count(products: DataFrame) -> int:
    spark = products.sparkSession
    per = _DIM_COUNT_MEMO.get(spark)
    if per is None:
        per = _DIM_COUNT_MEMO.setdefault(spark, {})
    key = products.semanticHash()
    n = per.get(key)
    if n is None:
        n = products.count()
        per[key] = n
    return n


def _fulfilled_qty(
    stock: int, demands: Iterable[int]
) -> list[int]:
    """Greedy-with-skip fold over one key's time-ordered demands.

    The only rendition of the fold: the batch kernel and the stream's
    group-state fold both call it. A ``None`` or negative demand cancels."""
    out = []
    remaining = stock
    for qty in demands:
        if qty is not None and 0 <= qty <= remaining:
            out.append(qty)
            remaining -= qty
        else:
            out.append(0)
    return out


def greedy_inventory_depletion(
    lines: DataFrame,
    products: DataFrame,
    qty_col: str = "qty",
    stock_col: str = "stock",
    order_cols: tuple[str, ...] = ("timestamp", "transaction_id", "line_pos"),
    reset_col: str | None = None,
    result_cols: tuple[str, ...] | None = None,
) -> DataFrame:
    """Apply greedy depletion to demand ``lines`` against initial ``products``
    stock.

    Parameters
    ----------
    lines : demand rows; must contain ``product_id``, ``qty_col`` and the
        ``order_cols`` that define the (total) processing order.
    products : one row per product with ``product_id`` and ``stock_col``.
    reset_col : optional column name; when set, stock resets to the initial
        value at every distinct value of this column (the reference's
        RELOAD_INVENTORY_DAILY mode, src/data_processor.py:53-59: pass the
        batch-date column). The fold key becomes (product, reset value).
    result_cols : optional subset of (input columns + "quantity") to
        return (r15, guide §4: "pass only the columns the function
        needs" — in BOTH directions). ``applyInPandas`` must ship every
        input column to Python (the fold's sort keys and state live
        there), but the RETURN trip is ours to narrow: a caller that
        only consumes a projection (a5 drops l_shipdate/qty; the retail
        pipeline drops product_name strings, arrival_seq, batch_date...)
        declares it here and the Arrow batches back to the JVM carry
        just those columns. Row set and values are identical — this is
        a projection pushed inside the kernel.

    Returns the input rows plus a ``quantity`` column (fulfilled qty, 0 when
    cancelled), projected to ``result_cols`` when given. A null-qty line
    cancels; the retail pipeline filters them out before depletion, as
    the reference does (src/data_processor.py:278).
    """
    # Attach the per-product opening stock. products is a dim table (36 rows
    # in the reference; dims are small by definition) -> broadcast join, no
    # shuffle of the fact side for the join itself.
    stocked = lines.join(
        F.broadcast(products.select("product_id", F.col(stock_col).alias("__stock"))),
        on="product_id",
        how="inner",
    )

    full_fields = [
        f for f in stocked.schema.fields if f.name != "__stock"
    ] + [T.StructField("quantity", T.IntegerType(), True)]
    if result_cols is not None:
        wanted = set(result_cols)
        missing = wanted - {f.name for f in full_fields}
        if missing:
            raise ValueError(
                f"result_cols not in input+quantity: {sorted(missing)}"
            )
        # keep the caller's requested order
        by_name = {f.name: f for f in full_fields}
        full_fields = [by_name[c] for c in result_cols]
    out_schema = T.StructType(full_fields)
    out_cols = [f.name for f in out_schema.fields]
    key_cols = ["product_id"] + ([reset_col] if reset_col else [])
    sort_cols = [*key_cols, *order_cols]

    def deplete(pdf: pd.DataFrame) -> pd.DataFrame:
        # rows sorted by (fold key, time); per-key segments are located by
        # the sort and each is folded by _fulfilled_qty.
        pdf = pdf.sort_values(sort_cols, kind="mergesort").reset_index(drop=True)
        import numpy as np

        out = np.zeros(len(pdf), dtype="int64")
        if len(pdf):
            # segment boundaries of the sorted key columns — compared on
            # each column's NATIVE dtype (r14: the previous object-dtype
            # cast forced a per-row Python == over every row; native
            # numpy comparison is vectorized and identical for the key
            # types used here — ints, dates, strings)
            change = np.zeros(len(pdf), dtype=bool)
            change[0] = True
            for c in key_cols:
                vals = pdf[c].to_numpy()
                change[1:] |= vals[1:] != vals[:-1]
            bounds = np.nonzero(change)[0].tolist() + [len(pdf)]
            qty_np = (
                pdf[qty_col].fillna(-1).to_numpy("int64")
            )  # null -> -1 -> cancel
            stock_all = pdf["__stock"].to_numpy()
            for lo, hi in zip(bounds[:-1], bounds[1:]):
                out[lo:hi] = _fulfilled_qty(
                    int(stock_all[lo]), qty_np[lo:hi].tolist()
                )
        pdf["quantity"] = out
        return pdf[out_cols]

    # hash-partitioned on the product bucket (operators/bucketed.py);
    # inside each bucket every product's timeline is processed
    # sequentially and independently — identical to one-group-per-product.
    from .bucketed import bucketed_fold

    # min(2 x defaultParallelism, |products|) buckets: each Arrow batch
    # carries many product timelines (one group per product would pay
    # ~0.2 ms x millions of products), the count follows the machine
    # (r14: a fixed 128 cost ~8% at 32 cores vs 64), and buckets beyond
    # the distinct-key count buy no parallelism (r15: retail's 36-product
    # catalog, 2.61 -> 2.30 s under 64 -> 36 buckets). Placement only.
    par = lines.sparkSession.sparkContext.defaultParallelism
    num_buckets = max(1, min(2 * par, _dim_count(products)))
    return bucketed_fold(
        stocked, "product_id", deplete, out_schema, num_buckets=num_buckets
    )
