"""The benchmark workloads: warm-up, cold timed unit, check, traced unit.

A *unit* is the work a user pays for: the staged pipeline plus a stream drain
of the same corpus, or a pass over the pinned registry queries. Every unit starts cold:
tracked caches dropped, the session cache cleared, fresh lake/output/
checkpoint directories. An *operation* is a stage, a query or an epoch; an
operation that raises, or whose output fails its check, counts as failed.
"""

from __future__ import annotations

import os
import random
import shutil
import sys
import time
import traceback
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import Observation
from pyspark.sql import functions as F

import probes
import retail_corpus
import tables

from bench import _run_full
from retail_data_pipeline_and_forecasting_system_spark import caching


@dataclass
class Op:
    name: str
    seconds: float
    ok: bool = True


@dataclass
class Unit:
    wall_s: float
    ops: list[Op] = field(default_factory=list)
    parts: dict[str, float] = field(default_factory=dict)


@dataclass
class Ctx:
    spark: object
    seed: int
    cache_dir: str  # generated inputs, kept across runs
    work_dir: str  # per-run scratch, removed at exit
    _n: int = 0

    def fresh_dir(self, name: str) -> str:
        self._n += 1
        path = os.path.join(self.work_dir, f"{name}-{self._n}")
        os.makedirs(path)
        return path


#: nominal seconds of one warm unit of either workload on 4 vCPUs; --seconds
#: buys one timed unit per UNIT_S
UNIT_S = 10.0


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def cold(spark) -> None:
    caching.drop_stale()
    spark.catalog.clearCache()


def _median(xs):
    return float(np.median(xs)) if len(xs) else 0.0


# ---------------------------------------------------------------- retail


class Retail:
    """The paper's daily batch over one seeded corpus, run both ways.

    A unit is the ``plans.staged`` DAG (ingest -> process -> report +
    forecast, Parquet handoff) followed by a
    ``streaming.inventory_stream.run_available_now`` drain of the same day
    files, one file per epoch. Both must reproduce the corpus's independent
    expectation; operations are the three stages and every epoch.
    """

    name = "retail"
    DAYS, TXNS_PER_DAY = 3, 5000

    def __init__(self, ctx: Ctx, listener: probes.EpochListener):
        self.ctx = ctx
        self.listener = listener
        self.corpus = retail_corpus.ensure_corpus(
            ctx.cache_dir, ctx.seed, self.DAYS, self.TXNS_PER_DAY)
        self.gen_s = self.corpus.gen_s
        self.expect = retail_corpus.load_expectation(self.corpus.expect_path)
        self.last_progress: list[dict] = []

    def warm(self) -> None:
        """One full-size unit: the JIT is still settling after a small one.

        A second warm unit would buy less here than in the registry (the
        unit after it runs only ~7 % faster) and costs ~12 s of every run.
        """
        for run in (self._staged, self._drain):
            _, work = run(self.corpus)
            shutil.rmtree(work, ignore_errors=True)

    def unit(self) -> Unit:
        batch, work = self._staged(self.corpus)
        if batch.ops[-1].ok:
            bad = check_retail_csvs(os.path.join(work, "output"), self.corpus.products_csv,
                                    self.expect)
            if bad:
                log(f"retail batch output mismatch: {bad}")
                batch.ops[-1].ok = False
        shutil.rmtree(work, ignore_errors=True)
        stream, work = self._drain(self.corpus)
        if stream.ops[-1].ok:
            bad, _ = self._check_stream(os.path.join(work, "out"))
            if bad:
                log(f"retail stream output mismatch: {bad}")
                stream.ops[-1].ok = False
        shutil.rmtree(work, ignore_errors=True)
        return Unit(batch.wall_s + stream.wall_s, batch.ops + stream.ops,
                    {"stream.drain_s": stream.wall_s})

    def _staged(self, corpus) -> tuple[Unit, str]:
        from retail_data_pipeline_and_forecasting_system_spark.plans import staged

        spark = self.ctx.spark
        work = self.ctx.fresh_dir("staged")
        lake, out = os.path.join(work, "lake"), os.path.join(work, "output")
        stages = [
            ("ingest", staged.stage_ingest, (spark, corpus.customers_csv,
                                             corpus.products_csv,
                                             corpus.transactions_glob, lake)),
            ("process", staged.stage_process, (spark, lake)),
            ("report", staged.stage_report, (spark, lake, out)),
        ]
        cold(spark)
        unit = Unit(0.0)
        t0 = time.perf_counter()
        for name, fn, args in stages:
            if unit.ops and not unit.ops[-1].ok:
                unit.ops.append(Op(name, 0.0, ok=False))
                continue
            s0 = time.perf_counter()
            try:
                fn(*args)
                unit.ops.append(Op(name, time.perf_counter() - s0))
            except Exception:
                traceback.print_exc()
                unit.ops.append(Op(name, time.perf_counter() - s0, ok=False))
        unit.wall_s = time.perf_counter() - t0
        return unit, work

    def _drain(self, corpus) -> tuple[Unit, str]:
        from retail_data_pipeline_and_forecasting_system_spark.streaming.inventory_stream import (
            run_available_now)

        spark = self.ctx.spark
        work = self.ctx.fresh_dir("stream")
        p = pd.read_csv(corpus.products_csv)
        stock = dict(zip(p.product_id.astype(int).tolist(), p.stock.astype(int).tolist()))
        cold(spark)
        seen = self.listener.count()
        t0 = time.perf_counter()
        try:
            run_available_now(spark, corpus.transactions_glob, stock,
                              os.path.join(work, "ckpt"), os.path.join(work, "out"))
        except Exception:
            traceback.print_exc()
            return Unit(time.perf_counter() - t0, [Op("drain", 0.0, ok=False)]), work
        wall = time.perf_counter() - t0
        self.last_progress = self.listener.wait_next(seen)
        ops = [Op(f"epoch:{p['batch_id']}", p["duration_ms"].get("triggerExecution", 0) / 1e3)
               for p in self.last_progress]
        if len(ops) != len(corpus.day_files):
            log(f"retail stream: {len(ops)} epochs for {len(corpus.day_files)} files")
            ops.append(Op("epochs", 0.0, ok=False))
        return Unit(wall, ops), work

    def _check_stream(self, out: str) -> tuple[list[str], float]:
        """Fulfilled quantity of every line vs the expectation; cancel ratio."""
        got = pd.read_parquet(out, columns=["transaction_id", "line_pos", "quantity"])
        mine = got.to_numpy(np.int64)
        want = np.stack([self.expect["order_id"], self.expect["line_pos"],
                         self.expect["quantity"]], axis=1)
        mine = mine[np.lexsort(mine.T[:2][::-1])]
        want = want[np.lexsort(want.T[:2][::-1])]
        ok = mine.shape == want.shape and (mine == want).all()
        return ([] if ok else ["fulfilled quantities"]), float((got.quantity == 0).mean())

    def layer_timings(self, units: list[Unit]) -> dict[str, float]:
        """Per-layer figures the untraced units give for free: stages, drain."""
        out = {
            f"staged.{s}_s": _median([o.seconds for u in units for o in u.ops if o.name == s])
            for s in ("ingest", "process", "report")
        }
        out["stream.drain_s"] = _median([u.parts["stream.drain_s"] for u in units])
        out["stream.epoch_p50_s"] = _median(
            [o.seconds for u in units for o in u.ops if o.name.startswith("epoch:")])
        return out

    def traced(self, tracer: probes.Tracer, sql: probes.SqlMetrics) -> tuple[Unit, dict]:
        with tracer.span("retail.unit"):
            batch, m = self._traced_batch(tracer, sql)
            stream, ms = self._traced_stream(tracer, sql)
        m.update(ms)
        return Unit(batch.wall_s + stream.wall_s, batch.ops + stream.ops), m

    def _traced_batch(self, tracer, sql) -> tuple[Unit, dict]:
        """Each layer's input is persisted first, so a span is that layer's work."""
        from retail_data_pipeline_and_forecasting_system_spark.forecast import (
            forecast_sales_and_profits)
        from retail_data_pipeline_and_forecasting_system_spark.plans import retail
        from retail_data_pipeline_and_forecasting_system_spark.sources import (
            read_products_csv, read_transactions_json, write_single_csv)
        from retail_data_pipeline_and_forecasting_system_spark.sources.writers import (
            write_partitioned_parquet)

        spark, corpus = self.ctx.spark, self.corpus
        work = self.ctx.fresh_dir("traced")
        lake, out = os.path.join(work, "lake"), os.path.join(work, "output")
        held = []

        def layer(name, *dfs):
            """Force ``dfs`` inside a span; they stay persisted as the next
            layer's input, so no later span recomputes this layer's work."""
            for df in dfs:
                held.append(df.persist())
            mark = sql.mark()
            with tracer.span(name) as sp:
                for df in dfs:
                    _run_full(df)
            sp.attrs.update(probes.summarize(sql.since(mark)))
            return sp.end - sp.start, sp.attrs

        cold(spark)
        m: dict[str, float] = {}
        t0 = time.perf_counter()
        with tracer.span("plans.staged (layer by layer)"):
            raw = read_transactions_json(spark, corpus.transactions_glob)
            products = read_products_csv(spark, corpus.products_csv)
            m["sources.read_json_s"], _ = layer("sources.read_json", raw, products)
            lines = retail.explode_transactions(raw)
            m["plans.retail.explode_s"], ex = layer("plans.retail.explode", lines)
            processed = retail.process_lines(lines, products, process_order="arrival")
            m["operators.depletion.fold_s"], fold = layer("operators.depletion.fold", processed)
            orders = retail.build_orders(processed)
            outputs = {
                "order_line_items": retail.build_order_line_items(processed),
                "orders": orders,
                "daily_summary": retail.build_daily_summary(
                    orders,
                    processed.withColumn("date", F.to_date("timestamp")).select(
                        "date", "product_id", "quantity"),
                    products,
                ),
                "products_updated": retail.build_products_updated(processed, products),
            }
            m["plans.retail.outputs_s"], outs = layer("plans.retail.outputs", *outputs.values())
            with tracer.span("sources.writers.write") as sp:
                for name, df in outputs.items():
                    write_partitioned_parquet(df, os.path.join(lake, name))
                    write_single_csv(df, out, f"{name}.csv")
            m["sources.writers.write_s"] = sp.end - sp.start
            with tracer.span("forecast.fit_predict") as sp:  # collects and fits eagerly
                forecast = forecast_sales_and_profits(spark, outputs["daily_summary"])
                _run_full(forecast)
            m["forecast.fit_predict_s"] = sp.end - sp.start
            write_single_csv(forecast, out, "sales_profit_forecast.csv")
            counts = retail.processing_metrics(processed)
        wall = time.perf_counter() - t0

        in_bytes = sum(os.path.getsize(f) for f in corpus.day_files)
        m["sources.writers.bytes_written_per_input_byte"] = _dir_bytes(work) / in_bytes
        m["plans.retail.exchanges"] = ex["exchanges"] + fold["exchanges"] + outs["exchanges"]
        m["plans.retail.shuffle_bytes"] = (
            ex["shuffle_bytes"] + fold["shuffle_bytes"] + outs["shuffle_bytes"])
        m.update(_depletion_metrics(fold))
        attempted = counts["cancelled_lines"] + counts["fulfilled_lines"]
        m["operators.depletion.cancel_ratio"] = counts["cancelled_lines"] / attempted
        bad = check_retail_csvs(out, corpus.products_csv, self.expect)
        if bad:
            log(f"retail traced batch output mismatch: {bad}")
        for df in held:
            df.unpersist()
        shutil.rmtree(work, ignore_errors=True)
        return Unit(wall, [Op("traced batch", wall, ok=not bad)]), m

    def _traced_stream(self, tracer, sql) -> tuple[Unit, dict]:
        mark = sql.mark()
        with tracer.span("streaming.inventory_stream.run_available_now") as sp:
            unit, work = self._drain(self.corpus)
        s = probes.summarize(sql.since(mark))
        sp.attrs.update(s, epochs=self.last_progress)
        if unit.ops[-1].ok:
            bad, _ = self._check_stream(os.path.join(work, "out"))
            unit.ops[-1].ok = not bad
        shutil.rmtree(work, ignore_errors=True)
        prog = self.last_progress
        d = [p["duration_ms"] for p in prog]
        return unit, {
            "stream.add_batch_ms": _median([x.get("addBatch", 0) for x in d]),
            "stream.commit_ms": _median([x.get("walCommit", 0) + x.get("commitOffsets", 0)
                                         for x in d]),
            "stream.state_rows": float(prog[-1]["state_rows"]) if prog else 0.0,
            "stream.state_memory_bytes": float(max((p["state_memory_bytes"] for p in prog),
                                                   default=0)),
            "stream.python_ms": s["python_ms"],
            "stream.shuffle_bytes": s["shuffle_bytes"],
        }


def _depletion_metrics(s: dict) -> dict[str, float]:
    return {
        "operators.depletion.python_ms": s["python_ms"],
        "operators.depletion.python_boot_ms": s["python_boot_ms"],
        "operators.depletion.bytes_to_python": s["bytes_to_python"],
        "operators.depletion.bytes_from_python": s["bytes_from_python"],
        "operators.depletion.tasks": s["python_tasks"],
    }


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def check_retail_csvs(out: str, products_csv: str, exp: dict) -> list[str]:
    """Contract CSVs vs the independent expectation and FIXTURES.md 1-4."""
    bad = []
    try:
        oli = pd.read_csv(os.path.join(out, "order_line_items.csv"))
        orders = pd.read_csv(os.path.join(out, "orders.csv"))
        daily = pd.read_csv(os.path.join(out, "daily_summary.csv"))
        upd = pd.read_csv(os.path.join(out, "products_updated.csv"))
        fc = pd.read_csv(os.path.join(out, "sales_profit_forecast.csv"))
    except (OSError, pd.errors.ParserError) as e:
        return [f"unreadable output: {e}"]
    products = pd.read_csv(products_csv)

    # every line's fulfilled quantity, as a multiset of (order, product, qty)
    mine = oli[["order_id", "product_id", "quantity"]].to_numpy(np.int64)
    want = np.stack([exp["order_id"], exp["product_id"], exp["quantity"]], axis=1)
    mine = mine[np.lexsort(mine.T[::-1])]
    want = want[np.lexsort(want.T[::-1])]
    if mine.shape != want.shape or not (mine == want).all():
        bad.append("line quantities")
    if int((oli.quantity == 0).sum()) != int(exp["cancelled"]):
        bad.append("cancelled lines")

    # products_updated and invariant 1
    upd = upd.sort_values("product_id")
    if not (upd.current_stock.to_numpy() == exp["current_stock"]).all():
        bad.append("current_stock")
    used = oli.groupby("product_id").quantity.sum().reindex(products.product_id, fill_value=0)
    if not ((products.stock.to_numpy() - used.to_numpy()) == upd.current_stock.to_numpy()).all() \
            or (upd.current_stock < 0).any():
        bad.append("invariant 1")

    # invariant 2: num_items counts every line, cancelled ones too
    n_lines = oli.groupby("order_id").size().reindex(orders.order_id, fill_value=-1)
    if not (n_lines.to_numpy() == orders.num_items.to_numpy()).all():
        bad.append("invariant 2")

    # invariant 3 and the order count
    if not (len(orders) == int(daily.num_orders.sum()) == int(exp["num_orders"])):
        bad.append("invariant 3 / order count")
    if not (daily.num_orders.to_numpy() == exp["day_orders"]).all():
        bad.append("daily num_orders")

    # invariant 4: line_total = qty x price (2 dp); total_amount = sum line_total
    if not np.allclose(oli.line_total, np.round(oli.quantity * oli.unit_price, 2), atol=0.005):
        bad.append("invariant 4 (line_total)")
    tot = oli.groupby("order_id").line_total.sum().reindex(orders.order_id)
    if not np.allclose(tot.to_numpy(), orders.total_amount.to_numpy(), atol=0.005):
        bad.append("invariant 4 (total_amount)")

    # daily sales and profit against the expectation (money +-0.01)
    if not np.allclose(daily.total_sales, exp["day_sales_c"] / 100.0, atol=0.01):
        bad.append("daily total_sales")
    profit = (exp["day_sales_c"] - exp["day_cost_c"]) / 100.0
    if not np.allclose(daily.total_profit, profit, atol=0.01):
        bad.append("daily total_profit")

    # forecast: one row for the day after the last business day
    last = pd.Timestamp(exp["first_day"].item()) + pd.Timedelta(days=len(exp["day_orders"]) - 1)
    if len(fc) != 1 or pd.Timestamp(fc.date[0]) != last + pd.Timedelta(days=1) \
            or not np.isfinite(fc[["forecasted_sales", "forecasted_profit"]].to_numpy()).all():
        bad.append("forecast")
    return bad


# ---------------------------------------------------------------- registry


#: the registry entries the benchmark pins (those flagged bench=True when
#: the benchmark was defined); a renamed or removed entry fails the run
PINNED = (
    "x7_corpus_curation", "j6_range_join", "s2_parallel_digest",
    "j1_join_inner_broadcast", "q1_pricing_summary", "a1_orders_rollup",
    "a2_daily_summary", "a5_inventory_depletion", "e2_sessionize",
    "d1_dedup_exact", "d3_minhash_lsh", "n1_ann_bruteforce", "x5_tfidf",
    "w4_window_pack", "n3_ann_ivf", "q3_shipping_priority", "q10_returned_items",
)


class Registry:
    """plans.analytics: one cold pass over the pinned queries, seeded order."""

    name = "registry"
    SF = 0.01

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.dir, self.gen_s = tables.ensure_tables(ctx.cache_dir, ctx.seed, self.SF)
        self.order = list(PINNED)
        random.Random(ctx.seed).shuffle(self.order)
        self.verified: dict[str, tuple[int, int] | None] = {}

    def _df(self, name: str):
        from retail_data_pipeline_and_forecasting_system_spark.plans.analytics import QUERIES

        return QUERIES[name].fn(self.ctx.spark, self.dir)

    @staticmethod
    def _observed(df):
        obs = Observation()
        return obs, df.observe(
            obs,
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("digest"),
        )

    def warm(self) -> list[Op]:
        """Oracle check of every pinned query, then one plain pass (untimed).

        The check compares against the entry's DuckDB oracle with
        test_oracle_parity's rules and records the (rows, digest) every later
        pass must reproduce. The plain pass is there because the pass after
        the first still runs 1.1-1.6x slow and uneven: on 4 vCPUs the JIT
        spends about 1.5 cores compiling during it. Timed passes come after.
        """
        import duckdb
        sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "tests"))
        from test_oracle_parity import _compare, _normalize

        from retail_data_pipeline_and_forecasting_system_spark.plans.analytics import QUERIES

        con = duckdb.connect()
        for t in tables.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.dir}/{t}.parquet'")
        ops = []
        for name in self.order:
            cold(self.ctx.spark)
            t0 = time.perf_counter()
            try:
                obs, df = self._observed(self._df(name))
                mine = _normalize(df.toPandas())
                _compare(mine, _normalize(con.execute(QUERIES[name].sql).df()), name)
                got = obs.get
                self.verified[name] = (int(got["rows"]), int(got["digest"] or 0))
                ops.append(Op(f"oracle:{name}", time.perf_counter() - t0))
            except Exception:
                traceback.print_exc()
                self.verified[name] = None
                ops.append(Op(f"oracle:{name}", time.perf_counter() - t0, ok=False))
        con.close()
        return ops + self.unit().ops

    def _query(self, name: str) -> Op:
        cold(self.ctx.spark)
        t0 = time.perf_counter()
        try:
            obs, df = self._observed(self._df(name))
            rows = _run_full(df)
            dt = time.perf_counter() - t0
            got = obs.get
            ok = self.verified.get(name) == (rows, int(got["digest"] or 0))
            if not ok:
                log(f"{name}: (rows, digest) differs from the verified run")
            return Op(name, dt, ok)
        except Exception:
            traceback.print_exc()
            return Op(name, time.perf_counter() - t0, ok=False)

    def unit(self) -> Unit:
        ops = [self._query(name) for name in self.order]
        return Unit(sum(o.seconds for o in ops), ops)

    def layer_timings(self, units: list[Unit]) -> dict[str, float]:
        out = {
            f"analytics.{q}_s": _median([o.seconds for u in units for o in u.ops if o.name == q])
            for q in PINNED
        }
        out["analytics.query_p50_s"] = _median([o.seconds for u in units for o in u.ops])
        return out

    def traced(self, tracer: probes.Tracer, sql: probes.SqlMetrics) -> tuple[Unit, dict]:
        m: dict[str, float] = {"caching.live_after_query": 0.0}
        ops = []
        with tracer.span("registry.unit"):
            for name in self.order:
                mark = sql.mark()
                with tracer.span(f"analytics.{name}") as sp:
                    ops.append(self._query(name))
                m["caching.live_after_query"] += len(caching._LIVE)
                s = probes.summarize(sql.since(mark))
                sp.attrs.update(s)
                m[f"analytics.{name}.shuffle_bytes"] = s["shuffle_bytes"]
                if name == "a5_inventory_depletion":  # the one pinned Python stage
                    m[f"analytics.{name}.python_ms"] = s["python_ms"]
                    m.update(_depletion_metrics(s))
        return Unit(sum(o.seconds for o in ops), ops), m
