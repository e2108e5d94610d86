"""warehouse_queries: a round over registered query shapes that have a
DuckDB oracle twin, read-only over a seeded TPC-H-like warehouse. Each
shape's first result in a run is compared with its oracle under the compare
protocol of ``tools/driver_gate.py``."""

from __future__ import annotations

import os
import sys
import time

import gen
from common import median, tail, unit_count

# one timed round: every shape once (the repo records no query mix to weight
# them by), in one fixed stream order with the plan modules interleaved
SHAPES = (
    "pricing_summary", "tpch_q6_forecast_revenue", "shipping_priority_topk",
    "revenue_by_nation", "tpch_q18_large_volume_customers", "distinct_counts",
    "tpch_q9_product_profit", "rollup_returns", "nation_market_share",
    "order_fill_outer", "tpch_q7_volume_shipping", "events_json_extract",
    "customers_without_orders", "tpch_q21_waiting_suppliers",
    "top_orders_per_customer", "customer_running_spend",
)
# nominal length of one round on a 4-core box, cold JVM included
ROUND_S = 16.0
SCALE = 0.01
PLAN_MODULES = ("relational", "tpch", "advanced")
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def deck() -> list[str]:
    """One timed round: every shape once, in one fixed order."""
    return list(SHAPES)


class WarehouseQueries:
    def __init__(self):
        self.lat: list[float] = []
        self.first: dict[str, tuple] = {}   # shape -> (columns, types, rows)
        self.spent = 0.0
        self.sf_dir = None

    def generate(self, ctx) -> None:
        self.sf_dir = ctx.fresh_dir("in", "warehouse")
        gen.make_warehouse(self.sf_dir, ctx.seed, SCALE)

    def install(self, ctx) -> None:
        pass

    def units(self, seconds: float) -> int:
        return unit_count(seconds, ROUND_S)

    def run(self, ctx, rounds: int) -> None:
        from covid_19_data_engineering_spark.plans.registry import all_queries

        qs = all_queries()
        spark, tr = ctx.spark, ctx.tr
        # the first round is each shape's first pass in this JVM (compilation
        # included) and gives the results the check compares with the oracle
        for _ in range(rounds):
            for shape in deck():
                self._one(spark, tr, qs, shape)

    def _one(self, spark, tr, qs, shape: str) -> None:
        builder = qs[shape]
        module = builder.__module__.rsplit(".", 1)[-1]
        tr.unit = {"query": len(self.lat), "shape": shape}
        t0 = time.perf_counter()
        with tr.span(f"plans.{module}.build"):
            df = builder(spark, self.sf_dir)
        with tr.span(f"plans.{module}.exec"):
            rows = df.collect()
        dt = time.perf_counter() - t0
        tr.unit = {}
        self.spent += dt
        self.lat.append(dt)
        if shape not in self.first:
            self.first[shape] = (df.columns, [f.dataType.typeName() for f in df.schema.fields],
                                 rows)

    def check(self, ctx) -> None:
        import duckdb

        from covid_19_data_engineering_spark.plans.registry import all_oracle_sql

        oracles = all_oracle_sql()
        con = duckdb.connect()
        for t in ("region", "nation", "customer", "supplier", "part", "orders",
                  "lineitem", "events"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(self.sf_dir, t + '.parquet')}')")
        for shape, (cols, types, rows) in sorted(self.first.items()):
            ctx.attempted += 1
            problem = compare(spark_frame(cols, types, rows),
                              con.execute(oracles[shape]).fetchdf())
            if problem:
                ctx.fail(f"{shape}: {problem}")
        con.close()

    @property
    def op_lat(self) -> list[float]:
        return self.lat

    def metrics(self, ctx) -> dict:
        t = tail(self.lat)
        return {"query_p50_s": (median(self.lat), "s"),
                "query_tail_s": (t["value"], f"s@p{t['pct']},n={t['n']},beyond={t['beyond']}"),
                "queries": (len(self.lat), "count"),
                "shapes_checked": (len(self.first), "count")}

    def layer_metrics(self, ctx) -> dict:
        tr = ctx.tr
        out = {}
        for m in PLAN_MODULES:
            for phase in ("build", "exec"):
                out[f"plans.{m}.{phase}_s"] = tr.median_s(f"plans.{m}.{phase}")
                out[f"plans.{m}.{phase}.jobs"] = tr.mean_jobs(f"plans.{m}.{phase}")
        return out


_INTEGRAL = {"byte", "short", "integer", "long"}


def spark_frame(cols: list[str], types: list[str], rows: list):
    """Collected rows as the pandas frame ``toPandas()`` would give: an
    integral column holding NULLs becomes float64, as Arrow converts it."""
    import pandas as pd

    df = pd.DataFrame.from_records([tuple(r) for r in rows], columns=cols)
    for c, t in zip(cols, types):
        if t in _INTEGRAL and df[c].isna().any():
            df[c] = df[c].astype("float64")
    return df


def compare(spark_pd, duck_pd) -> str | None:
    """The verdict of ``tools/driver_gate.py`` on one query: None when the
    frames match."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from driver_gate import canon, norm

    spark_pd, duck_pd = norm(spark_pd), norm(duck_pd)
    if sorted(spark_pd.columns) != sorted(duck_pd.columns):
        return f"columns {sorted(spark_pd.columns)} vs {sorted(duck_pd.columns)}"
    if len(spark_pd) != len(duck_pd):
        return f"rows {len(spark_pd)} vs {len(duck_pd)}"
    bad = [(a, b) for a, b in zip(canon(spark_pd), canon(duck_pd)) if a != b]
    if bad:
        return f"{len(bad)} row mismatches; first {bad[0]}"
    return None
