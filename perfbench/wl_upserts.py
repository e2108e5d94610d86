"""versioned_upserts: a seeded CDC stream that leans toward recent keys,
applied to a Bloom-indexed versioned orders table. Each cycle makes one
``merge_versioned`` upsert, point lookups through ``read_versioned(point=)``,
one ``read_versioned(prune=)`` range read and one
``incremental.refresh_sum_aggregate``; ``compact_versioned`` and
``vacuum_versioned`` run every few cycles and after the last one."""

from __future__ import annotations

import os
import time

import numpy as np

import gen
from common import dir_bytes, median, tail, unit_count

N_ROWS = 10_000
N_FILES = 8
BATCH = 100
LOOKUPS = 20
RANGE_WIDTH = 400
MAINTAIN_EVERY = 2
# nominal length of one cycle on a 4-core box
CYCLE_S = 10.0
KEY = "o_orderkey"
SCHEMA = ("o_orderkey long, o_custkey long, o_orderstatus string, "
          "o_price_cents long, o_orderdate date")


class VersionedUpserts:
    def __init__(self):
        self.model: dict[int, tuple] = {}
        self.merge_lat: list[float] = []
        self.lookup_lat: list[float] = []
        self.range_lat: list[float] = []
        self.refresh_lat: list[float] = []
        self.spent = 0.0
        self.upserted = 0
        self.cycles = 0
        self.diag = {"rewritten": [], "bytes_per_update_byte": [], "point_files": [],
                     "range_files": []}
        self.stored_ratio = float("nan")

    def generate(self, ctx) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        rows = gen.make_orders_rows(ctx.seed, N_ROWS)
        src = os.path.join(ctx.fresh_dir("in", "orders"), "orders.parquet")
        pq.write_table(pa.Table.from_pylist([dict(zip(gen.ORDERS_COLS, r)) for r in rows],
                                            schema=pa.schema([
                                                ("o_orderkey", pa.int64()),
                                                ("o_custkey", pa.int64()),
                                                ("o_orderstatus", pa.string()),
                                                ("o_price_cents", pa.int64()),
                                                ("o_orderdate", pa.date32())])), src)
        self.path = ctx.fresh_dir("tables", "orders")
        self.agg_path = os.path.join(ctx.work, "tables", "orders_by_cust")
        self.src = src
        self.model = {r[0]: r for r in rows}

    def install(self, ctx) -> None:
        pass

    def units(self, seconds: float) -> int:
        return unit_count(seconds, CYCLE_S)

    def run(self, ctx, cycles: int) -> None:
        import pyspark.sql.functions as F

        from covid_19_data_engineering_spark.sources import incremental, versioned

        spark, tr = ctx.spark, ctx.tr
        # the initial Bloom-indexed table: timed on its own, outside the loop
        t0 = time.perf_counter()
        with tr.span("versioned.initial_write"):
            versioned.write_versioned(spark.read.parquet(self.src).repartitionByRange(N_FILES, KEY),
                                      self.path, bloom_cols=[KEY])
        self.initial_write_s = time.perf_counter() - t0
        next_key = N_ROWS
        n_cust = max(N_ROWS // 10, 1)
        rng = np.random.default_rng([ctx.seed, 909])
        for cycle in range(cycles):
            batch = gen.make_cdc_batch(ctx.seed, cycle, len(self.model), next_key, BATCH, n_cust)
            updates = spark.createDataFrame(batch, SCHEMA)
            next_key += BATCH // 10
            tr.unit = {"cycle": cycle}
            before = dir_bytes(self.path, skip=("_log",))
            t0 = time.perf_counter()
            with tr.span("versioned.merge"):
                versioned.merge_versioned(spark, self.path, updates, key=KEY)
            self._spend(self.merge_lat, t0)
            for r in batch:
                self.model[r[0]] = r
            self.upserted += len(batch)
            if tr.enabled:
                self._diagnose_merge(versioned, before, len(batch))

            for k in gen.lookup_keys(ctx.seed, cycle, [r[0] for r in batch], len(self.model),
                                     LOOKUPS):
                t0 = time.perf_counter()
                with tr.span("versioned.lookup"):
                    got = versioned.read_versioned(spark, self.path, point={KEY: k}) \
                        .where(F.col(KEY) == k).collect()
                self._spend(self.lookup_lat, t0)
                self._check_rows(ctx, f"cycle {cycle} lookup {k}", got,
                                 [self.model[k]] if k in self.model else [])
                if tr.enabled:
                    self.diag["point_files"].append(len(versioned.snapshot_pruned_files(
                        self.path, versioned.current_version(self.path), point={KEY: k})))

            lo = int(rng.integers(0, next_key - RANGE_WIDTH))
            hi = lo + RANGE_WIDTH - 1
            t0 = time.perf_counter()
            with tr.span("versioned.range_read"):
                got = versioned.read_versioned(spark, self.path, prune={KEY: (lo, hi)}) \
                    .where(F.col(KEY).between(lo, hi)).collect()
            self._spend(self.range_lat, t0)
            self._check_rows(ctx, f"cycle {cycle} range {lo}..{hi}", got,
                             [self.model[k] for k in range(lo, hi + 1) if k in self.model])
            if tr.enabled:
                self.diag["range_files"].append(len(versioned.snapshot_pruned_files(
                    self.path, versioned.current_version(self.path), prune={KEY: (lo, hi)})))

            t0 = time.perf_counter()
            with tr.span("incremental.refresh"):
                incremental.refresh_sum_aggregate(spark, self.path, self.agg_path,
                                                  "o_custkey", "o_price_cents")
            self._spend(self.refresh_lat, t0)

            if cycle % MAINTAIN_EVERY == MAINTAIN_EVERY - 1 or cycle == cycles - 1:
                t0 = time.perf_counter()
                with tr.span("versioned.compact"):
                    versioned.compact_versioned(spark, self.path, target_files=N_FILES)
                with tr.span("versioned.vacuum"):
                    versioned.vacuum_versioned(self.path, keep_versions=2, retention_s=0.0)
                self.spent += time.perf_counter() - t0
            tr.unit = {}
        self.cycles = cycles

    def _spend(self, lat: list[float], t0: float) -> None:
        dt = time.perf_counter() - t0
        lat.append(dt)
        self.spent += dt

    def _diagnose_merge(self, versioned, before: int, n_rows: int) -> None:
        hist = versioned.table_history(self.path)[0]
        self.diag["rewritten"].append(hist["n_removed"])
        live = dir_bytes(self.path, skip=("_log",))
        snap = versioned.snapshot_pruned_files(self.path, hist["version"])
        snap_bytes = sum(os.path.getsize(os.path.join(self.path, f)) for f in snap)
        row_bytes = snap_bytes / max(len(self.model), 1)
        self.diag["bytes_per_update_byte"].append((live - before) / max(row_bytes * n_rows, 1))

    def _check_rows(self, ctx, what: str, got, want: list[tuple]) -> None:
        ctx.attempted += 1
        problem = compare_rows([tuple(r) for r in got], want)
        if problem:
            ctx.fail(f"{what}: {problem}")

    def check(self, ctx) -> None:
        """The final table equals a replay of the stream, and the maintained
        aggregate equals a fresh one over the replay."""
        from covid_19_data_engineering_spark.sources import versioned

        spark = ctx.spark
        self._check_rows(ctx, "final table", versioned.read_versioned(spark, self.path).collect(),
                         list(self.model.values()))
        want: dict[int, list[int]] = {}
        for r in self.model.values():
            n, s = want.get(r[1], (0, 0))
            want[r[1]] = (n + 1, s + r[3])
        got = versioned.read_versioned(spark, self.agg_path).collect()
        self._check_rows(ctx, "refreshed aggregate",
                         [(r["o_custkey"], r["n_rows"], r["sum_value"]) for r in got],
                         [(k, n, s) for k, (n, s) in want.items()])
        live = sum(os.path.getsize(os.path.join(self.path, f)) for f in
                   versioned.snapshot_pruned_files(self.path, versioned.current_version(self.path)))
        self.stored_ratio = dir_bytes(self.path) / max(live, 1)

    @property
    def op_lat(self) -> list[float]:
        return self.lookup_lat

    def metrics(self, ctx) -> dict:
        t = tail(self.lookup_lat)
        return {"merge_p50_s": (median(self.merge_lat), "s"),
                "lookup_p50_s": (median(self.lookup_lat), "s"),
                "lookup_tail_s": (t["value"], f"s@p{t['pct']},n={t['n']},beyond={t['beyond']}"),
                "range_read_p50_s": (median(self.range_lat), "s"),
                "refresh_p50_s": (median(self.refresh_lat), "s"),
                "stored_bytes_per_live_byte": (self.stored_ratio, "ratio"),
                "initial_write_s": (self.initial_write_s, "s"),
                "cycles": (self.cycles, "count")}

    def layer_metrics(self, ctx) -> dict:
        tr = ctx.tr
        mean = lambda xs: float(np.mean(xs)) if xs else 0.0  # noqa: E731
        return {
            "versioned.merge_s": tr.median_s("versioned.merge"),
            "versioned.merge.jobs": tr.mean_jobs("versioned.merge"),
            "versioned.files_rewritten_per_merge": mean(self.diag["rewritten"]),
            "versioned.bytes_written_per_update_byte": mean(self.diag["bytes_per_update_byte"]),
            "versioned.lookup_s": tr.median_s("versioned.lookup"),
            "versioned.lookup.jobs": tr.mean_jobs("versioned.lookup"),
            "versioned.files_per_point_lookup": mean(self.diag["point_files"]),
            "versioned.range_read_s": tr.median_s("versioned.range_read"),
            "versioned.files_per_range_read": mean(self.diag["range_files"]),
            "versioned.compact_s": tr.median_s("versioned.compact"),
            "versioned.vacuum_s": tr.median_s("versioned.vacuum"),
            "incremental.refresh_s": tr.median_s("incremental.refresh"),
            "incremental.refresh.jobs": tr.mean_jobs("incremental.refresh"),
        }


def compare_rows(got: list[tuple], want: list[tuple]) -> str | None:
    """Multiset equality of row tuples; None when equal."""
    g, w = sorted(got), sorted(want)
    if g == w:
        return None
    if len(g) != len(w):
        return f"{len(g)} rows, want {len(w)}"
    diff = [(a, b) for a, b in zip(g, w) if a != b]
    return f"{len(diff)} rows differ; first {diff[0]}"
