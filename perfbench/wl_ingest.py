"""daily_ingest: each simulated day lands a seeded CSV manifest through
``pipeline.run_daily`` (backup, land, infer, cast, promote, count-validate)
and then snapshots every table into its history with
``lifecycle.snapshot_history``."""

from __future__ import annotations

import os
import time

import gen
from common import dir_bytes, median, tail, unit_count

SCHEMA = "daily"
# nominal length of one day on a 4-core box, cold JVM included
DAY_S = 10.0


class DailyIngest:
    def __init__(self):
        self.days: list[dict] = []       # per day: ledger, seconds
        self.loads: list[float] = []     # per-table load latency
        self.nonempty = 0
        self.nulled = 0
        self.history_rows: dict[str, int] = {}
        self.quarantine_rows: dict[str, int] = {}
        self.csv_bytes = 0
        self.bytes_written = 0
        self._ledger0 = None

    # ------------------------------------------------------------ set-up

    def generate(self, ctx) -> None:
        self._ledger0 = gen.make_ingest_day(ctx.fresh_dir("in", "day0"), ctx.seed, 0)

    def install(self, ctx) -> None:
        from covid_19_data_engineering_spark import inference, lifecycle, pipeline

        tr = ctx.tr
        tr.wrap(pipeline, "run_daily", "pipeline.run_daily")
        tr.wrap(pipeline, "read_csv_landing", "sources.csv.land",
                on_result=lambda rec, out: (out[0], _TimedQuarantine(tr, out[1])))
        tr.wrap(pipeline, "infer_table_schema", "inference.infer")
        tr.wrap(pipeline, "apply_inferred_schema", "inference.apply")

        def sampled(rec, n):
            rec["sampled_rows"] = n
            return n
        tr.wrap(inference, "sample_limit", "inference.sample_limit", on_result=sampled)
        tr.wrap(lifecycle, "write_build_table", "lifecycle.write_build")
        tr.wrap(lifecycle, "promote", "lifecycle.promote")
        tr.wrap(lifecycle, "count_report", "lifecycle.count_report")
        tr.wrap(lifecycle, "snapshot_history", "lifecycle.history")

    # --------------------------------------------------------------- run

    def units(self, seconds: float) -> int:
        return unit_count(seconds, DAY_S)

    def run(self, ctx, days: int) -> None:
        from covid_19_data_engineering_spark import lifecycle, pipeline

        spark = ctx.spark
        backup = ctx.fresh_dir("backup")
        # promote is the last step of each table's load inside run_daily, so
        # the gaps between promote completions are the per-table latencies
        promoted: list[float] = []
        inner_promote = lifecycle.promote

        def stamped(*args, **kwargs):
            out = inner_promote(*args, **kwargs)
            promoted.append(time.perf_counter())
            return out
        lifecycle.promote = stamped
        try:
            for day in range(days):
                ledger = self._ledger0 if day == 0 else gen.make_ingest_day(
                    ctx.fresh_dir("in", f"day{day}"), ctx.seed, day)
                paths = [v["path"] for v in ledger.values()]
                ctx.tr.unit = {"day": day}
                promoted.clear()
                t0 = time.perf_counter()
                results = pipeline.run_daily(spark, paths, schema=SCHEMA, backup_dir=backup)
                for r in results:
                    lifecycle.snapshot_history(spark, SCHEMA, r.table)
                t1 = time.perf_counter()
                prev = t0
                for t in promoted:
                    self.loads.append(t - prev)
                    prev = t
                self.days.append({"ledger": ledger, "s": t1 - t0})
                ctx.tr.unit = {}
                self._check_day(ctx, day, ledger, results)
        finally:
            lifecycle.promote = inner_promote

    # ------------------------------------------------------------ checks

    def _check_day(self, ctx, day: int, ledger: dict, results) -> None:
        """Outside the timed region: landed, prod and quarantined rows and
        every prod cell against the ledger, and the cells the cast turned
        NULL."""
        import pyspark.sql.functions as F

        spark = ctx.spark
        got = {r.table: r for r in results}
        for table, want in ledger.items():
            ctx.attempted += 1
            self.csv_bytes += want["bytes"]
            r = got.get(table)
            if r is None:
                ctx.fail(f"day {day}: {table} not loaded")
                continue
            prod = spark.table(f"{SCHEMA}.{table}")
            cols = [c for c in want["cells"] if c in prod.columns]
            frame = prod.select([F.col(c).cast("string") for c in cols]).toPandas()
            problems, nulled = check_table(want, r.rows_loaded, r.rows_quarantined,
                                           {c: frame[c].tolist() for c in cols})
            for p in problems:
                ctx.fail(f"day {day}: {table}: {p}")
            self.nonempty += sum(want["nonempty"].values())
            self.nulled += nulled
            self.history_rows[table] = self.history_rows.get(table, 0) + want["rows"]
            self.quarantine_rows[table] = self.quarantine_rows.get(table, 0) + want["malformed"]

    def check(self, ctx) -> None:
        """Each history table holds one snapshot per day, each quarantine
        table every malformed row so far."""
        spark = ctx.spark
        for table, rows in sorted(self.history_rows.items()):
            ctx.attempted += 1
            n = spark.table(f"{SCHEMA}.{table}_history").count()
            if n != rows:
                ctx.fail(f"{table}_history has {n} rows, want {rows} ({len(self.days)} snapshots)")
            if self.quarantine_rows[table]:
                q = spark.table(f"{SCHEMA}.{table}_quarantine").count()
                if q != self.quarantine_rows[table]:
                    ctx.fail(f"{table}_quarantine has {q} rows, want {self.quarantine_rows[table]}")
        self.bytes_written = dir_bytes(os.path.join(ctx.work, "warehouse"))

    # ----------------------------------------------------------- metrics

    @property
    def op_lat(self) -> list[float]:
        return self.loads

    @property
    def spent(self) -> float:
        return sum(d["s"] for d in self.days)

    def metrics(self, ctx) -> dict:
        rows = sum(v["rows"] + v["malformed"] for d in self.days for v in d["ledger"].values())
        t = tail(self.loads)
        return {
            "ingest_rows_per_s": (rows / self.spent, "1/s"),
            "table_load_p50_s": (median(self.loads), "s"),
            "table_load_tail_s": (t["value"], f"s@p{t['pct']},n={t['n']},beyond={t['beyond']}"),
            "ingest_cells_nulled_frac": (self.nulled / max(self.nonempty, 1), "fraction"),
            "days": (len(self.days), "count"),
        }

    def layer_metrics(self, ctx) -> dict:
        tr = ctx.tr
        infer_calls = max(len(tr.durations("inference.infer")), 1)
        return {
            "sources.csv.land_s": tr.median_s("sources.csv.land"),
            "sources.csv.land.jobs": tr.mean_jobs("sources.csv.land"),
            "sources.csv.quarantine_s": tr.median_s("sources.csv.quarantine"),
            "sources.csv.quarantine.jobs": tr.mean_jobs("sources.csv.quarantine"),
            "sources.csv.quarantine_rows": float(sum(self.quarantine_rows.values())),
            "inference.infer_s": tr.median_s("inference.infer"),
            "inference.infer.jobs": tr.mean_jobs("inference.infer"),
            "inference.sampled_rows": tr.total("inference.sample_limit", "sampled_rows")
            / infer_calls,
            "inference.cells_nulled": float(self.nulled),
            "lifecycle.write_build_s": tr.median_s("lifecycle.write_build"),
            "lifecycle.write_build.jobs": tr.mean_jobs("lifecycle.write_build"),
            "lifecycle.promote_s": tr.median_s("lifecycle.promote"),
            "lifecycle.promote.jobs": tr.mean_jobs("lifecycle.promote"),
            "lifecycle.history_s": tr.median_s("lifecycle.history"),
            "lifecycle.history.jobs": tr.mean_jobs("lifecycle.history"),
            "lifecycle.count_report_s": tr.median_s("lifecycle.count_report"),
            "lifecycle.count_report.jobs": tr.mean_jobs("lifecycle.count_report"),
            "lifecycle.bytes_written_per_csv_byte": self.bytes_written / max(self.csv_bytes, 1),
            "pipeline.self_s": tr.median_s("pipeline.run_daily", self_time=True),
            "pipeline.run_daily.jobs": tr.mean_jobs("pipeline.run_daily"),
        }


def _as_bool(text: str) -> bool:
    return {"t": True, "true": True, "f": False, "false": False}[text.lower()]


# how a source cell and its typed twin (cast back to text) are compared
_PARSE = {"int": int, "float": float, "bool": _as_bool, "text": str}


def _same(kind: str, source: str, typed: str) -> bool:
    parse = _PARSE[kind]
    try:
        return parse(source) == parse(typed)
    except (ValueError, KeyError):
        return False


def check_table(want: dict, loaded: int, quarantined: int,
                got: dict[str, list]) -> tuple[list[str], int]:
    """Compare one loaded table with its ledger entry. ``got`` maps each
    source column to the prod table's cells cast to text (None for NULL).
    Rows are matched on ``gen.INGEST_KEY``; every non-NULL cell must hold its
    source value. Cells the cast turned NULL are measured, not failed: the
    second value returned counts them. A cell that is non-NULL where the
    source is empty is a failure."""
    problems = []
    if loaded != want["rows"]:
        problems.append(f"loaded {loaded} rows, ledger {want['rows']}")
    if quarantined != want["malformed"]:
        problems.append(f"quarantined {quarantined} rows, ledger {want['malformed']}")
    cells, key = want["cells"], gen.INGEST_KEY
    if key not in got:
        return problems + [f"key column {key} missing"], 0
    if len(got[key]) != want["rows"]:
        problems.append(f"prod holds {len(got[key])} rows, ledger {want['rows']}")
    where = {k: i for i, k in enumerate(got[key])}
    if len(where) != len(got[key]):
        problems.append(f"{len(got[key]) - len(where)} duplicate {key} values")
    src_keys = cells[key]
    missing = [k for k in src_keys if k not in where]
    if missing:
        problems.append(f"{len(missing)} source rows missing; first {key}={missing[0]}")
    nulled = 0
    for c, src in cells.items():
        if c not in got:
            problems.append(f"column {c} missing")
            continue
        kind, col = gen.INGEST_KINDS[c], got[c]
        changed, appeared, first = 0, 0, None
        for k, s in zip(src_keys, src):
            i = where.get(k)
            if i is None:
                continue
            v = col[i]
            if v is None:
                nulled += s != ""
            elif s == "":
                appeared += 1
            elif not _same(kind, s, v):
                changed += 1
                first = first or (k, s, v)
        if appeared:
            problems.append(f"column {c}: {appeared} cells non-NULL where the source is empty")
        if changed:
            problems.append(f"column {c}: {changed} cells differ from the source; "
                            f"first {key}={first[0]}: {first[1]!r} -> {first[2]!r}")
    return problems, nulled


class _TimedQuarantine:
    """The quarantine DataFrame ``read_csv_landing`` returns, with its
    ``count`` and ``write`` (the actions ``run_daily`` takes on it) charged to
    a ``sources.csv.quarantine`` span."""

    def __init__(self, tr, df):
        self._tr, self._df = tr, df

    def __getattr__(self, attr):
        return getattr(self._df, attr)

    def count(self):
        with self._tr.span("sources.csv.quarantine"):
            return self._df.count()

    @property
    def write(self):
        return _TimedWriter(self._tr, self._df.write)


class _TimedWriter:
    def __init__(self, tr, writer):
        self._tr, self._w = tr, writer

    def __getattr__(self, attr):
        inner = getattr(self._w, attr)
        if attr == "saveAsTable":
            def timed(*args, **kwargs):
                with self._tr.span("sources.csv.quarantine"):
                    return inner(*args, **kwargs)
            return timed
        if callable(inner):
            def chained(*args, **kwargs):
                out = inner(*args, **kwargs)
                return _TimedWriter(self._tr, out) if out is not None else out
            return chained
        return inner
