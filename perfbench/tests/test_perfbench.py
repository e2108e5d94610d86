"""Tests for the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import metrics  # noqa: E402
from common import percentile, tail  # noqa: E402
from spans import Tracer  # noqa: E402
from wl_curation import CorpusCuration, check_manifest  # noqa: E402
from combined import WORKLOADS, curation_upserts, ingest_queries  # noqa: E402
from wl_ingest import DailyIngest, check_table  # noqa: E402
from wl_queries import WarehouseQueries, compare, deck, spark_frame  # noqa: E402
from wl_upserts import VersionedUpserts, compare_rows  # noqa: E402


def _read_dir(d):
    return {f: open(os.path.join(d, f), "rb").read() for f in sorted(os.listdir(d))}


# ------------------------------------------------------------ generators

def test_ingest_day_deterministic_and_seeded(tmp_path):
    a = gen.make_ingest_day(str(tmp_path / "a"), 7, 0)
    b = gen.make_ingest_day(str(tmp_path / "b"), 7, 0)
    c = gen.make_ingest_day(str(tmp_path / "c"), 8, 0)
    assert _read_dir(tmp_path / "a") == _read_dir(tmp_path / "b")
    assert _read_dir(tmp_path / "a") != _read_dir(tmp_path / "c")
    assert {k: v["rows"] for k, v in a.items()} == {k: v["rows"] for k, v in b.items()}
    assert sum(v["malformed"] for v in a.values()) > 0


def test_ingest_day_covers_every_inference_label(tmp_path):
    from covid_19_data_engineering_spark.inference import (
        classify_value,
        resolve_column_type,
        sample_limit,
    )

    led = gen.make_ingest_day(str(tmp_path), 3, 0)
    path = led["encounters"]["path"]
    lines = open(path).read().splitlines()
    header = lines[0].split(",")
    assert led["encounters"]["rows"] + led["encounters"]["malformed"] > 10_000
    assert sample_limit(led["encounters"]["rows"]) == gen.SAMPLED_PREFIX
    prefix = [ln.split(",") for ln in lines[1:gen.SAMPLED_PREFIX + 1]]
    types = {c: resolve_column_type({classify_value(r[i]) for r in prefix if r[i]})
             for i, c in enumerate(header)}
    assert set(types.values()) >= {"text", "smallint", "integer", "bigint", "numeric",
                                   "boolean", "date", "timestamp"}
    # the sampled prefix says smallint, the rest of the column passes 32767
    assert types["row_id"] == "smallint"
    assert int(lines[-1].split(",")[0]) > 32767
    assert set(gen.INGEST_KINDS) == set(header)
    keys = led["encounters"]["cells"][gen.INGEST_KEY]
    assert len(set(keys)) == len(keys) == led["encounters"]["rows"]


def test_warehouse_deterministic_and_seeded(tmp_path):
    gen.make_warehouse(str(tmp_path / "a"), 1, 0.001)
    gen.make_warehouse(str(tmp_path / "b"), 1, 0.001)
    gen.make_warehouse(str(tmp_path / "c"), 2, 0.001)
    a, b, c = (pd.read_parquet(tmp_path / d / "lineitem.parquet") for d in "abc")
    assert a.equals(b) and not a.equals(c)


def test_corpus_shard_deterministic_and_seeded(tmp_path):
    a = gen.make_corpus_shard(str(tmp_path / "a"), 1, 0, 100, 60)
    b = gen.make_corpus_shard(str(tmp_path / "b"), 1, 0, 100, 60)
    c = gen.make_corpus_shard(str(tmp_path / "c"), 2, 0, 100, 60)
    assert a["exact_pairs"] == b["exact_pairs"] and a["near_pairs"] == b["near_pairs"]
    da, db, dc = (pd.read_parquet(tmp_path / d / "documents.parquet") for d in "abc")
    assert da.equals(db) and not da.equals(dc)
    assert a["exact_pairs"] and a["near_pairs"] and a["vec_pairs"]


def test_cdc_stream_deterministic_seeded_and_recent_leaning():
    a = gen.make_cdc_batch(1, 0, 20_000, 20_000, 200, 2000)
    b = gen.make_cdc_batch(1, 0, 20_000, 20_000, 200, 2000)
    c = gen.make_cdc_batch(2, 0, 20_000, 20_000, 200, 2000)
    assert a == b and a != c
    keys = [r[0] for r in a]
    assert len(set(keys)) == len(keys)
    assert sum(k >= 19_000 for k in keys) > len(keys) // 2
    assert gen.make_orders_rows(1, 50) == gen.make_orders_rows(1, 50)


def test_query_round_runs_every_shape_once():
    from wl_queries import SHAPES

    assert deck() == list(SHAPES) and len(set(SHAPES)) == len(SHAPES)


def test_unit_counts_depend_only_on_seconds():
    from common import unit_count

    assert unit_count(10, 5.0, least=2) == 2 and unit_count(30, 5.0, least=2) == 6
    assert unit_count(1, 16.0) == 1
    for cls in (DailyIngest, WarehouseQueries, CorpusCuration, VersionedUpserts):
        assert cls().units(10) == cls().units(10) >= 1
    assert curation_upserts().units(10) == [1, 1] and ingest_queries().units(10) == [1, 1]


# ---------------------------------------------------------------- metrics

def _bench():
    return json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def test_benchmark_json_matches_the_catalogue():
    bj = _bench()
    assert [m["name"] for m in bj["end_to_end"]] == list(metrics.END_TO_END)
    for m in bj["end_to_end"]:
        assert (m["unit"], m["better"], m["bound"]) == metrics.END_TO_END[m["name"]]
    assert [(m["name"], m["unit"], m["better"]) for m in bj["per_layer"]] == \
        [p[:3] for p in metrics.PER_LAYER]
    setup = next(m for m in bj["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in bj["end_to_end"])


class _Ctx:
    def __init__(self):
        self.tr = Tracer(enabled=True)


@pytest.mark.parametrize("make", WORKLOADS.values())
def test_every_printed_metric_is_declared(make):
    wl = make()
    declared = {m[0] for m in metrics.PER_LAYER}
    assert set(wl.layer_metrics(_Ctx())) <= declared
    assert {"session.start_s", "trace.spans", "trace.overhead_s", "trace.op_p50_s"} <= declared


def test_every_layer_is_measured_by_a_listed_workload():
    listed = {w["name"] for w in _bench()["workloads"]}
    assert listed == set(metrics.ALL) == set(WORKLOADS)
    by_layer = {}
    for name, _, _, layer, _, workload in metrics.PER_LAYER:
        by_layer.setdefault(layer, set()).add(workload)
    for layer in ("session", "sources.csv", "inference", "lifecycle", "pipeline",
                  "plans.relational", "plans.tpch", "plans.advanced", "sources.versioned",
                  "sources.incremental", "operators.curation", "operators.clustering",
                  "operators.semdedup", "operators.similarity"):
        assert by_layer[layer] <= listed | {"all"}, layer
    for name, make in WORKLOADS.items():
        mine = {m[0] for m in metrics.PER_LAYER if m[5] == name}
        assert mine <= set(make().layer_metrics(_Ctx())), name


def test_end_to_end_metrics_are_declared():
    wl = ingest_queries()
    ing, qry = wl.parts
    ing.days = [{"ledger": {"t": {"rows": 10, "malformed": 1}}, "s": 3.0}]
    ing.loads = [1.0, 2.0]
    qry.lat, qry.spent = [0.5, 0.7, 0.9], 2.1
    e2e, side = wl.metrics(None)
    assert set(e2e) | {"setup_s"} == set(metrics.END_TO_END)
    assert e2e["op_p50_s"] == 0.7 and e2e["work_s"] == pytest.approx(5.1)
    assert all(isinstance(u, str) for _, u in side.values())


def test_tail_picks_highest_percentile_with_ten_beyond():
    xs = list(range(1, 101))
    t = tail(xs)
    assert t["pct"] == 90 and t["beyond"] == 10
    assert t["value"] == pytest.approx(percentile(xs, 90))
    assert tail(list(range(10)))["pct"] == 75


# ------------------------------------------------ checks catch one bad row

def _ingest_want():
    cells = {"mrn": np.array(["001", "002", "003"]),
             "row_id": np.array(["32766", "32767", "40000"]),
             "amount": np.array(["1.50", "20.00", "3.25"]),
             "active_tf": np.array(["t", "f", "true"]),
             "event_ts": np.array(["2021-03-01 10:00:00", "", "2021-03-02 00:00:00"])}
    want = {"rows": 3, "malformed": 1, "cells": cells}
    got = {"mrn": ["002", "001", "003"], "row_id": ["32767", "32766", None],
           "amount": ["20.0", "1.5", "3.25"], "active_tf": ["false", "true", "true"],
           "event_ts": [None, "2021-03-01 10:00:00", "2021-03-02 00:00:00"]}
    return want, got


def test_ingest_check_passes_typed_values_and_counts_nulled_cells():
    want, got = _ingest_want()
    # the row_id past smallint landed NULL: measured, not failed
    assert check_table(want, 3, 1, got) == ([], 1)


def test_ingest_check_catches_a_dropped_row():
    want, got = _ingest_want()
    dropped = {c: v[:2] for c, v in got.items()}
    assert check_table(want, 2, 1, dropped)[0]
    assert check_table(want, 3, 0, got)[0]                          # lost quarantine row


@pytest.mark.parametrize("col,i,value", [
    ("amount", 0, "20.01"),                     # a decimal rounded
    ("row_id", 1, "32765"),                     # an integer shifted
    ("active_tf", 2, "false"),                  # a flag flipped
    ("event_ts", 1, "2021-03-01 10:00:01"),     # a timestamp moved
    ("event_ts", 0, "2021-03-01 00:00:00"),     # a NULL source cell filled in
    ("mrn", 2, "03"),                           # an identifier lost its padding
])
def test_ingest_check_catches_one_changed_value(col, i, value):
    want, got = _ingest_want()
    got[col][i] = value
    problems, _ = check_table(want, 3, 1, got)
    assert problems


def test_query_check_catches_a_dropped_or_changed_row():
    cols, types = ["k", "v"], ["long", "double"]
    rows = [(1, 1.5), (2, None), (3, 2.25)]
    duck = pd.DataFrame({"k": [1, 2, 3], "v": [1.5, float("nan"), 2.25]})
    assert compare(spark_frame(cols, types, rows), duck) is None
    assert compare(spark_frame(cols, types, rows[:-1]), duck)
    assert compare(spark_frame(cols, types, [(1, 1.5), (2, None), (3, 2.5)]), duck)
    # an integral column with NULLs converts as Arrow does
    nul = pd.DataFrame({"k": [1.0, float("nan")], "v": [1.0, 2.0]})
    assert compare(spark_frame(cols, types, [(1, 1.0), (None, 2.0)]), nul) is None


def test_curation_check_catches_a_dropped_or_changed_row():
    led = {"docs": 4, "exact_pairs": [(1, 3)], "near_pairs": [(2, 4)], "case_variants": []}
    manifest = [(1, "keep", 1), (2, "keep", 2), (3, "drop_exact", 1), (4, "drop_near_dup", 2)]
    assert check_manifest(manifest, led, manifest) == []
    assert check_manifest(manifest[:-1], led, manifest)
    changed = manifest[:2] + [(3, "keep", 3)] + manifest[3:]
    assert check_manifest(changed, led, manifest)
    assert check_manifest(manifest[:3] + [(4, "drop_near_dup", 1)], led, manifest)


def test_upsert_check_catches_a_dropped_or_changed_row():
    rows = [(1, 10, "O", 100), (2, 11, "F", 200)]
    assert compare_rows(list(rows), rows) is None
    assert compare_rows(rows[:1], rows)
    assert compare_rows([rows[0], (2, 11, "F", 201)], rows)
