"""Seeded input generators. Each returns the files it wrote plus a ledger of
what it planted, so the workload checks compare outputs against the ledger
rather than against a second run of the program.

The seed is the only source of randomness; the program under test receives
only the files.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np

# ---------------------------------------------------------------- daily ingest

# (name, rows): a few large fact tables and some small dimension tables,
# the shape of a daily extract cut down to five files so that a day fits in
# one run. The large tables hold more than 10,000 rows, so inference samples
# them as it samples the reference's 200k-row tables: the first 1000 rows.
INGEST_LARGE = (("encounters", 11_000), ("lab_results", 11_000), ("medications", 11_000))
INGEST_SMALL = (("dim_site", 40), ("dim_provider", 600))
# the rows inference classifies on a large table
SAMPLED_PREFIX = 1000
# large tables number their rows from here: the sampled prefix stays within
# smallint, the rest of the column passes 32767
LARGE_ID_START = 31_001
MALFORMED_FRAC = 0.001
_BASE_DAY = dt.date(2021, 3, 1)


def _ts_strings(rng, n, base, span_days, midnight):
    secs = rng.integers(0, span_days * 86400, n)
    if midnight:
        secs -= secs % 86400
    stamp = np.datetime64(base.isoformat()) + secs.astype("timedelta64[s]")
    out = np.datetime_as_string(stamp, unit="s")
    if midnight:
        return np.char.replace(np.char.ljust(out, 10).astype("U10"), "T", " ")
    return np.char.replace(out, "T", " ")


# what each generated column holds, so the check can compare a typed cell
# with its source text: "int", "float", "bool" or "text" (compared as text:
# identifiers, labels, dates and timestamps)
INGEST_KINDS = {
    "row_id": "int", "mrn": "text", "flag_01": "int", "active_tf": "bool",
    "verified": "bool", "event_date": "text", "event_ts": "text", "amount": "float",
    "label": "text", "count_i32": "int", "ref_i64": "int", "note": "text",
}
# the column that identifies a row: distinct, never empty, typed as text
INGEST_KEY = "mrn"


def _ingest_columns(rng, name: str, n: int, large: bool) -> dict[str, np.ndarray]:
    """One table's columns as string arrays, covering every inference label.
    On a large table ``row_id`` counts up from LARGE_ID_START, so it passes
    32767 after the sampled prefix."""
    ids = np.arange(1, n + 1) + (LARGE_ID_START - 1 if large else 0)
    cols: dict[str, np.ndarray] = {
        "row_id": ids.astype(str),
        # zero-padded distinct identifier -> text
        "mrn": np.char.zfill((rng.choice(10**8, n, replace=False) + 1).astype(str), 9),
        # 0/1 flag -> smallint
        "flag_01": rng.integers(0, 2, n).astype(str),
        # t/f and true/false -> boolean
        "active_tf": np.where(rng.random(n) < 0.5, "t", "f"),
        "verified": np.where(rng.random(n) < 0.5, "true", "false"),
        # midnight dates -> date, times -> timestamp
        "event_date": _ts_strings(rng, n, _BASE_DAY, 365, midnight=True),
        "event_ts": _ts_strings(rng, n, _BASE_DAY, 365, midnight=False),
        # decimals -> numeric
        "amount": np.char.mod("%.2f", rng.integers(100, 10**7, n) / 100.0),
        "label": np.char.add("item_", rng.integers(0, 5000, n).astype(str)),
    }
    if large:
        # integer range (first sample already > 32767) and bigint range
        cols["count_i32"] = rng.integers(40_000, 2_000_000_000, n).astype(str)
        cols["ref_i64"] = rng.integers(3 * 10**9, 9 * 10**15, n).astype(str)
        # sparse column: empty cells land NULL and are never "nulled"
        note = np.char.add("note ", rng.integers(0, 100, n).astype(str))
        cols["note"] = np.where(rng.random(n) < 0.3, "", note)
    return cols


def _malformed_line(kind: str, good: str) -> str:
    if kind == "quote":
        # one unbalanced quote: from_csv fails and the scan drops the row
        return good.replace(",", ',"', 1)
    # arity mismatch: two extra fields
    return good + ",x,y"


def make_ingest_day(out_dir: str, seed: int, day: int) -> dict:
    """Write one day's manifest of CSVs; return the ledger:
    {table: {"path", "rows", "malformed", "nonempty": {col: n}, "bytes",
    "cells": {col: source text of each well-formed row}}}."""
    rng = np.random.default_rng([seed, 101, day])
    os.makedirs(out_dir, exist_ok=True)
    ledger: dict[str, dict] = {}
    for tables, large in ((INGEST_LARGE, True), (INGEST_SMALL, False)):
        for name, n in tables:
            cols = _ingest_columns(rng, name, n, large)
            names = list(cols)
            arrs = [cols[c] for c in names]
            lines = [",".join(row) for row in zip(*arrs)]
            n_bad = int(round(n * MALFORMED_FRAC)) if large else 0
            bad_at = sorted(rng.choice(np.arange(SAMPLED_PREFIX + 1, n), n_bad, replace=False)) \
                if n_bad else []
            for j, i in enumerate(bad_at):
                kind = "quote" if j % 2 == 0 else "arity"
                lines[i] = _malformed_line(kind, lines[i])
            bad = set(int(i) for i in bad_at)
            keep = np.ones(n, dtype=bool)
            keep[list(bad)] = False
            nonempty = {c: int(np.count_nonzero((cols[c] != "") & keep)) for c in names}
            path = os.path.join(out_dir, f"{name.upper()}.csv")
            with open(path, "w", encoding="utf-8") as fh:
                fh.write(",".join(names) + "\n")
                fh.write("\n".join(lines) + "\n")
            ledger[name] = {"path": path, "rows": n - len(bad), "malformed": len(bad),
                            "nonempty": nonempty, "bytes": os.path.getsize(path),
                            "cells": {c: cols[c][keep] for c in names}}
    return ledger


# ----------------------------------------------------------- warehouse tables

def make_warehouse(out_dir: str, seed: int, sf: float) -> dict:
    """TPC-H-like star schema plus ``events``, one parquet file per table,
    with the column names and physical types the registered queries read.
    Returns {table: rows}."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 202])
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    def day_ts(base, lo, hi, n):
        d = rng.integers(lo, hi, n)
        return (np.datetime64(base) + d.astype("timedelta64[D]")).astype("datetime64[us]")

    tables = {
        "region": {"r_regionkey": (np.arange(5), i32),
                   "r_name": (np.array(["AFRICA", "AMERICA", "ASIA", "EUROPE",
                                        "MIDDLE EAST"]), s)},
        "nation": {"n_nationkey": (np.arange(25), i32),
                   "n_name": (np.char.add("NATION_", np.arange(25).astype(str)), s),
                   "n_regionkey": (np.arange(25) % 5, i32)},
        "customer": {
            "c_custkey": (np.arange(n_cust), i64),
            "c_name": (np.char.add("Customer#", np.char.zfill(np.arange(n_cust).astype(str), 9)), s),
            "c_nationkey": (rng.integers(0, 25, n_cust), i32),
            "c_acctbal": (np.round(rng.integers(-99985, 999981, n_cust) / 100.0, 2), f64),
            "c_mktsegment": (rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                         "HOUSEHOLD", "MACHINERY"], n_cust), s)},
        "supplier": {
            "s_suppkey": (np.arange(n_supp), i64),
            "s_name": (np.char.add("Supplier#", np.char.zfill(np.arange(n_supp).astype(str), 9)), s),
            "s_nationkey": (rng.integers(0, 25, n_supp), i32),
            "s_acctbal": (np.round(rng.integers(-99985, 999981, n_supp) / 100.0, 2), f64)},
        "part": {
            "p_partkey": (np.arange(n_part), i64),
            "p_name": (np.char.add(np.char.add(rng.choice(
                ["blue", "old", "red", "large", "hot", "cold", "small", "new"], n_part), " "),
                rng.choice(["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod",
                            "anvil"], n_part)), s),
            "p_brand": (np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)), s),
            "p_type": (rng.choice(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM",
                                   "PROMO"], n_part), s),
            "p_size": (rng.integers(1, 51, n_part), i32),
            "p_retailprice": (np.round(900 + (np.arange(n_part) % 1000) / 10.0, 1), f64)},
        "orders": {
            "o_orderkey": (np.arange(n_ord), i64),
            # a tenth of the customers place no orders
            "o_custkey": (rng.integers(0, n_cust * 9 // 10, n_ord), i64),
            "o_orderstatus": (rng.choice(["O", "F", "P"], n_ord), s),
            "o_totalprice": (np.round(rng.integers(100191, 49999319, n_ord) / 100.0, 2), f64),
            "o_orderdate": (day_ts("1995-01-01", 0, 2404, n_ord), ts),
            "o_orderpriority": (rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                            "4-NOT SPECIFIED", "5-LOW"], n_ord), s)},
        "lineitem": {
            "l_orderkey": (rng.integers(0, n_ord, n_line), i64),
            "l_partkey": (rng.integers(0, n_part, n_line), i64),
            "l_suppkey": (rng.integers(0, n_supp, n_line), i64),
            "l_linenumber": (rng.integers(1, 8, n_line), i32),
            "l_quantity": (rng.integers(1, 51, n_line).astype(float), f64),
            "l_extendedprice": (np.round(rng.integers(90068, 10499992, n_line) / 100.0, 2), f64),
            "l_discount": (rng.integers(0, 11, n_line) / 100.0, f64),
            "l_tax": (rng.integers(0, 9, n_line) / 100.0, f64),
            "l_returnflag": (rng.choice(["A", "N", "R"], n_line), s),
            "l_linestatus": (rng.choice(["F", "O"], n_line), s),
            "l_shipdate": (day_ts("1995-01-02", 0, 2499, n_line), ts)},
        "events": {
            "event_id": (np.arange(n_ev), i64),
            "ts": ((np.datetime64("2024-01-01") + np.sort(rng.integers(
                0, 30 * 86400 * 10**6, n_ev)).astype("timedelta64[us]")), ts),
            "user_id": (rng.integers(0, 1500, n_ev), i64),
            "event_type": (rng.choice(["signup", "click", "error", "view", "purchase"], n_ev), s),
            "value": (np.round(rng.integers(0, 56021, n_ev) / 100.0, 2), f64),
            "props": (np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n_ev).astype(str)),
                                  "}"), s)},
    }
    rows = {}
    for name, cols in tables.items():
        arrays = {c: pa.array(v, type=t) for c, (v, t) in cols.items()}
        pq.write_table(pa.table(arrays), os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = len(next(iter(cols.values()))[0])
    return rows


# --------------------------------------------------------------- corpus shard

_VOCAB = None


def _vocab():
    global _VOCAB
    if _VOCAB is None:
        r = np.random.default_rng(7)
        letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
        _VOCAB = np.array(sorted({"".join(r.choice(letters, r.integers(3, 9)))
                                  for _ in range(600)}))
    return _VOCAB


def make_corpus_shard(out_dir: str, seed: int, shard: int, n_docs: int,
                      n_vecs: int, dim: int = 64, exact_frac: float = 0.05,
                      near_frac: float = 0.05, vec_dup_frac: float = 0.05) -> dict:
    """One corpus shard: ``documents`` and ``embeddings`` parquet files with
    planted duplicates. Exact duplicates copy an earlier doc's text with a
    case and whitespace change (same normalized fingerprint, higher doc_id);
    near duplicates replace one word of a 60-80 word doc. Near-duplicate
    vectors add small noise to an earlier vector. Returns the ledger.

    Exact duplicates come in three kinds, in turn: byte-identical copies,
    whitespace variants, and upper-case variants. All three share the
    normalized fingerprint of their source."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 303, shard])
    vocab = _vocab()
    base_id = shard * 10_000_000
    n_exact, n_near = int(n_docs * exact_frac), int(n_docs * near_frac)
    n_orig = n_docs - n_exact - n_near
    texts = [" ".join(rng.choice(vocab, rng.integers(60, 81)))
             for _ in range(n_orig)]
    originals = rng.permutation(n_orig)
    exact_src, near_src = originals[:n_exact], originals[n_exact:n_exact + n_near]
    exact_pairs, near_pairs = [], []
    for j, src in enumerate(exact_src):
        t = texts[src]
        texts.append((t, t.replace(" ", "  ", 1), t.upper())[j % 3])
        exact_pairs.append((base_id + int(src), base_id + len(texts) - 1))
    for src in near_src:
        words = texts[src].split(" ")
        pos = int(rng.integers(len(words) // 3, 2 * len(words) // 3))
        words[pos] = "zz" + words[pos]
        texts.append(" ".join(words))
        near_pairs.append((base_id + int(src), base_id + len(texts) - 1))
    n = len(texts)
    doc_ids = base_id + np.arange(n)
    docs = pa.table({
        "doc_id": pa.array(doc_ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(["en", "de", "fr", "es", "zh"], n), pa.string()),
        "source": pa.array(np.char.add("src", rng.integers(0, 20, n).astype(str)), pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    n_vdup = int(n_vecs * vec_dup_frac)
    n_vorig = n_vecs - n_vdup
    centers = rng.normal(size=(10, dim))
    label = rng.integers(0, 10, n_vorig)
    emb = centers[label] + rng.normal(scale=1.5, size=(n_vorig, dim))
    vsrc = rng.choice(n_vorig, n_vdup, replace=False)
    emb = np.vstack([emb, emb[vsrc] + rng.normal(scale=0.01, size=(n_vdup, dim))])
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    labels = np.concatenate([label, label[vsrc]])
    vec_ids = base_id + np.arange(n_vecs)
    vecs = pa.table({
        "vec_id": pa.array(vec_ids, pa.int64()),
        "embedding": pa.array(list(emb.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))
    pq.write_table(vecs, os.path.join(out_dir, "embeddings.parquet"))
    return {"dir": out_dir, "docs": n, "vecs": n_vecs,
            "exact_pairs": exact_pairs, "near_pairs": near_pairs,
            "case_variants": [b for j, (_, b) in enumerate(exact_pairs) if j % 3 == 2],
            "vec_pairs": [(int(vec_ids[s]), int(vec_ids[n_vorig + j]))
                          for j, s in enumerate(vsrc)]}


# ------------------------------------------------------------------ CDC stream

ORDERS_COLS = ("o_orderkey", "o_custkey", "o_orderstatus", "o_price_cents", "o_orderdate")
_STATUS = np.array(["O", "F", "P"])


def make_orders_rows(seed: int, n: int) -> list[tuple]:
    """The versioned table's initial rows (keys 0..n-1)."""
    rng = np.random.default_rng([seed, 404])
    return _order_rows(rng, np.arange(n), n_cust=max(n // 10, 1))


def _order_rows(rng, keys, n_cust):
    m = len(keys)
    cust = rng.integers(0, n_cust, m)
    status = _STATUS[rng.integers(0, 3, m)]
    cents = rng.integers(100_000, 50_000_000, m)
    days = rng.integers(0, 2400, m)
    base = dt.date(1995, 1, 1)
    return [(int(k), int(c), str(s), int(p), base + dt.timedelta(days=int(d)))
            for k, c, s, p, d in zip(keys, cust, status, cents, days)]


def make_cdc_batch(seed: int, cycle: int, n_live: int, next_key: int,
                   batch: int, n_cust: int) -> list[tuple]:
    """One upsert batch leaning toward recent keys: 70% updates in the
    newest 5% of the key space, 20% updates anywhere, 10% inserts of new
    keys at the top. Keys within a batch are distinct."""
    rng = np.random.default_rng([seed, 505, cycle])
    n_new = batch // 10
    n_recent = batch * 7 // 10
    recent_lo = max(0, next_key - max(n_live // 20, n_recent * 2))
    recent = rng.choice(np.arange(recent_lo, next_key), n_recent, replace=False)
    pool = np.setdiff1d(np.arange(0, recent_lo), recent)
    anywhere = rng.choice(pool, batch - n_recent - n_new, replace=False)
    keys = np.concatenate([recent, anywhere, np.arange(next_key, next_key + n_new)])
    return _order_rows(rng, keys, n_cust)


def lookup_keys(seed: int, cycle: int, touched: list[int], n_keys: int,
                count: int) -> list[int]:
    """Point-lookup probes: half on keys the last batch touched, half on
    any live key."""
    rng = np.random.default_rng([seed, 606, cycle])
    half = count // 2
    a = rng.choice(np.array(touched), half, replace=False)
    b = rng.integers(0, n_keys, count - half)
    return [int(k) for k in np.concatenate([a, b])]
