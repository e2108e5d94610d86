"""corpus_curation: seeded corpus shards with planted exact and near
duplicate documents and near-duplicate vectors. Each shard runs
``curation.curate``, ``clustering.retention_manifest`` (MinHash-LSH,
connected components, keep/drop), ``semdedup.semantic_dedup`` and
``similarity.ivf_topk`` for a seeded query set."""

from __future__ import annotations

import os
import time

import numpy as np

import gen
from common import median, tail, unit_count

SHARD_DOCS = 200
SHARD_VECS = 150
N_QUERIES = 5
STAGES = ("curation", "clustering", "semdedup", "similarity")
# nominal length of one shard on a 4-core box, cold JVM included
SHARD_S = 25.0


class CorpusCuration:
    def __init__(self):
        self.shards: list[dict] = []     # ledger + per-shard results
        self.lat: list[float] = []       # per-stage latencies
        self.spent = 0.0
        self.docs = 0
        self.extra = {"candidates": 0, "kept_pairs": 0, "recall_hits": 0, "recall_total": 0}
        self._ledger0 = None

    def generate(self, ctx) -> None:
        self._ledger0 = gen.make_corpus_shard(ctx.fresh_dir("in", "shard0"), ctx.seed, 0,
                                              SHARD_DOCS, SHARD_VECS)

    def install(self, ctx) -> None:
        pass

    def units(self, seconds: float) -> int:
        return unit_count(seconds, SHARD_S)

    def run(self, ctx, shards: int) -> None:
        import pyspark.sql.functions as F

        from covid_19_data_engineering_spark.operators import (
            clustering,
            curation,
            semdedup,
            similarity,
        )

        spark, tr = ctx.spark, ctx.tr
        for shard in range(shards):
            led = self._ledger0 if shard == 0 else gen.make_corpus_shard(
                ctx.fresh_dir("in", f"shard{shard}"), ctx.seed, shard, SHARD_DOCS, SHARD_VECS)
            docs = spark.read.parquet(os.path.join(led["dir"], "documents.parquet"))
            emb = spark.read.parquet(os.path.join(led["dir"], "embeddings.parquet"))
            rng = np.random.default_rng([ctx.seed, 808, shard])
            qids = [shard * 10_000_000 + int(v) for v in
                    sorted(rng.choice(led["vecs"], N_QUERIES, replace=False))]
            queries = emb.where(F.col("vec_id").isin(qids)).select(
                F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding"))
            corpus = emb.select("vec_id", "embedding")
            out = {}
            tr.unit = {"shard": shard}
            stage_calls = (
                ("curation", lambda: curation.curate(docs)),
                ("clustering", lambda: clustering.retention_manifest(docs)),
                ("semdedup", lambda: semdedup.semantic_dedup(emb)),
                ("similarity", lambda: similarity.ivf_topk(corpus, queries)),
            )
            for stage, call in stage_calls:
                t0 = time.perf_counter()
                with tr.span(f"operators.{stage}"):
                    out[stage] = [tuple(r) for r in call().collect()]
                dt = time.perf_counter() - t0
                self.lat.append(dt)
                self.spent += dt
            tr.unit = {}
            self.docs += led["docs"]
            self.shards.append({"ledger": led, "out": out})
            if tr.enabled:
                self._diagnose(docs, corpus, queries, out)
            self._check_shard(ctx, shard, led, out)

    def _diagnose(self, docs, corpus, queries, out) -> None:
        """Traced run only: LSH candidate pairs per pair at or above the
        threshold, and IVF recall against exact search."""
        import pyspark.sql.functions as F

        from covid_19_data_engineering_spark.operators import dedup, similarity

        cands = dedup.minhash_lsh_candidates(docs)
        row = cands.agg(F.count(F.lit(1)).alias("n"),
                        F.sum((F.col("est_jaccard") >= 0.3).cast("int")).alias("kept")).first()
        self.extra["candidates"] += row["n"]
        self.extra["kept_pairs"] += row["kept"] or 0
        exact = {(r[0], r[2]) for r in similarity.brute_force_topk(corpus, queries).collect()}
        approx = {(r[0], r[2]) for r in out["similarity"]}
        self.extra["recall_hits"] += len(exact & approx)
        self.extra["recall_total"] += len(exact)

    def _check_shard(self, ctx, shard: int, led: dict, out: dict) -> None:
        import duckdb

        from covid_19_data_engineering_spark.operators.clustering import (
            _retention_manifest_oracle_sql,
        )

        ctx.attempted += 1
        con = duckdb.connect()
        con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet("
                    f"'{os.path.join(led['dir'], 'documents.parquet')}')")
        oracle = con.execute(_retention_manifest_oracle_sql()).fetchall()
        con.close()
        for p in check_manifest(out["clustering"], led, oracle):
            ctx.fail(f"shard {shard}: {p}")

    def check(self, ctx) -> None:
        pass

    def near_dup_recall(self) -> float:
        hit = total = 0
        for s in self.shards:
            status = {r[0]: (r[1], r[2]) for r in s["out"]["clustering"]}
            for a, b in s["ledger"]["near_pairs"]:
                total += 1
                hit += near_pair_caught(status, a, b)
        return hit / max(total, 1)

    @property
    def op_lat(self) -> list[float]:
        return self.lat

    def metrics(self, ctx) -> dict:
        shard_s = [sum(self.lat[i:i + len(STAGES)]) for i in range(0, len(self.lat), len(STAGES))]
        t = tail(self.lat)
        return {"curation_docs_per_s": (self.docs / self.spent, "1/s"),
                "near_dup_recall": (self.near_dup_recall(), "fraction"),
                "shard_p50_s": (median(shard_s), "s"),
                "stage_tail_s": (t["value"], f"s@p{t['pct']},n={t['n']},beyond={t['beyond']}"),
                "manifest_missing_docs": (sum(missing_docs(s["out"]["clustering"], s["ledger"])
                                              for s in self.shards), "count"),
                "shards": (len(self.shards), "count")}

    def layer_metrics(self, ctx) -> dict:
        tr = ctx.tr
        dropped = sum(1 for s in self.shards for r in s["out"]["semdedup"]
                      if r[2] == "drop_semantic")
        out = {}
        for stage in STAGES:
            out[f"operators.{stage}.s"] = tr.median_s(f"operators.{stage}")
            out[f"operators.{stage}.jobs"] = tr.mean_jobs(f"operators.{stage}")
        out["operators.dedup.candidates_per_kept_pair"] = (
            self.extra["candidates"] / max(self.extra["kept_pairs"], 1))
        out["operators.semdedup.dropped"] = float(dropped)
        out["operators.similarity.recall_at_10"] = (
            self.extra["recall_hits"] / max(self.extra["recall_total"], 1))
        return out


def near_pair_caught(status: dict, a: int, b: int) -> bool:
    """A planted near-duplicate pair is caught when one side is marked
    drop_near_dup and both resolve to the same kept document."""
    def keeper(d):
        st, ref = status.get(d, (None, None))
        return d if st == "keep" else ref
    sa, sb = status.get(a, (None,))[0], status.get(b, (None,))[0]
    return "drop_near_dup" in (sa, sb) and keeper(a) == keeper(b) and keeper(a) is not None


def check_manifest(manifest: list[tuple], led: dict, oracle: list[tuple]) -> list[str]:
    """The shard's retention manifest (doc_id, status, ref_doc) must equal
    its DuckDB twin row for row, and every planted exact duplicate must be
    marked drop_exact. An upper-case variant in a cluster of its own is left
    out of the manifest by both engines; ``missing_docs`` measures that loss
    instead of failing on it."""
    problems = []
    got = sorted(manifest)
    want = sorted(tuple(r) for r in oracle)
    if got != want:
        diff = sorted(set(got) ^ set(want))
        problems.append(f"manifest differs from its oracle in {len(diff) or 'duplicate'} rows; "
                        f"first {diff[:1]}")
    status = {r[0]: r[1] for r in got}
    case = set(led["case_variants"])
    missed = [b for _, b in led["exact_pairs"]
              if status.get(b) != "drop_exact" and not (b in case and b not in status)]
    if missed:
        problems.append(f"{len(missed)} planted exact duplicates not drop_exact; first {missed[0]}")
    return problems


def missing_docs(manifest: list[tuple], led: dict) -> int:
    return led["docs"] - len({r[0] for r in manifest})
