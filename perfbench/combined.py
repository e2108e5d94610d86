"""The benchmark's workloads. Each runs two parts one after the other in
one session on a fresh JVM: a run costs a JVM start (10 to 14 s on a 4-core
box) before any unit, and the 4 + 22 × W runs of a benchmark with W
workloads must end within 3420 s, so the four parts share two runs. Each
layer is used by exactly one workload, so a change to it moves that
workload's figures and leaves the other's flat.

- ``ingest_queries``: a day of ``daily_ingest`` (the reference's CSV load),
  then a round of ``warehouse_queries`` (the relational surface the
  reference handed to its warehouse). Latency: the queries.
- ``curation_upserts``: a ``corpus_curation`` shard (the procedural
  operators Spark SQL hosts), then ``versioned_upserts`` cycles (the
  versioned storage layer and incremental refresh). Latency: the point
  lookups.

End-to-end, each reports ``op_p50_s`` and ``op_tail_s`` over its latency
part's operations and ``work_s``, the seconds its fixed, timed units took
in all; each part's own figures go on the ``perfbench`` line."""

from __future__ import annotations

from common import median, tail
from wl_curation import CorpusCuration
from wl_ingest import DailyIngest
from wl_queries import WarehouseQueries
from wl_upserts import VersionedUpserts


class Combined:
    def __init__(self, parts: list, latency: int):
        self.parts, self.latency = parts, latency

    def generate(self, ctx) -> None:
        for p in self.parts:
            p.generate(ctx)

    def install(self, ctx) -> None:
        for p in self.parts:
            p.install(ctx)

    def units(self, seconds: float) -> list[int]:
        return [p.units(seconds) for p in self.parts]

    def run(self, ctx, units: list[int]) -> None:
        for p, n in zip(self.parts, units):
            p.run(ctx, n)

    def check(self, ctx) -> None:
        for p in self.parts:
            p.check(ctx)

    def metrics(self, ctx) -> tuple[dict, dict]:
        lat = self.parts[self.latency].op_lat
        e2e = {"op_p50_s": median(lat), "op_tail_s": tail(lat)["value"],
               "work_s": sum(p.spent for p in self.parts)}
        side = {}
        for p in self.parts:
            side.update(p.metrics(ctx))
        return e2e, side

    def layer_metrics(self, ctx) -> dict:
        out = {}
        for p in self.parts:
            out.update(p.layer_metrics(ctx))
        return out


def ingest_queries() -> Combined:
    return Combined([DailyIngest(), WarehouseQueries()], latency=1)


def curation_upserts() -> Combined:
    return Combined([CorpusCuration(), VersionedUpserts()], latency=1)


WORKLOADS = {"ingest_queries": ingest_queries, "curation_upserts": curation_upserts}
