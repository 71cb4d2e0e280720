"""``ingest_upsert``: the scheduled bronze -> silver -> gold upsert, with an
analyst read after every cycle.

A ``VersionedTable`` keyed by ``id`` is seeded with gold rows. Each cycle
lands one seeded bronze JSON file and runs one ``Trigger.AvailableNow``
stream over the landing directory::

    streaming.incremental.incremental_file_source
      -> pipeline.medallion.bronze_to_silver_dag -> silver_to_gold
      -> streaming.sinks.foreach_batch_versioned   (one MERGE commit)

then one analyst read aggregates the latest snapshot. After the timed
cycles the table is compacted and vacuumed. A pure-Python replay of the
landing files checks every read, every commit and the final snapshot.
"""

from __future__ import annotations

import os
import time

from common import Run, median, quartiles
from datagen import Landing, landing_time, write_json_lines
from tools.scan_audit import live_scan_count

#: Gold rows the table starts with, and landing rows per cycle.
SEED_ROWS = 300_000
BATCH_ROWS = 6_000
#: Timed cycles per second of --seconds: a fixed amount of work per run,
#: so a faster engine does not end on a larger table than a slower one.
CYCLES_PER_S = 0.6
MIN_CYCLES = 3

GOLD_COLS = ("id", "location", "area", "bedrooms", "price", "location_encoded", "price_per_m2")
_ENCODE = {"HCM": 2, "HN": 1}


class Replay:
    """The gold table the landing rows imply, computed in Python: silver
    drops rows without price or area and rows already seen whole, casts the
    strings, and gold adds the location code and price per m2; each batch
    upserts by ``id``."""

    def __init__(self) -> None:
        self.rows: dict[str, tuple] = {}
        self.seen: set[tuple] = set()

    @staticmethod
    def _gold(r: dict) -> tuple:
        area, price = float(r["area"]), float(r["price"])
        return (
            r["id"], r["location"], area, int(r["bedrooms"]), price,
            _ENCODE.get(r["location"], 0), price / area if area else None,
        )

    def seed(self, rows: list[dict]) -> None:
        for r in rows:
            self.rows[r["id"]] = self._gold(r)

    def apply(self, rows: list[dict]) -> None:
        for r in rows:
            raw = tuple(r[c] for c in ("id", "location", "area", "bedrooms", "price"))
            if r["price"] is None or r["area"] is None or raw in self.seen:
                continue
            self.seen.add(raw)
            self.rows[r["id"]] = self._gold(r)

    def read_agg(self) -> dict[int, tuple[int, int, float]]:
        out: dict[int, list] = {}
        for g in self.rows.values():
            a = out.setdefault(g[5], [0, 0, float("-inf")])
            a[0] += 1
            a[1] += g[3]
            a[2] = max(a[2], g[4])
        return {k: tuple(v) for k, v in out.items()}


def _landing_schema():
    from pyspark.sql import types as T

    return T.StructType(
        [T.StructField(c, T.StringType()) for c in ("id", "location", "area", "bedrooms", "price")]
    )


def run(r: Run, seed: int, seconds: float) -> dict[str, float]:
    from pyspark.sql import functions as F

    from lakehouse_architecture_spark.pipeline.medallion import (
        bronze_to_silver_dag,
        silver_to_gold,
    )
    from lakehouse_architecture_spark.pipeline.table_format import VersionedTable
    from lakehouse_architecture_spark.streaming.incremental import incremental_file_source
    from lakehouse_architecture_spark.streaming.sinks import foreach_batch_versioned

    tr = r.tracer

    class TracedTable(VersionedTable):
        """Times ``merge`` and nothing else (traced runs only)."""

        def merge(self, *args, **kwargs):
            with tr.span("table_format.merge"):
                return super().merge(*args, **kwargs)

    table_cls = TracedTable if r.traced else VersionedTable
    schema = _landing_schema()
    landing = Landing(seed, SEED_ROWS, BATCH_ROWS)
    replay = Replay()
    seed_rows = landing.seed_rows()
    replay.seed(seed_rows)
    seed_file = os.path.join(r.work, "seed", "seed.json")
    os.makedirs(os.path.dirname(seed_file))
    write_json_lines(seed_file, seed_rows)
    landing_dir = os.path.join(r.work, "landing")
    os.makedirs(landing_dir)

    # -- set-up: JVM launch and session, the seeded gold table's commit, and
    # the first cycle with its read (stream start-up, first plans) -------------
    t0 = time.perf_counter()
    spark = r.start_session()
    table = table_cls(spark, os.path.join(r.work, "gold"), ["id"])
    with tr.span("table_format.seed"):
        bronze = spark.read.schema(schema).json(seed_file)
        table.write(silver_to_gold(bronze_to_silver_dag(bronze)))
    setup = time.perf_counter() - t0
    r.rss.sample()
    ckpt = os.path.join(r.work, "checkpoint")

    cycles: list[float] = []
    reads: list[float] = []
    landed_rows = landed_bytes = 0
    progress: list[dict] = []

    def cycle(i: int, timed: bool) -> bool:
        nonlocal landed_rows, landed_bytes
        rows = landing.next_batch()
        path = os.path.join(landing_dir, f"crawl_{landing_time(i)}.json")
        nbytes = write_json_lines(path, rows)
        replay.apply(rows)
        before = table.latest_version()
        trace = tr.new_trace()
        t0 = time.perf_counter()
        with tr.span("cycle", trace):
            with tr.span("streaming.build"):
                src = incremental_file_source(spark, landing_dir, schema, format="json")
                q = foreach_batch_versioned(silver_to_gold(bronze_to_silver_dag(src)), table, ckpt)
            with tr.span("streaming.run", groups=[str(q.runId)]):
                q.awaitTermination()
        wall = time.perf_counter() - t0
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        if timed:
            cycles.append(wall)
            landed_rows += len(rows)
            landed_bytes += nbytes
            progress.extend(p for p in q.recentProgress if p.get("numInputRows"))
        return table.latest_version() == before + 1  # exactly one commit

    def read(timed: bool) -> bool:
        trace = tr.new_trace()
        t0 = time.perf_counter()
        with tr.span("read", trace):
            with tr.span("table_format.read"):
                snap = table.read()
            with tr.span("operators.execute"):
                agg = snap.groupBy("location_encoded").agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum("bedrooms").alias("bedrooms"),
                    F.max("price").alias("max_price"),
                )
                got = agg.collect()
        if timed:
            reads.append(time.perf_counter() - t0)
        else:
            r.info["plans.live_scans"] = (live_scan_count(agg), "count")
        return {row[0]: tuple(row[1:]) for row in got} == replay.read_agg()

    t0 = time.perf_counter()
    with tr.span("first_pass"):
        r.op("cycle 0", lambda: cycle(0, False))
        r.op("read 0", lambda: read(False))
    first_pass = time.perf_counter() - t0
    setup += first_pass
    r.info["first_pass_s"] = (first_pass, "s")

    n_timed = max(MIN_CYCLES, round(seconds * CYCLES_PER_S))
    tr.start_timing()
    v_first = table.latest_version() + 1
    for i in range(1, 1 + n_timed):
        r.op(f"cycle {i}", lambda i=i: cycle(i, True))
        r.op(f"read {i}", lambda: read(True))
    committed = sum(h["bytes"] for h in table.history() if h["version"] >= v_first)

    t0 = time.perf_counter()
    with tr.span("table_format.compact"):
        table.compact()
    with tr.span("table_format.vacuum"):
        table.vacuum(keep_last=1)
    maint = time.perf_counter() - t0

    # -- final snapshot against the replay ------------------------------------
    def final_snapshot() -> bool:
        got = table.read().toPandas()[list(GOLD_COLS)]
        return sorted(got.itertuples(index=False, name=None)) == sorted(replay.rows.values())

    snapshot_ok = r.op("final snapshot", final_snapshot)
    r.rss.sample()

    passes = [c + rd for c, rd in zip(cycles, reads)]
    lo, hi = quartiles(passes)
    r.info.update(
        {
            "passes": (len(passes), "count"),
            "pass_q1_s": (lo, "s"),
            "pass_q3_s": (hi, "s"),
            "cycle_p50_s": (median(cycles), "s"),
            "read_p50_s": (median(reads), "s"),
            "ingest_rows_per_s": (landed_rows / sum(cycles), "1/s"),
            "write_amp": (committed / landed_bytes, "ratio"),
            "maint_s": (maint, "s"),
            "replay_snapshot_match": (int(snapshot_ok), "bool"),
            "table_rows": (len(replay.rows), "count"),
        }
    )
    if progress:
        d = [p["durationMs"] for p in progress]
        r.info.update(
            {
                "streaming.add_batch_s": (median([x.get("addBatch", 0) for x in d]) / 1e3, "s"),
                "streaming.offsets_s": (
                    median(
                        [x.get("latestOffset", 0) + x.get("walCommit", 0) + x.get("commitOffsets", 0) for x in d]
                    ) / 1e3,
                    "s",
                ),
                "streaming.trigger_s": (median([x.get("triggerExecution", 0) for x in d]) / 1e3, "s"),
                "streaming.state_rows": (
                    progress[-1]["stateOperators"][0]["numRowsTotal"]
                    if progress[-1].get("stateOperators") else 0,
                    "count",
                ),
            }
        )
    return {
        "pass_s": median(passes),
        "setup_s": setup,
        "n_passes": len(passes),
    }
