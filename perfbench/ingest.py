"""``ingest``: streaming writes next to reads.

The data directory holds the dimension tables and an ``events``
landing directory.  Each round (one op):

1. lands ``ROUND_EVENTS`` events of the sf0.1-sized event log, in
   event-time order, as two parquet files split at a seeded point;
2. drains three ``HTSQL.store_stream`` sinks: the update-mode keyed
   MERGE of ``/events.tumbling('1 day')``, the append sink of a
   filter and the complete sink of ``distinct_count``;
3. reads the sinks back through ``streaming.snapshot.read_snapshot``.

After the timed loop every round is checked against DuckDB over the
files landed up to that round.

Why this workload: it is the only one that writes and commits state
(``streaming/*``, the ``operators.layout`` swap and lock), and its
snapshots grow every round, so any cost proportional to history shows
here.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow.parquet as pq

import check
import datagen

SF = 0.01  # dimension tables; the event log is sf0.1-sized
EVENTS = 100_000
USERS = 1_500
ROUND_EVENTS = 4_000
FIRST_EVENTS = 4_000  # landed before set-up: the engine resolves `events`
WARMUP_ROUNDS = 2
#: traced rounds the per-layer means cover (every other round is traced)
TRACE_OPS = 3
SINKS = (
    ("tumbling", "/events.tumbling('1 day')",
     {"keys": ["w_start", "w_end", "event_type"]}),
    ("filter", "/(events?value>4.9){event_id, event_type, value}", {}),
    ("distinct", "/events.distinct_count(user_id, event_type)", {}),
)
TUMBLING_COLS = ["w_start", "w_end", "event_type", "n", "total"]
DIGEST_COLS = ["event_type", "n", "sum_id", "sum_value", "min_id", "max_id"]


class Lander:
    """Writes slices of the event log into the landing directory; each
    file appears atomically (written under a hidden name, then
    renamed)."""

    def __init__(self, events, landing: str, rng):
        self.events, self.landing, self.rng = events, landing, rng
        self.pos = 0
        self.files: list[str] = []
        os.makedirs(landing)

    def land(self, n: int) -> None:
        if self.pos + n > self.events.num_rows:
            raise RuntimeError("event log exhausted: raise EVENTS")
        name = f"part-{len(self.files):05d}.parquet"
        tmp = os.path.join(self.landing, "." + name)
        pq.write_table(self.events.slice(self.pos, n), tmp)
        os.rename(tmp, os.path.join(self.landing, name))
        self.pos += n
        self.files.append(os.path.join(self.landing, name))

    def land_round(self) -> None:
        cut = int(self.rng.integers(ROUND_EVENTS // 4, 3 * ROUND_EVENTS // 4))
        self.land(cut)
        self.land(ROUND_EVENTS - cut)


def one_round(run, lander: Lander, sinks: str) -> dict:
    from pyspark.sql import functions as F

    from htsql_spark.streaming.snapshot import read_snapshot

    lander.land_round()
    for name, text, kwargs in SINKS:
        run.db.store_stream(
            text,
            os.path.join(sinks, name),
            checkpoint=os.path.join(sinks, name + ".checkpoint"),
            **kwargs,
        )
    snap = {name: read_snapshot(run.spark, os.path.join(sinks, name)) for name, _, _ in SINKS}
    digest = snap["filter"].groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("event_id").alias("sum_id"),
        F.sum("value").alias("sum_value"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
    )
    return {
        "files": len(lander.files),
        "tumbling": [list(r) for r in snap["tumbling"].select(*TUMBLING_COLS).collect()],
        "filter": [list(r) for r in digest.select(*DIGEST_COLS).collect()],
        "distinct": [
            list(r)
            for r in snap["distinct"].select("event_type", "approx_distinct").collect()
        ],
    }


def run(run, tracer) -> None:
    t0 = time.time()
    tables = datagen.build(SF, run.seed)
    datagen.write(run.data_dir, tables, skip=("events",))
    rng = np.random.Generator(np.random.PCG64(run.seed + 1))
    lander = Lander(
        datagen.build_events(rng, EVENTS, USERS),
        os.path.join(run.data_dir, "events"),
        rng,
    )
    lander.land(FIRST_EVENTS)
    run.input_s = time.time() - t0

    run.start_engine()
    sinks = os.path.join(run.scratch, "sinks")
    t1 = time.time()
    for _ in range(WARMUP_ROUNDS):
        one_round(run, lander, sinks)
    run.info["warmup_s"] = round(time.time() - t1, 2)

    if tracer is not None:
        tracer.install()
    results = []
    start = time.perf_counter()
    while time.perf_counter() - start < run.seconds or (
        tracer is not None and not tracer.enough()
    ):
        if tracer is not None:
            tracer.begin_op()
        t = time.perf_counter()
        try:
            out = one_round(run, lander, sinks)
        except Exception as exc:  # noqa: BLE001 - a failed op is counted
            out = {"error": f"{type(exc).__name__}: {exc}"}
        dt = time.perf_counter() - t
        if tracer is not None:
            tracer.end_op(dt)
        run.latencies.append(dt)
        run.source_rows += ROUND_EVENTS
        results.append(out)
        if "error" in out:
            break  # the sinks' state is unknown after a failed round
    run.timed_s = time.perf_counter() - start
    if tracer is not None:
        tracer.uninstall()
    run.info["round_s"] = [round(x, 2) for x in run.latencies]
    run.info["events_landed"] = lander.pos
    t1 = time.time()
    _check(run, lander, results)
    run.info["check_s"] = round(time.time() - t1, 2)


def _check(run, lander: Lander, results: list[dict]) -> None:
    import duckdb

    con = duckdb.connect()
    for out in results:
        run.attempted += 1
        if "error" in out:
            run.fail(f"round raised {out['error']}")
            continue
        files = ", ".join(f"'{f}'" for f in lander.files[: out["files"]])
        con.execute(f"CREATE OR REPLACE VIEW ev AS SELECT * FROM read_parquet([{files}])")
        try:
            check.compare(TUMBLING_COLS, out["tumbling"], False, TUMBLING_COLS, _rows(con, """
                SELECT CAST(date_trunc('day', ts) AS TIMESTAMP),
                       CAST(date_trunc('day', ts) + INTERVAL 1 DAY AS TIMESTAMP),
                       event_type, count(*), sum(value)
                FROM ev WHERE ts IS NOT NULL GROUP BY 1, 2, 3"""))
            check.compare(DIGEST_COLS, out["filter"], False, DIGEST_COLS, _rows(con, """
                SELECT event_type, count(*), sum(event_id), sum(value),
                       min(event_id), max(event_id)
                FROM ev WHERE value > 4.9 GROUP BY 1"""))
            exact = dict(_rows(con, """
                SELECT event_type, count(DISTINCT user_id) FROM ev GROUP BY 1"""))
            approx = dict(out["distinct"])
            # the HLL sketch (lgK=14) stays well inside 5 % at this size
            if approx.keys() != exact.keys() or any(
                abs(approx[k] - exact[k]) > 0.05 * exact[k] for k in exact
            ):
                raise check.Mismatch(f"distinct_count {approx} vs exact {exact}")
        except check.Mismatch as exc:
            run.fail(f"round with {out['files']} files: {exc}")
    con.close()


def _rows(con, sql: str) -> list[list]:
    return [list(r) for r in con.execute(sql).fetchall()]
