"""Structured Streaming surface over the ``events`` table.

The reference engine is strictly request/response over static tables —
streaming is entirely beyond-reference (SURVEY.md §3.6), so this
module is free to be idiomatic Structured Streaming:

* file-source ``readStream`` over the events parquet (stand-in for a
  Kafka/queue source in production — swap ``format``),
* event-time watermarks with late-data drop,
* tumbling / sliding (``F.window``) and session
  (``F.session_window``) windowed aggregation,
* stateful dedup via ``dropDuplicatesWithinWatermark``,
* a custom stateful operator (per-user running totals) via
  ``applyInPandasWithState``.

Determinism note: tests drive these with ``trigger(availableNow)`` +
memory sink, which processes the full fixture exactly once — outputs
are comparable with batch oracles.
"""

from __future__ import annotations

from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

_GLOB = "events.parquet"


def _has_python_stateful(df: DataFrame) -> bool:
    """True when the analyzed plan contains a Python stateful operator
    (FlatMapGroupsInPandasWithState) — per-group Python calls make
    those plans COMPUTE-bound, so shrinking partitions to the data
    size would serialize the Python work (measured: the per-user
    running-totals kernel 2.4 s → 5.6 s at 1 partition)."""
    stack = [df._jdf.queryExecution().analyzed()]
    while stack:
        n = stack.pop()
        if n.nodeName() == "FlatMapGroupsInPandasWithState":
            return True
        for i in range(n.children().size()):
            stack.append(n.children().apply(i))
    return False


def derive_stream_partitions(
    spark: SparkSession,
    *paths: "str | tuple[str, str | None]",
    target_bytes: int = 64 * 1024 * 1024,
    per_core_cap: int = 8,
    compute_floor: bool = False,
) -> int | None:
    """Scale-adaptive shuffle/state partition count for a streaming
    query, derived from the SOURCE DATA SIZE (guide §2.2: partitions
    in the 100 MB–1 GB range, never a constant tuned to one machine):
    ceil(total bytes under ``paths`` / ``target_bytes``), floored at
    1 and capped at ``per_core_cap`` × defaultParallelism.

    Why it matters for streams specifically: ``spark.sql.shuffle.
    partitions`` also sets the number of STATE STORE instances per
    stateful operator, and every micro-batch commits one delta file
    per instance — a 2 MB landing dir under the session default pays
    hundreds of state-store commits per batch for data that fits in
    one, while a 100 TB/day topic legitimately needs thousands
    (capped by the cluster's parallelism budget).  The value is
    pinned into the checkpoint by Spark's offset-log metadata, so
    restarts of an existing checkpoint keep their original count
    regardless of what this returns later.

    ``compute_floor=True`` floors the result at defaultParallelism —
    for COMPUTE-bound plans (Python stateful operators: per-group
    pandas calls) where data-sized partitioning would serialize the
    compute; state-store commit overhead is secondary there.

    Sources are sized through the Hadoop FileSystem API (r14; the r13
    ``os.walk`` silently totalled 0 bytes for any non-local URI —
    hdfs://, s3a://, abfs:// — and 0 derived 1 partition, serializing
    a potentially huge stream and PINNING that 1 into the new
    checkpoint's offset log).  When the listing fails or totals 0
    bytes the derivation returns **None** — callers fall back to the
    session default rather than collapsing to 1 (``_stream_conf(None)``
    is a no-op).

    Each element of ``paths`` is a plain path or a ``(path, glob)``
    pair (the file source's ``pathGlobFilter``) — with a glob only the
    matching files under the path are counted, so a stream co-mounted
    with a big batch warehouse in the SAME directory is sized by its
    own files, not the warehouse's.

    :func:`drain` is the only caller in the engine: every streaming
    query is sized here, from :func:`stream_source_paths` of its own
    plan."""
    import math

    total = 0
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    for p in paths:
        p, glob = p if isinstance(p, tuple) else (p, None)
        try:
            jpath = jvm.org.apache.hadoop.fs.Path(p)
            fs = jpath.getFileSystem(hconf)
            if glob:
                stats = fs.globStatus(jvm.org.apache.hadoop.fs.Path(jpath, glob))
                for st in stats if stats is not None else []:
                    total += fs.getContentSummary(st.getPath()).getLength()
            elif fs.exists(jpath):
                total += fs.getContentSummary(jpath).getLength()
        except Exception:
            # unresolvable scheme / permissions: treat as unmeasured,
            # not as empty — the zero-total guard below falls back
            pass
    if total <= 0:
        return None
    par = spark.sparkContext.defaultParallelism
    cap = max(1, per_core_cap * par)
    parts = max(1, min(math.ceil(total / target_bytes), cap))
    if compute_floor:
        parts = max(parts, par)
    return parts


def stream_source_paths(df: DataFrame) -> "list[tuple[str, str | None]]":
    """``(path, pathGlobFilter-or-None)`` of each file source of a
    streaming DataFrame, read off the analyzed plan (a
    FileStreamSource's ``StreamingRelation`` carries ``sourceName =
    "FileSource[<path>]"`` and its ``DataSource`` the reader options).
    Used to size the partition derivation by the STREAM'S OWN files
    instead of the whole mounted directory (r14 — a small stream
    co-mounted with a large batch warehouse must not inherit the
    warehouse's partition count and pay its state-store commit
    fan-out; this repo's own readers point at the shared directory
    with a ``pathGlobFilter``, so the glob IS the source identity).
    A ``recursiveFileLookup`` source reads its whole tree, and its
    glob only filters leaf names at any depth, so it is sized as the
    whole tree (glob ``None``) — the glob alone would match only
    direct children.  Non-file sources (kafka, rate) contribute
    nothing — callers fall back."""
    out: list[tuple[str, str | None]] = []
    stack = [df._jdf.queryExecution().analyzed()]
    while stack:
        n = stack.pop()
        if n.nodeName() == "StreamingRelation":
            name = n.sourceName()
            if name.startswith("FileSource[") and name.endswith("]"):
                glob = None
                try:
                    opts = n.dataSource().options()
                    opt = opts.get("pathGlobFilter")
                    rec = opts.get("recursiveFileLookup")
                    if opt.isDefined() and not (
                        rec.isDefined() and rec.get().lower() == "true"
                    ):
                        glob = opt.get()
                except Exception:
                    pass
                out.append((name[len("FileSource[") : -1], glob))
        for i in range(n.children().size()):
            stack.append(n.children().apply(i))
    return out


#: Serializes _stream_conf windows: the temporary session-conf value
#: must not leak into a CONCURRENT stream start (or batch action) on
#: another thread of the same session — the set/start/restore window
#: is tiny, so one process-wide lock is the simplest correct guard
#: (r13 advice).
_STREAM_CONF_LOCK = __import__("threading").Lock()


class _stream_conf:
    """Temporarily set ``spark.sql.shuffle.partitions`` while a
    streaming query STARTS (StreamExecution clones the session at
    start, so restoring immediately after ``.start()`` returns is
    safe and concurrent batch work in the caller's session is
    untouched).  The window is serialized by ``_STREAM_CONF_LOCK`` so
    two threads' start windows cannot observe each other's temporary
    value.  No-op (and no lock) when ``partitions`` is None."""

    KEY = "spark.sql.shuffle.partitions"

    def __init__(self, spark: SparkSession, partitions: int | None):
        self.spark = spark
        self.partitions = partitions

    def __enter__(self):
        if self.partitions is not None:
            _STREAM_CONF_LOCK.acquire()
            try:
                self.old = self.spark.conf.get(self.KEY)
                self.spark.conf.set(self.KEY, str(self.partitions))
            except BaseException:
                _STREAM_CONF_LOCK.release()
                raise
        return self

    def __exit__(self, *exc):
        if self.partitions is not None:
            try:
                self.spark.conf.set(self.KEY, self.old)
            finally:
                _STREAM_CONF_LOCK.release()
        return False


def drain(
    sdf: DataFrame,
    configure: Callable[[DataStreamWriter], DataStreamWriter],
    trigger: dict | None = None,
    wait: bool = True,
) -> StreamingQuery:
    """Start ``sdf`` as a Structured Stream and, by default, drain it:
    the one start path of every streaming query in the engine.

    ``configure`` receives ``sdf.writeStream`` and returns the
    prepared writer (sink, output mode, checkpoint).  It is a callable
    because ``writeStream`` on a batch DataFrame already fails with an
    opaque AnalysisException; the named error comes first here.

    Shuffle/state partitions are sized from the stream's own file
    sources (:func:`stream_source_paths`) by
    :func:`derive_stream_partitions`, floored at defaultParallelism
    for Python-stateful plans; a plan with no measurable file source
    keeps the session default.  The value is set only for the
    ``.start()`` window (:class:`_stream_conf`).  ``trigger`` defaults
    to ``{"availableNow": True}``; ``wait=False`` returns the running
    query without awaiting it (the live serve path)."""
    _require_stream(sdf, "drain()")
    spark = sdf.sparkSession
    parts = derive_stream_partitions(
        spark,
        *stream_source_paths(sdf),
        compute_floor=_has_python_stateful(sdf),
    )
    with _stream_conf(spark, parts):
        q = (
            configure(sdf.writeStream)
            .trigger(**(trigger or {"availableNow": True}))
            .start()
        )
    if wait:
        q.awaitTermination()
    return q


def _events_schema(
    sf_dir: str, path_glob: str = _GLOB
) -> tuple[T.StructType, str, str | None]:
    """Declared read schema for the on-disk events parquet.

    Probes the first file matching ``path_glob`` with the shared
    parquet-timestamp helper (htsql_spark.parquet_ts — same logic the
    batch reader uses): TIMESTAMP(NANOS) columns are declared as raw
    longs and converted in :func:`read_events_stream`; tz-aware
    (isAdjustedToUTC) columns are declared TIMESTAMP, zone-less ones
    TIMESTAMP_NTZ.  Returns (schema, ts_unit, ts_tz).  In a
    landing-directory deployment the directory may start empty — the
    error says so instead of a bare FileNotFoundError.
    """
    import glob as globlib

    from ..parquet_ts import declared_type, timestamp_fields

    files = sorted(globlib.glob(f"{sf_dir}/{path_glob}"))
    if not files:
        raise FileNotFoundError(
            f"no file matching {path_glob!r} in {sf_dir} to probe the "
            "stream schema; write one first or declare the schema "
            "explicitly"
        )
    ts_unit, ts_tz = "us", None
    for name, unit, tz in timestamp_fields(files[0]):
        if name == "ts":
            ts_unit, ts_tz = unit, tz
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", declared_type(ts_unit, ts_tz)),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )
    return schema, ts_unit, ts_tz


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream of events with a proper event-time column."""
    # the file source wants a directory: stream the sf dir filtered to
    # the events file (a real deployment points this at a landing dir)
    from ..parquet_ts import from_nano_long

    schema, ts_unit, ts_tz = _events_schema(sf_dir)
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", _GLOB)
        .parquet(sf_dir)
    )
    if ts_unit == "ns":
        raw = raw.withColumn("ts", from_nano_long("ts", ts_tz))
    # event-time watermarks accept only TIMESTAMP: cast the contract
    # type (TIMESTAMP_NTZ for zone-less data, same as engine.table)
    # at this one documented boundary — the UTC session timezone
    # preserves the wall clock, so values agree with batch oracles
    if not ts_tz:
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def read_table_stream(spark: SparkSession, data_dir: str, fname: str) -> DataFrame:
    """General stream mount of any parquet-backed catalog table — the
    source Engine.df_stream() compiles stream-mounted scans against
    (catalog ``stream: true``).  The read schema is probed from the
    existing batch file (one pyarrow footer read; a landing-directory
    deployment would declare it), TIMESTAMP(NANOS) columns arrive as
    raw longs and convert exactly like the batch reader, and every
    zone-less timestamp is cast TIMESTAMP at this one boundary so the
    columns are watermark-eligible — under the engine's UTC session
    timezone the wall clock (and therefore every batch-twin oracle
    value) is preserved."""
    import glob as globlib

    from ..parquet_ts import declared_type, from_nano_long, timestamp_fields

    glob = f"{fname}.parquet"
    files = sorted(globlib.glob(f"{data_dir}/{glob}"))
    if not files:
        # directory landing mount ({data_dir}/{fname}/ accumulating
        # many parquet files — the multi-micro-batch landing-zone
        # shape the batch scan also reads); each file is one
        # maxFilesPerTrigger=1 micro-batch
        files = sorted(globlib.glob(f"{data_dir}/{fname}/*.parquet"))
        if files:
            data_dir = f"{data_dir}/{fname}"
            glob = "*.parquet"
    if not files:
        raise FileNotFoundError(
            f"no file matching {glob!r} in {data_dir} to probe the"
            " stream schema; write one first"
        )
    ts_fields = timestamp_fields(files[0])
    ts_meta = {name: (unit, tz) for name, unit, tz in ts_fields}
    # probe the batch schema WITHOUT triggering a scan, then redeclare
    # the timestamp columns per the shared contract (nano → long)
    batch_schema = spark.read.parquet(files[0]).schema
    fields = [
        T.StructField(
            f.name,
            declared_type(*ts_meta[f.name]) if f.name in ts_meta else f.dataType,
            f.nullable,
        )
        for f in batch_schema.fields
    ]
    raw = (
        spark.readStream.schema(T.StructType(fields))
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", glob)
        .parquet(data_dir)
    )
    for name, unit, tz in ts_fields:
        if unit == "ns":
            raw = raw.withColumn(name, from_nano_long(name, tz))
        if not tz:
            raw = raw.withColumn(name, F.col(name).cast("timestamp"))
    return raw


def tumbling_counts(
    events: DataFrame, window: str = "1 day", watermark: str = "1 hour"
) -> DataFrame:
    """Tumbling-window event counts per type; late rows beyond the
    watermark are dropped (the late-data policy)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
        .select(
            F.col("w.start").alias("w_start"),
            F.col("w.end").alias("w_end"),
            "event_type",
            "n",
            "total",
        )
    )


def sliding_event_avg(
    events: DataFrame, window: str = "2 days", slide: str = "1 day", watermark: str = "1 hour"
) -> DataFrame:
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"))
        .agg(F.avg("value").alias("avg_value"), F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("w_start"), "avg_value", "n")
    )


def session_counts(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Per-user session windows (gap-based)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("user_id"),
            F.col("w.start").alias("s_start"),
            F.col("w.end").alias("s_end"),
            "n",
        )
    )


def purchases_join_clicks_stream(
    events: DataFrame, window: str = "24 hours", watermark: str = "1 hour"
) -> DataFrame:
    """Stream-stream interval join: each purchase pairs with the same
    user's clicks from the preceding ``window``.  Both sides carry
    watermarks so the join state store evicts rows once they can no
    longer match (bounded state — the 100 TB-rate requirement for any
    stream-stream join)."""
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
        F.col("event_id").alias("click_id"),
    )
    # ONE copy of the state-eviction-critical range predicate +
    # watermark handling (round-12 review): this kernel and the
    # language's within() both run interval_join
    return interval_join(
        purchases, clicks, "p_user", "c_user", "p_ts", "c_ts",
        window=window, watermark=watermark,
    ).select(
        "purchase_id", F.col("p_user").alias("user_id"), "click_id", "p_ts", "c_ts"
    )


def interval_join(
    left: DataFrame,
    right: DataFrame,
    left_on: str,
    right_on: str,
    left_ts: str,
    right_ts: str,
    window: str = "24 hours",
    watermark: str = "1 hour",
) -> DataFrame:
    """Generalized interval join — the kernel under
    :func:`purchases_join_clicks_stream` and the language's
    ``within()`` flow method: each left row pairs with EVERY right
    row of equal key whose timestamp falls in the left row's
    PRECEDING ``window`` (``right_ts ∈ [left_ts − window, left_ts]``).
    Works identically over batch frames (a Catalyst range join) and
    streams: any STREAMING side gets its event-time cast TIMESTAMP
    and a watermark, and the two-sided time-range condition lets the
    stream-stream join's state store evict rows once they can no
    longer match — the bounded-state requirement for any
    stream-stream join at a 100 TB rate.  Inner join: NULL keys never
    match (ANSI equality), so the batch twin is oracle-expressible as
    a plain range-predicate join."""
    if left.isStreaming or right.isStreaming:
        # event-time columns must be TIMESTAMP for watermark/state
        # bookkeeping; the cast is a no-op wall-clock-wise under the
        # engine's UTC session (same boundary as read_table_stream)
        left = left.withColumn(left_ts, F.col(left_ts).cast("timestamp"))
        right = right.withColumn(right_ts, F.col(right_ts).cast("timestamp"))
        if left.isStreaming:
            left = left.withWatermark(left_ts, watermark)
        if right.isStreaming:
            right = right.withWatermark(right_ts, watermark)
    cond = (
        (left[left_on] == right[right_on])
        & (right[right_ts] <= left[left_ts])
        & (right[right_ts] >= left[left_ts] - F.expr(f"INTERVAL {window}"))
    )
    return left.join(right, cond, "inner")


def enrich_with_dim(stream: DataFrame, dim: DataFrame, on, how: str = "left") -> DataFrame:
    """Stream-static dimension enrichment — the canonical streaming
    lookup join.  Stateless (no watermark, no state store): each
    micro-batch joins against the static side, which Spark plans as a
    broadcast-hash join when the dim is small, so a 100 TB/day stream
    never shuffles.  The static side is re-read per micro-batch, so a
    slowly-changing dim picks up updates between batches."""
    return stream.join(F.broadcast(dim), on, how)


def purchases_enriched(events: DataFrame, customer: DataFrame) -> DataFrame:
    """Purchases enriched with the customer dimension (events.user_id
    → customer.c_custkey, the catalog's events→customer arc)."""
    purchases = events.filter(F.col("event_type") == "purchase")
    return enrich_with_dim(
        purchases,
        customer.select("c_custkey", "c_name", "c_mktsegment"),
        purchases["user_id"] == F.col("c_custkey"),
    ).select(
        "event_id",
        "user_id",
        F.col("c_name").alias("cust_name"),
        F.col("c_mktsegment").alias("segment"),
        "value",
    )


def _require_stream(df: DataFrame, where: str) -> None:
    """Streaming misuse is a user error with a named remedy, not an
    opaque AnalysisException (same contract as the language's bind
    errors)."""
    if not df.isStreaming:
        raise ValueError(
            f"{where} requires a STREAMING DataFrame (use"
            " read_events_stream / spark.readStream); got a batch"
            " DataFrame — use the batch variant or write it directly"
        )


def dedup_within_watermark(events: DataFrame, watermark: str = "1 day") -> DataFrame:
    """Stateful exactly-once-per-id dedup bounded by the watermark —
    state is dropped once the watermark passes (bounded memory at
    100 TB/day rates)."""
    _require_stream(events, "dedup_within_watermark()")
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


_TOTALS_SCHEMA = "user_id long, n long, total double"
_STATE_SCHEMA = "n long, total double"


def _totals_fn(
    key, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].fillna(0.0).sum())
    state.update((n, total))
    yield pd.DataFrame({"user_id": [key[0]], "n": [n], "total": [total]})


def running_totals_per_user(events: DataFrame) -> DataFrame:
    """Custom stateful operator: per-user running (count, sum(value))
    maintained in the state store via applyInPandasWithState — the
    pattern for operators Structured Streaming lacks natively."""
    _require_stream(events, "running_totals_per_user()")
    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            _totals_fn,
            outputStructType=_TOTALS_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


_ANOM_SCHEMA = (
    "event_id long, event_type string, value double, n_prior long, z double"
)
_ANOM_STATE = "n long, s double, ss double"


def _anomaly_fn_factory(z_threshold: float, min_n: int):
    def fn(key, pdfs: "Iterator[pd.DataFrame]", state: "GroupState"):
        import numpy as np

        n0, s0, ss0 = state.get if state.exists else (0, 0.0, 0.0)
        outs = []
        # applyInPandasWithState may deliver one group's micro-batch
        # split across multiple Arrow chunks (~10k rows each) in
        # arbitrary order; the documented (ts, event_id) processing
        # order only holds if we materialize ALL chunks and sort ONCE.
        # Memory contract: the concat holds ONE KEY's micro-batch
        # slice — under total key skew that is the whole micro-batch
        # on one executor, so micro-batch sizing (maxFilesPerTrigger /
        # maxOffsetsPerTrigger source rate limits) is this operator's
        # memory control, not an internal cap (a cap would silently
        # break the ordering guarantee the r7 fix established).
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            whole = (
                pd.concat(chunks, ignore_index=True)
                if len(chunks) > 1
                else chunks[0]
            )
            whole = whole.sort_values(["ts", "event_id"])
            pdf = whole
            x = pdf["value"].fillna(0.0).to_numpy(dtype="float64")
            m = len(x)
            # prior-state stats BEFORE each row, vectorized: counts /
            # sums / sumsquares of everything seen earlier
            idx = np.arange(m, dtype="float64")
            cs = np.concatenate(([0.0], np.cumsum(x)[:-1]))
            css = np.concatenate(([0.0], np.cumsum(x * x)[:-1]))
            n_pr = n0 + idx
            s_pr = s0 + cs
            ss_pr = ss0 + css
            with np.errstate(invalid="ignore", divide="ignore"):
                mean_pr = s_pr / n_pr
                var_pr = (ss_pr - n_pr * mean_pr * mean_pr) / (n_pr - 1)
                sd_pr = np.sqrt(np.maximum(var_pr, 0.0))
                z = (x - mean_pr) / sd_pr
            flag = (n_pr >= min_n) & (sd_pr > 0) & (np.abs(z) > z_threshold)
            if flag.any():
                sel = pdf.iloc[np.flatnonzero(flag)]
                outs.append(
                    pd.DataFrame(
                        {
                            "event_id": sel["event_id"].to_numpy(),
                            "event_type": key[0],
                            "value": sel["value"].to_numpy(),
                            "n_prior": n_pr[flag].astype("int64"),
                            "z": np.round(z[flag], 6),
                        }
                    )
                )
            n0 += m
            s0 += float(x.sum())
            ss0 += float((x * x).sum())
        state.update((int(n0), float(s0), float(ss0)))
        for o in outs:
            yield o

    return fn


def streaming_anomalies(
    events: DataFrame, z_threshold: float = 3.0, min_n: int = 10
) -> DataFrame:
    """Stateful streaming anomaly detection: per event type, flag
    values whose z-score against everything seen EARLIER in the
    stream (expanding mean/std held as (n, Σx, Σx²) in the state
    store) exceeds ``z_threshold``.  The classic monitoring op
    Structured Streaming lacks natively — windowed aggs see only
    their window; this sees the whole history in O(1) state.

    Within each micro-batch rows are processed in (ts, event_id)
    order, so a single availableNow drain is fully deterministic and
    value-checkable against the batch expanding-window SQL (the gate
    oracle); across live micro-batches state evolves in arrival
    order, as any online detector does.  State per key is three
    numbers — millions of keys cost MBs."""
    _require_stream(events, "streaming_anomalies()")
    return events.groupBy("event_type").applyInPandasWithState(
        _anomaly_fn_factory(z_threshold, min_n),
        outputStructType=_ANOM_SCHEMA,
        stateStructType=_ANOM_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def expanding_anomalies(
    events: DataFrame, z_threshold: float = 3.0, min_n: int = 10
) -> DataFrame:
    """Batch-replay twin of :func:`streaming_anomalies`: the same
    expanding z-score over everything seen EARLIER in (ts, event_id)
    order, expressed declaratively as an unbounded-preceding window —
    value-identical to one availableNow drain of the stateful stream
    (both round z to 6 decimals; nulls count as 0.0 exactly like the
    state update).  This is the form the QUERY LANGUAGE lowers to
    (``/events.anomalies(3.0)``) — a static table has no state store,
    and the window form keeps the whole computation inside Catalyst.

    Scale: one shuffle on event_type; each type's timeline is a
    single ordered partition (inherent to expanding statistics —
    identical to the stream's per-key state), and types are few, so
    parallelism comes from the type count, exactly like the
    stateful form."""
    from pyspark.sql.window import Window

    # nulls LAST: pandas sort_values puts NaT at the end, so the
    # stateful kernel processes null-ts rows after every timestamped
    # row — Spark's default asc_nulls_first would silently feed them
    # into every row's prior statistics instead (DuckDB's ASC default
    # is also NULLS LAST, so the oracle agrees)
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.col("ts").asc_nulls_last(), "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    xv = F.coalesce(F.col("value").cast("double"), F.lit(0.0))
    pre = (
        events.select("event_id", "event_type", "ts", "value", xv.alias("__xv"))
        .withColumn("__npr", F.count(F.lit(1)).over(w))
        .withColumn("__mean", F.avg("__xv").over(w))
        .withColumn("__sd", F.stddev_samp("__xv").over(w))
    )
    # threshold on the UNROUNDED ratio (the stateful kernel and the
    # SQL oracle both do); round only the OUTPUT — filtering on the
    # rounded value would drop a row whose true |z| sits in
    # (threshold, threshold + 5e-7]
    zraw = (F.col("__xv") - F.col("__mean")) / F.col("__sd")
    return (
        pre.withColumn("__zraw", zraw)
        .filter(
            (F.col("__npr") >= min_n)
            & (F.col("__sd") > 0)
            & (F.abs(F.col("__zraw")) > z_threshold)
        )
        .select(
            "event_id",
            "event_type",
            "value",
            F.col("__npr").alias("n_prior"),
            F.round("__zraw", 6).alias("z"),
        )
    )


def run_to_memory(
    stream_df: DataFrame,
    name: str,
    output_mode: str = "append",
):
    """Drive a streaming DataFrame to completion over the available
    input (availableNow trigger) into an in-memory table; returns the
    query handle after termination.  Partitions are sized by
    :func:`drain` from the stream's own file sources."""
    return drain(
        stream_df,
        lambda w: w.format("memory").queryName(name).outputMode(output_mode),
    )


def windowed_distinct_users(
    events: DataFrame,
    window: str = "1 day",
    watermark: str = "1 hour",
    lgk: int = 14,
) -> DataFrame:
    """Tumbling-window approximate distinct users per event type via
    the mergeable Datasketches HLL aggregate — the streaming form of
    ``operators.sketches.hll_distinct``.  ``countDistinct`` is not
    executable under incremental streaming aggregation (full distinct
    state per window); the HLL buffer is KB-sized, merges across
    micro-batches, and closes with the watermark like any windowed
    agg."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
        .agg(
            F.expr(
                f"hll_sketch_estimate(hll_sketch_agg(user_id, {lgk}))"
            ).alias("approx_users")
        )
        .select(
            F.col("w.start").alias("w_start"),
            F.col("w.end").alias("w_end"),
            "event_type",
            "approx_users",
        )
    )


def windowed_user_counts(
    events: DataFrame,
    window: str = "1 day",
    watermark: str = "1 hour",
) -> DataFrame:
    """Tumbling-window per-user activity counts per event type — the
    streaming half of a windowed top-k leaderboard.  Ranking is NOT
    incrementally expressible (top-k over a window needs the window
    CLOSED first), so the correct split at any scale is: stream the
    additive (window, type, user) counts with watermark-closed
    append emission, then rank batch-side over the emitted table —
    see :func:`rank_top_users`.  State per key is one count; the
    shuffle key (window, type, user) is high-cardinality and
    naturally balanced."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(
            F.window("ts", window).alias("w"),
            F.col("event_type"),
            F.col("user_id"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").alias("w_start"),
            F.col("w.end").alias("w_end"),
            "event_type",
            "user_id",
            "n",
        )
    )


def rank_top_users(counts: DataFrame, k: int = 3) -> DataFrame:
    """Batch ranking step over :func:`windowed_user_counts` output:
    top ``k`` users per (window, event_type) with the deterministic
    (n desc, user_id) tie-break.  One window shuffle keyed on the
    (window, type) pair — partitions are single windows, so the sort
    is tiny no matter how long the stream has run."""
    from pyspark.sql import Window as W

    w = W.partitionBy("w_start", "event_type").orderBy(
        F.col("n").desc(), F.col("user_id")
    )
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("w_start", "event_type", "user_id", "n", "rnk")
    )


def windowed_value_quantiles(
    events: DataFrame,
    window: str = "1 day",
    watermark: str = "1 hour",
    accuracy: int = 10000,
) -> DataFrame:
    """Tumbling-window p50/p95 of ``value`` per event type — streaming
    quantile monitoring (latency/size SLO tracking over an event
    stream).  Exact ``percentile`` cannot run incrementally (full
    per-window value state); ``percentile_approx``'s Greenwald-Khanna
    summary is bounded (O(accuracy·log n)), merges across
    micro-batches, and closes with the watermark like any windowed
    agg — the quantile sibling of :func:`windowed_distinct_users`,
    and the streaming counterpart of the batch KLL state family
    (operators/sketches.py).

    At window sizes below ``accuracy`` the GK summary retains every
    value, so the emitted quantiles are EXACTLY the discrete
    (type-1) quantiles of the window — verified value-for-value
    against DuckDB ``quantile_disc`` on the fixture (the driver gate
    relies on this; raise ``accuracy`` above the max expected
    per-window count to keep the gate exact, or accept ε = 1/accuracy
    rank error at true scale)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
        .agg(
            F.percentile_approx("value", [0.5, 0.95], accuracy).alias("__q"),
            F.count("value").alias("n_values"),
        )
        .select(
            F.col("w.start").alias("w_start"),
            F.col("w.end").alias("w_end"),
            "event_type",
            F.col("__q")[0].alias("p50"),
            F.col("__q")[1].alias("p95"),
            "n_values",
        )
    )
