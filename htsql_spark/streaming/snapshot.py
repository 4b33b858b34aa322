"""Streaming snapshot maintenance: a CDC change stream continuously
folded into a queryable snapshot dataset — the MERGE-INTO loop every
warehouse mirror runs, built from :func:`~htsql_spark.operators.
analytics.apply_cdc` plus the layout module's writer-exclusion lock
and rename-swap discipline.

Per micro-batch the snapshot side is NEVER shuffled (apply_cdc's
broadcast key-set anti join), so the loop's steady-state COMPUTE is
O(batch) + one map-side pass.  The snapshot has one layout: it lives
as hive-style ``htsql__bucket=K/`` directories keyed by
``pmod(hash(key), N)``, and each batch rewrites ONLY the buckets
containing touched keys — per-epoch I/O is O(changed groups ×
snapshot/N), the same file-level pruning Delta/Iceberg MERGE does,
built from stock Spark ops.  A batch touching most buckets (at least
:data:`FULL_REWRITE_FRACTION` of them) falls back to one full
rewrite, which is cheaper than swapping every bucket individually.
Bucket count and key are recorded in a sibling ``{path}__buckets``
marker so every epoch (and every restart) agrees on the layout;
readers of the root see an extra ``htsql__bucket`` column —
:func:`read_snapshot` strips it.  A snapshot without a marker (an
older engine's flat parquet dataset) is rewritten bucketed by its
next batch.

Delivery semantics: offsets are exactly-once via the streaming
checkpoint, and the batch body is IDEMPOTENT — re-applying the same
change batch to an already-updated snapshot is a fixed point (upserts
rewrite the same values, deletes find nothing) — so crash-retry
re-runs converge.  Full rewrites are the two-rename + backup pattern
of ``layout.compact_dataset``; bucket swaps run the same
checked-rename discipline PER BUCKET with dot-prefixed backup dirs
(``.bck-K`` — hidden from Spark's file listing, so a reader mid-swap
sees the old bucket, the new bucket, or a momentary retryable miss,
never a duplicate).  Crash recovery on entry restores or discards any
``.bck-*`` leftovers; since foreachBatch redelivers the crashed epoch
with the same batch, the retried epoch touches the same buckets and
converges.
"""

from __future__ import annotations

import json

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.analytics import apply_cdc
from ..operators.layout import (
    acquire_dataset_lock,
    release_dataset_lock,
    replace_dataset,
)
from .events import drain

#: reader-visible partition column of a bucketed snapshot.  It cannot
#: start with ``_`` (Spark's file listing hides such paths, which
#: would hide the partition directories themselves) and is reserved —
#: the update sink rejects queries whose result already carries it.
BUCKET_COL = "htsql__bucket"

#: hidden per-bucket backup prefix used during a bucket swap; the
#: leading dot keeps mid-swap state invisible to concurrent readers.
_BUCKET_BACKUP = ".bck-"

#: bucket count of a snapshot whose first batch names none
DEFAULT_BUCKETS = 32

#: a batch touching at least this share of the buckets is applied as
#: one full rewrite instead of one swap per bucket
FULL_REWRITE_FRACTION = 0.5


def bucket_expr(keys: list[str], n_buckets: int) -> Column:
    """The bucket id of a row: ``pmod(hash(*keys), n)``.  Murmur3
    ``F.hash`` is deterministic across sessions and epochs, which is
    what makes the layout stable under restarts."""
    return F.pmod(
        F.hash(*[F.col(k) for k in keys]), F.lit(n_buckets)
    ).cast("int")


def read_snapshot(spark: SparkSession, snapshot_path: str) -> DataFrame:
    """Read a snapshot dataset in either layout, returning the logical
    schema (the bucketed layout's ``htsql__bucket`` partition column
    is an implementation detail and is stripped)."""
    df = spark.read.parquet(snapshot_path)
    if BUCKET_COL in df.columns:
        df = df.drop(BUCKET_COL)
    return df


def _read_bucket_meta(fs, jvm, snapshot_path: str) -> dict | None:
    marker = jvm.org.apache.hadoop.fs.Path(snapshot_path + "__buckets")
    if not fs.exists(marker):
        return None
    stream = fs.open(marker)
    reader = jvm.java.io.BufferedReader(
        jvm.java.io.InputStreamReader(stream)
    )
    try:
        lines = []
        while True:
            line = reader.readLine()
            if line is None:
                break
            lines.append(line)
    finally:
        reader.close()
    return json.loads("\n".join(lines))


def _write_bucket_meta(fs, jvm, snapshot_path: str, n: int, keys: list[str]) -> None:
    marker = jvm.org.apache.hadoop.fs.Path(snapshot_path + "__buckets")
    out = fs.create(marker, True)
    out.write(bytearray(json.dumps({"n": n, "key": keys}).encode("utf-8")))
    out.close()


def _recover_buckets(fs, jvm, snapshot_path: str) -> None:
    """Entry-time crash recovery for per-bucket swaps: a ``.bck-K``
    leftover means a prior epoch crashed mid-swap.  Backup present +
    live bucket present = crashed after the swap, the backup is stale;
    backup present + live missing = crashed between the renames, the
    backup IS the bucket.  O(n_buckets) directory entries — bounded by
    the layout, not by stream history."""
    HPath = jvm.org.apache.hadoop.fs.Path
    leftovers = fs.globStatus(
        HPath(snapshot_path.rstrip("/") + "/" + _BUCKET_BACKUP + "*")
    )
    for s in leftovers or []:
        k = s.getPath().getName()[len(_BUCKET_BACKUP):]
        live = HPath(f"{snapshot_path.rstrip('/')}/{BUCKET_COL}={k}")
        if fs.exists(live):
            fs.delete(s.getPath(), True)
        elif not fs.rename(s.getPath(), live):
            raise IOError(
                f"apply_cdc_batch: recovery rename({s.getPath()},"
                f" {live}) failed — snapshot bucket {k} unrecovered"
            )


def _swap_bucket(fs, jvm, snapshot_path: str, k: int, staged) -> None:
    """Swap one bucket directory in (or out, when ``staged`` is None —
    every row of the bucket was deleted).  Checked renames, hidden
    backup, restore-on-failure: the same discipline as
    ``layout.replace_dataset`` scoped to one partition directory."""
    HPath = jvm.org.apache.hadoop.fs.Path
    root = snapshot_path.rstrip("/")
    live = HPath(f"{root}/{BUCKET_COL}={k}")
    backup = HPath(f"{root}/{_BUCKET_BACKUP}{k}")
    had_live = fs.exists(live)
    if had_live and not fs.rename(live, backup):
        raise IOError(
            f"apply_cdc_batch: rename(bucket {k}, backup) failed —"
            " snapshot left untouched"
        )
    if staged is not None and not fs.rename(staged, live):
        if had_live:
            fs.rename(backup, live)  # restore
        raise IOError(
            f"apply_cdc_batch: rename(staged bucket {k}) failed —"
            " bucket restored from backup"
        )
    if had_live:
        fs.delete(backup, True)


def apply_cdc_batch(
    spark: SparkSession,
    batch: DataFrame,
    snapshot_path: str,
    key: str | list[str],
    ts_col: str = "ts",
    op_col: str = "op",
    delete_op: str = "D",
    buckets: int | None = None,
) -> None:
    """Fold one CDC batch into the snapshot at ``snapshot_path``
    under the dataset lock (shared with ``compact_dataset`` and the
    ingest loops, so maintenance passes and snapshot updates exclude
    each other).  A missing snapshot bootstraps from the batch's
    non-meta columns (first batch = initial load).  Usable directly
    for one-shot batch MERGEs too.

    The snapshot is hash-bucketed on ``key`` into ``buckets`` hive
    directories (see the module docstring): per-epoch I/O is
    proportional to the buckets containing touched keys, not the
    whole snapshot.  Size N so one bucket is a few hundred MB at the
    target scale — a 100 TB snapshot wants thousands of buckets, a
    test snapshot a handful.  ``buckets=None`` means the marker's N
    for an existing snapshot, else :data:`DEFAULT_BUCKETS`.  Once a
    snapshot is bucketed its marker pins the layout: later calls may
    omit ``buckets`` but may not change N or the key set.  A flat
    snapshot on disk (no marker) is migrated by one full rewrite,
    then scoped forever after.

    The batch is pinned once (eager ``localCheckpoint``) and planned
    by one aggregation job, which yields the touched buckets and
    whether any (``key``, ``ts_col``, ``op_col``) repeats.  A repeat
    raises ``ValueError``: which of two identical-(ts, op) changes
    wins is outside ``apply_cdc``'s determinism contract."""
    keys = [key] if isinstance(key, str) else list(key)
    if BUCKET_COL in batch.columns:
        raise ValueError(
            f"apply_cdc_batch: change batch may not carry the reserved"
            f" column {BUCKET_COL!r}"
        )
    if buckets is not None and buckets < 1:
        raise ValueError(
            f"apply_cdc_batch: buckets must be >= 1, got {buckets}"
        )
    acquire_dataset_lock(
        spark, snapshot_path, owner=f"apply_cdc_batch({snapshot_path})"
    )
    try:
        jvm = spark._jvm
        HPath = jvm.org.apache.hadoop.fs.Path
        src = HPath(snapshot_path)
        fs = src.getFileSystem(spark._jsc.hadoopConfiguration())
        backup = HPath(snapshot_path + "__presnap")
        if not fs.exists(src) and fs.exists(backup):
            # crashed between the two swap renames: the backup IS the
            # snapshot — restore before anything else.  CHECKED
            # (round-12 review): an unchecked false would make the
            # missing-snapshot bootstrap below silently reinitialize
            # the snapshot from this one change batch
            if not fs.rename(backup, src):
                raise IOError(
                    f"apply_cdc_batch: recovery rename(__presnap,"
                    f" {snapshot_path}) failed — snapshot not applied"
                )
        meta = _read_bucket_meta(fs, jvm, snapshot_path)
        if meta is None:
            n = DEFAULT_BUCKETS if buckets is None else int(buckets)
        else:
            if buckets is not None and buckets != meta["n"]:
                raise ValueError(
                    f"apply_cdc_batch: snapshot {snapshot_path} is"
                    f" bucketed with n={meta['n']} but buckets="
                    f"{buckets} was passed — the layout is pinned by"
                    " the __buckets marker"
                )
            if meta["key"] != keys:
                raise ValueError(
                    f"apply_cdc_batch: snapshot {snapshot_path} is"
                    f" bucketed by key {meta['key']} but key {keys}"
                    " was passed — bucket assignment would diverge"
                )
            n = meta["n"]
        _recover_buckets(fs, jvm, snapshot_path)
        # the batch feeds the planning job, the CDC fold and the
        # write — pin it so an expensive upstream plan (a stream's
        # micro-batch) runs once
        batch = batch.localCheckpoint(eager=True)
        stats = (
            batch.groupBy(*keys, ts_col, op_col)
            .agg(F.count(F.lit(1)).alias("__cdc_n"))
            .groupBy(bucket_expr(keys, n).alias("__cdc_b"))
            .agg(F.max("__cdc_n").alias("__cdc_n"))
            .collect()
        )
        if any(r["__cdc_n"] > 1 for r in stats):
            raise ValueError(
                f"apply_cdc_batch: key {keys} with ({ts_col}, {op_col})"
                " does not uniquely identify the batch's changes — two"
                " rows of one key share a timestamp and op, so which"
                " wins is undefined (an update-mode sink's keys must be"
                " the FULL set of grouping attributes)"
            )
        touched = sorted(r["__cdc_b"] for r in stats)
        if not touched:
            return
        snapshot_exists = fs.exists(src)
        # no marker yet = bootstrap (no dataset) or MIGRATION (flat
        # layout on disk): both need a full bucketed rewrite — the
        # scoped path would graft bucket dirs next to flat files and
        # lose the untouched rows from reads of the mixed root
        full = (
            meta is None
            or not snapshot_exists
            or len(touched) >= max(1, int(n * FULL_REWRITE_FRACTION))
        )
        root = snapshot_path.rstrip("/")
        if full:
            reads = [snapshot_path] if snapshot_exists else []
            staging = snapshot_path + "__staging"
        else:
            # explicit per-bucket paths: the untouched buckets are
            # never listed, opened, or read — this is the line that
            # makes an epoch O(changed groups)
            reads = [
                p
                for k in touched
                if fs.exists(HPath(p := f"{root}/{BUCKET_COL}={k}"))
            ]
            staging = snapshot_path + "__bstage"
        base_cols = [c for c in batch.columns if c not in (ts_col, op_col)]
        if reads:
            base = spark.read.parquet(*reads).select(*base_cols)
        else:
            base = spark.createDataFrame([], batch.select(*base_cols).schema)
        new_snap = apply_cdc(
            base, batch, key=keys, ts_col=ts_col, op_col=op_col,
            delete_op=delete_op,
        )
        # mode('overwrite') discards a crashed attempt's leftover
        # staging
        (
            new_snap.withColumn(BUCKET_COL, bucket_expr(keys, n))
            .repartition(n if full else len(touched), F.col(BUCKET_COL))
            .write.partitionBy(BUCKET_COL)
            .mode("overwrite")
            .parquet(staging)
        )
        if full:
            replace_dataset(
                spark, staging, snapshot_path, backup_suffix="__presnap"
            )
        else:
            for k in touched:
                staged = HPath(f"{staging}/{BUCKET_COL}={k}")
                _swap_bucket(
                    fs, jvm, snapshot_path, k,
                    staged if fs.exists(staged) else None,
                )
            fs.delete(HPath(staging), True)
            spark.catalog.refreshByPath(snapshot_path)
        if meta is None:
            # written AFTER the data lands: a crash before this point
            # leaves a bucketed-layout dataset without a marker, and
            # the retried epoch takes the migrate path (one full
            # bucketed rewrite) — converges
            _write_bucket_meta(fs, jvm, snapshot_path, n, keys)
    finally:
        release_dataset_lock(spark, snapshot_path)


def run_cdc_snapshot(
    spark: SparkSession,
    stream: DataFrame,
    snapshot_path: str,
    key: str | list[str],
    ts_col: str = "ts",
    op_col: str = "op",
    delete_op: str = "D",
    buckets: int | None = None,
) -> None:
    """Drive :func:`apply_cdc_batch` from a Structured Streaming
    change source with ``availableNow`` (drain the backlog, then
    return).  Change batches must carry ``key``, the snapshot
    attribute columns, ``ts_col`` and ``op_col``; ordering ACROSS
    batches is by arrival (a later micro-batch's upsert beats an
    earlier one's regardless of ts — CDC logs replay in order), and
    within a batch by (``ts_col``, ``op_col`` desc) per apply_cdc's
    contract — a batch repeating a (key, ts, op) is rejected.
    ``buckets`` sizes the hash-bucketed snapshot (default: the
    marker's N, else :data:`DEFAULT_BUCKETS`).  Partitions are sized
    by :func:`events.drain` from the stream's own sources."""

    def process(batch: DataFrame, batch_id: int) -> None:
        apply_cdc_batch(
            spark,
            batch,
            snapshot_path,
            key=key,
            ts_col=ts_col,
            op_col=op_col,
            delete_op=delete_op,
            buckets=buckets,
        )

    drain(
        stream,
        lambda w: w.foreachBatch(process).option(
            "checkpointLocation", f"{snapshot_path}__checkpoint"
        ),
    )
