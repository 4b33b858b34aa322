"""Streaming corpus curation: the batch ``curate_corpus`` pipeline
re-expressed over a document stream — continuous ingest for a
training-data landing zone.

Stage semantics on a stream:

* **quality gate** — narrow stateless filter, identical expression to
  batch (the codegen'd ``quality_score``); applied per micro-batch at
  the scan.
* **fingerprint dedup** — stateful: keep the FIRST-SEEN document per
  normalized-content fingerprint.  With an event-time column, state
  is bounded via ``dropDuplicatesWithinWatermark`` (expired
  fingerprints are forgotten after the watermark); without one, the
  keyed state grows with the distinct-fingerprint count — fine for a
  drain-the-backlog ``availableNow`` job, wrong for an unbounded
  24/7 stream (give it a timestamp).
* **split tagging** — narrow md5 threshold arithmetic, identical to
  batch; a doc's split never depends on other rows, so batch and
  stream agree row-for-row.

Batch-vs-stream note: batch ``curate_corpus`` picks the MIN doc_id
per fingerprint; a stream keeps the first ARRIVAL.  For an
append-in-id-order landing zone the two coincide; otherwise the
survivor may differ while the kept fingerprint set is identical —
the documented streaming contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .events import drain


def read_documents_stream(
    spark: SparkSession, sf_dir: str, glob: str = "*.parquet"
) -> DataFrame:
    """File-source stream over a documents landing directory (swap
    ``format`` for Kafka in production).  Schema is probed from the
    existing files — file streams require a declared schema.  An
    empty or not-yet-populated landing directory gets a named error
    with the remedy (matching events._events_schema) instead of an
    opaque 'Unable to infer schema' AnalysisException."""
    import glob as globlib

    if not globlib.glob(f"{sf_dir}/{glob}"):
        raise FileNotFoundError(
            f"no file matching {glob!r} in {sf_dir} to probe the stream"
            " schema; write one first or declare the schema explicitly"
            " with spark.readStream.schema(...)"
        )
    schema = spark.read.option("pathGlobFilter", glob).parquet(sf_dir).schema
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", glob)
        .option("maxFilesPerTrigger", 1)
        .parquet(sf_dir)
    )


def _batch_id_base(spark: SparkSession, archive_path: str) -> int:
    """Offset added to foreachBatch's batch_id when naming archive
    subdirectories (``batch=<base + batch_id>``).

    Why: per-batch overwrite gives crash-retry idempotency ONLY while
    batch ids line up with directory names.  A FRESH checkpoint
    restarts ids at 0 — so adopting a pre-existing archive (the
    index-heal path, or pointing a new checkpoint at an old archive)
    would OVERWRITE archive/batch=0 with the new stream's first batch:
    silent loss of the oldest archived data.  On first start the base
    is therefore (max existing batch dir + 1), persisted in a marker
    file NEXT TO the checkpoint so crash-retries (which resume the
    same checkpoint AND the same marker) keep the mapping stable."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    marker = jvm.org.apache.hadoop.fs.Path(
        f"{archive_path}__checkpoint", "__batch_id_base"
    )
    fs = marker.getFileSystem(conf)
    if fs.exists(marker):
        stream = fs.open(marker)
        try:
            raw = bytes(stream.readAllBytes()).decode("ascii").strip()
        finally:
            stream.close()
        return int(raw or 0)
    base = 0
    # legacy adoption: if THIS checkpoint already STARTED any batch
    # (archive produced by pre-marker code) the existing batch=N dirs
    # were written under the identity mapping — base must stay 0 so a
    # crash-retried in-flight batch overwrites its OWN old dir instead
    # of duplicating its documents under batch=base+N.  The OFFSETS
    # log is the witness, not commits/: a pre-marker run that crashed
    # DURING its first batch has offsets/0 and archive/batch=0 but no
    # commit yet — keying on commits/ would misclassify exactly that
    # in-flight case as a foreign-archive adoption and duplicate the
    # retried batch.  max+1 stays reserved for genuinely fresh
    # checkpoints (no offsets log at all) adopting a foreign archive.
    offsets = jvm.org.apache.hadoop.fs.Path(
        f"{archive_path}__checkpoint", "offsets"
    )
    if fs.exists(offsets) and any(
        s.getPath().getName().isdigit() for s in fs.listStatus(offsets)
    ):
        out = fs.create(marker, True)
        try:
            out.write(b"0")
        finally:
            out.close()
        return 0
    ap = jvm.org.apache.hadoop.fs.Path(archive_path)
    afs = ap.getFileSystem(conf)
    if afs.exists(ap):
        existing = [
            int(s.getPath().getName().split("=", 1)[1])
            for s in afs.listStatus(ap)
            if s.isDirectory() and s.getPath().getName().startswith("batch=")
        ]
        if existing:
            base = max(existing) + 1
    out = fs.create(marker, True)
    try:
        out.write(str(base).encode("ascii"))
    finally:
        out.close()
    return base



def run_dedup_ingest(
    spark: SparkSession,
    stream: DataFrame,
    archive_path: str,
    index_table: str,
    threshold: float = 0.8,
    k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
) -> None:
    """Continuous near-dup-free ingest: each micro-batch is deduped
    against the ever-growing archive via the bucketed LSH band index,
    survivors are appended to the archive, and their bands appended
    to the index — the index-maintenance loop
    :func:`~htsql_spark.operators.dedup.materialize_band_index`
    documents, driven by Structured Streaming.

    Per batch: banding the batch is O(batch); the candidate join
    reads the bucketed index (no archive recompute, no archive-side
    shuffle); verification re-shingles only candidate docs.  The
    archive is touched only through (a) the index scan and (b) the
    candidate-doc semi-join — never fully re-processed.

    Delivery semantics: offsets are exactly-once via the streaming
    checkpoint, but ``foreachBatch`` bodies re-RUN on crash-retry.
    The archive write is therefore idempotent (per-batch
    subdirectory, overwritten on retry), and the batch's OWN doc_ids
    are anti-joined out of the band index and the archive before the
    candidate join — a retry that finds its own crashed attempt's
    bands/archive rows (written before the checkpoint committed) must
    not let the batch kill itself by matching its own documents at
    jaccard 1.0.  With self-rows excluded, a retried batch recomputes
    the identical survivor set (within-batch dedup is deterministic
    min-id, and two first-attempt survivors never verify ≥ threshold
    against each other, else one would have died within-batch).  The
    index append stays at-least-once: leftover duplicate band rows
    only produce duplicate candidates and the candidate join is
    ``distinct()``.  availableNow drains the backlog and returns.

    Within-batch duplicates are also dropped (first-seen by id
    order); batch ids must be globally unique (append-only ingest
    contract)."""
    if "." in index_table:
        # the orphan-location cleanup below maps the table name onto a
        # warehouse path; a db-qualified name does NOT lower to a
        # joinable path segment ('db.tbl' != 'db.db/tbl'), so reject
        # rather than risk touching the wrong directory
        raise ValueError(
            f"qualified index_table names are not supported: {index_table!r}"
        )
    if not spark.catalog.tableExists(index_table):
        # index/archive desync guard: an existing archive with a
        # MISSING index would silently admit exact clones of every
        # archived doc (first batch dedups only within itself) and
        # then overwrite the index with just that batch's bands —
        # permanent, quiet duplicate admission.  Fail loudly instead;
        # the index is rebuildable from the archive
        # (operators.dedup.materialize_band_index).
        ap = spark._jvm.org.apache.hadoop.fs.Path(archive_path)
        afs = ap.getFileSystem(spark._jsc.hadoopConfiguration())
        heal_from_archive = afs.exists(ap)
        # a previously-dropped table can orphan its managed location,
        # which blocks re-creation.  Clear stale metadata first, then
        # delete the directory ONLY if its contents look like an
        # orphaned Spark-managed table (data files + markers, nothing
        # else) — never an unrelated directory that shares the name.
        spark.sql(f"DROP TABLE IF EXISTS {index_table}")
        wh = spark.conf.get("spark.sql.warehouse.dir")
        p = spark._jvm.org.apache.hadoop.fs.Path(wh, index_table.lower())
        fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
        if fs.exists(p) and spark.catalog.currentDatabase() != "default":
            # the warehouse-path mapping above resolves against the
            # DEFAULT database location; under another current
            # database the cleanup could target a healthy same-named
            # default-db table's directory.  Raise only when a stale
            # path actually exists — a clean slate proceeds normally.
            raise ValueError(
                "run_dedup_ingest's orphan cleanup only supports the "
                f"'default' database (current: "
                f"{spark.catalog.currentDatabase()!r}); clear the stale "
                f"location of {index_table!r} manually"
            )
        if fs.exists(p):
            names = [
                s.getPath().getName() for s in fs.listStatus(p)
            ]
            orphaned_table = all(
                n == "_SUCCESS" or n.startswith("part-") or n.startswith(".")
                for n in names
            )
            if orphaned_table:
                fs.delete(p, True)
            else:
                raise ValueError(
                    f"refusing to delete {p}: contents do not look like an "
                    f"orphaned managed-table location ({names[:5]}...)"
                )
        if heal_from_archive:
            # the loop's OWN crash window (batch 0's archive write
            # committed, the process died before write_bucketed created
            # the index) — rebuild the index from the archive with THIS
            # call's band parameters instead of bricking the restart
            # (runs AFTER the orphan cleanup so a stale warehouse
            # location cannot block the CREATE).  An unreadable archive
            # (only _temporary from a mid-write crash) fails loudly.
            from ..operators.dedup import materialize_band_index

            try:
                archived = spark.read.parquet(archive_path)
            except Exception as exc:
                raise ValueError(
                    f"archive {archive_path} exists but index table "
                    f"{index_table!r} does not, and the archive is not "
                    f"readable ({exc}) — if only _temporary files are "
                    "present the first write never committed: delete "
                    "the archive directory and re-run"
                ) from None
            materialize_band_index(
                archived, index_table, k=k, num_hashes=num_hashes, bands=bands
            )

    base = _batch_id_base(spark, archive_path)

    def process(batch: DataFrame, batch_id: int) -> None:
        _process_ingest_batch(
            spark, batch, base + batch_id, archive_path, index_table,
            threshold, k=k, num_hashes=num_hashes, bands=bands,
        )

    drain(
        stream,
        lambda w: w.foreachBatch(process).option(
            "checkpointLocation", f"{archive_path}__checkpoint"
        ),
    )


def _process_ingest_batch(
    spark: SparkSession,
    batch: DataFrame,
    batch_id: int,
    archive_path: str,
    index_table: str,
    threshold: float,
    k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
) -> None:
    """One micro-batch of the dedup-ingest loop (module-level so the
    crash-retry contract is directly testable: calling it twice with
    the same batch must produce identical survivors).

    Holds the archive's writer-exclusion lock for the whole batch —
    a concurrent ``compact_dataset`` on the archive (which would
    silently drop this batch's append) raises on one side or the
    other instead (operators/layout.py)."""
    from pyspark.sql import functions as BF

    from ..operators import dedup
    from ..operators.layout import acquire_dataset_lock, release_dataset_lock

    acquire_dataset_lock(
        spark, archive_path, owner=f"run_dedup_ingest batch={batch_id}"
    )
    try:
        _process_ingest_batch_locked(
            spark, batch, batch_id, archive_path, index_table, threshold,
            k=k, num_hashes=num_hashes, bands=bands,
        )
    finally:
        release_dataset_lock(spark, archive_path)


def _process_ingest_batch_locked(
    spark: SparkSession,
    batch: DataFrame,
    batch_id: int,
    archive_path: str,
    index_table: str,
    threshold: float,
    k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
) -> None:
    from pyspark.sql import functions as BF

    from ..operators import dedup

    batch = batch.dropDuplicates(["doc_id"])
    have_archive = spark.catalog.tableExists(index_table)
    if have_archive:
        # crash-retry guard: a previous attempt of THIS batch may
        # already have appended its bands to the index and written
        # its archive subdir before the checkpoint committed —
        # exclude the batch's own doc_ids from both sides so the
        # retry can't match documents against themselves
        batch_ids = batch.select("doc_id")
        archive = spark.read.parquet(archive_path).join(
            BF.broadcast(batch_ids), "doc_id", "left_anti"
        )
        index_bands = spark.table(index_table).join(
            BF.broadcast(batch_ids), "doc_id", "left_anti"
        )
        pairs = dedup.incremental_dup_pairs(
            archive,
            batch,
            k=k,
            num_hashes=num_hashes,
            bands=bands,
            threshold=threshold,
            archive_bands=index_bands,
        )
        # drop batch docs that matched the archive (origin 'cross':
        # b is the batch doc) or an earlier batch doc (origin
        # 'within': b is the larger id, min survives) — both origins
        # kill b, so the dead set is simply every pair's b
        dead = pairs.select(BF.col("b").alias("doc_id"))
        survivors = batch.join(dead.distinct(), "doc_id", "left_anti")
    else:
        pairs = dedup.incremental_dup_pairs(
            batch.limit(0), batch, k=k, num_hashes=num_hashes,
            bands=bands, threshold=threshold,
        )
        dead = pairs.select(BF.col("b").alias("doc_id"))
        survivors = batch.join(dead.distinct(), "doc_id", "left_anti")
    survivors = survivors.cache()
    try:
        # per-batch subdir + overwrite → a retried batch rewrites its
        # own directory instead of double-appending
        survivors.write.mode("overwrite").parquet(
            f"{archive_path}/batch={batch_id}"
        )
        from ..operators.layout import write_bucketed

        write_bucketed(
            dedup._band_table(survivors, k, num_hashes, bands),
            index_table,
            ["h"],
            sort_cols=["h"],
            # first batch (re)creates the table — overwrite also clears
            # any stale warehouse location from a dropped table; later
            # batches append with the same bucket spec, staying bucketed
            mode="append" if have_archive else "overwrite",
        )
        # write_bucketed refreshes via the writing DataFrame's session,
        # which inside foreachBatch is the micro-batch CLONE — the
        # parent session's cached file listing (populated by this
        # batch's spark.table(index_table) read) stays stale without an
        # explicit parent-side refresh, and the next batch / the caller
        # would read the pre-append row set
        spark.catalog.refreshTable(index_table)
    finally:
        # unpersist on the failure path too: a retried micro-batch
        # would otherwise leak one unowned InMemoryRelation per attempt
        survivors.unpersist()


def curate_stream(
    docs: DataFrame,
    min_quality: float = 0.5,
    weights: dict[str, float] | None = None,
    ts_col: str | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Quality gate → first-seen fingerprint dedup → split tag, over a
    streaming documents DataFrame.  Returns (doc_id, quality, split)
    — the same shape as batch ``curate_corpus``."""
    from ..operators.pipeline import hash_split
    from ..operators.textstats import fingerprint, quality_score

    t = F.col("text")
    scored = docs.select(
        "doc_id",
        *( [F.col(ts_col)] if ts_col else [] ),
        quality_score(t).alias("quality"),
        fingerprint(t).alias("fp"),
    ).filter(F.col("quality") >= min_quality)
    if ts_col:
        deduped = scored.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            ["fp"]
        ).drop(ts_col)
    else:
        deduped = scored.dropDuplicates(["fp"])
    return hash_split(deduped.drop("fp"), "doc_id", weights)


def run_exact_dedup_ingest(
    spark: SparkSession,
    stream: DataFrame,
    archive_path: str,
    fpp: float = 0.001,
) -> None:
    """Continuous EXACT-dedup ingest: each micro-batch keeps only
    documents whose normalized-content fingerprint has never been
    archived, and appends survivors (with their ``fp`` column, so the
    archive is probe-ready) to a per-batch subdirectory.

    This is the bloom INVERSION of :func:`run_dedup_ingest`'s
    index-maintenance design: instead of keeping a secondary band
    index in step with the archive, the BATCH (small) folds into a
    bloom (operators/sketches.py) and the ever-growing ARCHIVE is
    scanned narrowly — fp column only, filter-pushed, never shuffled —
    probing batch membership.  Bloom false positives only cost the
    tiny fp equi-join that confirms them; false negatives don't
    exist, so no duplicate ever slips through.  The trade: per-batch
    work is O(archive scan) instead of O(index lookup) — right when
    batches are frequent-ish and the archive's fp column is compact
    columnar; the band-index loop stays the right choice for NEAR-dup
    semantics or very high trigger rates.

    Delivery semantics match run_dedup_ingest: offsets are
    exactly-once via the checkpoint, foreachBatch bodies re-run on
    crash-retry, so the archive write is idempotent (per-batch
    subdirectory, overwritten) and the batch's own doc_ids are
    excluded from the archive side before probing — a retry must not
    drop documents by matching its own crashed attempt's rows.
    Within-batch exact dups keep the min doc_id."""

    base = _batch_id_base(spark, archive_path)

    def process(batch: DataFrame, batch_id: int) -> None:
        _process_exact_batch(spark, batch, base + batch_id, archive_path, fpp)

    drain(
        stream,
        lambda w: w.foreachBatch(process).option(
            "checkpointLocation", f"{archive_path}__checkpoint"
        ),
    )


def _process_exact_batch(
    spark: SparkSession,
    batch: DataFrame,
    batch_id: int,
    archive_path: str,
    fpp: float,
) -> None:
    """One micro-batch of the exact-dedup loop (module-level so the
    crash-retry contract is directly testable).  Holds the archive's
    writer-exclusion lock for the whole batch — see
    ``_process_ingest_batch``."""
    from ..operators.layout import acquire_dataset_lock, release_dataset_lock

    acquire_dataset_lock(
        spark, archive_path, owner=f"run_exact_dedup_ingest batch={batch_id}"
    )
    try:
        _process_exact_batch_locked(spark, batch, batch_id, archive_path, fpp)
    finally:
        release_dataset_lock(spark, archive_path)


def _process_exact_batch_locked(
    spark: SparkSession,
    batch: DataFrame,
    batch_id: int,
    archive_path: str,
    fpp: float,
) -> None:
    from pyspark.sql import Window as BW
    from pyspark.sql import functions as BF

    from ..operators.sketches import bloom_hits, bloom_params, bloom_words
    from ..operators.textstats import fingerprint

    batch = batch.dropDuplicates(["doc_id"]).withColumn(
        "fp", fingerprint(BF.col("text"))
    )
    # within-batch exact dedup: keep min doc_id per fingerprint.
    # Pin the prepared batch: it feeds three jobs (sizing count,
    # bloom build, final anti-join/write) — same 3x-consumer pattern
    # bloom_anti_join pins, and a micro-batch is small by definition
    w = BW.partitionBy("fp")
    batch = (
        batch.withColumn("__keep", BF.min("doc_id").over(w))
        .filter(BF.col("doc_id") == BF.col("__keep"))
        .drop("__keep")
        .localCheckpoint(eager=True)
    )
    # committed-data check, not bare existence and not try/except: a
    # crashed FIRST write leaves archive_path with only _temporary
    # droppings (bare fs.exists would route into an uninferrable
    # parquet read → permanent retry crash-loop), while a CORRUPT
    # archive with committed part- files must still fail the batch
    # loudly — swallowing it as "no archive yet" would re-admit every
    # duplicate the archive was supposed to block
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(archive_path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    have_archive = False
    if fs.exists(p):
        root = fs.makeQualified(p).toString().rstrip("/")
        it = fs.listFiles(p, True)
        while it.hasNext():
            fpath = it.next().getPath().toString()
            rel = fpath[len(root) + 1 :] if fpath.startswith(root) else fpath
            parts = rel.split("/")
            # a COMMITTED data file: part- leaf with no hidden
            # (_temporary/._*) component anywhere on its path
            if parts[-1].startswith("part-") and not any(
                c.startswith("_") or c.startswith(".") for c in parts[:-1]
            ):
                have_archive = True
                break
    if have_archive:
        archive = spark.read.parquet(archive_path)
        # crash-retry guard: exclude this batch's own rows (a crashed
        # attempt may have written batch=N before the checkpoint
        # committed)
        arch_fps = archive.join(
            BF.broadcast(batch.select("doc_id")), "doc_id", "left_anti"
        ).select("fp")
        batch_fps = batch.select("fp")
        n = batch_fps.count()
        m_bits, k = bloom_params(n, fpp)
        words = bloom_words(batch_fps, "fp", m_bits, k)
        # narrow archive scan: bloom-positive archive fps (true dups +
        # ~fpp sliver), then the exact anti-join confirms — a sliver
        # fp that isn't really in the batch simply matches nothing
        dup_fps = bloom_hits(arch_fps, "fp", words, m_bits, k).distinct()
        survivors = batch.join(BF.broadcast(dup_fps), "fp", "left_anti")
    else:
        survivors = batch
    survivors.write.mode("overwrite").parquet(f"{archive_path}/batch={batch_id}")
