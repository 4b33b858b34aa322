"""Structured Streaming surface: drive each streaming operator over
the full events fixture (availableNow) and compare against batch
computations of the same aggregation."""

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def events_batch(db):
    return db.table("events")


@pytest.fixture(scope="module")
def events_stream(spark):
    from htsql_spark import streaming

    return streaming.read_events_stream(spark, SF_DIR)


def test_tumbling_counts_match_batch(spark, events_batch, events_stream):
    from htsql_spark import streaming

    streaming.run_to_memory(
        streaming.tumbling_counts(events_stream), "t_tumbling", "append"
    )
    got = spark.table("t_tumbling")
    exp = (
        events_batch.groupBy(F.window(F.col("ts").cast("timestamp"), "1 day").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
        .select(F.col("w.start").alias("w_start"), "event_type", "n", "total")
    )
    g = {(r["w_start"], r["event_type"]): (r["n"], round(r["total"], 6)) for r in got.collect()}
    x = {(r["w_start"], r["event_type"]): (r["n"], round(r["total"], 6)) for r in exp.collect()}
    # the stream may hold back the final (open) windows; everything
    # emitted must match batch, and coverage must be near-complete
    assert g, "no windows emitted"
    for k, v in g.items():
        assert x[k] == v, f"window {k}: {v} != {x[k]}"
    assert len(g) >= len(x) - 6  # final day windows may be unemitted


def test_session_counts_runs(spark, events_stream):
    from htsql_spark import streaming

    streaming.run_to_memory(streaming.session_counts(events_stream), "t_sessions", "append")
    got = spark.table("t_sessions")
    assert got.count() > 0
    assert got.filter(F.col("n") <= 0).count() == 0


def test_dedup_within_watermark(spark, events_batch, events_stream):
    from htsql_spark import streaming

    streaming.run_to_memory(
        streaming.dedup_within_watermark(events_stream), "t_dedup", "append"
    )
    got = spark.table("t_dedup")
    assert got.count() == events_batch.select("event_id").distinct().count()


def test_running_totals_stateful(spark, events_batch, events_stream):
    from htsql_spark import streaming

    streaming.run_to_memory(
        streaming.running_totals_per_user(events_stream), "t_totals", "update"
    )
    got = spark.table("t_totals")
    # state updates emit one row per user per batch; the LAST row per
    # user is the final running total → compare with batch sums
    from pyspark.sql.window import Window

    latest = (
        got.withColumn("rn", F.monotonically_increasing_id())
        .withColumn(
            "last",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy(F.col("rn").desc())
            ),
        )
        .filter(F.col("last") == 1)
    )
    exp = events_batch.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"), F.sum(F.coalesce("value", F.lit(0.0))).alias("total")
    )
    g = {r["user_id"]: (r["n"], round(r["total"], 6)) for r in latest.collect()}
    x = {r["user_id"]: (r["n"], round(r["total"], 6)) for r in exp.collect()}
    assert g == x


def test_sliding_avg_runs(spark, events_stream):
    from htsql_spark import streaming

    streaming.run_to_memory(
        streaming.sliding_event_avg(events_stream), "t_sliding", "append"
    )
    assert spark.table("t_sliding").count() > 0


def test_parquet_sink_checkpointed(spark, events_stream, tmp_path):
    from pyspark.sql import functions as F

    from htsql_spark import streaming

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def parquet_sink(w):
        return (
            w.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
        )

    streaming.drain(streaming.dedup_within_watermark(events_stream), parquet_sink)
    back = spark.read.parquet(out)
    assert back.count() == back.select("event_id").distinct().count() > 0
    # re-running against the same checkpoint is a no-op (exactly-once)
    streaming.drain(streaming.dedup_within_watermark(events_stream), parquet_sink)
    assert spark.read.parquet(out).count() == back.count()


def test_foreach_batch_custom_sink(spark, events_stream):
    from pyspark.sql import functions as F

    from htsql_spark import streaming

    seen = []

    def sink(batch_df, batch_id):
        seen.append(batch_df.agg(F.count(F.lit(1))).collect()[0][0])

    streaming.drain(
        streaming.tumbling_counts(events_stream),
        lambda w: w.foreachBatch(sink).outputMode("update"),
    )
    assert sum(seen) > 0


def test_stream_stream_interval_join(spark, events_batch, events_stream):
    """Stream-stream join result equals the batch interval join."""
    from pyspark.sql import functions as F

    from htsql_spark import streaming

    import uuid
    name = f"t_ssj_{uuid.uuid4().hex[:8]}"
    streaming.run_to_memory(
        streaming.purchases_join_clicks_stream(events_stream), name, "append"
    )
    got = spark.table(name).select("purchase_id", "click_id")
    p = events_batch.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), F.col("user_id").alias("pu"),
        F.col("ts").alias("pts"))
    c = events_batch.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), F.col("user_id").alias("cu"),
        F.col("ts").alias("cts"))
    exp = p.join(c, (p["pu"] == c["cu"]) & (c["cts"] <= p["pts"])
                 & (c["cts"] >= p["pts"] - F.expr("INTERVAL 24 HOURS"))
                 ).select("purchase_id", "click_id")
    got_rows = sorted(tuple(r) for r in got.collect())
    exp_rows = sorted(tuple(r) for r in exp.collect())
    assert got_rows == exp_rows and len(got_rows) > 0


def test_stream_static_enrichment(spark, db, events_batch, events_stream):
    """Stream-static dim join equals the batch join, and the
    micro-batch plan is a stateless broadcast lookup (no state store
    operator — bounded memory at any stream rate)."""
    import uuid

    from htsql_spark import streaming

    name = f"t_enrich_{uuid.uuid4().hex[:8]}"
    customer = db.table("customer")
    streaming.run_to_memory(
        streaming.purchases_enriched(events_stream, customer), name, "append"
    )
    got = spark.table(name)
    exp = (
        events_batch.filter(F.col("event_type") == "purchase")
        .join(
            customer.select("c_custkey", "c_name", "c_mktsegment"),
            F.col("user_id") == F.col("c_custkey"),
            "left",
        )
        .select(
            "event_id",
            "user_id",
            F.col("c_name").alias("cust_name"),
            F.col("c_mktsegment").alias("segment"),
            "value",
        )
    )
    got_rows = sorted(tuple(r) for r in got.collect())
    exp_rows = sorted(tuple(r) for r in exp.collect())
    assert got_rows == exp_rows and len(got_rows) > 0
    # stateless: the streaming plan must not contain a state store op
    plan = streaming.purchases_enriched(events_stream, customer)._jdf.queryExecution().analyzed().toString()
    assert "StateStore" not in plan


def test_streaming_misuse_is_named_error(db):
    """Stateful/stream-only operators reject batch DataFrames with a
    named remedy instead of an opaque AnalysisException (error-corpus
    spirit for the streaming surface)."""
    import pytest

    from htsql_spark import streaming

    batch = db.table("events")
    with pytest.raises(ValueError, match="STREAMING DataFrame"):
        streaming.dedup_within_watermark(batch)
    with pytest.raises(ValueError, match="STREAMING DataFrame"):
        streaming.running_totals_per_user(batch)
    with pytest.raises(ValueError, match="STREAMING DataFrame"):
        streaming.run_to_memory(batch, "nope")


def test_curate_stream_matches_batch(spark, tmp_path):
    """Streaming curation over an id-ordered landing file equals the
    batch curate_corpus result exactly (same quality gate, same
    fingerprint survivor, same split tags) — planted exact clones
    prove the dedup state actually fires."""
    from pyspark.sql import functions as F

    from htsql_spark import streaming
    from htsql_spark.engine import HTSQL
    from htsql_spark.operators import pipeline
    from tests.conftest import SF_DIR

    docs = HTSQL(spark, SF_DIR).table("documents").filter("doc_id < 200")
    clones = docs.select(
        (F.col("doc_id") + 5000).alias("doc_id"), "text", "lang", "source", "n_chars"
    )
    corpus = docs.unionByName(clones).orderBy("doc_id")
    land = str(tmp_path / "landing")
    corpus.coalesce(1).write.parquet(land)

    stream = streaming.read_documents_stream(spark, land)
    streaming.run_to_memory(
        streaming.curate_stream(stream), "t_curate_stream", "append"
    )
    got = {
        (r["doc_id"], r["quality"], r["split"])
        for r in spark.table("t_curate_stream").collect()
    }
    exp = {
        (r["doc_id"], r["quality"], r["split"])
        for r in pipeline.curate_corpus(spark.read.parquet(land)).collect()
    }
    assert got == exp and len(got) > 0
    # every planted clone was deduped away (original survives)
    assert all(d < 5000 for d, _, _ in got)


def test_run_dedup_ingest_two_batches(spark, tmp_path):
    """Streaming dedup ingest maintains the archive + band index
    across micro-batches: batch 2's near-clones of batch 1 docs are
    dropped, genuinely new docs land, the index covers the archive."""
    import os
    import time as _t

    from pyspark.sql import functions as F

    from htsql_spark import streaming
    from htsql_spark.engine import HTSQL
    from tests.conftest import SF_DIR

    docs = HTSQL(spark, SF_DIR).table("documents")
    land = tmp_path / "landing"
    batch1 = docs.filter("doc_id < 30")
    batch2 = (
        docs.filter("doc_id >= 30 AND doc_id < 50")
        .unionByName(
            batch1.filter("doc_id < 10").select(
                (F.col("doc_id") + 70000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" zzz")).alias("text"),
                "lang", "source", "n_chars",
            )
        )
    )
    batch1.coalesce(1).write.parquet(str(land / "b1"))
    batch2.coalesce(1).write.parquet(str(land / "b2"))
    # file-source order is by modification time: make b1 strictly older
    now = _t.time()
    for sub, ts in (("b1", now - 60), ("b2", now)):
        for f in (land / sub).glob("*.parquet"):
            os.utime(f, (ts, ts))

    schema = spark.read.parquet(str(land / "b1")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .parquet(str(land))
    )
    archive = str(tmp_path / "archive")
    spark.sql("DROP TABLE IF EXISTS t_ingest_idx")
    streaming.run_dedup_ingest(spark, stream, archive, "t_ingest_idx")

    got = {r["doc_id"] for r in spark.read.parquet(archive).select("doc_id").collect()}
    # expected = replaying the same two batches through the BATCH
    # operators (stream ≡ batch equivalence; covers natural near-dups
    # inside the fixture, e.g. docs 8/12)
    from htsql_spark.operators import dedup

    dead1 = {
        r["b"] for r in dedup.minhash_dedup_pairs(batch1, threshold=0.8).collect()
    }
    archive1 = batch1.join(
        spark.createDataFrame([(d,) for d in dead1] or [(-1,)], "doc_id long"),
        "doc_id", "left_anti",
    )
    pairs2 = dedup.incremental_dup_pairs(archive1, batch2, threshold=0.8)
    dead2 = {r["b"] for r in pairs2.collect()}
    expected = {r["doc_id"] for r in archive1.collect()} | {
        r["doc_id"] for r in batch2.collect() if r["doc_id"] not in dead2
    }
    assert got == expected
    assert not any(d >= 70000 for d in got)  # every planted clone died
    assert set(range(30, 50)) <= got  # genuinely new docs all landed
    idx_ids = {
        r["doc_id"] for r in spark.table("t_ingest_idx").select("doc_id").collect()
    }
    assert idx_ids == got  # index covers exactly the archive
    spark.sql("DROP TABLE IF EXISTS t_ingest_idx")


def test_run_dedup_ingest_checkpoint_resume(spark, tmp_path):
    """A second availableNow run over the same checkpoint processes
    ONLY newly-landed files (exactly-once offsets), deduping them
    against the archive built by the first run."""
    import os
    import time as _t

    from pyspark.sql import functions as F

    from htsql_spark import streaming
    from htsql_spark.engine import HTSQL
    from tests.conftest import SF_DIR

    docs = HTSQL(spark, SF_DIR).table("documents")
    land = tmp_path / "landing"
    docs.filter("doc_id < 20").coalesce(1).write.parquet(str(land / "day1"))
    schema = spark.read.parquet(str(land / "day1")).schema

    def make_stream():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .option("pathGlobFilter", "*.parquet")
            .option("recursiveFileLookup", "true")
            .parquet(str(land))
        )

    archive = str(tmp_path / "arch")
    spark.sql("DROP TABLE IF EXISTS t_resume_idx")
    streaming.run_dedup_ingest(spark, make_stream(), archive, "t_resume_idx")
    n1 = spark.read.parquet(archive).count()

    # day 2 lands: clones of day-1 docs + fresh docs
    day2 = docs.filter("doc_id >= 20 AND doc_id < 25").unionByName(
        docs.filter("doc_id < 5").select(
            (F.col("doc_id") + 90000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" zzz")).alias("text"),
            "lang", "source", "n_chars",
        )
    )
    day2.coalesce(1).write.parquet(str(land / "day2"))
    streaming.run_dedup_ingest(spark, make_stream(), archive, "t_resume_idx")

    got = {r["doc_id"] for r in spark.read.parquet(archive).select("doc_id").collect()}
    assert spark.read.parquet(archive).count() == len(got)  # day-1 rows not re-ingested
    assert set(range(20, 25)) <= got  # fresh day-2 docs landed
    assert not any(d >= 90000 for d in got)  # day-2 clones of day-1 died
    assert n1 == len({d for d in got if d < 20})  # day-1 archive unchanged
    spark.sql("DROP TABLE IF EXISTS t_resume_idx")


def test_run_dedup_ingest_retry_idempotent(spark, tmp_path):
    """Crash-retry contract: foreachBatch bodies re-RUN when a crash
    lands after the index append but before the checkpoint commit.
    The retried batch then finds its OWN bands already in the index
    (and its own archive subdir on disk) — it must recompute the
    identical survivor set, not match its documents against
    themselves at jaccard 1.0 and wipe the batch."""
    from htsql_spark.engine import HTSQL
    from htsql_spark.streaming.curate import _process_ingest_batch

    docs = HTSQL(spark, SF_DIR).table("documents")
    archive = str(tmp_path / "arch")
    spark.sql("DROP TABLE IF EXISTS t_retry_idx")

    b0 = docs.filter("doc_id < 20")
    # batch 1: fresh docs + near-clones of batch-0 docs (must die)
    b1 = docs.filter("doc_id >= 20 AND doc_id < 40").unionByName(
        docs.filter("doc_id < 5").select(
            (F.col("doc_id") + 80000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" zzz")).alias("text"),
            "lang", "source", "n_chars",
        )
    )
    _process_ingest_batch(spark, b0, 0, archive, "t_retry_idx", 0.8)
    _process_ingest_batch(spark, b1, 1, archive, "t_retry_idx", 0.8)
    first = {
        r["doc_id"]
        for r in spark.read.parquet(f"{archive}/batch=1").select("doc_id").collect()
    }
    assert set(range(20, 40)) <= first  # fresh docs landed
    assert not any(d >= 80000 for d in first)  # clones of batch 0 died

    # simulate the crash-retry: the same batch runs again with its own
    # bands already appended to the index and batch=1 already on disk
    _process_ingest_batch(spark, b1, 1, archive, "t_retry_idx", 0.8)
    second = {
        r["doc_id"]
        for r in spark.read.parquet(f"{archive}/batch=1").select("doc_id").collect()
    }
    assert second == first  # identical survivors — the batch did not kill itself

    # batch-0 survivors untouched; duplicate band rows (at-least-once
    # append) still index exactly the archive's doc set
    got = {r["doc_id"] for r in spark.read.parquet(archive).select("doc_id").collect()}
    b0_ids = {r["doc_id"] for r in spark.read.parquet(f"{archive}/batch=0").collect()}
    assert b0_ids | first == got
    idx_ids = {
        r["doc_id"] for r in spark.table("t_retry_idx").select("doc_id").collect()
    }
    assert idx_ids == got
    spark.sql("DROP TABLE IF EXISTS t_retry_idx")


def test_run_dedup_ingest_rejects_qualified_name(spark, tmp_path):
    """db-qualified index table names don't map onto a warehouse path
    segment — the orphan cleanup must refuse rather than guess."""
    from htsql_spark import streaming

    with pytest.raises(ValueError, match="qualified"):
        streaming.run_dedup_ingest(
            spark, None, str(tmp_path / "a"), "somedb.some_idx"
        )


def test_ingest_orphan_cleanup_refuses_foreign_dir(spark, tmp_path):
    """The orphaned-managed-table cleanup must never delete a
    directory that merely shares the table's name but holds
    non-table content."""
    import os

    from htsql_spark import streaming

    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    victim = os.path.join(wh, "t_orphan_foreign")
    os.makedirs(victim, exist_ok=True)
    with open(os.path.join(victim, "precious.txt"), "w") as f:
        f.write("not a spark table")
    try:
        spark.sql("DROP TABLE IF EXISTS t_orphan_foreign")
        with pytest.raises(ValueError, match="refusing to delete"):
            streaming.run_dedup_ingest(
                spark, None, str(tmp_path / "a"), "t_orphan_foreign"
            )
        assert os.path.exists(os.path.join(victim, "precious.txt"))
    finally:
        import shutil

        shutil.rmtree(victim, ignore_errors=True)


def test_run_exact_dedup_ingest_two_batches(spark, tmp_path):
    """Bloom-exact streaming ingest: batch 2's exact copies of batch 1
    docs are dropped, genuinely new docs land, and the archive's
    fingerprint set equals the batch-dedup truth over the corpus."""
    import os
    import time as _t

    from pyspark.sql import functions as F

    from htsql_spark import streaming
    from htsql_spark.engine import HTSQL
    from htsql_spark.operators.textstats import fingerprint
    from tests.conftest import SF_DIR

    docs = HTSQL(spark, SF_DIR).table("documents")
    land = tmp_path / "landing"
    batch1 = docs.filter("doc_id < 30")
    batch2 = (
        docs.filter("doc_id >= 30 AND doc_id < 50")
        .unionByName(
            # exact copies of batch-1 docs under new ids: must drop
            batch1.filter("doc_id < 10").select(
                (F.col("doc_id") + 70000).alias("doc_id"),
                "text", "lang", "source", "n_chars",
            )
        )
    )
    batch1.coalesce(1).write.parquet(str(land / "b1"))
    batch2.coalesce(1).write.parquet(str(land / "b2"))
    now = _t.time()
    for sub, ts in (("b1", now - 60), ("b2", now)):
        for f in (land / sub).glob("*.parquet"):
            os.utime(f, (ts, ts))

    schema = spark.read.parquet(str(land / "b1")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .parquet(str(land))
    )
    archive = str(tmp_path / "exact_archive")
    streaming.run_exact_dedup_ingest(spark, stream, archive)

    got = spark.read.parquet(archive)
    # every planted copy (70000-renumbered) died
    assert got.filter("doc_id >= 70000").count() == 0
    # archived fingerprints = first-seen-dedup truth over the corpus
    corpus = batch1.unionByName(batch2).withColumn(
        "fp", fingerprint(F.col("text"))
    )
    exp_fps = {r["fp"] for r in corpus.select("fp").distinct().collect()}
    got_fps = {r["fp"] for r in got.select("fp").collect()}
    assert got_fps == exp_fps
    # and no fingerprint archived twice
    assert got.count() == got.select("fp").distinct().count()


def test_exact_ingest_retry_idempotent(spark, tmp_path):
    """Re-running a batch processor after a crash that already wrote
    batch=N must reproduce the identical survivor set (the batch's own
    rows are excluded from the archive side)."""
    from pyspark.sql import functions as F

    from htsql_spark.streaming.curate import _process_exact_batch
    from htsql_spark.engine import HTSQL
    from tests.conftest import SF_DIR

    docs = HTSQL(spark, SF_DIR).table("documents")
    archive = str(tmp_path / "retry_archive")
    b1 = docs.filter("doc_id < 20")
    _process_exact_batch(spark, b1, 0, archive, 0.001)
    # batch 2: one exact copy of an archived doc + new docs
    b2 = docs.filter("doc_id >= 20 AND doc_id < 40").unionByName(
        docs.filter("doc_id = 3").select(
            (F.col("doc_id") + 90000).alias("doc_id"),
            "text", "lang", "source", "n_chars",
        )
    )
    _process_exact_batch(spark, b2, 1, archive, 0.001)
    first = sorted(
        r["doc_id"]
        for r in spark.read.parquet(f"{archive}/batch=1").select("doc_id").collect()
    )
    # crash-retry: run the same batch again (its batch=1 dir exists)
    _process_exact_batch(spark, b2, 1, archive, 0.001)
    second = sorted(
        r["doc_id"]
        for r in spark.read.parquet(f"{archive}/batch=1").select("doc_id").collect()
    )
    assert first == second
    assert 90003 not in second  # the planted copy stays dead on retry


def test_windowed_distinct_users_matches_batch(spark, events_batch, events_stream):
    """Streaming HLL windowed distinct ≡ the same HLL aggregation run
    as a batch plan (identical sketches, lossless merge across
    micro-batches), and within 5% of exact distinct."""
    import uuid

    from pyspark.sql import functions as F

    from htsql_spark import streaming
    from htsql_spark.streaming.events import windowed_distinct_users

    name = f"t_wdu_{uuid.uuid4().hex[:8]}"
    streaming.run_to_memory(windowed_distinct_users(events_stream), name, "append")
    got = {
        (r["w_start"], r["event_type"]): r["approx_users"]
        for r in spark.table(name).collect()
    }
    wm = events_batch.agg(
        (F.max("ts") - F.expr("INTERVAL 1 HOUR")).alias("w")
    ).collect()[0]["w"]
    batch = (
        events_batch.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.expr("hll_sketch_estimate(hll_sketch_agg(user_id, 14))").alias("a"),
            F.countDistinct("user_id").alias("x"),
        )
        .filter(F.col("w.end") <= wm)
        .select(F.col("w.start").alias("ws"), "event_type", "a", "x")
    )
    exp = {(r["ws"], r["event_type"]): (r["a"], r["x"]) for r in batch.collect()}
    assert set(got) == set(exp)
    for k, est in got.items():
        batch_est, exact = exp[k]
        assert est == batch_est, k  # stream merge is lossless
        assert abs(est - exact) <= max(1, 0.05 * exact), k


def test_windowed_value_quantiles_matches_exact(spark, events_batch, events_stream):
    """Streaming GK windowed quantiles: closed windows carry EXACTLY
    the discrete p50/p95 of the window's values (accuracy exceeds
    window size, so the summary retained everything across
    micro-batch merges), only watermark-closed windows emit, and
    n_values is exact."""
    import uuid

    from pyspark.sql import functions as F

    from htsql_spark import streaming
    from htsql_spark.streaming.events import windowed_value_quantiles

    name = f"t_wvq_{uuid.uuid4().hex[:8]}"
    streaming.run_to_memory(windowed_value_quantiles(events_stream), name, "append")
    got = {
        (r["w_start"], r["event_type"]): (r["p50"], r["p95"], r["n_values"])
        for r in spark.table(name).collect()
    }
    wm = events_batch.agg(
        (F.max("ts") - F.expr("INTERVAL 1 HOUR")).alias("w")
    ).collect()[0]["w"]
    batch = (
        events_batch.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.expr("percentile(value, 0.5)").alias("e50"),
            F.expr("percentile_approx(value, 0.95, 1000000)").alias("e95"),
            F.count("value").alias("n"),
            F.sort_array(F.collect_list("value")).alias("vals"),
        )
        .filter(F.col("w.end") <= wm)
        .select(F.col("w.start").alias("ws"), "event_type", "e95", "n", "vals")
    )
    exp = {(r["ws"], r["event_type"]): r for r in batch.collect()}
    assert set(got) == set(exp) and len(got) > 0
    import math

    for k, (p50, p95, n) in got.items():
        r = exp[k]
        assert n == r["n"], k
        vals = r["vals"]
        # type-1 discrete quantile: smallest value with rank >= ceil(q*n)
        for q, est in ((0.5, p50), (0.95, p95)):
            rank = max(1, math.ceil(q * len(vals)))
            assert est == vals[rank - 1], (k, q, est, vals[rank - 1])


def test_streaming_anomalies_state_survives_batches(spark, events_batch, tmp_path):
    """Two time-split files drained one per trigger: the detector's
    (n, Σx, Σx²) state carries across micro-batches, so the union of
    emissions equals the single-pass expanding-window truth."""
    import uuid

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    from htsql_spark import streaming
    from htsql_spark.streaming.events import streaming_anomalies

    import glob as _glob
    import os
    import shutil

    ev = events_batch
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    cut = ev.select(F.percentile(us, F.lit(0.5)).alias("c")).collect()[0]["c"]
    d = str(tmp_path / "split")
    flat = str(tmp_path / "flat")
    os.makedirs(flat)
    ev.filter(us <= cut).coalesce(1).write.parquet(d + "/a")
    ev.filter(us > cut).coalesce(1).write.parquet(d + "/b")
    import time as _time

    now = _time.time()
    for off, sub in ((-100, "a"), (0, "b")):  # flatten, one file per half
        (part,) = _glob.glob(f"{d}/{sub}/part-*.parquet")
        dst = f"{flat}/{sub}.parquet"
        shutil.copy(part, dst)
        # the file source orders by modification time; same-millisecond
        # copies tie and the batch order becomes arbitrary — pin it
        os.utime(dst, (now + off, now + off))
    src = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(flat)
    )
    name = f"t_anomsplit_{uuid.uuid4().hex[:8]}"
    streaming.run_to_memory(streaming_anomalies(src), name, "append")
    got = {
        (r["event_id"], r["n_prior"], r["z"])
        for r in spark.table(name).collect()
    }
    w = (
        W.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    xv = F.coalesce(F.col("value"), F.lit(0.0))
    pre = events_batch.select(
        "event_id",
        xv.alias("xv"),
        F.count(F.lit(1)).over(w).alias("n_pr"),
        F.avg(xv).over(w).alias("m"),
        F.stddev_samp(xv).over(w).alias("sd"),
    ).filter("n_pr >= 10 AND sd > 0 AND abs((xv - m) / sd) > 3.0")
    exp = {
        (r["event_id"], r["n_pr"], round((r["xv"] - r["m"]) / r["sd"], 6))
        for r in pre.collect()
    }
    assert len(exp) > 0 and got == exp


def test_windowed_topk_matches_batch(spark, events_batch, events_stream):
    """Streaming windowed leaderboard: the stream's watermark-closed
    per-user counts ranked batch-side equal the same top-k computed
    wholly in batch (counts are additive across micro-batches), with
    the deterministic tie-break."""
    import uuid

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    from htsql_spark import streaming
    from htsql_spark.streaming.events import rank_top_users, windowed_user_counts

    name = f"t_wtk_{uuid.uuid4().hex[:8]}"
    streaming.run_to_memory(windowed_user_counts(events_stream), name, "append")
    got = {
        (r["w_start"], r["event_type"], r["rnk"]): (r["user_id"], r["n"])
        for r in rank_top_users(spark.table(name), k=3).collect()
    }
    wm = events_batch.agg(
        (F.max("ts") - F.expr("INTERVAL 1 HOUR")).alias("w")
    ).collect()[0]["w"]
    counts = (
        events_batch.groupBy(F.window("ts", "1 day").alias("w"), "event_type", "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("w.end") <= wm)
        .select(F.col("w.start").alias("w_start"), "event_type", "user_id", "n")
    )
    rw = W.partitionBy("w_start", "event_type").orderBy(
        F.col("n").desc(), F.col("user_id")
    )
    exp = {
        (r["w_start"], r["event_type"], r["rnk"]): (r["user_id"], r["n"])
        for r in counts.withColumn("rnk", F.row_number().over(rw))
        .filter("rnk <= 3")
        .collect()
    }
    assert len(got) > 0 and got == exp


def test_ingest_heals_archive_without_index(spark, tmp_path):
    """An existing archive with a missing band index is the loop's
    OWN crash window (batch 0's archive write committed, the process
    died before the index was created) — restart must rebuild the
    index from the archive instead of bricking, and the rebuilt index
    must prevent re-admission of archived near-clones."""
    from pyspark.sql import functions as F

    from htsql_spark import streaming
    from htsql_spark.engine import HTSQL
    from tests.conftest import SF_DIR

    docs = HTSQL(spark, SF_DIR).table("documents").filter("doc_id < 5")
    archive = str(tmp_path / "desync_archive")
    docs.write.parquet(f"{archive}/batch=0")
    spark.sql("DROP TABLE IF EXISTS t_desync_idx")
    # the next landing batch contains a near-clone of an archived doc
    land = tmp_path / "heal_land"
    clone = docs.filter("doc_id = 0").select(
        (F.col("doc_id") + 90000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zzz")).alias("text"),
        "lang", "source", "n_chars",
    )
    clone.coalesce(1).write.parquet(str(land / "b"))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .parquet(str(land))
    )
    streaming.run_dedup_ingest(spark, stream, archive, "t_desync_idx")
    assert spark.catalog.tableExists("t_desync_idx")
    got = {r["doc_id"] for r in spark.read.parquet(archive).select("doc_id").collect()}
    assert 90000 not in got  # rebuilt index caught the archived clone
    assert got == {0, 1, 2, 3, 4}
    spark.sql("DROP TABLE IF EXISTS t_desync_idx")


def test_ingest_unreadable_archive_without_index_raises(spark, tmp_path):
    """If the archive directory exists but holds no readable data
    (a mid-write crash left only _temporary droppings), the heal path
    cannot rebuild — the loop must fail loudly with the remedy."""
    import pytest as _pytest

    from htsql_spark import streaming
    from htsql_spark.engine import HTSQL
    from tests.conftest import SF_DIR

    docs = HTSQL(spark, SF_DIR).table("documents").limit(5)
    archive = tmp_path / "garbage_archive"
    (archive / "_temporary").mkdir(parents=True)
    spark.sql("DROP TABLE IF EXISTS t_garbage_idx")
    land = tmp_path / "empty_land2"
    land.mkdir()
    stream = spark.readStream.schema(docs.schema).parquet(str(land))
    with _pytest.raises(ValueError, match="not .*readable|never committed"):
        streaming.run_dedup_ingest(spark, stream, str(archive), "t_garbage_idx")


def test_ingest_custom_band_params_round_trip(spark, tmp_path):
    """run_dedup_ingest threads (k, num_hashes, bands) through both
    the candidate join and the index append — an operator running a
    non-default scheme gets a consistent index, not the silent
    under-join of hardcoded 32/8 bands against a 64/16 index."""
    from pyspark.sql import functions as F

    from htsql_spark import streaming
    from htsql_spark.engine import HTSQL
    from tests.conftest import SF_DIR

    docs = HTSQL(spark, SF_DIR).table("documents")
    land = tmp_path / "param_land"
    b1 = docs.filter("doc_id < 10")
    b2 = b1.filter("doc_id = 3").select(
        (F.col("doc_id") + 80000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" qq")).alias("text"),
        "lang", "source", "n_chars",
    )
    import os
    import time as _t

    b1.coalesce(1).write.parquet(str(land / "b1"))
    b2.coalesce(1).write.parquet(str(land / "b2"))
    now = _t.time()
    for sub, ts in (("b1", now - 60), ("b2", now)):
        for f in (land / sub).glob("*.parquet"):
            os.utime(f, (ts, ts))
    stream = (
        spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .parquet(str(land))
    )
    archive = str(tmp_path / "param_archive")
    spark.sql("DROP TABLE IF EXISTS t_param_idx")
    streaming.run_dedup_ingest(
        spark, stream, archive, "t_param_idx", num_hashes=64, bands=16
    )
    got = {r["doc_id"] for r in spark.read.parquet(archive).select("doc_id").collect()}
    assert 80003 not in got and 80000 + 3 not in got  # clone caught at 64/16
    # index rows carry the custom band count: bands 0..15 present
    bands_seen = {
        r["band"] for r in spark.table("t_param_idx").select("band").distinct().collect()
    }
    assert bands_seen == set(range(16))
    spark.sql("DROP TABLE IF EXISTS t_param_idx")


def test_exact_ingest_ignores_uncommitted_droppings(spark, tmp_path):
    """A crashed first write (only _temporary paths under the archive)
    must read as 'no archive yet', not crash the retry loop."""
    import os

    from pyspark.sql import functions as F

    from htsql_spark.streaming.curate import _process_exact_batch
    from htsql_spark.engine import HTSQL
    from tests.conftest import SF_DIR

    docs = HTSQL(spark, SF_DIR).table("documents").filter("doc_id < 10")
    archive = str(tmp_path / "partial_archive")
    os.makedirs(f"{archive}/batch=0/_temporary/0", exist_ok=True)
    with open(f"{archive}/batch=0/_temporary/0/part-00000", "w") as f:
        f.write("incomplete")
    _process_exact_batch(spark, docs, 0, archive, 0.001)
    got = spark.read.parquet(archive)
    assert got.filter(F.col("doc_id") < 10).count() == 10


# ----------------------------------------------------------------------
# CDC snapshot maintenance (streaming/snapshot.py)
# ----------------------------------------------------------------------


def _cdc_rows(spark, rows):
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("val", T.DoubleType()),
            T.StructField("ts", T.LongType()),
            T.StructField("op", T.StringType()),
        ]
    )
    return spark.createDataFrame(rows, schema)


def test_cdc_snapshot_two_batches(spark, tmp_path):
    """Two micro-batches fold into the snapshot in arrival order:
    batch 1 bootstraps, batch 2's upserts/deletes/inserts apply on
    top (a later batch beats an earlier one regardless of ts)."""
    import os
    import time as _t

    from htsql_spark import streaming

    land = tmp_path / "cdc_land"
    b1 = _cdc_rows(
        spark,
        [(1, "a", 1.0, 5, "I"), (2, "b", 2.0, 5, "I"), (3, "c", 3.0, 5, "I")],
    )
    b2 = _cdc_rows(
        spark,
        [
            (2, "b2", 2.5, 1, "U"),  # ts EARLIER than b1's — still wins
            (3, None, None, 9, "D"),
            (4, "d", 4.0, 9, "I"),
        ],
    )
    b1.coalesce(1).write.parquet(str(land / "b1"))
    b2.coalesce(1).write.parquet(str(land / "b2"))
    now = _t.time()
    for sub, ts in (("b1", now - 60), ("b2", now)):
        for f in (land / sub).glob("*.parquet"):
            os.utime(f, (ts, ts))

    schema = spark.read.parquet(str(land / "b1")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .parquet(str(land))
    )
    snap_path = str(tmp_path / "snapshot")
    streaming.run_cdc_snapshot(spark, stream, snap_path, key="k")

    snap = streaming.snapshot.read_snapshot(spark, snap_path)
    assert sorted(snap.columns) == ["k", "name", "val"]
    got = {r.k: (r.name, r.val) for r in snap.collect()}
    assert got == {1: ("a", 1.0), 2: ("b2", 2.5), 4: ("d", 4.0)}


def test_cdc_batch_idempotent_reapply(spark, tmp_path):
    """foreachBatch re-runs on crash retry: re-applying the same
    batch to the already-updated snapshot is a fixed point."""
    from htsql_spark.streaming.snapshot import apply_cdc_batch

    snap_path = str(tmp_path / "snap")
    batch = _cdc_rows(
        spark, [(1, "a", 1.0, 1, "I"), (2, "b", 2.0, 1, "I")]
    )
    apply_cdc_batch(spark, batch, snap_path, key="k")
    first = {(r.k, r.name, r.val) for r in spark.read.parquet(snap_path).collect()}
    apply_cdc_batch(spark, batch, snap_path, key="k")  # retry
    second = {(r.k, r.name, r.val) for r in spark.read.parquet(snap_path).collect()}
    assert first == second == {(1, "a", 1.0), (2, "b", 2.0)}


def test_cdc_batch_crash_recovery_restores_backup(spark, tmp_path):
    """A crash between the two swap renames parks the snapshot at
    __presnap; the next batch restores it before applying."""
    import os
    import shutil

    from htsql_spark.streaming.snapshot import apply_cdc_batch

    snap_path = str(tmp_path / "snap")
    apply_cdc_batch(
        spark, _cdc_rows(spark, [(1, "a", 1.0, 1, "I")]), snap_path, key="k"
    )
    # simulate the crash window: snapshot renamed to backup, new one
    # never swapped in
    shutil.move(snap_path, snap_path + "__presnap")
    assert not os.path.exists(snap_path)
    apply_cdc_batch(
        spark, _cdc_rows(spark, [(2, "b", 2.0, 1, "I")]), snap_path, key="k"
    )
    got = {r.k for r in spark.read.parquet(snap_path).collect()}
    assert got == {1, 2}, "backup row must survive the crash recovery"


def test_cdc_batch_blocked_by_held_lock(spark, tmp_path):
    """Snapshot updates share the dataset lock with compaction: a
    held lock makes the batch raise instead of racing."""
    import pytest as _pytest

    from htsql_spark.operators.layout import (
        acquire_dataset_lock,
        release_dataset_lock,
    )
    from htsql_spark.streaming.snapshot import apply_cdc_batch

    snap_path = str(tmp_path / "snap")
    acquire_dataset_lock(spark, snap_path, owner="test-holder")
    try:
        with _pytest.raises(ValueError, match="lock"):
            apply_cdc_batch(
                spark,
                _cdc_rows(spark, [(1, "a", 1.0, 1, "I")]),
                snap_path,
                key="k",
            )
    finally:
        release_dataset_lock(spark, snap_path)
    # and after release the same batch applies cleanly
    apply_cdc_batch(
        spark, _cdc_rows(spark, [(1, "a", 1.0, 1, "I")]), snap_path, key="k"
    )
    assert spark.read.parquet(snap_path).count() == 1


def _kv_batch(spark, epoch, rows):
    return (
        spark.createDataFrame(rows, "k string, n long")
        .withColumn("op", F.lit("U"))
        .withColumn("ts", F.lit(epoch))
    )


def _bucket_dirs_state(path):
    import glob
    import hashlib
    import os

    state = {}
    for d in sorted(glob.glob(f"{path}/htsql__bucket=*")):
        files = {}
        for f in sorted(glob.glob(f"{d}/*")):
            with open(f, "rb") as fh:
                files[os.path.basename(f)] = (
                    os.path.getmtime(f),
                    hashlib.md5(fh.read()).hexdigest(),
                )
        state[os.path.basename(d)] = files
    return state


def test_cdc_bucketed_scoped_epoch_untouched_buckets_identical(spark, tmp_path):
    """The bucket-scoped MERGE claim, at the kernel level: an epoch
    touching 3 of 200 keys rewrites at most 3 of the 8 bucket dirs —
    every other bucket's files stay BYTE-IDENTICAL (same mtime, same
    md5: not even re-written with equal content) — and a redelivered
    epoch is a fixed point."""
    from htsql_spark.streaming.snapshot import apply_cdc_batch, read_snapshot

    path = str(tmp_path / "snap")
    apply_cdc_batch(
        spark,
        _kv_batch(spark, 0, [(f"key{i}", i) for i in range(200)]),
        path, key="k", buckets=8,
    )
    before = _bucket_dirs_state(path)
    assert len(before) >= 6
    ep1 = _kv_batch(spark, 1, [("key0", 1000), ("key5", 1500), ("key7", 1700)])
    apply_cdc_batch(spark, ep1, path, key="k")
    after = _bucket_dirs_state(path)
    changed = [d for d in before if after.get(d) != before[d]]
    untouched = [d for d in before if after.get(d) == before[d]]
    assert len(changed) <= 3, f"epoch rewrote {changed}"
    assert len(untouched) >= len(before) - 3
    got = {r["k"]: r["n"] for r in read_snapshot(spark, path).collect()}
    assert len(got) == 200
    assert (got["key0"], got["key5"], got["key7"], got["key9"]) == (
        1000, 1500, 1700, 9,
    )
    apply_cdc_batch(spark, ep1, path, key="k")  # crash-retry redelivery
    got2 = {r["k"]: r["n"] for r in read_snapshot(spark, path).collect()}
    assert got2 == got


def test_cdc_bucketed_delete_and_full_rewrite_fallback(spark, tmp_path):
    """Deletes remove rows from their bucket (an all-deleted bucket
    drops its directory), and a batch touching >= half the buckets
    takes the single full-rewrite path instead of swapping every
    bucket individually — same final state either way."""
    from htsql_spark.streaming.snapshot import apply_cdc_batch, read_snapshot

    path = str(tmp_path / "snap")
    apply_cdc_batch(
        spark,
        _kv_batch(spark, 0, [(f"key{i}", i) for i in range(200)]),
        path, key="k", buckets=8,
    )
    dele = (
        spark.createDataFrame([("key0", 0)], "k string, n long")
        .withColumn("op", F.lit("D"))
        .withColumn("ts", F.lit(1))
    )
    apply_cdc_batch(spark, dele, path, key="k")
    got = {r["k"]: r["n"] for r in read_snapshot(spark, path).collect()}
    assert "key0" not in got and len(got) == 199
    # wide batch → full rewrite fallback (touches all 8 buckets)
    apply_cdc_batch(
        spark,
        _kv_batch(spark, 2, [(f"key{i}", i * 2) for i in range(0, 200, 2)]),
        path, key="k",
    )
    got = {r["k"]: r["n"] for r in read_snapshot(spark, path).collect()}
    assert len(got) == 200 and got["key0"] == 0 and got["key2"] == 4
    assert got["key1"] == 1  # odd keys untouched by the wide batch


def test_cdc_bucketed_migration_and_layout_pinning(spark, tmp_path):
    """A bucketed call on an existing FLAT snapshot (the plain parquet
    dataset an older engine left) migrates it (one full rewrite,
    marker written); thereafter the marker pins the layout — omitting
    buckets keeps it, changing n or the key set is a named error."""
    import glob

    import pytest as _pytest

    from htsql_spark.streaming.snapshot import apply_cdc_batch, read_snapshot

    path = str(tmp_path / "snap")
    spark.createDataFrame([("a", 1), ("b", 2)], "k string, n long").write.parquet(
        path
    )
    assert not glob.glob(f"{path}/htsql__bucket=*")  # flat
    apply_cdc_batch(
        spark, _kv_batch(spark, 1, [("a", 9)]), path, key="k", buckets=4
    )
    assert glob.glob(f"{path}/htsql__bucket=*")  # migrated
    assert {r["k"]: r["n"] for r in read_snapshot(spark, path).collect()} == {
        "a": 9, "b": 2,
    }
    apply_cdc_batch(spark, _kv_batch(spark, 2, [("b", 7)]), path, key="k")
    assert {r["k"]: r["n"] for r in read_snapshot(spark, path).collect()} == {
        "a": 9, "b": 7,
    }
    with _pytest.raises(ValueError, match="pinned"):
        apply_cdc_batch(
            spark, _kv_batch(spark, 3, [("a", 1)]), path, key="k", buckets=16
        )
    with _pytest.raises(ValueError, match="diverge"):
        apply_cdc_batch(
            spark, _kv_batch(spark, 3, [("a", 1)]), path, key=["k", "n"]
        )


def test_cdc_batch_rejects_repeated_key_ts_op(spark, tmp_path):
    """Two changes to one key at the same (ts, op) have no defined
    winner (apply_cdc's determinism contract), so the batch is
    rejected before anything is written; the same key at two
    different timestamps is an ordinary batch and the later one
    wins."""
    import os

    from htsql_spark.streaming.snapshot import apply_cdc_batch, read_snapshot

    path = str(tmp_path / "snap")
    tie = _cdc_rows(spark, [(1, "a", 1.0, 5, "U"), (1, "b", 2.0, 5, "U")])
    with pytest.raises(ValueError, match="uniquely identify"):
        apply_cdc_batch(spark, tie, path, key="k")
    assert not os.path.exists(path)
    ordered = _cdc_rows(spark, [(1, "a", 1.0, 5, "U"), (1, "b", 2.0, 6, "U")])
    apply_cdc_batch(spark, ordered, path, key="k")
    got = [(r.k, r.name, r.val) for r in read_snapshot(spark, path).collect()]
    assert got == [(1, "b", 2.0)]


def test_cdc_batch_rejects_zero_buckets(spark, tmp_path):
    """There is no flat layout to select any more: ``buckets=0`` (the
    old spelling of it) is a named error, not a snapshot whose rows
    all land in a null bucket."""
    from htsql_spark.streaming.snapshot import apply_cdc_batch

    with pytest.raises(ValueError, match="buckets must be >= 1"):
        apply_cdc_batch(
            spark, _kv_batch(spark, 0, [("a", 1)]), str(tmp_path / "s"),
            key="k", buckets=0,
        )


def test_cdc_bucketed_crash_recovery_both_windows(spark, tmp_path):
    """Per-bucket swap crash states recover on the next epoch's
    entry: a `.bck-K` with the live bucket MISSING (crashed between
    the renames) is restored; a `.bck-K` with the live bucket PRESENT
    (crashed after the swap, before cleanup) is discarded as stale."""
    import glob
    import shutil

    from htsql_spark.streaming.snapshot import apply_cdc_batch, read_snapshot

    path = str(tmp_path / "snap")
    apply_cdc_batch(
        spark,
        _kv_batch(spark, 0, [(f"key{i}", i) for i in range(50)]),
        path, key="k", buckets=4,
    )
    # crashed between renames: live bucket moved to backup, staged
    # replacement never arrived
    victim = sorted(glob.glob(f"{path}/htsql__bucket=*"))[0]
    k = victim.rsplit("=", 1)[1]
    shutil.move(victim, f"{path}/.bck-{k}")
    apply_cdc_batch(spark, _kv_batch(spark, 1, [("key1", 111)]), path, key="k")
    assert not glob.glob(f"{path}/.bck-*")
    got = {r["k"]: r["n"] for r in read_snapshot(spark, path).collect()}
    assert len(got) == 50 and got["key1"] == 111
    # crashed after the swap: both live and backup present
    victim = sorted(glob.glob(f"{path}/htsql__bucket=*"))[0]
    k = victim.rsplit("=", 1)[1]
    shutil.copytree(victim, f"{path}/.bck-{k}")
    apply_cdc_batch(spark, _kv_batch(spark, 2, [("key1", 112)]), path, key="k")
    assert not glob.glob(f"{path}/.bck-*")
    got = {r["k"]: r["n"] for r in read_snapshot(spark, path).collect()}
    assert len(got) == 50 and got["key1"] == 112


def test_cdc_bucketed_reserved_column_rejected(spark, tmp_path):
    """A change batch already carrying the reserved htsql__bucket
    column is refused (the layout column is an implementation detail,
    not data)."""
    import pytest as _pytest

    from htsql_spark.streaming.snapshot import apply_cdc_batch

    path = str(tmp_path / "snap")
    bad = _kv_batch(spark, 0, [("a", 1)]).withColumn(
        "htsql__bucket", F.lit(0)
    )
    with _pytest.raises(ValueError, match="reserved"):
        apply_cdc_batch(spark, bad, path, key="k", buckets=4)


def test_batch_id_base_legacy_checkpoint_keeps_identity_mapping(spark, tmp_path):
    """A checkpoint that ALREADY committed batches but has no base
    marker (archive produced by pre-marker code) must map batch ids
    identically (base=0): its existing batch=N dirs were written under
    the identity mapping, so a crash-retried in-flight batch must
    overwrite its OWN old dir, not duplicate the batch's documents
    under batch=max+1+N.  max+1 is reserved for genuinely fresh
    checkpoints adopting a foreign archive."""
    import os

    from htsql_spark.streaming.curate import _batch_id_base

    archive = str(tmp_path / "arch")
    os.makedirs(f"{archive}/batch=0")
    os.makedirs(f"{archive}/batch=1")
    # legacy: offsets log exists, marker absent
    os.makedirs(f"{archive}__checkpoint/offsets")
    with open(f"{archive}__checkpoint/offsets/0", "w") as f:
        f.write("v1\n{}")
    with open(f"{archive}__checkpoint/offsets/1", "w") as f:
        f.write("v1\n{}")
    assert _batch_id_base(spark, archive) == 0
    # the decision is persisted: a retry reads the same base
    assert _batch_id_base(spark, archive) == 0

    # the in-flight crash case: the FIRST batch started (offsets/0,
    # archive/batch=0 written) but never committed — still the
    # identity mapping, or the retried batch 0 would duplicate its
    # documents under batch=1
    archive3 = str(tmp_path / "arch3")
    os.makedirs(f"{archive3}/batch=0")
    os.makedirs(f"{archive3}__checkpoint/offsets")
    with open(f"{archive3}__checkpoint/offsets/0", "w") as f:
        f.write("v1\n{}")
    assert _batch_id_base(spark, archive3) == 0

    # genuinely fresh checkpoint adopting a foreign archive → max+1
    archive2 = str(tmp_path / "arch2")
    os.makedirs(f"{archive2}/batch=0")
    os.makedirs(f"{archive2}/batch=7")
    assert _batch_id_base(spark, archive2) == 8
    assert _batch_id_base(spark, archive2) == 8


def test_expanding_anomalies_null_ts_ordering_matches_stateful(spark):
    """Null timestamps sort LAST (pandas NaT order — what the
    stateful kernel actually does), so they never pollute the prior
    statistics of timestamped rows; they are still scored themselves,
    against everything before them.  Spark's default nulls-FIRST
    window order would silently invert this."""
    import datetime as dt

    from htsql_spark.streaming.events import expanding_anomalies

    base = dt.datetime(2024, 1, 1)
    rows = [
        # 30 calm values then one spike, plus a NULL-ts row
        *[
            (i, "t", base + dt.timedelta(minutes=i), 10.0 + (i % 3) * 0.1)
            for i in range(30)
        ],
        (30, "t", base + dt.timedelta(minutes=30), 500.0),  # spike
        (31, "t", None, 500.0),  # null ts, same magnitude
    ]
    df = spark.createDataFrame(
        rows, "event_id long, event_type string, ts timestamp, value double"
    )
    out = {r["event_id"]: r for r in expanding_anomalies(df, 3.0, 10).collect()}
    # the spike is flagged with n_prior = 30 (null-ts row NOT counted)
    assert 30 in out and out[30]["n_prior"] == 30
    # the null-ts row is scored LAST, against all 31 prior rows
    assert 31 in out and out[31]["n_prior"] == 31


# ---------------------------------------------------------------------------
# round 11: streaming EXECUTION of language queries (engine.df_stream /
# store_stream / run_stream) — the same query text the batch engine
# answers runs as an actual Structured Stream (readStream scans +
# availableNow + checkpoint) and drains to the identical result
# ---------------------------------------------------------------------------
def _norm_rows(df):
    return sorted(tuple(map(str, r)) for r in df.collect())


@pytest.mark.parametrize(
    "q",
    [
        "/events.tumbling('1 day')",
        "/events.sliding('2 days', '1 day')",
        "/events.sessions('30 minutes')",
        "/(events?value>4.9){event_id, event_type, value}",
        # anomalies() lowers to the STATEFUL kernel under stream
        # compilation (applyInPandasWithState) — one availableNow
        # drain equals the batch twin's unbounded-window values
        "/events.anomalies(3.0)",
        # the mergeable-sketch reshapes are streaming-legal as-is
        # (their states ARE a streaming aggregate) — the drains carry
        # the same estimates the batch reshapes compute
        "/events.distinct_count(user_id, event_type)",
        "/events.quantiles(value, 0.5, 0.9, event_type)",
        # stream-STREAM interval join (round 12): both sides scan via
        # readStream and lower to the watermarked interval join
        "/(events?event_type='purchase').within("
        "events?event_type='click', user_id, ts, event_id, event_id,"
        " '24 hours')",
    ],
    ids=[
        "tumbling", "sliding", "sessions", "filter_project",
        "anomalies", "distinct_count", "quantiles", "within_join",
    ],
)
def test_stream_execution_drains_to_batch_result(db, q):
    """Drain parity: run_stream(q) (an actual readStream execution,
    complete-mode drain for aggregates / append for row streams)
    equals df(q) value-for-value.  The one sanctioned difference is
    the event-time column type — TIMESTAMP (watermark-eligible) on
    the stream vs TIMESTAMP_NTZ in batch; the UTC session preserves
    the wall clock so the VALUES agree."""
    streamed = db.run_stream(q)
    batch = db.df(q)
    assert streamed.columns == batch.columns
    assert _norm_rows(streamed) == _norm_rows(batch)


def test_df_stream_is_streaming_and_guarded(db):
    sdf = db.df_stream("/events.tumbling('1 day')")
    assert sdf.isStreaming
    from htsql_spark import CompileError

    with pytest.raises(CompileError, match="no stream-mounted table"):
        db.df_stream("/region")
    with pytest.raises(CompileError, match="format pipe"):
        db.df_stream("/events/:csv")


def test_stream_execution_joins_batch_dimension(db):
    """A stream-batch join from the language: the stream-mounted
    events side scans readStream while the customer navigation stays
    a batch scan (Spark plans the mixed join) — nav attributes
    resolve identically to batch."""
    q = "/(events?event_type='purchase'){event_id, customer.nation.name :as nat}"
    streamed = db.run_stream(q)
    batch = db.df(q)
    assert streamed.columns == batch.columns == ["event_id", "nat"]
    assert _norm_rows(streamed) == _norm_rows(batch)


def test_store_stream_checkpoint_is_incremental(db, tmp_path):
    """A second availableNow drain over an UNCHANGED landing dir with
    the same checkpoint processes nothing new: the append-mode sink
    does not duplicate rows (exactly-once file accounting)."""
    out = str(tmp_path / "out")
    cp = str(tmp_path / "cp")
    q = "/(events?value>4.9){event_id, value}"
    db.store_stream(q, out, checkpoint=cp)
    n1 = db.spark.read.parquet(out).count()
    db.store_stream(q, out, checkpoint=cp)
    n2 = db.spark.read.parquet(out).count()
    assert n1 == n2 == db.df(q).count()


def test_start_stream_live_trigger_parity(db, tmp_path):
    """The non-blocking serve path: start_stream with a LIVE
    processingTime trigger, drain everything currently in the landing
    dir (processAllAvailable), stop — the parquet sink holds exactly
    the batch answer (complete-mode rewrite per micro-batch)."""
    out = str(tmp_path / "out")
    q = "/events.tumbling('1 day')"
    sq = db.start_stream(
        q, out, checkpoint=str(tmp_path / "cp"),
        trigger={"processingTime": "1 second"},
    )
    try:
        sq.processAllAvailable()
    finally:
        sq.stop()
    got = db.spark.read.parquet(out)
    batch = db.df(q)
    assert _norm_rows(got) == _norm_rows(batch)


def test_produce_stream_rows(db):
    """produce_stream is the rows-as-dicts twin of run_stream."""
    rows = db.produce_stream("/(events?value>4.97){event_id, value}")
    exp = db.produce("/(events?value>4.97){event_id, value}")
    key = lambda r: r["event_id"]
    assert sorted(rows, key=key) == sorted(exp, key=key) and rows


# ---------------------------------------------------------------------------
# round-11 review fixes
# ---------------------------------------------------------------------------
def test_stream_compile_mode_is_thread_local(db):
    """A df_stream compile on one thread must never flip another
    thread's batch compile into streaming scans (one engine is
    documented as shareable by a concurrent WSGI server)."""
    import threading

    res = {}
    db._stream_mode.on = True  # simulate mid-compile state on this thread
    try:
        t = threading.Thread(
            target=lambda: res.update(
                df=db.df("/(events?value>4.9){event_id}")
            )
        )
        t.start()
        t.join()
    finally:
        db._stream_mode.on = False
    assert not res["df"].isStreaming


def test_store_stream_rejects_update_mode(db, tmp_path):
    """'update' would append superseded group versions to the parquet
    sink — named error, not silent stale duplicates."""
    from htsql_spark import CompileError

    with pytest.raises(CompileError, match="update"):
        db.store_stream(
            "/events.tumbling('1 day')", str(tmp_path / "o"),
            output_mode="update",
        )


def test_output_mode_detection_ignores_alias_names(db):
    """Output-mode auto-detection walks plan NODES: a user alias
    containing 'Aggregate' must not flip a row stream to complete
    mode (which Spark would reject)."""
    q = "/(events?value>4.9){event_id, value :as myAggregate}"
    assert db._stream_output_mode(db.df_stream(q)) == "append"
    streamed = db.run_stream(q)
    assert _norm_rows(streamed) == _norm_rows(db.df(q))


def test_eager_flow_methods_are_batch_only_on_streams(db):
    """The eager model-state methods fail a df_stream compile with a
    NAMED error (not the kernel's opaque writeStream AnalysisException)."""
    from htsql_spark import CompileError

    for q in (
        "/events.heavy_hitters(event_type)",
        "/events.freq(event_type)",
    ):
        with pytest.raises(CompileError, match="batch-only"):
            db.df_stream(q)


def test_ordered_mode_rejects_streaming_execution(spark):
    from htsql_spark import HTSQL, CompileError

    odb = HTSQL(spark, SF_DIR, ordered=True)
    with pytest.raises(CompileError, match="ordered mode"):
        odb.df_stream("/events.tumbling('1 day')")


def test_window_reshapes_fail_at_drain_with_spark_streaming_error(db):
    """The row-window reshapes (transitions/sessionize/asof lowerings
    use LEAD/LAG/row windows) are NOT streaming-legal; they compile
    (lazy) and must fail the drain with Spark's own named streaming
    error — documented behavior, locked so a silent semantic change
    in a future lowering is caught."""
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException, match="STREAMING|streaming"):
        db.run_stream("/events.transitions()")


# ---------------------------------------------------------------------------
# round 12: scale-safe LIVE serving (r11 verdict next #1) — atomic
# complete-mode epoch swap, idempotent append epochs, update-mode keyed
# upsert sink
# ---------------------------------------------------------------------------
def _write_epoch(spark, staging, n, epoch):
    (
        spark.range(n)
        .withColumn("epoch", F.lit(epoch))
        .repartition(4)
        .write.mode("overwrite")
        .parquet(staging)
    )


def test_replace_dataset_reader_never_sees_partial(spark, tmp_path):
    """The complete-mode drain sink's atomicity contract: a concurrent
    reader either sees a COMPLETE epoch (every row of exactly one
    swap's result) or a clean retryable miss while the rename pair is
    in flight — never a half-written or mixed directory.  A reader
    thread hammers the path while epochs swap underneath it."""
    import threading

    from htsql_spark.operators.layout import replace_dataset

    path = str(tmp_path / "serve")
    staging = str(tmp_path / "stage")
    _write_epoch(spark, staging, 100, 1)
    replace_dataset(spark, staging, path)
    seen, bad, misses = [], [], [0]
    stop = threading.Event()

    def reader():
        while not stop.is_set():
            try:
                rows = (
                    spark.read.parquet(path)
                    .groupBy("epoch")
                    .count()
                    .collect()
                )
            except Exception:
                misses[0] += 1  # momentary miss during the rename pair
                continue
            if (
                len(rows) != 1
                or rows[0]["count"] != 100 * rows[0]["epoch"]
            ):
                bad.append([(r["epoch"], r["count"]) for r in rows])
            else:
                seen.append(rows[0]["epoch"])

    t = threading.Thread(target=reader)
    t.start()
    try:
        import time

        for e in range(2, 8):
            _write_epoch(spark, staging, 100 * e, e)
            replace_dataset(spark, staging, path)
            time.sleep(0.3)  # let some reads land between swaps
        # after the final swap the reader must complete cleanly
        deadline = time.time() + 30
        while not seen and time.time() < deadline:
            time.sleep(0.2)
    finally:
        stop.set()
        t.join()
    assert bad == [], f"reader observed partial epochs: {bad[:3]}"
    assert seen, "reader never completed a read"


def test_replace_dataset_crash_recovery(spark, tmp_path):
    """Crash states heal on the next swap: (a) staging written but
    never swapped — the previous epoch stays served; (b) crash BETWEEN
    the two renames (backup exists, path missing) — the next swap
    restores the backup before replacing it, and no maintenance
    debris is left behind."""
    import os
    import shutil

    from htsql_spark.operators.layout import replace_dataset

    path = str(tmp_path / "serve")
    staging = str(tmp_path / "stage")
    _write_epoch(spark, staging, 10, 1)
    replace_dataset(spark, staging, path)
    # (a) crash AFTER staging epoch 2, BEFORE any rename
    _write_epoch(spark, staging, 20, 2)
    got = spark.read.parquet(path).groupBy("epoch").count().collect()
    assert [(r["epoch"], r["count"]) for r in got] == [(1, 10)]
    replace_dataset(spark, staging, path)  # retry completes the swap
    got = spark.read.parquet(path).groupBy("epoch").count().collect()
    assert [(r["epoch"], r["count"]) for r in got] == [(2, 20)]
    # (b) crash BETWEEN the renames: path parked at the backup name
    shutil.move(path, path + "__preswap")
    assert not os.path.exists(path)
    _write_epoch(spark, staging, 30, 3)
    replace_dataset(spark, staging, path)
    got = spark.read.parquet(path).groupBy("epoch").count().collect()
    assert [(r["epoch"], r["count"]) for r in got] == [(3, 30)]
    assert not os.path.exists(path + "__preswap")
    # a swap with nothing staged is a named error, not a silent wipe
    with pytest.raises(FileNotFoundError):
        replace_dataset(spark, str(tmp_path / "nothing"), path)


def test_append_epoch_retry_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: a crash between the parquet
    write and the checkpoint commit redelivers the same epoch.  The
    append sink must converge to exactly one copy — including when the
    crashed attempt left PARTIAL files of that epoch behind (the
    round-11 advice hole: plain mode('append') duplicated the batch)."""
    import glob
    import shutil

    from htsql_spark.engine import _append_epoch

    path = str(tmp_path / "sink")
    bdf = spark.range(50).withColumn("v", F.col("id") * 2)
    _append_epoch(bdf, path, 3)
    assert spark.read.parquet(path).count() == 50
    # redelivery of the SAME epoch (simulated crash before commit)
    _append_epoch(bdf, path, 3)
    assert spark.read.parquet(path).count() == 50
    # a crashed attempt's stray partial file for epoch 3 must be
    # cleaned up by the retry, not double-counted
    some = sorted(glob.glob(f"{path}/epoch-*-part-*"))[0]
    shutil.copy(some, f"{path}/epoch-{3:020d}-part-stray.parquet")
    assert spark.read.parquet(path).count() > 50  # duplicated state
    _append_epoch(bdf, path, 3)
    assert spark.read.parquet(path).count() == 50
    # a DIFFERENT epoch appends
    _append_epoch(bdf, path, 4)
    assert spark.read.parquet(path).count() == 100
    df = spark.read.parquet(path)
    assert df.distinct().count() == 50  # two epochs, same rows here
    assert not glob.glob(f"{path}__epochs/*"), "staging not reclaimed"


def test_update_sink_merges_changed_groups(spark, tmp_path):
    """The update-mode MERGE semantics, driven batch-by-batch exactly
    as the foreachBatch sink does (epoch-stamped apply_cdc_batch,
    multi-key): each batch upserts only its CHANGED groups, a
    redelivered batch is a fixed point, and the final snapshot is the
    last write per key."""
    from htsql_spark.streaming.snapshot import apply_cdc_batch

    path = str(tmp_path / "snap")

    def batch(epoch, rows):
        return (
            spark.createDataFrame(rows, "k1 string, k2 int, n long")
            .withColumn("__cdc_op", F.lit("U"))
            .withColumn("__cdc_ts", F.lit(epoch))
        )

    def merge(b):
        apply_cdc_batch(
            spark, b, path, key=["k1", "k2"],
            ts_col="__cdc_ts", op_col="__cdc_op",
        )

    merge(batch(0, [("a", 1, 10), ("b", 1, 20)]))
    b1 = batch(1, [("a", 1, 15), ("c", 2, 7)])
    merge(b1)
    merge(b1)  # redelivery (crash retry) — fixed point
    merge(batch(2, [("b", 1, 99)]))
    got = sorted(
        (r["k1"], r["k2"], r["n"])
        for r in spark.read.parquet(path).collect()
    )
    assert got == [("a", 1, 15), ("b", 1, 99), ("c", 2, 7)]


def test_update_mode_drain_parity(db):
    """run_stream in UPDATE mode (keys= the grouping attributes):
    each micro-batch MERGEs only changed groups into the snapshot,
    and at drain end the snapshot equals the batch answer — the live
    serving shape where an epoch costs O(changed groups), not
    O(all groups)."""
    q = "/events.tumbling('1 day')"
    streamed = db.run_stream(q, keys=["w_start", "w_end", "event_type"])
    batch = db.df(q)
    assert streamed.columns == batch.columns
    assert _norm_rows(streamed) == _norm_rows(batch)


def test_update_mode_multibatch_drain(spark, tmp_path):
    """Update mode across MANY micro-batches: the events fixture is
    split into four TIME-ORDERED landing files under a DIRECTORY
    mount (maxFilesPerTrigger=1 → four micro-batches — the checkpoint
    offsets prove it), so later batches UPDATE boundary groups earlier
    batches created; the final snapshot must equal the batch twin over
    the whole directory.  Time-ordered because that is the landing-
    zone contract the watermark encodes: micro-batches advance the
    watermark, so a landing dir replayed in RANDOM order legitimately
    drops late rows — parity holds for in-order arrival."""
    import glob
    import os
    import shutil

    from htsql_spark import HTSQL
    from htsql_spark.catalog import Catalog, TableDef

    land = tmp_path / "events"
    land.mkdir()
    base = HTSQL(spark, SF_DIR)
    ev = base.table("events")
    qs = [
        r["q"]
        for r in ev.select(
            F.expr(
                "explode(percentile(unix_micros(cast(ts as timestamp)),"
                " array(0.25, 0.5, 0.75)))"
            ).alias("uq")
        )
        .select(
            F.timestamp_micros(F.col("uq").cast("long"))
            .cast("timestamp_ntz")
            .alias("q")
        )
        .collect()
    ]
    lo = None
    for i, hi in enumerate([*qs, None]):
        part = ev
        if lo is not None:
            part = part.filter(F.col("ts") > lo)
        if hi is not None:
            part = part.filter(F.col("ts") <= hi)
        scratch = str(tmp_path / f"scratch{i}")
        part.coalesce(1).write.mode("overwrite").parquet(scratch)
        src = glob.glob(f"{scratch}/part-*.parquet")[0]
        dst = str(land / f"chunk{i}.parquet")
        shutil.move(src, dst)
        os.utime(dst, (1_700_000_000 + i * 100, 1_700_000_000 + i * 100))
        lo = hi
    cat = Catalog(
        {"events": TableDef(name="events", pk=("event_id",), stream=True)}
    )
    db2 = HTSQL(spark, str(tmp_path), catalog=cat)
    q = "/events.tumbling('1 day')"
    out = str(tmp_path / "snap")
    cp = str(tmp_path / "cp")

    # observe the snapshot's bucket directories BETWEEN epochs: a
    # foreachBatch epoch must leave every untouched bucket's files
    # byte-identical (the bucket-scoped MERGE claim — O(changed
    # groups) I/O per epoch, not a full snapshot rewrite)
    import hashlib

    def bucket_state():
        state = {}
        for d in sorted(glob.glob(f"{out}/htsql__bucket=*")):
            files = {}
            for f in sorted(glob.glob(f"{d}/*")):
                with open(f, "rb") as fh:
                    files[os.path.basename(f)] = (
                        os.path.getmtime(f),
                        hashlib.md5(fh.read()).hexdigest(),
                    )
            state[os.path.basename(d)] = files
        return state

    # capture the snapshot's bucket layout at every epoch boundary by
    # wrapping the sink's MERGE body (deterministic — no polling race
    # with the swap renames)
    from htsql_spark.streaming import snapshot as snap_mod

    epoch_states = []
    real_apply = snap_mod.apply_cdc_batch

    def spying_apply(*args, **kwargs):
        epoch_states.append(bucket_state())
        real_apply(*args, **kwargs)
        epoch_states.append(bucket_state())

    snap_mod.apply_cdc_batch = spying_apply
    try:
        db2.store_stream(
            q, out, checkpoint=cp,
            keys=["w_start", "w_end", "event_type"],
        )
    finally:
        snap_mod.apply_cdc_batch = real_apply

    offsets = glob.glob(f"{cp}/offsets/*")
    assert len(offsets) >= 4, f"expected >=4 micro-batches, got {offsets}"
    from htsql_spark.streaming.snapshot import read_snapshot

    streamed = read_snapshot(spark, out)
    batch = db2.df(q)
    assert sorted(streamed.columns) == sorted(batch.columns)
    assert _norm_rows(streamed.select(*batch.columns)) == _norm_rows(batch)
    # the drain wrote a BUCKETED snapshot...
    assert glob.glob(f"{out}/htsql__bucket=*"), "snapshot is not bucketed"
    # ...and across observed epoch transitions, some non-empty bucket
    # survived untouched with byte-identical files (the events fixture
    # spans many days split into 4 time-ordered chunks, so later
    # epochs touch only their boundary windows' buckets)
    carried = 0
    changed_somewhere = False
    pairs = list(zip(epoch_states[0::2], epoch_states[1::2]))
    assert len(pairs) >= 4, f"expected >=4 sink epochs, saw {len(pairs)}"
    for before, after in pairs:
        if not before:
            continue  # bootstrap epoch: no snapshot yet
        for d, files in before.items():
            if files and after.get(d) == files:
                carried += 1
            elif after.get(d) != files:
                changed_somewhere = True
    assert carried > 0, "no untouched bucket survived an epoch byte-identical"
    assert changed_somewhere, "no bucket ever changed across epochs"


def test_update_epoch_job_budget(spark, db, tmp_path):
    """An update-mode epoch pins its micro-batch once and plans the
    MERGE with one aggregation job (touched buckets and the key
    uniqueness check together).  Jobs are counted per micro-batch
    under the stream's job group: the sf0.001 tumbling drain is one
    data epoch (bootstrap: pin, plan, write) and one no-data epoch
    (pin, plan).  A second pin or a separate duplicate-key job adds
    jobs to both."""
    import re

    q = db.start_stream(
        "/events.tumbling('1 day')",
        str(tmp_path / "out"),
        checkpoint=str(tmp_path / "cp"),
        keys=["w_start", "w_end", "event_type"],
    )
    q.awaitTermination()
    jsc = spark._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    per_batch: dict[int, int] = {}
    for jid in spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId)):
        desc = store.job(jid).description()
        batch = int(re.search(r"batch = (\d+)", desc.get()).group(1))
        per_batch[batch] = per_batch.get(batch, 0) + 1
    assert [p["numInputRows"] for p in q.recentProgress] == [1000, 0]
    assert per_batch[0] <= 4 and per_batch[1] <= 2, per_batch


def test_update_mode_guards(db):
    """update mode without keys, unknown keys, keys alongside a
    non-update mode, and reserved sink column names are NAMED compile
    errors; under-identifying keys fail the drain loudly."""
    from htsql_spark.ir import CompileError

    with pytest.raises(CompileError, match="keys"):
        db.run_stream("/events.tumbling('1 day')", output_mode="update")
    with pytest.raises(CompileError, match="not attributes"):
        db.run_stream(
            "/events.tumbling('1 day')", keys=["no_such_col"]
        )
    # keys + explicit non-update mode would silently drop the MERGE
    # the caller asked for (round-12 review)
    with pytest.raises(CompileError, match="only applies to update"):
        db.run_stream(
            "/events.tumbling('1 day')", output_mode="append",
            keys=["w_start", "w_end", "event_type"],
        )
    # a key SUBSET under-identifies the groups: one epoch emits many
    # rows per event_type, and a silent MERGE would keep an arbitrary
    # one — must fail loudly at drain (round-12 review)
    with pytest.raises(Exception, match="uniquely identify"):
        db.run_stream("/events.tumbling('1 day')", keys=["event_type"])


def test_stream_output_mode_agg_over_stateful_raises(db):
    """An aggregate composed OVER the stateful anomalies() kernel is
    never streaming-legal; mode detection must say so by name instead
    of letting Spark reject the start with a generic watermark error
    (round-11 advice)."""
    from htsql_spark.ir import CompileError

    sdf = db.df_stream(
        "/(events.anomalies(3.0)^{event_type})"
        "{event_type, n := count(^)}"
    )
    with pytest.raises(CompileError, match="anomalies"):
        db._stream_output_mode(sdf)


def test_hist_is_guarded_batch_only(db):
    """hist()'s boundary-aggregate broadcast is a stream-stream join —
    never streaming-legal, so it fails the df_stream compile with the
    named batch-only error like freq()/heavy_hitters() (round-11
    advice), not at drain with Spark's opaque AnalysisException."""
    from htsql_spark.ir import CompileError

    with pytest.raises(CompileError, match="hist"):
        db.df_stream("/events.hist(value)")


def test_multi_expression_quantiles_is_batch_only(db):
    """The multi-expression quantiles() form unions one streaming
    aggregate per expression — Spark allows at most one streaming
    aggregation, so the compile fails with the named remedy (the
    single-expression form keeps streaming with drain parity)."""
    from htsql_spark.ir import CompileError

    with pytest.raises(CompileError, match="multi-expression quantiles"):
        db.df_stream("/events.quantiles({value, dbl := value*2}, 0.5)")


def test_update_mode_live_processing_time(spark, tmp_path):
    """LIVE serving end to end (not an availableNow drain): a
    processingTime-triggered update-mode stream serves a keyed
    aggregate snapshot while new files land in the directory mount —
    the snapshot converges to the batch answer over everything
    landed, each epoch MERGing only changed groups.  The reader polls
    the SERVED path concurrently (retry-on-miss per the atomic-swap
    contract), so this also exercises mid-epoch reads on the live
    path."""
    import glob
    import os
    import shutil
    import time

    from htsql_spark import HTSQL
    from htsql_spark.catalog import Catalog, TableDef

    land = tmp_path / "events"
    land.mkdir()
    from pyspark.sql import Window

    base = HTSQL(spark, SF_DIR)
    ev = base.table("events")
    n = ev.count()
    # deterministic time-ordered split (limit+subtract re-evaluates
    # the limit and can disagree with what was already written)
    ranked = ev.withColumn(
        "__rn", F.row_number().over(Window.orderBy("ts", "event_id"))
    )
    half = ranked.filter(F.col("__rn") <= n // 2).drop("__rn")
    rest = ranked.filter(F.col("__rn") > n // 2).drop("__rn")

    def drop(df, name, mtime):
        scratch = str(tmp_path / f"scratch_{name}")
        df.coalesce(1).write.mode("overwrite").parquet(scratch)
        src = glob.glob(f"{scratch}/part-*.parquet")[0]
        dst = str(land / f"{name}.parquet")
        shutil.move(src, dst)
        os.utime(dst, (mtime, mtime))

    drop(half, "chunk0", 1_700_000_000)
    cat = Catalog(
        {"events": TableDef(name="events", pk=("event_id",), stream=True)}
    )
    db2 = HTSQL(spark, str(tmp_path), catalog=cat)
    out = str(tmp_path / "serve")
    q = db2.start_stream(
        "/events.tumbling('1 day')",
        out,
        checkpoint=str(tmp_path / "cp"),
        keys=["w_start", "w_end", "event_type"],
        trigger={"processingTime": "1 second"},
    )
    try:
        def served_total(deadline=60):
            end = time.time() + deadline
            last = None
            while time.time() < end:
                try:
                    last = (
                        spark.read.parquet(out)
                        .agg(F.sum("n").alias("t"))
                        .collect()[0]["t"]
                    )
                except Exception:
                    time.sleep(0.5)
                    continue
                yield last
                time.sleep(0.5)
            yield last

        # converge on the first half
        want_half = n // 2
        for t in served_total():
            if t == want_half:
                break
        assert t == want_half, f"first-half snapshot never converged ({t})"
        # land the second half WHILE the stream is live
        drop(rest, "chunk1", 1_700_000_100)
        for t in served_total():
            if t == n:
                break
        assert t == n, f"live snapshot never caught up ({t} != {n})"
    finally:
        q.stop()
    # FRESH engine for the batch twin: a batch scan freezes its file
    # listing when the table is first resolved (db2 resolved it before
    # chunk1 landed — standard Spark file-index behavior)
    db3 = HTSQL(spark, str(tmp_path), catalog=cat)
    batch = db3.df("/events.tumbling('1 day')")
    streamed = spark.read.parquet(out)
    assert _norm_rows(streamed.select(*batch.columns)) == _norm_rows(batch)


def test_multi_expression_distinct_count_is_batch_only(db):
    """Multi-expression distinct_count() unions one streaming
    aggregate per expression — batch-only with the named remedy, like
    multi-expression quantiles() (the single form keeps streaming)."""
    from htsql_spark.ir import CompileError

    with pytest.raises(CompileError, match="multi-expression distinct_count"):
        db.df_stream("/events.distinct_count({user_id, event_id})")


def test_within_stream_static(spark):
    """within() with a STREAM left side and a STATIC right side (a
    second batch mount of the same backing file): the interval_join
    kernel watermarks only the streaming side and Spark runs a
    stateless stream-static range join — drain equals the all-batch
    twin.  Completes the within() execution matrix (batch/batch,
    stream/stream, stream/static)."""
    from htsql_spark import HTSQL
    from htsql_spark.catalog import Catalog, TableDef

    cat = Catalog(
        {
            "events": TableDef(name="events", pk=("event_id",), stream=True),
            "events_hist": TableDef(name="events", pk=("event_id",)),
        }
    )
    db2 = HTSQL(spark, SF_DIR, catalog=cat)
    q = (
        "/(events?event_type='purchase').within("
        "events_hist?event_type='click', user_id, ts, event_id,"
        " event_id, '24 hours')"
    )
    sdf = db2.df_stream(q)
    assert sdf.isStreaming
    streamed = db2.run_stream(q)
    batch = db2.df(q)
    assert streamed.columns == batch.columns
    assert _norm_rows(streamed) == _norm_rows(batch)


def test_append_sink_compacts_and_keeps_appending(spark, tmp_path):
    """The append sink's epoch-tagged files accumulate one file set
    per micro-batch — the small-file problem every landing zone hits
    at scale.  compact_dataset shares the sink's dataset-lock
    discipline, so maintenance runs safely between drains: rows are
    preserved, the file count drops, and LATER epochs keep appending
    idempotently after the rewrite (their retry-delete matches no
    compacted file, so a redelivery still converges)."""
    import glob

    from htsql_spark.engine import _append_epoch
    from htsql_spark.operators.layout import compact_dataset

    path = str(tmp_path / "sink")
    for epoch in range(6):
        bdf = spark.range(100).withColumn(
            "v", F.col("id") + epoch * 1000
        )
        _append_epoch(bdf, path, epoch)
    files_before = len(glob.glob(f"{path}/epoch-*"))
    assert files_before >= 6
    total = spark.read.parquet(path).count()
    n_files = compact_dataset(spark, path, target_files=2)
    assert n_files <= 2
    assert spark.read.parquet(path).count() == total
    # the stream keeps going: a NEW epoch appends after compaction...
    bdf = spark.range(100).withColumn("v", F.col("id") + 9000)
    _append_epoch(bdf, path, 9)
    assert spark.read.parquet(path).count() == total + 100
    # ...and its crash-redelivery still converges to one copy
    _append_epoch(bdf, path, 9)
    assert spark.read.parquet(path).count() == total + 100


def test_within_custom_watermark(db):
    """within()'s optional 7th argument sets the streaming
    state-eviction watermark; the single-batch drain still equals the
    batch twin (the watermark only bounds out-of-order tolerance on a
    LIVE multi-batch stream)."""
    q = (
        "/(events?event_type='purchase').within("
        "events?event_type='click', user_id, ts, event_id, event_id,"
        " '24 hours', '2 hours')"
    )
    streamed = db.run_stream(q)
    batch = db.df(q)
    assert _norm_rows(streamed) == _norm_rows(batch)


def test_derive_stream_partitions(spark, tmp_path):
    """Scale-adaptive stream partitioning (r13): partitions derive
    from source bytes (ceil(bytes/target), floor 1, cap 8×cores),
    Python-stateful plans floor at defaultParallelism (compute-bound
    — data-sized partitioning would serialize the per-group pandas
    calls), and _stream_conf restores the session conf after the
    start window."""
    from htsql_spark.streaming.events import (
        _stream_conf,
        derive_stream_partitions,
    )

    par = spark.sparkContext.defaultParallelism
    small = tmp_path / "small"
    small.mkdir()
    (small / "f.bin").write_bytes(b"x" * 1024)
    # 1 KB / 64 MB → 1 partition, regardless of the session default
    assert derive_stream_partitions(spark, str(small)) == 1
    # compute floor: never below defaultParallelism for Python-stateful
    assert (
        derive_stream_partitions(spark, str(small), compute_floor=True)
        == par
    )
    # bytes-proportional in the middle, capped at 8×cores
    assert (
        derive_stream_partitions(
            spark, str(small), target_bytes=256
        )
        == 4
    )
    assert (
        derive_stream_partitions(spark, str(small), target_bytes=1)
        == 8 * par
    )
    # r14: unmeasurable sources fall back to the SESSION DEFAULT
    # (None), never collapse to 1 — an unreachable scheme or missing
    # path totalling 0 bytes must not pin 1 shuffle/state partition
    # into a fresh checkpoint for what may be a 100 TB stream
    assert (
        derive_stream_partitions(spark, "s3a://no-such-bucket/stream")
        is None
    )
    assert (
        derive_stream_partitions(spark, str(tmp_path / "missing")) is None
    )
    empty = tmp_path / "empty"
    empty.mkdir()
    assert derive_stream_partitions(spark, str(empty)) is None
    # ... and the compute floor does not resurrect a failed listing
    assert (
        derive_stream_partitions(
            spark, str(tmp_path / "missing"), compute_floor=True
        )
        is None
    )
    # the conf window is temporary: value set inside, restored after
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    with _stream_conf(spark, 3):
        assert spark.conf.get(key) == "3"
    assert spark.conf.get(key) == before
    with _stream_conf(spark, None):
        assert spark.conf.get(key) == before
    assert spark.conf.get(key) == before


def test_stream_source_paths(spark, tmp_path):
    """stream_source_paths reads the FileStreamSource path off the
    analyzed plan — the engine sizes partition derivation by the
    stream's OWN source, not the whole mounted dir (r14)."""
    import os

    from htsql_spark import streaming
    from htsql_spark.streaming.events import stream_source_paths

    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    src = streaming.read_events_stream(spark, sf)
    paths = stream_source_paths(src)
    # the reader points at the shared dir with a pathGlobFilter: the
    # (path, glob) pair identifies the stream's OWN files
    assert len(paths) == 1
    path, glob = paths[0]
    assert path.rstrip("/").endswith(sf.rstrip("/").split("/")[-1])
    assert glob == "events.parquet"
    # glob-aware sizing counts ONLY the stream's files: events.parquet
    # is a small fraction of the dir, so the derived count must not
    # exceed the whole-dir derivation and must reflect just the file
    from htsql_spark.streaming.events import derive_stream_partitions

    sized = derive_stream_partitions(spark, (sf, "events.parquet"))
    assert sized == 1  # a few-KB source: one partition, not the dir's
    # a glob matching nothing -> unmeasured -> session-default fallback
    assert derive_stream_partitions(spark, (sf, "no-such-*.parquet")) is None
    # batch plans have no streaming relations
    assert stream_source_paths(spark.range(3)) == []
    # a recursiveFileLookup source (the CDC landing shape: one
    # sub-directory per change batch) is sized as its whole tree — its
    # glob matches leaf names at any depth, so the glob alone would
    # match no direct child and fall back to the session default; the
    # count equals the whole-directory derivation
    land = tmp_path / "land"
    df = spark.range(50).selectExpr("id AS k", "id * 2 AS v")
    for sub in ("b1", "b2"):
        df.coalesce(1).write.parquet(str(land / sub))
    src = (
        spark.readStream.schema(df.schema)
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .parquet(str(land))
    )
    paths = stream_source_paths(src)
    assert len(paths) == 1
    path, glob = paths[0]
    assert path.rstrip("/").endswith("land") and glob is None
    assert derive_stream_partitions(spark, (str(land), "*.parquet")) is None
    sized = derive_stream_partitions(spark, *paths)
    assert sized == derive_stream_partitions(spark, str(land)) == 1


def test_stream_partitions_pin_into_checkpoint(spark, tmp_path):
    """The derived partition count is pinned by Spark's offset-log
    metadata: a re-drain of the SAME checkpoint under a different
    session conf must REUSE the checkpointed state (r13 advice: the
    old form of this test drained zero batches the second time —
    availableNow with no new input runs nothing — so it only proved
    start() didn't throw).  A second input file arrives between the
    drains, so the re-drain really executes a batch under the
    conflicting conf, and its complete-mode output must carry file
    A's windows UNCHANGED (checkpointed state reused, not rebuilt or
    lost) plus file B's new windows."""
    import datetime as dt
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from htsql_spark import streaming
    from htsql_spark.streaming.events import _events_schema

    landing = tmp_path / "landing"
    landing.mkdir()
    cp = str(tmp_path / "cp")

    def _write(name, rows):
        # (event_id, ts, event_type, value) rows in the events schema
        tbl = pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array(
                    [r[1] for r in rows], pa.timestamp("us")
                ),
                "user_id": pa.array([1] * len(rows), pa.int64()),
                "event_type": pa.array(
                    [r[2] for r in rows], pa.string()
                ),
                "value": pa.array([r[3] for r in rows], pa.float64()),
                "props": pa.array(["{}"] * len(rows), pa.string()),
            }
        )
        pq.write_table(tbl, str(landing / name))

    d = dt.datetime
    _write(
        "events_a.parquet",
        [
            (1, d(2024, 1, 1, 10), "click", 1.0),
            (2, d(2024, 1, 1, 11), "view", 2.0),
            (3, d(2024, 1, 2, 9), "click", 3.0),
            (4, d(2024, 1, 2, 10), "click", 4.0),
        ],
    )

    glob = "events_*.parquet"
    schema, ts_unit, ts_tz = _events_schema(str(landing), glob)

    def _src():
        # mirrors read_events_stream but with a multi-file glob so
        # the re-drain below can receive NEW input (the engine
        # reader's literal single-file glob never sees a second file)
        raw = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .option("pathGlobFilter", glob)
            .parquet(str(landing))
        )
        if not ts_tz:
            raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
        return raw

    def _drain(sink):
        q = (
            streaming.tumbling_counts(_src())
            .writeStream.outputMode("complete")
            .format("memory")
            .queryName(sink)
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {
            (r["w_start"], r["event_type"]): (r["n"], r["total"])
            for r in spark.table(sink).collect()
        }

    rows_a = _drain("t_pin_a")
    expect_a = {
        (d(2024, 1, 1), "click"): (1, 1.0),
        (d(2024, 1, 1), "view"): (1, 2.0),
        (d(2024, 1, 2), "click"): (2, 7.0),
    }
    assert rows_a == expect_a
    # new input lands, then a re-drain of the SAME checkpoint under a
    # wildly different session value: Spark must reuse the
    # checkpointed shuffle-partition count and the existing state
    _write(
        "events_b.parquet",
        [
            (5, d(2024, 1, 5, 8), "click", 5.0),
            (6, d(2024, 1, 5, 9), "view", 6.0),
        ],
    )
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "5")
        rows_b = _drain("t_pin_b")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    # file A's windows intact (state REUSED under the conflicting
    # conf) plus file B's new windows — a fresh rebuild would have
    # lost A's rows, a 5-partition re-plan would misroute the state
    assert rows_b == {
        **expect_a,
        (d(2024, 1, 5), "click"): (1, 5.0),
        (d(2024, 1, 5), "view"): (1, 6.0),
    }
    # ... and the offset log's pinned shuffle-partition count survived
    # (Spark writes it into the checkpoint's first offset entry)
    import json as _json
    import re as _re

    with open(os.path.join(cp, "offsets", "0")) as fh:
        meta = [
            ln for ln in fh.read().splitlines() if "shuffle.partitions" in ln
        ]
    assert meta, "offset log carries no shuffle-partition metadata"
    conf = _json.loads(_re.sub(r"^v\d+", "", meta[0]))
    pinned = int(
        (conf.get("conf") or conf)["spark.sql.shuffle.partitions"]
    )
    assert pinned == int(old)
