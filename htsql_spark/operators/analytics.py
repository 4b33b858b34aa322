"""Product-analytics operators over the ``events`` table: sequential
funnels, cohort retention, and event-transition paths.

The reference (htsql 2.3.3) serves exactly this workload — app-database
analytics over users/events — but leaves multi-step sequence logic to
hand-written SQL; here they are first-class operators with Spark-first
plans:

* ``funnel`` — one shuffle total: events collapse to one row per user
  (collect_list of the step-relevant (ts, type) pairs only), then the
  strict-ordering walk runs as JVM array algebra (filter/transform/
  array_min) inside codegen.  State per user is bounded by that user's
  step-event count, not the stream; no self-joins over the fact table.
* ``retention`` — two aggregations sharing the user_id partitioning
  (first-touch cohort + distinct active weeks) joined on user_id; AQE
  broadcasts the cohort side when small.
* ``transitions`` — a lead() window per user then a map-side-combined
  count; the classic next-event Markov matrix.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..ir import quote


def funnel(
    events: DataFrame,
    steps: list[str],
    ts_col: str = "ts",
    user_col: str = "user_id",
    type_col: str = "event_type",
) -> DataFrame:
    """Strict-sequence funnel: a user reaches step k iff an event of
    type ``steps[k]`` occurs strictly after their earliest qualifying
    step-(k-1) event.  Returns (step, event_type, users) — one row per
    step with the count of users reaching it."""
    if not steps:
        raise ValueError("funnel: steps must be non-empty")
    per_user = (
        events.filter(F.col(type_col).isin(steps))
        .select(
            F.col(user_col),
            F.struct(F.col(ts_col).alias("ts"), F.col(type_col).alias("et")).alias("e"),
        )
        .groupBy(user_col)
        .agg(F.collect_list("e").alias("a"))
    )

    def first_after(prev: Column | None, step: str) -> Column:
        def match(x):
            hit = x["et"] == step
            return hit if prev is None else hit & (x["ts"] > prev)

        return F.array_min(F.transform(F.filter(F.col("a"), match), lambda x: x["ts"]))

    prev = None
    for i, s in enumerate(steps):
        per_user = per_user.withColumn(f"__t{i}", first_after(prev, s))
        prev = F.col(f"__t{i}")
    counts = per_user.agg(
        *[F.count(f"__t{i}").alias(f"__c{i}") for i in range(len(steps))]
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(i + 1).alias("step"),
                F.lit(s).alias("event_type"),
                F.col(f"__c{i}").alias("users"),
            )
            for i, s in enumerate(steps)
        ]
    )
    return counts.select(F.explode(rows).alias("r")).select("r.*")


def retention(
    events: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
) -> DataFrame:
    """Weekly cohort retention: users grouped by first-touch week,
    counted in each subsequent week they were active.  Returns
    (cohort_week, week_offset, users)."""
    first = events.groupBy(user_col).agg(F.min(ts_col).alias("__f"))
    cohort = first.select(
        user_col, F.date_trunc("week", F.col("__f")).cast("date").alias("cohort_week")
    )
    active = events.select(
        user_col, F.date_trunc("week", F.col(ts_col)).cast("date").alias("__aw")
    ).distinct()
    return (
        active.join(cohort, user_col)
        .groupBy(
            "cohort_week",
            (F.datediff(F.col("__aw"), F.col("cohort_week")) / 7)
            .cast("int")
            .alias("week_offset"),
        )
        # plain count: `active` is already distinct per (user, week)
        # and cohort is one row per user, so each user appears once
        # per group — countDistinct would add an expand/two-phase
        # distinct aggregation for the identical result
        .agg(F.count(F.lit(1)).alias("users"))
    )


def transitions(
    events: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    type_col: str = "event_type",
    order_col: str = "event_id",
) -> DataFrame:
    """Next-event transition counts per ordered user timeline —
    (event_type, next_type, n).  The (ts, event_id) sort key makes the
    sequence total and the result deterministic."""
    w = Window.partitionBy(user_col).orderBy(ts_col, order_col)
    nxt = F.lead(type_col).over(w)
    return (
        events.withColumn("__next", nxt)
        .filter(F.col("__next").isNotNull())
        .groupBy(F.col(type_col), F.col("__next").alias("next_type"))
        .agg(F.count("*").alias("n"))
    )


def sessionize(
    events: DataFrame,
    gap_minutes: int = 30,
    ts_col: str = "ts",
    user_col: str = "user_id",
    order_col: str = "event_id",
    value_col: str = "value",
) -> DataFrame:
    """Batch gaps-and-islands sessionization: a new session starts when
    the gap to the previous event exceeds ``gap_minutes``.  Returns one
    row per (user, session) with start, size, exact microsecond
    duration, and value sum.  All arithmetic is integer microseconds
    (unix_micros) so session boundaries are bit-exact and portable.

    Two windows + one aggregation, all sharing the user_id
    partitioning — one shuffle total at any scale."""
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    d, (sid,) = append_session_index(
        events,
        gap_minutes=gap_minutes,
        ts_col=ts_col,
        user_col=user_col,
        order_col=order_col,
        prefix="__sz_",
    )
    return (
        d.groupBy(F.col(user_col), F.col(sid).alias("session_id"))
        .agg(
            F.min(ts_col).alias("session_start"),
            F.count("*").alias("n_events"),
            (F.max(us) - F.min(us)).alias("duration_us"),
            F.round(F.sum(value_col), 6).alias("value_sum"),
        )
    )


def append_session_index(
    df: DataFrame,
    gap_minutes: int = 30,
    ts_col: str = "ts",
    user_col: str = "user_id",
    order_col: str = "event_id",
    prefix: str = "",
) -> tuple[DataFrame, list[str]]:
    """Append the per-event 0-based session index
    (``{prefix}session_id``) KEEPING every existing column — the
    gaps-and-islands kernel :func:`sessionize` aggregates over, and
    the column-builder form of the query-language ``sessionize()``
    flow method.  A new session starts when the gap to the user's
    previous event exceeds ``gap_minutes``; all arithmetic is integer
    microseconds so boundaries are bit-exact and portable.  Two
    windows sharing one ``user_col`` partitioning — a single shuffle
    at any scale.  Returns (df, appended names)."""
    gap_us = gap_minutes * 60 * 1_000_000
    w = Window.partitionBy(user_col).orderBy(ts_col, order_col)
    # engine timestamps are NTZ; the session runs UTC (engine.get_spark)
    # so the cast is value-preserving and unix_micros == DuckDB epoch_us
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    prev = F.lag(us).over(w)
    brk = F.when(prev.isNull() | ((us - prev) > gap_us), 1).otherwise(0)
    # scratch name derives from the caller's fresh prefix (the
    # append_gopher_signals contract): never clobber an input column
    brkc = f"__{prefix}ses_brk"
    name = f"{prefix}session_id"
    if brkc in df.columns:
        raise ValueError(
            f"append_session_index: scratch column {brkc!r} already"
            " exists on the input — pass a fresh prefix"
        )
    cum = F.sum(brkc).over(w.rowsBetween(Window.unboundedPreceding, 0))
    d = (
        df.withColumn(brkc, brk)
        .withColumn(name, (cum - 1).cast("int"))
        .drop(brkc)
    )
    return d, [name]


def triangle_count(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Per-node triangle counts over an undirected graph — the local
    clustering signal (spam farms and mirror clusters show up as
    abnormally dense neighbourhoods).  Classic degree-ordered
    "forward" algorithm (Schank & Wagner '05 / Cohen's MapReduce
    formulation): orient every edge from the lower-(degree, id) vertex
    to the higher, so each triangle is counted exactly once and —
    the 100 TB point — every vertex's OUT-degree is O(√m) even for
    celebrity nodes, which bounds the wedge join's skew; the wedge ⋈
    edge equi-join is the only quadratic-risk step and it runs on the
    oriented (bounded) lists.

    Input edges may contain duplicates, self-loops, or both
    directions — all normalized away.  Output: (node, triangles) for
    every vertex of at least one triangle.

    Plan: degree aggregate (one shuffle) broadcast-joined onto the
    edge list when small / shuffled when not (Catalyst + AQE decide),
    wedge self-join on the mid vertex, closure semi-check against the
    oriented edge set, then one explode + count per corner."""
    e = (
        edges.select(
            F.least(F.col(src).cast("string"), F.col(dst).cast("string")).alias("a"),
            F.greatest(F.col(src).cast("string"), F.col(dst).cast("string")).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        # pin the narrow normalized edge list: it is referenced FOUR
        # times below (deg's union twice, the orientation join, the
        # closure semi-check) and each reference otherwise re-expands
        # the caller's whole edge-derivation subtree — measured 60
        # input scans / 122 Exchanges on the co-supplier gate query
        # vs 4 scans pinned; only (a, b) id pairs are materialized
        .localCheckpoint(eager=False)
    )
    deg = (
        e.select(F.col("a").alias("v"))
        .unionAll(e.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    # orient: lower (degree, id) -> higher (degree, id)
    ed = (
        e.join(deg.withColumnRenamed("v", "a").withColumnRenamed("d", "da"), "a")
        .join(deg.withColumnRenamed("v", "b").withColumnRenamed("d", "db"), "b")
        .select(
            F.when(
                (F.col("da") < F.col("db"))
                | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("u"), F.col("b").alias("w")),
            )
            .otherwise(F.struct(F.col("b").alias("u"), F.col("a").alias("w")))
            .alias("__e")
        )
        .select(F.col("__e.u").alias("u"), F.col("__e.w").alias("w"))
        # same pin for the oriented list: wedge self-join (twice) +
        # closure check each re-derive it otherwise
        .localCheckpoint(eager=False)
    )
    x, y = ed.alias("x"), ed.alias("y")
    wedges = x.join(
        y, (F.col("x.w") == F.col("y.u"))
    ).select(
        F.col("x.u").alias("p"), F.col("x.w").alias("q"), F.col("y.w").alias("r")
    )
    tri = wedges.join(
        ed.select(F.col("u").alias("p"), F.col("w").alias("r")), ["p", "r"]
    )
    corners = tri.select(F.explode(F.array("p", "q", "r")).alias("node"))
    return corners.groupBy("node").agg(F.count(F.lit(1)).cast("long").alias("triangles"))


def window_profile(
    df: DataFrame,
    partition_col: str,
    order_col: str,
    tiebreak_col: str,
    value_col: str,
    n_tiles: int = 4,
) -> DataFrame:
    """The full analytic-window-function family over one partitioned
    ordering: rank, dense_rank, ntile, cume_dist, percent_rank,
    lag/lead neighbours, and the running sum.  The reference reaches
    this workload by delegating to hand-written backend SQL (htsql
    2.3.3 has no window functions in the language, SURVEY §2 F11/F20
    boundary); here it is one declarative operator.

    Two orderings, both deterministic: the rank family (rank,
    dense_rank, cume_dist, percent_rank) orders by ``order_col``
    alone so TIES keep their SQL semantics (rank gaps, shared
    cume_dist) while staying value-determined; the row-order family
    (ntile, lag, lead, running sum), whose output depends on the
    physical row sequence, orders by (order_col, tiebreak_col) with
    tiebreak required UNIQUE per partition — engine-portable either
    way.

    Plan: ONE shuffle on the partition key shared by both Window
    nodes (each adds its own in-partition sort).  At 100 TB the state
    per partition is streaming (rank/lag/running-sum incremental);
    cume_dist / percent_rank / ntile need the partition row count,
    which Spark gets from the same sorted run.  Skewed partitions
    (one giant key) are the caller's salting concern, as with any
    windowed op."""
    # dict.fromkeys dedupes role overlaps (e.g. ranking BY the value:
    # order_col == value_col) — a duplicate select would make every
    # F.col(role) ambiguous
    narrow = list(dict.fromkeys((partition_col, tiebreak_col, value_col, order_col)))
    out, names = append_window_profile(
        df.select(*narrow),
        value=F.col(value_col),
        partition=F.col(partition_col),
        order=F.col(order_col),
        tiebreak=F.col(tiebreak_col),
        n_tiles=n_tiles,
        prefix="",
    )
    return out.select(partition_col, tiebreak_col, value_col, *names)


def append_window_profile(
    df: DataFrame,
    value: "Column",
    partition: "Column",
    order: "Column",
    tiebreak: "Column",
    n_tiles: int = 4,
    prefix: str = "__wp_",
) -> tuple[DataFrame, list[str]]:
    """Append the analytic-window family of ``value`` over one
    partitioned ordering (expressions, not just physical columns) —
    the kernel window_profile and the profile() flow method share.
    Same single-shuffle contract: one exchange on the partition key,
    both Window nodes (value-ordered rank family, row-ordered
    ntile/lag/lead/running family) reuse the partitioning."""
    wv = Window.partitionBy(partition).orderBy(order)
    wu = Window.partitionBy(partition).orderBy(order, tiebreak)
    run = wu.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cols = {
        f"{prefix}rnk": F.rank().over(wv),
        f"{prefix}drnk": F.dense_rank().over(wv),
        f"{prefix}cume": F.round(F.cume_dist().over(wv), 6),
        f"{prefix}prank": F.round(F.percent_rank().over(wv), 6),
        f"{prefix}tile": F.ntile(n_tiles).over(wu),
        f"{prefix}prev_val": F.lag(value, 1).over(wu),
        f"{prefix}next_val": F.lead(value, 1).over(wu),
        f"{prefix}running_sum": F.round(F.sum(value).over(run), 2),
    }
    return df.withColumns(cols), list(cols)


def pagerank(
    edges: DataFrame,
    iterations: int = 5,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Fixed-iteration PageRank over an edge list — the link-graph
    quality signal web-corpus curation pipelines rank domains/pages
    with (alongside the text-level scores in operators/textstats.py).

    Distributed shape: ranks live in a (node, rank) DataFrame; each
    iteration is one shuffle — contributions flow along edges with a
    join on ``src`` and re-aggregate on ``dst`` — and the driver only
    ORCHESTRATES the fixed loop (classic pregel-by-joins; no rank
    data ever touches the driver).  Dangling nodes (no out-edges)
    contribute nothing per the simple formulation; every node keeps
    the (1-d)/N teleport term, so ranks stay comparable.  Each
    iteration's lineage is cut with a lazy localCheckpoint so the
    plan does not grow exponentially across iterations (the k-means
    loop in operators/similarity.py uses the same discipline).

    Deterministic: fixed iteration count, no convergence test — the
    whole computation is a closed-form expression a SQL oracle can
    replicate iteration by iteration.  Returns (node, rank) with
    rank rounded to 8 decimals."""
    if iterations < 0:
        raise ValueError(f"pagerank: iterations must be >= 0, got {iterations}")
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n_nodes = nodes.count()
    if n_nodes == 0:
        # empty graph: an empty (node, rank) frame, not a division
        # crash in the teleport arithmetic
        return nodes.withColumn("rank", F.lit(0.0)).select("node", "rank")
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # edges annotated with the sender's out-degree, reused every round
    flow = e.join(outdeg, "src").localCheckpoint(eager=False)
    ranks = nodes.withColumn("rank", F.lit(1.0 / n_nodes))
    teleport = (1.0 - damping) / n_nodes
    for _ in range(iterations):
        contrib = (
            flow.join(ranks, flow["src"] == ranks["node"])
            .select("dst", (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("inflow"))
        )
        ranks = (
            nodes.join(contrib, nodes["node"] == contrib["dst"], "left")
            .select(
                "node",
                (
                    F.lit(teleport)
                    + F.lit(damping) * F.coalesce(F.col("inflow"), F.lit(0.0))
                ).alias("rank"),
            )
            .localCheckpoint(eager=False)
        )
    return ranks.select("node", F.round("rank", 8).alias("rank"))


def scd2(
    changes: DataFrame,
    key: str,
    ts_col: str,
    attrs: list[str],
) -> DataFrame:
    """Build a slowly-changing-dimension type-2 history from a change
    stream: per ``key``, consecutive rows whose tracked ``attrs`` are
    unchanged are compressed away, and each surviving version gets a
    ``[valid_from, valid_to)`` interval (``valid_to`` NULL = current).
    Combined with the as-of join (operators/joins.py) this gives
    point-in-time dimension enrichment — the warehouse pattern the
    reference's app-database users hand-roll in SQL.

    One shuffle total: both the change-compression lag() and the
    interval lead() run in the same (key × ts) window partitioning.
    Ties on ts break by the full ordering (ts, then attrs) so the
    output is deterministic."""
    order = [F.col(ts_col)] + [F.col(a) for a in attrs]
    w = Window.partitionBy(key).orderBy(*order)
    state = F.struct(*[F.col(a) for a in attrs])
    compressed = (
        changes.withColumn("__prev", F.lag(state).over(w))
        .filter(F.col("__prev").isNull() | (F.col("__prev") != state))
        .drop("__prev")
    )
    w2 = Window.partitionBy(key).orderBy(*order)
    return compressed.select(
        F.col(key),
        *[F.col(a) for a in attrs],
        F.col(ts_col).alias("valid_from"),
        F.lead(ts_col).over(w2).alias("valid_to"),
    )


def apply_cdc(
    base: DataFrame,
    changes: DataFrame,
    key: str | list[str],
    ts_col: str = "ts",
    op_col: str = "op",
    delete_op: str = "D",
    broadcast_keys: bool = True,
) -> DataFrame:
    """Apply a CDC batch to a snapshot (the MERGE/upsert half of the
    warehouse pattern whose history half is :func:`scd2`): ``changes``
    carries ``op_col`` rows (any non-``delete_op`` value, null
    included, upserts; ``delete_op`` deletes) ordered by ``ts_col``;
    per key the LATEST change wins, an upsert's attribute values
    replace the snapshot row (or insert a new one), a delete removes
    it.  Returns the new snapshot with exactly ``base``'s columns.
    The reference's app-database users hand-roll this as MERGE INTO;
    here it is an operator with a scale-shaped plan.

    100 TB posture: the snapshot side is NEVER shuffled.  Last-writer
    resolution aggregates over the (batch-sized) ``changes`` only, and
    the snapshot is filtered by a left-anti join against the batch's
    key SET — one narrow column, broadcast by default, so even a
    wide multi-million-row change batch costs the snapshot a single
    map-side pass.  Set ``broadcast_keys=False`` only when the batch
    key set itself is too large to broadcast (then the anti join
    shuffles both sides on ``key``).

    Determinism: ties on ``ts_col`` break by ``op_col`` descending
    ('U' beats 'I' beats 'D' in ASCII, a null op loses to all three),
    so equal-timestamp batches resolve reproducibly; producers that
    need a different tie order should encode it in ``ts_col`` (a
    (ts, seq) epoch works).  Full (ts, op) ties are outside the
    contract for VALUE purposes (any of the tied rows may win) —
    exactly the window-shape behavior this aggregation replaced.

    r14 shape: last-writer resolution is ONE hash aggregation —
    ``max_by`` of the payload ranked by ``struct(ts, op)``
    (lexicographic struct max = the (ts desc, op desc) row_number
    winner, null ts losing to non-null exactly as desc-nulls-last
    did) — instead of a row_number window: partial map-side
    aggregation, no per-partition sort.  And the anti-join key set is
    the batch's DISTINCT keys, which equals the winners' key set by
    construction: the window subtree fed BOTH the survivors and the
    broadcast key set, and Spark does not CSE across join inputs, so
    the old shape evaluated the change-batch scan + window twice per
    MERGE; the distinct is a single pruned-to-the-key-columns pass.
    Measured on the stream_cdc epoch fold at sf0.1: 1.08 → 0.79 s
    (empty base) / 0.67 → 0.48 s (full-snapshot base).
    """
    keys = [key] if isinstance(key, str) else list(key)
    for k in keys:
        if k not in base.columns:
            raise ValueError(f"apply_cdc: key {k!r} not in base columns")
    missing = (set(base.columns) | {ts_col, op_col}) - set(changes.columns)
    if missing:
        raise ValueError(
            f"apply_cdc: changes is missing columns {sorted(missing)}"
        )
    # positional field aliases: base columns may legally collide with
    # ts_col/op_col or each other's names inside one struct
    vcols = [c for c in base.columns if c not in keys]
    fields = [f"{quote(c)} AS v{i}" for i, c in enumerate(vcols)]
    payload = F.expr(f"struct({', '.join(fields)}, {quote(op_col)} AS o)")
    winner = F.max_by(payload, F.struct(F.col(ts_col), F.col(op_col)))
    agg = changes.groupBy(*keys).agg(winner.alias("__cdc_w"))
    survivors = (
        agg.filter(~F.col("__cdc_w.o").eqNullSafe(delete_op))
        .selectExpr(
            *map(quote, keys),
            *(f"__cdc_w.v{i} AS {quote(c)}" for i, c in enumerate(vcols)),
        )
        .select(*base.columns)
    )
    touched = changes.select(*keys).distinct()
    if broadcast_keys:
        touched = F.broadcast(touched)
    untouched = base.join(touched, on=keys, how="left_anti")
    return untouched.unionByName(survivors)
