"""Extended join operators: as-of, range, theta.

The reference's only join source is FK navigation and correlation
(reference: src/htsql/core/tr/term.py::JoinTerm — all equi-joins);
theta/range/as-of joins are called out in SURVEY.md §3.1 as the gap
to fill via declared links (F16).  Here they are first-class
DataFrame compositions chosen for the 100 TB posture:

* ``asof_join`` — union + window ``last(ignorenulls)`` instead of an
  inequality join.  An inequality join on (key, ts <= ts) degenerates
  to a per-key cross product at scale; the union trick is one shuffle
  on (key) + one ordered window scan per partition — linear, and
  AQE-skew-handled.
* ``range_join`` — with equi keys: equi-join + range filter (the
  range predicate stays a post-join filter, the shuffle key is the
  equi column).  Without equi keys: bucketize the time axis so the
  join is an equi-join on the bucket id (no nested-loop explosion).
* ``theta_join`` — arbitrary boolean condition; small right side is
  broadcast so the nested-loop stays node-local.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..ir import quote


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_cols: list[str] | None = None,
    tolerance: str | None = None,
    direction: str = "backward",
) -> DataFrame:
    """As-of join: for each left row, the payload of the right row
    nearest in time with an equal ``on`` key — ``direction``
    'backward' (latest right.ts <= left.ts, the default and the
    classic), 'forward' (earliest right.ts >= left.ts), or 'nearest'
    (whichever of the two is closer; ties prefer backward).

    Implemented as tagged union + ``last(..., ignorenulls=True)`` over
    a (key)-partitioned, ts-ordered window — never an inequality
    join; 'nearest' runs both window passes over the one union.
    ``tolerance`` (an INTERVAL string, e.g. ``'1 hour'``) optionally
    discards matches further than that from ``left.ts`` — applied PER
    SIDE before 'nearest' selection, so a nearer-but-out-of-tolerance
    candidate never shadows a valid match on the other side (pandas
    merge_asof semantics).  NULL timestamps never match: null-ts right
    rows are dropped, null-ts left rows come back unmatched.  Ties
    among right rows sharing (key, ts) break on the payload hash —
    deterministic across runs and partitionings."""
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"unknown asof direction {direction!r}")
    if right_cols is None:  # an EXPLICIT [] means 'just the matched ts'
        right_cols = [c for c in right.columns if c not in (on, right_ts)]
    # a NULL right ts can never satisfy 'latest <= ts' — and under
    # NULLS FIRST it would sort to the partition head and become the
    # phantom match for every left row with no real predecessor
    right = right.filter(F.col(right_ts).isNotNull())
    l = left.select(
        F.col(on).alias("__k"),
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        F.struct(*left.columns).alias("__lrow"),
        F.lit(None).cast(
            right.select(
                F.struct(F.col(right_ts).alias("__rts"), *right_cols).alias("s")
            ).schema["s"].dataType.simpleString()
        ).alias("__rrow"),
    )
    r = right.select(
        F.col(on).alias("__k"),
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        F.lit(None).cast(
            left.select(F.struct(*left.columns).alias("s")).schema["s"].dataType.simpleString()
        ).alias("__lrow"),
        F.struct(F.col(right_ts).alias("__rts"), *right_cols).alias("__rrow"),
    )
    # right rows sort before left rows at equal ts (side 0 < 1), so a
    # same-instant right row is visible to the left row in BOTH
    # orderings (desc ordering keeps side asc as tiebreak).  nulls
    # FIRST in both orderings parks null-ts LEFT rows at the partition
    # head where no right row precedes them → unmatched, not matched
    # to an arbitrary row.  The payload hash is the final tiebreak: of
    # several right rows sharing (key, ts), last() deterministically
    # picks the max-hash one regardless of physical row order.
    tie = F.xxhash64("__rrow")
    wb = (
        Window.partitionBy("__k")
        .orderBy(F.col("__ts").asc_nulls_first(), "__side", tie)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("__k")
        .orderBy(F.col("__ts").desc_nulls_first(), "__side", tie)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    u = l.unionByName(r)
    if direction in ("backward", "nearest"):
        u = u.withColumn("__mb", F.last("__rrow", ignorenulls=True).over(wb))
    if direction in ("forward", "nearest"):
        u = u.withColumn("__mf", F.last("__rrow", ignorenulls=True).over(wf))
    if tolerance is not None:
        # PER-SIDE tolerance BEFORE direction selection: calendar
        # intervals (e.g. '1 month') have a different length in each
        # direction from a given anchor, and nulling the nearer side
        # here lets a within-tolerance match on the other side win
        # (post-selection filtering would discard it)
        def _secs(c):  # NTZ needs the timestamp hop before double
            return c.cast("timestamp").cast("double")

        iv = F.expr(f"INTERVAL {tolerance}")
        fwd_tol = _secs(F.col("__ts").cast("timestamp") + iv) - _secs(F.col("__ts"))
        back_tol = _secs(F.col("__ts")) - _secs(F.col("__ts").cast("timestamp") - iv)
        if direction in ("backward", "nearest"):
            db_ = _secs(F.col("__ts")) - _secs(F.col("__mb.__rts"))
            u = u.withColumn("__mb", F.when(db_ <= back_tol, F.col("__mb")))
        if direction in ("forward", "nearest"):
            df0 = _secs(F.col("__mf.__rts")) - _secs(F.col("__ts"))
            u = u.withColumn("__mf", F.when(df0 <= fwd_tol, F.col("__mf")))
    if direction == "backward":
        u = u.withColumn("__match", F.col("__mb"))
    elif direction == "forward":
        u = u.withColumn("__match", F.col("__mf"))
    else:
        def _s(c):  # NTZ needs the timestamp hop before double
            return c.cast("timestamp").cast("double")

        db = _s(F.col("__ts")) - _s(F.col("__mb.__rts"))
        df_ = _s(F.col("__mf.__rts")) - _s(F.col("__ts"))
        u = u.withColumn(
            "__match",
            F.when(F.col("__mb").isNull(), F.col("__mf"))
            .when(F.col("__mf").isNull(), F.col("__mb"))
            .when(df_ < db, F.col("__mf"))
            .otherwise(F.col("__mb")),  # ties prefer backward
        )
    u = u.filter(F.col("__side") == 1)
    out = [f"__lrow.{quote(c)} AS {quote(c)}" for c in left.columns]
    out += [f"__match.__rts AS {quote('r_' + right_ts)}"]
    out += [
        f"__match.{quote(c)} AS {quote(c if c not in left.columns else 'r_' + c)}"
        for c in right_cols
    ]
    return u.selectExpr(*out)


def range_join(
    left: DataFrame,
    right: DataFrame,
    condition: Column,
    equi: list[str] | None = None,
    how: str = "inner",
    bucket: tuple[Column, Column, str] | None = None,
) -> DataFrame:
    """Join on a range predicate.

    With ``equi`` keys, the shuffle happens on the equi columns and the
    range ``condition`` is a post-join filter (Catalyst plans a hash
    join + filter).  Without equi keys, pass ``bucket = (left_bucket,
    right_bucket, name)`` — both sides get an equi bucket-id column so
    the range join becomes a bucket equi-join.  ``left_bucket`` may be
    a LIST of columns covering every bucket the range can reach
    (e.g. ``[b - 1, b, b + 1]``): the left side is exploded over them,
    so pairs that straddle a bucket boundary are still found — with a
    single column, any nonzero-width range eventually crosses a
    boundary and those pairs are silently lost.  The right side emits
    exactly one bucket per row, so no pair is produced twice.
    """
    if equi:
        cond = None
        for k in equi:
            c = left[k] == right[k]
            cond = c if cond is None else cond & c
        return left.join(right, cond & condition, how)
    if bucket is not None:
        lb, rb, name = bucket
        if isinstance(lb, (list, tuple)):
            if how != "inner":
                # the explode replicates each left row once per
                # candidate bucket; an outer join would null-pad every
                # replica (len(lb) duplicates per unmatched row)
                raise ValueError(
                    "range_join: multi-bucket candidate lists support"
                    " how='inner' only"
                )
            l = left.withColumn(name, F.explode(F.array(*lb)))
        else:
            l = left.withColumn(name, lb)
        r = right.withColumn(name, rb)
        return l.join(r, (l[name] == r[name]) & condition, how).drop(name)
    # last resort: broadcast nested loop (only sane when right is tiny)
    return left.join(F.broadcast(right), condition, how)


def theta_join(
    left: DataFrame, right: DataFrame, condition: Column, how: str = "inner",
    broadcast_right: bool = True, allow_unbounded: bool = False,
) -> DataFrame:
    """Arbitrary-condition join.  At scale a theta join is a nested
    loop; containment comes in exactly three DECLARED shapes:

    * ``broadcast_right=True`` (default) — the right side is
      broadcast, so the nested loop stays node-local and the left
      side never moves.  Only sane for model-sized right sides
      (band/dimension tables), the shape declared links (F16) take.
    * ``broadcast_right=False`` — the right side is too big to
      broadcast; the condition must then carry at least one EQUALITY
      conjunct, which Catalyst extracts as the hash key and plans a
      shuffled equi join with the residual inequality as a post-join
      filter.  This is ASSERTED against the physical plan: a
      condition with no extractable key would otherwise silently
      degenerate to a cartesian / all-executor nested loop — the
      classic 100 TB query killer.
    * ``allow_unbounded=True`` — explicit opt-in for the genuinely
      unbounded big-big case (the documented small-corpus / exact
      modes elsewhere in this package follow the same convention:
      quadratic shapes exist only behind a loud flag).

    The ``broadcast_right=False`` guard is BATCH-ONLY: it forces
    analysis + physical planning at DataFrame-construction time,
    which a streaming input cannot do (and pays a driver planning
    pass per call).  Streaming callers must pick one of the two
    declared containment shapes (``broadcast_right=True`` or
    ``allow_unbounded=True``) instead — the guard raises a named
    error rather than letting Spark fail deep inside planning.
    Caveat: the inspected plan is the pre-AQE ``sparkPlan``; AQE can
    later REPLACE a shuffled hash join with a broadcast join, but it
    never turns an extracted-key join back into a nested loop, so a
    pass here is conservative in the safe direction.
    """
    if broadcast_right:
        return left.join(F.broadcast(right), condition, how)
    out = left.join(right, condition, how)
    if not allow_unbounded:
        if left.isStreaming or right.isStreaming:
            raise ValueError(
                "theta_join: the broadcast_right=False plan guard is"
                " batch-only (it inspects the physical plan at"
                " construction time, which a streaming DataFrame"
                " cannot produce) — use broadcast_right=True for a"
                " model-sized right side, or allow_unbounded=True to"
                " opt in without the guard"
            )
        # one driver-side planning pass (cached for the real action):
        # verify Catalyst found a hash/sort-merge key in the condition.
        # Inspect only THIS join's node — the root-most join in the
        # plan tree — not the whole plan string: an upstream input may
        # legitimately carry a sanctioned broadcast-1-row nested loop
        # (detach/histogram pattern) or an allow_unbounded theta join,
        # and a substring scan would false-positive on it.
        node = out._jdf.queryExecution().sparkPlan()
        stack, own = [node], None
        while stack:
            n = stack.pop()
            name = n.nodeName()
            if "Join" in name or name in ("CartesianProduct",):
                own = name
                break
            for i in range(n.children().size()):
                stack.append(n.children().apply(i))
        if own in ("CartesianProduct", "BroadcastNestedLoopJoin"):
            raise ValueError(
                "theta_join: condition has no extractable equality"
                " conjunct, so the non-broadcast join degenerates to a"
                " nested loop; broadcast the small side"
                " (broadcast_right=True), add an equi/band conjunct"
                " (range_join), or opt in with allow_unbounded=True"
            )
    return out


# ----------------------------------------------------------------------
# fixture-facing demos (driver-contract surface)
# ----------------------------------------------------------------------
def purchases_asof_clicks(events: DataFrame) -> DataFrame:
    """For each purchase event, the latest click of the same user at
    or before the purchase.  Ties within a timestamp are broken to the
    highest event_id on both sides to keep the result deterministic."""
    w = Window.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("event_id", "user_id", "ts")
    )
    clicks = (
        events.filter(F.col("event_type") == "click")
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(F.col("event_id").alias("click_id"), "user_id", "ts")
    )
    out = asof_join(purchases, clicks, on="user_id", right_cols=["click_id"])
    return out.select(
        "event_id",
        "user_id",
        F.col("r_ts").alias("click_ts"),
        "click_id",
    )


def purchase_clicks_within(events: DataFrame, window: str = "24 hours") -> DataFrame:
    """Per purchase: how many clicks the same user made in the
    preceding ``window`` (inclusive of the purchase instant)."""
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"),
        F.col("user_id"),
        F.col("ts").alias("pts"),
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("user_id"), F.col("ts").alias("cts")
    )
    cond = (clicks["cts"] <= purchases["pts"]) & (
        clicks["cts"] >= purchases["pts"] - F.expr(f"INTERVAL {window}")
    )
    joined = range_join(purchases, clicks, cond, equi=["user_id"], how="left")
    return (
        joined.groupBy("pid", purchases["user_id"])
        .agg(F.count("cts").alias("n_clicks"))
        .select(F.col("pid").alias("event_id"), F.col("user_id"), "n_clicks")
    )


def acctbal_bands(spark) -> DataFrame:
    rows = [
        ("debt", -100000.0, 0.0),
        ("low", 0.0, 3000.0),
        ("mid", 3000.0, 7000.0),
        ("high", 7000.0, 100000.0),
    ]
    return spark.createDataFrame(rows, "band string, lo double, hi double")


def customers_banded(customer: DataFrame) -> DataFrame:
    """Theta join demo: customers × balance-band dimension on a
    half-open range condition (broadcast nested loop — the right shape
    for a 4-row dimension at any scale)."""
    bands = acctbal_bands(customer.sparkSession)
    cond = (customer["c_acctbal"] >= bands["lo"]) & (customer["c_acctbal"] < bands["hi"])
    return theta_join(customer, bands, cond, "inner").select(
        F.col("c_custkey").alias("custkey"),
        F.col("c_acctbal").alias("bal"),
        "band",
    )
