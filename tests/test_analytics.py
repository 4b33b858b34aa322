"""Product-analytics operators (operators/analytics.py): planted
timelines with hand-computed expectations, plus the strictness rules
the funnel docstring promises."""

import datetime as dt

import pytest

from htsql_spark.operators import analytics


def _ev(spark, rows):
    return spark.createDataFrame(
        [(i, ts, u, t, 0.0, "{}") for i, (ts, u, t) in enumerate(rows)],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )


T0 = dt.datetime(2024, 1, 1)


def _t(minutes):
    return T0 + dt.timedelta(minutes=minutes)


def test_funnel_planted(spark):
    ev = _ev(
        spark,
        [
            # user 1: full ordered funnel
            (_t(0), 1, "view"),
            (_t(1), 1, "click"),
            (_t(2), 1, "purchase"),
            # user 2: purchase BEFORE click → reaches click, not purchase
            (_t(0), 2, "view"),
            (_t(1), 2, "purchase"),
            (_t(2), 2, "click"),
            # user 3: never views → reaches nothing
            (_t(0), 3, "click"),
            (_t(1), 3, "purchase"),
        ],
    )
    out = {r["step"]: r["users"] for r in analytics.funnel(ev, ["view", "click", "purchase"]).collect()}
    assert out == {1: 2, 2: 2, 3: 1}


def test_funnel_strict_ordering_excludes_ties(spark):
    ev = _ev(spark, [(_t(0), 1, "view"), (_t(0), 1, "click")])
    out = {r["step"]: r["users"] for r in analytics.funnel(ev, ["view", "click"]).collect()}
    assert out == {1: 1, 2: 0}  # simultaneous click does NOT count


def test_funnel_earliest_anchor_not_any(spark):
    # click sits between the user's two views: anchored to the EARLIEST
    # view, it still counts
    ev = _ev(spark, [(_t(0), 1, "view"), (_t(1), 1, "click"), (_t(2), 1, "view")])
    out = {r["step"]: r["users"] for r in analytics.funnel(ev, ["view", "click"]).collect()}
    assert out == {1: 1, 2: 1}


def test_retention_planted(spark):
    ev = _ev(
        spark,
        [
            (T0, 1, "view"),                            # week 0
            (T0 + dt.timedelta(days=15), 1, "click"),   # week 2
            (T0 + dt.timedelta(days=7), 2, "view"),     # first touch week 1
        ],
    )
    rows = {
        (r["cohort_week"].isoformat(), r["week_offset"]): r["users"]
        for r in analytics.retention(ev).collect()
    }
    assert rows == {
        ("2024-01-01", 0): 1,
        ("2024-01-01", 2): 1,
        ("2024-01-08", 0): 1,
    }


def test_transitions_planted(spark):
    ev = _ev(
        spark,
        [
            (_t(0), 1, "view"),
            (_t(1), 1, "click"),
            (_t(2), 1, "view"),
            (_t(0), 2, "view"),
            (_t(1), 2, "click"),
        ],
    )
    out = {
        (r["event_type"], r["next_type"]): r["n"]
        for r in analytics.transitions(ev).collect()
    }
    assert out == {("view", "click"): 2, ("click", "view"): 1}


def test_funnel_single_shuffle(db):
    plan = (
        analytics.funnel(db.table("events"), ["view", "click", "purchase"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # one hash-partition exchange (per-user collapse); the final
    # single-row agg exchanges a constant-size partial
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_sessionize_planted(spark):
    ev = _ev(
        spark,
        [
            (_t(0), 1, "view"),      # session 0
            (_t(10), 1, "click"),    # same session (10 min gap)
            (_t(50), 1, "view"),     # 40 min gap → session 1
            (_t(0), 2, "view"),      # user 2, session 0
        ],
    )
    rows = {
        (r["user_id"], r["session_id"]): (r["n_events"], r["duration_us"])
        for r in analytics.sessionize(ev, gap_minutes=30).collect()
    }
    assert rows == {
        (1, 0): (2, 10 * 60 * 1_000_000),
        (1, 1): (1, 0),
        (2, 0): (1, 0),
    }


def test_sessionize_boundary_gap_is_same_session(spark):
    # gap of EXACTLY 30 min does not break (strict > rule)
    ev = _ev(spark, [(_t(0), 1, "view"), (_t(30), 1, "click")])
    rows = analytics.sessionize(ev, gap_minutes=30).collect()
    assert len(rows) == 1 and rows[0]["n_events"] == 2


def test_pagerank_star_graph(spark):
    """Hub of a bidirectional star outranks leaves; with no dangling
    nodes the ranks stay a probability distribution (sum 1)."""
    from htsql_spark.operators.analytics import pagerank
    from pyspark.sql import functions as F

    edges = spark.createDataFrame(
        [("hub", f"leaf{i}") for i in range(8)]
        + [(f"leaf{i}", "hub") for i in range(8)],
        "src string, dst string",
    )
    r = {row["node"]: row["rank"] for row in pagerank(edges, iterations=10).collect()}
    assert all(r["hub"] > r[f"leaf{i}"] for i in range(8))
    assert abs(sum(r.values()) - 1.0) < 1e-6


def test_pagerank_zero_iterations_uniform(spark):
    from htsql_spark.operators.analytics import pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], "src string, dst string"
    )
    r = {row["node"]: row["rank"] for row in pagerank(edges, iterations=0).collect()}
    assert set(r) == {"a", "b", "c"}
    # output is round(rank, 8) — compare at that precision
    assert all(abs(v - 1 / 3) < 1e-8 for v in r.values())


def test_pagerank_dangling_nodes_keep_teleport(spark):
    """A sink node (no out-edges) still holds its teleport share and
    absorbs inflow; ranks drop below 1 total (mass leaks by design of
    the simple formulation — documented)."""
    from htsql_spark.operators.analytics import pagerank

    edges = spark.createDataFrame(
        [("a", "sink"), ("b", "sink")], "src string, dst string"
    )
    r = {row["node"]: row["rank"] for row in pagerank(edges, iterations=3).collect()}
    assert r["sink"] > r["a"] == r["b"] > 0


def test_scd2_compresses_and_covers(spark):
    """Hand-built change stream: consecutive same-state rows compress,
    intervals tile each key's timeline, last version is open."""
    import datetime as dt

    from htsql_spark.operators.analytics import scd2

    t = lambda s: dt.datetime(2024, 1, s)
    rows = [
        (1, "gold", t(1)), (1, "gold", t(2)), (1, "silver", t(3)),
        (1, "gold", t(5)),
        (2, "bronze", t(2)),
    ]
    df = spark.createDataFrame(rows, "user_id long, tier string, ts timestamp")
    out = sorted(
        (r["user_id"], r["tier"], r["valid_from"], r["valid_to"])
        for r in scd2(df, "user_id", "ts", ["tier"]).collect()
    )
    assert out == [
        (1, "gold", t(1), t(3)),
        (1, "gold", t(5), None),
        (1, "silver", t(3), t(5)),
        (2, "bronze", t(2), None),
    ]


def test_scd2_asof_enrichment_roundtrip(spark):
    """SCD-2 + interval containment reproduces each event's state at
    its own timestamp (the point-in-time enrichment contract)."""
    from pyspark.sql import functions as F

    from htsql_spark.operators.analytics import scd2
    from tests.conftest import SF_DIR

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        "user_id", "event_type", "ts"
    )
    dim = scd2(ev, "user_id", "ts", ["event_type"])
    joined = ev.alias("e").join(
        dim.alias("d"),
        (F.col("e.user_id") == F.col("d.user_id"))
        & (F.col("e.ts") >= F.col("d.valid_from"))
        & (F.col("e.ts") < F.coalesce(F.col("d.valid_to"), F.lit("9999-01-01").cast("timestamp"))),
    )
    # every event matched exactly one interval, carrying its own state
    assert joined.count() == ev.count()
    assert joined.filter(F.col("e.event_type") != F.col("d.event_type")).count() == 0


# ---------------------------------------------------------------- apply_cdc


def _cdc_base(spark):
    return spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0), (4, "d", 40.0)],
        "k long, name string, val double",
    )


def _cdc_changes(spark, rows):
    return spark.createDataFrame(
        rows, "k long, name string, val double, ts long, op string"
    )


def _snap(df):
    return {r.k: (r.name, r.val) for r in df.collect()}


def test_apply_cdc_upsert_delete_insert(spark):
    base = _cdc_base(spark)
    chg = _cdc_changes(
        spark,
        [
            (2, "b2", 21.0, 1, "U"),   # update existing
            (3, None, None, 1, "D"),   # delete existing
            (9, "new", 90.0, 1, "I"),  # insert new key
        ],
    )
    out = analytics.apply_cdc(base, chg, key="k")
    assert out.columns == ["k", "name", "val"]
    assert _snap(out) == {
        1: ("a", 10.0),
        2: ("b2", 21.0),
        4: ("d", 40.0),
        9: ("new", 90.0),
    }


def test_apply_cdc_last_writer_wins(spark):
    base = _cdc_base(spark)
    chg = _cdc_changes(
        spark,
        [
            (1, "x1", 1.0, 1, "U"),
            (1, "x2", 2.0, 3, "U"),  # latest ts wins
            (1, "x3", 3.0, 2, "U"),
        ],
    )
    out = analytics.apply_cdc(base, chg, key="k")
    assert _snap(out)[1] == ("x2", 2.0)


def test_apply_cdc_delete_then_reinsert(spark):
    base = _cdc_base(spark)
    chg = _cdc_changes(
        spark,
        [(2, None, None, 1, "D"), (2, "back", 99.0, 2, "I")],
    )
    out = analytics.apply_cdc(base, chg, key="k")
    assert _snap(out)[2] == ("back", 99.0)


def test_apply_cdc_update_then_delete(spark):
    base = _cdc_base(spark)
    chg = _cdc_changes(
        spark,
        [(2, "gone", 0.0, 1, "U"), (2, None, None, 2, "D")],
    )
    out = analytics.apply_cdc(base, chg, key="k")
    assert 2 not in _snap(out)


def test_apply_cdc_equal_ts_upsert_beats_delete(spark):
    # documented tie rule: op_col descending, 'U' > 'D' in ASCII
    base = _cdc_base(spark)
    chg = _cdc_changes(
        spark,
        [(2, "tie", 5.0, 7, "U"), (2, None, None, 7, "D")],
    )
    out = analytics.apply_cdc(base, chg, key="k")
    assert _snap(out)[2] == ("tie", 5.0)


def test_apply_cdc_delete_missing_key_noop(spark):
    base = _cdc_base(spark)
    chg = _cdc_changes(spark, [(42, None, None, 1, "D")])
    out = analytics.apply_cdc(base, chg, key="k")
    assert _snap(out) == _snap(base)


def test_apply_cdc_update_missing_key_inserts(spark):
    base = _cdc_base(spark)
    chg = _cdc_changes(spark, [(42, "up", 4.2, 1, "U")])
    out = analytics.apply_cdc(base, chg, key="k")
    assert _snap(out)[42] == ("up", 4.2)


def test_apply_cdc_null_op_upserts(spark):
    """A winning change whose op is null is not ``delete_op``, so it
    upserts like any other non-delete op; it must not drop its key."""
    base = spark.createDataFrame([(1, 10.0), (2, 20.0)], "k long, val double")
    chg = spark.createDataFrame(
        [(1, 11.0, 5, None)], "k long, val double, ts long, op string"
    )
    out = analytics.apply_cdc(base, chg, key="k")
    assert {r.k: r.val for r in out.collect()} == {1: 11.0, 2: 20.0}


def test_apply_cdc_validation(spark):
    base = _cdc_base(spark)
    with pytest.raises(ValueError, match="missing columns"):
        analytics.apply_cdc(base, base, key="k")
    with pytest.raises(ValueError, match="not in base"):
        analytics.apply_cdc(base, base, key="nope")


def test_apply_cdc_snapshot_never_shuffled(spark):
    """The 100 TB contract: no Exchange on the snapshot side — the
    anti join broadcasts the batch key set and the only shuffles in
    the whole plan are the change batch's: its last-writer ``max_by``
    aggregation and its distinct key set."""
    base = _cdc_base(spark)
    chg = _cdc_changes(spark, [(2, "b2", 21.0, 1, "U")])
    plan = (
        analytics.apply_cdc(base, chg, key="k")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    # every Exchange must be a broadcast one or sit under the change
    # batch's aggregations; the base scan feeds the anti join directly
    lines = plan.splitlines()
    anti = next(i for i, l in enumerate(lines) if "LeftAnti" in l)
    # the left (streamed) side of the anti join appears after the join
    # node and before the broadcast exchange subtree; assert no
    # shuffle Exchange between them
    for l in lines[anti : anti + 3]:
        assert "Exchange hashpartitioning" not in l


def test_apply_cdc_fuzz_vs_sequential_replay(spark):
    """Property lock: apply_cdc over a random batch equals a
    driver-side sequential replay (sort by (ts, op desc), apply one
    by one onto a dict).  Catches last-writer, tie-break, anti-join,
    and column-order drift in one property.  ``ts`` may be null: a
    null ts loses to any non-null ts, and among a key's null-ts
    changes the op-desc tie-break decides.  ``op`` may be null too: it
    upserts, and at equal ts it loses to every non-null op."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    keys = st.integers(min_value=0, max_value=9)
    change = st.tuples(
        keys,
        st.one_of(st.none(), st.integers(min_value=0, max_value=99)),  # ts
        st.sampled_from([None, "U", "I", "D"]),
        st.integers(min_value=0, max_value=999),  # payload
    )

    @settings(
        max_examples=12,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(st.lists(change, max_size=25))
    def prop(changes):
        # determinism contract: unique (key, ts, op) — dedupe
        seen, batch = set(), []
        for k, ts, op, val in changes:
            if (k, ts, op) not in seen:
                seen.add((k, ts, op))
                batch.append((k, ts, op, val))
        base_rows = [(k, k * 10.0) for k in range(5)]
        expected = dict(base_rows)
        # replay in (ts, op desc) order; later beats earlier, a null
        # ts (or op) sorts before every non-null one, and at equal ts
        # the op-desc winner is what apply_cdc keeps — so apply only
        # the LAST (winning) change per key
        def rank(ts, op):
            return (ts is not None, ts or 0, op is not None, op or "")

        winner = {}
        for k, ts, op, val in batch:
            cur = winner.get(k)
            if cur is None or rank(ts, op) > rank(cur[0], cur[1]):
                winner[k] = (ts, op, val)
        for k, (ts, op, val) in winner.items():
            if op == "D":
                expected.pop(k, None)
            else:
                expected[k] = float(val)
        base = spark.createDataFrame(base_rows, "k long, val double")
        if batch:
            chg = spark.createDataFrame(
                [(k, float(v), ts, op) for k, ts, op, v in batch],
                "k long, val double, ts long, op string",
            )
        else:
            chg = spark.createDataFrame(
                [], "k long, val double, ts long, op string"
            )
        out = analytics.apply_cdc(base, chg, key="k")
        assert {r.k: r.val for r in out.collect()} == expected

    prop()


def test_triangle_count_planted(spark):
    """K4 gives every node exactly 3 triangles; path nodes, duplicate
    edges, self-loops and reversed directions don't perturb it."""
    from htsql_spark.operators.analytics import triangle_count

    k4 = [(a, b) for a in "1234" for b in "1234" if a < b]
    noise = [("2", "1"), ("3", "3"), ("7", "8"), ("8", "9"), ("1", "2")]
    df = spark.createDataFrame(k4 + noise, "src string, dst string")
    rows = sorted((r["node"], r["triangles"]) for r in triangle_count(df).collect())
    assert rows == [("1", 3), ("2", 3), ("3", 3), ("4", 3)]
