"""Local mirror of the driver's t2 correctness gate: run every
``queries()`` entry and its ``oracle_sql()`` side-by-side, compare
column names + row multisets (order-insensitive, float-tolerant)."""

import math

import pytest

import __spark_entry__ as entry_mod
from htsql_spark.derived import PARTSUPP_ORACLE_CTE as _PARTSUPP_CTE
from tests.conftest import SF_DIR


def _norm(v):
    import datetime

    import pandas as pd

    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if v is None or (not isinstance(v, str) and pd.isna(v)):
        return None  # pandas NaT/nan ≡ SQL NULL
    if isinstance(v, float):
        return round(v, 6)
    if isinstance(v, (datetime.date, datetime.datetime, pd.Timestamp)):
        return str(v)
    return v


def _rows(recs):
    return sorted(map(_norm, (tuple(r) for r in recs)), key=repr)


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0


ORACLES = entry_mod.oracle_sql()
QUERIES = entry_mod.queries()


def test_every_oracle_has_query():
    assert set(ORACLES) <= set(QUERIES)


def _assert_driver_representable(name, sdf, odf):
    """The driver gate hashes the *pandas representation* of both
    sides, so value equality alone is not enough (CORRECTNESS_r04:
    DuckDB HUGEINT landing as float64 hashed differently from Spark's
    int64 even though 206 == 206.0, and a raw array<double> column
    crashed the canonicalizer's sort).  Assert away exactly those two
    failure classes for every oracle pair so the sf0.001 replay
    predicts the driver hash."""
    import numpy as np

    for c in odf.columns:
        sk, ok = sdf[c].dtype.kind, odf[c].dtype.kind
        num = {"i", "u", "f"}
        if sk in num and ok in num:
            assert (sk == "f") == (ok == "f"), (
                f"{name}.{c}: spark dtype {sdf[c].dtype} vs oracle "
                f"{odf[c].dtype} — int/float representation mismatch "
                "breaks the driver value hash (wrap the oracle "
                "aggregate in CAST(... AS BIGINT) or align the types)"
            )
        for frame, side in ((sdf, "spark"), (odf, "oracle")):
            col = frame[c].dropna()
            if len(col):
                v = col.iloc[0]
                assert not isinstance(v, (list, dict, set, np.ndarray)), (
                    f"{name}.{c} ({side}): {type(v).__name__}-valued "
                    "column is unhashable by the driver canonicalizer — "
                    "serialize it (to_json / concat_ws) on both sides"
                )


def _tiered(names):
    """Smoke/full tiering (r11 verdict next #6 — keep the replay
    runnable per-commit as the registry grows): rows OUTSIDE the
    current 50-slot driver gate window carry the ``full`` marker, so
    ``pytest -m "not full"`` replays exactly the gate window (the
    rows the next driver run will hash) plus every unit/golden suite,
    while the unmarked default still runs the complete registry."""
    gate = set(entry_mod._GATE_ORDER)
    return [
        n if n in gate else pytest.param(n, marks=pytest.mark.full)
        for n in names
    ]


@pytest.mark.parametrize("name", _tiered(sorted(ORACLES)))
def test_query_matches_oracle(spark, duck, name):
    df = QUERIES[name](spark, SF_DIR)
    sdf = df.toPandas()
    res = duck.execute(ORACLES[name])
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()
    # .df() is what the driver hashes — assert its representation too
    odf = duck.execute(ORACLES[name]).df()
    assert list(sdf.columns) == ocols, f"columns {list(sdf.columns)} != {ocols}"
    _assert_driver_representable(name, sdf, odf)
    got = _rows([tuple(r) for r in sdf.itertuples(index=False)])
    exp = _rows(orows)
    assert len(got) == len(exp), f"row count {len(got)} != {len(exp)}"
    mismatches = [(g, e) for g, e in zip(got, exp) if g != e]
    assert not mismatches, f"first mismatches: {mismatches[:3]}"


@pytest.mark.parametrize("name", _tiered(sorted(set(QUERIES) - set(ORACLES))))
def test_query_runs_rows_only(spark, name):
    df = QUERIES[name](spark, SF_DIR)
    assert df.count() >= 0


def test_tpch_q20_empty_1996_sum_is_null(spark, tmp_path):
    """A 'wid' part with no 1996 lineitem has an EMPTY correlated sum.
    TPC-H Q20's ``ps_availqty > (SELECT ... sum(l_quantity) ...)``
    compares against NULL there, so the part never qualifies its
    supplier; the engine's ``sum(...)`` over an empty plural link is
    NULL too (the ``agg_sum_count`` twin's LEFT JOIN ``sum`` agrees),
    and the ``tpch_q20`` twin must not coalesce it to 0.  Fixture:
    sf0.001 without the 1996 lineitems of even part keys and without
    the orders of every tenth customer."""
    import glob
    import os
    import shutil

    import duckdb

    filters = {
        "lineitem": "NOT (year(l_shipdate) = 1996 AND l_partkey % 2 = 0)",
        "orders": "o_custkey % 10 <> 0",
    }
    con = duckdb.connect()
    for f in glob.glob(f"{SF_DIR}/*.parquet"):
        t = os.path.basename(f)[: -len(".parquet")]
        if t not in filters:
            shutil.copyfile(f, tmp_path / f"{t}.parquet")
            continue
        con.execute(
            f"COPY (SELECT * FROM read_parquet('{f}') WHERE {filters[t]})"
            f" TO '{tmp_path}/{t}.parquet' (FORMAT parquet)"
        )
    for t in ("supplier", "part", "customer", "orders", "lineitem"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM"
            f" read_parquet('{tmp_path}/{t}.parquet')"
        )
    # the fixture exercises the case: some supplier's 'wid' part has
    # no 1996 line
    (empty,) = con.execute(
        _PARTSUPP_CTE
        + " SELECT count(*) FROM partsupp JOIN part ON p_partkey = ps_partkey"
        " WHERE contains(lower(p_name), 'wid') AND NOT EXISTS ("
        " SELECT 1 FROM lineitem WHERE l_partkey = ps_partkey"
        " AND year(l_shipdate) = 1996)"
    ).fetchone()
    assert empty > 0
    for name in ("tpch_q20", "agg_sum_count"):
        got = _rows(tuple(r) for r in QUERIES[name](spark, str(tmp_path)).collect())
        assert got == _rows(con.execute(ORACLES[name]).fetchall()), name
    # an order-less customer's total is NULL on both sides
    assert any(r[1] is None and r[2] == 0 for r in got)
