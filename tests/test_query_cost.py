"""Driver-side cost of answering a query: py4j round-trips while the
DataFrame is built, Spark jobs per output format, and output names
that only survive as quoted SQL identifiers."""

import json
import os
import sys
import threading

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod

#: py4j's object-release message: a finalizer thread sends it whenever
#: Python garbage-collects a JVM reference, so its count is not
#: repeatable
_RELEASE = "m\nd"

_TEXTS = {
    **{n: entry_mod.queries()[n].__doc__ for n in ("tpch_q1", "tpch_q5")},
    "lineitem": "/lineitem",
}

#: non-release py4j commands to build each DataFrame warm at sf0.001
#: (measured 265 / 270 / 41), plus about 25 %.  Per-column
#: ``F.col(c).alias(n)`` renames with PySpark's call-site capture on
#: cost 1251 / 1496 / 569.
_BUDGET = {"tpch_q1": 330, "tpch_q5": 340, "lineitem": 51}


def _commands(spark, build) -> int:
    """Non-release py4j commands this thread sends while ``build()``
    runs."""
    client = spark.sparkContext._gateway._gateway_client
    send, me, n = client.send_command, threading.get_ident(), [0]

    def counted(command, *args, **kwargs):
        if threading.get_ident() == me and not command.startswith(_RELEASE):
            n[0] += 1
        return send(command, *args, **kwargs)

    client.send_command = counted
    try:
        build()
    finally:
        client.send_command = send
    return n[0]


def test_get_spark_turns_off_dataframe_debugging(spark):
    """Per-call origin capture costs about ten round-trips on every
    ``functions``/``Column`` call; ``get_spark`` switches it off."""
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


@pytest.mark.parametrize("name", sorted(_BUDGET))
def test_df_py4j_budget(spark, db, name):
    """Building a query's DataFrame stays within its py4j budget: a
    reintroduced per-column rename path, or call-site capture, blows
    it several times over."""
    text = _TEXTS[name]
    db.df(text)  # warm: scans and file listings are cached per engine
    n = _commands(spark, lambda: db.df(text))
    assert n <= _BUDGET[name], f"{name}: {n} py4j commands > {_BUDGET[name]}"


@pytest.mark.parametrize(
    "text", ["/meta(link)", "/customer{c_name, nation.name}?c_acctbal > 0"]
)
def test_every_format_runs_as_many_jobs_as_json(spark, db, text):
    """CSV/TSV fetch with one ``collect()`` like JSON does.  With
    ``toLocalIterator`` (one job per partition) they ran 8 jobs for
    ``/meta(link)``, where JSON runs none, and 10 for the customer
    text, where JSON runs 2.  txt/html/xml ``take`` a capped prefix,
    which can add a job when the first partition holds fewer rows than
    the cap; neither text here does."""
    sc = spark.sparkContext

    def jobs(fmt: str) -> int:
        db.emit(text, fmt)  # warm
        group = f"format-jobs-{fmt}"
        sc.setJobGroup(group, group)
        try:
            db.emit(text, fmt)
        finally:
            for prop in (
                "spark.jobGroup.id",
                "spark.job.description",
                "spark.job.interruptOnCancel",
            ):
                sc.setLocalProperty(prop, None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    expected = jobs("json")
    got = {fmt: jobs(fmt) for fmt in ("csv", "tsv", "txt", "raw", "html", "xml")}
    assert got == dict.fromkeys(got, expected), (expected, got)


def test_awkward_output_names_render_in_every_format(db):
    """An unaliased literal ``'2.5'``, a name with ``.`` and one with a
    backtick are one column each in every format: the renames quote
    them as SQL identifiers, and a flat result is rendered without a
    re-projection (``F.col('a.b')`` would read a struct field)."""
    q = "/region{name, 'a.b', 'q`r', '2.5'}?name='ASIA'"
    assert json.loads(db.emit(q, "json")) == {
        "data": [{"name": "ASIA", "a.b": "a.b", "q`r": "q`r", "2.5": "2.5"}]
    }
    assert db.emit(q, "csv") == b"name,a.b,q`r,2.5\nASIA,a.b,q`r,2.5\n"
    assert db.emit(q, "tsv") == b"name\ta.b\tq`r\t2.5\nASIA\ta.b\tq`r\t2.5\n"
    assert db.emit(q, "txt") == (
        b"name | a.b | q`r | 2.5\n"
        b"-----+-----+-----+----\n"
        b"ASIA | a.b | q`r | 2.5\n"
    )
    assert db.emit(q, "html") == (
        b"<table><thead><tr><th>name</th><th>a.b</th><th>q`r</th>"
        b"<th>2.5</th></tr></thead><tbody><tr><td>ASIA</td><td>a.b</td>"
        b"<td>q`r</td><td>2.5</td></tr></tbody></table>"
    )
    assert db.emit(q, "xml") == (
        b'<result><row><name>ASIA</name><a.b>a.b</a.b><cell name="q`r">'
        b'q`r</cell><cell name="2.5">2.5</cell></row></result>'
    )


def test_awkward_names_in_a_nested_segment(db):
    """The nested segment's struct fields and its empty-list type are
    quoted too, and the flattened CSV keeps both columns."""
    q = "/region{name :as 'a.b', /nation{name :as 'n`m', 'x.y'} :as 'q`r'}?name='ASIA'"
    (row,) = json.loads(db.emit(q, "json"))["data"]
    assert list(row) == ["a.b", "q`r"]
    assert row["q`r"][0] == {"n`m": "NATION_2", "x.y": "x.y"}
    assert len(row["q`r"]) == 5
    header, line = db.emit(q, "csv").decode().splitlines()
    assert header == "a.b,q`r"
    assert line.startswith('ASIA,"[{""n`m"":""NATION_2"",""x.y"":""x.y""}')
    empty = db.df("/region{name, /(nation?n_nationkey < 0){name :as 'n`m'} :as 'q`r'}")
    assert empty.schema["q`r"].dataType.elementType.names == ["n`m"]
    assert [r["q`r"] for r in empty.collect()] == [[]] * 5
