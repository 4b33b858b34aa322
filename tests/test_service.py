"""Service layer: WSGI entry point (reference: src/htsql/core/wsgi.py),
filedb-style CSV/JSON mounts (reference: src/htsql/tweak/filedb/), and
write sinks."""

import json

import pytest


def _call(app, path, qs="", accept=""):
    """Drive a WSGI app in-process (no sockets)."""
    status_headers = {}

    def start_response(status, headers):
        status_headers["status"] = status
        status_headers["headers"] = dict(headers)

    environ = {
        "REQUEST_METHOD": "GET",
        "PATH_INFO": path,
        "QUERY_STRING": qs,
        "HTTP_ACCEPT": accept,
    }
    body = b"".join(app(environ, start_response))
    return status_headers["status"], status_headers["headers"], body


@pytest.fixture(scope="module")
def app(db):
    from htsql_spark.wsgi import WSGI

    return WSGI(db)


def test_wsgi_json_default(app):
    status, headers, body = _call(app, "/region{name}")
    assert status == "200 OK"
    assert headers["Content-Type"] == "application/json"
    data = json.loads(body)["data"]
    assert {"name": "ASIA"} in data


def test_wsgi_accept_csv(app):
    status, headers, body = _call(app, "/region{name}", accept="text/csv")
    assert status == "200 OK"
    assert headers["Content-Type"] == "text/csv"
    assert body.startswith(b"name\n")


def test_wsgi_query_string_filter(app):
    status, _, body = _call(app, "/nation{name}", qs="region.name='ASIA'")
    assert status == "200 OK"
    assert len(json.loads(body)["data"]) == 5


def test_wsgi_format_pipe_beats_accept(app):
    status, headers, _ = _call(app, "/region/:csv", accept="application/json")
    assert status == "200 OK"
    assert headers["Content-Type"] == "text/csv"


def test_wsgi_bad_query_is_400(app):
    status, _, body = _call(app, "/nosuchtable{x}")
    assert status.startswith("400")
    assert b"nosuchtable" in body


def test_wsgi_post_rejected(app):
    status_headers = {}

    def start_response(status, headers):
        status_headers["status"] = status

    app(
        {"REQUEST_METHOD": "POST", "PATH_INFO": "/region", "QUERY_STRING": ""},
        start_response,
    )
    assert status_headers["status"].startswith("405")


def test_filedb_csv_mount(spark, tmp_path):
    """A directory of CSVs is queryable with zero declared metadata."""
    from htsql_spark import HTSQL
    from htsql_spark.catalog import Catalog

    (tmp_path / "pets.csv").write_text("pet_id,name,kind\n1,Rex,dog\n2,Tom,cat\n3,Ana,cat\n")
    db = HTSQL(spark, str(tmp_path), catalog=Catalog.from_files(str(tmp_path)))
    rows = db.produce("/pets{name}?kind='cat'")
    assert sorted(r["name"] for r in rows) == ["Ana", "Tom"]
    agg = db.produce("/pets^{kind}{kind, n := count(^)}")
    assert sorted((r["kind"], r["n"]) for r in agg) == [("cat", 2), ("dog", 1)]


def test_store_parquet_roundtrip(db, spark, tmp_path):
    out = str(tmp_path / "asia_nations")
    db.store("/nation{name, nk := n_nationkey}?region.name='ASIA'", out)
    back = spark.read.parquet(out)
    assert back.count() == 5
    assert set(back.columns) == {"name", "nk"}


def test_cli_one_shot(spark, capfdbinary):
    """python -m htsql_spark DIR -c QUERY — entry point C parity
    (reference: src/htsql/ctl/shell.py)."""
    from htsql_spark.__main__ import main

    rc = main(["/root/testdata/sf0.001", "-c", "/region{name}", "-f", "csv", "--cpus", "8"])
    out = capfdbinary.readouterr().out
    assert rc == 0
    assert out.startswith(b"name\n")
    assert b"ASIA" in out


def test_cli_bad_timeout_exits_with_engine_message(spark, capsys):
    """``--timeout`` reaches the engine, and a value the engine rejects
    ends the CLI with a usage error carrying the engine's message."""
    from htsql_spark.__main__ import main

    with pytest.raises(SystemExit) as exc:
        main(["/root/testdata/sf0.001", "-c", "/region", "--timeout", "0", "--cpus", "8"])
    assert exc.value.code != 0
    assert "timeout must be a positive number of seconds or None, got 0.0" in (
        capsys.readouterr().err
    )


#: multi-hop navigation over 600k lineitem rows at sf0.1: outlives 50 ms
_LONG_QUERY = (
    "/customer{c_name, n := count(orders.lineitem),"
    " mx := max(orders.lineitem.l_extendedprice)}"
)


def test_timeout_cancels_long_query(spark):
    """tweak.timeout parity: a statement deadline cancels the query's
    tagged Spark jobs and surfaces as TimeoutError."""
    from htsql_spark import HTSQL

    db = HTSQL(spark, "/root/testdata/sf0.1", timeout=0.05)
    with pytest.raises(TimeoutError):
        db.produce(_LONG_QUERY)


def test_timeout_user_error_not_masked(spark):
    from htsql_spark import CompileError, HTSQL

    db = HTSQL(spark, "/root/testdata/sf0.001", timeout=30)
    with pytest.raises(CompileError):
        db.produce("/nosuchtable")


def test_wsgi_timeout_is_504(spark):
    """The deadline bounds the serve path too: a passed timeout is a
    504, not a 200 that arrives late or a raised exception."""
    from htsql_spark import HTSQL
    from htsql_spark.wsgi import WSGI

    app = WSGI(HTSQL(spark, "/root/testdata/sf0.1", timeout=0.05))
    status, headers, body = _call(app, _LONG_QUERY)
    assert status == "504 Gateway Timeout"
    assert headers["Content-Type"] == "text/plain"
    assert b"timeout" in body


def test_store_timeout(spark, tmp_path):
    from htsql_spark import HTSQL

    db = HTSQL(spark, "/root/testdata/sf0.1", timeout=0.05)
    with pytest.raises(TimeoutError):
        db.store(_LONG_QUERY, str(tmp_path / "out"))


def test_timeout_cancels_compile_time_jobs(spark):
    """cluster() runs its star contraction as Spark jobs while the
    query compiles (about 2 s of them at sf0.001).  The deadline
    covers compile, so a cancelled operator job ends the query inside
    ``compile_query`` and no job outlives the TimeoutError."""
    import time
    import traceback

    from htsql_spark import HTSQL

    db = HTSQL(spark, "/root/testdata/sf0.001", timeout=0.2)
    with pytest.raises(TimeoutError) as info:
        db.produce("/documents.cluster(){doc_id, cluster_id}")
    cause = info.value.__cause__
    assert cause is not None
    frames = {f.name for f in traceback.extract_tb(cause.__traceback__)}
    assert "compile_query" in frames
    tracker = spark.sparkContext.statusTracker()
    give_up = time.monotonic() + 10
    while tracker.getActiveJobsIds() and time.monotonic() < give_up:
        time.sleep(0.05)
    assert tracker.getActiveJobsIds() == []


def test_deadline_leaves_caller_job_group(spark):
    """The deadline marks its jobs with a job tag: the caller's job
    group and interrupt flag survive produce/emit, and no tag is left
    on the thread."""
    from htsql_spark import HTSQL

    sc = spark.sparkContext
    db = HTSQL(spark, "/root/testdata/sf0.001", timeout=30)
    sc.setJobGroup("caller_group", "set by the caller")
    try:
        assert len(db.produce("/region")) == 5
        assert db.emit("/region{r_name}/:csv").startswith(b"r_name\n")
        assert sc.getLocalProperty("spark.jobGroup.id") == "caller_group"
        assert sc.getLocalProperty("spark.job.interruptOnCancel") == "false"
        assert set(sc.getJobTags()) == set()
    finally:
        for prop in (
            "spark.jobGroup.id",
            "spark.job.description",
            "spark.job.interruptOnCancel",
        ):
            sc.setLocalProperty(prop, None)


def test_wsgi_engine_failure_is_sanitized_500():
    """An engine failure is the server's, not the user's: 500, and the
    body names only the exception class — no Java traceback."""
    from htsql_spark.wsgi import WSGI

    class Failing:
        def emit_with_format(self, query, fmt):
            raise RuntimeError(
                "An error occurred while calling o42.collect.\n"
                "java.lang.IllegalStateException: boom\n"
                "\tat org.apache.spark.sql.Dataset.collect(Dataset.scala:1)"
            )

    status, headers, body = _call(WSGI(Failing()), "/region")
    assert status == "500 Internal Server Error"
    assert headers["Content-Type"] == "text/plain"
    assert body == b"query failed: RuntimeError"


def test_store_csv_flattens_nested(db, spark, tmp_path):
    out = str(tmp_path / "nested_csv")
    db.store("/region{name, /nation{nname := name}}", out, format="csv")
    import glob

    files = glob.glob(out + "/*.csv")
    assert files


def test_emit_csv_nested_segment_exact_bytes(db):
    """CSV flattening rule (SURVEY §3.5 ⚠, locked as semantics S13):
    a nested segment serializes as ONE compact-JSON cell on the
    parent's row — parent rows are never multiplied and child order
    follows the segment's flow order."""
    body = db.emit(
        "/region{name, /nation.sort(name){nname := name}}?name='AFRICA'/:csv"
    ).decode()
    lines = body.splitlines()
    assert lines[0] == "name,nation"  # segment column named by its flow
    assert len(lines) == 2  # ONE parent row, not one per child
    import csv as _csv
    import json as _json

    name, nested = next(_csv.reader([lines[1]]))
    assert name == "AFRICA"
    kids = _json.loads(nested)
    assert [k["nname"] for k in kids] == sorted(k["nname"] for k in kids)
    assert all(set(k) == {"nname"} for k in kids)


def test_emit_csv_quoting_edge_cases(spark, tmp_path):
    """RFC-4180 quoting: embedded separators, double quotes and
    newlines survive a CSV round-trip; NULL and '' both emit as an
    empty cell (the reference's tabular convention)."""
    import csv as _csv
    import io

    import pandas as pd

    from htsql_spark import HTSQL
    from htsql_spark.catalog import Catalog

    rows = [
        (0, 'comma, inside'),
        (1, 'quote " inside'),
        (2, "newline\ninside"),
        (3, ""),
        (4, None),
        (5, "tab\tinside"),
    ]
    pd.DataFrame(rows, columns=["k", "v"]).to_parquet(
        str(tmp_path / "vals.parquet")
    )
    db2 = HTSQL(spark, str(tmp_path), catalog=Catalog.from_files(str(tmp_path)))
    body = db2.emit("/vals.sort(k){k, v}/:csv").decode()
    got = list(_csv.reader(io.StringIO(body)))
    assert got[0] == ["k", "v"]
    assert [r[1] for r in got[1:]] == [
        "comma, inside",
        'quote " inside',
        "newline\ninside",
        "",  # empty string -> empty cell
        "",  # NULL -> empty cell (indistinguishable, by convention)
        "tab\tinside",
    ]
    # TSV: the tab separator forces quoting of the embedded tab
    tsv = db2.emit("/vals{k, v}?k=5/:tsv").decode().splitlines()
    assert tsv[1] == '5\t"tab\tinside"'


def test_describe_returns_plan(db):
    out = db.describe("/nation{name, count(customer)}?region.name='ASIA'")
    assert "Physical Plan" in out and "Scan parquet" in out


def test_filedb_orc_and_txt_mount(spark, tmp_path):
    """ORC files and raw text files mount as tables like CSV/JSON."""
    from htsql_spark import HTSQL
    from htsql_spark.catalog import Catalog

    spark.createDataFrame(
        [(1, "Rex", "dog"), (2, "Tom", "cat")], "pet_id int, name string, kind string"
    ).coalesce(1).write.mode("overwrite").orc(str(tmp_path / "pets.orc"))
    (tmp_path / "notes.txt").write_text("first line\nsecond line\nthird line\n")
    db = HTSQL(spark, str(tmp_path), catalog=Catalog.from_files(str(tmp_path)))
    rows = db.produce("/pets{name}?kind='cat'")
    assert [r["name"] for r in rows] == ["Tom"]
    lines = db.produce("/notes?line~'line'")
    assert len(lines) == 3
    assert db.produce("/notes{line}?line='second line'")[0]["line"] == "second line"


def test_text_corpus_ingestion(spark, tmp_path):
    """Directory of text files → documents-shaped DataFrame with
    path-derived deterministic ids."""
    from htsql_spark import ingest

    (tmp_path / "a.txt").write_text("alpha beta gamma")
    (tmp_path / "b.txt").write_text("delta epsilon")
    docs = ingest.documents_from_text(spark, str(tmp_path / "*.txt"))
    rows = sorted(docs.collect(), key=lambda r: r["source"])
    assert [r["text"] for r in rows] == ["alpha beta gamma", "delta epsilon"]
    assert rows[0]["n_chars"] == 16 and rows[1]["n_chars"] == 13
    assert len({r["doc_id"] for r in rows}) == 2
    # ids stable across re-ingestion
    again = sorted(
        ingest.documents_from_text(spark, str(tmp_path / "*.txt")).collect(),
        key=lambda r: r["source"],
    )
    assert [r["doc_id"] for r in again] == [r["doc_id"] for r in rows]
    # line mode preserves per-file lines
    (tmp_path / "c.txt").write_text("l1\nl2\n")
    lines = ingest.text_corpus(spark, str(tmp_path / "c.txt"), wholetext=False)
    assert sorted(r["line"] for r in lines.collect()) == ["l1", "l2"]


def test_wsgi_path_info_not_double_decoded(app):
    """PEP 3333: PATH_INFO arrives already percent-decoded — a second
    unquote would turn a literal '%53' into 'S' and silently match the
    wrong rows.  A path containing a raw % must reach the parser
    verbatim (here: no match, empty result — not a different match)."""
    status, _, body = _call(app, "/region{name}?name='%53'")
    assert status.startswith("200"), body
    assert json.loads(body.decode())["data"] == []


def test_wsgi_content_type_matches_body(app):
    """The Content-Type comes back WITH the body (emit_with_format),
    not from a shared engine attribute a concurrent request could
    clobber."""
    status, headers, body = _call(app, "/region", accept="text/csv")
    assert status.startswith("200")
    assert headers["Content-Type"].startswith("text/csv")
    assert body.startswith(b"r_regionkey")
    status, headers, body = _call(app, "/region/:json", accept="text/csv")
    assert headers["Content-Type"].startswith("application/json")


def test_emit_json_keeps_null_fields(db):
    """Every JSON row carries the full key set: null-valued fields are
    emitted as null, not dropped (toJSON()'s default drops them,
    giving rows inconsistent shapes)."""
    body = db.emit("/region{name, nothing := if(false, 'x')}", "json")
    data = json.loads(body.decode())["data"]
    assert data and all(set(r) == {"name", "nothing"} for r in data)
    assert all(r["nothing"] is None for r in data)


def test_emit_xml_well_formed_for_expression_headers(db):
    """Unaliased expression columns ('n_nationkey+1') are not legal
    XML element names — they render as <cell name="..."> and the
    document parses."""
    import xml.etree.ElementTree as ET

    body = db.emit("/nation{name, n_nationkey+1}?n_nationkey<3", "xml")
    root = ET.fromstring(body.decode())
    rows = list(root)
    assert rows and rows[0].find("name") is not None
    cells = rows[0].findall("cell")
    assert cells and cells[0].get("name") == "n_nationkey+1"


def test_store_bypasses_autolimit(spark, tmp_path):
    """A write sink persists the FULL result even under an interactive
    autolimit — truncating a stored dataset silently is data loss."""
    from htsql_spark import HTSQL
    from tests.conftest import SF_DIR

    limited = HTSQL(spark, SF_DIR, autolimit=5)
    assert limited.df("/customer").count() == 5  # interactive guard on
    out = str(tmp_path / "full")
    limited.store("/customer", out)
    total = HTSQL(spark, SF_DIR).table("customer").count()
    assert spark.read.parquet(out).count() == total


def test_text_html_xml_truncation_marker(db):
    """Oversized txt/html/xml output carries an explicit truncation
    marker instead of silently reading as a complete result."""
    from htsql_spark import formats

    df = db.df("/customer")
    txt = formats.emit_text(df, max_rows=3).decode()
    assert "... (first 3 rows)" in txt
    html = formats.emit_html(df, max_rows=3).decode()
    assert "first 3 rows" in html
    xml = formats.emit_xml(df, max_rows=3).decode()
    assert '<truncated rows="3"/>' in xml
    # a result that fits carries no marker
    assert "first" not in formats.emit_text(db.df("/region"), max_rows=100).decode()


def test_second_fk_to_same_target_gets_reverse_link(spark, tmp_path):
    """Two FKs from the same origin to the same target: BOTH reverse
    traversals are disambiguated ('ords_via_<cols>') and the bare
    name is absent — which FK owned it used to depend on YAML
    declaration order."""
    import pandas as pd
    import yaml as _yaml

    from htsql_spark import HTSQL
    from htsql_spark.catalog import Catalog

    pd.DataFrame({"c_id": [1, 2]}).to_parquet(str(tmp_path / "cust.parquet"))
    pd.DataFrame(
        {"o_id": [10, 11, 12], "buyer": [1, 1, 2], "clerk": [2, 2, 2]}
    ).to_parquet(str(tmp_path / "ords.parquet"))
    cat = {
        "tables": {
            "cust": {"pk": ["c_id"]},
            "ords": {
                "pk": ["o_id"],
                "links": {
                    "buyer_cust": {"target": "cust", "cols": ["buyer"]},
                    "clerk_cust": {"target": "cust", "cols": ["clerk"]},
                },
            },
        }
    }
    (tmp_path / "catalog.yaml").write_text(_yaml.safe_dump(cat))
    db2 = HTSQL(spark, str(tmp_path), catalog=Catalog.from_yaml(str(tmp_path / "catalog.yaml")))
    got = {
        r["c_id"]: (r["bought"], r["clerked"])
        for r in db2.produce(
            "/cust{c_id, bought := count(ords_via_buyer),"
            " clerked := count(ords_via_clerk)}"
        )
    }
    assert got == {1: (2, 0), 2: (1, 3)}
    # the bare reverse name no longer resolves — no silent choice
    from htsql_spark import CompileError as _CE

    with pytest.raises(_CE):
        db2.df("/cust{c_id, count(ords)}")


def test_emit_json_handles_dotted_and_numeric_column_names(db):
    """Unaliased literals produce column names like '2.5'; bare
    F.col() would parse the dot as struct-field access and fail with
    UNRESOLVED_COLUMN — emit_json must backtick-quote every name."""
    body = db.emit("/region{name, 2.5}?r_regionkey=0", "json")
    data = json.loads(body.decode())["data"]
    assert data and data[0]["2.5"] == 2.5
    assert set(data[0]) == {"name", "2.5"}


def test_autolimit_timeout_error_forms(spark):
    """tweak.autolimit/tweak.timeout parameter validation (r9 judge
    directive #8): bad values fail at CONSTRUCTION with a named
    error, never later as an opaque Spark error on the first query.
    Bools are rejected explicitly (True is an int subclass)."""
    from htsql_spark import HTSQL

    for bad in (0, -1, True, 2.5, "10"):
        with pytest.raises(ValueError, match="autolimit"):
            HTSQL(spark, "/root/testdata/sf0.001", autolimit=bad)
    for bad in (0, -3, True, "1"):
        with pytest.raises(ValueError, match="timeout"):
            HTSQL(spark, "/root/testdata/sf0.001", timeout=bad)
    # valid forms still construct and apply
    db2 = HTSQL(spark, "/root/testdata/sf0.001", autolimit=2, timeout=30.0)
    assert len(db2.produce("/region")) == 2
