"""``navigate``: interactive HTSQL over HTTP.

Requests go in-process to ``WSGI(db)``.  A pass sends 19 templates
drawn from the 58 compile-only language texts of the engine's registry
(core navigation, aggregates, ``fork``/quotient, ``meta`` and TPC-H),
frozen with their DuckDB twins in ``navigate.json``, plus one text of
the engine's error corpus, which must get a 4xx (5 % of requests).
Twelve templates have literal slots that the seed fills (the twin gets
the same literal); the seed also orders each pass and sets where the
rotation of literals and Accept formats over the passes starts.

Why this workload: parse, bind/lower, Catalyst planning and rendering
dominate each request while the operator kernels do almost no work
(sf0.01), so changes to the compile layer, py4j round trips and the
request path show here and nowhere else.
"""

from __future__ import annotations

import itertools
import json
import os
import random
import re
import time
from urllib.parse import quote

import check
import datagen

SF = 0.01
FORMATS = ("json", "csv", "txt", "html", "xml")
ACCEPT = {
    "json": "application/json",
    "csv": "text/csv",
    "txt": "text/plain",
    "html": "text/html",
    "xml": "application/xml",
}
ERRORS_PER_PASS = 1
#: warm-up: passes of a seed-independent stream, so every run starts
#: its timed loop from the same JIT and codegen-cache state
WARMUP_PASSES = 2
WARMUP_SEED = -1
#: at least ten requests beyond the 90th percentile
MIN_REQUESTS = 100
#: traced ops the per-layer means cover (every other op is traced)
TRACE_OPS = 20
#: the deadline every request is built with; it never fires
TIMEOUT_S = 3600.0

_TABLE = re.compile(
    r"\b(region|nation|customer|supplier|partsupp|part|orders|lineitem"
    r"|events|documents|embeddings)\b"
)


class Request:
    __slots__ = ("name", "text", "sql", "fmt", "rows")

    def __init__(self, name, text, sql, fmt, rows):
        self.name, self.text, self.sql, self.fmt, self.rows = (
            name, text, sql, fmt, rows,
        )


def load_spec() -> dict:
    with open(os.path.join(os.path.dirname(__file__), "navigate.json")) as f:
        return json.load(f)


def source_rows(text: str, table_rows: dict[str, int]) -> int:
    """Rows of the tables a text navigates (each table counted once)."""
    return sum(table_rows[t] for t in set(_TABLE.findall(text)))


def passes(spec: dict, seed: int, table_rows: dict[str, int]):
    """Endless stream of passes.  A pass sends every template once plus
    ``ERRORS_PER_PASS`` error texts, in seeded order.  Formats and slot
    literals rotate from pass to pass from a seeded start, so any five
    consecutive passes send each template in every format and the
    literal choices stay balanced: runs with different seeds time the
    same mix."""
    rng = random.Random(seed)
    offset = rng.randrange(len(FORMATS))
    literals = {
        (t["name"], slot): rng.sample(values, len(values))
        for t in spec["templates"]
        for slot, values in t.get("slots", {}).items()
    }
    for n in itertools.count():
        batch = []
        for i, t in enumerate(spec["templates"]):
            text, sql = t["text"], t["sql"]
            for slot in t.get("slots", {}):
                values = literals[t["name"], slot]
                v = values[n % len(values)]
                text = text.replace(f"<<{slot}>>", v)
                sql = sql.replace(f"<<{slot}>>", v)
            fmt = FORMATS[(i + n + offset) % len(FORMATS)]
            batch.append(Request(t["name"], text, sql, fmt, source_rows(text, table_rows)))
        for j, text in enumerate(rng.sample(spec["errors"], ERRORS_PER_PASS)):
            fmt = FORMATS[(len(batch) + j + n + offset) % len(FORMATS)]
            batch.append(Request("error", text, None, fmt, 0))
        rng.shuffle(batch)
        yield batch


def call(app, req: Request) -> tuple[str, bytes]:
    path, sep, qs = req.text.partition("?")
    environ = {
        "REQUEST_METHOD": "GET",
        "PATH_INFO": path,
        "QUERY_STRING": quote(qs, safe="") if sep else "",
        "HTTP_ACCEPT": ACCEPT[req.fmt],
    }
    status = []
    body = b"".join(app(environ, lambda s, headers: status.append(s)))
    return status[0], body


def run(run, tracer) -> None:
    from htsql_spark import WSGI

    spec = load_spec()
    t0 = time.time()
    tables = datagen.build(SF, run.seed)
    datagen.write(run.data_dir, tables)
    run.input_s = time.time() - t0
    table_rows = {name: tab.num_rows for name, tab in tables.items()}
    table_rows["partsupp"] = 4 * table_rows["part"]

    run.start_engine(timeout=TIMEOUT_S)
    app = WSGI(run.db)
    seen: set[str] = set()
    warm = passes(spec, WARMUP_SEED, table_rows)
    t1 = time.time()
    for _ in range(WARMUP_PASSES):
        for req in next(warm):
            seen.add(req.text)
            call(app, req)
    run.info["warmup_s"] = round(time.time() - t1, 2)
    if tracer is not None:
        tracer.install()
    stream = passes(spec, run.seed, table_rows)
    done = []
    repeats = 0
    start = time.perf_counter()
    # whole passes, so every run times the same mix of texts
    pass_s = []
    while (
        time.perf_counter() - start < run.seconds
        or len(done) < MIN_REQUESTS
        or (tracer is not None and not tracer.enough())
    ):
        pass_s.append(time.perf_counter())
        for req in next(stream):
            repeats += req.text in seen
            seen.add(req.text)
            if tracer is not None:
                tracer.begin_op()
            t = time.perf_counter()
            try:
                status, body = call(app, req)
            except Exception as exc:  # noqa: BLE001 - a failed op is counted
                status, body = f"raised {type(exc).__name__}: {exc}", b""
            dt = time.perf_counter() - t
            if tracer is not None:
                tracer.end_op(dt)
            run.latencies.append(dt)
            run.source_rows += req.rows
            done.append((req, status, body))
    run.timed_s = time.perf_counter() - start
    run.info["pass_s"] = [round(b - a, 2) for a, b in zip(pass_s, pass_s[1:] + [start + run.timed_s])]
    if tracer is not None:
        tracer.uninstall()
    run.info["repeat_text_share"] = round(repeats / len(done), 4)
    run.info["requests"] = len(done)
    t1 = time.time()
    _check(run, done)
    run.info["check_s"] = round(time.time() - t1, 2)


def _check(run, done) -> None:
    import duckdb

    con = duckdb.connect()
    for t in datagen.TABLES:
        path = os.path.join(run.data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    expected: dict[str, tuple] = {}
    for req, status, body in done:
        run.attempted += 1
        if req.sql is None:
            if not status.startswith("4"):
                run.fail(f"error text {req.text!r}: status {status}")
            continue
        if not status.startswith("200"):
            run.fail(f"{req.name} {req.fmt}: status {status} {body[:200]!r}")
            continue
        if req.sql not in expected:
            cur = con.execute(req.sql)
            expected[req.sql] = (
                [d[0] for d in cur.description],
                [list(r) for r in cur.fetchall()],
            )
        cols, rows = expected[req.sql]
        try:
            check.compare(*check.decode(req.fmt, body), cols, rows)
        except Exception as exc:  # noqa: BLE001 - any decode error is a wrong answer
            run.fail(f"{req.name} {req.fmt} {req.text!r}: {exc}")
    con.close()
