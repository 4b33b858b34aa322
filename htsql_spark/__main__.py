"""Command-line shell — parity with the reference's ``htsql-ctl``
(reference: src/htsql/ctl/shell.py::ShellRoutine):

    python -m htsql_spark /root/testdata/sf0.001              # REPL
    python -m htsql_spark /root/testdata/sf0.001 -c '/region' # one-shot
    python -m htsql_spark DIR -c '/region' -f csv             # format
    python -m htsql_spark DIR -c '/region' --timeout 30       # deadline
    python -m htsql_spark DIR --serve 8080                    # WSGI server

The REPL reads one query per line and prints the plain-text grid
(``:txt``); any other format pipe in the query wins.
"""

from __future__ import annotations

import argparse
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="htsql_spark", description=__doc__)
    ap.add_argument("data_dir", help="directory of parquet/csv/json tables")
    ap.add_argument("-c", "--command", help="run one query and exit")
    ap.add_argument("-f", "--format", default=None, help="output format (json/csv/txt/html/xml)")
    ap.add_argument("--reflect", action="store_true",
                    help="reflect the catalog from data files (no catalog.yaml)")
    ap.add_argument("--autolimit", type=int, default=None, help="implicit LIMIT per query")
    ap.add_argument("--timeout", type=float, default=None, metavar="SECONDS",
                    help="deadline per query, compile and execution")
    ap.add_argument("--serve", type=int, default=None, metavar="PORT",
                    help="serve the WSGI app on PORT instead of a shell")
    ap.add_argument("--cpus", type=int, default=None)
    args = ap.parse_args(argv)

    from . import HTSQL, Catalog, get_spark

    spark = get_spark("htsql-spark-ctl", cpus=args.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    catalog = Catalog.from_files(args.data_dir) if args.reflect else None
    try:
        db = HTSQL(
            spark, args.data_dir, catalog=catalog,
            autolimit=args.autolimit, timeout=args.timeout,
        )
    except ValueError as exc:  # the engine validates autolimit/timeout
        ap.error(str(exc))

    if args.serve is not None:
        from wsgiref.simple_server import make_server

        from .wsgi import WSGI

        with make_server("127.0.0.1", args.serve, WSGI(db)) as httpd:
            print(f"serving on http://127.0.0.1:{args.serve}/", file=sys.stderr)
            httpd.serve_forever()
        return 0

    if args.command:
        out = db.emit(args.command, args.format)
        sys.stdout.buffer.write(out)
        if not out.endswith(b"\n"):
            sys.stdout.buffer.write(b"\n")
        return 0

    # REPL
    print("htsql_spark shell — one query per line, Ctrl-D to exit", file=sys.stderr)
    for line in sys.stdin:
        query = line.strip()
        if not query:
            continue
        try:
            sys.stdout.buffer.write(db.emit(query, args.format or "txt"))
        except Exception as exc:  # user errors keep the shell alive
            print(f"error: {exc}", file=sys.stderr)
        sys.stdout.flush()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
