"""WSGI entry point — the reference's primary interface (reference:
src/htsql/core/wsgi.py::WSGI, src/htsql/core/cmd/act.py::render).

The query IS the URL: path + query string are decoded back into
query text, compiled, executed, and rendered in the negotiated
format:

    GET /nation{name,count(customer)}?region.name='ASIA'
    Accept: text/csv

Format selection order: an explicit ``/:csv``-style pipe in the query
wins, then the Accept header, then JSON.  Errors render as plain-text
bodies: a parse/bind error is the user's (400, with its message), a
passed ``timeout`` is 504, and any other failure is a 500 that names
only the exception class (no Java traceback leaves the server).
"""

from __future__ import annotations

from urllib.parse import unquote

from .ir import CompileError
from .syntax.parse import ParseError

_CONTENT_TYPES = {
    "json": "application/json",
    "raw": "application/json",
    "csv": "text/csv",
    "tsv": "text/tab-separated-values",
    "txt": "text/plain",
    "html": "text/html",
    "xml": "application/xml",
}

_ACCEPT_TO_FMT = {
    "application/json": "json",
    "text/csv": "csv",
    "text/tab-separated-values": "tsv",
    "text/plain": "txt",
    "text/html": "html",
    "application/xml": "xml",
    "text/xml": "xml",
}


def _negotiate(accept_header: str) -> str | None:
    for part in accept_header.split(","):
        mime = part.split(";")[0].strip().lower()
        if mime in _ACCEPT_TO_FMT:
            return _ACCEPT_TO_FMT[mime]
    return None


def _error(start_response, status: str, text: str) -> list[bytes]:
    start_response(status, [("Content-Type", "text/plain")])
    return [text.encode()]


class WSGI:
    """``app = WSGI(db); body = app(environ, start_response)``"""

    def __init__(self, db):
        self.db = db

    def __call__(self, environ, start_response):
        if environ.get("REQUEST_METHOD", "GET") != "GET":
            start_response("405 Method Not Allowed", [("Allow", "GET")])
            return [b"method not allowed"]
        # PEP 3333: PATH_INFO arrives ALREADY percent-decoded — a
        # second unquote() would corrupt literals containing %XX
        # ('%2553' in the URL reaches us as '%53'; decoding again
        # yields 'S' and the filter silently matches the wrong value).
        # QUERY_STRING is the raw, still-encoded part.
        path = environ.get("PATH_INFO", "/")
        qs = unquote(environ.get("QUERY_STRING", ""))
        query = path + ("?" + qs if qs else "")
        if query in ("", "/"):
            return _error(start_response, "400 Bad Request", "empty query")
        accept = environ.get("HTTP_ACCEPT", "")
        fmt = _negotiate(accept)
        try:
            # an explicit /:fmt pipe in the query overrides the
            # negotiated format; the used one comes back with the body
            body, used = self.db.emit_with_format(query, fmt)
        except (ParseError, CompileError) as exc:
            return _error(start_response, "400 Bad Request", str(exc))
        except TimeoutError as exc:
            return _error(start_response, "504 Gateway Timeout", str(exc))
        except Exception as exc:
            return _error(
                start_response,
                "500 Internal Server Error",
                f"query failed: {type(exc).__name__}",
            )
        ctype = _CONTENT_TYPES.get(used, "application/octet-stream")
        start_response(
            "200 OK",
            [("Content-Type", ctype), ("Content-Length", str(len(body)))],
        )
        return [body]
