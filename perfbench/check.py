"""Result checking: parse an engine response and compare it with the
rows of a DuckDB reference query.

Every output format is decoded to ``(columns, rows)``; cells are then
compared by the type of the reference value, so ``1.5``, ``"1.5"`` and
``1.5000000001`` all match a reference ``1.5`` while a wrong key or a
missing row does not.  Row order is ignored: engine results carry no
order guarantee unless the query sorts, and the formats that render at
most ``TEXT_ROWS`` rows are checked as a sub-multiset of the reference.
"""

from __future__ import annotations

import csv
import datetime as _dt
import decimal
import html
import io
import json
import math
import re
import xml.etree.ElementTree as ET
from collections import defaultdict

TEXT_ROWS = 1000  # formats.emit_text/html/xml render at most this many rows

_DIGITS = re.compile(r"\d")
_TD = re.compile(r"<td[^>]*>(.*?)</td>", re.S)
_TR = re.compile(r"<tr>(.*?)</tr>", re.S)
_TH = re.compile(r"<th>(.*?)</th>", re.S)


class Mismatch(Exception):
    pass


def decode(fmt: str, body: bytes):
    """``(columns or None, rows, truncated)`` for one response body."""
    text = body.decode()
    if fmt == "json":
        data = json.loads(text)["data"]
        cols = list(data[0]) if data else None
        return cols, [list(r.values()) for r in data], False
    if fmt == "csv":
        rows = list(csv.reader(io.StringIO(text)))
        return rows[0], rows[1:], False
    if fmt == "txt":
        lines = text.rstrip("\n").split("\n")
        truncated = lines[-1].startswith("... (first ")
        body_lines = lines[2:-1] if truncated else lines[2:]
        split = lambda ln: [c.strip() for c in ln.split(" | ")]  # noqa: E731
        return split(lines[0]), [split(ln) for ln in body_lines], truncated
    if fmt == "html":
        head, _, tbody = text.partition("</thead>")
        cols = [html.unescape(c) for c in _TH.findall(head)]
        rows, truncated = [], False
        for tr in _TR.findall(tbody):
            if "colspan=" in tr:
                truncated = True
                continue
            rows.append([html.unescape(c) for c in _TD.findall(tr)])
        return cols, rows, truncated
    if fmt == "xml":
        root = ET.fromstring(text)
        cols, rows = None, []
        for row in root.findall("row"):
            cells = list(row)
            cols = [c.get("name") if c.tag == "cell" else c.tag for c in cells]
            rows.append([c.text or "" for c in cells])
        return cols, rows, root.find("truncated") is not None
    raise ValueError(f"unknown format {fmt!r}")


def _kind(values) -> str:
    for v in values:
        if v is None:
            continue
        if isinstance(v, bool):
            return "bool"
        if isinstance(v, int):
            return "int"
        if isinstance(v, (float, decimal.Decimal)):
            return "float"
        if isinstance(v, (_dt.datetime, _dt.date)):
            return "time"
        return "str"
    return "none"


def _is_null(v) -> bool:
    # the text formats render NULL as an empty cell
    return v is None or v == ""


def _canon(kind: str, v):
    """Canonical exact key of a non-float cell."""
    if _is_null(v):
        return None
    if kind == "bool":
        return str(v).lower() == "true"
    if kind == "int":
        s = str(v)
        return int(s) if re.fullmatch(r"-?\d+", s) else int(float(s))
    if kind == "time":
        s = v.isoformat() if isinstance(v, (_dt.datetime, _dt.date)) else str(v)
        return "".join(_DIGITS.findall(s)).ljust(14, "0")[:14]
    return str(v)


def _num(v):
    return None if _is_null(v) else float(v)


def _close(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if math.isnan(a) or math.isnan(b):
        return math.isnan(a) and math.isnan(b)
    return abs(a - b) <= 1e-6 * max(1.0, abs(a), abs(b))


def compare(cols, rows, truncated, exp_cols, exp_rows) -> None:
    """Raise :class:`Mismatch` unless ``rows`` equal ``exp_rows`` as a
    multiset (or, for a truncated rendering, are ``TEXT_ROWS`` of
    them)."""
    if cols is not None and list(cols) != list(exp_cols):
        raise Mismatch(f"columns {cols} != {exp_cols}")
    if truncated:
        if len(exp_rows) <= TEXT_ROWS or len(rows) != TEXT_ROWS:
            raise Mismatch(f"truncated to {len(rows)} of {len(exp_rows)} rows")
    elif len(rows) != len(exp_rows):
        raise Mismatch(f"{len(rows)} rows != {len(exp_rows)} expected")
    kinds = [_kind(r[i] for r in exp_rows) for i in range(len(exp_cols))]
    fl = [i for i, k in enumerate(kinds) if k == "float"]
    ex = [i for i, k in enumerate(kinds) if k != "float"]

    def split(r):
        if len(r) != len(kinds):
            raise Mismatch(f"row width {len(r)} != {len(kinds)}")
        return (
            tuple(_canon(kinds[i], r[i]) for i in ex),
            [_num(r[i]) for i in fl],
        )

    groups = defaultdict(list)
    for r in exp_rows:
        k, f = split(r)
        groups[k].append(f)
    for k, f in map(split, rows):
        cands = groups.get(k)
        if not cands:
            raise Mismatch(f"unexpected row key {k} {f}")
        for j, c in enumerate(cands):
            if all(_close(a, b) for a, b in zip(f, c)):
                cands.pop(j)
                break
        else:
            raise Mismatch(f"row {k} {f} matches no expected value")
