"""Output formats (reference: src/htsql/core/fmt/ — json.py::EmitJSON,
csv.py, text.py).  Each serializes a result DataFrame, including
nested record/list columns produced by nested segments.

The JSON emitter delegates per-row serialization to Spark
(``df.toJSON`` — nested structs/arrays serialize natively JVM-side);
CSV flattens nested columns to JSON text first, matching the spirit of
the reference's CSV flattening; the text format is a driver-side grid
renderer for small results.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .ir import quote


def emit(fmt: str, df: DataFrame) -> bytes:
    fmt = fmt.lower()
    if fmt in ("json", "raw"):
        return emit_json(df, meta=(fmt == "raw"))
    if fmt in ("csv", "tsv"):
        return emit_csv(df, sep="," if fmt == "csv" else "\t")
    if fmt in ("txt", "text"):
        return emit_text(df)
    if fmt == "html":
        return emit_html(df)
    if fmt == "xml":
        return emit_xml(df)
    raise ValueError(f"unknown format {fmt!r}")


def emit_json(df: DataFrame, meta: bool = False) -> bytes:
    # JVM-side row serialization; ignoreNullFields=false so every row
    # carries the full key set (toJSON()'s default DROPS null-valued
    # fields, giving rows inconsistent shapes and a meta schema that
    # lists fields absent from the data)
    rows = [
        r.j
        for r in df.selectExpr(
            "to_json(struct(*), map('ignoreNullFields', 'false')) AS j"
        ).collect()
    ]
    body = ",\n    ".join(rows)
    if meta:
        schema = json.dumps(df.schema.jsonValue())
        return f'{{\n  "meta": {schema},\n  "data": [\n    {body}\n  ]\n}}'.encode()
    return f'{{\n  "data": [\n    {body}\n  ]\n}}'.encode()


def _flatten_for_csv(df: DataFrame) -> DataFrame:
    """Nested (array/struct/map) columns as JSON text; a flat result
    is returned as is, without a re-projection."""
    nested = (T.ArrayType, T.StructType, T.MapType)
    fields = df.schema.fields
    if not any(isinstance(f.dataType, nested) for f in fields):
        return df
    return df.selectExpr(
        *(
            f"to_json({quote(f.name)}) AS {quote(f.name)}"
            if isinstance(f.dataType, nested)
            else quote(f.name)
            for f in fields
        )
    )


def emit_csv(df: DataFrame, sep: str = ",") -> bytes:
    """One ``collect()``: one job, like ``emit_json`` (the body is
    buffered whole either way; ``toLocalIterator`` runs a job per
    partition)."""
    import csv as _csv
    import io

    flat = _flatten_for_csv(df)
    buf = io.StringIO()
    w = _csv.writer(buf, delimiter=sep, lineterminator="\n")
    w.writerow(flat.columns)
    for row in flat.collect():
        w.writerow(["" if v is None else v for v in row])
    return buf.getvalue().encode()


def emit_text(df: DataFrame, max_rows: int = 1000) -> bytes:
    """Plain-text grid, ``df.show``-style but returned as bytes; a
    result larger than ``max_rows`` gets an explicit ellipsis row (a
    silent cut reads as 'the table has max_rows rows')."""
    flat = _flatten_for_csv(df)
    taken = flat.take(max_rows + 1)
    truncated = len(taken) > max_rows
    rows = [[("" if v is None else str(v)) for v in r] for r in taken[:max_rows]]
    headers = flat.columns
    widths = [
        max(len(h), *(len(r[i]) for r in rows)) if rows else len(h)
        for i, h in enumerate(headers)
    ]
    sep = "-+-".join("-" * w for w in widths)
    out = [" | ".join(h.ljust(w) for h, w in zip(headers, widths)), sep]
    for r in rows:
        out.append(" | ".join(v.ljust(w) for v, w in zip(r, widths)))
    if truncated:
        out.append(f"... (first {max_rows} rows)")
    return ("\n".join(out) + "\n").encode()


def emit_html(df: DataFrame, max_rows: int = 1000) -> bytes:
    flat = _flatten_for_csv(df)
    import html as _html

    taken = flat.take(max_rows + 1)
    truncated = len(taken) > max_rows
    head = "".join(f"<th>{_html.escape(c)}</th>" for c in flat.columns)
    body = "".join(
        "<tr>" + "".join(f"<td>{_html.escape('' if v is None else str(v))}</td>" for v in r) + "</tr>"
        for r in taken[:max_rows]
    )
    if truncated:
        body += (
            f'<tr><td colspan="{len(flat.columns)}">'
            f"&#8230; (first {max_rows} rows)</td></tr>"
        )
    return f"<table><thead><tr>{head}</tr></thead><tbody>{body}</tbody></table>".encode()


_XML_NAME = __import__("re").compile(r"^[A-Za-z_][A-Za-z0-9_.-]*$")


def emit_xml(df: DataFrame, max_rows: int = 1000) -> bytes:
    """Output headers come from the query surface (hint_of): '*',
    '^', 'count(…)', '@name' are all legal column names but NOT legal
    XML element names — those render as <cell name="…"> so the
    document stays well-formed for every query shape."""
    flat = _flatten_for_csv(df)
    from xml.sax.saxutils import escape, quoteattr

    def tag(c: str, v) -> str:
        text = escape("" if v is None else str(v))
        if _XML_NAME.match(c):
            return f"<{c}>{text}</{c}>"
        return f"<cell name={quoteattr(c)}>{text}</cell>"

    taken = flat.take(max_rows + 1)
    truncated = len(taken) > max_rows
    rows = []
    for r in taken[:max_rows]:
        cells = "".join(tag(c, v) for c, v in zip(flat.columns, r))
        rows.append(f"<row>{cells}</row>")
    trailer = (
        f'<truncated rows="{max_rows}"/>' if truncated else ""
    )
    return ("<result>" + "".join(rows) + trailer + "</result>").encode()
