"""Function & operator library.

The reference defines every function as a signature + bind/dump
adapter pair (reference: src/htsql/core/tr/fn/signature.py,
src/htsql/core/tr/fn/bind.py, src/htsql/core/tr/fn/dump.py, with a
per-RDBMS dialect layer).  Here each function is a small Python
handler that builds JVM-side ``pyspark.sql.functions`` expressions —
one dialect (Spark), no dump layer, everything stays inside
whole-stage codegen.  No Python row-at-a-time UDFs anywhere in this
module.

Type-directed behavior (text ``+`` = concat, date arithmetic, implicit
text→boolean in sieves) mirrors the reference's coercion rules
(reference: src/htsql/core/tr/coerce.py::coerce); the column dtype is
resolved from the live DataFrame schema.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .ir import CompileError, FlowV, Scalar, ScopeRef, quote
from .syntax import nodes as N


# ----------------------------------------------------------------------
# type inspection (stand-in for the reference's coerce stage)
# ----------------------------------------------------------------------
def dtype(scope: ScopeRef, col: Column) -> T.DataType:
    return scope.flow.df.select(col).schema[0].dataType


def is_string(t: T.DataType) -> bool:
    return isinstance(t, T.StringType)


def is_integral(t: T.DataType) -> bool:
    return isinstance(t, (T.ByteType, T.ShortType, T.IntegerType, T.LongType))


def is_datelike(t: T.DataType) -> bool:
    return isinstance(t, (T.DateType, T.TimestampType, T.TimestampNTZType))


def to_boolean(cc, scope: ScopeRef, col: Column) -> Column:
    """Implicit boolean coercion: text → non-NULL and non-empty;
    numbers → non-NULL and non-zero; other types → non-NULL."""
    t = dtype(scope, col)
    if isinstance(t, T.BooleanType):
        return col
    if is_string(t):
        return col.isNotNull() & (col != F.lit(""))
    if isinstance(t, T.NullType):
        return F.lit(None).cast("boolean")
    if isinstance(t, T.NumericType):
        return col.isNotNull() & (col != F.lit(0))
    return col.isNotNull()


# ----------------------------------------------------------------------
# binary / unary operators
# ----------------------------------------------------------------------
def eval_operator(cc, ctx, scope: ScopeRef, node: N.Operator):
    op = node.op
    if op in ("|", "&"):
        l = cc.to_predicate(ctx, scope, node.lhs)
        r = cc.to_predicate(ctx, scope, node.rhs)
        col = (l | r) if op == "|" else (l & r)
        return Scalar(col, op)
    # set membership:  x = {'a','b'}  /  x != {…}
    if op in ("=", "!=") and isinstance(node.rhs, N.Selection) and node.rhs.base is None:
        l = cc.scalar(ctx, scope, node.lhs).col
        vals = [cc.scalar(ctx, scope, i).col for i in node.rhs.items]
        col = l.isin(*vals)
        return Scalar(col if op == "=" else ~col, op)
    l = cc.scalar(ctx, scope, node.lhs).col
    r = cc.scalar(ctx, scope, node.rhs).col
    hint = f"{hint2(node.lhs)}{op}{hint2(node.rhs)}"
    if op == "=":
        return Scalar(l == r, hint)
    if op == "!=":
        return Scalar(l != r, hint)
    if op == "==":  # total (null-safe) equality
        return Scalar(l.eqNullSafe(r), hint)
    if op == "!==":
        return Scalar(~l.eqNullSafe(r), hint)
    if op == "<":
        return Scalar(l < r, hint)
    if op == "<=":
        return Scalar(l <= r, hint)
    if op == ">":
        return Scalar(l > r, hint)
    if op == ">=":
        return Scalar(l >= r, hint)
    if op == "~":  # case-insensitive containment
        return Scalar(F.lower(l).contains(F.lower(r)), hint)
    if op == "!~":
        return Scalar(~F.lower(l).contains(F.lower(r)), hint)
    if op in ("+", "-", "*", "/"):
        return _arith(cc, scope, op, l, r, hint)
    raise CompileError(f"unknown operator {op!r}")


def _arith(cc, scope: ScopeRef, op: str, l: Column, r: Column, hint: str) -> Scalar:
    lt, rt = dtype(scope, l), dtype(scope, r)
    if op == "+":
        if is_string(lt) or is_string(rt):
            return Scalar(F.concat(l.cast("string"), r.cast("string")), hint)
        if is_datelike(lt) and isinstance(rt, T.NumericType):
            return Scalar(F.date_add(l.cast("date"), r.cast("int")), hint)
        if is_datelike(rt) and isinstance(lt, T.NumericType):
            return Scalar(F.date_add(r.cast("date"), l.cast("int")), hint)
        return Scalar(l + r, hint)
    if op == "-":
        if is_datelike(lt) and is_datelike(rt):
            return Scalar(F.datediff(l.cast("date"), r.cast("date")), hint)
        if is_datelike(lt) and isinstance(rt, T.NumericType):
            return Scalar(F.date_sub(l.cast("date"), r.cast("int")), hint)
        return Scalar(l - r, hint)
    if op == "*":
        return Scalar(l * r, hint)
    # division: integer/integer promotes to inexact division (the
    # reference promotes to decimal; we align with the DuckDB oracle's
    # double semantics — documented deviation), and division by zero
    # yields NULL instead of the ANSI error (docs/semantics.md S11:
    # oracle-aligned, and one bad row must not kill a 100 TB job)
    if is_integral(lt) and is_integral(rt):
        return Scalar(F.try_divide(l.cast("double"), r), hint)
    return Scalar(F.try_divide(l, r), hint)


def hint2(node: N.Node) -> str:
    from .compile import hint_of

    return hint_of(node)


# ----------------------------------------------------------------------
# aggregates (reference: fn/signature.py::CountSig, ::ExistsSig,
# ::MinMaxSig, ::SumSig, ::AvgSig, ::QuantifySig)
# ----------------------------------------------------------------------
AGGREGATES = {
    "count", "exists", "any", "every", "min", "max", "sum", "avg", "mean",
    # beyond-reference, Spark-native (SURVEY.md §3.2 gaps):
    "stddev", "variance", "count_distinct", "approx_count_distinct",
    "median", "percentile", "approx_percentile", "collect",
}

_NEEDS_VALUE = {
    "min", "max", "sum", "avg", "mean", "stddev", "variance",
    "count_distinct", "approx_count_distinct", "median", "percentile",
    "approx_percentile", "collect",
}


def agg_expr(cc, sub_scope: ScopeRef, name: str, val, extra_args: list[N.Node]):
    """Build (aggregate Column, post-join wrapper) for one aggregate —
    shared by the one-off path and the batched path."""
    if name in _NEEDS_VALUE and val is None:
        raise CompileError(f"{name}() needs a value expression (e.g. {name}(t.col))")
    post = None
    if name == "count":
        if val is None:
            agg = F.count(F.lit(1))
        else:
            cond = to_boolean(cc, sub_scope, val)
            agg = F.count(F.when(cond, F.lit(1)))
        post = lambda c: F.coalesce(c, F.lit(0))  # noqa: E731
    elif name in ("exists", "any"):
        if val is None:
            agg = F.max(F.lit(True))
        else:
            agg = F.max(to_boolean(cc, sub_scope, val))
        post = lambda c: F.coalesce(c, F.lit(False))  # noqa: E731
    elif name == "every":
        if val is None:
            raise CompileError("every() needs a predicate expression")
        agg = F.min(to_boolean(cc, sub_scope, val))
        post = lambda c: F.coalesce(c, F.lit(True))  # noqa: E731
    elif name == "min":
        agg = F.min(val)
    elif name == "max":
        agg = F.max(val)
    elif name == "sum":
        agg = F.sum(val)
    elif name in ("avg", "mean"):
        agg = F.avg(val)
    elif name == "stddev":
        agg = F.stddev_samp(val)
    elif name == "variance":
        agg = F.var_samp(val)
    elif name == "count_distinct":
        agg = F.countDistinct(val)
        post = lambda c: F.coalesce(c, F.lit(0))  # noqa: E731
    elif name == "approx_count_distinct":
        agg = F.approx_count_distinct(val)
        post = lambda c: F.coalesce(c, F.lit(0))  # noqa: E731
    elif name == "median":
        agg = F.median(val)
    elif name == "percentile":
        if not extra_args or not isinstance(extra_args[0], N.Literal):
            raise CompileError("percentile(expr, fraction) needs a literal fraction")
        agg = F.percentile(val, F.lit(float(extra_args[0].value)))
    elif name == "approx_percentile":
        # sketch-based (GK) quantile — the 100 TB path: exact
        # percentile is a per-group sort, this is a mergeable sketch
        if not extra_args or not isinstance(extra_args[0], N.Literal):
            raise CompileError(
                "approx_percentile(expr, fraction) needs a literal fraction"
            )
        agg = F.percentile_approx(val, F.lit(float(extra_args[0].value)), F.lit(10000))
    elif name == "collect":
        agg = F.collect_list(val)
    else:  # pragma: no cover
        raise CompileError(f"unhandled aggregate {name}")
    return agg, post


def apply_aggregate(cc, ctx, scope: ScopeRef, name: str, args: list[N.Node]):
    if not args:
        raise CompileError(f"{name}() needs a plural argument")
    # child ctx: define()s inside the aggregate argument are scoped to
    # that sub-flow and must not leak into the outer query (also keeps
    # compile.resolve_name's name_memo fingerprint stable)
    ctx = ctx.child()
    v = cc.eval(ctx, scope, args[0])
    if isinstance(v, ScopeRef):
        raise CompileError(f"{name}() needs a plural flow, got a singular link '{v.hint}'")
    if isinstance(v, Scalar):
        raise CompileError(f"{name}() needs a plural flow, got a scalar")
    sub = v.flow
    sub_scope = ScopeRef(sub, sub.alias, sub.table)
    agg, post = agg_expr(cc, sub_scope, name, v.value, args[1:])
    hint = f"{name}({v.hint})"
    return cc.lower_aggregate(scope, v, agg, post, hint)


# ----------------------------------------------------------------------
# scalar functions
# ----------------------------------------------------------------------
def _args(cc, ctx, scope, args, lo, hi=None, name=""):
    hi = hi if hi is not None else lo
    if not (lo <= len(args) <= hi):
        raise CompileError(f"{name}() takes {lo}..{hi} arguments, got {len(args)}")
    return [cc.scalar(ctx, scope, a).col for a in args]


def _simple(pyfn, lo, hi=None, name=""):
    def handler(cc, ctx, scope, args):
        cols = _args(cc, ctx, scope, args, lo, hi, name)
        return Scalar(pyfn(*cols), name)

    return handler


def _fn_boolean(cc, ctx, scope, args):
    (c,) = _args(cc, ctx, scope, args, 1, name="boolean")
    return Scalar(to_boolean(cc, scope, c), "boolean")


def _fn_text(cc, ctx, scope, args):
    (c,) = _args(cc, ctx, scope, args, 1, name="text")
    t = dtype(scope, c)
    if isinstance(t, (T.TimestampType, T.TimestampNTZType)):
        return Scalar(F.date_format(c, "yyyy-MM-dd HH:mm:ss"), "text")
    if isinstance(t, T.StructType):  # identity value → dotted form
        return Scalar(F.concat_ws(".", *[c[f.name].cast("string") for f in t.fields]), "text")
    return Scalar(c.cast("string"), "text")


def _fn_if(cc, ctx, scope, args):
    if len(args) < 2:
        raise CompileError("if(cond, value, …[, else]) needs at least 2 arguments")
    pairs = []
    i = 0
    while i + 1 < len(args):
        cond = cc.to_predicate(ctx, scope, args[i])
        val = cc.scalar(ctx, scope, args[i + 1]).col
        pairs.append((cond, val))
        i += 2
    els = cc.scalar(ctx, scope, args[-1]).col if len(args) % 2 == 1 else F.lit(None)
    col = F.when(pairs[0][0], pairs[0][1])
    for cond, val in pairs[1:]:
        col = col.when(cond, val)
    return Scalar(col.otherwise(els), "if")


def _fn_switch(cc, ctx, scope, args):
    if len(args) < 3:
        raise CompileError("switch(expr, match, value, …[, else]) needs at least 3 arguments")
    subject = cc.scalar(ctx, scope, args[0]).col
    rest = args[1:]
    pairs = []
    i = 0
    while i + 1 < len(rest):
        m = cc.scalar(ctx, scope, rest[i]).col
        v = cc.scalar(ctx, scope, rest[i + 1]).col
        pairs.append((m, v))
        i += 2
    els = cc.scalar(ctx, scope, rest[-1]).col if len(rest) % 2 == 1 else F.lit(None)
    col = F.when(subject == pairs[0][0], pairs[0][1])
    for m, v in pairs[1:]:
        col = col.when(subject == m, v)
    return Scalar(col.otherwise(els), "switch")


def _fn_head(cc, ctx, scope, args):
    cols = _args(cc, ctx, scope, args, 1, 2, "head")
    n = cols[1] if len(cols) > 1 else F.lit(1)
    return Scalar(_head(cols[0], n), "head")


def _head(s: Column, n: Column) -> Column:
    # negative n: all but last |n| chars (reference head/tail semantics)
    return F.when(n >= 0, s.substr(F.lit(1), n)).otherwise(
        s.substr(F.lit(1), F.greatest(F.length(s) + n, F.lit(0)))
    )


def _fn_tail(cc, ctx, scope, args):
    cols = _args(cc, ctx, scope, args, 1, 2, "tail")
    s = cols[0]
    n = cols[1] if len(cols) > 1 else F.lit(1)
    pos_len = F.greatest(F.length(s) - F.greatest(-n, F.lit(0)), F.lit(0))
    return Scalar(
        F.when(n >= 0, s.substr(F.greatest(F.length(s) - n + 1, F.lit(1)), F.greatest(n, F.lit(0))))
        .otherwise(s.substr(F.greatest(-n, F.lit(0)) + 1, pos_len)),
        "tail",
    )


def _fn_slice(cc, ctx, scope, args):
    """slice(s, i, j): half-open 0-based; negatives count from the
    end; NULL bound = open end (reference: fn/signature.py::SliceSig)."""
    cols = _args(cc, ctx, scope, args, 3, 3, "slice")
    s, i, j = cols
    ln = F.length(s)
    norm = lambda x, dflt: F.coalesce(  # noqa: E731
        F.when(x < 0, F.greatest(ln + x, F.lit(0))).otherwise(F.least(x, ln)), dflt
    )
    start = norm(i, F.lit(0))
    end = norm(j, ln)
    return Scalar(s.substr(start + 1, F.greatest(end - start, F.lit(0))), "slice")


def _fn_at(cc, ctx, scope, args):
    cols = _args(cc, ctx, scope, args, 2, 3, "at")
    s, i = cols[0], cols[1]
    n = cols[2] if len(cols) > 2 else F.lit(1)
    ln = F.length(s)
    # negative n: n chars ending at i
    i2 = F.when(n < 0, i + n).otherwise(i)
    n2 = F.abs(n)
    start = F.when(i2 < 0, F.greatest(ln + i2, F.lit(0))).otherwise(i2)
    adj = F.when(i2 < 0, n2 + F.least(ln + i2, F.lit(0))).otherwise(n2)
    return Scalar(s.substr(start + 1, F.greatest(adj, F.lit(0))), "at")


def _fn_date(cc, ctx, scope, args):
    if len(args) == 3:
        y, m, d = _args(cc, ctx, scope, args, 3, 3, "date")
        return Scalar(F.make_date(y, m, d), "date")
    # a literal argument is validated at BIND time: date('nope') is a
    # user error, not a NULL-yielding runtime cast (same contract as
    # identity-literal coercion)
    import datetime

    if len(args) == 1 and isinstance(args[0], N.Literal) and isinstance(
        args[0].value, str
    ):
        try:
            datetime.date.fromisoformat(args[0].value)
        except ValueError:
            raise CompileError(
                f"date({args[0].value!r}) is not a valid ISO date literal"
            ) from None
    (c,) = _args(cc, ctx, scope, args, 1, name="date")
    return Scalar(c.cast("date"), "date")


def _fn_datetime(cc, ctx, scope, args):
    if len(args) >= 3:
        cols = _args(cc, ctx, scope, args, 3, 6, "datetime")
        while len(cols) < 6:
            cols.append(F.lit(0))
        y, mo, d, h, mi, s = cols
        return Scalar(F.make_timestamp_ntz(y, mo, d, h, mi, s.cast("decimal(16,6)")), "datetime")
    (c,) = _args(cc, ctx, scope, args, 1, name="datetime")
    return Scalar(c.cast("timestamp_ntz"), "datetime")


def _fn_id(cc, ctx, scope, args):
    """Row identity value — the identity columns (PK by default, or a
    declared text unique key) as a struct, serialized dotted by
    text() (reference: src/htsql/core/tr/fn/bind.py::BindId,
    src/htsql/core/domain.py::IdentityDomain)."""
    if scope.table is None:
        raise CompileError("id() needs a table scope")
    idc = ", ".join(
        f"{quote(scope.flow.scope_col(c, scope.alias))} AS {quote(c)}"
        for c in scope.table.identity_cols
    )
    return Scalar(F.expr(f"struct({idc})"), "id")


def _fn_as(cc, ctx, scope, args):
    if len(args) != 2 or not isinstance(args[1], (N.Literal, N.Identifier)):
        raise CompileError("as(expr, title) needs a title")
    title = args[1].value if isinstance(args[1], N.Literal) else args[1].name
    v = cc.eval(ctx, scope, args[0])
    if isinstance(v, Scalar):
        return Scalar(v.col, str(title))
    v.hint = str(title)
    return v


def _fn_given(cc, ctx, scope, args):
    body = None
    sub = ctx.child()
    for a in args:
        if isinstance(a, N.Assignment):
            if a.is_reference:
                # references capture the value AT THE DEFINITION SITE
                # (reference: tr/lookup.py::lookup_reference) — eager
                # evaluation in the defining scope, see bind_reference
                cc.bind_reference(sub, scope, a.name, a.expr)
            else:
                sub.names[a.name] = a.expr
        elif body is None:
            body = a
        else:
            raise CompileError("given() takes one body expression plus assignments")
    if body is None:
        raise CompileError("given() needs a body expression")
    # batch the body's aggregates HERE, where the $references are
    # bound: sieve-family members (`exists(F?P)` & `!exists(F?P&Q)`,
    # TPC-H Q21 shape) then share one flow evaluation and one grouped
    # join instead of touching the fact table once per aggregate
    cc.batch_aggregates(sub, scope, [body])
    return cc.eval(sub, scope, body)


def _fn_fork(cc, ctx, scope, args):
    """fork(): the current flow, correlated on nothing (reference:
    src/htsql/core/tr/binding.py::ForkBinding) → global aggregates via
    1-row broadcast cross join, not a single-partition window."""
    if args:
        raise CompileError("fork() takes no arguments")
    return FlowV(scope.flow.copy(), [], [], hint="fork()")


def _fn_distinct(cc, ctx, scope, args):
    if len(args) != 1:
        raise CompileError("distinct(flow{kernel}) takes one argument")
    a = args[0]
    if isinstance(a, N.Selection) and a.base is not None:
        base = cc.eval(ctx, scope, a.base)
        kernel = N.Selection(None, a.items)
        return cc.make_quotient(ctx, scope, base, kernel)
    v = cc.eval(ctx, scope, a)
    if isinstance(v, FlowV) and v.flow.output:
        raise CompileError("distinct() expects flow{kernel}")
    raise CompileError("distinct() expects flow{kernel}")


def _fn_json_get(cc, ctx, scope, args):
    cols = _args(cc, ctx, scope, args, 2, 2, "json_get")
    key = args[1]
    if isinstance(key, N.Literal):
        return Scalar(F.get_json_object(cols[0], f"$.{key.value}"), "json_get")
    if isinstance(key, N.Identifier):
        return Scalar(F.get_json_object(cols[0], f"$.{key.name}"), "json_get")
    raise CompileError("json_get(col, key) needs a literal key")


def _fn_date_trunc(cc, ctx, scope, args):
    if len(args) != 2 or not isinstance(args[0], (N.Literal, N.Identifier)):
        raise CompileError("date_trunc(unit, expr) needs a literal unit")
    unit = args[0].value if isinstance(args[0], N.Literal) else args[0].name
    (x,) = _args(cc, ctx, scope, args[1:], 1, name="date_trunc")
    return Scalar(F.date_trunc(str(unit), x), "date_trunc")


def _fn_regexp_extract(cc, ctx, scope, args):
    if len(args) not in (2, 3) or not isinstance(args[1], N.Literal):
        raise CompileError("regexp_extract(s, pattern[, group]) needs a literal pattern")
    (s,) = _args(cc, ctx, scope, args[:1], 1, name="regexp_extract")
    group = int(args[2].value) if len(args) == 3 else 1
    return Scalar(F.regexp_extract(s, str(args[1].value), group), "regexp_extract")


def _fn_round(cc, ctx, scope, args):
    cols = _args(cc, ctx, scope, args, 1, 2, "round")
    if len(cols) == 1:
        return Scalar(F.round(cols[0]), "round")
    if not isinstance(args[1], N.Literal):
        raise CompileError("round(x, n) needs a literal n")
    return Scalar(F.round(cols[0], int(args[1].value)), "round")


def _fn_trunc(cc, ctx, scope, args):
    cols = _args(cc, ctx, scope, args, 1, 2, "trunc")
    x = cols[0]
    t = dtype(scope, x)
    if is_datelike(t):
        return Scalar(F.date_trunc("day" if len(args) == 1 else str(args[1].value), x), "trunc")
    if len(cols) == 1:
        return Scalar(_num_trunc(x, 0), "trunc")
    if not isinstance(args[1], N.Literal):
        raise CompileError("trunc(x, n) needs a literal n")
    return Scalar(_num_trunc(x, int(args[1].value)), "trunc")


def _num_trunc(x: Column, n: int) -> Column:
    factor = 10.0**n
    return F.floor(F.abs(x) * factor) / factor * F.when(x < 0, -1).otherwise(1)


def _textstat(fn_name: str, name: str):
    """Language binding for a per-row kernel from operators/textstats
    (imported lazily — the operators package must not be a hard
    dependency of the language core)."""

    def handler(cc, ctx, scope, args):
        from .operators import textstats

        cols = _args(cc, ctx, scope, args, 1, 1, name)
        return Scalar(getattr(textstats, fn_name)(cols[0]), name)

    return handler


SCALARS = {
    # logic & null (reference doc/ref/functions.rst)
    "boolean": _fn_boolean,
    "is_null": _simple(lambda x: x.isNull(), 1, name="is_null"),
    "if_null": _simple(F.coalesce, 2, 9, name="if_null"),
    "coalesce": _simple(F.coalesce, 1, 99, name="coalesce"),
    "null_if": _simple(lambda x, y: F.when(~x.eqNullSafe(y), x), 2, name="null_if"),
    "if": _fn_if,
    "switch": _fn_switch,
    # casts
    "text": _fn_text,
    "string": _fn_text,
    "integer": _simple(lambda x: x.cast("long"), 1, name="integer"),
    "float": _simple(lambda x: x.cast("double"), 1, name="float"),
    "number": _simple(lambda x: x.cast("double"), 1, name="number"),
    "decimal": _simple(lambda x: x.cast("decimal(38,9)"), 1, name="decimal"),
    "date": _fn_date,
    "datetime": _fn_datetime,
    "time": _simple(lambda x: F.date_format(x, "HH:mm:ss"), 1, name="time"),
    # text
    "length": _simple(F.length, 1, name="length"),
    "upper": _simple(F.upper, 1, name="upper"),
    "lower": _simple(F.lower, 1, name="lower"),
    "trim": _simple(F.trim, 1, name="trim"),
    "ltrim": _simple(F.ltrim, 1, name="ltrim"),
    "rtrim": _simple(F.rtrim, 1, name="rtrim"),
    "replace": _simple(F.replace, 3, name="replace"),
    "contains": _simple(lambda s, sub: F.lower(s).contains(F.lower(sub)), 2, name="contains"),
    "starts_with": _simple(lambda s, p: s.startswith(p), 2, name="starts_with"),
    "ends_with": _simple(lambda s, p: s.endswith(p), 2, name="ends_with"),
    "matches": _simple(F.regexp_like, 2, name="matches"),
    "regexp_extract": _fn_regexp_extract,
    "head": _fn_head,
    "tail": _fn_tail,
    "slice": _fn_slice,
    "at": _fn_at,
    "concat": _simple(lambda *cs: F.concat(*[c.cast("string") for c in cs]), 2, 99, name="concat"),
    # date/time
    "today": _simple(lambda: F.current_date(), 0, name="today"),
    "now": _simple(lambda: F.localtimestamp(), 0, name="now"),
    "year": _simple(F.year, 1, name="year"),
    "month": _simple(F.month, 1, name="month"),
    "day": _simple(F.day, 1, name="day"),
    "hour": _simple(F.hour, 1, name="hour"),
    "minute": _simple(F.minute, 1, name="minute"),
    "second": _simple(F.second, 1, name="second"),
    "date_trunc": _fn_date_trunc,
    # math (beyond-reference, Spark-native)
    "round": _fn_round,
    "trunc": _fn_trunc,
    "abs": _simple(F.abs, 1, name="abs"),
    "sqrt": _simple(F.sqrt, 1, name="sqrt"),
    "exp": _simple(F.exp, 1, name="exp"),
    "ln": _simple(F.log, 1, name="ln"),
    "log10": _simple(F.log10, 1, name="log10"),
    "pow": _simple(F.pow, 2, name="pow"),
    # mod(x, 0) -> NULL, matching `/`'s by-zero rule (semantics.md S11)
    "mod": _simple(F.try_mod, 2, name="mod"),
    "floor": _simple(F.floor, 1, name="floor"),
    "ceil": _simple(F.ceil, 1, name="ceil"),
    "sign": _simple(F.signum, 1, name="sign"),
    # json (events.props)
    "json_get": _fn_json_get,
    # array functions (beyond-reference — SURVEY §3.3 gap list; the
    # embeddings.embedding column is array<float>)
    "size": _simple(F.size, 1, name="size"),
    "element": _simple(lambda a, i: F.element_at(a, i), 2, name="element"),
    "array_sum": _simple(
        lambda a: F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double")),
        1,
        name="array_sum",
    ),
    "array_contains": _simple(F.array_contains, 2, name="array_contains"),
    # text-pipeline scalars (beyond-reference): the training-data
    # operators' per-row kernels exposed to the query language, so
    # `/documents{doc_id, quality(text)}?lang_id(text)='en'` works
    # without leaving HTSQL (operators/textstats.py owns the exprs)
    "quality": _textstat("quality_score", "quality"),
    "lang_id": _textstat("lang_id", "lang_id"),
    "fingerprint": _textstat("fingerprint", "fingerprint"),
    "token_count": _textstat("token_count", "token_count"),
    "word_count": _textstat("word_count", "word_count"),
    # misc
    "id": _fn_id,
    "as": _fn_as,
    "given": _fn_given,
    "fork": _fn_fork,
    "distinct": _fn_distinct,
}
