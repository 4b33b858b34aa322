"""Intermediate representation: flows and values.

The reference models a query as a tree of *spaces* (row sets with
ordering and correlation; reference: src/htsql/core/tr/space.py::
RootSpace/FiberSpace/QuotientSpace/ComplementSpace/FilteredSpace/
OrderedSpace/ClippedSpace) compiled into relational *terms*.  Here the
row set IS a live DataFrame under construction:

* ``Flow`` — one row set.  Its DataFrame carries every table instance
  joined so far; columns are disambiguated as ``{alias}__{column}`` so
  repeated traversals of the same table never collide.  The flow also
  carries the *symbolic* order contract (SURVEY.md §7 hard part #1):
  order keys are tracked as names and only materialized into a sort at
  observable boundaries (limit, nested-segment collect, final output)
  — never as a mid-pipeline global sort.
* ``Scalar`` — a column expression, singular in the current scope.
* ``ScopeRef`` — a singular entity scope inside a flow (the result of
  traversing a many-to-one link); same row set, different lookup base.
* ``FlowV`` — a plural (or located-singular) sub-flow plus its
  correlation keys against the outer flow.  Aggregates consume these
  by grouping the sub-flow on the correlation keys and left-joining
  back (the grouped-join strategy — the Spark-idiomatic replacement
  for the reference's correlated units, reference:
  src/htsql/core/tr/space.py::AggregateUnit).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import TYPE_CHECKING, Optional

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import Column, DataFrame

    from .catalog import TableDef


class CompileError(ValueError):
    """Bind/compile-time user error (unknown name, plural-in-singular,
    …); mirrors the reference's bind errors."""


def quote(name: str) -> str:
    """A column name as a SQL identifier: backtick-quoted, inner
    backticks doubled, so '2.5', 'a.b' or 'x`y' stay one name."""
    return "`" + name.replace("`", "``") + "`"


def project(df: "DataFrame", names, cols=None) -> "DataFrame":
    """Project ``df`` onto ``cols`` renamed to ``names`` in one py4j
    call.  Without ``cols`` every column is renamed in place
    (``toDF``, which renames by attribute, not by name); with them,
    one ``selectExpr`` keeps just those columns, in that order (a
    column kept under its own name is not aliased).  Catalyst resolves
    both to the plan of ``select(F.col(c).alias(n), …)``, which costs
    at least two round-trips per column."""
    if cols is None:
        return df.toDF(*names)
    return df.selectExpr(
        *(
            quote(c) if c == n else f"{quote(c)} AS {quote(n)}"
            for n, c in zip(names, cols)
        )
    )


class Flow:
    """A row set under construction."""

    def __init__(self, engine, df: "DataFrame", alias: str, table: Optional["TableDef"]):
        self.engine = engine
        self.df = df
        self.alias = alias  # scope table instance alias ('' for home/quotient)
        self.table = table
        self.order: list[tuple[str, bool]] = []  # (df column name, ascending)
        self.explicit_order = False
        self.sjoins: dict[tuple[str, str], str] = {}  # (alias, link) -> joined alias
        self.output: list[tuple[str, str]] | None = None  # (out name, df column name)
        # quotient scope extras (reference: space.py::QuotientSpace)
        self.kernel: list[tuple[str, str]] | None = None  # (name, df col in THIS df)
        self.base_flow: "Flow | None" = None
        self.base_kernel_cols: list[str] = []
        self.is_home = False
        # structural memo of lowered pure-chain aggregates:
        # (aggname, fkey, vpath, extra-repr) -> Scalar over a column
        # already joined into df (compile.batch_aggregates)
        self.agg_memo: dict[tuple, "Scalar"] = {}
        # operator-appended attributes (the gopher()/entropy() flow
        # methods): logical name -> df column name; resolved after
        # physical columns, links AND selection-output names so they
        # can never shadow schema or a user alias
        self.extra: dict[str, str] = {}
        # memo of define()d names already evaluated to a Scalar on THIS
        # flow: (id(bound AST), scope alias, binding fingerprint) ->
        # Scalar.  An aggregate-valued define (rev := sum(...))
        # referenced from selection + sieve + fork() then lowers its
        # grouped join once instead of re-scanning the child table per
        # reference (compile.resolve_name)
        self.name_memo: dict[tuple, "Scalar"] = {}

    def col(self, name: str) -> "Column":
        from pyspark.sql import functions as F

        return F.col(name)

    def scope_col(self, column: str, alias: str | None = None) -> str:
        return f"{alias or self.alias}__{column}"

    def copy(self) -> "Flow":
        f = Flow(self.engine, self.df, self.alias, self.table)
        f.order = list(self.order)
        f.explicit_order = self.explicit_order
        f.sjoins = dict(self.sjoins)
        f.output = list(self.output) if self.output is not None else None
        f.kernel = list(self.kernel) if self.kernel is not None else None
        f.base_flow = self.base_flow
        f.base_kernel_cols = list(self.base_kernel_cols)
        f.is_home = self.is_home
        # entries valid at copy time stay valid for both flows (flows
        # only add columns / filter rows), but post-copy lowerings must
        # not leak across — fresh dict, shared Scalars
        f.agg_memo = dict(self.agg_memo)
        f.name_memo = dict(self.name_memo)
        f.extra = dict(self.extra)
        return f


@dataclass
class Scalar:
    col: "Column"
    hint: str = "?"


@dataclass
class ScopeRef:
    flow: Flow
    alias: str
    table: "TableDef"
    hint: str = "?"


@dataclass
class FlowV:
    flow: Flow
    corr_outer: list[str] = field(default_factory=list)  # cols in OUTER flow df
    corr_inner: list[str] = field(default_factory=list)  # cols in sub-flow df
    singular: bool = False  # locator applied → at most one row per key
    null_safe: bool = False  # correlate with eqNullSafe (quotient kernels)
    value: Optional["Column"] = None  # mapped expression over the sub-flow
    hint: str = "?"
