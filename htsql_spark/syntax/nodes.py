"""AST node types (reference: src/htsql/core/syn/syntax.py::Syntax
subclasses — SegmentSyntax, FilterSyntax, ApplySyntax, ComposeSyntax,
LocateSyntax …).  Plain dataclasses; the compiler pattern-matches on
type.
"""

from __future__ import annotations

from dataclasses import dataclass


class Node:
    pass


@dataclass
class Literal(Node):
    value: object  # int | float | Decimal | str | bool | None
    domain: str  # 'integer' | 'float' | 'decimal' | 'text' | 'untyped'


@dataclass
class Identifier(Node):
    name: str


@dataclass
class Wildcard(Node):
    index: int | None = None  # *N positional


@dataclass
class Complement(Node):
    """`^` used as an atom inside a quotient scope."""


@dataclass
class Reference(Node):
    """`$name`."""

    name: str


@dataclass
class Detach(Node):
    """`@expr` — evaluate from the home scope (reference:
    src/htsql/core/tr/binding.py::HomeBinding)."""

    op: Node


@dataclass
class Segment(Node):
    """`/expr` — a (possibly nested) flow segment."""

    op: Node | None


@dataclass
class Compose(Node):
    """`base . op` — navigation / scoped evaluation."""

    base: Node
    op: Node


@dataclass
class Apply(Node):
    """Function application `name(args…)`; also carries operators
    rewritten to function form by the parser."""

    name: str
    args: list[Node]


@dataclass
class Operator(Node):
    """Binary operator `lhs <op> rhs`."""

    op: str
    lhs: Node
    rhs: Node


@dataclass
class Unary(Node):
    op: str  # '-' '+' '!'
    operand: Node


@dataclass
class Sieve(Node):
    """`flow ? predicate`."""

    base: Node
    predicate: Node


@dataclass
class Quotient(Node):
    """`flow ^ kernel` (projection; reference:
    src/htsql/core/tr/binding.py::QuotientBinding)."""

    base: Node
    kernel: Node


@dataclass
class Selection(Node):
    """`base {item, …}`; base may be None (`{a, b}` bare record)."""

    base: Node | None
    items: list[Node]


@dataclass
class Assignment(Node):
    """`name := expr` (inside selections / define())."""

    name: str
    expr: Node
    is_reference: bool = False  # `$name := expr`


@dataclass
class Direction(Node):
    """Sort decorator `expr +` / `expr -`."""

    expr: Node
    ascending: bool


@dataclass
class Locate(Node):
    """`base [identity]` — locate row(s) by identity literal
    (reference: src/htsql/core/tr/binding.py::LocateBinding,
    src/htsql/core/domain.py::IdentityDomain)."""

    base: Node
    identity: list[object]
