"""Compiler: AST → DataFrame.

Collapses the reference's bind/encode/compile stages (reference:
src/htsql/core/tr/bind.py::bind, src/htsql/core/tr/encode.py::encode,
src/htsql/core/tr/compile.py::compile) into a single evaluation pass
that resolves names against the declared catalog and immediately
builds the DataFrame plan.  Catalyst then owns every optimization the
reference performs on its SQL output (filter merging, column pruning,
subquery collapse — SURVEY.md §5), so no separate rewrite stage
exists here.

Key lowering strategies (all declarative — Catalyst/AQE pick the
physical join/agg algorithms):

* singular link     → memoized LEFT JOIN, broadcast-hinted for
                      fixed-size dims (region/nation)
* plural link       → fresh sub-flow correlated on the link columns
* aggregate         → sub-flow ``groupBy(corr).agg`` + LEFT JOIN back
                      (grouped join, never a correlated subquery)
* uncorrelated agg  → 1-row ``agg`` + broadcast cross join (fork()/@)
* quotient ``^``    → ``select(kernel).distinct()``; complement aggs
                      group the base flow by the kernel (null-safe)
* clipped flow      → per-parent ``row_number`` window / global
                      ``orderBy().limit()`` (TakeOrderedAndProject)
* nested segment    → ``collect_list(struct)`` + ``array_sort`` with
                      comparator + LEFT JOIN back
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import functions as fnlib
from .ir import CompileError, Flow, FlowV, Scalar, ScopeRef, project, quote
from .syntax import nodes as N


def hint_of(node: N.Node) -> str:
    """Derive an output header from syntax (reference:
    src/htsql/core/tr/decorate.py::decorate)."""
    if isinstance(node, N.Identifier):
        return node.name
    if isinstance(node, N.Compose):
        return hint_of(node.op)
    if isinstance(node, N.Apply):
        return node.name
    if isinstance(node, N.Literal):
        return str(node.value)
    if isinstance(node, (N.Direction,)):
        return hint_of(node.expr)
    if isinstance(node, N.Wildcard):
        return "*"
    if isinstance(node, N.Complement):
        return "^"
    if isinstance(node, N.Segment) and node.op is not None:
        return hint_of(node.op)
    if isinstance(node, N.Sieve):
        return hint_of(node.base)
    if isinstance(node, N.Quotient):
        return hint_of(node.kernel)
    if isinstance(node, N.Reference):
        return node.name
    return "expr"


class NamespaceRef:
    """A namespace named at home scope (reference: SchemaEntity) —
    only valid as the left side of ``ns.table`` composition."""

    def __init__(self, name: str):
        self.name = name
        self.hint = name


class RefValue:
    """A $reference evaluated EAGERLY in its definition scope
    (reference: src/htsql/core/tr/lookup.py::lookup_reference —
    references denote the *value at the definition site*, never a
    re-binding in the scope where they are used).  The value is
    materialized as a column on the defining flow; cross-flow uses
    inject it into the sub-flow (see Compiler._inject_refs)."""

    __slots__ = ("colname", "flow", "hint")

    def __init__(self, colname: str, flow, hint: str):
        self.colname = colname
        self.flow = flow
        self.hint = hint


class Ctx:
    """Lexical environment: define()d names and $references
    (reference: src/htsql/core/tr/lookup.py::lookup)."""

    def __init__(self, names=None, refs=None, prepared=None):
        self.names: dict[str, N.Node] = names or {}
        # $name → RefValue (eager) or raw AST (legacy lazy fallback)
        self.refs: dict[str, object] = refs or {}
        # pre-computed (batched) aggregate results, keyed by id(ast node)
        self.prepared: dict[int, Scalar] = prepared if prepared is not None else {}

    def child(self) -> "Ctx":
        return Ctx(dict(self.names), dict(self.refs), self.prepared)


class Compiler:
    def __init__(self, engine):
        self.engine = engine

    # ------------------------------------------------------------------
    # entry
    # ------------------------------------------------------------------
    def compile_query(self, node: N.Node) -> DataFrame:
        ctx = Ctx()
        home = self.engine.home_flow()
        scope = ScopeRef(home, "", None)
        if isinstance(node, N.Segment):
            if node.op is None:
                raise CompileError("empty segment")
            node = node.op
        val = self.eval(ctx, scope, node)
        return self.finalize(val, scope)

    def finalize(self, val, scope: ScopeRef) -> DataFrame:
        if isinstance(val, Scalar):
            return scope.flow.df.select(val.col.alias(val.hint))
        if isinstance(val, ScopeRef):
            val = FlowV(val.flow, hint=val.hint)
            val.flow.alias, val.flow.table = scope.alias, scope.table
        if isinstance(val, FlowV):
            flow = val.flow
            if val.value is not None and flow.output is None:
                tmp = self.engine.fresh("__v")
                flow.df = flow.df.withColumn(tmp, val.value)
                flow.output = [(val.hint, tmp)]
            out = flow.output or self.default_output(flow)
            df = flow.df
            if flow.order and (
                flow.explicit_order or getattr(self.engine, "ordered", False)
            ):
                df = df.orderBy(*order_cols(flow.order))
            return project(df, [n for n, _ in out], [c for _, c in out])
        raise CompileError(f"cannot produce output from {type(val).__name__}")

    def default_output(self, flow: Flow) -> list[tuple[str, str]]:
        if flow.kernel is not None:
            return [(n, c) for n, c in flow.kernel]
        if flow.table is not None:
            return [(c, flow.scope_col(c)) for c in flow.table.columns]
        raise CompileError("no output columns in scope")

    # ------------------------------------------------------------------
    # evaluation
    # ------------------------------------------------------------------
    def eval(self, ctx: Ctx, scope: ScopeRef, node: N.Node):
        if ctx.prepared and id(node) in ctx.prepared:
            return ctx.prepared[id(node)]
        if isinstance(node, N.Literal):
            return Scalar(literal_col(node), hint_of(node))
        if isinstance(node, N.Identifier):
            return self.resolve_name(ctx, scope, node.name)
        if isinstance(node, N.Reference):
            if node.name not in ctx.refs:
                raise CompileError(f"unknown reference ${node.name}")
            rv = ctx.refs[node.name]
            if isinstance(rv, RefValue):
                if rv.colname not in scope.flow.df.columns:
                    raise CompileError(
                        f"reference ${node.name} is defined on another flow"
                        " and was not injected here (use it inside the"
                        " sub-flow's sieve/selection)"
                    )
                return Scalar(F.col(rv.colname), "$" + node.name)
            return self.eval(ctx, scope, rv)
        if isinstance(node, N.Compose):
            base = self.eval(ctx, scope, node.base)
            return self.eval_member(ctx, scope, base, node.op)
        if isinstance(node, N.Apply):
            return self.apply_function(ctx, scope, node.name, node.args)
        if isinstance(node, N.Operator):
            return self.eval_operator(ctx, scope, node)
        if isinstance(node, N.Unary):
            return self.eval_unary(ctx, scope, node)
        if isinstance(node, N.Sieve):
            base = self.eval(ctx, scope, node.base)
            return self.apply_sieve(ctx, scope, base, node.predicate)
        if isinstance(node, N.Quotient):
            base = self.eval(ctx, scope, node.base)
            return self.make_quotient(ctx, scope, base, node.kernel)
        if isinstance(node, N.Selection):
            if node.base is None:
                if scope.flow.is_home:
                    # home selection /{...}: one row of scalars —
                    # aggregates over home-scope flows become global
                    # (broadcast) aggregates (TPC-H Q6 shape)
                    v = FlowV(scope.flow, hint="home")
                    return self.apply_selection(ctx, scope, v, node.items)
                raise CompileError("bare record {…} is only allowed as a kernel or in comparisons")
            base = self.eval(ctx, scope, node.base)
            return self.apply_selection(ctx, scope, base, node.items)
        if isinstance(node, N.Locate):
            base = self.eval(ctx, scope, node.base)
            return self.apply_locate(ctx, scope, base, node.identity)
        if isinstance(node, N.Detach):
            home = self.engine.home_flow()
            hscope = ScopeRef(home, "", None)
            # child ctx: define()s inside @(...) stay detached too
            v = self.eval(ctx.child(), hscope, node.op)
            if isinstance(v, Scalar):
                return v  # literal-ish: usable anywhere
            if isinstance(v, FlowV):
                v.hint = "@" + v.hint
                return v
            raise CompileError("@ must detach a flow or scalar")
        if isinstance(node, N.Segment):
            if node.op is None:
                raise CompileError("empty nested segment")
            v = self.eval(ctx, scope, node.op)
            if isinstance(v, ScopeRef):
                raise CompileError("nested segment must be plural")
            return v
        if isinstance(node, N.Complement):
            return self.resolve_complement(scope)
        if isinstance(node, N.Wildcard):
            return self.resolve_wildcard(ctx, scope, node)
        if isinstance(node, N.Direction):
            v = self.eval(ctx, scope, node.expr)
            return v  # direction handled by selection/sort; bare use = no-op
        if isinstance(node, N.Assignment):
            raise CompileError("assignment only allowed in selections / define() / given()")
        raise CompileError(f"cannot evaluate node {type(node).__name__}")

    # -- name resolution ----------------------------------------------
    def resolve_name(self, ctx: Ctx, scope: ScopeRef, name: str):
        flow, alias, table = scope.flow, scope.alias, scope.table
        # quotient scope: kernel attributes shadow defines — a define
        # from the pre-quotient scope (e.g. cnt := count(orders)) is
        # re-bindable only through '^', while the kernel exports the
        # projected value under the same name (reference:
        # space.py::KernelUnit takes precedence after projection)
        if table is None and flow.kernel is not None:
            for kname, kcol in flow.kernel:
                if kname == name:
                    return Scalar(F.col(kcol), name)
        if name in ctx.names:
            node = ctx.names[name]
            # per-flow memo: a define()d name evaluated to a Scalar on
            # this flow+alias under the same bindings resolves to the
            # SAME column — an aggregate-valued define (rev :=
            # sum(...)) lowers its grouped join once across selection /
            # sieve / fork() references instead of re-deriving the
            # child scan per reference (flows only add columns /
            # filter rows, so the joined column stays valid)
            key = (id(node), alias, _binding_fingerprint(ctx, node))
            hit = flow.name_memo.get(key)
            if hit is not None:
                return hit
            res = self.eval(ctx, scope, node)
            if isinstance(res, Scalar):
                flow.name_memo[key] = res
            return res
        if table is None and flow.kernel is not None:
            if flow.output:  # selection names stay in scope (e.g. sort(n-))
                for oname, ocol in flow.output:
                    if oname == name:
                        return Scalar(F.col(ocol), name)
        # home scope: table names (bare or namespace-qualified;
        # reference: SchemaEntity namespaces — a bare name resolves
        # when unique across namespaces, ambiguity is a bind error)
        if table is None and (flow.is_home or flow.kernel is None):
            key = self.engine.catalog.resolve(name)
            if key is not None:
                sub = self.engine.scan_flow(key)
                return FlowV(sub, [], [], hint=name)
            if name in self.engine.catalog.namespaces():
                return NamespaceRef(name)
            raise CompileError(f"unknown name '{name}'")
        if table is None:
            # operator-appended attributes work in projection scopes
            # too (zscore()/profile() are legal on reshaped flows);
            # kernel and selection names above still win
            if name in flow.extra:
                return Scalar(F.col(flow.extra[name]), name)
            raise CompileError(f"unknown attribute '{name}' in projection scope")
        # physical column
        if name in table.columns:
            return Scalar(F.col(flow.scope_col(name, alias)), name)
        # prefix-stripped alias (nation.name → n_name)
        phys = table.alias_of(name)
        if phys is not None:
            return Scalar(F.col(flow.scope_col(phys, alias)), name)
        # links
        link = table.links.get(name)
        if link is not None:
            if link.is_singular:
                talias = self.ensure_singular_join(flow, alias, link)
                return ScopeRef(flow, talias, self.engine.catalog[link.target], name)
            return self.spawn_plural(flow, alias, link)
        # selection names stay in scope (e.g. sort(n-)) — resolved
        # BEFORE operator-appended attributes so a user alias
        # ({entropy := …}) is never silently shadowed by a later
        # .entropy()'s appended column (the 'selection names stay in
        # scope' rule wins over flow-method output)
        if flow.output:
            for oname, ocol in flow.output:
                if oname == name:
                    return Scalar(F.col(ocol), name)
        # operator-appended attributes (gopher()/entropy()/classify()
        # flow methods) — after physical columns, links and selection
        # names, so user-visible names always win
        if name in flow.extra:
            return Scalar(F.col(flow.extra[name]), name)
        raise CompileError(f"unknown attribute '{name}' in scope '{table.name}'")

    def resolve_complement(self, scope: ScopeRef) -> FlowV:
        flow = scope.flow
        if flow.kernel is None or flow.base_flow is None:
            raise CompileError("'^' is only defined inside a projection scope")
        base = flow.base_flow.copy()
        # correlated quotient: complement groups are per (corr key,
        # kernel) — the carry columns exist under the same name in
        # both the quotient df and its base df
        carry = getattr(flow, "corr_carry", [])
        return FlowV(
            base,
            corr_outer=[c for _, c in flow.kernel] + carry,
            corr_inner=list(flow.base_kernel_cols) + carry,
            null_safe=True,
            hint="^",
        )

    def resolve_wildcard(self, ctx: Ctx, scope: ScopeRef, node: N.Wildcard):
        flow, alias, table = scope.flow, scope.alias, scope.table
        if table is None and flow.kernel is not None:
            items = [Scalar(F.col(c), n) for n, c in flow.kernel]
        elif table is not None:
            items = [Scalar(F.col(flow.scope_col(c, alias)), c) for c in table.columns]
        else:
            raise CompileError("'*' has no columns in this scope")
        if node.index is not None:
            if not (1 <= node.index <= len(items)):
                raise CompileError(f"*{node.index} out of range")
            return items[node.index - 1]
        return items  # list → expanded by selection

    # -- references ----------------------------------------------------
    def bind_reference(self, ctx: Ctx, scope: ScopeRef, name: str, expr: N.Node):
        """Define ``$name`` — evaluated EAGERLY in the definition scope
        and pinned as a column on the defining flow, so later uses
        (even inside correlated sub-flows) see the value at the
        definition site (reference:
        src/htsql/core/tr/lookup.py::lookup_reference).  Scope-free
        expressions (pure literals) stay lazy — usable anywhere."""
        if _is_scope_free(expr):
            ctx.refs[name] = expr
            return
        val = self.scalar(ctx, scope, expr)
        rc = self.engine.fresh("__ref")
        scope.flow.df = scope.flow.df.withColumn(rc, val.col)
        ctx.refs[name] = RefValue(rc, scope.flow, name)

    def _inject_refs(self, ctx: Ctx, v: FlowV, node: N.Node) -> None:
        """Make cross-flow $references usable inside a correlated
        sub-flow: join the defining flow's distinct (correlation keys,
        ref value) pairs into the sub-flow and extend the correlation
        with the ref columns — each (key, value) pair then gets its own
        aggregate/exists group, which is exactly the reference's
        correlated-subquery semantics (TPC-H Q21 shape: 'other
        lineitems of the same order with a DIFFERENT supplier')."""
        missing: list[RefValue] = []
        for nm in _find_references(node):
            rv = ctx.refs.get(nm)
            if isinstance(rv, RefValue) and rv.colname not in v.flow.df.columns:
                missing.append(rv)
        if not missing:
            return
        outer_df = missing[0].flow.df
        for rv in missing:
            if rv.flow is not missing[0].flow:
                raise CompileError(
                    "cross-flow $references from different defining flows"
                    " cannot be mixed in one sub-flow"
                )
        if not v.corr_outer:
            raise CompileError(
                f"reference ${missing[0].hint} crosses into an uncorrelated flow"
            )
        for c in v.corr_outer:
            if c not in outer_df.columns:
                raise CompileError(
                    f"reference ${missing[0].hint} is not defined on the"
                    " flow this sub-flow correlates with"
                )
        slice_df = outer_df.select(
            *[F.col(c) for c in v.corr_outer],
            *[F.col(rv.colname) for rv in missing],
        ).distinct()
        cond = None
        for ci, co in zip(v.corr_inner, v.corr_outer):
            eq = F.col(ci) == F.col(co)
            cond = eq if cond is None else (cond & eq)
        v.flow.df = v.flow.df.join(slice_df, cond, "inner")
        v.corr_outer = list(v.corr_outer) + [rv.colname for rv in missing]
        v.corr_inner = list(v.corr_inner) + [rv.colname for rv in missing]

    # -- joins ---------------------------------------------------------
    def ensure_singular_join(self, flow: Flow, alias: str, link) -> str:
        key = (alias, link.name)
        if key in flow.sjoins:
            return flow.sjoins[key]
        talias = self.engine.fresh("t")
        tdf = self.engine.scan_df(link.target, talias)
        if self.engine.catalog[link.target].name in self.engine.broadcast_tables:
            tdf = F.broadcast(tdf)
        cond = None
        for oc, tc in zip(link.origin_cols, link.target_cols):
            c = F.col(f"{alias}__{oc}") == F.col(f"{talias}__{tc}")
            cond = c if cond is None else (cond & c)
        flow.df = flow.df.join(tdf, cond, "left")
        flow.sjoins[key] = talias
        return talias

    def spawn_plural(self, flow: Flow, alias: str, link) -> FlowV:
        sub = self.engine.scan_flow(link.target)
        corr_outer = [f"{alias}__{oc}" for oc in link.origin_cols]
        corr_inner = [f"{sub.alias}__{tc}" for tc in link.target_cols]
        return FlowV(sub, corr_outer, corr_inner, hint=link.name)

    def extend_plural(self, v: FlowV, link) -> FlowV:
        """Plural navigation *inside* an existing sub-flow: inner join,
        scope moves to the child (reference: chained ChainArc)."""
        flow = v.flow
        talias = self.engine.fresh("t")
        tdf = self.engine.scan_df(link.target, talias)
        cond = None
        for oc, tc in zip(link.origin_cols, link.target_cols):
            c = F.col(f"{flow.alias}__{oc}") == F.col(f"{talias}__{tc}")
            cond = c if cond is None else (cond & c)
        flow.df = flow.df.join(tdf, cond, "inner")
        target = self.engine.catalog[link.target]
        flow.alias, flow.table = talias, target
        flow.sjoins = {}
        flow.order = flow.order + [(f"{talias}__{c}", True) for c in target.pk]
        v.value = None
        v.singular = False
        return v

    # -- member / composition -----------------------------------------
    def eval_member(self, ctx: Ctx, outer: ScopeRef, base, op: N.Node):
        if isinstance(base, Scalar):
            raise CompileError(f"cannot compose into a scalar ({base.hint!r})")
        if isinstance(base, NamespaceRef):
            if not isinstance(op, N.Identifier):
                raise CompileError(
                    f"namespace '{base.name}' must be followed by a table name"
                )
            key = self.engine.catalog.in_namespace(base.name, op.name)
            if key is None:
                raise CompileError(
                    f"no table '{op.name}' in namespace '{base.name}'"
                )
            sub = self.engine.scan_flow(key)
            return FlowV(sub, [], [], hint=f"{base.name}.{op.name}")
        if isinstance(base, ScopeRef):
            v = self.eval(ctx, base, op)
            if isinstance(v, list):  # wildcard expansion only valid in selections
                raise CompileError("'*' must appear inside a selection")
            return v
        if isinstance(base, FlowV):
            return self.eval_flow_member(ctx, outer, base, op)
        raise CompileError("invalid composition")

    def eval_flow_member(self, ctx: Ctx, outer: ScopeRef, v: FlowV, op: N.Node):
        flow = v.flow
        scope = ScopeRef(flow, flow.alias, flow.table)
        self._inject_refs(ctx, v, op)
        if isinstance(op, N.Identifier):
            # plural links extend the sub-flow in place; anything else
            # evaluates in the sub-flow scope
            if (
                op.name not in ctx.names
                and flow.table is not None
                and op.name in flow.table.links
                and flow.table.links[op.name].is_plural
            ):
                return self.extend_plural(v, flow.table.links[op.name])
            r = self.eval(ctx, scope, op)
            return self.absorb(v, r)
        if isinstance(op, N.Apply):
            if op.name in FLOW_METHODS:
                return FLOW_METHODS[op.name](self, ctx, outer, v, op.args)
            r = self.apply_function(ctx, scope, op.name, op.args)
            return self.absorb(v, r)
        if isinstance(op, N.Wildcard):
            r = self.eval(ctx, scope, op)
            if isinstance(r, list):
                flow.output = None  # full row output
                return v
            return self.absorb(v, r)
        raise CompileError(f"cannot compose {type(op).__name__}")

    def absorb(self, v: FlowV, r) -> FlowV:
        """Fold a member-evaluation result back into the sub-flow value."""
        if isinstance(r, Scalar):
            v.value = r.col
            v.hint = r.hint
            return v
        if isinstance(r, ScopeRef):
            # singular nav: scope moves within the same flow
            v.flow.alias, v.flow.table = r.alias, r.table
            v.value = None
            v.hint = r.hint
            return v
        if isinstance(r, FlowV):
            return r
        raise CompileError("unsupported member result")

    # -- sieve / selection / quotient / locate ------------------------
    def apply_sieve(self, ctx: Ctx, outer: ScopeRef, base, predicate: N.Node):
        if isinstance(base, ScopeRef) and base.table is None and base.flow.is_home:
            raise CompileError("'?' needs a flow")
        if isinstance(base, ScopeRef):
            base = FlowV(base.flow, hint=base.hint)
            base.flow.alias, base.flow.table = base.alias, base.table
        if not isinstance(base, FlowV):
            raise CompileError("'?' applies to a flow")
        flow = base.flow
        scope = ScopeRef(flow, flow.alias, flow.table)
        # cross-flow $references in the predicate join their defining
        # value in before anything evaluates against this sub-flow
        self._inject_refs(ctx, base, predicate)
        # lower pure-chain aggregates in the predicate through the
        # batch/memo path — `{qty := sum(lineitem.l_quantity)}?sum(
        # lineitem.l_quantity) > 300` reuses the selection's grouped
        # join instead of scanning lineitem a second time (Q18 shape)
        self.batch_aggregates(ctx, scope, [predicate])
        pred = self.to_predicate(ctx, scope, predicate)
        flow.df = flow.df.filter(pred)
        return base

    def to_predicate(self, ctx: Ctx, scope: ScopeRef, node: N.Node) -> Column:
        """Evaluate a sieve predicate with implicit boolean coercion
        (text → non-null & non-empty; reference:
        src/htsql/core/tr/coerce.py::coerce)."""
        val = self.scalar(ctx, scope, node)
        return fnlib.to_boolean(self, scope, val.col)

    def apply_selection(self, ctx: Ctx, outer: ScopeRef, base, items: list[N.Node]):
        if isinstance(base, ScopeRef):
            if base.flow.is_home:
                raise CompileError("selection needs a flow or table scope")
            v = FlowV(base.flow, hint=base.hint)
            v.flow.alias, v.flow.table = base.alias, base.table
            base = v
        if not isinstance(base, FlowV):
            raise CompileError("selection applies to a flow")
        flow = base.flow
        scope = ScopeRef(flow, flow.alias, flow.table)
        prepared = self.batch_aggregates(ctx, scope, items)
        out: list[tuple[str, str]] = []
        newcols: dict[str, Column] = {}
        for item in items:
            for name, col, direction in self.eval_item(ctx, scope, item, prepared):
                cname = self.engine.fresh("__s")
                newcols[cname] = col
                out.append((name, cname))
                if direction is not None:
                    flow.order = [(cname, direction)] + [
                        o for o in flow.order if o[0] != cname
                    ]
                    flow.explicit_order = True
        if newcols:
            flow.df = flow.df.withColumns(newcols)
        flow.output = out
        # a one-item selection over a plural flow is also usable as a
        # mapped value: sum(orders{price * (1 - discount)})
        base.value = F.col(out[0][1]) if len(out) == 1 else None
        return base

    def eval_item(self, ctx: Ctx, scope: ScopeRef, item: N.Node, prepared=None):
        """Yield (name, Column, direction) triples for one selection item."""
        prepared = prepared or {}
        direction = None
        if isinstance(item, N.Direction):
            direction = item.ascending
            item = item.expr
        if isinstance(item, N.Assignment):
            if item.is_reference:
                raise CompileError("$ref := … is only allowed in given()")
            if id(item.expr) in prepared:
                yield (item.name, prepared[id(item.expr)].col, direction)
                return
            v = self.eval(ctx, scope, item.expr)
            yield (item.name, self.value_col(ctx, scope, v, item.expr), direction)
            return
        if id(item) in prepared:
            yield (prepared[id(item)].hint, prepared[id(item)].col, direction)
            return
        v = self.eval(ctx, scope, item)
        if isinstance(v, list):  # wildcard expansion
            for s in v:
                yield (s.hint, s.col, None)
            return
        # the evaluated hint carries `:as` titles and function headers;
        # fall back to the syntactic header (reference: decorate stage).
        # A bare identifier keeps ITS name even when it resolves
        # through a define() — selecting `x` yields column x, not the
        # defined expression's header (reference: decorate uses the
        # syntax node's name for identifiers)
        if isinstance(item, N.Identifier):
            name = item.name
        else:
            name = v.hint if getattr(v, "hint", "?") not in ("?", "") else hint_of(item)
        yield (name, self.value_col(ctx, scope, v, item), direction)

    def value_col(self, ctx: Ctx, scope: ScopeRef, v, node: N.Node) -> Column:
        """Turn an evaluation result into a column in the current scope
        — scalars directly; plural flows become nested-list columns
        (reference: src/htsql/core/tr/compile.py::CompileSegment);
        located singular flows become scalar lookups."""
        if isinstance(v, Scalar):
            return v.col
        if isinstance(v, ScopeRef):
            raise CompileError(f"'{v.hint}' is a link, select a column from it")
        if isinstance(v, FlowV):
            if isinstance(node, N.Segment):
                return self.collect_segment(scope, v)
            if v.singular:
                return self.scalarize(scope, v)
            raise CompileError(
                f"plural expression '{v.hint}' in singular context; use a "
                f"nested segment /{v.hint} or an aggregate"
            )
        raise CompileError("cannot select this expression")

    def scalar(self, ctx: Ctx, scope: ScopeRef, node: N.Node) -> Scalar:
        """Evaluate expecting a singular value (reference bind error:
        'plural expression in singular context')."""
        v = self.eval(ctx, scope, node)
        if isinstance(v, Scalar):
            return v
        if isinstance(v, FlowV) and (v.singular or not v.corr_inner):
            if v.singular:
                return Scalar(self.scalarize(scope, v), v.hint)
        if isinstance(v, FlowV):
            raise CompileError(
                f"plural expression '{v.hint}' used in singular context; "
                "wrap it in an aggregate (count/sum/exists/…)"
            )
        if isinstance(v, ScopeRef):
            raise CompileError(f"'{v.hint}' is a link, not a value")
        raise CompileError("expected a scalar expression")

    def make_quotient(self, ctx: Ctx, outer: ScopeRef, base, kernel: N.Node):
        """flow ^ kernel (reference: space.py::QuotientSpace,
        ::KernelUnit)."""
        if isinstance(base, ScopeRef):
            v = FlowV(base.flow, hint=base.hint)
            v.flow.alias, v.flow.table = base.alias, base.table
            base = v
        if not isinstance(base, FlowV):
            raise CompileError("'^' projection applies to a flow")
        flow = base.flow
        scope = ScopeRef(flow, flow.alias, flow.table)
        kitems = kernel.items if isinstance(kernel, N.Selection) and kernel.base is None else [kernel]
        if not kitems:
            raise CompileError("'^' projection needs a non-empty kernel")
        knames: list[str] = []
        kcols: dict[str, Column] = {}
        for item in kitems:
            if isinstance(item, N.Assignment):
                name, col = item.name, self.scalar(ctx, scope, item.expr).col
            else:
                name, col = hint_of(item), self.scalar(ctx, scope, item).col
            cname = self.engine.fresh("__k")
            kcols[cname] = col
            knames.append((name, cname))
        flow.df = flow.df.withColumns(kcols)
        base_copy = flow.copy()
        qalias = self.engine.fresh("q")
        qdf = project(
            flow.df,
            [*base.corr_inner, *(f"{qalias}__{i}" for i in range(len(knames)))],
            [*base.corr_inner, *(c for _, c in knames)],
        ).distinct()
        qflow = Flow(self.engine, qdf, qalias, None)
        qflow.kernel = [(n, f"{qalias}__{i}") for i, (n, _) in enumerate(knames)]
        qflow.base_flow = base_copy
        qflow.base_kernel_cols = [c for _, c in knames]
        # a quotient of a CORRELATED flow stays correlated: distinct
        # kernel values (and complement groups) are per correlation
        # key, not global — the corr columns ride along in qdf under
        # their original names and extend every complement grouping
        # (reference: QuotientSpace keeps its base space's baseline)
        qflow.corr_carry = list(base.corr_inner)
        qflow.order = [(c, True) for _, c in qflow.kernel]
        # marker for quotient fusion: while df is still the bare
        # distinct, a selection of {kernel, aggs-over-^} can replace it
        # with ONE groupBy (no distinct, no join-back)
        qflow.pristine_df = qdf
        return FlowV(
            qflow,
            corr_outer=list(base.corr_outer),
            corr_inner=list(base.corr_inner),
            null_safe=base.null_safe,
            hint=f"{base.hint}^{'…'}",
        )

    def apply_locate(self, ctx: Ctx, outer: ScopeRef, base, identity: list):
        """``table[identity]`` — filter to one row by identity literal.

        Identity columns default to the primary key; a table may
        declare an alternate text unique key (catalog ``identity:``),
        enabling quoted-text locators ``/region['ASIA']`` (reference:
        src/htsql/core/domain.py::IdentityDomain,
        src/htsql/core/tr/fn/bind.py::BindId).  Literal parts are
        untyped (reference: UntypedDomain) and coerced to the column's
        domain — ``/lineitem['1'.3]`` works; text that cannot coerce
        to a numeric identity column is a bind error, not a runtime
        cast failure."""
        if isinstance(base, ScopeRef):
            v = FlowV(base.flow, hint=base.hint)
            v.flow.alias, v.flow.table = base.alias, base.table
            base = v
        if not isinstance(base, FlowV) or base.flow.table is None:
            raise CompileError("locator [...] applies to a table flow")
        flow = base.flow
        idc = flow.table.identity_cols
        if len(identity) != len(idc):
            raise CompileError(
                f"identity [{'.'.join(map(str, identity))}] does not match "
                f"{flow.table.name} identity ({', '.join(idc)})"
            )
        cond = None
        for part, c in zip(identity, idc):
            colname = flow.scope_col(c)
            eq = F.col(colname) == _coerce_identity_part(
                part, flow.df.schema[colname].dataType, flow.table.name, c
            )
            cond = eq if cond is None else (cond & eq)
        flow.df = flow.df.filter(cond)
        base.singular = True
        return base

    # ------------------------------------------------------------------
    # aggregate batching: N aggregates over the same plural chain →
    # ONE groupBy + ONE join (the reference computes each AggregateUnit
    # separately and lets the RDBMS dedupe; on Spark we must not emit
    # N shuffles for `{sum(x), count(x), avg(x)}` — TPC-H Q1 shape)
    # ------------------------------------------------------------------
    def batch_aggregates(self, ctx: Ctx, scope: ScopeRef, items: list[N.Node]) -> dict:
        groups: dict[tuple, list] = {}
        # stage 2: duplicate-unit elimination over a shared non-pure
        # space (reference: tr/rewrite.py unit collation) — aggregates
        # whose args differ only in value path / trailing define()s
        # but share the same flow expression (`sum((li?X).a) /
        # sum((li?X).b)`, TPC-H Q14 shape) evaluate the flow ONCE and
        # share one groupBy+join instead of scanning per aggregate
        groups2: dict[str, list] = {}
        for item in items:
            for node in _find_agg_applications(item):
                chain = _pure_chain(node.args[0])
                if chain is not None and chain[0] not in ctx.names:
                    split = self._split_chain(ctx, scope, chain)
                    if split is not None:
                        fkey, vpath = split
                        groups.setdefault(fkey, []).append(
                            (node, node.name.lower(), vpath, node.args[1:])
                        )
                        continue
                if chain is not None and chain[0] in ctx.names:
                    # chain over a define()d / given() flow name:
                    # substitute the bound expression as the shared
                    # space so `given(li := lineitem?X, {sum(li.a),
                    # count(li)})` evaluates li once
                    head = ctx.names[chain[0]]
                    groups2.setdefault(repr(head), []).append(
                        (node, node.name.lower(), head, [], chain[1:], node.args[1:], None)
                    )
                    continue
                dec = _split_flow_value(node.args[0])
                if dec is not None:
                    fexpr, defines, vpath = dec
                    # sieve-family elimination: aggregates over the
                    # same flow that differ ONLY in a sieve predicate
                    # (`exists(F?P)` with `!exists(F?P&Q)`, TPC-H Q21
                    # shape) share ONE flow evaluation and ONE grouped
                    # join — each member's predicate becomes a
                    # conditional aggregate (max(P), count(when(P,1)),
                    # sum(when(P,v)), …) instead of a separate
                    # filter+groupBy+join over the fact table.
                    # Predicates that themselves contain aggregates
                    # stay on the one-off path.
                    pred = None
                    if isinstance(fexpr, N.Sieve) and not _find_agg_applications(
                        fexpr.predicate
                    ):
                        pred, fexpr = fexpr.predicate, fexpr.base
                    groups2.setdefault(repr(fexpr), []).append(
                        (node, node.name.lower(), fexpr, defines, vpath, node.args[1:], pred)
                    )
        prepared: dict[int, Scalar] = {}
        # structural memo: the same pure-chain aggregate lowered twice
        # on one flow (selection + sieve, e.g. TPC-H Q18's
        # `{qty := sum(lineitem.l_quantity)}?sum(lineitem.l_quantity) > 300`)
        # reuses the first grouped-join column instead of re-scanning
        # and re-shuffling the child table (flows only ever add
        # columns / filter rows, so an earlier joined column stays
        # valid)
        memo = scope.flow.agg_memo
        for fkey, members in groups.items():
            fresh = []
            for m in members:
                node, aggname, vpath, extra = m
                mkey = (aggname, fkey, tuple(vpath), repr(extra))
                hit = memo.get(mkey)
                if hit is not None:
                    prepared[id(node)] = hit
                else:
                    fresh.append(m)
            members = fresh
            if not members:
                continue
            # quotient fusion (see _fuse_quotient): direct-complement
            # aggregates over an untouched quotient replace the
            # distinct+join with one groupBy — worth it even for a
            # single aggregate
            fusable = (
                fkey == ("^",)
                and scope.flow.kernel is not None
                and getattr(scope.flow, "pristine_df", None) is scope.flow.df
                and set(scope.flow.df.columns) == {c for _, c in scope.flow.kernel}
            )
            multi_hop = len(fkey) >= 2 and fkey[0] != "^"
            if multi_hop:
                done = self._try_hierarchical(scope, fkey, members, prepared)
                if done:
                    for node, aggname, vpath, extra in members:
                        if id(node) in prepared:
                            memo[(aggname, fkey, tuple(vpath), repr(extra))] = prepared[id(node)]
                    continue
            if len(members) < 2 and not fusable and members[0][3]:
                continue  # single parameterized aggregate → one-off path
            # navigate the shared plural chain once
            nav: N.Node = N.Complement() if fkey[0] == "^" else N.Identifier(fkey[0])
            for nm in fkey[1:]:
                nav = N.Compose(nav, N.Identifier(nm))
            v = self.eval(ctx, scope, nav)
            if not isinstance(v, FlowV):  # pragma: no cover - guarded by _split_chain
                continue
            sub_scope = ScopeRef(v.flow, v.flow.alias, v.flow.table)
            aggs: list[Column] = []
            lowered: list[tuple] = []  # (member, vname, post)
            for member in members:
                node, aggname, vpath, extra = member
                val = None
                if vpath:
                    vnode: N.Node = N.Identifier(vpath[0])
                    for nm in vpath[1:]:
                        vnode = N.Compose(vnode, N.Identifier(nm))
                    try:
                        val = self.scalar(ctx, sub_scope, vnode).col
                    except CompileError:
                        continue  # defined name too complex → one-off path
                agg, post = fnlib.agg_expr(self, sub_scope, aggname, val, extra)
                vname = self.engine.fresh("__a")
                aggs.append(agg.alias(vname))
                lowered.append((member, vname, post))
            if fusable and aggs:
                self._fuse_quotient(scope.flow, v, aggs)
            else:
                self._join_grouped(scope.flow, v, aggs)
            for (node, aggname, vpath, extra), vname, post in lowered:
                col = F.col(vname)
                if post is not None:
                    col = post(col)
                sc = Scalar(col, f"{aggname}")
                prepared[id(node)] = sc
                memo[(aggname, fkey, tuple(vpath), repr(extra))] = sc
        for key2, members2 in groups2.items():
            fresh2 = []
            for m in members2:
                node, aggname, fexpr, defines, vpath, extra, pred = m
                mkey = (aggname, key2, repr(defines), tuple(vpath), repr(extra), repr(pred))
                hit = memo.get(mkey)
                if hit is not None:
                    prepared[id(node)] = hit
                else:
                    fresh2.append(m)
            members2 = fresh2
            if len(members2) < 2:
                continue  # nothing shared → one-off path
            try:
                v = self.eval(ctx.child(), scope, members2[0][2])
            except CompileError:
                continue
            if not isinstance(v, FlowV) or v.singular:
                continue
            sub_scope = ScopeRef(v.flow, v.flow.alias, v.flow.table)
            aggs = []
            lowered = []
            for member in members2:
                node, aggname, fexpr, defines, vpath, extra, pred = member
                mctx = ctx.child()
                for a in defines:
                    mctx.names[a.name] = a.expr
                val = None
                if vpath:
                    vnode: N.Node = N.Identifier(vpath[0])
                    for nm in vpath[1:]:
                        vnode = N.Compose(vnode, N.Identifier(nm))
                    try:
                        val = self.scalar(mctx, sub_scope, vnode).col
                    except CompileError:
                        continue  # too complex → one-off path
                elif v.value is not None:
                    val = v.value
                if pred is not None:
                    # the member's sieve as a conditional aggregate:
                    # $references join in first (extending the shared
                    # flow's correlation), then rows failing the
                    # predicate null out of the aggregate
                    try:
                        self._inject_refs(mctx, v, pred)
                        sub_scope = ScopeRef(v.flow, v.flow.alias, v.flow.table)
                        predcol = self.to_predicate(mctx, sub_scope, pred)
                    except CompileError:
                        continue  # too complex → one-off path
                    val = predcol if val is None else F.when(predcol, val)
                try:
                    agg, post = fnlib.agg_expr(self, sub_scope, aggname, val, extra)
                except CompileError:
                    continue
                vname = self.engine.fresh("__a")
                aggs.append(agg.alias(vname))
                lowered.append((member, vname, post))
            if not aggs:
                continue
            self._join_grouped(scope.flow, v, aggs)
            for (node, aggname, fexpr, defines, vpath, extra, pred), vname, post in lowered:
                col = F.col(vname)
                if post is not None:
                    col = post(col)
                sc = Scalar(col, f"{aggname}")
                prepared[id(node)] = sc
                memo[(aggname, key2, repr(defines), tuple(vpath), repr(extra), repr(pred))] = sc
        ctx.prepared.update(prepared)
        return prepared

    def _split_chain(self, ctx: Ctx, scope: ScopeRef, chain: list[str]):
        """Split a pure name chain into (plural-link prefix, value
        path) using catalog metadata; None → not batchable."""
        cat = self.engine.catalog
        if chain[0] == "^":
            flow = scope.flow
            if flow.kernel is None or flow.base_flow is None:
                return None
            t = flow.base_flow.table
            plural, rest = ["^"], chain[1:]
        else:
            t = scope.table
            if t is None:
                return None
            plural, rest = [], chain
        i = 0
        while i < len(rest) and t is not None and rest[i] in t.links and t.links[rest[i]].is_plural:
            plural.append(rest[i])
            t = cat[t.links[rest[i]].target]
            i += 1
        if not plural:
            return None
        vpath = rest[i:]
        # validate the value path: singular links then one column (or a
        # define()d name as the terminal — resolved at eval, guarded)
        for j, nm in enumerate(vpath):
            if t is None:
                return None
            if nm in t.links and t.links[nm].is_singular and j < len(vpath) - 1:
                t = cat[t.links[nm].target]
                continue
            if nm in t.columns or t.alias_of(nm) is not None:
                if j != len(vpath) - 1:
                    return None
                break
            if j == len(vpath) - 1 and nm in ctx.names:
                break
            return None
        return tuple(plural), vpath

    #: aggregates that re-aggregate losslessly across join levels
    #: (avg decomposes into a sum+count partial pair)
    _DECOMPOSABLE = {"count", "exists", "any", "sum", "min", "max", "avg", "mean"}

    def _try_hierarchical(self, scope: ScopeRef, fkey, members, prepared) -> bool:
        """Multi-hop plural aggregates (`count(orders.lineitem)`)
        lower hierarchically: partial-aggregate the LEAF on its join
        key, then fold up each link re-aggregating, then one left join
        to the outer flow.  The fact-fact join thus joins pre-shrunk
        per-key partials instead of exploding rows first — at 100 TB
        the orders⋈lineitem join input drops from |lineitem| rows to
        |orders| partials.  Catalyst has no partial-agg-through-join
        rule; the reference leaves this to the RDBMS (reference:
        src/htsql/core/tr/compile.py::Compile unit injection).

        Returns True (and fills ``prepared``) when every member is
        decomposable with a leaf-column value; False → caller uses the
        generic grouped-join path."""
        cat = self.engine.catalog
        t = scope.table
        if t is None:
            return False
        links = []
        for nm in fkey:
            link = t.links.get(nm) if t is not None else None
            if link is None or not link.is_plural:
                return False
            links.append(link)
            t = cat[link.target]
        leaf = t
        plan = []  # (node, aggname, leaf physical column | None)
        for node, name, vpath, extra in members:
            if name not in self._DECOMPOSABLE or extra:
                return False
            if name in ("count", "exists", "any"):
                if vpath:
                    return False
                plan.append((node, name, None))
            else:
                if len(vpath) != 1:
                    return False
                c = vpath[0] if vpath[0] in leaf.columns else leaf.alias_of(vpath[0])
                if c is None:
                    return False
                plan.append((node, name, c))
        # leaf partials, grouped on the deepest join key; each member
        # owns one or two (avg: sum+count) partial columns that keep
        # their names across every re-aggregation level
        partials, merges, outputs = [], [], []
        for node, name, col in plan:
            p = self.engine.fresh("__h")
            if name in ("count", "exists", "any"):
                partials.append(F.count(F.lit(1)).alias(p))
                merges.append((F.sum, p))
                outputs.append((node, name, p, None))
            elif name in ("avg", "mean"):
                p2 = self.engine.fresh("__h")
                partials.append(F.sum(F.col(col)).alias(p))
                partials.append(F.count(F.col(col)).alias(p2))
                merges.append((F.sum, p))
                merges.append((F.sum, p2))
                outputs.append((node, name, p, p2))
            else:
                partials.append(getattr(F, name)(F.col(col)).alias(p))
                merges.append((F.sum if name == "sum" else getattr(F, name), p))
                outputs.append((node, name, p, None))
        pnames = [p for _, p in merges]
        cur = (
            self.engine.table(leaf.name)
            .groupBy(*[F.col(c) for c in links[-1].target_cols])
            .agg(*partials)
        )
        # fold up: join each intermediate table, re-aggregate on its
        # own join-up key
        for j in range(len(links) - 2, -1, -1):
            up, down = links[j], links[j + 1]
            parent = self.engine.table(up.target).select(
                *dict.fromkeys(list(down.origin_cols) + list(up.target_cols))
            )
            cond = None
            for oc, tc in zip(down.origin_cols, down.target_cols):
                eq = parent[oc] == cur[tc]
                cond = eq if cond is None else (cond & eq)
            cur = (
                parent.join(cur, cond, "inner")
                .groupBy(*[parent[c] for c in up.target_cols])
                .agg(*[fn(p).alias(p) for fn, p in merges])
            )
        # one left join to the outer flow on the first link
        tmp = [self.engine.fresh("__j") for _ in links[0].target_cols]
        cur = project(cur, [*tmp, *pnames], [*links[0].target_cols, *pnames])
        cond = None
        for oc, a in zip(links[0].origin_cols, tmp):
            eq = F.col(f"{scope.alias}__{oc}") == F.col(a)
            cond = eq if cond is None else (cond & eq)
        scope.flow.df = scope.flow.df.join(cur, cond, "left").drop(*tmp)
        for node, name, p, p2 in outputs:
            col = F.col(p)
            if name == "count":
                col = F.coalesce(col, F.lit(0))
            elif name in ("exists", "any"):
                col = F.coalesce(col > 0, F.lit(False))
            elif name in ("avg", "mean"):
                col = F.col(p) / F.col(p2)
            prepared[id(node)] = Scalar(col, name)
        return True

    def _fuse_quotient(self, qflow: Flow, v: FlowV, aggs: list[Column]) -> None:
        """Quotient fusion: `base ^ kernel {kernel, agg(^)…}` is ONE
        ``base.groupBy(kernel).agg(…)`` — the distinct that built the
        quotient and the join-back both disappear.  The grouped result
        has exactly the distinct kernel set, so this is semantics-
        preserving while halving the shuffles of the TPC-H Q1 shape
        (the reference leaves this to the RDBMS planner; reference:
        src/htsql/core/tr/compile.py::CompileCovering)."""
        sub = v.flow
        grouped = sub.df.groupBy(*[F.col(c) for c in v.corr_inner]).agg(*aggs)
        rename = dict(zip(v.corr_inner, [c for _, c in qflow.kernel]))
        qflow.df = project(grouped, [rename.get(c, c) for c in grouped.columns])

    def _join_grouped(self, outer: Flow, v: FlowV, aggs: list[Column]) -> None:
        """groupBy correlation keys + LEFT JOIN back (shared by single
        and batched aggregate lowering)."""
        sub = v.flow
        if not v.corr_inner:
            adf = sub.df.agg(*aggs)
            outer.df = outer.df.crossJoin(F.broadcast(adf))
            return
        adf = sub.df.groupBy(*[F.col(c) for c in v.corr_inner]).agg(*aggs)
        tmp = [self.engine.fresh("__j") for _ in v.corr_inner]
        keep = [f for f in adf.columns if f not in v.corr_inner]
        adf = project(adf, [*tmp, *keep], [*v.corr_inner, *keep])
        cond = None
        for o, t in zip(v.corr_outer, tmp):
            eq = F.col(o).eqNullSafe(F.col(t)) if v.null_safe else F.col(o) == F.col(t)
            cond = eq if cond is None else (cond & eq)
        outer.df = outer.df.join(adf, cond, "left").drop(*tmp)

    # ------------------------------------------------------------------
    # aggregate / scalar-subquery lowering
    # ------------------------------------------------------------------
    def lower_aggregate(self, scope: ScopeRef, v: FlowV, agg_col: Column, post=None, hint="agg") -> Scalar:
        """Grouped-join strategy (reference:
        src/htsql/core/tr/space.py::AggregateUnit lowered via
        src/htsql/core/tr/compile.py::Compile unit injection)."""
        vname = self.engine.fresh("__a")
        self._join_grouped(scope.flow, v, [agg_col.alias(vname)])
        col = F.col(vname)
        if post is not None:
            col = post(col)
        return Scalar(col, hint)

    def scalarize(self, scope: ScopeRef, v: FlowV) -> Column:
        """A located-singular sub-flow used as a value: left-join its
        (single) row back on the correlation keys."""
        sub = v.flow
        if v.value is None:
            raise CompileError(f"'{v.hint}' names a row, select a column from it")
        vname = self.engine.fresh("__v")
        outer = scope.flow
        if not v.corr_inner:
            adf = sub.df.select(v.value.alias(vname)).limit(1)
            outer.df = outer.df.crossJoin(F.broadcast(adf))
        else:
            tmp = [self.engine.fresh("__j") for _ in v.corr_inner]
            adf = project(
                sub.df.select(*v.corr_inner, v.value.alias(vname)), [*tmp, vname]
            )
            cond = None
            for o, t in zip(v.corr_outer, tmp):
                eq = F.col(o) == F.col(t)
                cond = eq if cond is None else (cond & eq)
            outer.df = outer.df.join(adf, cond, "left").drop(*tmp)
        return F.col(vname)

    def collect_segment(self, scope: ScopeRef, v: FlowV) -> Column:
        """Nested segment → ArrayType(StructType) column via
        collect_list + array_sort (SURVEY.md §7 hard part #3)."""
        sub = v.flow
        if not v.corr_inner:
            raise CompileError("nested segment must be correlated with its parent")
        if v.value is not None and sub.output is None:
            tmp = self.engine.fresh("__v")
            sub.df = sub.df.withColumn(tmp, v.value)
            sub.output = [(v.hint, tmp)]
        out = sub.output or self.default_output(sub)
        okeys = [(c, asc) for c, asc in sub.order]
        fields = [f"{quote(c)} AS `__o{i}`" for i, (c, _) in enumerate(okeys)]
        fields += [f"{quote(c)} AS {quote(n)}" for n, c in out]
        payload = F.expr(f"struct({', '.join(fields)})")
        aname = self.engine.fresh("__arr")
        tmpk = [self.engine.fresh("__j") for _ in v.corr_inner]
        gdf = project(
            sub.df.groupBy(*[F.col(c) for c in v.corr_inner]).agg(
                F.collect_list(payload).alias(aname)
            ),
            [*tmpk, aname],
            [*v.corr_inner, aname],
        )
        outer = scope.flow
        cond = None
        for o, t in zip(v.corr_outer, tmpk):
            eq = F.col(o).eqNullSafe(F.col(t)) if v.null_safe else F.col(o) == F.col(t)
            cond = eq if cond is None else (cond & eq)
        outer.df = outer.df.join(gdf, cond, "left").drop(*tmpk)
        arr = F.col(aname)
        if okeys:
            arr = F.array_sort(arr, _struct_comparator(okeys))
        names = [n for n, _ in out]
        arr = F.transform(arr, lambda x: F.struct(*[x[n].alias(n) for n in names]))
        # parents with no children → empty list, not NULL
        return F.coalesce(arr, F.expr(f"CAST(array() AS {_empty_array_type(sub.df, out)})"))

    # ------------------------------------------------------------------
    # operators & functions
    # ------------------------------------------------------------------
    def eval_operator(self, ctx: Ctx, scope: ScopeRef, node: N.Operator):
        return fnlib.eval_operator(self, ctx, scope, node)

    def eval_unary(self, ctx: Ctx, scope: ScopeRef, node: N.Unary):
        if node.op == "!":
            col = self.to_predicate(ctx, scope, node.operand)
            return Scalar(~col, "!" + hint_of(node.operand))
        v = self.scalar(ctx, scope, node.operand)
        return Scalar(-v.col if node.op == "-" else v.col, node.op + v.hint)

    def apply_function(self, ctx: Ctx, scope: ScopeRef, name: str, args: list[N.Node]):
        key = name.lower()
        if key == "meta":
            return self._meta_flow(args)
        if name in self.engine.gateways and len(args) == 1:
            return self._gateway_flow(name, args[0])
        if key in FLOW_METHODS and scope.table is not None:
            v = FlowV(scope.flow, hint=name)
            return FLOW_METHODS[key](self, ctx, scope, v, args)
        if key in fnlib.AGGREGATES:
            return fnlib.apply_aggregate(self, ctx, scope, key, args)
        if key in fnlib.SCALARS:
            return fnlib.SCALARS[key](self, ctx, scope, args)
        if key in FLOW_METHODS:
            v = FlowV(scope.flow, hint=name)
            return FLOW_METHODS[key](self, ctx, scope, v, args)
        raise CompileError(f"unknown function '{name}'")


    def _gateway_flow(self, name: str, sub: N.Node) -> FlowV:
        """``/name(/query)`` — route the nested query to the attached
        gateway engine (reference: src/htsql/tweak/gateway/), then
        surface its output as a flow of the *local* query, so gateway
        results compose with sieves/selections/quotients — and, going
        beyond the reference (where gateways are isolated commands),
        even join against local tables: both catalogs are DataFrames
        in one SparkSession."""
        from .catalog import TableDef

        gw = self.engine.gateways[name]
        if not isinstance(sub, N.Segment):
            sub = N.Segment(sub)
        mdf = Compiler(gw).compile_query(sub)
        if gw.autolimit:  # the gateway's own service config applies
            mdf = mdf.limit(gw.autolimit)
        tdef = TableDef(name=f"gateway_{name}", pk=(), columns=tuple(mdf.columns))
        alias = self.engine.fresh("g")
        df = project(mdf, [f"{alias}__{c}" for c in tdef.columns])
        flow = Flow(self.engine, df, alias, tdef)
        flow.order = []
        return FlowV(flow, [], [], hint=f"{name}(…)")

    def _meta_flow(self, args: list[N.Node]) -> FlowV:
        """/meta(table|column|link) — the catalog queryable as flows
        (reference: src/htsql/tweak/meta/)."""
        from .catalog import TableDef

        if len(args) != 1 or not isinstance(args[0], (N.Identifier, N.Literal)):
            raise CompileError("meta(kind) takes table|column|link")
        kind = args[0].name if isinstance(args[0], N.Identifier) else str(args[0].value)
        if kind not in ("table", "column", "link"):
            raise CompileError(f"unknown meta kind {kind!r} (use table|column|link)")
        mdf = self.engine.meta_df(kind)
        pk = {"table": ("name",), "column": ("table", "name"), "link": ("origin", "name")}[
            kind
        ]
        tdef = TableDef(name=f"meta_{kind}", pk=pk, columns=tuple(mdf.columns))
        alias = self.engine.fresh("m")
        df = project(mdf, [f"{alias}__{c}" for c in tdef.columns])
        flow = Flow(self.engine, df, alias, tdef)
        flow.order = [(f"{alias}__{c}", True) for c in pk]
        return FlowV(flow, [], [], hint=f"meta({kind})")


# ----------------------------------------------------------------------
# flow methods (postfix flow functions)
# ----------------------------------------------------------------------
def _fm_sort(cc: Compiler, ctx: Ctx, outer: ScopeRef, v: FlowV, args):
    if not args:
        raise CompileError("sort() needs at least one ordering key")
    flow = v.flow
    scope = ScopeRef(flow, flow.alias, flow.table)
    keys: list[tuple[str, bool]] = []
    newcols: dict[str, Column] = {}
    for a in args:
        asc = True
        if isinstance(a, N.Direction):
            asc, a = a.ascending, a.expr
        col = cc.scalar(ctx, scope, a).col
        cname = cc.engine.fresh("__ord")
        newcols[cname] = col
        keys.append((cname, asc))
    if newcols:
        flow.df = flow.df.withColumns(newcols)
    pk_tail = []
    if flow.table is not None:
        pk_tail = [(flow.scope_col(c), True) for c in flow.table.pk]
    flow.order = keys + pk_tail
    flow.explicit_order = True
    return v


def _fm_limit(cc: Compiler, ctx: Ctx, outer: ScopeRef, v: FlowV, args):
    """limit(n[, skip]) — global on the output flow, per-parent
    ``row_number`` window when correlated (reference:
    src/htsql/core/tr/space.py::ClippedSpace)."""
    if not args or len(args) > 2:
        raise CompileError("limit(n[, skip]) takes 1 or 2 arguments")
    vals = []
    for a in args:
        if not (isinstance(a, N.Literal) and isinstance(a.value, int)):
            raise CompileError("limit() arguments must be integer literals")
        vals.append(a.value)
    n = vals[0]
    skip = vals[1] if len(vals) > 1 else 0
    flow = v.flow
    okeys = flow.order or (
        [(flow.scope_col(c), True) for c in flow.table.pk] if flow.table else []
    )
    if v.corr_inner:
        w = Window.partitionBy(*[F.col(c) for c in v.corr_inner]).orderBy(*order_cols(okeys))
        rn = cc.engine.fresh("__rn")
        flow.df = (
            flow.df.withColumn(rn, F.row_number().over(w))
            .filter((F.col(rn) > skip) & (F.col(rn) <= skip + n))
            .drop(rn)
        )
    else:
        df = flow.df.orderBy(*order_cols(okeys)) if okeys else flow.df
        if skip:
            df = df.offset(skip)
        flow.df = df.limit(n)
    return v


def _fm_top(cc: Compiler, ctx: Ctx, outer: ScopeRef, v: FlowV, args):
    return _fm_limit(cc, ctx, outer, v, args)


def _fm_define(cc: Compiler, ctx: Ctx, outer: ScopeRef, v: FlowV, args):
    if not args:
        raise CompileError("define() needs at least one name := expr argument")
    for a in args:
        if not isinstance(a, N.Assignment):
            raise CompileError("define() takes name := expr arguments")
        if a.is_reference:
            scope = ScopeRef(v.flow, v.flow.alias, v.flow.table)
            cc.bind_reference(ctx, scope, a.name, a.expr)
        else:
            ctx.names[a.name] = a.expr
    return v


def _fm_text_col(v: FlowV, method: str) -> str:
    """The flow's physical text column, required by the text-pipeline
    flow methods (documents-shaped flows)."""
    flow = v.flow
    if flow.table is None or "text" not in flow.table.columns:
        raise CompileError(
            f"{method}() requires a flow over a table with a 'text'"
            " column (e.g. /documents)"
        )
    return flow.scope_col("text")


def _fm_gopher(cc: Compiler, ctx: Ctx, outer: ScopeRef, v: FlowV, args):
    """gopher() — append the Gopher quality-rule signals (Rae '21) as
    navigable attributes ``gopher_n_words`` … ``gopher_passes``:
    ``/documents.gopher(){doc_id}?gopher_passes`` is the language form
    of operators.textstats.gopher_rules (zero shuffle, in-row)."""
    if args:
        raise CompileError("gopher() takes no arguments")
    from .operators.textstats import append_gopher_signals

    flow = v.flow
    tcol = _fm_text_col(v, "gopher")
    prefix = cc.engine.fresh("__gop") + "_"
    flow.df, names = append_gopher_signals(flow.df, text_col=tcol, prefix=prefix)
    _fm_register_extra(flow, names, prefix, "gopher_")
    return v


def _fm_entropy(cc: Compiler, ctx: Ctx, outer: ScopeRef, v: FlowV, args):
    """entropy() — append the lexical-diversity signals ``entropy`` /
    ``ttr`` / ``n_types`` / ``n_words`` (operators.textstats.
    token_entropy as a flow method; zero shuffle, one in-row fold)."""
    if args:
        raise CompileError("entropy() takes no arguments")
    from .operators.textstats import append_entropy_signals

    flow = v.flow
    tcol = _fm_text_col(v, "entropy")
    prefix = cc.engine.fresh("__ent") + "_"
    flow.df, names = append_entropy_signals(flow.df, text_col=tcol, prefix=prefix)
    _fm_register_extra(flow, names, prefix, "")
    return v


def _fm_dedup_exact(cc: Compiler, ctx: Ctx, outer: ScopeRef, v: FlowV, args):
    """dedup_exact([key]) — keep only the first (min key) document of
    every exact-content fingerprint group: the language form of the
    curation pipeline's exact-dedup stage.  The survivor key defaults
    to the table's single-column primary key; pass an expression for
    keyless mounts (``tweak.filedb``-style reflected catalogs have no
    pk metadata).  ONE shuffle on the fingerprint (a min-over-Window,
    no join); at 100 TB only the narrow (fp, key) pair drives the
    exchange while every other column rides along the same
    partitioning."""
    if len(args) > 1:
        raise CompileError("dedup_exact([key]) takes at most one argument")
    from .operators.textstats import fingerprint

    flow = v.flow
    tcol = _fm_text_col(v, "dedup_exact")
    key = _fm_survivor_key(cc, ctx, v, args, "dedup_exact")
    fpc = cc.engine.fresh("__fp")
    keyc = cc.engine.fresh("__dk")
    mnc = cc.engine.fresh("__mn")
    w = Window.partitionBy(F.col(fpc))
    flow.df = (
        flow.df.withColumn(fpc, fingerprint(F.col(tcol)))
        .withColumn(keyc, key)
        .withColumn(mnc, F.min(F.col(keyc)).over(w))
        .filter(F.col(keyc) == F.col(mnc))
        .drop(fpc, keyc, mnc)
    )
    return v


def _fm_survivor_key(
    cc: Compiler, ctx: Ctx, v: FlowV, args, method: str, example: str | None = None
):
    """The survivor/join key for a keyed flow method: an explicit
    expression argument, else the table's single-column primary key
    (shared by every keyed flow method — same contract, same error
    text shape).  ``example`` is the method-correct call to suggest
    on pk-less mounts: for methods whose key is the SECOND argument
    (tfidf/budget/sample/dsir/unigram) the bare ``method(doc_id)``
    suggestion would be wrong — it parses as the first argument."""
    flow = v.flow
    if args:
        scope = ScopeRef(flow, flow.alias, flow.table)
        return cc.scalar(ctx, scope, args[0]).col
    if flow.table is None or not flow.table.pk or len(flow.table.pk) != 1:
        raise CompileError(
            f"{method}() needs a single-column primary key — pass the"
            f" survivor key explicitly, e.g. {example or method + '(doc_id)'}"
        )
    return F.col(flow.scope_col(flow.table.pk[0]))


def _fm_register_extra(flow, names: list[str], prefix: str, public: str) -> None:
    """Expose operator-appended columns as ``{public}*`` navigable
    attributes (shared by every appending flow method)."""
    for nm in names:
        flow.extra[public + nm[len(prefix):]] = nm


def _fm_join_back(cc: Compiler, flow, key, scored, join_key: str = "doc_id") -> None:
    """Inner-join a narrow scored/expanded table back onto the flow by
    the survivor key (shared by tfidf/winnow/unigram/dsir/budget —
    the corpus side keeps its plan; the join ships the key plus the
    few appended columns)."""
    keyc = cc.engine.fresh("__jk")
    flow.df = (
        flow.df.withColumn(keyc, key)
        .join(scored.withColumnRenamed(join_key, keyc), keyc, "inner")
        .drop(keyc)
    )


def _fm_drop_losers(cc: Compiler, flow, key, pairs) -> None:
    """The pairwise greater-key survivor rule shared by every dedup
    tier: each verified (a < b) pair's ``b`` is dropped via a LEFT
    ANTI join that ships ids only."""
    losers = pairs.select("b").distinct()
    keyc = cc.engine.fresh("__dk")
    flow.df = (
        flow.df.withColumn(keyc, key)
        .join(losers.withColumnRenamed("b", keyc), keyc, "left_anti")
        .drop(keyc)
    )


def _fm_int_lit(args, i: int, default: int, method: str) -> int:
    if len(args) <= i:
        return default
    a = args[i]
    if not (isinstance(a, N.Literal) and isinstance(a.value, int)):
        raise CompileError(f"{method}() argument {i + 1} must be an integer literal")
    return a.value


def _fm_classify(cc: Compiler, ctx: Ctx, outer: ScopeRef, v: FlowV, args):
    """classify() — append the hashed bag-of-words linear-classifier
    signals ``cls_n_tokens`` / ``cls_score`` / ``cls_keep``
    (operators.textstats.classifier_scores as a flow method): the
    model-tier quality filter becomes first-class language surface,
    ``/documents.classify()?cls_keep{doc_id}``.  Zero shuffle, one
    narrow codegen'd projection (no explode) — a 100 TB corpus scores
    at scan speed.  Named classify(), not quality(): ``quality(text)``
    is the heuristic-tier SCALAR and flow methods shadow scalars in
    table scope."""
    if args:
        raise CompileError("classify() takes no arguments")
    from .operators.textstats import append_classifier_signals

    flow = v.flow
    tcol = _fm_text_col(v, "classify")
    prefix = cc.engine.fresh("__cls") + "_"
    flow.df, names = append_classifier_signals(flow.df, text_col=tcol, prefix=prefix)
    _fm_register_extra(flow, names, prefix, "cls_")
    return v


def _fm_dedup_minhash(cc: Compiler, ctx: Ctx, outer: ScopeRef, v: FlowV, args):
    """dedup_minhash([key]) — drop every document that near-duplicates
    a smaller-keyed one: minhash-LSH candidates verified by true
    shingle Jaccard ≥ 0.5 (operators.dedup.minhash_dedup_pairs, the
    same 8×4 band scheme + threshold as the op_dedup_minhash registry
    row), then a LEFT ANTI join removes each verified pair's greater
    key.  The survivor rule is pairwise (b of any (a<b) pair dies) —
    deterministic and SQL-replayable, the language tier of the LSH
    dedup stage.  At 100 TB: candidates are band-bucketed (never
    all-pairs), the anti join ships ids only, and the corpus side
    keeps its partitioning."""
    if len(args) > 1:
        raise CompileError("dedup_minhash([key]) takes at most one argument")
    from .operators.dedup import minhash_dedup_pairs

    flow = v.flow
    tcol = _fm_text_col(v, "dedup_minhash")
    key = _fm_survivor_key(cc, ctx, v, args, "dedup_minhash")
    narrow = flow.df.select(key.alias("doc_id"), F.col(tcol).alias("text"))
    # reusable_cache=False: a long-lived language service compiles
    # many distinct dedup queries — unowned cache() entries per plan
    # would grow executor storage without bound (r9 self-review)
    _fm_drop_losers(
        cc,
        flow,
        key,
        minhash_dedup_pairs(narrow, threshold=0.5, reusable_cache=False),
    )
    return v


def _fm_tfidf(cc: Compiler, ctx: Ctx, outer: ScopeRef, v: FlowV, args):
    """tfidf([k[, key]]) — expand the flow to its top-k tf·idf terms
    per document (operators.pipeline.tfidf_top_terms as a flow
    method): each row becomes ≤k rows carrying every original column
    plus the appended ``tfidf_term`` / ``tfidf_tf`` / ``tfidf_score``
    attributes (documents with no terms drop out — plural expansion
    semantics, like an empty plural link).  One explode + two
    map-side-combined aggregations + a shuffle join back on the key;
    the term table is never broadcast by force (web-scale vocabularies
    are themselves huge — AQE still picks broadcast when small)."""
    if len(args) > 2:
        raise CompileError("tfidf([k[, key]]) takes at most two arguments")
    from .operators.pipeline import tfidf_top_terms

    flow = v.flow
    tcol = _fm_text_col(v, "tfidf")
    k = _fm_int_lit(args, 0, 3, "tfidf")
    if k < 1:
        raise CompileError("tfidf() needs k >= 1")
    key = _fm_survivor_key(cc, ctx, v, args[1:], "tfidf", example="tfidf(3, doc_id)")
    narrow = flow.df.select(key.alias("__id"), F.col(tcol).alias("__text"))
    prefix = cc.engine.fresh("__tfidf") + "_"
    top = tfidf_top_terms(narrow, k=k, text_col="__text", id_col="__id").select(
        F.col("__id"),
        F.col("term").alias(f"{prefix}term"),
        F.col("tf").alias(f"{prefix}tf"),
        F.col("tfidf").alias(f"{prefix}score"),
    )
    _fm_join_back(cc, flow, key, top, join_key="__id")
    for nm in ("term", "tf", "score"):
        flow.extra[f"tfidf_{nm}"] = f"{prefix}{nm}"
    return v


def _fm_near(cc: Compiler, ctx: Ctx, outer: ScopeRef, v: FlowV, args):
    """near(query_id[, k]) — restrict an embeddings-shaped flow to the
    k approximate nearest neighbours of the row keyed ``query_id``,
    appending the match score as ``near_cos4`` (IVF-PQ asymmetric
    distance: operators.similarity.topk_ivfpq, the same seeded
    coarse/fine quantizers as the op_ann_ivfpq registry row).
    Similarity search becomes language surface:
    ``/embeddings.near(0, 10){vec_id, label, near_cos4}``.  The probe
    set is a literal IN (planning-time pruning); the join back ships
    k ids — at 100 TB the corpus-side cost is the nprobe-cell ADC
    scan, nothing else."""
    if not args or len(args) > 2:
        raise CompileError("near(query_id[, k]) takes 1 or 2 arguments")
    from .operators.similarity import topk_ivfpq

    flow = v.flow
    if flow.table is None or "embedding" not in flow.table.columns:
        raise CompileError(
            "near() requires a flow over a table with an 'embedding'"
            " column (e.g. /embeddings)"
        )
    qid = _fm_int_lit(args, 0, 0, "near")
    k = _fm_int_lit(args, 1, 10, "near")
    if k < 1:
        raise CompileError("near() needs k >= 1")
    if not flow.table.pk or len(flow.table.pk) != 1:
        raise CompileError("near() needs a single-column primary key")
    key = F.col(flow.scope_col(flow.table.pk[0]))
    label = (
        F.col(flow.scope_col("label"))
        if "label" in flow.table.columns
        else F.lit(None).cast("string")
    )
    narrow = flow.df.select(
        key.alias("vec_id"),
        F.col(flow.scope_col("embedding")).alias("embedding"),
        label.alias("label"),
    )
    prefix = cc.engine.fresh("__near") + "_"
    res = topk_ivfpq(narrow, query_id=qid, topk=k).select(
        F.col("vec_id"), F.col("cos4").alias(f"{prefix}cos4")
    )
    _fm_join_back(cc, flow, key, F.broadcast(res), join_key="vec_id")
    flow.extra["near_cos4"] = f"{prefix}cos4"
    return v


def _fm_str_lit(args, i: int, method: str) -> str:
    a = args[i]
    if not (isinstance(a, N.Literal) and isinstance(a.value, str)):
        raise CompileError(f"{method}() argument {i + 1} must be a text literal")
    return a.value


def _fm_frac_lit(args, i: int, method: str) -> float:
    import decimal

    a = args[i]
    if isinstance(a, N.Literal) and isinstance(a.value, (int, float, decimal.Decimal)):
        return float(a.value)
    raise CompileError(f"{method}() argument {i + 1} must be a numeric literal")


def _fm_stats(cc: Compiler, ctx: Ctx, outer: ScopeRef, v: FlowV, args):
    """stats() — append the corpus-profile stat set as navigable
    attributes ``stats_tokens`` / ``stats_words`` / ``stats_chars`` /
    ``stats_punct_ratio`` / ``stats_quality`` / ``stats_langid`` /
    ``stats_fp`` (operators.textstats.append_text_stats as a flow
    method): ``/documents.stats(){doc_id,
    stats_quality}?stats_langid='en'``.  Pure in-row expressions,
    zero shuffle — a 100 TB corpus profiles at scan speed."""
    if args:
        raise CompileError("stats() takes no arguments")
    from .operators.textstats import append_text_stats

    flow = v.flow
    tcol = _fm_text_col(v, "stats")
    prefix = cc.engine.fresh("__st") + "_"
    flow.df, names = append_text_stats(flow.df, text_col=tcol, prefix=prefix)
    _fm_register_extra(flow, names, prefix, "stats_")
    return v


def _fm_pii(cc: Compiler, ctx: Ctx, outer: ScopeRef, v: FlowV, args):
    """pii() — append the PII-redaction signals ``pii_emails`` /
    ``pii_phones`` (match counts) and ``pii_clean`` (the redacted
    text, emails/phones replaced by typed placeholders):
    operators.pipeline.append_pii_signals as a flow method,
    ``/documents.pii(){doc_id, pii_clean}?pii_emails>0``.  Pure
    regexp expressions, codegen'd, zero shuffle."""
    if args:
        raise CompileError("pii() takes no arguments")
    from .operators.pipeline import append_pii_signals

    flow = v.flow
    tcol = _fm_text_col(v, "pii")
    prefix = cc.engine.fresh("__pii") + "_"
    flow.df, names = append_pii_signals(flow.df, text_col=tcol, prefix=prefix)
    _fm_register_extra(flow, names, prefix, "pii_")
    return v


def _fm_sample(cc: Compiler, ctx: Ctx, outer: ScopeRef, v: FlowV, args):
    """sample(frac[, key]) — deterministic content-stable sampling:
    keep the rows whose salted md5 key prefix falls below the
    fraction threshold (operators.pipeline's hash-split kernel, salt
    ``'sample'``).  Unlike ``TABLESAMPLE``/``rand()`` the decision is
    a pure function of the key, so re-runs, retries, and different
    partition layouts all select the SAME rows — the property a
    training-data pipeline needs for reproducible subsets.  Narrow,
    zero shuffle, no action."""
    if not args or len(args) > 2:
        raise CompileError("sample(frac[, key]) takes 1 or 2 arguments")
    from .operators.pipeline import _hash_prefix, frac_hex

    frac = _fm_frac_lit(args, 0, "sample")
    if not 0.0 <= frac <= 1.0:
        raise CompileError("sample() needs a fraction between 0 and 1")
    flow = v.flow
    key = _fm_survivor_key(
        cc, ctx, v, args[1:], "sample", example="sample(0.25, doc_id)"
    )
    flow.df = flow.df.filter(_hash_prefix(key, "sample") < F.lit(frac_hex(frac)))
    return v


def _fm_split(cc: Compiler, ctx: Ctx, outer: ScopeRef, v: FlowV, args):
    """split([name[, key]]) — the train/valid/test assignment
    (operators.pipeline.split_expr, the hash_split 90/5/5 kernel) as
    language surface.  ``split()`` appends the assignment as the
    ``split`` attribute; ``split('train')`` restricts the flow to the
    named split.  Deterministic per key: every engine that hashes the
    same key agrees on the split, so train/eval separation survives
    re-ingestion — and the sieve form composes with everything
    downstream (``/documents.split('test').dedup_exact(){doc_id}``).
    Narrow, zero shuffle."""
    if len(args) > 2:
        raise CompileError("split([name[, key]]) takes at most two arguments")
    from .operators.pipeline import split_expr

    flow = v.flow
    # append form: split() on a pk'd flow, or split(key_expr) on a
    # pk-less mount (a non-text-literal first argument is the key)
    if not args or not (
        isinstance(args[0], N.Literal) and isinstance(args[0].value, str)
    ):
        if len(args) > 1:
            raise CompileError("split(key) takes at most one argument")
        key = _fm_survivor_key(
            cc, ctx, v, args, "split", example="split(doc_id)"
        )
        col = cc.engine.fresh("__spl")
        flow.df = flow.df.withColumn(col, split_expr(key))
        flow.extra["split"] = col
        return v
    name = _fm_str_lit(args, 0, "split")
    names = ("train", "valid", "test")
    if name not in names:
        raise CompileError(
            f"split() has no split named {name!r} (expected one of"
            f" {', '.join(names)})"
        )
    key = _fm_survivor_key(cc, ctx, v, args[1:], "split")
    flow.df = flow.df.filter(split_expr(key) == F.lit(name))
    return v


def _fm_sessionize(cc: Compiler, ctx: Ctx, outer: ScopeRef, v: FlowV, args):
    """sessionize([gap_minutes]) — append the per-event 0-based
    session index as the ``session_id`` attribute (operators.
    analytics.append_session_index, the gaps-and-islands kernel the
    batch sessionize aggregation shares): a new session starts when
    the gap to the user's previous event exceeds ``gap_minutes``
    (default 30).  ``/events.sessionize(){user_id, session_id,
    event_id}`` — one shuffle on user_id; both windows share the
    partitioning."""
    if len(args) > 1:
        raise CompileError("sessionize([gap_minutes]) takes at most one argument")
    from .operators.analytics import append_session_index

    flow = v.flow
    need = ("ts", "user_id", "event_id")
    if flow.table is None or any(c not in flow.table.columns for c in need):
        raise CompileError(
            "sessionize() requires a flow over a table with 'ts',"
            " 'user_id' and 'event_id' columns (e.g. /events)"
        )
    gap = _fm_int_lit(args, 0, 30, "sessionize")
    if gap < 1:
        raise CompileError("sessionize() needs gap_minutes >= 1")
    prefix = cc.engine.fresh("__ses") + "_"
    flow.df, names = append_session_index(
        flow.df,
        gap_minutes=gap,
        ts_col=flow.scope_col("ts"),
        user_col=flow.scope_col("user_id"),
        order_col=flow.scope_col("event_id"),
        prefix=prefix,
    )
    flow.extra["session_id"] = names[0]
    return v


def _fm_winnow(cc: Compiler, ctx: Ctx, outer: ScopeRef, v: FlowV, args):
    """winnow([key]) — expand the flow to its winnowing fingerprints
    (Schleimer '03, the MOSS substring-matching sketch): each row
    becomes one row per distinct window-min gram hash, carrying every
    original column plus the appended ``fp`` attribute
    (operators.textstats.winnow_fingerprints with the portable md5
    gram hash — the op_winnow_portable kernel).  Plural expansion
    semantics like tfidf().  Fingerprints are produced task-locally
    at scan speed; the join back ships (key, fp) only."""
    if len(args) > 1:
        raise CompileError("winnow([key]) takes at most one argument")
    from .operators.textstats import winnow_fingerprints

    flow = v.flow
    tcol = _fm_text_col(v, "winnow")
    key = _fm_survivor_key(cc, ctx, v, args, "winnow")
    narrow = flow.df.select(key.alias("doc_id"), F.col(tcol).alias("text"))
    prefix = cc.engine.fresh("__wn") + "_"
    fps = winnow_fingerprints(narrow, gram_hash="md5").select(
        F.col("doc_id"), F.col("fp").alias(f"{prefix}fp")
    )
    _fm_join_back(cc, flow, key, fps)
    flow.extra["fp"] = f"{prefix}fp"
    return v


def _fm_chunk(cc: Compiler, ctx: Ctx, outer: ScopeRef, v: FlowV, args):
    """chunk([n_tokens[, overlap]]) — expand the flow into sliding
    token windows (operators.pipeline.append_chunk_columns, the
    chunk_documents kernel): each row becomes one row per window,
    carrying every original column plus the appended ``chunk_idx`` /
    ``chunk_start`` / ``chunk_n_tokens`` / ``chunk_md5`` attributes.
    Defaults 32-token chunks advancing by 24 (overlap 8).  Pure
    generate-and-slice, no shuffle, no join — a 100 TB corpus chunks
    at scan speed."""
    if len(args) > 2:
        raise CompileError(
            "chunk([n_tokens[, overlap]]) takes at most two arguments"
        )
    from .operators.pipeline import append_chunk_columns

    flow = v.flow
    tcol = _fm_text_col(v, "chunk")
    n = _fm_int_lit(args, 0, 32, "chunk")
    overlap = _fm_int_lit(args, 1, 8, "chunk")
    if n < 1 or overlap < 0 or overlap >= n:
        raise CompileError("chunk() needs n_tokens >= 1 and 0 <= overlap < n_tokens")
    prefix = cc.engine.fresh("__ck") + "_"
    flow.df, names = append_chunk_columns(
        flow.df, chunk_tokens=n, overlap=overlap, text_col=tcol, prefix=prefix
    )
    _fm_register_extra(flow, names, prefix, "chunk_")
    return v


def _fm_repetition(cc: Compiler, ctx: Ctx, outer: ScopeRef, v: FlowV, args):
    """repetition() — append the Gopher-family repetition quality
    signals ``rep_n_words`` / ``rep_dup_word_frac`` /
    ``rep_top_word_frac`` / ``rep_top_bigram_frac``
    (operators.textstats.append_repetition_signals as a flow method).
    Zero shuffle, task-local array algebra."""
    if args:
        raise CompileError("repetition() takes no arguments")
    from .operators.textstats import append_repetition_signals

    flow = v.flow
    tcol = _fm_text_col(v, "repetition")
    prefix = cc.engine.fresh("__rep") + "_"
    flow.df, names = append_repetition_signals(flow.df, text_col=tcol, prefix=prefix)
    _fm_register_extra(flow, names, prefix, "rep_")
    return v


def _fm_unigram(cc: Compiler, ctx: Ctx, outer: ScopeRef, v: FlowV, args):
    """unigram([key]) — append the unigram language-model score (the
    perplexity-filter proxy, operators.pipeline.unigram_logprob) as
    the ``lm_n_words`` / ``lm_avg_logp`` / ``lm_ppl`` attributes:
    each document scored by the mean log-probability of its words
    under the corpus's OWN unigram distribution.  Two term-keyed
    shuffles (count + probe) and a join back shipping (key, 3
    numbers); the vocabulary is never broadcast — unbounded at
    100 TB."""
    if len(args) > 1:
        raise CompileError("unigram([key]) takes at most one argument")
    from .operators.pipeline import unigram_logprob

    flow = v.flow
    tcol = _fm_text_col(v, "unigram")
    key = _fm_survivor_key(cc, ctx, v, args, "unigram")
    narrow = flow.df.select(key.alias("doc_id"), F.col(tcol).alias("text"))
    prefix = cc.engine.fresh("__lm") + "_"
    scored = unigram_logprob(narrow).select(
        F.col("doc_id"),
        F.col("n_words").alias(f"{prefix}n_words"),
        F.col("avg_logp").alias(f"{prefix}avg_logp"),
        F.col("ppl").alias(f"{prefix}ppl"),
    )
    _fm_join_back(cc, flow, key, scored)
    for nm in ("n_words", "avg_logp", "ppl"):
        flow.extra[f"lm_{nm}"] = f"{prefix}{nm}"
    return v


def _fm_dsir(cc: Compiler, ctx: Ctx, outer: ScopeRef, v: FlowV, args):
    """dsir(target[, key]) — append the DSIR importance weight
    (Xie '23, operators.pipeline.dsir_weights) as ``dsir_n_grams`` /
    ``dsir_logw``: every document scored by how much its hashed
    unigram+bigram profile looks like the TARGET sub-corpus, where
    the target is any boolean expression over the flow
    (``/documents.dsir(lang='en')``).  Domain-targeted resampling
    becomes language surface.  One (doc, bucket) shuffle; the
    1024-row log-ratio table broadcasts; the join back ships
    (key, 2 numbers)."""
    if not args or len(args) > 2:
        raise CompileError("dsir(target[, key]) takes 1 or 2 arguments")
    from .operators.pipeline import dsir_weights

    flow = v.flow
    tcol = _fm_text_col(v, "dsir")
    scope = ScopeRef(flow, flow.alias, flow.table)
    pred = fnlib.to_boolean(cc, scope, cc.scalar(ctx, scope, args[0]).col)
    key = _fm_survivor_key(
        cc, ctx, v, args[1:], "dsir", example="dsir(target, doc_id)"
    )
    narrow = flow.df.select(
        key.alias("doc_id"), F.col(tcol).alias("text"), pred.alias("__tgt")
    )
    prefix = cc.engine.fresh("__dsir") + "_"
    scored = dsir_weights(narrow, target=F.col("__tgt")).select(
        F.col("doc_id"),
        F.col("n_grams").alias(f"{prefix}n_grams"),
        F.col("logw").alias(f"{prefix}logw"),
    )
    _fm_join_back(cc, flow, key, scored)
    for nm in ("n_grams", "logw"):
        flow.extra[f"dsir_{nm}"] = f"{prefix}{nm}"
    return v


def _fm_dedup_ngram(cc: Compiler, ctx: Ctx, outer: ScopeRef, v: FlowV, args):
    """dedup_ngram([key]) — drop every document whose character-3-gram
    Jaccard with a smaller-keyed one is ≥ 0.5
    (operators.dedup.ngram_jaccard_pairs with the production
    hot-bucket cap, the op_dedup_ngram kernel): the bucketed n-gram
    dedup tier as language surface.  Requires a ``lang`` column —
    the (lang, length-band) bucketing is the scale story (worst case
    #buckets·cap², never all-pairs).  The pairwise greater-key
    survivor rule matches dedup_minhash()."""
    if len(args) > 1:
        raise CompileError("dedup_ngram([key]) takes at most one argument")
    from .operators.dedup import ngram_jaccard_pairs

    flow = v.flow
    tcol = _fm_text_col(v, "dedup_ngram")
    if "lang" not in flow.table.columns:
        raise CompileError(
            "dedup_ngram() requires a flow over a table with a 'lang'"
            " column (the bucketing key)"
        )
    key = _fm_survivor_key(cc, ctx, v, args, "dedup_ngram")
    narrow = flow.df.select(
        key.alias("doc_id"),
        F.col(tcol).alias("text"),
        F.col(flow.scope_col("lang")).alias("lang"),
    )
    _fm_drop_losers(
        cc, flow, key, ngram_jaccard_pairs(narrow, n=3, threshold=0.5, max_bucket=200)
    )
    return v


def _fm_dedup_simhash(cc: Compiler, ctx: Ctx, outer: ScopeRef, v: FlowV, args):
    """dedup_simhash([key]) — drop every document within simhash
    hamming distance ≤ 3 of a smaller-keyed one
    (operators.dedup.simhash_near_pairs with the PORTABLE md5 token
    hash — the op_simhash_pairs_portable kernel, so the language tier
    is oracle-replayable).  Banding (4×16-bit chunks) guarantees
    recall at hamming ≤ 3; candidates are chunk-bucketed, never
    all-pairs.  Same survivor rule as dedup_minhash()."""
    if len(args) > 1:
        raise CompileError("dedup_simhash([key]) takes at most one argument")
    from .operators.dedup import simhash_near_pairs

    flow = v.flow
    tcol = _fm_text_col(v, "dedup_simhash")
    key = _fm_survivor_key(cc, ctx, v, args, "dedup_simhash")
    narrow = flow.df.select(key.alias("doc_id"), F.col(tcol).alias("text"))
    _fm_drop_losers(
        cc, flow, key, simhash_near_pairs(narrow, max_hamming=3, token_hash="md5")
    )
    return v


def _fm_budget(cc: Compiler, ctx: Ctx, outer: ScopeRef, v: FlowV, args):
    """budget(n_tokens[, key]) — restrict the flow to the
    highest-quality documents, greedily in (quality-bucket desc,
    md5(key), key) order, until ``n_tokens`` whitespace tokens are
    selected (operators.pipeline.select_token_budget — histogram walk
    + boundary-bucket-only window, NO global sort): the
    'train on the best N tokens' selection step as language surface,
    appending ``budget_q`` / ``budget_toks``.  NOTE: the histogram
    walk runs a small aggregation job at compile time (driver gets ≤
    1000 rows), like the operator itself."""
    if not args or len(args) > 2:
        raise CompileError("budget(n_tokens[, key]) takes 1 or 2 arguments")
    _fm_require_batch(v, "budget")
    from .operators.pipeline import select_token_budget

    n = _fm_int_lit(args, 0, 0, "budget")
    flow = v.flow
    tcol = _fm_text_col(v, "budget")
    key = _fm_survivor_key(
        cc, ctx, v, args[1:], "budget", example="budget(100000, doc_id)"
    )
    narrow = flow.df.select(key.alias("doc_id"), F.col(tcol).alias("text"))
    prefix = cc.engine.fresh("__bud") + "_"
    sel = select_token_budget(narrow, budget_tokens=n).select(
        F.col("doc_id"),
        F.col("q").alias(f"{prefix}q"),
        F.col("toks").alias(f"{prefix}toks"),
    )
    _fm_join_back(cc, flow, key, sel)
    for nm in ("q", "toks"):
        flow.extra[f"budget_{nm}"] = f"{prefix}{nm}"
    return v


def _fm_zscore(cc: Compiler, ctx: Ctx, outer: ScopeRef, v: FlowV, args):
    """zscore(value, group[, group...]) — append the group-wise
    z-score of any expression as the ``z`` attribute (operators.olap.
    append_zscore, the op_zscore kernel): z = (x − μ_g) / σ_g with
    the group's sample stddev; σ_g = 0 or a single-row group yields
    NULL.  Value and groups are full expressions over the flow
    (``/events.zscore(value, event_type)``,
    ``/orders.zscore(o_totalprice, o_orderpriority)``).  ONE shuffle
    on the group key — both moments and the normalized value share a
    single Window partitioning.  A group key is REQUIRED: the global
    (ungrouped) z-score would be a single-partition window — compute
    global moments with avg()/stddev() aggregates instead."""
    if len(args) < 2:
        raise CompileError(
            "zscore(value, group[, group...]) takes a value expression"
            " and at least one group expression"
        )
    from .operators.olap import append_zscore

    flow = v.flow
    scope = ScopeRef(flow, flow.alias, flow.table)
    value = cc.scalar(ctx, scope, args[0]).col
    groups = [cc.scalar(ctx, scope, a).col for a in args[1:]]
    prefix = cc.engine.fresh("__zs") + "_"
    flow.df, names = append_zscore(flow.df, value, groups, prefix=prefix)
    flow.extra["z"] = names[0]
    return v


def _fm_dup_spans(cc: Compiler, ctx: Ctx, outer: ScopeRef, v: FlowV, args):
    """dup_spans([key]) — append the substring-level duplicated-span
    stats (Lee '21; operators.textstats.duplicated_spans, the
    op_dup_spans kernel) as ``spans_n_windows`` / ``spans_dup_windows``
    / ``spans_n_spans`` / ``spans_dup_chars`` / ``spans_dup_frac``:
    corpus-wide verbatim 40-char windows at 8-char stride, merged to
    maximal spans.  One fp shuffle + one doc shuffle; the join back
    ships ids + five numbers, never text."""
    if len(args) > 1:
        raise CompileError("dup_spans([key]) takes at most one argument")
    from .operators.textstats import duplicated_spans

    flow = v.flow
    tcol = _fm_text_col(v, "dup_spans")
    key = _fm_survivor_key(cc, ctx, v, args, "dup_spans")
    narrow = flow.df.select(key.alias("doc_id"), F.col(tcol).alias("text"))
    prefix = cc.engine.fresh("__sp") + "_"
    stats = duplicated_spans(narrow)
    names = ["n_windows", "dup_windows", "n_spans", "dup_chars", "dup_frac"]
    stats = project(
        stats, ["doc_id", *(prefix + n for n in names)], ["doc_id", *names]
    )
    _fm_join_back(cc, flow, key, stats)
    _fm_register_extra(flow, [f"{prefix}{n}" for n in names], prefix, "spans_")
    return v


def _fm_pack(cc: Compiler, ctx: Ctx, outer: ScopeRef, v: FlowV, args):
    """pack([budget[, key]]) — expand the flow into the concat-and-
    chunk sequence-packing layout (operators.pipeline.pack_sequences,
    the op_pack kernel): one row per (document × training sequence)
    span, appending ``pack_shard`` / ``pack_seq_id`` / ``pack_offset``
    / ``pack_take``.  Documents are bucketed into md5-derived shards,
    each packed with one window cumsum — parallelism is the shard
    count, no global order dependency; the join back ships ids + four
    small ints."""
    if len(args) > 2:
        raise CompileError("pack([budget[, key]]) takes at most two arguments")
    from .operators.pipeline import pack_sequences

    budget = _fm_int_lit(args, 0, 64, "pack")
    if budget < 1:
        raise CompileError("pack() needs budget >= 1")
    flow = v.flow
    tcol = _fm_text_col(v, "pack")
    key = _fm_survivor_key(
        cc, ctx, v, args[1:], "pack", example="pack(64, doc_id)"
    )
    narrow = flow.df.select(key.alias("doc_id"), F.col(tcol).alias("text"))
    prefix = cc.engine.fresh("__pk") + "_"
    names = ["shard", "seq_id", "offset", "take"]
    spans = project(
        pack_sequences(narrow, budget=budget),
        ["doc_id", *(prefix + n for n in names)],
        ["doc_id", *names],
    )
    _fm_join_back(cc, flow, key, spans)
    _fm_register_extra(flow, [f"{prefix}{n}" for n in names], prefix, "pack_")
    return v


def _fm_mix(cc: Compiler, ctx: Ctx, outer: ScopeRef, v: FlowV, args):
    """mix(label, name1, frac1[, name2, frac2, ...]) — restrict the
    flow to a deterministic MIXTURE: partition by the ``label``
    expression, downsample each named partition so the union
    approximates the target weights at the largest feasible total
    (operators.pipeline.mix_corpora, the op_mix kernel — no partition
    is upsampled; the binding one keeps all rows).  The training-data
    "mixture weights" op as language surface:
    ``/documents.mix(lang, 'en', 0.7, 'de', 0.3)``.  Selection is a
    pure md5 function of the key, so re-runs and re-partitions keep
    the SAME mixture.  NOTE: fixing the rates runs one count per
    partition at compile time (model-state aggregates, like
    budget()); the selection itself is a narrow semi join on ids."""
    if len(args) < 3 or len(args) % 2 == 0:
        raise CompileError(
            "mix(label, name1, frac1[, name2, frac2, ...]) takes a"
            " label expression and (name, fraction) literal pairs"
        )
    _fm_require_batch(v, "mix")
    from .operators.pipeline import mix_corpora

    flow = v.flow
    scope = ScopeRef(flow, flow.alias, flow.table)
    label = cc.scalar(ctx, scope, args[0]).col
    fractions: dict[str, float] = {}
    for i in range(1, len(args), 2):
        name = _fm_str_lit(args, i, "mix")
        frac = _fm_frac_lit(args, i + 1, "mix")
        if not 0 < frac <= 1:
            raise CompileError("mix() fractions must be in (0, 1]")
        if name in fractions:
            raise CompileError(f"mix() names a partition twice: '{name}'")
        fractions[name] = frac
    key = _fm_survivor_key(cc, ctx, v, [], "mix")
    narrow = flow.df.select(key.alias("doc_id"), label.alias("__lbl"))
    sources = {
        s: narrow.filter(F.col("__lbl") == s).select("doc_id") for s in fractions
    }
    try:
        selected = mix_corpora(sources, fractions, "doc_id").select("doc_id")
    except ValueError as exc:
        # e.g. a named partition matching zero rows — surface as a
        # language-level error, not a raw ZeroDivisionError/ValueError
        raise CompileError(f"mix(): {exc}") from None
    keyc = cc.engine.fresh("__mk")
    flow.df = (
        flow.df.withColumn(keyc, key)
        .join(selected.withColumnRenamed("doc_id", keyc), keyc, "left_semi")
        .drop(keyc)
    )
    return v


def _fm_cluster(cc: Compiler, ctx: Ctx, outer: ScopeRef, v: FlowV, args):
    """cluster([key]) — append the near-dup CLUSTER id as the
    ``cluster_id`` attribute: connected components over the bucketed
    character-3-gram Jaccard ≥ 0.5 pair graph (operators.dedup.
    ngram_jaccard_pairs with the production max_bucket=200 cap — the
    deterministic, oracle-replayable tier — then operators.dedup.
    dedup_clusters' large-star/small-star contraction).  Every row
    gets an id: clustered documents share their component's minimum
    key, singletons keep their own.  Completes the dedup language
    story: dedup_*() keeps survivors, cluster() EXPOSES the groups
    (``^{cid := cluster_id}{cid, n := count(^)}`` profiles them).
    NOTE: the star contraction runs a bounded iterative job at
    compile time (O(log² n) rounds over a shrinking edge set), like
    budget()'s histogram walk; at 100 TB the pair graph is bucketed
    (never all-pairs) and only (id, id) edges shuffle."""
    if len(args) > 1:
        raise CompileError("cluster([key]) takes at most one argument")
    _fm_require_batch(v, "cluster")
    from .operators.dedup import dedup_clusters, ngram_jaccard_pairs

    flow = v.flow
    tcol = _fm_text_col(v, "cluster")
    if flow.table is None or "lang" not in flow.table.columns:
        raise CompileError(
            "cluster() requires a flow over a table with a 'lang'"
            " column (the bucketing key)"
        )
    key = _fm_survivor_key(cc, ctx, v, args, "cluster")
    narrow = flow.df.select(
        key.alias("doc_id"),
        F.col(tcol).alias("text"),
        F.col(flow.scope_col("lang")).alias("lang"),
    )
    # dedup_clusters casts pair endpoints to long and DROPS nulls —
    # a string key would silently yield all-singleton ids, so reject
    # it loudly at bind time instead
    import pyspark.sql.types as T

    ktype = narrow.schema["doc_id"].dataType
    if not isinstance(ktype, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)):
        raise CompileError(
            "cluster() needs an integral key (the component contraction"
            f" is id-typed); got {ktype.simpleString()} — pass an"
            " integral key expression"
        )
    pairs = ngram_jaccard_pairs(narrow, n=3, threshold=0.5, max_bucket=200)
    keyc = cc.engine.fresh("__ck")
    cid = cc.engine.fresh("__cl") + "_cluster_id"
    clusters = dedup_clusters(pairs).select(
        F.col("doc_id").alias(keyc), F.col("cluster_id").alias(cid)
    )
    flow.df = (
        flow.df.withColumn(keyc, key)
        .join(clusters, keyc, "left")
        .withColumn(cid, F.coalesce(F.col(cid), F.col(keyc)))
        .drop(keyc)
    )
    flow.extra["cluster_id"] = cid
    return v


def _fm_profile(cc: Compiler, ctx: Ctx, outer: ScopeRef, v: FlowV, args):
    """profile(value, partition, order, tiebreak[, n_tiles]) — append
    the full analytic-window family of ``value`` over one partitioned
    ordering (operators.analytics.append_window_profile, the
    op_window_profile kernel) as ``prof_rnk`` / ``prof_drnk`` /
    ``prof_cume`` / ``prof_prank`` / ``prof_tile`` / ``prof_prev_val``
    / ``prof_next_val`` / ``prof_running_sum``.  All four positions
    are full expressions over the flow.  The reference reaches this
    workload only by delegating to hand-written backend SQL (htsql
    2.3.3 has no window functions, SURVEY §2 F11/F20 boundary); here
    it is language surface.  ONE shuffle on the partition key; both
    Window nodes share the partitioning."""
    if len(args) < 4 or len(args) > 5:
        raise CompileError(
            "profile(value, partition, order, tiebreak[, n_tiles])"
            " takes 4 or 5 arguments"
        )
    from .operators.analytics import append_window_profile

    flow = v.flow
    scope = ScopeRef(flow, flow.alias, flow.table)
    value, part, order, tie = (cc.scalar(ctx, scope, a).col for a in args[:4])
    n_tiles = _fm_int_lit(args, 4, 4, "profile")
    if n_tiles < 1:
        raise CompileError("profile() needs n_tiles >= 1")
    prefix = cc.engine.fresh("__wp") + "_"
    flow.df, names = append_window_profile(
        flow.df, value=value, partition=part, order=order, tiebreak=tie,
        n_tiles=n_tiles, prefix=prefix,
    )
    _fm_register_extra(flow, names, prefix, "prof_")
    return v


def _fm_heavy_hitters(cc: Compiler, ctx: Ctx, outer: ScopeRef, v: FlowV, args):
    """heavy_hitters(expr[, min_freq]) — reshape the flow into its
    EXACT frequent items: every distinct value of ``expr`` with global
    frequency ≥ ``min_freq`` (default 0.01), found at sketch cost
    (operators.sketches.heavy_hitters: per-partition Misra-Gries
    summaries + a broadcast-restricted recount — the full distinct-
    value table is never shuffled).  Attributes ``item`` / ``cnt`` /
    ``freq``; projection-scope output like funnel().

    Multi-expression form (round-12 verdict next #7, closing the
    sketch family's symmetry): ``heavy_hitters({a, b := expr}[,
    min_freq])`` runs one Misra-Gries pass per listed expression and
    labels rows with ``attr``; items are cast to text so the per-
    expression results union into one flow (same contract as the
    multi-expression ``freq()``)."""
    if not args or len(args) > 2:
        raise CompileError(
            "heavy_hitters(expr[, min_freq]) takes 1 or 2 arguments"
        )
    if v.corr_outer:
        # checked BEFORE the kernel: the Misra-Gries pass is EAGER
        # (mapInPandas + localCheckpoint) — _fm_reshape's own guard
        # would reject only after burning those jobs
        raise CompileError(
            "heavy_hitters() is not defined on a correlated sub-flow —"
            " apply it to a top-level flow"
        )
    _fm_require_batch(v, "heavy_hitters")
    from .operators.sketches import heavy_hitters

    flow = v.flow
    scope = ScopeRef(flow, flow.alias, flow.table)
    min_freq = _fm_frac_lit(args, 1, "heavy_hitters") if len(args) == 2 else 0.01
    if not 0 < min_freq <= 1:
        raise CompileError("heavy_hitters() needs min_freq in (0, 1]")
    if isinstance(args[0], N.Selection):
        exprs = _fm_value_list(cc, ctx, scope, args[0], "heavy_hitters")
        if any(name in ("attr", "item", "cnt", "freq") for name, _ in exprs):
            raise CompileError(
                "heavy_hitters() value-expression name collides with an"
                " output attribute (attr / item / cnt / freq) — alias it"
            )
        parts = []
        for name, expr in exprs:
            narrow = flow.df.select(expr.cast("string").alias("item"))
            parts.append(
                heavy_hitters(narrow, "item", min_freq=min_freq).select(
                    F.lit(name).alias("attr"), "item", "cnt", "freq"
                )
            )
        res = parts[0]
        for p in parts[1:]:
            res = res.unionByName(p)
        return _fm_reshape(
            cc, v, "heavy_hitters", res, ["attr", "item", "cnt", "freq"]
        )
    expr = cc.scalar(ctx, scope, args[0]).col
    narrow = flow.df.select(expr.alias("item"))
    res = heavy_hitters(narrow, "item", min_freq=min_freq)
    return _fm_reshape(cc, v, "heavy_hitters", res, ["item", "cnt", "freq"])


def _fm_decontaminate(cc: Compiler, ctx: Ctx, outer: ScopeRef, v: FlowV, args):
    """decontaminate(benchmark) — drop every row whose normalized-
    content fingerprint (textstats.fingerprint, the op_contamination
    hash) appears in the BENCHMARK flow: exact-match eval-set
    decontamination as language surface, with the benchmark given as
    a full sub-query (``/documents.decontaminate(eval_docs)``,
    ``/documents.decontaminate(documents?source='bench')``) — the
    first flow method taking a FLOW-VALUED argument.  The benchmark's
    distinct fingerprints broadcast (eval sets are small by nature);
    the corpus side is one scan + a broadcast LEFT ANTI join — the
    correct 100 TB shape."""
    if len(args) != 1:
        raise CompileError(
            "decontaminate(benchmark) takes exactly one flow argument"
        )
    from .operators.textstats import fingerprint

    flow = v.flow
    tcol = _fm_text_col(v, "decontaminate")
    home = ScopeRef(cc.engine.home_flow(), "", None)
    bench = cc.eval(ctx, home, args[0])
    if not isinstance(bench, FlowV):
        raise CompileError(
            "decontaminate() needs a flow argument (a table or a"
            " sieved table, e.g. documents?doc_id<100)"
        )
    bflow = bench.flow
    if bflow.table is None or "text" not in bflow.table.columns:
        raise CompileError(
            "decontaminate() benchmark must be a flow over a table"
            " with a 'text' column"
        )
    btext = bflow.scope_col("text")
    fpc = cc.engine.fresh("__fp")
    fps = bflow.df.select(fingerprint(F.col(btext)).alias(fpc)).distinct()
    flow.df = (
        flow.df.withColumn(fpc, fingerprint(F.col(tcol)))
        .join(F.broadcast(fps), fpc, "left_anti")
        .drop(fpc)
    )
    return v


def _fm_asof(cc: Compiler, ctx: Ctx, outer: ScopeRef, v: FlowV, args):
    """asof(other, on, ts, payload[, direction[, tolerance]]) —
    append the AS-OF
    match from another flow: for each row, the ``payload`` of the
    ``other`` row with an equal ``on`` key nearest in ``ts``
    (operators.joins.asof_join — the op_asof_join kernel: tagged
    union + ordered window, NEVER an inequality join).  Appends
    ``asof_ts`` (the matched row's timestamp) and ``asof_<payload>``;
    unmatched rows keep NULLs.  ``direction`` is 'backward' (default:
    latest other.ts <= ts), 'forward', or 'nearest'.  The second
    flow-valued-argument method after decontaminate():
    ``/(events?event_type='purchase')
    .asof(events?event_type='click', user_id, ts, event_id)``.
    Completes F16's theta/range/as-of family in the language.

    Scale: both sides narrow to (key, on, ts[, payload]) before the
    union — one shuffle on the ``on`` key, one ordered window pass,
    then an id-keyed join back that ships ids + two columns."""
    if not 4 <= len(args) <= 6:
        raise CompileError(
            "asof(other, on, ts, payload[, direction]) takes a flow"
            " argument, three attribute names, an optional direction"
            " and an optional tolerance interval"
        )
    from .operators.joins import asof_join

    flow = v.flow
    home = ScopeRef(cc.engine.home_flow(), "", None)
    other = cc.eval(ctx, home, args[0])
    if not isinstance(other, FlowV):
        raise CompileError(
            "asof() needs a flow argument (a table or a sieved table,"
            " e.g. events?event_type='click')"
        )
    for i, what in ((1, "on"), (2, "ts"), (3, "payload")):
        if not isinstance(args[i], N.Identifier):
            raise CompileError(
                f"asof() {what} argument must be an attribute name"
            )
    direction = (
        _fm_str_lit(args, 4, "asof") if len(args) >= 5 else "backward"
    )
    if direction not in ("backward", "forward", "nearest"):
        raise CompileError(
            "asof() direction must be 'backward', 'forward' or 'nearest'"
        )
    tolerance = (
        _fm_interval_lit(args, 5, "asof") if len(args) == 6 else None
    )
    scope = ScopeRef(flow, flow.alias, flow.table)
    oflow = other.flow
    oscope = ScopeRef(oflow, oflow.alias, oflow.table)
    l_on = cc.scalar(ctx, scope, args[1]).col
    l_ts = cc.scalar(ctx, scope, args[2]).col
    r_on = cc.scalar(ctx, oscope, args[1]).col
    r_ts = cc.scalar(ctx, oscope, args[2]).col
    payload = cc.scalar(ctx, oscope, args[3]).col
    pname = args[3].name
    if pname == "ts":
        # the matched timestamp already comes back as asof_ts — a
        # payload of the same name would silently collapse onto it
        raise CompileError(
            "asof() payload 'ts' collides with the appended asof_ts —"
            " the matched timestamp is returned automatically"
        )
    key = _fm_survivor_key(
        cc, ctx, v, [], "asof",
        example="apply asof() to a flow whose table declares a pk",
    )
    if "asof_ts" in v.flow.extra:
        # a second .asof() would re-register the public 'asof_ts' /
        # 'asof_<payload>' names, silently shadowing the first call's
        # appended attributes (same spirit as the payload=='ts' guard)
        raise CompileError(
            "asof() was already applied to this flow — rename the"
            " first match with a selection ({..., prev := asof_ts})"
            " before matching again"
        )
    prefix = cc.engine.fresh("__ao") + "_"
    left = flow.df.select(
        key.alias("__ak"), l_on.alias("__on"), l_ts.alias("__ts")
    )
    right = oflow.df.select(
        r_on.alias("__on"), r_ts.alias("__ts"), payload.alias(f"{prefix}{pname}")
    )
    res = asof_join(
        left, right, on="__on", left_ts="__ts", right_ts="__ts",
        right_cols=[f"{prefix}{pname}"], direction=direction,
        tolerance=tolerance,
    )
    matched = res.select(
        "__ak",
        F.col("r___ts").alias(f"{prefix}ts"),
        f"{prefix}{pname}",
    )
    _fm_join_back(cc, flow, key, matched, join_key="__ak")
    _fm_register_extra(flow, [f"{prefix}ts", f"{prefix}{pname}"], prefix, "asof_")
    return v


def _fm_within(cc: Compiler, ctx: Ctx, outer: ScopeRef, v: FlowV, args):
    """within(other, on, ts, payload, other_payload, interval) —
    reshape into the INTERVAL JOIN of two flows: one output row per
    (left row, other row) pair with equal ``on`` whose other-``ts``
    falls in the left row's PRECEDING ``interval``
    (streaming.events.interval_join — the stream_join kernel's shape:
    ``/(events?event_type='purchase').within(events?event_type=
    'click', user_id, ts, event_id, event_id, '24 hours')`` pairs
    each purchase with the same user's clicks from the last day).
    Attributes ``<on>`` / ``l_ts`` / ``l_<payload>`` / ``r_ts`` /
    ``r_<other_payload>``.  Unlike asof() (ONE nearest match appended
    as columns, cardinality kept) this emits ALL matches as a new
    row grain — and unlike asof() it is STREAMING-LEGAL on both
    sides: under df_stream two stream-mounted flows lower to the
    watermarked stream-stream interval join (state evicted once rows
    age past the window — bounded state at any rate), completing the
    last kernel family that was API-only (round-11 verdict #4).

    Scale: both sides narrow to (on, ts, payload) before the join;
    one shuffle each on the ``on`` key; the time predicate bounds the
    per-key match fan-out by the window."""
    if not 6 <= len(args) <= 7:
        raise CompileError(
            "within(other, on, ts, payload, other_payload, interval"
            "[, watermark]) takes a flow argument, three attribute"
            " names of this flow/both/the other flow, an interval"
            " literal and an optional watermark interval (streaming"
            " state-eviction bound, default '1 hour')"
        )
    from .streaming.events import interval_join

    flow = v.flow
    home = ScopeRef(cc.engine.home_flow(), "", None)
    other = cc.eval(ctx, home, args[0])
    if not isinstance(other, FlowV):
        raise CompileError(
            "within() needs a flow argument (a table or a sieved"
            " table, e.g. events?event_type='click')"
        )
    for i, what in ((1, "on"), (2, "ts"), (3, "payload"), (4, "other_payload")):
        if not isinstance(args[i], N.Identifier):
            raise CompileError(
                f"within() {what} argument must be an attribute name"
            )
    window = _fm_interval_lit(args, 5, "within")
    watermark = (
        _fm_interval_lit(args, 6, "within") if len(args) == 7 else "1 hour"
    )
    scope = ScopeRef(flow, flow.alias, flow.table)
    oflow = other.flow
    oscope = ScopeRef(oflow, oflow.alias, oflow.table)
    on_name = args[1].name
    lp, rp = args[3].name, args[4].name
    names = [on_name, "l_ts", f"l_{lp}", "r_ts", f"r_{rp}"]
    if len(set(names)) != len(names):
        raise CompileError(
            f"within() output attributes collide ({names}) — the on"
            " key must not be named like the prefixed ts/payload"
            " columns"
        )
    left = flow.df.select(
        cc.scalar(ctx, scope, args[1]).col.alias("__lon"),
        cc.scalar(ctx, scope, args[2]).col.alias("l_ts"),
        cc.scalar(ctx, scope, args[3]).col.alias(f"l_{lp}"),
    )
    right = oflow.df.select(
        cc.scalar(ctx, oscope, args[1]).col.alias("__ron"),
        cc.scalar(ctx, oscope, args[2]).col.alias("r_ts"),
        cc.scalar(ctx, oscope, args[4]).col.alias(f"r_{rp}"),
    )
    res = interval_join(
        left, right, "__lon", "__ron", "l_ts", "r_ts",
        window=window, watermark=watermark,
    ).select(F.col("__lon").alias(on_name), "l_ts", f"l_{lp}", "r_ts", f"r_{rp}")
    return _fm_reshape(cc, v, "within", res, names)


def _fm_events_cols(v: FlowV, method: str, need: tuple[str, ...]) -> dict[str, str]:
    """The flow's physical event columns, required by the events-
    analytics flow methods (events-shaped flows)."""
    flow = v.flow
    if flow.table is None or any(c not in flow.table.columns for c in need):
        raise CompileError(
            f"{method}() requires a flow over a table with "
            + ", ".join(f"'{c}'" for c in need)
            + " columns (e.g. /events)"
        )
    return {c: flow.scope_col(c) for c in need}


def _fm_require_batch(v: FlowV, method: str) -> None:
    """The EAGER model-state flow methods run compile-time Spark jobs
    (sketch builds, per-partition counts, iterative contractions) a
    streaming flow cannot execute — under df_stream they must fail as
    a NAMED CompileError naming the remedy, not as the kernel's
    opaque 'Queries with streaming sources must be executed with
    writeStream.start()' (round-11 review; same spirit as the
    theta_join batch-only guard)."""
    if v.flow.df.isStreaming:
        raise CompileError(
            f"{method}() is batch-only — it runs compile-time model"
            " jobs a stream cannot execute; drain the stream first"
            " (run_stream) or query the batch mount"
        )


def _fm_reshape(cc: Compiler, v: FlowV, method: str, res, names: list[str]) -> FlowV:
    """Replace the flow with the derived relation ``res`` — the first
    RESHAPING flow methods (funnel/retention/transitions yield a
    different row grain than their input).  The result is a
    projection-style scope: ``names`` become the flow's attributes,
    resolved through the kernel exactly like ``^``-quotient output, so
    selection / sieve / sort / limit all compose after the reshape
    (``/events.retention()?week_offset>0``)."""
    if v.corr_outer:
        raise CompileError(
            f"{method}() is not defined on a correlated sub-flow —"
            " apply it to a top-level flow"
        )
    prefix = cc.engine.fresh("__" + method[:3]) + "_"
    cols = {n: prefix + n for n in names}
    nf = Flow(cc.engine, project(res, [cols[n] for n in names], names), "", None)
    nf.kernel = [(n, cols[n]) for n in names]
    # ordered-parity: like a quotient, the reshaped relation's implicit
    # order is its kernel (materialized only under engine.ordered or an
    # explicit sort — compile.finalize)
    nf.order = [(c, True) for _, c in nf.kernel]
    v.flow = nf
    v.corr_inner = []
    v.singular = False
    v.value = None
    return v


def _fm_funnel(cc: Compiler, ctx: Ctx, outer: ScopeRef, v: FlowV, args):
    """funnel(step1, step2[, ...]) — reshape an events flow into the
    strict-sequence funnel (operators.analytics.funnel, the op_funnel
    kernel): one output row per step with the count of users whose
    step-k event occurs strictly after their earliest qualifying
    step-(k-1) event.  Attributes ``step`` / ``event_type`` /
    ``users``; composes with a prior sieve
    (``/events?value>=0.2 :funnel('view','click')``).  One shuffle on
    user_id; per-user event lists stay array-local."""
    if len(args) < 2:
        raise CompileError(
            "funnel(step1, step2[, ...]) takes at least two step literals"
        )
    from .operators.analytics import funnel

    steps = [_fm_str_lit(args, i, "funnel") for i in range(len(args))]
    cols = _fm_events_cols(v, "funnel", ("ts", "user_id", "event_type"))
    narrow = project(v.flow.df, list(cols), list(cols.values()))
    return _fm_reshape(
        cc, v, "funnel", funnel(narrow, steps), ["step", "event_type", "users"]
    )


def _fm_retention(cc: Compiler, ctx: Ctx, outer: ScopeRef, v: FlowV, args):
    """retention() — reshape an events flow into the weekly
    first-touch cohort retention matrix (operators.analytics.
    retention, the op_retention kernel): attributes ``cohort_week`` /
    ``week_offset`` / ``users``.  Two shuffles on user_id (first
    touch + distinct active weeks) sharing the partitioning, then one
    on the cohort key."""
    if args:
        raise CompileError("retention() takes no arguments")
    from .operators.analytics import retention

    cols = _fm_events_cols(v, "retention", ("ts", "user_id"))
    narrow = project(v.flow.df, list(cols), list(cols.values()))
    return _fm_reshape(
        cc, v, "retention", retention(narrow),
        ["cohort_week", "week_offset", "users"],
    )


def _fm_transitions(cc: Compiler, ctx: Ctx, outer: ScopeRef, v: FlowV, args):
    """transitions() — reshape an events flow into next-event Markov
    transition counts per ordered user timeline (operators.analytics.
    transitions, the op_transitions kernel): attributes
    ``event_type`` / ``next_type`` / ``n``.  The (ts, event_id) sort
    key makes the sequence total and the result deterministic.  One
    shuffle on user_id for the lead window, one for the pair count."""
    if args:
        raise CompileError("transitions() takes no arguments")
    from .operators.analytics import transitions

    cols = _fm_events_cols(
        v, "transitions", ("ts", "user_id", "event_type", "event_id")
    )
    narrow = project(v.flow.df, list(cols), list(cols.values()))
    return _fm_reshape(
        cc, v, "transitions", transitions(narrow),
        ["event_type", "next_type", "n"],
    )


def _fm_interval_lit(args, i: int, method: str) -> str:
    """A window/gap interval literal: 'N seconds|minutes|hours|days'.
    Validated at compile time so a typo is a CompileError, not a
    deep AnalysisException out of F.window."""
    import re

    s = _fm_str_lit(args, i, method)
    if not re.fullmatch(r"[1-9]\d* (second|minute|hour|day)s?", s):
        raise CompileError(
            f"{method}() interval must be 'N seconds|minutes|hours|days',"
            f" got {s!r}"
        )
    return s


def _fm_tumbling(cc: Compiler, ctx: Ctx, outer: ScopeRef, v: FlowV, args):
    """tumbling(interval) — reshape an events flow into epoch-aligned
    tumbling-window aggregates (streaming.events.tumbling_counts, the
    stream_tumbling kernel: the SAME F.window plan the stream runs):
    attributes ``w_start`` / ``w_end`` / ``event_type`` / ``n`` /
    ``total``.  Over a static table the watermark is a no-op, so ALL
    windows emit — the language sees the complete history, where the
    stream's availableNow drain emits the watermark-closed prefix.
    Composes with a prior sieve and a following sieve/sort
    (``/events?value>0 :tumbling('1 day')?n>5``).  One map-side-
    combined shuffle on (window, event_type)."""
    if len(args) != 1:
        raise CompileError("tumbling(interval) takes exactly one interval literal")
    window = _fm_interval_lit(args, 0, "tumbling")
    from .streaming.events import tumbling_counts

    cols = _fm_events_cols(v, "tumbling", ("ts", "event_type", "value"))
    narrow = project(v.flow.df, list(cols), list(cols.values()))
    return _fm_reshape(
        cc, v, "tumbling", tumbling_counts(narrow, window=window),
        ["w_start", "w_end", "event_type", "n", "total"],
    )


def _fm_sliding(cc: Compiler, ctx: Ctx, outer: ScopeRef, v: FlowV, args):
    """sliding(window, slide) — reshape an events flow into
    OVERLAPPING epoch-aligned window aggregates (streaming.events.
    sliding_event_avg, the stream_sliding kernel: the SAME
    F.window(window, slide) plan the stream runs): attributes
    ``w_start`` / ``avg_value`` / ``n``.  Each event lands in
    window/slide windows; over a static table ALL windows emit
    (complete history — the stream emits the watermark-closed
    prefix)."""
    if len(args) != 2:
        raise CompileError(
            "sliding(window, slide) takes exactly two interval literals"
        )
    window = _fm_interval_lit(args, 0, "sliding")
    slide = _fm_interval_lit(args, 1, "sliding")
    from .streaming.events import sliding_event_avg

    cols = _fm_events_cols(v, "sliding", ("ts", "value"))
    narrow = project(v.flow.df, list(cols), list(cols.values()))
    return _fm_reshape(
        cc, v, "sliding", sliding_event_avg(narrow, window=window, slide=slide),
        ["w_start", "avg_value", "n"],
    )


def _fm_sessions(cc: Compiler, ctx: Ctx, outer: ScopeRef, v: FlowV, args):
    """sessions([gap]) — reshape an events flow into per-user
    gap-based session windows (streaming.events.session_counts, the
    stream_session kernel — the SAME F.session_window plan the stream
    runs, deterministic over a static table): attributes ``user_id``
    / ``s_start`` / ``s_end`` / ``n``.  Default gap '30 minutes'.
    One shuffle on user_id; session assembly is window-local."""
    if len(args) > 1:
        raise CompileError("sessions([gap]) takes at most one interval literal")
    gap = _fm_interval_lit(args, 0, "sessions") if args else "30 minutes"
    from .streaming.events import session_counts

    cols = _fm_events_cols(v, "sessions", ("ts", "user_id"))
    narrow = project(v.flow.df, list(cols), list(cols.values()))
    return _fm_reshape(
        cc, v, "sessions", session_counts(narrow, gap=gap),
        ["user_id", "s_start", "s_end", "n"],
    )


def _fm_anomalies(cc: Compiler, ctx: Ctx, outer: ScopeRef, v: FlowV, args):
    """anomalies([z[, min_n]]) — reshape an events flow into its
    anomalous rows: values whose expanding z-score against everything
    seen EARLIER per event type (in (ts, event_id) order) exceeds
    ``z`` (default 3.0) after at least ``min_n`` (default 10) prior
    observations.  Lowers to streaming.events.expanding_anomalies,
    the value-identical batch twin of the stateful stream_anomaly
    kernel (streaming_anomalies) — attributes ``event_id`` /
    ``event_type`` / ``value`` / ``n_prior`` / ``z``."""
    if len(args) > 2:
        raise CompileError("anomalies([z[, min_n]]) takes at most two arguments")
    z = _fm_frac_lit(args, 0, "anomalies") if args else 3.0
    if z <= 0:
        raise CompileError("anomalies() z threshold must be positive")
    min_n = _fm_int_lit(args, 1, 10, "anomalies")
    if min_n < 2:
        raise CompileError("anomalies() min_n must be at least 2")
    cols = _fm_events_cols(
        v, "anomalies", ("ts", "event_id", "event_type", "value")
    )
    narrow = project(v.flow.df, list(cols), list(cols.values()))
    if narrow.isStreaming:
        # streaming execution mode (engine.df_stream): the unbounded-
        # preceding window of the batch twin is not streaming-legal,
        # so lower to the STATEFUL kernel itself — expanding (n, Σx,
        # Σx²) per event type in the state store; one availableNow
        # drain is value-identical to the batch twin (the r7-locked
        # (ts, event_id) in-batch ordering)
        from .streaming.events import streaming_anomalies

        res = streaming_anomalies(narrow, z_threshold=z, min_n=min_n)
    else:
        from .streaming.events import expanding_anomalies

        res = expanding_anomalies(narrow, z_threshold=z, min_n=min_n)
    return _fm_reshape(
        cc, v, "anomalies", res,
        ["event_id", "event_type", "value", "n_prior", "z"],
    )


def _fm_distinct_count(cc: Compiler, ctx: Ctx, outer: ScopeRef, v: FlowV, args):
    """distinct_count(expr[, group...]) — reshape the flow into
    APPROXIMATE distinct counts of ``expr`` per group (mergeable
    Datasketches HLL, operators.sketches.hll_distinct — the
    op_hll_distinct kernel; lgK=14 ⇒ σ≈0.8%): attributes are the
    group names plus ``approx_distinct``.  No groups → one global
    row.  The approximate answer the exact ``count(^)`` quotient
    cannot give at 100 TB: the shuffle moves per-group sketches, not
    per-row keys.  Group arguments must be attribute names (they
    become the output attributes)."""
    if not args:
        raise CompileError(
            "distinct_count(expr[, group...]) takes a value expression"
            " and optional group attribute names"
        )
    from .operators.sketches import hll_distinct

    flow = v.flow
    scope = ScopeRef(flow, flow.alias, flow.table)
    if isinstance(args[0], N.Selection):
        # multi-expression form, like quantiles()/freq() (round 12):
        # one HLL aggregate per listed expression under an 'attr'
        # label — each expression keeps its own sketch accuracy
        exprs = _fm_value_list(cc, ctx, scope, args[0], "distinct_count")
    else:
        exprs = [(None, cc.scalar(ctx, scope, args[0]).col)]
    multi = len(exprs) > 1 or exprs[0][0] is not None
    reserved = {"approx_distinct"} | ({"attr"} if multi else set())
    if multi and any(name in reserved for name, _ in exprs):
        raise CompileError(
            "distinct_count() value-expression name collides with an"
            " output attribute (attr / approx_distinct) — alias it"
        )
    groups: list[tuple[str, Column]] = []
    for a in args[1:]:
        if not isinstance(a, N.Identifier):
            raise CompileError(
                "distinct_count() group arguments must be attribute names"
            )
        if a.name in reserved:
            # would collide with the reshape's own output attribute at
            # execution time (ambiguous column) — name it at compile
            # time, before resolution
            raise CompileError(
                f"distinct_count() group name {a.name!r} collides"
                " with an output attribute"
            )
        groups.append((a.name, cc.scalar(ctx, scope, a).col))
    if len({g for g, _ in groups}) != len(groups):
        raise CompileError("distinct_count() names a group twice")
    gnames = [g for g, _ in groups]

    def _one(expr: Column):
        narrow = flow.df.select(
            expr.alias("__dc"), *[c.alias(g) for g, c in groups]
        )
        return hll_distinct(narrow, gnames, "__dc", lgk=14)

    if not multi:
        return _fm_reshape(
            cc, v, "distinct_count", _one(exprs[0][1]),
            gnames + ["approx_distinct"],
        )
    # the single-expression HLL streams as-is (its states ARE a
    # streaming aggregate), but the multi form UNIONS one streaming
    # aggregate per expression — never streaming-legal
    if v.flow.df.isStreaming:
        raise CompileError(
            "multi-expression distinct_count() is batch-only — it"
            " unions one streaming aggregate per expression; drain the"
            " stream first (run_stream) or sketch one expression per"
            " query"
        )
    parts = [
        _one(expr).select(
            *gnames, F.lit(name).alias("attr"), "approx_distinct"
        )
        for name, expr in exprs
    ]
    res = parts[0]
    for p in parts[1:]:
        res = res.unionByName(p)
    return _fm_reshape(
        cc, v, "distinct_count", res, gnames + ["attr", "approx_distinct"]
    )


def _fm_value_list(cc: Compiler, ctx: Ctx, scope: ScopeRef, node, method: str):
    """A ``{expr, name := expr, ...}`` selection argument of a sketch
    reshape (the multi-expression form, round-11 verdict next #7 —
    like the agg family's mapped selections): returns ``[(name,
    Column)]``.  Bare items must be attribute names (the name IS the
    output label); computed expressions need an alias."""
    out: list[tuple[str, Column]] = []
    for item in node.items:
        if isinstance(item, N.Identifier):
            out.append((item.name, cc.scalar(ctx, scope, item).col))
        elif isinstance(item, N.Assignment):
            out.append((item.name, cc.scalar(ctx, scope, item.expr).col))
        else:
            raise CompileError(
                f"{method}() selection items must be attribute names"
                " or aliased expressions (name := expr)"
            )
    if len({n for n, _ in out}) != len(out):
        raise CompileError(f"{method}() names a value expression twice")
    if not out:
        raise CompileError(f"{method}() selection list is empty")
    return out


def _fm_quantiles(cc: Compiler, ctx: Ctx, outer: ScopeRef, v: FlowV, args):
    """quantiles(expr, q1[, q2...][, group...]) — reshape the flow
    into APPROXIMATE quantile estimates of ``expr`` (mergeable KLL
    sketch, operators.sketches.kll_sketch_states/kll_merge/
    kll_quantiles — the op_kll_quantiles kernel, k=256): one row per
    group (trailing attribute-name arguments; none → one global row)
    with attributes ``n`` (exact), ``err`` (the certified worst-case
    rank error) and one ``pXX`` estimate per requested quantile
    (``p50`` for 0.5).  One Arrow pass builds bounded per-(partition,
    group) states; only serialized states shuffle — the single-pass
    answer exact percentile() cannot give at 100 TB without a full
    sort.

    Multi-expression form (round-11 verdict next #7):
    ``quantiles({a, b := expr}, q1[, ...][, group...])`` sketches
    EVERY listed expression — one output row per (group..., value
    expression) with a leading ``attr`` label column, each row
    carrying its own exact ``n``/``err`` (null counts differ per
    expression, so the certificates are per-attr)."""
    if len(args) < 2:
        raise CompileError(
            "quantiles(expr, q1[, q2...][, group...]) takes a value"
            " expression and at least one quantile literal"
        )
    from .operators.sketches import kll_merge, kll_quantiles, kll_sketch_states

    flow = v.flow
    scope = ScopeRef(flow, flow.alias, flow.table)
    if isinstance(args[0], N.Selection):
        exprs = _fm_value_list(cc, ctx, scope, args[0], "quantiles")
    else:
        exprs = [(None, cc.scalar(ctx, scope, args[0]).col)]
    # fractions first, then optional trailing group attribute names
    import decimal

    i = 1
    qs: list[float] = []
    while (
        i < len(args)
        and isinstance(args[i], N.Literal)
        and isinstance(args[i].value, (int, float, decimal.Decimal))
    ):
        qs.append(_fm_frac_lit(args, i, "quantiles"))
        i += 1
    if not qs:
        raise CompileError(
            "quantiles(expr, q1[, q2...][, group...]) takes a value"
            " expression and at least one quantile literal"
        )
    from .operators.sketches import kll_quantile_name

    # the kernel's own formula — the collision check must reserve
    # exactly the names the kernel will emit (round-11 review: one
    # hand-rolled copy had survived the r10 single-sourcing)
    multi = len(exprs) > 1 or exprs[0][0] is not None
    reserved = {"n", "err"} | {kll_quantile_name(q) for q in qs}
    if multi:
        reserved.add("attr")
    groups: list[tuple[str, Column]] = []
    for a in args[i:]:
        if not isinstance(a, N.Identifier):
            raise CompileError(
                "quantiles() group arguments must be attribute names"
                " (after the quantile literals)"
            )
        if a.name in reserved:
            # would collide with the reshape's own output attributes
            # at execution time (ambiguous column) — name it at
            # compile time, BEFORE resolution so the message is about
            # the collision, not attribute existence
            raise CompileError(
                f"quantiles() group name {a.name!r} collides with an"
                " output attribute (n / err / pXX"
                + (" / attr" if multi else "") + ")"
            )
        groups.append((a.name, cc.scalar(ctx, scope, a).col))
    if len({g for g, _ in groups}) != len(groups):
        raise CompileError("quantiles() names a group twice")
    if multi and any(name in reserved for name, _ in exprs):
        raise CompileError(
            "quantiles() value-expression name collides with an"
            " output attribute (n / err / pXX / attr) — alias it"
        )
    for q in qs:
        if not 0 < q <= 1:
            raise CompileError("quantiles() fractions must be in (0, 1]")
    if v.corr_outer:
        # checked BEFORE the kernel (reshape scope, like funnel)
        raise CompileError(
            "quantiles() is not defined on a correlated sub-flow —"
            " apply it to a top-level flow"
        )
    # NO batch-only guard for the SINGLE-expression form: the KLL path
    # is fully lazy (mapInPandas states + applyInPandas merge — no
    # driver action), and like the HLL reshape its mergeable states
    # ARE a streaming aggregate: the reshape streams with drain parity
    # (locked in test_streaming).  The MULTI-expression form unions
    # one streaming aggregate per expression — never streaming-legal
    # (Spark allows at most one streaming aggregation per query), so
    # it fails here with the named remedy.
    if multi and v.flow.df.isStreaming:
        raise CompileError(
            "multi-expression quantiles() is batch-only — it unions"
            " one streaming aggregate per expression; drain the stream"
            " first (run_stream) or sketch one expression per query"
        )
    gnames = [g for g, _ in groups]

    def _one(expr: Column):
        narrow = flow.df.select(
            expr.cast("double").alias("__qv"), *[c.alias(g) for g, c in groups]
        )
        try:
            return kll_quantiles(
                kll_merge(
                    kll_sketch_states(narrow, "__qv", by=gnames or None, k=256),
                    by=gnames or None,
                ),
                qs,
            )
        except ValueError as exc:  # e.g. duplicate quantiles
            raise CompileError(f"quantiles(): {exc}") from None

    if not multi:
        res = _one(exprs[0][1])
        names = [
            c for c in res.columns if c not in ("n", "err") and c not in gnames
        ]
        return _fm_reshape(cc, v, "quantiles", res, gnames + ["n", "err"] + names)
    # multi-expression: one KLL pipeline per value expression (each
    # pipeline is the same lazy Arrow pass; the union keeps every
    # row's n/err certificate per-attr, since null counts differ),
    # labeled by a leading 'attr' column
    parts = []
    pnames: list[str] | None = None
    for name, expr in exprs:
        r = _one(expr)
        if pnames is None:
            pnames = [
                c for c in r.columns if c not in ("n", "err") and c not in gnames
            ]
        parts.append(
            r.select(*gnames, F.lit(name).alias("attr"), "n", "err", *pnames)
        )
    res = parts[0]
    for p in parts[1:]:
        res = res.unionByName(p)
    return _fm_reshape(
        cc, v, "quantiles", res, gnames + ["attr", "n", "err"] + pnames
    )


def _fm_freq(cc: Compiler, ctx: Ctx, outer: ScopeRef, v: FlowV, args):
    """freq(expr[, group...]) — reshape the flow into APPROXIMATE
    point-frequency estimates of ``expr`` per group (Count-Min
    Sketch, operators.sketches.cms_build/cms_estimate — the op_cms
    kernel; ε=0.01, δ=1e-4): one row per observed (group..., expr)
    combination with attributes ``item`` (the expr value as text),
    ``est_n`` (the CMS estimate — never an underestimate), ``n``
    (the exact total row count) and ``err`` (the additive bound
    ⌈ε·n⌉, so ``true ≤ est_n ≤ true + err`` with probability ≥ 1−δ).
    Self-certifying like quantiles(); completes the sketch family's
    language surface (HLL distinct_count, KLL quantiles, Misra-Gries
    heavy_hitters, CMS freq).  Groups fold into the hashed composite,
    so ONE depth×width matrix (a model artifact) answers every
    grouped query — d·w longs of state at any corpus size, where the
    exact groupBy shuffles every distinct key.  The matrix build is
    EAGER (one Arrow pass + a tiny merge at compile time, like
    heavy_hitters/budget); the estimate pass is map-side only."""
    if not args:
        raise CompileError(
            "freq(expr[, group...]) takes a value expression and"
            " optional group attribute names"
        )
    from .operators.sketches import cms_build, cms_estimate

    if v.corr_outer:
        # checked BEFORE the kernel: the sketch pass is EAGER — fail
        # before burning its jobs
        raise CompileError(
            "freq() is not defined on a correlated sub-flow —"
            " apply it to a top-level flow"
        )
    _fm_require_batch(v, "freq")
    flow = v.flow
    scope = ScopeRef(flow, flow.alias, flow.table)
    if isinstance(args[0], N.Selection):
        # multi-expression form (round-11 verdict next #7): one CMS
        # matrix per listed expression, rows labeled by 'attr' — each
        # matrix keeps its own exact-n/err certificate
        exprs = _fm_value_list(cc, ctx, scope, args[0], "freq")
    else:
        exprs = [(None, cc.scalar(ctx, scope, args[0]).col)]
    multi = len(exprs) > 1 or exprs[0][0] is not None
    reserved = {"item", "est_n", "n", "err"}
    if multi:
        reserved.add("attr")
        if any(name in reserved for name, _ in exprs):
            raise CompileError(
                "freq() value-expression name collides with an output"
                " attribute (attr / item / est_n / n / err) — alias it"
            )
    groups: list[tuple[str, Column]] = []
    for a in args[1:]:
        if not isinstance(a, N.Identifier):
            raise CompileError(
                "freq() group arguments must be attribute names"
            )
        if a.name in reserved:
            raise CompileError(
                f"freq() group name {a.name!r} collides with an output"
                " attribute (item / est_n / n / err)"
            )
        groups.append((a.name, cc.scalar(ctx, scope, a).col))
    if len({g for g, _ in groups}) != len(groups):
        raise CompileError("freq() names a group twice")
    gnames = [g for g, _ in groups]
    # composite probe key: groups fold into the hashed value so one
    # matrix serves every group.  The encoding must be INJECTIVE for
    # arbitrary strings (round-11 review: a separator-joined concat
    # lets a value CONTAINING the separator alias a different
    # combination, collapsing two distinct (group..., item) rows into
    # one merged estimate) — so each part is length-prefixed
    # ('S<len>:<text>', NULL → 'N'): the digit run ends at the first
    # ':' and the length then delimits the text, so decoding is
    # unambiguous for any value, separators and sentinels included.
    def _piece(p: Column) -> Column:
        return F.when(p.isNull(), F.lit("N")).otherwise(
            F.concat(F.lit("S"), F.length(p).cast("string"), F.lit(":"), p)
        )

    eps, delta = 0.01, 1e-4
    import math as _math

    def _one(expr: Column, label: str | None):
        parts = [c.cast("string") for _, c in groups] + [expr.cast("string")]
        composite = F.concat(*[_piece(p) for p in parts])
        # group attributes keep their ORIGINAL type in the output
        # (round-11 review: only the probe key needs the string fold —
        # a text-cast group column breaks downstream numeric sieves)
        narrow = flow.df.select(
            composite.alias("__ck"),
            *[c.alias(g) for g, c in groups],
            expr.cast("string").alias("item"),
        )
        matrix, _depth, _width = cms_build(narrow, "__ck", eps=eps, delta=delta)
        n_total = int(sum(matrix[0]))  # row sums of the matrix ARE n
        err = int(_math.ceil(eps * n_total))
        est = cms_estimate(
            narrow.dropDuplicates(["__ck"]), "__ck", matrix, flag="est_n"
        )
        label_cols = [F.lit(label).alias("attr")] if label is not None else []
        return est.select(
            *gnames, *label_cols, "item", "est_n",
            F.lit(n_total).alias("n"), F.lit(err).alias("err"),
        )

    if not multi:
        est = _one(exprs[0][1], None)
        return _fm_reshape(
            cc, v, "freq", est, gnames + ["item", "est_n", "n", "err"]
        )
    parts_out = [_one(expr, name) for name, expr in exprs]
    est = parts_out[0]
    for p in parts_out[1:]:
        est = est.unionByName(p)
    return _fm_reshape(
        cc, v, "freq", est, gnames + ["attr", "item", "est_n", "n", "err"]
    )


def _fm_hist(cc: Compiler, ctx: Ctx, outer: ScopeRef, v: FlowV, args):
    """hist(expr[, buckets]) — reshape the flow into the EXACT
    equi-depth histogram of ``expr`` (operators.olap.
    equi_depth_histogram, the op_histogram kernel): attributes
    ``bucket`` / ``lo`` / ``hi`` / ``n``, default 4 buckets.
    Boundaries are exact interpolated percentiles (ANSI quantile_cont
    semantics — oracle-replayable bit-for-bit); NULLs are excluded.
    Lazy (no compile-time job): one single-row boundary aggregate
    broadcast back over the flow, then a map-side-combined count —
    the ANALYZE-style distribution profile as language surface.  The
    exact percentile sorts within groups at 100 TB; the kernel
    documents the approx_percentile swap at identical plan shape."""
    if not args or len(args) > 2:
        raise CompileError(
            "hist(expr[, buckets]) takes a value expression and an"
            " optional bucket-count literal"
        )
    # the boundary-aggregate broadcast back over the flow is a join
    # between two streaming frames — never streaming-legal, so fail
    # at compile with the named remedy like freq()/heavy_hitters()
    # (round-11 review), not at drain with Spark's opaque
    # AnalysisException
    _fm_require_batch(v, "hist")
    from .operators.olap import equi_depth_histogram

    flow = v.flow
    scope = ScopeRef(flow, flow.alias, flow.table)
    expr = cc.scalar(ctx, scope, args[0]).col
    buckets = _fm_int_lit(args, 1, 4, "hist")
    if buckets < 1:
        raise CompileError("hist() bucket count must be at least 1")
    narrow = flow.df.select(expr.alias("__h"))
    res = equi_depth_histogram(narrow, "__h", buckets=buckets)
    return _fm_reshape(cc, v, "hist", res, ["bucket", "lo", "hi", "n"])


FLOW_METHODS = {
    "sort": _fm_sort,
    "limit": _fm_limit,
    "top": _fm_top,
    "define": _fm_define,
    "gopher": _fm_gopher,
    "entropy": _fm_entropy,
    "classify": _fm_classify,
    "dedup_exact": _fm_dedup_exact,
    "dedup_minhash": _fm_dedup_minhash,
    "tfidf": _fm_tfidf,
    "near": _fm_near,
    "stats": _fm_stats,
    "pii": _fm_pii,
    "sample": _fm_sample,
    "split": _fm_split,
    "sessionize": _fm_sessionize,
    "winnow": _fm_winnow,
    "chunk": _fm_chunk,
    "repetition": _fm_repetition,
    "unigram": _fm_unigram,
    "dsir": _fm_dsir,
    "dedup_ngram": _fm_dedup_ngram,
    "dedup_simhash": _fm_dedup_simhash,
    "budget": _fm_budget,
    "funnel": _fm_funnel,
    "retention": _fm_retention,
    "transitions": _fm_transitions,
    "zscore": _fm_zscore,
    "dup_spans": _fm_dup_spans,
    "pack": _fm_pack,
    "profile": _fm_profile,
    "heavy_hitters": _fm_heavy_hitters,
    "decontaminate": _fm_decontaminate,
    "cluster": _fm_cluster,
    "mix": _fm_mix,
    "asof": _fm_asof,
    "within": _fm_within,
    "tumbling": _fm_tumbling,
    "sliding": _fm_sliding,
    "sessions": _fm_sessions,
    "anomalies": _fm_anomalies,
    "distinct_count": _fm_distinct_count,
    "quantiles": _fm_quantiles,
    "freq": _fm_freq,
    "hist": _fm_hist,
}


# ----------------------------------------------------------------------
# helpers
# ----------------------------------------------------------------------
def _coerce_identity_part(part, dtype, table: str, col: str) -> Column:
    """Coerce an untyped identity-literal part to the identity
    column's domain (reference: tr/coerce.py::coerce applied to
    IdentityDomain fields) — mismatches fail at bind time."""
    import pyspark.sql.types as T

    if isinstance(dtype, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)):
        if isinstance(part, str):
            try:
                part = int(part)
            except ValueError:
                raise CompileError(
                    f"identity part {part!r} does not coerce to "
                    f"{table}.{col} ({dtype.simpleString()})"
                ) from None
        return F.lit(part)
    if isinstance(dtype, T.StringType):
        return F.lit(str(part))
    if isinstance(dtype, (T.DateType, T.TimestampType, T.TimestampNTZType)):
        # coerce in PYTHON so a bad literal is a bind error, not a
        # NULL-yielding runtime cast (the documented contract)
        import datetime

        s = str(part)
        try:
            if isinstance(dtype, T.DateType):
                return F.lit(datetime.date.fromisoformat(s))
            return F.lit(datetime.datetime.fromisoformat(s))
        except ValueError:
            raise CompileError(
                f"identity part {part!r} does not coerce to "
                f"{table}.{col} ({dtype.simpleString()})"
            ) from None
    if isinstance(dtype, (T.DoubleType, T.FloatType, T.DecimalType)):
        try:
            return F.lit(float(part))
        except (TypeError, ValueError):
            raise CompileError(
                f"identity part {part!r} does not coerce to "
                f"{table}.{col} ({dtype.simpleString()})"
            ) from None
    raise CompileError(
        f"{table}.{col} has domain {dtype.simpleString()}, which is not"
        " a supported identity-column type (int/text/date/timestamp/"
        "numeric)"
    )


def _iter_child_nodes(n: N.Node):
    import dataclasses

    if not dataclasses.is_dataclass(n):
        return
    for f in dataclasses.fields(n):
        v = getattr(n, f.name)
        if isinstance(v, N.Node):
            yield v
        elif isinstance(v, list):
            for x in v:
                if isinstance(x, N.Node):
                    yield x


def _find_references(node: N.Node) -> set[str]:
    """Names of every $reference in the subtree."""
    out: set[str] = set()
    stack = [node]
    while stack:
        n = stack.pop()
        if isinstance(n, N.Reference):
            out.add(n.name)
        stack.extend(_iter_child_nodes(n))
    return out


def _is_scope_free(node: N.Node) -> bool:
    """True when the expression depends on no row context (pure
    literals and operators over them) — safe to re-evaluate in any
    scope."""
    stack = [node]
    while stack:
        n = stack.pop()
        if isinstance(n, (N.Identifier, N.Wildcard, N.Complement, N.Reference)):
            return False
        stack.extend(_iter_child_nodes(n))
    return True


def _binding_fingerprint(ctx: Ctx, node: N.Node) -> tuple:
    """Identity of every define()d name / $reference the subtree can
    reach (transitively).  Guards the name_memo: the same AST node
    re-evaluated after a shadowing re-define or under different
    given() bindings gets a different key, never a stale column."""
    seen: set[int] = set()
    out: list[tuple[str, int]] = []
    stack = [node]
    while stack:
        n = stack.pop()
        if id(n) in seen:
            continue
        seen.add(id(n))
        if isinstance(n, N.Identifier) and n.name in ctx.names:
            bound = ctx.names[n.name]
            out.append((n.name, id(bound)))
            stack.append(bound)
        elif isinstance(n, N.Reference) and n.name in ctx.refs:
            bound = ctx.refs[n.name]
            out.append(("$" + n.name, id(bound)))
            if isinstance(bound, N.Node):
                stack.append(bound)
        stack.extend(_iter_child_nodes(n))
    return tuple(sorted(set(out)))


def _find_agg_applications(node: N.Node) -> list[N.Apply]:
    """All aggregate Apply nodes inside one selection item, however
    deeply nested in scalar expressions — but not across scope
    boundaries (segments, selections, sieves keep their own pass)."""
    out: list[N.Apply] = []
    stack = [node]
    while stack:
        n = stack.pop()
        if isinstance(n, (N.Direction,)):
            stack.append(n.expr)
        elif isinstance(n, N.Assignment):
            stack.append(n.expr)
        elif isinstance(n, N.Operator):
            stack.extend((n.lhs, n.rhs))
        elif isinstance(n, N.Unary):
            stack.append(n.operand)
        elif isinstance(n, N.Apply):
            if n.name.lower() in fnlib.AGGREGATES and n.args:
                out.append(n)
            else:
                stack.extend(n.args)
    return out


def _split_flow_value(arg: N.Node):
    """Decompose an aggregate argument into (flow expression, trailing
    define()s, value name path) so that aggregates over the SAME flow
    expression (by structural repr) can share one lowering.  Returns
    None when the arg is a bare name chain (pure-chain / one-off logic
    owns those)."""
    defines: list[N.Assignment] = []
    vpath: list[str] = []
    cur = arg
    while isinstance(cur, N.Compose):
        op = cur.op
        if isinstance(op, N.Identifier):
            vpath.insert(0, op.name)
            cur = cur.base
            continue
        if (
            isinstance(op, N.Apply)
            and op.name.lower() == "define"
            and all(isinstance(a, N.Assignment) and not a.is_reference for a in op.args)
        ):
            defines = list(op.args) + defines
            cur = cur.base
            continue
        break
    if isinstance(cur, (N.Identifier, N.Complement)) and not defines:
        return None  # bare chain — stage-1 / one-off territory
    return cur, defines, vpath


def _pure_chain(node: N.Node) -> list[str] | None:
    """`^`, `link`, `link.link.col` … as a plain name list; None for
    anything with filters/computation (those stay on the one-off
    aggregate path)."""
    if isinstance(node, N.Complement):
        return ["^"]
    if isinstance(node, N.Identifier):
        return [node.name]
    if isinstance(node, N.Compose):
        base = _pure_chain(node.base)
        if base is not None and isinstance(node.op, N.Identifier):
            return base + [node.op.name]
    return None


def order_cols(order: list[tuple[str, bool]]) -> list[Column]:
    return [F.col(c).asc() if asc else F.col(c).desc() for c, asc in order]


def literal_col(node: N.Literal) -> Column:
    import decimal

    if node.domain == "decimal" and isinstance(node.value, decimal.Decimal):
        return F.lit(float(node.value))
    return F.lit(node.value)


def _struct_comparator(okeys: list[tuple[str, bool]]):
    """Comparator over the leading __oN struct fields for
    ``array_sort`` (supports mixed asc/desc)."""

    def cmp(x, y):
        result = F.lit(0)
        for i in reversed(range(len(okeys))):
            _, asc = okeys[i]
            f = f"__o{i}"
            lt, gt = (-1, 1) if asc else (1, -1)
            result = (
                F.when(x[f].isNull() & y[f].isNull(), result)
                .when(x[f].isNull(), F.lit(gt))  # nulls last in asc
                .when(y[f].isNull(), F.lit(lt))
                .when(x[f] < y[f], F.lit(lt))
                .when(x[f] > y[f], F.lit(gt))
                .otherwise(result)
            )
        return result

    return cmp


def _empty_array_type(df: DataFrame, out: list[tuple[str, str]]) -> str:
    """DDL string for the empty-array fallback of a nested segment."""
    sub = project(df, [n for n, _ in out], [c for _, c in out])
    fields = ", ".join(f"{quote(f.name)}: {f.dataType.simpleString()}" for f in sub.schema.fields)
    return f"array<struct<{fields}>>"
