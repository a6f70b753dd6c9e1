"""SPARQL subset → DataFrame compiler (``sop query``).

The reference collects the stream into an indexed dataset and delegates
SPARQL evaluation to ``sophia_sparql`` (``src/query.rs:92-138``). Here the
quad DataFrame is the dataset and each query form compiles to a Catalyst
plan:

  * BGP → one aliased scan of the quad frame per triple pattern, constants
    pushed into the scan filter (predicate pushdown does the rest), shared
    variables become equi-join keys — the classic worst-case-optimal-free
    relational encoding of BGP matching, left to Catalyst/AQE to reorder.
  * GRAPH ?g / GRAPH <iri> → named-graph scans (``g IS NOT NULL``);
    patterns outside GRAPH match the default graph (``g IS NULL``).
  * FILTER → :mod:`sopspark.functions.expr` boolean compilation.
  * OPTIONAL → left outer join on the shared variables; filters over
    outer variables ride the join condition (LeftJoin(P1, P2, F), §8.2),
    and correlated (NOT) EXISTS does the same via semi/anti joins.
  * UNION → ``unionByName(allowMissingColumns)``.
  * SELECT/DISTINCT/ORDER BY/LIMIT/OFFSET → select/dropDuplicates/orderBy/
    limit/offset. ASK → ``limit(1).count() > 0``
    (``src/query.rs:197-206``). CONSTRUCT → per-template projection,
    unioned (``src/query.rs:208-217``).
  * GROUP BY / HAVING / aggregates → ``groupBy().agg()`` (map-side partial
    aggregation for free); HAVING aggregates hoisted to hidden agg columns.
  * Property paths (^ / | + * ?) → pair-relation algebra: ^ swaps, /
    joins, | unions; + and * run a semi-naive distributed transitive
    closure (frontier-only joins, localCheckpoint-truncated lineage).

Evaluated forms mirror the surface the reference evidences
(``README.md:150-180``, ``examples/persons.rq``) plus the obvious
extensions (§2.4 "stretch goals").

Solution mappings are DataFrames with one TERM-struct column per variable.
Blank nodes in patterns act as non-projected variables (``README.md:39``:
``[] a ?t``).
"""

from __future__ import annotations

import itertools
import re
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sopspark.functions.expr import Node, _compile_bool, compile_expr, parse_expr, _P, _tokenize, ExprError
from sopspark.session import local_df
from sopspark.terms import IRI, LITERAL, RDF_NS, TERM_SQL_TYPE, XSD


# ---------------------------------------------------------------------------
# AST
# ---------------------------------------------------------------------------

@dataclass
class TriplePattern:
    s: tuple  # ("var", name) | ("term", (kind, value, dt, lang))
    p: tuple
    o: tuple
    graph: tuple | None = None  # None=default graph; ("var",n)|("term",...)


@dataclass
class PatternGroup:
    triples: list = field(default_factory=list)  # TriplePattern
    filters: list = field(default_factory=list)  # expr Node
    optionals: list = field(default_factory=list)  # PatternGroup
    unions: list = field(default_factory=list)  # list[list[PatternGroup-ish]]
    subgroups: list = field(default_factory=list)
    binds: list = field(default_factory=list)  # [(var, expr Node)]
    values: list = field(default_factory=list)  # [(vars, rows)] rows=[[term|None]]
    exists: list = field(default_factory=list)  # [(PatternGroup, bool positive)]
    minuses: list = field(default_factory=list)  # [PatternGroup]
    subselects: list = field(default_factory=list)  # [Query] — { SELECT ... }


@dataclass
class Query:
    form: str  # select | ask | construct
    variables: list  # [(name, expr-Node|None)] or ["*"]
    distinct: bool
    where: PatternGroup
    template: list = field(default_factory=list)  # construct triples
    order_by: list = field(default_factory=list)  # [(Node, asc)]
    limit: int | None = None
    offset: int | None = None
    group_by: list = field(default_factory=list)  # [var name]
    having: list = field(default_factory=list)  # [expr Node]
    describe: list = field(default_factory=list)  # [("var",n)|("term",t)]
    from_graphs: list = field(default_factory=list)  # [iri str] — FROM
    from_named: list = field(default_factory=list)  # [iri str] — FROM NAMED



from sopspark.terms import unescape_pn_local as _unescape_plocal


class SparqlError(ValueError):
    pass


# ---------------------------------------------------------------------------
# parser
# ---------------------------------------------------------------------------

_TOK = re.compile(
    r"""
    (?P<ws>\s+|\#[^\n]*)
  | (?P<iri><[^<>\s]*>)
  | (?P<var>[?$]\w+)
  | (?P<string>"(?:[^"\\]|\\.)*"|'(?:[^'\\]|\\.)*')
  | (?P<langtag>@[A-Za-z]+(?:-[A-Za-z0-9]+)*(?:--[A-Za-z]+)?)
  | (?P<dtmark>\^\^)
  | (?P<number>[+-]?(?:\d+\.\d*|\.\d+|\d+)(?:[eE][+-]?\d+)?)
  | (?P<punct>(?:[{}().;,\[\]*=!>|&+/^-]|<(?![^<>\s]*>)|\?(?!\w))+)
  | (?P<pname>[A-Za-z_][\w-]*)?:(?P<plocal>(?:(?:%[0-9A-Fa-f]{2}|\\[_~.!$&'()*+,;=/?\#@%-]|[\w.-])*(?:%[0-9A-Fa-f]{2}|\\[_~.!$&'()*+,;=/?\#@%-]|[\w-]))?)
  | (?P<name>[A-Za-z_]\w*)
    """,
    re.VERBOSE,
)


def _lex(src: str) -> list[tuple[str, str]]:
    toks, pos = [], 0
    while pos < len(src):
        m = _TOK.match(src, pos)
        if not m:
            raise SparqlError(f"lex error at {src[pos:pos+40]!r}")
        pos = m.end()
        kind = m.lastgroup if m.lastgroup != "plocal" else "pname"
        if kind == "ws":
            continue
        if kind == "pname" or (m.group(0).find(":") >= 0 and kind not in ("iri", "string", "punct", "var", "langtag")):
            toks.append(("pname", m.group(0)))
        else:
            toks.append((kind, m.group(0)))
    return toks


class _QP:
    def __init__(self, src: str):
        # split multi-char punct into canonical operators
        raw = _lex(src)
        toks: list[tuple[str, str]] = []
        for k, v in raw:
            if k == "punct":
                i = 0
                while i < len(v):
                    for op in ("||", "&&", "!=", "<=", ">=", "^^", "<<", ">>", "{|", "|}"):
                        if v.startswith(op, i):
                            toks.append(("punct", op))
                            i += len(op)
                            break
                    else:
                        toks.append(("punct", v[i]))
                        i += 1
            else:
                toks.append((k, v))
        self.toks = toks
        self.i = 0
        self.prefixes: dict[str, str] = {}
        self._bn = itertools.count()

    def peek(self, ahead: int = 0):
        j = self.i + ahead
        return self.toks[j] if j < len(self.toks) else ("eof", "")

    def next(self):
        t = self.peek()
        self.i += 1
        return t

    def kw(self, word: str) -> bool:
        k, v = self.peek()
        if k in ("name", "pname") and v.upper() == word.upper():
            self.next()
            return True
        return False

    def expect(self, v: str):
        k, t = self.next()
        if t != v:
            raise SparqlError(f"expected {v!r}, got {t!r}")

    # --- entry ---
    def parse(self) -> Query:
        while self.kw("PREFIX"):
            k, pfx = self.next()
            if not pfx.endswith(":"):
                raise SparqlError(f"bad prefix {pfx!r}")
            k2, iri = self.next()
            if k2 != "iri":
                raise SparqlError("expected IRI after prefix name")
            self.prefixes[pfx[:-1]] = iri[1:-1]
        if self.kw("BASE"):
            self.next()

        if self.kw("SELECT"):
            return self.select()
        if self.kw("ASK"):
            fg, fn = self.dataset()
            self.kw("WHERE")
            where = self.group()
            return Query("ask", [], False, where, from_graphs=fg, from_named=fn)
        if self.kw("CONSTRUCT"):
            return self.construct()
        if self.kw("DESCRIBE"):
            resources: list = []
            while self.peek()[0] in ("var", "iri", "pname"):
                resources.append(self.term())
            if not resources:
                raise SparqlError("DESCRIBE needs at least one resource or variable")
            fg, fn = self.dataset()
            where = PatternGroup()
            if self.kw("WHERE") or self.peek()[1] == "{":
                where = self.group()
            elif any(r[0] == "var" for r in resources):
                raise SparqlError("DESCRIBE ?var requires a WHERE clause")
            q = Query(
                "describe", [], False, where, describe=resources,
                from_graphs=fg, from_named=fn,
            )
            self.modifiers(q)
            return q
        raise SparqlError(f"unsupported query form at {self.peek()[1]!r}")

    def select(self, subselect: bool = False) -> Query:
        distinct = self.kw("DISTINCT")
        self.kw("REDUCED")
        variables: list = []
        if self.peek()[1] == "*":
            self.next()
            variables = ["*"]
        else:
            while True:
                k, v = self.peek()
                if k == "var":
                    self.next()
                    variables.append((v[1:], None))
                elif v == "(":
                    self.next()
                    expr = self.expr_until_as()
                    self.kw("AS")
                    k2, v2 = self.next()
                    if k2 != "var":
                        raise SparqlError("expected ?var after AS")
                    self.expect(")")
                    variables.append((v2[1:], expr))
                else:
                    break
        fg, fn = self.dataset()
        if subselect and (fg or fn):
            # the grammar forbids DatasetClause in a SubSelect; silently
            # ignoring it would return rows the user asked to restrict
            raise SparqlError("FROM/FROM NAMED are not allowed in a subquery")
        self.kw("WHERE")
        where = self.group()
        q = Query("select", variables, distinct, where, from_graphs=fg, from_named=fn)
        self.modifiers(q)
        return q

    def dataset(self) -> tuple[list, list]:
        """DatasetClause* — ``FROM <g>`` / ``FROM NAMED <g>`` (SPARQL 13.2);
        returns (from_graphs, from_named) as IRI strings."""
        fg: list = []
        fn: list = []
        while self.kw("FROM"):
            named = self.kw("NAMED")
            kind, t = self.term()
            if kind != "term" or t[0] != IRI:
                raise SparqlError("FROM expects an IRI")
            (fn if named else fg).append(t[1])
        return fg, fn

    def construct(self) -> Query:
        self.expect("{")
        template = self.triples_until("}")
        self.expect("}")
        # qpat specs (<< ?s ?p ?o >> / annotation blocks over variables)
        # are match-time destructure patterns — they have no projection
        # form, so reject them here instead of crashing in _term_lit at
        # execution time
        for tp in template:
            if any(spec[0] == "qpat" for spec in (tp.s, tp.p, tp.o)):
                raise SparqlError(
                    "variable quoted-triple patterns are not supported in "
                    "CONSTRUCT templates (ground << ... >> terms are)"
                )
        fg, fn = self.dataset()
        self.kw("WHERE")
        where = self.group()
        q = Query(
            "construct", [], False, where, template=template,
            from_graphs=fg, from_named=fn,
        )
        self.modifiers(q)
        return q

    def modifiers(self, q: Query):
        while True:
            if self.kw("GROUP"):
                if not self.kw("BY"):
                    raise SparqlError("expected BY after GROUP")
                # GroupCondition: Var | '(' Expression ('AS' Var)? ')'
                while True:
                    k, v = self.peek()
                    if k == "var":
                        q.group_by.append(self.next()[1][1:])
                    elif v == "(":
                        self.next()
                        node = self.expr_until_as()
                        if self.kw("AS"):
                            k2, v2 = self.next()
                            if k2 != "var":
                                raise SparqlError("expected ?var after AS")
                            name = v2[1:]
                        else:
                            name = f"_grp{len(q.group_by)}"
                        self.expect(")")
                        q.group_by.append((name, node))
                    else:
                        break
                continue
            if self.kw("HAVING"):
                self.expect("(")
                q.having.append(self.expr_until_as(closers=(")",)))
                self.expect(")")
                continue
            if self.kw("ORDER"):
                if not self.kw("BY"):
                    raise SparqlError("expected BY after ORDER")
                while True:
                    k, v = self.peek()
                    if self.kw("ASC") or self.kw("DESC"):
                        asc = v.upper() == "ASC"
                        self.expect("(")
                        node = self.expr_until_as(closers=(")",))
                        self.expect(")")
                        q.order_by.append((node, asc))
                    elif k == "var":
                        self.next()
                        q.order_by.append((Node("var", (v[1:],)), True))
                    else:
                        break
            elif self.kw("LIMIT"):
                q.limit = int(self.next()[1])
            elif self.kw("OFFSET"):
                q.offset = int(self.next()[1])
            else:
                break

    # --- group graph pattern ---
    def group(self) -> PatternGroup:
        self.expect("{")
        g = PatternGroup()
        while True:
            k, v = self.peek()
            if v == "}":
                self.next()
                break
            if self.kw("FILTER"):
                if self.kw("NOT"):
                    if not self.kw("EXISTS"):
                        raise SparqlError("expected EXISTS after FILTER NOT")
                    g.exists.append((self.group(), False))
                    continue
                if self.kw("EXISTS"):
                    g.exists.append((self.group(), True))
                    continue
                if self.peek()[1] == "(":
                    self.next()
                    node = self.expr_until_as(closers=(")",))
                    self.expect(")")
                else:
                    node = self.expr_simple()
                g.filters.append(node)
                continue
            if self.kw("BIND"):
                self.expect("(")
                node = self.expr_until_as()
                if not self.kw("AS"):
                    raise SparqlError("expected AS in BIND")
                k2, v2 = self.next()
                if k2 != "var":
                    raise SparqlError("expected ?var after BIND ... AS")
                self.expect(")")
                g.binds.append((v2[1:], node))
                continue
            if self.kw("VALUES"):
                g.values.append(self.values_block())
                continue
            if self.kw("MINUS"):
                g.minuses.append(self.group())
                continue
            if self.kw("OPTIONAL"):
                g.optionals.append(self.group())
                continue
            if self.kw("GRAPH"):
                gname = self.term()
                if gname[0] == "qpat":
                    raise SparqlError(
                        "quoted-triple patterns cannot appear in GRAPH position"
                    )
                sub = self.group()
                for tp in _all_triples(sub):
                    if tp.graph is None:  # inner GRAPH already set it
                        tp.graph = gname
                g.subgroups.append(sub)
                continue
            if v == "{":
                nk, nv = self.peek(1)
                if nk in ("name", "pname") and nv.upper() == "SELECT":
                    self.next()  # {
                    self.kw("SELECT")
                    g.subselects.append(self.select(subselect=True))
                    self.expect("}")
                    continue
                first = self.group()
                branches = [first]
                while self.kw("UNION"):
                    branches.append(self.group())
                if len(branches) > 1:
                    g.unions.append(branches)
                else:
                    g.subgroups.append(first)
                continue
            # triples block
            g.triples.extend(self.triples_one())
            if self.peek()[1] == ".":
                self.next()
        return g

    def triples_until(self, closer: str) -> list[TriplePattern]:
        out = []
        while self.peek()[1] != closer:
            out.extend(self.triples_one())
            if self.peek()[1] == ".":
                self.next()
        return out

    def triples_one(self) -> list[TriplePattern]:
        return self._po_items(self.term(), terminators=(".", "}"))

    def _po_items(self, subj: tuple, terminators: tuple) -> list[TriplePattern]:
        """verb objectList (';' ...)* against a fixed subject — shared by
        BGP triples blocks and annotation blocks (same grammar, different
        terminator set)."""
        out: list[TriplePattern] = []
        while True:
            k, v = self.peek()
            if k == "var":
                p = self.term()
            else:
                p = self.path()
            while True:
                o = self.term()
                out.append(TriplePattern(subj, p, o))
                if self.peek()[1] == "{|":
                    # SPARQL-star annotation block: the base pattern stays
                    # and the block's subject is the quoted triple/pattern
                    self.next()
                    out.extend(self._annotation_block(subj, p, o))
                if self.peek()[1] == ",":
                    self.next()
                    continue
                break
            if self.peek()[1] == ";":
                # (';' (verb objectList)?)* — trailing ';' before a
                # terminator is legal and ends the predicate list.
                while self.peek()[1] == ";":
                    self.next()
                if self.peek()[1] in terminators or self.peek()[0] == "eof":
                    break
                continue
            break
        return out

    def _annotation_block(self, s: tuple, p: tuple, o: tuple) -> list[TriplePattern]:
        """`{| verb objectList (';' ...)* |}` with the quoted triple of
        (s, p, o) as subject — ground terms encode as a QUOTED constant,
        variables yield a qpat spec (same machinery as << ?s ?p ?o >>)."""
        from sopspark.terms import QUOTED, py_nt_term

        if p[0] not in ("term", "var"):
            raise SparqlError("annotation blocks need a plain predicate, not a path")
        for t in (s, p, o):
            if t[0] == "qpat":
                raise SparqlError("nested variable quoted-triple patterns are not supported")
        if all(t[0] == "term" for t in (s, p, o)):
            enc = " ".join(py_nt_term(t[1]) for t in (s, p, o))
            qsubj = ("term", (QUOTED, f"<< {enc} >>", None, None))
        else:
            qsubj = ("qpat", (s, p, o))

        out = self._po_items(qsubj, terminators=("|}",))
        self.expect("|}")
        return out

    def values_block(self) -> tuple[list[str], list[list]]:
        """VALUES ?x { ... } or VALUES (?x ?y) { (..) (..) } → (vars, rows);
        UNDEF → None cell."""
        vars_: list[str] = []
        single = False
        if self.peek()[0] == "var":
            vars_.append(self.next()[1][1:])
            single = True
        else:
            self.expect("(")
            while self.peek()[0] == "var":
                vars_.append(self.next()[1][1:])
            self.expect(")")
        self.expect("{")
        rows: list[list] = []

        def cell():
            if self.kw("UNDEF"):
                return None
            t = self.term()
            if t[0] != "term":
                raise SparqlError("VALUES cells must be constants or UNDEF")
            return t[1]

        while self.peek()[1] != "}":
            if single:
                rows.append([cell()])
            else:
                self.expect("(")
                row = []
                while self.peek()[1] != ")":
                    row.append(cell())
                self.expect(")")
                if len(row) != len(vars_):
                    raise SparqlError("VALUES row arity mismatch")
                rows.append(row)
        self.expect("}")
        return vars_, rows

    # --- property paths (SPARQL 1.1 §9, predicate position only) ---
    def path(self) -> tuple:
        """Parse a property path; a bare IRI collapses to a plain ("term",...)
        predicate so simple BGPs take the ordinary scan/join route."""
        node = self.path_alt()
        if node[0] == "link":
            return ("term", (IRI, node[1], None, None))
        return ("path", node)

    def path_alt(self) -> tuple:
        left = self.path_seq()
        while self.peek()[1] == "|":
            self.next()
            left = ("alt", left, self.path_seq())
        return left

    def path_seq(self) -> tuple:
        left = self.path_elt()
        while self.peek()[1] == "/":
            self.next()
            left = ("seq", left, self.path_elt())
        return left

    def path_elt(self) -> tuple:
        p = self.path_primary()
        v = self.peek()[1]
        if v == "+":
            self.next()
            return ("oneplus", p)
        if v == "*":
            self.next()
            return ("star", p)
        if v == "?":
            self.next()
            return ("opt", p)
        return p

    def path_primary(self) -> tuple:
        k, v = self.peek()
        if v == "!":
            self.next()
            fwd: list[str] = []
            inv: list[str] = []

            def member():
                m = self.path_primary()
                if m[0] == "link":
                    fwd.append(m[1])
                elif m[0] == "inv" and m[1][0] == "link":
                    inv.append(m[1][1])
                else:
                    raise SparqlError("negated property set members must be IRIs or ^IRIs")

            if self.peek()[1] == "(":
                self.next()
                member()
                while self.peek()[1] == "|":
                    self.next()
                    member()
                self.expect(")")
            else:
                member()
            return ("nps", tuple(fwd), tuple(inv))
        if v == "^":
            self.next()
            return ("inv", self.path_primary())
        if v == "(":
            self.next()
            p = self.path_alt()
            self.expect(")")
            return p
        if k == "name" and v == "a":
            self.next()
            return ("link", RDF_NS + "type")
        if k == "iri":
            self.next()
            return ("link", v[1:-1])
        if k == "pname":
            self.next()
            pfx, _, local = v.partition(":")
            if pfx not in self.prefixes:
                raise SparqlError(f"undefined prefix {pfx!r}")
            return ("link", self.prefixes[pfx] + _unescape_plocal(local))
        raise SparqlError(f"unexpected token {v!r} in property path")

    def term(self) -> tuple:
        k, v = self.next()
        if v == "<<":
            # SPARQL-star quoted-triple pattern. Ground: matches data quads
            # whose term is the identical quoted triple (kind=QUOTED,
            # canonical NT encoding — same convention as the parsers). With
            # variables (<< ?s ?p ?o >>): a "qpat" spec — the scan
            # destructures matching QUOTED terms via a depth-bounded
            # vectorized regex and binds the inner variables.
            from sopspark.terms import QUOTED, py_nt_term

            inner = []
            for _ in range(3):
                kind, t = self.term()
                if kind == "qpat":
                    raise SparqlError(
                        "nested variable quoted-triple patterns are not supported"
                    )
                inner.append((kind, t))
            if self.next()[1] != ">>":
                raise SparqlError("expected '>>'")
            if all(kind == "term" for kind, _t in inner):
                enc = " ".join(py_nt_term(t) for _k, t in inner)
                return ("term", (QUOTED, f"<< {enc} >>", None, None))
            return ("qpat", tuple(inner))
        if k == "var":
            return ("var", v[1:])
        if k == "iri":
            return ("term", (IRI, v[1:-1], None, None))
        if k == "pname":
            pfx, _, local = v.partition(":")
            if pfx not in self.prefixes:
                raise SparqlError(f"undefined prefix {pfx!r}")
            return ("term", (IRI, self.prefixes[pfx] + _unescape_plocal(local), None, None))
        if k == "string":
            from sopspark.sources.ntriples import unescape_literal

            lex = unescape_literal(v[1:-1])
            nk, nv = self.peek()
            if nk == "langtag":
                self.next()
                return ("term", (LITERAL, lex, None, nv[1:]))
            if nv == "^^":
                self.next()
                dt = self.term()
                return ("term", (LITERAL, lex, dt[1][1], None))
            return ("term", (LITERAL, lex, None, None))
        if k == "number":
            # SPARQL grammar: INTEGER → xsd:integer, DECIMAL → xsd:decimal,
            # DOUBLE (an exponent present) → xsd:double
            if re.fullmatch(r"[+-]?\d+", v):
                dt = XSD + "integer"
            elif "e" in v or "E" in v:
                dt = XSD + "double"
            else:
                dt = XSD + "decimal"
            return ("term", (LITERAL, v, dt, None))
        if v == "[":
            self.expect("]")
            return ("var", f"_anon{next(self._bn)}")
        if k == "name" and v in ("true", "false"):
            return ("term", (LITERAL, v, XSD + "boolean", None))
        raise SparqlError(f"unexpected term {v!r}")

    # --- embedded expression parsing: re-lex the token span via expr.py ---
    def expr_until_as(self, closers: tuple = (")",)) -> Node:
        depth = 0
        parts = []
        while True:
            k, v = self.peek()
            if k == "eof":
                break
            if v == "(":
                depth += 1
            if v in closers and depth == 0:
                break
            if v == ")":
                depth -= 1
            if k in ("name", "pname") and v.upper() == "AS" and depth == 0:
                break
            self.next()
            if k == "pname" and v in self._pname_cache():
                parts.append(f"<{self._pname_cache()[v]}>")
            elif k == "pname" and ":" in v:
                pfx, _, local = v.partition(":")
                if pfx in self.prefixes:
                    parts.append("<" + self.prefixes[pfx] + _unescape_plocal(local) + ">")
                else:
                    parts.append(v)
            else:
                parts.append(v)
        return parse_expr(" ".join(parts))

    def expr_simple(self) -> Node:
        # FILTER func(...) or FILTER ?v — consume one primary expression
        k, v = self.peek()
        if v == "(":
            self.next()
            node = self.expr_until_as(closers=(")",))
            self.expect(")")
            return node
        # function call or lone var
        parts = [self.next()[1]]
        if self.peek()[1] == "(":
            depth = 0
            while True:
                k, v = self.next()
                parts.append(v)
                if v == "(":
                    depth += 1
                elif v == ")":
                    depth -= 1
                    if depth == 0:
                        break
        return parse_expr(" ".join(parts))

    def _pname_cache(self):
        return {}


def _all_triples(g: PatternGroup):
    """Every TriplePattern reachable from g, including those nested inside
    FILTER (NOT) EXISTS, MINUS, and subselects — GRAPH scoping (the active
    graph, SPARQL 1.1 §13.3) applies to all of them."""
    yield from g.triples
    for sub in g.subgroups:
        yield from _all_triples(sub)
    for o in g.optionals:
        yield from _all_triples(o)
    for branches in g.unions:
        for b in branches:
            yield from _all_triples(b)
    for sub, _positive in g.exists:
        yield from _all_triples(sub)
    for sub in g.minuses:
        yield from _all_triples(sub)
    for sq in g.subselects:
        yield from _all_triples(sq.where)


def parse_query(src: str) -> Query:
    p = _QP(src)
    q = p.parse()
    if p.kw("VALUES"):
        # trailing ValuesClause (grammar rule [28]): joined into the WHERE
        # group's solutions. For non-aggregate queries this is exactly the
        # spec algebra (18.2.4: Join(P, ToMultiSet(data))); with GROUP BY
        # the spec joins after aggregation — a documented divergence for
        # the rare VALUES-over-aggregated-vars case.
        q.where.values.append(p.values_block())
    if p.peek()[0] != "eof":
        raise SparqlError(f"trailing tokens at {p.peek()[1]!r}")
    return q


# ---------------------------------------------------------------------------
# compiler
# ---------------------------------------------------------------------------

def _term_lit(t: tuple) -> Column:
    kind, value, dt, lang = t
    return F.struct(
        F.lit(kind).cast("tinyint").alias("kind"),
        F.lit(value).alias("value"),
        F.lit(dt).cast("string").alias("dt"),
        F.lit(lang).cast("string").alias("lang"),
    )


def _nt_term_re(depth: int = 3) -> str:
    """Regex matching one canonical NT-star term, quoted-triple nesting
    bounded at ``depth`` (no capturing groups). Java regex can't recurse,
    so the grammar is expanded ``depth`` times — deeper-nested quoted terms
    simply fail the destructure match (row filtered, documented cap)."""
    iri = r"<[^<>\s]*>"
    bnode = r"_:\S+"
    lit = r'"(?:[^"\\]|\\.)*"(?:\^\^<[^<>\s]*>|@[A-Za-z0-9\-]+)?'
    t = f"(?:{iri}|{bnode}|{lit})"
    for _ in range(depth):
        t = f"(?:{iri}|{bnode}|{lit}|<< {t} {t} {t} >>)"
    return t


def _unescape_nt(c: Column) -> Column:
    """Inverse of terms.escape_literal (canonical escapes only), single
    logical pass: split on escaped backslashes FIRST, decode the simple
    escapes inside each segment, then rejoin with a literal backslash — so
    ``\\\\n`` stays backslash + n instead of decoding as a newline, and no
    in-band sentinel character can clash with literal data."""

    def simple(seg: Column) -> Column:
        seg = F.regexp_replace(seg, r"\\n", "\n")
        seg = F.regexp_replace(seg, r"\\r", "\r")
        seg = F.regexp_replace(seg, r"\\t", "\t")
        return F.regexp_replace(seg, r"\\\"", '"')

    parts = F.split(c, r"\\\\", -1)
    return F.array_join(F.transform(parts, simple), "\\")


def _decode_nt_term(c: Column) -> Column:
    """Canonical NT term string → TERM struct (vectorized inverse of
    terms.nt_term; plain/xsd:string literals normalize to dt NULL like the
    parsers)."""
    from sopspark.terms import BNODE, QUOTED, XSD_STRING

    def mk(kind, value, dt=None, lang=None):
        return F.struct(
            F.lit(kind).cast("tinyint").alias("kind"),
            value.alias("value"),
            (dt if dt is not None else F.lit(None).cast("string")).alias("dt"),
            (lang if lang is not None else F.lit(None).cast("string")).alias("lang"),
        )

    lex = _unescape_nt(F.regexp_extract(c, r'^"((?:[^"\\]|\\.)*)"', 1))
    dt_raw = F.regexp_extract(c, r"\^\^<([^<>\s]*)>$", 1)
    dt = F.when((dt_raw != "") & (dt_raw != XSD_STRING), dt_raw)
    lang_raw = F.regexp_extract(c, r'"@([A-Za-z0-9\-]+)$', 1)
    lang = F.when(lang_raw != "", lang_raw)
    return (
        F.when(c.startswith("<<"), mk(QUOTED, c))
        .when(c.startswith("<"), mk(IRI, F.regexp_extract(c, r"^<(.*)>$", 1)))
        .when(c.startswith("_:"), mk(BNODE, F.substring(c, 3, 2_000_000)))
        .when(c.startswith('"'), mk(LITERAL, lex, dt, lang))
    )


def _scan_pattern(quads: DataFrame, tp: TriplePattern) -> DataFrame:
    """One triple pattern → solution DataFrame (one column per variable).

    Repeated variables (?x ?p ?x — including across quoted-pattern
    destructures) constrain via null-safe equality of the bound columns."""
    from sopspark.terms import QUOTED, py_nt_term

    df = quads
    cols: dict[str, Column] = {}
    conds: list[Column] = []

    def bind(var: str, col: Column) -> None:
        if var in cols:
            conds.append(col.eqNullSafe(cols[var]))
        else:
            cols[var] = col

    for pos, spec in (("s", tp.s), ("p", tp.p), ("o", tp.o)):
        if spec[0] == "var":
            bind(spec[1], F.col(pos))
        elif spec[0] == "qpat":
            # SPARQL-star variable quoted pattern: constrain to QUOTED
            # terms, destructure the canonical NT encoding with one
            # vectorized regex, bind inner variables / pin inner terms
            if pos == "p":
                raise SparqlError(
                    "quoted-triple patterns cannot appear in predicate position"
                )
            t = F.col(pos)
            conds.append(t.isNotNull() & (t["kind"] == QUOTED))
            tre = _nt_term_re()
            pat = f"^<< ({tre}) ({tre}) ({tre}) >>$"
            parts = [F.regexp_extract(t["value"], pat, i) for i in (1, 2, 3)]
            conds.append(parts[0] != "")  # destructure matched (depth cap)
            for inner, part in zip(spec[1], parts):
                if inner[0] == "var":
                    bind(inner[1], _decode_nt_term(part))
                else:
                    conds.append(part == F.lit(py_nt_term(inner[1])))
        else:
            conds.append(F.col(pos).eqNullSafe(_term_lit(spec[1])))
    # graph position
    if tp.graph is None:
        conds.append(F.col("g").isNull())
    elif tp.graph[0] == "var":
        conds.append(F.col("g").isNotNull())
        bind(tp.graph[1], F.col("g"))
    else:
        conds.append(F.col("g").eqNullSafe(_term_lit(tp.graph[1])))
    for cnd in conds:
        df = df.where(cnd)
    return df.select(*[c.alias(v) for v, c in cols.items()])


def _graph_scope(quads: DataFrame, graph: tuple | None) -> DataFrame:
    """Restrict quads to the pattern's graph. ``GRAPH ?var`` keeps all named
    graphs — the pair relation then carries the graph as ``_pg`` so closures
    run independently per graph (one partition key added, same algebra)."""
    if graph is None:
        return quads.where(F.col("g").isNull())
    if graph[0] == "var":
        return quads.where(F.col("g").isNotNull())
    return quads.where(F.col("g").eqNullSafe(_term_lit(graph[1])))


def _per_graph(graph: tuple | None) -> bool:
    return graph is not None and graph[0] == "var"


def _path_identity(scoped: DataFrame, per_graph: bool = False) -> DataFrame:
    """Zero-length path: every term appearing as subject or object relates
    to itself (SPARQL 1.1 §18.4 ZeroLengthPath) — per named graph when the
    pattern sits under GRAPH ?var."""
    pg = [F.col("g").alias("_pg")] if per_graph else []
    nodes = scoped.select(*pg, F.col("s").alias("_n")).unionByName(
        scoped.select(*pg, F.col("o").alias("_n"))
    ).distinct()
    keep = ["_pg"] if per_graph else []
    return nodes.select(*keep, F.col("_n").alias("_ps"), F.col("_n").alias("_po"))


def _materialize(df: DataFrame) -> DataFrame:
    """localCheckpoint with a cache hop first: checkpointing some AQE /
    nested-schema-pruned plans directly trips a Spark attribute-resolution
    bug (NoSuchElementException: key not found: _ps#NN); caching hands the
    checkpoint a fully resolved InMemoryRelation."""
    cached = df.persist()
    cached.count()
    out = cached.localCheckpoint()
    cached.unpersist()
    return out


def _transitive_closure(
    base: DataFrame, max_iter: int | None = None, per_graph: bool = False
) -> DataFrame:
    """Distinct (_ps, _po) pairs → transitive closure, semi-naive: each round
    extends only the frontier (pairs new last round) by one base hop, so work
    is proportional to new facts, not the whole closure. localCheckpoint
    truncates lineage per round; rounds ≈ graph diameter. Runs to FIXPOINT
    (semi-naive always terminates on a finite graph: every round adds at
    least one new pair, bounded by n²) — an earlier 32-round cap silently
    truncated ``+``/``*`` results on chains longer than 33. ``max_iter``
    now RAISES on non-convergence instead of returning a wrong answer
    (useful as an explicit resource guard).
    ``per_graph``: pairs carry ``_pg`` and hops never cross graphs — the join
    key simply grows by the graph column."""
    edges = _materialize(base.distinct())
    closure = edges
    frontier = edges
    rounds = 0
    while True:
        cond = F.col("f._po").eqNullSafe(F.col("e._ps"))
        if per_graph:
            cond = cond & F.col("f._pg").eqNullSafe(F.col("e._pg"))
        keep = [F.col("f._pg").alias("_pg")] if per_graph else []
        nxt = (
            frontier.alias("f")
            .join(edges.alias("e"), cond)
            .select(*keep, F.col("f._ps").alias("_ps"), F.col("e._po").alias("_po"))
            .distinct()
        )
        new = _materialize(nxt.subtract(closure))
        if new.isEmpty():
            break
        rounds += 1
        if max_iter is not None and rounds > max_iter:
            raise SparqlError(
                f"property-path closure did not converge within {max_iter} rounds"
            )
        closure = _materialize(closure.unionByName(new))
        frontier = new
    return closure


def _path_pairs(quads: DataFrame, path: tuple, graph: tuple | None) -> DataFrame:
    """Property-path AST → DataFrame of (_ps, _po) term pairs.

    link → filtered scan; ^ → swap; / → hop join; | → union-distinct;
    + → semi-naive transitive closure; * / ? → closure/base ∪ identity.
    """
    op = path[0]
    per = _per_graph(graph)
    pg_sel = [F.col("g").alias("_pg")] if per else []
    pg_keep = [F.col("_pg")] if per else []
    if op == "link":
        scoped = _graph_scope(quads, graph)
        return scoped.where(
            F.col("p").eqNullSafe(_term_lit((IRI, path[1], None, None)))
        ).select(*pg_sel, F.col("s").alias("_ps"), F.col("o").alias("_po"))
    if op == "nps":
        # !(p1|..|^q1|..): forward edges whose predicate ∉ {p}, unioned with
        # swapped edges whose predicate ∉ {q} (SPARQL 1.1 §9.1 NPS split)
        fwd, inv = path[1], path[2]
        scoped = _graph_scope(quads, graph)
        parts = []
        if fwd:
            parts.append(
                scoped.where(~F.col("p")["value"].isin(list(fwd)))
                .select(*pg_sel, F.col("s").alias("_ps"), F.col("o").alias("_po"))
            )
        if inv:
            parts.append(
                scoped.where(~F.col("p")["value"].isin(list(inv)))
                .select(*pg_sel, F.col("o").alias("_ps"), F.col("s").alias("_po"))
            )
        out = parts[0]
        for p_ in parts[1:]:
            out = out.unionByName(p_)
        return out.distinct() if len(parts) > 1 else out
    if op == "inv":
        inner = _path_pairs(quads, path[1], graph)
        return inner.select(*pg_keep, F.col("_po").alias("_ps"), F.col("_ps").alias("_po"))
    if op == "seq":
        a = _path_pairs(quads, path[1], graph)
        b = _path_pairs(quads, path[2], graph)
        cond = F.col("a._po").eqNullSafe(F.col("b._ps"))
        if per:
            cond = cond & F.col("a._pg").eqNullSafe(F.col("b._pg"))
        keep = [F.col("a._pg").alias("_pg")] if per else []
        return (
            a.alias("a")
            .join(b.alias("b"), cond)
            .select(*keep, F.col("a._ps").alias("_ps"), F.col("b._po").alias("_po"))
            .distinct()
        )
    if op == "alt":
        return _path_pairs(quads, path[1], graph).unionByName(
            _path_pairs(quads, path[2], graph)
        ).distinct()
    if op == "oneplus":
        return _transitive_closure(_path_pairs(quads, path[1], graph), per_graph=per)
    if op == "star":
        plus = _transitive_closure(_path_pairs(quads, path[1], graph), per_graph=per)
        return plus.unionByName(_path_identity(_graph_scope(quads, graph), per)).distinct()
    if op == "opt":
        base = _path_pairs(quads, path[1], graph)
        return base.unionByName(_path_identity(_graph_scope(quads, graph), per)).distinct()
    raise SparqlError(f"unsupported path operator {op!r}")


def _path_admits_zero(path: tuple) -> bool:
    """Does the path's language contain the empty word (zero-length match)?"""
    op = path[0]
    if op in ("star", "opt"):
        return True
    if op == "seq":
        return _path_admits_zero(path[1]) and _path_admits_zero(path[2])
    if op == "alt":
        return _path_admits_zero(path[1]) or _path_admits_zero(path[2])
    if op == "inv":
        return _path_admits_zero(path[1])
    return False


def _scan_path_pattern(quads: DataFrame, tp: TriplePattern) -> DataFrame:
    """Triple pattern whose predicate is a property path → solution frame."""
    pairs = _path_pairs(quads, tp.p[1], tp.graph)
    if _path_admits_zero(tp.p[1]):
        # §18.4 ZeroLengthPath: a GROUND endpoint relates to itself even
        # when the term does not occur in the graph (the identity built
        # from graph nodes alone misses it — `ASK { <a> <p>* <a> }` must
        # hold on a dataset never mentioning <a>). Seed (t, t) for each
        # ground endpoint; the endpoint filters below keep exactly the
        # spec's solutions (both-ground unequal terms filter away).
        seeds = [t for t in (tp.s, tp.o) if t[0] != "var" and t[0] != "qpat"]
        if seeds:
            per = _per_graph(tp.graph)
            for term in seeds:
                if per:
                    seed = (
                        _graph_scope(quads, tp.graph)
                        .select(F.col("g").alias("_pg"))
                        .distinct()
                        .select(
                            "_pg",
                            _term_lit(term[1]).alias("_ps"),
                            _term_lit(term[1]).alias("_po"),
                        )
                    )
                else:
                    seed = quads.sparkSession.range(1).select(
                        _term_lit(term[1]).alias("_ps"),
                        _term_lit(term[1]).alias("_po"),
                    )
                pairs = pairs.unionByName(seed)
            pairs = pairs.distinct()
    cols: dict[str, Column] = {}  # var name -> pair-relation column
    bound: dict[str, str] = {}  # var name -> _pg/_ps/_po (for repeat vars)
    df = pairs

    def bind(var: str, pos: str):
        nonlocal df
        if var in bound:
            df = df.where(F.col(pos).eqNullSafe(F.col(bound[var])))
        else:
            bound[var] = pos
            cols[var] = F.col(pos)

    if _per_graph(tp.graph):
        bind(tp.graph[1], "_pg")
    if tp.s[0] == "var":
        bind(tp.s[1], "_ps")
    else:
        df = df.where(F.col("_ps").eqNullSafe(_term_lit(tp.s[1])))
    if tp.o[0] == "var":
        bind(tp.o[1], "_po")
    else:
        df = df.where(F.col("_po").eqNullSafe(_term_lit(tp.o[1])))
    if not cols:  # fully ground: keep a marker column for the semi-join
        return df.limit(1).select(F.lit(1).alias("_anon_ground"))
    return df.select(*[c.alias(v) for v, c in cols.items()])


def _expr_vars(n: Node) -> set[str]:
    """Variable names referenced anywhere in an expression tree."""
    out: set[str] = set()

    def walk(x):
        if isinstance(x, Node):
            if x.op == "var":
                out.add(x.args[0])
            for a in x.args:
                walk(a)
        elif isinstance(x, (tuple, list)):
            for e in x:
                walk(e)

    walk(n)
    return out


def _bindable_vars(g: PatternGroup) -> set[str]:
    """Variables a group can BIND (patterns, BIND, VALUES, subselect
    projections, nested groups) — not EXISTS/MINUS, which never bind."""
    vs: set[str] = set()

    def spec(t):
        if t[0] == "var":
            vs.add(t[1])
        elif t[0] == "qpat":
            for inner in t[1]:
                spec(inner)

    for tp in g.triples:
        spec(tp.s)
        if tp.p[0] == "var":
            vs.add(tp.p[1])
        spec(tp.o)
        if tp.graph and tp.graph[0] == "var":
            vs.add(tp.graph[1])
    for var, _node in g.binds:
        vs.add(var)
    for vars_, _rows in g.values:
        vs.update(vars_)
    for sub in g.subgroups:
        vs |= _bindable_vars(sub)
    for o in g.optionals:
        vs |= _bindable_vars(o)
    for branches in g.unions:
        for b in branches:
            vs |= _bindable_vars(b)
    for sq in g.subselects:
        for v in sq.variables:
            if v == "*":
                vs |= _bindable_vars(sq.where)
            else:
                vs.add(v[0])
    return vs


def _group_is_empty(g: PatternGroup) -> bool:
    """True when the group (recursively) contains no binding or filtering
    elements — e.g. an EXISTS body whose only filters were pulled into the
    enclosing join condition."""
    return not (
        g.triples
        or g.unions
        or g.values
        or g.subselects
        or g.optionals
        or g.binds
        or g.exists
        or g.minuses
        or g.filters
    ) and all(_group_is_empty(s) for s in g.subgroups)


def _split_correlated(g: PatternGroup, inner_vars: set) -> tuple[PatternGroup, list[Node]]:
    """Pull CORRELATED filters (referencing variables the whole subtree
    cannot bind) out of ``g`` and its nested plain subgroups — they belong
    in the enclosing OPTIONAL/EXISTS join condition, where the outer row's
    bindings are visible. Filters inside UNION branches / nested optionals
    are left alone (they apply per branch / per optional row)."""
    from dataclasses import replace as _dc_replace

    own = [f for f in g.filters if not _expr_vars(f) <= inner_vars]
    kept = [f for f in g.filters if f not in own]
    deferred = list(own)
    new_subs = []
    for s in g.subgroups:
        s2, d2 = _split_correlated(s, inner_vars)
        new_subs.append(s2)
        deferred += d2
    if not deferred:
        return g, []
    return _dc_replace(g, filters=kept, subgroups=new_subs), deferred


def _join_filtered(
    a: DataFrame, b: DataFrame, deferred: list[Node], how: str
) -> DataFrame:
    """Join with deferred filters in the CONDITION over the merged binding
    — SPARQL algebra LeftJoin(P1, P2, F) for OPTIONAL (§8.2) and the
    correlated form of (NOT) EXISTS (§8.1.1: the substituted pattern sees
    the outer row's bindings). MINUS deliberately does NOT take this path
    (§8.3 evaluates it independently of the outer bindings)."""
    shared = [c for c in a.columns if c in b.columns]
    mn_a, mn_b = _mn(a), _mn(b)
    nullable = {c for c in shared if c in mn_a or c in mn_b}
    bb = b
    for c in b.columns:
        bb = bb.withColumnRenamed(c, f"_r_{c}")
    cond = F.lit(True)
    for c in shared:
        lc, rc = F.col(c), F.col(f"_r_{c}")
        eq = (lc.isNull() | rc.isNull() | (lc == rc)) if c in nullable else (lc == rc)
        cond = cond & eq
    env = {
        c: (F.coalesce(F.col(c), F.col(f"_r_{c}")) if c in nullable else F.col(c))
        for c in a.columns
    }
    for c in b.columns:
        if c not in a.columns:
            env[c] = F.col(f"_r_{c}")
    for fnode in deferred:
        cond = cond & F.coalesce(_compile_bool(fnode, env, True), F.lit(False))
    out = a.join(bb, on=cond, how=how)
    if how in ("left_semi", "left_anti"):
        return _with_mn(out, mn_a)  # left columns only
    keep = [
        (F.coalesce(F.col(c), F.col(f"_r_{c}")).alias(c) if c in nullable else F.col(c))
        for c in a.columns
    ] + [F.col(f"_r_{c}").alias(c) for c in b.columns if c not in a.columns]
    return _with_mn(
        out.select(*keep), set(mn_a) | {c for c in b.columns if c not in shared}
    )


def _mn(df: DataFrame) -> frozenset:
    """Maybe-UNBOUND solution variables of a frame. SPARQL's join is over
    COMPATIBLE mappings (§18.5): an unbound shared variable matches any
    binding, which SQL NULL equality gets wrong. Pattern scans always
    bind, so nullability enters only at known construction points (UNION
    var asymmetry, VALUES UNDEF, OPTIONAL, BIND, subselect projection) —
    each re-attaches this attribute, and joins consult it so the common
    all-bound case keeps plain (hash-joinable) equality conditions."""
    return getattr(df, "_sop_maybe_null", frozenset())


def _with_mn(df: DataFrame, mn) -> DataFrame:
    df._sop_maybe_null = frozenset(mn)
    return df


def _join_solutions(a: DataFrame | None, b: DataFrame, how: str = "inner") -> DataFrame:
    if a is None:
        return b
    shared = [c for c in a.columns if c in b.columns]
    mn_a, mn_b = _mn(a), _mn(b)
    if not shared:
        out = a.crossJoin(b) if how == "inner" else a.join(b, how="left")
        return _with_mn(
            out, set(mn_a) | (set(mn_b) if how == "inner" else set(b.columns))
        )
    nullable = [c for c in shared if c in mn_a or c in mn_b]
    if not nullable:
        out = a.join(b, on=shared, how=how)
        if how in ("left_semi", "left_anti"):
            return _with_mn(out, mn_a)
        if how == "inner":
            return _with_mn(out, set(mn_a) | {c for c in mn_b if c not in shared})
        return _with_mn(out, set(mn_a) | {c for c in b.columns if c not in shared})
    # compatibility join (§18.5): unbound shared vars match anything, the
    # merged binding takes whichever side is bound
    bb = b
    for c in b.columns:
        bb = bb.withColumnRenamed(c, f"_r_{c}")
    cond = F.lit(True)
    for c in shared:
        lc, rc = F.col(c), F.col(f"_r_{c}")
        eq = (lc.isNull() | rc.isNull() | (lc == rc)) if c in nullable else (lc == rc)
        cond = cond & eq
    out = a.join(bb, on=cond, how=how)
    if how in ("left_semi", "left_anti"):
        return _with_mn(out, mn_a)
    keep = []
    for c in a.columns:
        if c in nullable:
            keep.append(F.coalesce(F.col(c), F.col(f"_r_{c}")).alias(c))
        else:
            keep.append(F.col(c))
    keep += [F.col(f"_r_{c}").alias(c) for c in b.columns if c not in a.columns]
    out = out.select(*keep)
    if how == "inner":
        mn = {c for c in mn_a if c not in shared}
        mn |= {c for c in mn_b if c not in shared}
        mn |= {c for c in shared if c in mn_a and c in mn_b}
    else:  # left: unmatched rows null every b-only column
        mn = set(mn_a) | {c for c in b.columns if c not in shared}
    return _with_mn(out, mn)


def _eval_group(quads: DataFrame, g: PatternGroup) -> DataFrame | None:
    sol: DataFrame | None = None
    for tp in g.triples:
        if tp.p[0] == "path":
            if tp.s[0] == "qpat" or tp.o[0] == "qpat":
                raise SparqlError(
                    "quoted-triple patterns are not supported as property-path endpoints"
                )
            sol = _join_solutions(sol, _scan_path_pattern(quads, tp))
        else:
            sol = _join_solutions(sol, _scan_pattern(quads, tp))
    for sub in g.subgroups:
        sub_sol = _eval_group(quads, sub)
        if sub_sol is not None:
            sol = _join_solutions(sol, sub_sol)
    for subq in g.subselects:
        inner, _ = _eval_select(_eval_group(quads, subq.where), subq, True)
        sol = _join_solutions(sol, inner)
    for branches in g.unions:
        parts = [_eval_group(quads, b) for b in branches]
        parts = [p for p in parts if p is not None]
        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p, allowMissingColumns=True)
        # a var absent from SOME branch is unbound in that branch's rows
        all_cols = set().union(*[set(p.columns) for p in parts])
        missing = {c for c in all_cols if any(c not in p.columns for p in parts)}
        u = _with_mn(u, set().union(*[_mn(p) for p in parts]) | missing)
        sol = _join_solutions(sol, u)
    for vars_, rows in g.values:
        spark = quads.sparkSession
        schema = ", ".join(f"{v} struct<kind:tinyint,value:string,dt:string,lang:string>" for v in vars_)
        vdf = local_df(spark, [tuple(r) for r in rows], schema)
        # UNDEF rows leave the variable unbound (compatible-with-anything)
        undef = {v for i, v in enumerate(vars_) if any(r[i] is None for r in rows)}
        vdf = _with_mn(F.broadcast(vdf), undef)
        sol = _join_solutions(sol, vdf) if sol is not None else vdf
    if sol is None and (g.binds or g.filters) and not (g.exists or g.minuses):
        # §18.5: Group = Join(Z, …) — a group whose only members are
        # BIND/FILTER evaluates over the unit solution (one empty mapping),
        # so { BIND(1 AS ?x) } yields ONE row, not an error.
        sol = _with_mn(quads.sparkSession.range(1).select(), set())
    if sol is None and (g.binds or g.filters or g.exists or g.minuses):
        raise SparqlError("empty group pattern")

    def _apply_bind(sol: DataFrame, var: str, node: Node) -> DataFrame:
        from sopspark.functions.expr import Term, _compile, term_eq

        env = {c: F.col(c) for c in sol.columns}
        t = _compile(node, env, True)
        val = t.col()
        if var in sol.columns:
            # the variable is already pattern-bound: the legal reading is
            # BIND-before-pattern (§10.1 up-to-point rule), whose algebra
            # is Join(Extend(x, expr), BGP) — i.e. an equality constraint,
            # NOT a silent overwrite. An erroring expr leaves x unbound in
            # Extend, which is compatible with any pattern binding; an
            # UNBOUND pattern-side binding (OPTIONAL/UNION maybe-null) is
            # likewise compatible and takes the Extend value — term_eq
            # against NULL must not silently drop the row.
            keep = (
                val.isNull()
                | F.col(var).isNull()
                | F.coalesce(term_eq(t, Term.read(F.col(var))), F.lit(False))
            )
            out = sol.where(keep)
            if var in _mn(sol):  # only maybe-null vars can be unbound
                out = out.withColumn(var, F.coalesce(F.col(var), val))
            return _with_mn(out, _mn(sol))
        # a BIND expression can error → unbound
        return _with_mn(sol.withColumn(var, val), _mn(sol) | {var})

    # The parser keeps binds/optionals/unions in separate lists, losing the
    # group's syntactic order. Two-phase heuristic: a BIND whose expression
    # references a variable that only an OPTIONAL in this group can bind
    # must run AFTER the optionals (the common
    # `OPTIONAL {...} BIND(COALESCE(?v,...) AS ?w)` shape — running it
    # first would see ?v unbound and mis-bind every row); all other binds
    # keep their pre-optional position so optionals can join on them.
    opt_vars: set[str] = set()
    for opt in g.optionals:
        opt_vars |= _bindable_vars(opt)
    opt_vars -= set(sol.columns) if sol is not None else set()
    late_binds = [
        (v, n) for v, n in g.binds if _expr_vars(n) & opt_vars
    ]
    for var, node in g.binds:
        if (var, node) in late_binds:
            continue
        sol = _apply_bind(sol, var, node)
    for opt in g.optionals:
        # filters that reference variables the optional group cannot bind
        # belong to the LEFT JOIN condition (LeftJoin(P1, P2, F)), not to
        # the group's standalone evaluation — there the outer vars would be
        # unbound and the filter would drop every row. _split_correlated
        # walks NESTED plain subgroups too (a correlated filter inside
        # braces is just as correlated).
        opt_inner, deferred = _split_correlated(opt, _bindable_vars(opt))
        if deferred and sol is not None:
            opt_sol = _eval_group(quads, opt_inner)
            if opt_sol is not None:
                sol = _join_filtered(sol, opt_sol, deferred, how="left")
        else:
            opt_sol = _eval_group(quads, opt)
            if opt_sol is not None:
                sol = _join_solutions(sol, opt_sol, how="left")
    for var, node in late_binds:
        sol = _apply_bind(sol, var, node)
    for sub, positive in g.exists:
        how = "left_semi" if positive else "left_anti"
        # filters over variables the EXISTS pattern cannot bind see the
        # OUTER row's bindings (§8.1.1 substitution) → join condition;
        # collected recursively from nested plain subgroups too
        sub2, ex_deferred = _split_correlated(sub, _bindable_vars(sub))
        if ex_deferred:
            if _group_is_empty(sub2):
                # EXISTS { FILTER(...) } — pure substitution (§8.1.1): the
                # condition evaluates against the outer row alone
                env = {c: F.col(c) for c in sol.columns}
                cond = F.lit(True)
                for fnode in ex_deferred:
                    cond = cond & F.coalesce(_compile_bool(fnode, env, True), F.lit(False))
                sol = _with_mn(sol.where(cond if positive else ~cond), _mn(sol))
                continue
            inner = _eval_group(quads, sub2)
            sol = _join_filtered(sol, inner, ex_deferred, how=how)
            continue
        inner = _eval_group(quads, sub)
        shared = [c for c in sol.columns if c in inner.columns]
        if shared:
            # _join_solutions applies compatibility semantics when a
            # shared var may be unbound (semi/anti keep left columns)
            sol = _join_solutions(sol, inner, how=how)
        else:  # uncorrelated: constant guard over the whole solution set
            nonempty = inner.limit(1).count() > 0
            if nonempty != positive:
                sol = _with_mn(sol.limit(0), _mn(sol))
    for m in g.minuses:
        inner = _eval_group(quads, m)
        shared = [c for c in sol.columns if c in inner.columns]
        if shared:  # no shared domain → MINUS removes nothing (SPARQL 1.1 §8.3)
            mn_s, mn_i = _mn(sol), _mn(inner)
            nullable = {c for c in shared if c in mn_s or c in mn_i}
            if nullable:
                # §8.3: remove μ1 iff ∃ compatible μ2 with NONEMPTY domain
                # overlap — compatibility alone is not enough when shared
                # vars can be unbound (a row unbound on every shared var
                # must survive)
                ii = inner
                for c in inner.columns:
                    ii = ii.withColumnRenamed(c, f"_r_{c}")
                compat = F.lit(True)
                overlap = F.lit(False)
                for c in shared:
                    lc, rc = F.col(c), F.col(f"_r_{c}")
                    eq = (
                        (lc.isNull() | rc.isNull() | (lc == rc))
                        if c in nullable
                        else (lc == rc)
                    )
                    compat = compat & eq
                    overlap = overlap | (lc.isNotNull() & rc.isNotNull())
                sol = _with_mn(sol.join(ii, compat & overlap, "left_anti"), mn_s)
            else:
                sol = _with_mn(sol.join(inner, on=shared, how="left_anti"), mn_s)
    if sol is None:
        raise SparqlError("empty group pattern")
    for fnode in g.filters:
        env = {c: F.col(c) for c in sol.columns}
        sol = _with_mn(
            sol.where(F.coalesce(_compile_bool(fnode, env, True), F.lit(False))),
            _mn(sol),
        )
    return sol


@dataclass
class SparqlResult:
    kind: str  # bindings | boolean | quads
    df: DataFrame | None = None
    value: bool | None = None
    variables: list[str] | None = None


def sparql_query(quads: DataFrame, query: str, recognize_datatypes: bool = True) -> SparqlResult:
    """Evaluate a SPARQL subset query against a quad DataFrame."""
    from sopspark.functions.expr import now_scope

    with now_scope():
        return _sparql_query_pinned(quads, query, recognize_datatypes)


def _sparql_query_pinned(
    quads: DataFrame, query: str, recognize_datatypes: bool = True
) -> SparqlResult:
    # every NOW() in the query sees the single instant pinned by the
    # enclosing now_scope (SPARQL 17.4.5.1)
    ok = quads.where(F.col("err").isNull()) if "err" in quads.columns else quads
    q = parse_query(query)

    if q.from_graphs or q.from_named:
        # SPARQL 13.2: the dataset clauses REPLACE the supplied dataset —
        # default graph = union of the FROM graphs (empty if none), named
        # graphs = exactly the FROM NAMED ones (none if none listed).
        gval = F.col("g")["value"]
        named = F.col("g").isNotNull()
        parts = []
        if q.from_graphs:
            # graph MERGE is set semantics: a triple present in several
            # FROM graphs appears once in the merged default graph
            parts.append(
                ok.where(named & gval.isin(q.from_graphs))
                .withColumn("g", F.lit(None).cast(TERM_SQL_TYPE))
                .dropDuplicates(["s", "p", "o"])
            )
        if q.from_named:
            parts.append(ok.where(named & gval.isin(q.from_named)))
        ok = parts[0]
        for p in parts[1:]:
            ok = ok.unionByName(p)

    if q.form == "describe":
        return _eval_describe(ok, q)

    sol = _eval_group(ok, q.where)

    if q.form == "ask":
        return SparqlResult("boolean", value=sol.limit(1).count() > 0)

    if q.form == "select":
        out, names = _eval_select(sol, q, recognize_datatypes)
        return SparqlResult("bindings", df=out, variables=names)

    if q.form == "construct":
        parts = []
        env_cols = sol.columns
        for tp in q.template:
            def col_of(spec):
                if spec[0] == "var":
                    return F.col(spec[1]) if spec[1] in env_cols else F.lit(None).cast(TERM_SQL_TYPE)
                return _term_lit(spec[1])

            part = sol.select(
                col_of(tp.s).alias("s"), col_of(tp.p).alias("p"), col_of(tp.o).alias("o")
            )
            parts.append(part)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out = (
            out.where(F.col("s").isNotNull() & F.col("p").isNotNull() & F.col("o").isNotNull())
            .withColumn("g", F.lit(None).cast(TERM_SQL_TYPE))
            .withColumn("err", F.lit(None).cast("string"))
            .dropDuplicates(["s", "p", "o"])
        )
        return SparqlResult("quads", df=out)

    raise SparqlError(f"unsupported form {q.form}")


def _eval_describe(ok: DataFrame, q: Query) -> SparqlResult:
    """DESCRIBE → subject-outgoing quads of each resource (the simple
    description form; re-enters the pipeline like CONSTRUCT,
    ``src/query.rs:133-136``). Resource set = constants ∪ distinct WHERE
    bindings, broadcast for the semi-join against the corpus."""
    res_parts: list[DataFrame] = []
    consts = [r[1] for r in q.describe if r[0] == "term"]
    if consts:
        spark = ok.sparkSession
        cdf = local_df(
            spark, [(c,) for c in consts], "_r struct<kind:tinyint,value:string,dt:string,lang:string>"
        )
        res_parts.append(cdf)
    var_names = [r[1] for r in q.describe if r[0] == "var"]
    if var_names:
        sol = _eval_group(ok, q.where)
        for v in var_names:
            if v not in sol.columns:
                raise SparqlError(f"DESCRIBE ?{v} not bound in WHERE")
            res_parts.append(sol.select(F.col(v).alias("_r")).distinct())
    res = res_parts[0]
    for p in res_parts[1:]:
        res = res.unionByName(p)
    out = ok.join(F.broadcast(res.distinct()), ok["s"].eqNullSafe(F.col("_r")), "left_semi")
    if "err" not in out.columns:
        out = out.withColumn("err", F.lit(None).cast("string"))
    return SparqlResult("quads", df=out.dropDuplicates(["s", "p", "o", "g"]))


def _eval_select(sol: DataFrame, q: Query, rd: bool) -> tuple[DataFrame, list[str]]:
    """Solution frame + SELECT clause → (projected bindings, names); shared
    by top-level SELECT and ``{ SELECT ... }`` subqueries."""
    from sopspark.functions.expr import contains_aggregate

    has_agg = q.group_by or any(
        node is not None and contains_aggregate(node)
        for v in q.variables
        if v != "*"
        for _, node in [v]
    )
    if has_agg:
        out, names = _eval_aggregate(sol, q, rd)
        if q.distinct:
            out = out.dropDuplicates()
        # aggregates can be unbound (SUM type error, SAMPLE of empty, …);
        # plain group keys inherit the input's nullability
        mn = {n for n in names if n not in sol.columns or n in _mn(sol)}
        return _with_mn(_apply_order_limit(out, q, rd), mn), names

    if q.variables == ["*"]:
        names = [c for c in sol.columns if not c.startswith("_anon")]
        out = sol.select(*names)
        if q.distinct:
            out = out.dropDuplicates()
        return _with_mn(_apply_order_limit(out, q, rd), _mn(sol) & set(names)), names

    names = [name for name, _ in q.variables]
    # projected expressions may error → unbound; plain vars inherit, and a
    # projected var the WHERE never binds is always unbound
    mn_out = {
        name
        for name, node in q.variables
        if node is not None or name not in sol.columns or name in _mn(sol)
    }
    if q.order_by and not q.distinct:
        # §18.2.4/§15.1: ORDER BY applies to SOLUTIONS, before projection —
        # a sort key may reference a WHERE variable that is not projected
        # (projecting first would compile it to a constant NULL key and
        # silently not sort). Compute projection aliases as extra columns,
        # order + slice the full frame, then project. (With DISTINCT the
        # grammar restricts order keys to projected variables, and
        # dropDuplicates would destroy the order anyway — that path keeps
        # the post-projection ordering below.)
        tmp = sol
        for name, node in q.variables:
            if node is None:
                if name not in tmp.columns:
                    tmp = tmp.withColumn(name, F.lit(None).cast(TERM_SQL_TYPE))
            else:
                env = {c: F.col(c) for c in sol.columns}
                tmp = tmp.withColumn(name, node.col(env, rd))
        return _with_mn(_apply_order_limit(tmp, q, rd).select(*names), mn_out), names

    exprs = []
    for name, node in q.variables:
        if node is None:
            exprs.append(F.col(name) if name in sol.columns else F.lit(None).cast(TERM_SQL_TYPE))
        else:
            env = {c: F.col(c) for c in sol.columns}
            exprs.append(node.col(env, rd))
        exprs[-1] = exprs[-1].alias(name)
    out = sol.select(*exprs)
    if q.distinct:
        out = out.dropDuplicates()
    return _with_mn(_apply_order_limit(out, q, rd), mn_out), names


def _eval_aggregate(sol: DataFrame, q: Query, rd: bool) -> tuple[DataFrame, list[str]]:
    """GROUP BY + aggregate projections → groupBy().agg() with map-side
    partial aggregation; values stay TERM structs, numeric aggregates go
    through ``num()``."""
    from sopspark.functions.expr import (
        AGG_FUNCS,
        INTEGER_DTS,
        _compile,
        _literal,
        _null_term,
        _num_term,
        num,
    )
    from sopspark.terms import XSD

    env = {c: F.col(c) for c in sol.columns}

    def agg_col(node: Node, alias: str) -> Column:
        if node.op != "call":
            raise SparqlError("aggregate projection must be an aggregate call")
        raw = node.args[0].lower()
        name = raw.removesuffix("_distinct")
        distinct = raw.endswith("_distinct")
        if name not in AGG_FUNCS:
            raise SparqlError(f"{node.args[0]}() is not an aggregate")
        args = node.args[1]
        if name == "count":
            if args and args[0].op == "star":
                inner = F.lit(1)
            else:
                inner = args[0].col(env, rd)
            c = F.count_distinct(inner) if distinct else F.count(inner)
            return _num_term(c.cast("double"), integer=True).col().alias(alias)
        it = _compile(args[0], env, rd)
        inner_t = it.col()
        if name in ("sum", "avg"):
            v = num(it)
            # §18.5.1.2: op:numeric-add over a non-numeric BOUND value is
            # a type error and the whole aggregate errors (unbound result)
            # — F.sum would silently skip it and return a wrong total.
            # Unbound rows (NULL term) are skipped, lenient like the COUNT
            # path. And SUM/AVG over an EMPTY group are 0, not unbound.
            has_err = (
                F.max(F.when(inner_t.isNotNull() & v.isNull(), F.lit(1)).otherwise(F.lit(0)))
                == 1
            )
            if distinct:
                # AVG(DISTINCT) = sum/count over the distinct value set
                # (SPARQL 18.5.1.4 applies Distinct to the multiset first)
                if name == "avg":
                    c = F.sum_distinct(v) / F.count_distinct(v)
                else:
                    c = F.sum_distinct(v)
            else:
                c = F.sum(v) if name == "sum" else F.avg(v)
            if name == "sum":
                # SPARQL: SUM over an integer-only group stays xsd:integer
                res = _num_term(c, integer=F.bool_and(inner_t["dt"].isin(INTEGER_DTS)))
            else:
                res = _num_term(c)
            return (
                F.when(has_err, _null_term())
                .when(c.isNull(), _num_term(F.lit(0.0), integer=True).col())
                .otherwise(res.col())
                .alias(alias)
            )
        if name in ("min", "max"):
            # numeric when possible, else codepoint order on the lexical form
            key = F.struct(F.coalesce(num(it), F.lit(0.0)).alias("n"), inner_t["value"].alias("v"))
            c = F.min_by(inner_t, key) if name == "min" else F.max_by(inner_t, key)
            return c.alias(alias)
        if name == "sample":
            return F.first(inner_t, ignorenulls=True).alias(alias)
        if name == "group_concat":
            # optional SEPARATOR rides along as a trailing lit_const arg
            # (expr.py parser); default " " per SPARQL 18.5.1.7. Collected
            # values are sorted: SPARQL leaves the order implementation-
            # defined, and a sorted concat is the only order that is
            # deterministic under Spark's shuffle (documented divergence
            # from sophia's insertion order).
            sep = " "
            if len(args) > 1 and args[-1].op == "lit_const":
                sep = args[-1].args[0]
            vals = F.collect_set(inner_t["value"]) if distinct else F.collect_list(inner_t["value"])
            return _literal(F.array_join(F.array_sort(vals), sep)).col().alias(alias)
        raise SparqlError(f"unsupported aggregate {name}")

    names: list[str] = []
    group_cols: list[str] = []
    for gc in q.group_by:
        if isinstance(gc, str):
            group_cols.append(gc)
        else:
            # GROUP BY (expr AS ?v): materialize the key before grouping.
            # AS onto a variable already in scope is a query error (18.2.1)
            # — overwriting it silently would return rewritten bindings.
            gname, gnode = gc
            if gname in sol.columns:
                raise SparqlError(
                    f"GROUP BY ... AS ?{gname}: variable already in scope"
                )
            sol = sol.withColumn(gname, gnode.col({c: F.col(c) for c in sol.columns}, rd))
            group_cols.append(gname)
            env[gname] = F.col(gname)
    aggs: list[Column] = []
    for v in q.variables:
        if v == "*":
            raise SparqlError("SELECT * with aggregates is not supported")
        name, node = v
        names.append(name)
        if node is None:
            if name not in group_cols:
                raise SparqlError(f"?{name} must appear in GROUP BY")
        else:
            aggs.append(agg_col(node, name))

    # HAVING(COUNT(?x) > n): hoist the aggregate calls into hidden agg
    # columns and rewrite the predicate to reference them
    from sopspark.functions.expr import contains_aggregate

    hidden = 0
    rewritten_having: list[Node] = []

    def hoist(n: Node) -> Node:
        nonlocal hidden
        if n.op == "call" and n.args[0].lower().removesuffix("_distinct") in AGG_FUNCS:
            alias = f"_hav{hidden}"
            hidden += 1
            aggs.append(agg_col(n, alias))
            return Node("var", (alias,))
        if n.op == "call":
            return Node("call", (n.args[0], tuple(hoist(a) for a in n.args[1])))
        return Node(n.op, tuple(hoist(a) if isinstance(a, Node) else a for a in n.args))

    for h in q.having:
        rewritten_having.append(hoist(h) if contains_aggregate(h) else h)

    grouped = sol.groupBy(*[F.col(c) for c in group_cols]) if group_cols else sol.groupBy()
    out = grouped.agg(*aggs) if aggs else grouped.agg(F.count(F.lit(1)).alias("_n")).drop("_n")
    for h in rewritten_having:
        henv = {c: F.col(c) for c in out.columns}
        out = out.where(F.coalesce(_compile_bool(h, henv, rd), F.lit(False)))
    return out.select(*names), names


def _apply_order_limit(out: DataFrame, q: Query, rd: bool) -> DataFrame:
    if q.order_by:
        from sopspark.functions.expr import _compile, num

        keys = []
        for node, asc in q.order_by:
            env = {c: F.col(c) for c in out.columns}
            t = _compile(node, env, rd)
            c = t.col()
            k = F.struct(c["kind"].alias("k"), F.coalesce(num(t), F.lit(0.0)).alias("n"), c["value"].alias("v"))
            keys.append(k.asc() if asc else k.desc())
        out = out.orderBy(*keys)
    if q.offset:
        out = out.offset(q.offset)
    if q.limit is not None:
        out = out.limit(q.limit)
    return out


def bindings_to_quads(result: SparqlResult) -> DataFrame | None:
    """SELECT results re-enter the pipeline iff vars ⊆ {s,p,o,g} with s,p,o
    present — mirrors ``src/query.rs:145-158,219-259`` (rows with unbound
    s/p/o dropped)."""
    if result.kind == "quads":
        return result.df
    if result.kind != "bindings" or result.variables is None:
        return None
    vs = set(result.variables)
    if not vs.issubset({"s", "p", "o", "g"}) or not {"s", "p", "o"}.issubset(vs):
        return None
    df = result.df
    if "g" not in df.columns:
        df = df.withColumn("g", F.lit(None).cast(TERM_SQL_TYPE))
    return (
        df.where(F.col("s").isNotNull() & F.col("p").isNotNull() & F.col("o").isNotNull())
        .withColumn("err", F.lit(None).cast("string"))
        .select("s", "p", "o", "g", "err")
    )
