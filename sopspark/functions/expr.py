"""SPARQL expression → Catalyst ``Column`` compiler.

The reference's ``filter``/``map`` accept one SPARQL expression per quad
component and evaluate it by *running a one-quad SPARQL query per row*
(``src/filter.rs:26-42``, ``src/map.rs:37-57``) — a scalar expression
evaluator implemented expensively. The Spark-idiomatic equivalent compiles
the expression **once** into a Catalyst column tree that runs inside
whole-stage codegen; there is no per-row interpretation anywhere.

Value model: every subexpression compiles to a :class:`Term` record of the
four TERM-struct components (``kind``, ``value``, ``dt``, ``lang``; see
:data:`sopspark.terms.TERM_TYPE`), each a Column or — when known at compile
time — a Python constant. ``lang(?o)`` is always a plain literal, so a
string test on it folds to its one ``value`` Column; ``str``/``lcase``
chains likewise carry a single growing ``value`` beside constant
``kind``/``dt``/``lang``. A NULL ``value`` is the single error/unbound
marker, which makes SPARQL's error-propagation semantics (and the
reference's drop-on-error, ``src/filter.rs:36``, ``src/map.rs:47-52``) fall
out of Spark's NULL propagation, including the README's
``coalesce(langMatches(lang(?o), "en"), true)`` idiom (``README.md:59-63``).
Variables enter as field reads of their TERM-struct columns, and the struct
is built once, at :func:`compile_expr`'s output (NULL on error).

Why records: a Column tree is a tree, not a DAG, so a helper that reads a
whole TERM struct k times copies the argument's subtree k times, and every
nesting level would multiply the Catalyst plan. Reading components copies
only the component a test needs — usually a constant or a field read — so
the plan grows linearly with the expression. The exception is arithmetic
on operands whose datatype is known only per row: its result is formatted
both as xsd:integer and as xsd:double, so such nesting doubles per level.

Functions implemented = the surface the reference evidences
(``README.md:61,129,224``: coalesce, langMatches, lang, iri, lcase, str, =)
plus the standard SPARQL 1.1 builtins that compile 1:1 to Catalyst.

Datatype recognition (``query -d``, ``src/query.rs:46-60``): ``=`` compares
recognized numerics in value space (42 == 042); without ``-d`` equality is
term identity. ``compile_expr(..., recognize_datatypes=False)`` gives the
identity behavior.
"""

from __future__ import annotations

import datetime as _dt
import operator
import os
import re
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import Column
from pyspark.sql import functions as F

from sopspark.terms import (
    BNODE,
    IRI,
    LITERAL,
    QUOTED,
    RDF_DIRLANGSTRING,
    RDF_LANGSTRING,
    TERM_SQL_TYPE,
    XSD,
    XSD_STRING,
)

NUMERIC_DTS = [
    XSD + n
    for n in (
        "integer",
        "decimal",
        "float",
        "double",
        "long",
        "int",
        "short",
        "byte",
        "nonNegativeInteger",
        "nonPositiveInteger",
        "positiveInteger",
        "negativeInteger",
        "unsignedLong",
        "unsignedInt",
        "unsignedShort",
        "unsignedByte",
    )
]

# integer-family subset of the tower: SUM over only these stays xsd:integer
INTEGER_DTS = [d for d in NUMERIC_DTS if d.rsplit("#", 1)[-1] not in ("decimal", "float", "double")]


class ExprError(ValueError):
    pass


AGG_FUNCS = {"count", "sum", "avg", "min", "max", "sample", "group_concat"}


def contains_aggregate(n: "Node") -> bool:
    if n.op == "call":
        name = n.args[0].lower().removesuffix("_distinct")
        if name in AGG_FUNCS:
            return True
        return any(contains_aggregate(a) for a in n.args[1])
    return any(contains_aggregate(a) for a in n.args if isinstance(a, Node))


# ---------------------------------------------------------------------------
# term records
# ---------------------------------------------------------------------------
# A component is a Column or, when known at compile time, a Python constant
# (None = SQL NULL). The helpers below fold constants with SQL's
# three-valued logic, so a test on a known component costs no Column at all.


@dataclass(frozen=True, eq=False)
class Term:
    """One compiled SPARQL term: the four TERM-struct components.

    A NULL ``value`` is the error/unbound marker; the other components are
    meaningless on such rows. ``src`` is set when the components are field
    reads of one TERM-struct Column (a variable): they are then NULL
    together, and :meth:`col` hands the struct back unchanged."""

    kind: Column | int | None
    value: Column | str | None
    dt: Column | str | None = None
    lang: Column | str | None = None
    src: Column | None = None

    @staticmethod
    def read(c: Column) -> "Term":
        return Term(c["kind"], c["value"], c["dt"], c["lang"], src=c)

    def col(self) -> Column:
        """The TERM struct, NULL on error — built once, at the output."""
        if self.src is not None:
            return self.src
        if self.value is None:
            return _null_term()
        t = F.struct(
            _lit(self.kind, "tinyint").alias("kind"),
            _lit(self.value).alias("value"),
            _lit(self.dt).alias("dt"),
            _lit(self.lang).alias("lang"),
        )
        return F.when(_lit(self.value).isNotNull(), t).otherwise(_null_term())


ERROR = Term(None, None)  # unbound variable / evaluation error


def _null_term() -> Column:
    return F.lit(None).cast(TERM_SQL_TYPE)


def _lit(x, typ: str = "string") -> Column:
    return x if isinstance(x, Column) else F.lit(x).cast(typ)


def _bool(x) -> Column:
    return _lit(x, "boolean")


def _null(x):
    return x.isNull() if isinstance(x, Column) else x is None


def _eq(x, y):
    if isinstance(x, Column):
        return x == y
    if isinstance(y, Column):
        return y == x
    return None if x is None or y is None else x == y


def _in(x, vals):
    if len(vals) == 1:
        return _eq(x, vals[0])
    if isinstance(x, Column):
        return x.isin(*vals)
    return None if x is None else x in vals


def _eq_null_safe(x, y):
    if isinstance(x, Column) or isinstance(y, Column):
        return _lit(x).eqNullSafe(_lit(y))
    return x == y


def _not(x):
    if isinstance(x, Column):
        return ~x
    return None if x is None else not x


def _kleene(op, unit: bool, xs):
    """Kleene AND (``unit`` True) / OR (``unit`` False); constant operands
    fold away."""
    cols, unknown = [], False
    for x in xs:
        if x is (not unit):
            return not unit
        if x is None:
            unknown = True
        elif x is not unit:
            cols.append(x)
    if not cols:
        return None if unknown else unit
    if unknown:
        cols.append(F.lit(None).cast("boolean"))
    return reduce(op, cols)


def _and(*xs):
    return _kleene(operator.and_, True, xs)


def _or(*xs):
    return _kleene(operator.or_, False, xs)


def _case(branches, default=None, typ: str = "string"):
    """``CASE WHEN c THEN v ... ELSE default END``: branches whose condition
    is a known false/NULL are dropped, a known-true one ends the chain."""
    out = None
    for cond, val in branches:
        if cond is False or cond is None:
            continue
        if cond is True:
            default = val
            break
        out = F.when(cond, _lit(val, typ)) if out is None else out.when(cond, _lit(val, typ))
    if out is None:
        return default
    return out if default is None else out.otherwise(_lit(default, typ))


def _when(cond, a, b=None, typ: str = "string"):
    return _case([(cond, a)], b, typ)


def _err(t: Term):
    """t is an error (the TERM struct is NULL)."""
    return t.src.isNull() if t.src is not None else _null(t.value)


def _ok(t: Term):
    return _not(_err(t))


def _strict(t: Term, b):
    """``b``, but NULL where ``t`` is an error — what a test on the
    components of a NULL TERM struct gives. Field reads need no guard."""
    return b if t.src is not None else _when(_ok(t), b, typ="boolean")


def _kind_is(t: Term, *kinds: int):
    return _strict(t, _in(t.kind, kinds))


def _literal(value, dt=None, lang=None) -> Term:
    return Term(LITERAL, value, dt, lang)


def bool_term(b) -> Term:
    """boolean → xsd:boolean literal (NULL passes through = error)."""
    if isinstance(b, Column):
        v = b.cast("string")  # "true"/"false", NULL stays NULL
    else:
        v = None if b is None else ("true" if b else "false")
    return _literal(v, XSD + "boolean")


def _num_term(c: Column, integer=False) -> Term:
    """numeric Column → typed literal. ``integer`` (a bool, or a Column
    deciding per row) picks xsd:integer with an integral lexical form over
    xsd:double."""
    return _literal(
        _when(integer, c.cast("long").cast("string"), c.cast("string")),
        _when(integer, XSD + "integer", XSD + "double"),
    )


def _is_numeric(t: Term):
    return _and(_eq(t.kind, LITERAL), _in(t.dt, NUMERIC_DTS))


def num(t: Term) -> Column:
    """numeric value of a term, NULL when not a recognized numeric literal."""
    # try_cast: an invalid lexical form for the claimed numeric datatype is
    # a type ERROR (NULL), not a job-killing exception (ANSI cast throws)
    return _lit(_when(_is_numeric(t), _lit(t.value).try_cast("double"), typ="double"), "double")


def ebv(t: Term) -> Column:
    """SPARQL effective boolean value; NULL = type error. §17.2.2 rule 1:
    a boolean/numeric literal whose lexical form is INVALID for its
    datatype has EBV *false* (not error) — the NULL from a failed cast
    must therefore coalesce to false on the numeric/boolean branches."""
    is_lit = _eq(t.kind, LITERAL)
    is_num = _is_numeric(t)
    v = _lit(t.value)
    # only the numeric branch turns a NULL value into a non-NULL answer
    err = _err(t) if isinstance(is_num, Column) or is_num is True else False
    return _bool(
        _case(
            [
                (err, None),
                (_and(is_lit, _eq(t.dt, XSD + "boolean")), v == "true"),
                (is_num, F.coalesce(v.try_cast("double") != 0.0, F.lit(False))),
                (_and(is_lit, _null(t.dt), _null(t.lang)), F.length(v) > 0),
            ],
            typ="boolean",
        )
    )


def _plain_string(t: Term):
    """string value when term is a string literal (plain or lang-tagged)."""
    return _when(_and(_eq(t.kind, LITERAL), _null(t.dt)), t.value)


def _str_col(t: Term) -> Column:
    return _lit(_plain_string(t))


def _same_term(a: Term, b: Term):
    return _and(
        _eq(a.kind, b.kind),
        _eq(a.value, b.value),
        _eq_null_safe(a.dt, b.dt),
        _eq_null_safe(a.lang, b.lang),
    )


def term_eq(a: Term, b: Term, recognize_datatypes: bool = True) -> Column:
    """SPARQL ``=``: numeric value-space comparison when both sides are
    recognized numerics (``src/query.rs:50-51`` semantics under ``-d``),
    term identity otherwise."""
    branches = [(_or(_err(a), _err(b)), None)]
    if recognize_datatypes:
        at, bt = _datetime_value(a), _datetime_value(b)
        branches += [
            (_and(_is_numeric(a), _is_numeric(b)), num(a) == num(b)),
            # op:dateTime-equal: value-space (timepoint) equality — two
            # lexically different zoned forms of one instant are equal
            (at.isNotNull() & bt.isNotNull(), at == bt),
        ]
    return _bool(_case(branches, _same_term(a, b), typ="boolean"))


def _dt_lexical(t: Term) -> Column:
    """lexical form of an xsd:dateTime literal, NULL for anything else."""
    return _lit(_when(_and(_eq(t.kind, LITERAL), _eq(t.dt, XSD + "dateTime")), t.value))


def _datetime_value(t: Term) -> Column:
    """timestamp value when the term is an xsd:dateTime literal (NULL
    otherwise, incl. malformed lexical forms)."""
    # try_to_timestamp: a malformed lexical form is a type error (NULL),
    # not an ANSI-mode parse exception
    return F.try_to_timestamp(_dt_lexical(t))


def term_cmp(a: Term, b: Term, op: str) -> Column:
    """``< > <= >=``: numeric when both numeric, codepoint-string when both
    plain strings, op:dateTime-* timepoint comparison when both
    xsd:dateTime, else error (NULL)."""
    an, bn = num(a), num(b)
    as_, bs = _str_col(a), _str_col(b)
    at, bt = _datetime_value(a), _datetime_value(b)

    def apply(x: Column, y: Column) -> Column:
        return {"<": x < y, ">": x > y, "<=": x <= y, ">=": x >= y}[op]

    return (
        F.when(an.isNotNull() & bn.isNotNull(), apply(an, bn))
        .when(as_.isNotNull() & bs.isNotNull(), apply(as_, bs))
        .when(at.isNotNull() & bt.isNotNull(), apply(at, bt))
        .otherwise(F.lit(None).cast("boolean"))
    )


# ---------------------------------------------------------------------------
# AST
# ---------------------------------------------------------------------------

@dataclass
class Node:
    op: str
    args: tuple

    def col(self, env: dict[str, Column], rd: bool = True) -> Column:
        return _compile(self, env, rd).col()


# nodes whose value is always boolean — compiled natively to boolean Columns:
# no xsd:boolean string round trip, and a filter of field tests stays a bare
# conjunction that parquet nested-field pushdown can translate
_BOOL_OPS = {"or", "and", "not", "=", "!=", "<", ">", "<=", ">=", "bool_const"}
_BOOL_CALLS = {
    "langmatches", "contains", "strstarts", "strends", "regex",
    "isiri", "isuri", "isblank", "isliteral", "isnumeric", "bound", "sameterm",
}


def _is_bool_node(n: Node) -> bool:
    if n.op in _BOOL_OPS:
        return True
    if n.op == "call":
        name = n.args[0].lower()
        if name in _BOOL_CALLS:
            return True
        if name in ("coalesce", "if"):
            args = n.args[1]
            check = args if name == "coalesce" else args[1:]
            return bool(check) and all(_is_bool_node(x) for x in check)
    return False


def _const_term(n: Node):
    """(kind, value, dt, lang) for constant nodes, else None."""
    if n.op == "iri_const":
        return (IRI, n.args[0], None, None)
    if n.op == "lit_const":
        v, dt, lang = n.args
        return (LITERAL, v, dt, lang)
    if n.op == "num_const":
        return (LITERAL, n.args[0], n.args[1], None)
    if n.op == "bool_const":
        return (LITERAL, "true" if n.args[0] else "false", XSD + "boolean", None)
    return None


def _compile_bool(n: Node, env: dict[str, Column], rd: bool) -> Column:
    """Compile a boolean-valued node straight to a boolean Column."""
    op = n.op
    a = n.args

    def b(i: int) -> Column:
        return _compile_bool(a[i], env, rd)

    if op == "or":
        # Spark SQL's Kleene logic IS SPARQL 17.4.1.5/6: T||err=T, F||err=err,
        # F&&err=F, T&&err=err, !err=err — plain &/|/~ keep the predicate a
        # bare conjunction (pushdown-translatable, small codegen tree)
        return b(0) | b(1)
    if op == "and":
        return b(0) & b(1)
    if op == "not":
        return ~b(0)
    if op == "bool_const":
        return F.lit(bool(a[0]))
    if op in ("=", "!="):
        # peephole: comparison against a constant → minimal column tree
        const = _const_term(a[1]) or _const_term(a[0])
        other = a[0] if _const_term(a[1]) else a[1]
        if const is not None and _const_term(other) is None:
            t = _compile(other, env, rd)
            kind, value, dt, lang = const
            # no explicit null guard: a NULL term gives NULL conjuncts →
            # NULL result, which is exactly SPARQL's error value AND keeps
            # the predicate a plain conjunction that parquet nested-field
            # pushdown can translate (row-group skipping on p.value etc.)
            if kind == IRI:
                eq = _strict(t, _and(_eq(t.kind, IRI), _eq(t.value, value)))
            elif dt in NUMERIC_DTS and rd:
                eq = num(t) == float(value)
            elif dt == XSD + "dateTime" and rd:
                # op:dateTime-equal — timepoint equality, so a differently
                # zoned lexical form of the same instant still matches
                eq = _datetime_value(t) == F.try_to_timestamp(F.lit(value))
            else:
                d = None if dt == XSD_STRING else dt
                eq = _strict(
                    t,
                    _and(
                        _eq(t.kind, LITERAL),
                        _eq(t.value, value),
                        _eq_null_safe(t.dt, d),
                        _eq_null_safe(t.lang, lang),
                    ),
                )
            eq = _bool(eq)
            return eq if op == "=" else ~eq
        eq = term_eq(_compile(a[0], env, rd), _compile(a[1], env, rd), recognize_datatypes=rd)
        return eq if op == "=" else ~eq
    if op in ("<", ">", "<=", ">="):
        const = _const_term(a[1])
        if const is not None and const[2] in NUMERIC_DTS:
            x = num(_compile(a[0], env, rd))
            y = F.lit(float(const[1]))
            return {"<": x < y, ">": x > y, "<=": x <= y, ">=": x >= y}[op]
        return term_cmp(_compile(a[0], env, rd), _compile(a[1], env, rd), op)
    if op == "call":
        name = a[0].lower()
        if name == "coalesce" and _is_bool_node(n):
            return F.coalesce(*[_compile_bool(x, env, rd) for x in a[1]])
        if name == "if" and _is_bool_node(n):
            return F.when(_compile_bool(a[1][0], env, rd), _compile_bool(a[1][1], env, rd)).otherwise(
                _compile_bool(a[1][2], env, rd)
            )
        if name in _BOOL_CALLS:
            return _bool(_bool_call(name, [_compile(x, env, rd) for x in a[1]]))
    return ebv(_compile(n, env, rd))


def _compile(n: Node, env: dict[str, Column], rd: bool) -> Term:
    op = n.op
    a = n.args

    def c(i: int) -> Term:
        return _compile(a[i], env, rd)

    # boolean-valued nodes: compile natively, wrap once
    if op in ("or", "and", "not") or (op in ("=", "!=", "<", ">", "<=", ">=")):
        return bool_term(_compile_bool(n, env, rd))

    if op == "var":
        name = a[0]
        if name not in env:
            return ERROR  # unbound variable → error/unbound
        return Term.read(env[name])
    if op == "iri_const":
        return Term(IRI, a[0])
    if op == "lit_const":
        value, dt, lang = a
        return _literal(value, None if dt == XSD_STRING else dt or None, lang or None)
    if op == "num_const":
        return _literal(*a)
    if op == "bool_const":
        return bool_term(bool(a[0]))

    if op == "neg":
        t = c(0)
        return _num_term(-num(t), integer=_in(t.dt, INTEGER_DTS))
    if op in ("+", "-", "*", "/"):
        # integer op integer stays xsd:integer (SPARQL operator mapping);
        # division always promotes to double
        t0, t1 = c(0), c(1)
        x, y = num(t0), num(t1)
        r = {"+": x + y, "-": x - y, "*": x * y, "/": x / y}[op]
        if op == "/":
            return _num_term(r)
        return _num_term(r, integer=_and(_in(t0.dt, INTEGER_DTS), _in(t1.dt, INTEGER_DTS)))
    if op == "call":
        return _call(a[0], [_compile(x, env, rd) for x in a[1]], rd)
    raise ExprError(f"unknown op {op}")


import threading as _threading

_NOW_TLS = _threading.local()  # per-thread pin stack: concurrent driver
# threads compiling different queries must not share an execution instant


def _now_stack() -> list[str]:
    if not hasattr(_NOW_TLS, "stack"):
        _NOW_TLS.stack = []
    return _NOW_TLS.stack


def _fresh_now() -> str:
    pin = os.environ.get("SOPSPARK_NOW")
    if pin is None:
        pin = _dt.datetime.now(_dt.timezone.utc).strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3] + "Z"
    return pin


def _now_pin() -> str:
    """The query-execution instant: the enclosing now_scope's pin, or a
    fresh instant for a bare expression compiled outside any scope."""
    stack = _now_stack()
    return stack[-1] if stack else _fresh_now()


class now_scope:
    """Context manager pinning ONE instant for every NOW() occurrence
    compiled inside it (SPARQL 17.4.5.1's single query-execution instant).
    Re-entrant: nested scopes inherit the outermost pin so a sub-expression
    compile inside a query never re-samples the clock. Thread-local."""

    def __enter__(self):
        stack = _now_stack()
        stack.append(stack[-1] if stack else _fresh_now())
        return self

    def __exit__(self, *exc):
        _now_stack().pop()
        return False


def _bool_call(n: str, args: list[Term]):
    """The boolean builtins (:data:`_BOOL_CALLS`), as a boolean."""
    if n == "bound":
        return _ok(args[0])
    if n == "langmatches":
        # empty tag is not a valid RFC-4647 tag → evaluation *error*, which is
        # what makes the README's coalesce(langMatches(lang(?o),"en"), true)
        # keep untagged literals (README.md:59-63: untagged "Charlie" is kept)
        tag = _plain_string(args[0])
        rng = _plain_string(args[1])
        low = F.lower(_lit(tag))
        m = _when(
            _eq(rng, "*"),
            True,
            (low == F.lower(_lit(rng))) | low.startswith(F.concat(F.lower(_lit(rng)), F.lit("-"))),
            typ="boolean",
        )
        return _when(_or(_null(tag), _null(rng), _eq(tag, "")), None, m, typ="boolean")
    if n == "contains":
        return F.contains(_str_col(args[0]), _str_col(args[1]))
    if n == "strstarts":
        return F.startswith(_str_col(args[0]), _str_col(args[1]))
    if n == "strends":
        return F.endswith(_str_col(args[0]), _str_col(args[1]))
    if n == "regex":
        pat = _str_col(args[1])
        if len(args) > 2:
            pat = F.concat(F.lit("(?"), _str_col(args[2]), F.lit(")"), pat)
        return F.regexp(_str_col(args[0]), pat)
    if n in ("isiri", "isuri"):
        return _kind_is(args[0], IRI)
    if n == "isblank":
        return _kind_is(args[0], BNODE)
    if n == "isliteral":
        return _kind_is(args[0], LITERAL)
    if n == "isnumeric":
        return _and(_ok(args[0]), _is_numeric(args[0]))
    if n == "sameterm":
        # compared as the TERM structs' fields, as SPARQL's sameTerm reads them
        a, b = (t if t.src is not None else Term.read(t.col()) for t in args)
        return _same_term(a, b)


def _pick(cond, a: Term, b: Term) -> Term:
    """IF(cond, a, b) component by component; components the branches
    agree on at compile time skip the test."""
    if a.src is not None and b.src is not None:
        return Term.read(F.when(cond, a.src).otherwise(b.src))

    def pick(x, y, typ="string"):
        if not isinstance(x, Column) and not isinstance(y, Column) and x == y:
            return x
        return _when(cond, _lit(x, typ), _lit(y, typ), typ)

    return Term(pick(a.kind, b.kind, "tinyint"), pick(a.value, b.value), pick(a.dt, b.dt), pick(a.lang, b.lang))


def _first(args: list[Term]) -> Term:
    """COALESCE: the first argument that is not an error."""
    live = []
    for t in args:
        if t.value is None:
            continue
        live.append(t)
        if isinstance(t.value, str):  # a constant never errors
            break
    if not live:
        return ERROR
    if len(live) == 1:
        return live[0]
    if all(t.src is not None for t in live):
        return Term.read(F.coalesce(*[t.src for t in live]))
    oks = [t.value.isNotNull() if isinstance(t.value, Column) else True for t in live]

    def first(comp: str, typ="string"):
        xs = [getattr(t, comp) for t in live]
        if not any(isinstance(x, Column) for x in xs) and len(set(xs)) == 1:
            return xs[0]
        return _case(list(zip(oks[:-1], xs[:-1])), _lit(xs[-1], typ), typ)

    return Term(
        first("kind", "tinyint"),
        F.coalesce(*[_lit(t.value) for t in live]),
        first("dt"),
        first("lang"),
    )


def _call(name: str, args: list[Term], rd: bool) -> Term:
    n = name.lower()
    if n in _BOOL_CALLS:
        return bool_term(_bool_call(n, args))
    if n == "coalesce":
        return _first(args)
    if n == "lang":
        # direction suffix ("en--ltr") is not part of LANG()'s answer
        t = args[0]
        tag = F.element_at(F.split(F.coalesce(_lit(t.lang), F.lit("")), "--", 2), 1)
        return _literal(_when(_kind_is(t, LITERAL), tag))
    if n == "langdir":
        # SPARQL 1.2: base direction of a dirLangString, "" otherwise
        t = args[0]
        d = F.try_element_at(F.split(F.coalesce(_lit(t.lang), F.lit("")), "--", 2), F.lit(2))
        return _literal(_when(_kind_is(t, LITERAL), F.coalesce(d, F.lit(""))))
    if n == "str":
        t = args[0]
        return _literal(_when(_in(t.kind, (IRI, LITERAL)), t.value))
    if n in ("iri", "uri"):
        t = args[0]
        ok = _or(_eq(t.kind, IRI), _and(_eq(t.kind, LITERAL), _null(t.dt), _null(t.lang)))
        return Term(IRI, _when(ok, t.value))
    if n == "datatype":
        t = args[0]
        if isinstance(t.lang, Column):
            lang_dt = F.when(t.lang.contains("--"), F.lit(RDF_DIRLANGSTRING)).otherwise(
                F.lit(RDF_LANGSTRING)
            )
        else:
            lang_dt = RDF_DIRLANGSTRING if "--" in (t.lang or "") else RDF_LANGSTRING
        plain_dt = F.coalesce(t.dt, F.lit(XSD_STRING)) if isinstance(t.dt, Column) else t.dt or XSD_STRING
        return Term(IRI, _when(_kind_is(t, LITERAL), _when(_not(_null(t.lang)), lang_dt, plain_dt)))
    if n == "istriple":
        return bool_term(_kind_is(args[0], QUOTED))
    if n == "triple":
        # TRIPLE(s, p, o) → a quoted-triple term (SPARQL-star 17.4.2.8):
        # canonical NT encoding, matching the parsers' QUOTED convention
        from sopspark.terms import nt_term

        enc = F.concat(
            F.lit("<< "), nt_term(args[0].col()), F.lit(" "), nt_term(args[1].col()),
            F.lit(" "), nt_term(args[2].col()), F.lit(" >>"),
        )
        return Term(QUOTED, enc)
    if n in ("subject", "predicate", "object"):
        # SUBJECT/PREDICATE/OBJECT(t) destructure a quoted-triple term
        # (SPARQL-star 17.4.2.9-11) — same depth-bounded regex machinery as
        # << ?s ?p ?o >> patterns; non-triple input → error (NULL)
        from sopspark.functions.sparql import _decode_nt_term, _nt_term_re

        tre = _nt_term_re()
        pat = f"^<< ({tre}) ({tre}) ({tre}) >>$"
        grp = {"subject": 1, "predicate": 2, "object": 3}[n]
        part = F.regexp_extract(_lit(args[0].value), pat, grp)
        return Term.read(F.when(_bool(_and(_eq(args[0].kind, QUOTED), part != "")), _decode_nt_term(part)))
    if n in ("lcase", "ucase"):
        t = args[0]
        fn = F.lower if n == "lcase" else F.upper
        return _literal(_when(_eq(t.kind, LITERAL), fn(_lit(t.value))), t.dt, t.lang)
    if n == "strlen":
        return _num_term(F.length(_str_col(args[0])).cast("double"), integer=True)
    if n == "substr":
        t = args[0]
        start = num(args[1]).cast("int")
        length = num(args[2]).cast("int") if len(args) > 2 else F.lit(2147483647)
        v = F.substring(_lit(t.value), start, length)
        return _literal(_when(_eq(t.kind, LITERAL), v), t.dt, t.lang)
    if n == "concat":
        return _literal(F.concat(*[_str_col(x) for x in args]))
    if n == "replace":
        # Spark ≥3 takes Column pattern/replacement in regexp_replace
        return _literal(F.regexp_replace(*[_str_col(x) for x in args[:3]]))
    if n == "abs":
        return _num_term(F.abs(num(args[0])))
    if n == "round":
        return _num_term(F.round(num(args[0]), 0))
    if n == "ceil":
        return _num_term(F.ceil(num(args[0])).cast("double"))
    if n == "floor":
        return _num_term(F.floor(num(args[0])).cast("double"))
    if n == "strbefore":
        v, sep = _str_col(args[0]), _str_col(args[1])
        idx = F.instr(v, sep)
        return _literal(F.when(idx > 0, F.substring(v, 1, idx - 1)).otherwise(F.lit("")))
    if n == "strafter":
        v, sep = _str_col(args[0]), _str_col(args[1])
        idx = F.instr(v, sep)
        return _literal(F.when(idx > 0, F.substr(v, idx + F.length(sep), F.length(v))).otherwise(F.lit("")))
    if n == "if":
        return _pick(ebv(args[0]), args[1], args[2])
    if n == "strdt":
        return _literal(_plain_string(args[0]), args[1].value)
    if n == "strlang":
        return _literal(_plain_string(args[0]), None, _plain_string(args[1]))
    if n == "strlangdir":
        # SPARQL 1.2: dirLangString constructor — tag preserved as given
        # (matching STRLANG), direction must be exactly lowercase
        # "ltr"/"rtl"; anything else is an evaluation error (NULL → row
        # dropped / unbound)
        d = _str_col(args[2])
        tag = F.when(d.isin("ltr", "rtl"), F.concat(_str_col(args[1]), F.lit("--"), d))
        return _literal(F.when(tag.isNotNull(), _str_col(args[0])), None, tag)
    if n == "haslang":
        # SPARQL 1.2: literal with a (possibly directional) language tag;
        # an unbound/error argument propagates the error (NULL), it does
        # not evaluate to false
        t = args[0]
        has = _and(_eq(t.kind, LITERAL), F.coalesce(_lit(t.lang), F.lit("")) != "")
        return bool_term(_when(_ok(t), has, typ="boolean"))
    if n == "haslangdir":
        # SPARQL 1.2: literal whose language tag carries a base direction
        t = args[0]
        has = _and(_eq(t.kind, LITERAL), F.coalesce(_lit(t.lang), F.lit("")).contains("--"))
        return bool_term(_when(_ok(t), has, typ="boolean"))
    if n in ("md5", "sha1", "sha256", "sha384", "sha512"):
        s = _str_col(args[0])
        if n == "md5":
            h = F.md5(s)
        elif n == "sha1":
            h = F.sha1(s)
        else:
            h = F.sha2(s, int(n[3:]))
        return _literal(h)
    if n == "encode_for_uri":
        # url_encode is form-encoding (space → '+'); SPARQL wants RFC 3986
        return _literal(F.regexp_replace(F.url_encode(_str_col(args[0])), r"\+", "%20"))
    if n in ("year", "month", "day", "hours", "minutes", "seconds"):
        # fn:*-from-dateTime operate on the literal's OWN lexical
        # components (its own timezone's wall clock) — converting through
        # to_timestamp would re-express the instant in the SESSION zone
        # and shift every component (HOURS("...T14:45:13-05:00") must be
        # 14, not the session-zone hour; DAY can even cross midnight).
        # Extract from the lexical form directly; malformed / non-dateTime
        # input extracts "" → NULL → error term.
        pattern = {
            "year": r"^(-?\d{4,})-\d{2}-\d{2}T",
            "month": r"^-?\d{4,}-(\d{2})-\d{2}T",
            "day": r"^-?\d{4,}-\d{2}-(\d{2})T",
            "hours": r"T(\d{2}):\d{2}:\d{2}",
            "minutes": r"T\d{2}:(\d{2}):\d{2}",
            "seconds": r"T\d{2}:\d{2}:(\d{2}(?:\.\d+)?)",
        }[n]
        raw = F.regexp_extract(_dt_lexical(args[0]), pattern, 1)
        raw = F.when(raw != "", raw)
        # SECONDS is xsd:decimal, fraction included
        return _num_term(raw.cast("double"), integer=n != "seconds")
    if n in ("tz", "timezone"):
        lex = _dt_lexical(args[0])
        return _literal(F.coalesce(F.regexp_extract(lex, r"(Z|[+-]\d{2}:\d{2})$", 1), F.lit("")))
    if n == "bnode":
        if args:  # BNODE(str): deterministic label from the string
            lbl = F.concat(F.lit("eb"), F.substring(F.sha2(_str_col(args[0]), 256), 1, 16))
        else:  # BNODE(): fresh per row
            lbl = F.concat(F.lit("eb"), F.monotonically_increasing_id().cast("string"))
        return Term(BNODE, lbl)
    if n == "now":
        # SPARQL 17.4.5.1: NOW() is one fixed instant for the whole query
        # execution — pinned once per compilation scope (now_scope), so two
        # NOW() occurrences in one query can't straddle a millisecond.
        # SOPSPARK_NOW (xsd:dateTime text) overrides it for reproducible
        # runs/tests.
        return _literal(_now_pin(), XSD + "dateTime")
    if n in ("uuid", "struuid"):
        # Fresh value per row, RFC-4122 v4 shape. Derived from a 128-bit hash
        # of the per-row monotonic id + a salt, so runs are reproducible under
        # a fixed partitioning (documented divergence from true randomness;
        # the reference's uuid4 is unreproducible by design). Two UUID()
        # occurrences in one query share the per-row value.
        salt = os.environ.get("SOPSPARK_UUID_SEED", "0")
        hx = F.sha2(
            F.concat_ws(":", F.lit(salt), F.monotonically_increasing_id().cast("string")), 256
        )
        u = F.concat(
            F.substring(hx, 1, 8), F.lit("-"),
            F.substring(hx, 9, 4), F.lit("-4"),
            F.substring(hx, 14, 3), F.lit("-8"),
            F.substring(hx, 18, 3), F.lit("-"),
            F.substring(hx, 21, 12),
        )
        if n == "uuid":
            return Term(IRI, F.concat(F.lit("urn:uuid:"), u))
        return _literal(u)
    if n == "rand":
        # xsd:double in [0,1); seeded (SOPSPARK_RAND_SEED, default 42) so the
        # same job re-run over the same partitioning reproduces its output.
        return _num_term(F.rand(int(os.environ.get("SOPSPARK_RAND_SEED", "42"))))
    raise ExprError(f"unsupported function {name}()")



# ---------------------------------------------------------------------------
# tokenizer + recursive-descent parser
# ---------------------------------------------------------------------------

_TOKEN = re.compile(
    r"""
    (?P<ws>\s+)
  | (?P<iri><[^<>\s]*>)
  | (?P<var>\?\w+)
  | (?P<string>"(?:[^"\\]|\\.)*"|'(?:[^'\\]|\\.)*')
  | (?P<langtag>@[A-Za-z]+(?:-[A-Za-z0-9]+)*(?:--[A-Za-z]+)?)
  | (?P<dtmark>\^\^)
  | (?P<number>[+-]?(?:\d+\.\d*|\.\d+|\d+)(?:[eE][+-]?\d+)?)
  | (?P<op>\|\||&&|!=|<=|>=|[=<>!()+\-*/,;])
  | (?P<name>[A-Za-z_][A-Za-z0-9_]*)
    """,
    re.VERBOSE,
)


def _tokenize(src: str) -> list[tuple[str, str]]:
    toks, pos = [], 0
    while pos < len(src):
        m = _TOKEN.match(src, pos)
        if not m:
            raise ExprError(f"lex error at {src[pos:pos+30]!r}")
        pos = m.end()
        if m.lastgroup != "ws":
            toks.append((m.lastgroup, m.group(0)))
    return toks


class _P:
    def __init__(self, toks: list[tuple[str, str]]):
        self.toks = toks
        self.i = 0

    def peek(self):
        return self.toks[self.i] if self.i < len(self.toks) else ("eof", "")

    def next(self):
        t = self.peek()
        self.i += 1
        return t

    def expect(self, v: str):
        k, t = self.next()
        if t != v:
            raise ExprError(f"expected {v!r}, got {t!r}")

    def expr(self) -> Node:
        n = self.and_()
        while self.peek()[1] == "||":
            self.next()
            n = Node("or", (n, self.and_()))
        return n

    def and_(self) -> Node:
        n = self.rel()
        while self.peek()[1] == "&&":
            self.next()
            n = Node("and", (n, self.rel()))
        return n

    def rel(self) -> Node:
        n = self.add()
        k, t = self.peek()
        if t in ("=", "!=", "<", ">", "<=", ">="):
            self.next()
            return Node(t, (n, self.add()))
        # IN / NOT IN (SPARQL 17.4.1.9-10) desugar per spec into =/|| and
        # !=/&& chains — no new compile logic, same error semantics
        if k == "name" and t.lower() == "in":
            self.next()
            return self._in_chain(n, negated=False)
        if k == "name" and t.lower() == "not":
            save = self.i
            self.next()
            k2, t2 = self.peek()
            if k2 == "name" and t2.lower() == "in":
                self.next()
                return self._in_chain(n, negated=True)
            self.i = save
        return n

    def _in_chain(self, lhs: Node, negated: bool) -> Node:
        self.expect("(")
        items: list[Node] = []
        if self.peek()[1] != ")":
            items.append(self.expr())
            while self.peek()[1] == ",":
                self.next()
                items.append(self.expr())
        self.expect(")")
        if not items:
            return Node("bool_const", (negated,))  # IN () = false, NOT IN () = true
        op, join = ("!=", "and") if negated else ("=", "or")
        out = Node(op, (lhs, items[0]))
        for it in items[1:]:
            out = Node(join, (out, Node(op, (lhs, it))))
        return out

    def add(self) -> Node:
        n = self.mul()
        while self.peek()[1] in ("+", "-"):
            op = self.next()[1]
            n = Node(op, (n, self.mul()))
        return n

    def mul(self) -> Node:
        n = self.unary()
        while self.peek()[1] in ("*", "/"):
            op = self.next()[1]
            n = Node(op, (n, self.unary()))
        return n

    def unary(self) -> Node:
        k, t = self.peek()
        if t == "!":
            self.next()
            return Node("not", (self.unary(),))
        if t == "-":
            self.next()
            return Node("neg", (self.unary(),))
        if t == "+":
            self.next()
            return self.unary()
        return self.primary()

    def primary(self) -> Node:
        k, t = self.next()
        if t == "(":
            n = self.expr()
            self.expect(")")
            return n
        if k == "iri":
            return Node("iri_const", (t[1:-1],))
        if k == "var":
            return Node("var", (t[1:],))
        if k == "number":
            if re.search(r"[.eE]", t):
                dt = XSD + ("double" if re.search(r"[eE]", t) else "decimal")
            else:
                dt = XSD + "integer"
            return Node("num_const", (t, dt))
        if k == "string":
            from sopspark.sources.ntriples import unescape_literal

            value = unescape_literal(t[1:-1])
            nk, nt_ = self.peek()
            if nk == "langtag":
                self.next()
                return Node("lit_const", (value, None, nt_[1:]))
            if nk == "dtmark":
                self.next()
                dk, dt_tok = self.next()
                if dk != "iri":
                    raise ExprError("datatype must be an IRI")
                return Node("lit_const", (value, dt_tok[1:-1], None))
            return Node("lit_const", (value, None, None))
        if k == "name":
            if t == "true":
                return Node("bool_const", (True,))
            if t == "false":
                return Node("bool_const", (False,))
            self.expect("(")
            if t.lower() == "count" and self.peek()[1] == "*":
                self.next()
                self.expect(")")
                return Node("call", (t, (Node("star", ()),)))
            distinct = False
            if t.lower() in AGG_FUNCS and self.peek()[0] == "name" and self.peek()[1].upper() == "DISTINCT":
                self.next()
                distinct = True
            args = []
            if self.peek()[1] not in (")", ";"):
                args.append(self.expr())
                while self.peek()[1] == ",":
                    self.next()
                    args.append(self.expr())
            if t.lower() == "group_concat" and self.peek()[1] == ";":
                # GROUP_CONCAT(expr; SEPARATOR="...") — the separator rides
                # along as a trailing lit_const argument
                self.next()
                k2, v2 = self.next()
                if k2 != "name" or v2.upper() != "SEPARATOR":
                    raise ExprError("expected SEPARATOR after ';'")
                self.expect("=")
                k3, v3 = self.next()
                if k3 != "string":
                    raise ExprError("SEPARATOR must be a string literal")
                args.append(Node("lit_const", (v3[1:-1], None, None)))
            self.expect(")")
            name = t + ("_distinct" if distinct else "")
            return Node("call", (name, tuple(args)))
        raise ExprError(f"unexpected token {t!r}")


def parse_expr(src: str) -> Node:
    p = _P(_tokenize(src))
    n = p.expr()
    if p.peek()[0] != "eof":
        raise ExprError(f"trailing tokens at {p.peek()[1]!r}")
    return n


def compile_expr(
    src: str,
    env: dict[str, Column] | None = None,
    recognize_datatypes: bool = True,
) -> Column:
    """Compile a SPARQL expression string to a TERM-struct Column.

    ``env`` maps variable names to TERM-struct columns; default binds
    ``?s ?p ?o ?g`` to the like-named quad columns, matching the reference's
    binding rule (``README.md:199-201``).
    """
    if env is None:
        env = {v: F.col(v) for v in ("s", "p", "o", "g")}
    with now_scope():
        return parse_expr(src).col(env, recognize_datatypes)


def compile_filter(src: str, env: dict[str, Column] | None = None, recognize_datatypes: bool = True) -> Column:
    """Compile to a boolean Column with EBV + drop-on-error semantics
    (NULL → false, matching ``src/filter.rs:36``). Boolean-valued nodes
    compile natively to boolean Columns (no ``xsd:boolean`` round trip)."""
    if env is None:
        env = {v: F.col(v) for v in ("s", "p", "o", "g")}
    node = parse_expr(src)
    # no coalesce(..., false) wrapper: WHERE treats NULL (SPARQL error) as
    # false anyway, and a bare conjunction stays pushdown-translatable
    with now_scope():
        return _compile_bool(node, env, recognize_datatypes)
