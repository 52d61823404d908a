"""Row-filter DSL (expr-lang) → Spark SQL expression, via a typed parser.

The reference compiles a boolean expression over ``Record[i]`` with
antonmedv/expr once per tag/edge and silently skips rows evaluating false
(pkg/spec/base/filter.go:13-34; grammar docs/filter-expression.md:
``== != < > <= >=``, ``not``/``!``, ``and``/``&&``, ``or``/``||``,
membership ``[]``, indexing ``Record[i]``). Record values are STRINGS
(docs/filter-expression.md "an array of strings").

This module implements a recursive-descent parser over that grammar plus
the expr-lang operators whose semantics carry over faithfully, produces a
TYPED AST (str/int/float/bool), and emits a Spark SQL expression with the
casts that reproduce expr-lang's dynamic semantics:

=================== =========================================== ==========
expr-lang           Spark SQL                                   type
=================== =========================================== ==========
``Record[i]``       ``cast(`col` as string)``                   str
``"lit"``/``'lit'`` literal (both quote styles pass through)    str
``42`` / ``4.2``    literal / ``cast(4.2 as double)``           int/float
``s1 + s2``         ``concat(s1, s2)``                          str
``a + b - c * d``   same (int stays int, like Go int64)         int/float
``a / b``           ``cast(a as double) / cast(b as double)``   float
                    (expr-lang runtime.Divide is float64-always)
``a % b``           ``a % b`` (both truncated remainder)        int
``== != < > <= >=`` same; operands must be the SAME type class  bool
``x in ["a", "b"]`` ``x in ('a', 'b')`` (``in []`` → false)     bool
``s matches "re"``  ``s rlike 're'``                            bool
``len(s)``          ``length(s)``                               int
``abs/upper/lower`` same name                                   preserved
``trim(s)``         ``trim(s)``                                 str
``hasPrefix(s, p)`` ``startswith(s, p)``                        bool
``hasSuffix(s, p)`` ``endswith(s, p)``                          bool
``not/! and/&& …``  keyword forms (``||`` is CONCAT in Spark)   bool
=================== =========================================== ==========

Three deliberate properties:

1. **Type errors surface at config time.** expr-lang is dynamically typed
   and errors per-record at RUN time on e.g. ``Record[0] > 1`` (string vs
   int — runtime.Less has no such case). Since ``Record`` is always a
   string array, every such expression fails for every record; the
   translator rejects it at compile/validate time with :class:`FilterError`
   instead of letting Spark's implicit string→numeric coercion silently
   compute something expr-lang never would.
2. **String literals are opaque.** ``Record[0] != "a&&b"`` keeps its
   literal intact; operator rewriting happens in the parser, which never
   looks inside literals, and resolved column names are emitted directly
   (a source column literally named ``matches`` stays byte-identical
   inside its backticks).
3. **Off-grammar constructs fail loudly.** Method calls,
   ``contains``/``startsWith`` as infix, ``indexOf``, ``?:`` etc. raise
   :class:`FilterError` at validate time rather than falling through to
   Spark SQL with different semantics mid-job. The expr-lang ARRAY
   built-ins, however, ARE supported: ``all/any/none/one/filter/map/
   count(Record, {...})`` with ``#`` the element (each compiles to a
   Spark higher-order function — forall/exists/filter/transform/size —
   still one JVM-side codegen'd expression), bare ``Record`` as the
   row's string array, ``len()`` over arrays, and ``x in Record``
   membership.

Documented divergences (none reachable from the reference's examples,
which use only string equality/comparison): expr-lang ``len`` counts Go
BYTES while Spark ``length`` counts CHARACTERS (identical on ASCII
records); division or modulo by a runtime zero yields NULL here (the row
is silently filtered — Spark ANSI-off returns NULL even for double
division, verified) where expr-lang produces ±Inf/NaN for ``/`` and a
per-record runtime error for ``%``. Division/modulo by a LITERAL zero is
rejected at compile time.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, functions as F

# A quoted literal in either style; backslash escapes any next char.
_STRING_LIT = re.compile(r'"(?:[^"\\]|\\.)*"|\'(?:[^\'\\]|\\.)*\'')
_NUMBER = re.compile(r"\d+(?:\.\d+)?")
_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
_OPS = (
    "==", "!=", "<=", ">=", "&&", "||",
    "<", ">", "!", "+", "-", "*", "/", "%", "(", ")", "[", "]", ",",
    "{", "}", "#",
)
_FUNCS = {
    # name -> (spark_name, arg types, result type or None=same as arg 0)
    "len": ("length", ("str",), "int"),
    "abs": ("abs", ("num",), None),
    "upper": ("upper", ("str",), "str"),
    "lower": ("lower", ("str",), "str"),
    "trim": ("trim", ("str",), "str"),
    "hasPrefix": ("startswith", ("str", "str"), "bool"),
    "hasSuffix": ("endswith", ("str", "str"), "bool"),
}
# expr-lang array built-ins over closures (docs.expr-lang array funcs):
# each takes (array, {closure}) with ``#`` the current element. Mapped to
# Spark higher-order functions — still one JVM-side expression, no UDF.
_HOFS = {"all", "any", "none", "one", "filter", "map", "count"}

_KEYWORDS = {"and", "or", "not", "in", "matches", "true", "false", "Record"}


class FilterError(ValueError):
    pass


def _lex(expr: str) -> list[tuple[str, str]]:
    """Tokenize to (kind, text) where kind ∈ {str, num, ident, op}."""
    toks: list[tuple[str, str]] = []
    pos, n = 0, len(expr)
    while pos < n:
        ch = expr[pos]
        if ch.isspace():
            pos += 1
            continue
        if ch in "\"'":
            m = _STRING_LIT.match(expr, pos)
            if not m:
                raise FilterError(f"unterminated string literal in filter: {expr!r}")
            toks.append(("str", m.group(0)))
            pos = m.end()
            continue
        m = _NUMBER.match(expr, pos)
        if m:
            toks.append(("num", m.group(0)))
            pos = m.end()
            continue
        m = _IDENT.match(expr, pos)
        if m:
            toks.append(("ident", m.group(0)))
            pos = m.end()
            continue
        for op in _OPS:
            if expr.startswith(op, pos):
                toks.append(("op", op))
                pos += len(op)
                break
        else:
            raise FilterError(
                f"unsupported character {expr[pos]!r} in filter {expr!r}"
            )
    return toks


class _Parser:
    """Recursive descent over the grammar above. Produces (sql, type) pairs
    bottom-up; ``cols=None`` (validate-only mode) skips the width check and
    emits a placeholder column reference."""

    def __init__(self, expr: str, cols: list[str] | None):
        self.expr = expr
        self.cols = cols
        self.toks = _lex(expr)
        self.i = 0
        # closure-variable stack: (lambda var name, element type); ``#``
        # resolves to the innermost entry (expr-lang's closure element)
        self.closure: list[tuple[str, str]] = []

    # -- token helpers ----------------------------------------------------
    def _peek(self) -> tuple[str, str] | None:
        return self.toks[self.i] if self.i < len(self.toks) else None

    def _next(self) -> tuple[str, str]:
        if self.i >= len(self.toks):
            raise FilterError(f"unexpected end of filter expression: {self.expr!r}")
        t = self.toks[self.i]
        self.i += 1
        return t

    def _eat(self, kind: str, text: str) -> None:
        t = self._next()
        if t != (kind, text):
            raise FilterError(
                f"expected {text!r} but found {t[1]!r} in filter {self.expr!r}"
            )

    def _match(self, *texts: str) -> str | None:
        t = self._peek()
        if t and t[1] in texts and (t[0] in ("op", "ident")):
            self.i += 1
            return t[1]
        return None

    def _fail(self, what: str) -> FilterError:
        return FilterError(
            f"unsupported filter construct ({what}) in {self.expr!r}: the "
            "grammar is Record[i], bare Record (string array), "
            "string/number literals, == != < > <= >=, and/&&, or/||, "
            "not/!, in [..] / in <array>, matches, + - * / %, the "
            "built-ins len/abs/upper/lower/trim/hasPrefix/hasSuffix, and "
            "the array closures all/any/none/one/filter/map/count(arr, "
            "{...# ...}) (reference docs/filter-expression.md + mapped "
            "expr-lang ops)"
        )

    # -- type utilities ---------------------------------------------------
    @staticmethod
    def _is_num(t: str) -> bool:
        return t in ("int", "float")

    def _require(self, t: str, want: str, ctx: str) -> None:
        ok = t == want or (want == "num" and self._is_num(t))
        if not ok:
            raise FilterError(
                f"type error in filter {self.expr!r}: {ctx} needs {want}, "
                f"got {t} (Record values are strings; expr-lang would raise "
                "a per-record runtime error here, so it is rejected up front)"
            )

    # -- grammar ----------------------------------------------------------
    def parse(self) -> tuple[str, str]:
        if not self.toks:
            # expr.Compile("") errors in the reference too (filter_test.go)
            raise FilterError("empty filter expression")
        out = self._or()
        if self._peek() is not None:
            raise self._fail(f"trailing {self._peek()[1]!r}")
        return out

    def _or(self) -> tuple[str, str]:
        sql, t = self._and()
        while self._match("or", "||"):
            self._require(t, "bool", "'or'")
            rsql, rt = self._and()
            self._require(rt, "bool", "'or'")
            sql, t = f"({sql} or {rsql})", "bool"
        return sql, t

    def _and(self) -> tuple[str, str]:
        sql, t = self._not()
        while self._match("and", "&&"):
            self._require(t, "bool", "'and'")
            rsql, rt = self._not()
            self._require(rt, "bool", "'and'")
            sql, t = f"({sql} and {rsql})", "bool"
        return sql, t

    def _not(self) -> tuple[str, str]:
        if self._match("not", "!"):
            sql, t = self._not()
            self._require(t, "bool", "'not'")
            return f"(not {sql})", "bool"
        return self._comparison()

    def _comparison(self) -> tuple[str, str]:
        sql, t = self._additive()
        tok = self._peek()
        if tok is None:
            return sql, t
        if tok[1] in ("==", "!=", "<", ">", "<=", ">="):
            op = self._next()[1]
            rsql, rt = self._additive()
            same_class = (t == rt) or (self._is_num(t) and self._is_num(rt))
            if not same_class or (t == "bool" and op not in ("==", "!=")):
                raise FilterError(
                    f"type error in filter {self.expr!r}: cannot compare "
                    f"{t} {op} {rt} (expr-lang would raise a per-record "
                    "runtime error; compare strings to strings — Record "
                    "values are strings — or numbers to numbers)"
                )
            sqlop = "=" if op == "==" else op
            return f"({sql} {sqlop} {rsql})", "bool"
        if tok == ("ident", "in"):
            self._next()
            if self._peek() is not None and self._peek() != ("op", "["):
                # `x in Record` / `x in filter(...)` — array membership
                rsql, rt = self._additive()
                if not rt.startswith("list_"):
                    raise FilterError(
                        f"type error in filter {self.expr!r}: 'in' right "
                        f"side must be a list literal or an array, got {rt}"
                    )
                same = t == rt[len("list_"):] or (
                    self._is_num(t) and self._is_num(rt[len("list_"):])
                )
                if not same:
                    raise FilterError(
                        f"type error in filter {self.expr!r}: 'in' subject "
                        f"is {t} but array elements are {rt[len('list_'):]}"
                    )
                return f"array_contains({rsql}, {sql})", "bool"
            items = self._list(elem_type=t)
            if not items:
                return "false", "bool"  # expr-lang: `x in []` is false
            return f"({sql} in ({', '.join(items)}))", "bool"
        if tok == ("ident", "matches"):
            self._next()
            self._require(t, "str", "'matches'")
            rsql, rt = self._additive()
            self._require(rt, "str", "'matches'")
            return f"({sql} rlike {rsql})", "bool"
        return sql, t

    def _additive(self) -> tuple[str, str]:
        sql, t = self._multiplicative()
        while True:
            op = None
            tok = self._peek()
            if tok and tok[1] in ("+", "-") and tok[0] == "op":
                op = self._next()[1]
            if op is None:
                return sql, t
            rsql, rt = self._multiplicative()
            if op == "+" and t == "str" and rt == "str":
                # expr-lang runtime.Add concatenates string + string
                sql, t = f"concat({sql}, {rsql})", "str"
                continue
            self._require(t, "num", f"'{op}'")
            self._require(rt, "num", f"'{op}'")
            t = "float" if "float" in (t, rt) else "int"
            sql = f"({sql} {op} {rsql})"

    def _multiplicative(self) -> tuple[str, str]:
        sql, t = self._unary()
        while True:
            tok = self._peek()
            if not (tok and tok[0] == "op" and tok[1] in ("*", "/", "%")):
                return sql, t
            op = self._next()[1]
            rsql, rt = self._unary()
            self._require(t, "num", f"'{op}'")
            self._require(rt, "num", f"'{op}'")
            if op in ("/", "%") and rsql in ("0", "cast(0.0 as double)", "(- 0)"):
                raise FilterError(
                    f"division by literal zero in filter {self.expr!r}: "
                    "Spark would yield NULL (row silently filtered) where "
                    "expr-lang gives ±Inf (/) or a runtime error (%)"
                )
            if op == "/":
                # expr-lang runtime.Divide is ALWAYS float64 (5/2 == 2.5)
                sql, t = (
                    f"(cast({sql} as double) / cast({rsql} as double))",
                    "float",
                )
            elif op == "%":
                # runtime.Modulo is int-only; both engines truncate toward 0
                self._require(t, "int", "'%'")
                self._require(rt, "int", "'%'")
                sql, t = f"({sql} % {rsql})", "int"
            else:
                t = "float" if "float" in (t, rt) else "int"
                sql = f"({sql} {op} {rsql})"

    def _unary(self) -> tuple[str, str]:
        if self._match("-"):
            sql, t = self._unary()
            self._require(t, "num", "unary '-'")
            return f"(- {sql})", t
        return self._primary()

    def _primary(self) -> tuple[str, str]:
        kind, text = self._next()
        if kind == "str":
            return text, "str"
        if kind == "num":
            if "." in text:
                return f"cast({text} as double)", "float"
            return text, "int"
        if kind == "op" and text == "(":
            out = self._or()
            self._eat("op", ")")
            return out
        if kind == "op" and text == "#":
            if not self.closure:
                raise self._fail("'#' outside a closure")
            var, etype = self.closure[-1]
            return var, etype
        if kind == "ident":
            if text in ("true", "false"):
                return text, "bool"
            if text == "Record":
                if self._peek() == ("op", "["):
                    return self._record_ref()
                # bare Record = the whole row as an array of strings
                # (expr-lang: Record is []string) — feeds the array
                # built-ins below
                return self._record_array(), "list_str"
            if text in _HOFS:
                return self._hof(text)
            if text in _FUNCS:
                return self._call(text)
            raise self._fail(f"identifier {text!r}")
        raise self._fail(f"token {text!r}")

    def _record_ref(self) -> tuple[str, str]:
        self._eat("op", "[")
        kind, text = self._next()
        if kind != "num" or "." in text:
            raise self._fail("non-integer Record index")
        self._eat("op", "]")
        i = int(text)
        if self.cols is None:
            return "cast(`__record__` as string)", "str"
        if i >= len(self.cols):
            raise FilterError(
                f"filter references Record[{i}] but row width is {len(self.cols)}"
            )
        return f"cast(`{self.cols[i]}` as string)", "str"

    def _record_array(self) -> str:
        if self.cols is None:
            return "array(cast(`__record__` as string))"
        return (
            "array("
            + ", ".join(f"cast(`{c}` as string)" for c in self.cols)
            + ")"
        )

    def _hof(self, name: str) -> tuple[str, str]:
        """expr-lang array built-ins with a ``{...}`` closure over ``#``:
        ``all/any/none/one`` → forall/exists, ``filter`` → filter,
        ``map`` → transform, ``count`` → size(filter(...)). All compile
        to Spark HIGHER-ORDER functions — single JVM expression, fully
        codegen'd, no Python boundary. NULL elements cannot arise from
        Record (CSV fields cast to string are the raw field text), so
        the three-valued-logic caveat of forall/exists stays unreachable
        for reference-shaped inputs."""
        if self._peek() != ("op", "("):
            raise self._fail(f"built-in {name!r} must be called")
        self._next()
        arr_sql, arr_t = self._or()
        if not arr_t.startswith("list_"):
            raise FilterError(
                f"type error in filter {self.expr!r}: {name}() needs an "
                f"array first argument (Record, filter(...), map(...)), "
                f"got {arr_t}"
            )
        elem_t = arr_t[len("list_"):]
        self._eat("op", ",")
        self._eat("op", "{")
        # the lambda variable must not collide with any SOURCE COLUMN
        # name: Spark resolves a backticked attribute inside a lambda to
        # the lambda variable when the names match, which would silently
        # turn Record[i] references into the closure element (review
        # finding — cols=['_x0'] broke `count(Record, {# != Record[0]})`)
        var = f"_x{len(self.closure)}"
        if self.cols:
            while var in self.cols:
                var = "_" + var
        self.closure.append((var, elem_t))
        try:
            body_sql, body_t = self._or()
        finally:
            self.closure.pop()
        self._eat("op", "}")
        self._eat("op", ")")
        if name == "map":
            return f"transform({arr_sql}, {var} -> {body_sql})", f"list_{body_t}"
        self._require(body_t, "bool", f"{name}() closure")
        lam = f"{var} -> {body_sql}"
        if name == "all":
            return f"forall({arr_sql}, {lam})", "bool"
        if name == "any":
            return f"exists({arr_sql}, {lam})", "bool"
        if name == "none":
            return f"(not exists({arr_sql}, {lam}))", "bool"
        if name == "one":
            return f"(size(filter({arr_sql}, {lam})) = 1)", "bool"
        if name == "count":
            return f"size(filter({arr_sql}, {lam}))", "int"
        return f"filter({arr_sql}, {lam})", arr_t

    def _call(self, name: str) -> tuple[str, str]:
        spark_name, want, result = _FUNCS[name]
        tok = self._peek()
        if tok != ("op", "("):
            # a bare built-in name is an unresolvable identifier in expr-lang
            raise self._fail(f"built-in {name!r} must be called")
        self._next()
        args: list[tuple[str, str]] = []
        if self._peek() != ("op", ")"):
            args.append(self._or())
            while self._match(","):
                args.append(self._or())
        self._eat("op", ")")
        if len(args) != len(want):
            raise FilterError(
                f"{name}() takes {len(want)} argument(s), got {len(args)} "
                f"in filter {self.expr!r}"
            )
        if name == "len" and len(args) == 1 and args[0][1].startswith("list_"):
            # expr-lang len() over an array → element count
            return f"size({args[0][0]})", "int"
        for (asql, at), w in zip(args, want):
            self._require(at, w, f"{name}()")
        rtype = result if result is not None else args[0][1]
        return f"{spark_name}({', '.join(a for a, _ in args)})", rtype

    def _list(self, elem_type: str) -> list[str]:
        self._eat("op", "[")
        items: list[str] = []
        if self._peek() != ("op", "]"):
            while True:
                sql, t = self._or()
                same = t == elem_type or (
                    self._is_num(t) and self._is_num(elem_type)
                )
                if not same:
                    raise FilterError(
                        f"type error in filter {self.expr!r}: 'in' list "
                        f"element is {t} but the subject is {elem_type}"
                    )
                items.append(sql)
                if not self._match(","):
                    break
        self._eat("op", "]")
        return items


def translate_filter(expr: str, cols: list[str]) -> str:
    """Return a Spark SQL boolean expression string (raises
    :class:`FilterError` on out-of-range refs, off-grammar constructs, or
    type errors that expr-lang would hit at run time)."""
    sql, t = _Parser(expr, cols).parse()
    if t != "bool":
        raise FilterError(
            f"filter must be a boolean expression (expr.AsBool in the "
            f"reference, pkg/spec/base/filter.go:17); {expr!r} is {t}"
        )
    return sql


def compile_filter(expr: str, cols: list[str]) -> Column:
    """Filter DSL string → boolean Column (rows failing are silently skipped,
    not rejected — reference pkg/spec/v3/node.go:160-167)."""
    return F.expr(translate_filter(expr, cols))


def record_refs(expr: str) -> list[int]:
    """The ``i`` of every ``Record[i]`` in ``expr``, in order (a bare
    ``Record`` reads whatever width the row has, so it adds none)."""
    toks = _lex(expr)
    return [
        int(toks[k + 2][1])
        for k in range(len(toks) - 3)
        if toks[k] == ("ident", "Record")
        and toks[k + 1] == ("op", "[")
        and toks[k + 2][1].isdigit()
        and toks[k + 3] == ("op", "]")
    ]


def validate_filter(expr: str) -> None:
    """Config-time validation without needing the source column list: full
    parse + type check with width checks deferred to compile time (when the
    source schema is known). Raises :class:`FilterError`."""
    sql, t = _Parser(expr, None).parse()
    if t != "bool":
        raise FilterError(
            f"filter must be a boolean expression; {expr!r} is {t}"
        )
