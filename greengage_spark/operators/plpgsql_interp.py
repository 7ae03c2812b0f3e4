"""Interpreter for the procedural PL/pgSQL subset.

Reference semantics being reproduced (src/pl/plpgsql/src/pl_exec.c,
pl_gram.y; regress battery src/test/regress/sql/plpgsql.sql):

* ``FOR i IN [REVERSE] a .. b [BY s] LOOP`` (exec_stmt_fori) — bounds
  evaluated once, BY must be > 0, REVERSE iterates downward, zero
  iterations when the range is empty in the iteration direction.
* ``FOREACH x IN ARRAY expr LOOP`` (exec_stmt_foreach_a).
* ``WHILE cond LOOP`` / bare ``LOOP`` (exec_stmt_while / exec_stmt_loop)
  with ``EXIT [WHEN cond]`` and ``CONTINUE [WHEN cond]``.
* ``IF / ELSIF / ELSE`` with full statement bodies (exec_stmt_if).
* Nested ``BEGIN ... [EXCEPTION WHEN cond [OR cond] THEN ...] END``
  blocks (exec_stmt_block:3245): handlers match by condition name,
  ``others`` catches everything, division by zero maps to
  ``division_by_zero`` exactly as errcodes.h assigns it.
* ``RAISE [EXCEPTION|NOTICE|...] 'fmt' [, arg...]`` (exec_stmt_raise)
  with ``%`` placeholder substitution; non-error levels are no-ops here
  (there is no client to send notices to from an executor).

Bodies that fold to a single SQL expression never reach this module —
``operators.udf_ddl.plpgsql_to_expr`` lowers those into Catalyst (the
fast JVM path, including bounded FOR loops as ``aggregate(sequence())``
folds).  This interpreter is the fallback for genuinely procedural
bodies and registers as a row-at-a-time Python UDF — the same
execution model as the reference's own interpreted PL/pgSQL, and just
like there, keep it off the hot path.

Expressions compile once (at CREATE FUNCTION time) to closure trees
with SQL three-valued logic; variables live in a per-call dict env.
An iteration cap guards runaway WHILE loops on executors.

Row-tier simple-SQL lane (r13): inside a row UDF (no engine hook),
FROM-less ``SELECT expr [INTO]`` / ``PERFORM`` / ``EXECUTE`` / scalar
subqueries evaluate IN-PROCESS through the expression engine — the
pl_exec.c exec_eval_simple_expr fast path; anything needing a table
scan raises loudly at execution.  User-function calls resolve at call
time through a name → callable registry (``functions=`` /
env ``__functions__``), and ``compile_plpgsql(setof=True)`` compiles
RETURN NEXT bodies to list-returning callables so SQL-free SETOF
functions can run per row on executors.
"""

from __future__ import annotations

import math
import re

from greengage_spark.dialect.spans import (
    is_ident,
    lex,
    match_close,
    plain_literal,
    substitute_names,
    substitute_params,
    top_level,
)

_ITERATION_CAP = 10_000_000  # runaway-loop guard per loop statement


class PlPgSQLError(Exception):
    """A raised / caught PL error with its condition name (errcodes.h)."""

    def __init__(self, condition: str, message: str):
        super().__init__(message)
        self.condition = condition
        self.message = message


class _Return(Exception):
    def __init__(self, value):
        self.value = value


class _Exit(Exception):
    def __init__(self, label: str | None = None):
        super().__init__()
        self.label = label


class _Continue(Exception):
    def __init__(self, label: str | None = None):
        super().__init__()
        self.label = label


class _PlCursor:
    """A plpgsql cursor variable (pl_exec.c exec_stmt_open / exec_stmt_fetch
    / exec_stmt_close).  Bound cursors carry their query text and declared
    parameter names from the DECLARE section; unbound ``refcursor``
    variables get their query from ``OPEN ... FOR``.  The portal itself is
    created at OPEN time through the engine-supplied cursor factory
    (streams via toLocalIterator, retained-extent scrolling) or the
    materialized fallback."""

    def __init__(self, name: str, query: str | None = None,
                 arg_names: list[str] | None = None):
        self.name = name
        self.query = query
        self.arg_names = arg_names or []
        self.portal = None  # set by OPEN, cleared by CLOSE


class _ListPortal:
    """Materialized fallback portal (no cursor factory supplied): full
    scroll support over pre-collected rows, same position contract as
    operators.prepared.Cursor — 0 = before first, len+1 = after last."""

    def __init__(self, rows):
        self._buf = list(rows)
        self._pos = 0

    def fetch(self, n):
        out = []
        while n is None or len(out) < n:
            if self._pos < len(self._buf):
                self._pos += 1
                out.append(self._buf[self._pos - 1])
            else:
                self._pos = len(self._buf) + 1
                break
        return out

    def fetch_backward(self, n):
        out = []
        if self._pos > len(self._buf):
            self._pos = len(self._buf)
            if self._pos > 0:
                out.append(self._buf[self._pos - 1])
        while (n is None or len(out) < n) and self._pos > 1:
            self._pos -= 1
            out.append(self._buf[self._pos - 1])
        if (n is None or len(out) < n) and self._pos == 1:
            self._pos = 0
        return out

    def fetch_absolute(self, k):
        if k < 0:
            k = len(self._buf) + 1 + k
        if k <= 0:
            self._pos = 0
            return []
        if k > len(self._buf):
            self._pos = len(self._buf) + 1
            return []
        self._pos = k
        return [self._buf[k - 1]]

    def fetch_relative(self, k):
        if k > 0:
            rows = self.fetch(k)
            return rows[-1:] if len(rows) == k else []
        if k < 0:
            rows = self.fetch_backward(-k)
            return rows[-1:] if len(rows) == -k else []
        if 1 <= self._pos <= len(self._buf):
            return [self._buf[self._pos - 1]]
        return []


# ---------------------------------------------------------------------------
# tokenizer: the front end's lexer, dialect/spans.py (pl_scanner.c likewise
# calls the core scan.l lexer instead of defining its own)
# ---------------------------------------------------------------------------


def _tokenize(src: str) -> list[str]:
    """Tokens of a PL/pgSQL body, comments dropped; E'' and dollar strings
    become plain ''-doubled literals, so every consumer sees one string
    form."""
    toks: list[str] = []
    for m in lex(src):
        t = m.group(0)
        if m.lastgroup == "other" and t in "'\"$":
            raise NotImplementedError(
                f"plpgsql: unterminated quote at {src[m.start():m.start() + 20]!r}"
            )
        if m.lastgroup != "comment":
            toks.append(plain_literal(t))
    return toks


# ---------------------------------------------------------------------------
# SQL value helpers: three-valued logic, PG arithmetic
# ---------------------------------------------------------------------------


def _to_text(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float) and v.is_integer():
        return str(int(v))
    return str(v)


def _num2(a, b, op):
    if a is None or b is None:
        return None
    import datetime as _dt

    # date/timestamp arithmetic (timestamp.c / date.c):
    # date - date -> integer days; date +/- int -> date;
    # datetime difference stays a timedelta (interval)
    a_is_date = isinstance(a, _dt.date) and not isinstance(a, _dt.datetime)
    b_is_date = isinstance(b, _dt.date) and not isinstance(b, _dt.datetime)
    if a_is_date and isinstance(b, int):
        b = _dt.timedelta(days=b)
    elif b_is_date and isinstance(a, int):
        a = _dt.timedelta(days=a)
    r = op(a, b)
    if a_is_date and b_is_date and isinstance(r, _dt.timedelta):
        return r.days
    return r


def _div(a, b):
    if a is None or b is None:
        return None
    if isinstance(a, int) and isinstance(b, int):
        if b == 0:
            raise ZeroDivisionError("division by zero")
        q = abs(a) // abs(b)  # int4div truncates toward zero
        return q if (a >= 0) == (b >= 0) else -q
    return a / b  # float division raises ZeroDivisionError itself


def _mod(a, b):
    if a is None or b is None:
        return None
    if b == 0:
        raise ZeroDivisionError("division by zero")
    r = abs(a) % abs(b)  # int4mod: sign of the dividend
    return r if a >= 0 else -r


def _cat(a, b):
    # PG textcat is strict; array || element/array concatenates
    if a is None or b is None:
        return None
    if isinstance(a, list) and isinstance(b, list):
        return a + b
    if isinstance(a, list):
        return a + [b]
    if isinstance(b, list):
        return [a] + b
    return _to_text(a) + _to_text(b)


def _cmp(a, b, op):
    if a is None or b is None:
        return None
    if isinstance(a, bool) != isinstance(b, bool) and not (
        isinstance(a, (int, float)) and isinstance(b, (int, float))
    ):
        a, b = _to_text(a), _to_text(b)
    return op(a, b)


def _and(a, b):
    if a is False or b is False:
        return False
    if a is None or b is None:
        return None
    return True


def _or(a, b):
    if a is True or b is True:
        return True
    if a is None or b is None:
        return None
    return False


def _not(a):
    return None if a is None else (not a)


def _round_half_away(v, s=0):
    # numeric round: half away from zero (PG), not banker's
    if v is None:
        return None
    m = 10 ** s
    x = v * m
    r = math.floor(x + 0.5) if x >= 0 else -math.floor(-x + 0.5)
    return r / m if s else int(r)


def _cast_int(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, str):
        return int(v.strip())
    if isinstance(v, float):
        return int(_round_half_away(v))  # numeric→int rounds half away
    return int(v)


def _cast_float(v):
    if v is None:
        return None
    return float(v.strip()) if isinstance(v, str) else float(v)


def _cast_bool(v):
    if v is None:
        return None
    if isinstance(v, str):
        s = v.strip().lower()
        if s in ("t", "true", "yes", "on", "1"):
            return True
        if s in ("f", "false", "no", "off", "0"):
            return False
        raise PlPgSQLError(
            "invalid_text_representation",
            f"invalid input syntax for type boolean: {v!r}",
        )
    return bool(v)


def _cast_date(v):
    import datetime as _dt

    if isinstance(v, _dt.datetime):
        return v.date()
    if isinstance(v, _dt.date):
        return v
    return _dt.date.fromisoformat(str(v).strip())


def _cast_timestamp(v):
    import datetime as _dt

    if isinstance(v, _dt.datetime):
        return v
    if isinstance(v, _dt.date):
        return _dt.datetime(v.year, v.month, v.day)
    return _dt.datetime.fromisoformat(str(v).strip())


def _date_part(field, v):
    """extract/date_part over date/timestamp values (timestamp.c
    timestamp_part / date.c): float8 result, PG field names; naive
    timestamps count epoch as UTC (PG timestamp-without-tz rule)."""
    import calendar
    import datetime as _dt

    if field is None or v is None:
        return None
    f = str(field).lower()
    if isinstance(v, str):
        v = _cast_timestamp(v) if len(v) > 10 else _cast_date(v)
    is_dt = isinstance(v, _dt.datetime)
    if f == "epoch":
        if is_dt:
            if v.tzinfo is not None:
                return v.timestamp()
            return float(calendar.timegm(v.timetuple())) + v.microsecond / 1e6
        return float(calendar.timegm(_dt.datetime(v.year, v.month, v.day).timetuple()))
    if f == "year":
        return float(v.year)
    if f == "month":
        return float(v.month)
    if f == "day":
        return float(v.day)
    if f == "hour":
        return float(v.hour) if is_dt else 0.0
    if f in ("minute", "minutes"):
        return float(v.minute) if is_dt else 0.0
    if f in ("second", "seconds"):
        return (v.second + v.microsecond / 1e6) if is_dt else 0.0
    if f == "dow":
        return float((v.weekday() + 1) % 7)  # Sunday = 0
    if f == "isodow":
        return float(v.weekday() + 1)  # Monday = 1
    if f == "doy":
        return float(v.timetuple().tm_yday)
    if f == "quarter":
        return float((v.month - 1) // 3 + 1)
    if f == "week":
        return float(v.isocalendar()[1])
    if f == "isoyear":
        return float(v.isocalendar()[0])
    if f == "century":
        return float((v.year + 99) // 100)
    if f == "decade":
        return float(v.year // 10)
    if f == "millennium":
        return float((v.year + 999) // 1000)
    raise NotImplementedError(
        f"plpgsql: extract/date_part field {f!r} not supported"
    )


_CASTS = {
    "int": _cast_int, "int2": _cast_int, "int4": _cast_int,
    "int8": _cast_int, "integer": _cast_int, "bigint": _cast_int,
    "smallint": _cast_int,
    "float4": _cast_float, "float8": _cast_float, "real": _cast_float,
    "numeric": _cast_float, "decimal": _cast_float, "float": _cast_float,
    "double": _cast_float,
    "text": _to_text, "varchar": _to_text, "char": _to_text,
    "bpchar": _to_text,
    "bool": _cast_bool, "boolean": _cast_bool,
    "date": _cast_date, "timestamp": _cast_timestamp,
    "timestamptz": _cast_timestamp,
}


def _strict(f):
    def g(*a):
        if any(x is None for x in a):
            return None
        return f(*a)

    return g


def _pg_substr(s, i, n=None):
    # varlena.c text_substr: 1-based, negative starts clip
    if n is None:
        start = max(i - 1, 0)
        return s[start:]
    if n < 0:
        raise PlPgSQLError(
            "substring_error", "negative substring length not allowed"
        )
    start, end = i - 1, i - 1 + n
    return s[max(start, 0) : max(end, 0)]


def _least(*a):
    vs = [x for x in a if x is not None]
    return min(vs) if vs else None


def _greatest(*a):
    vs = [x for x in a if x is not None]
    return max(vs) if vs else None


def _coalesce(*a):
    for x in a:
        if x is not None:
            return x
    return None


_SIMPLE_IDENT = re.compile(r"^[a-z_][a-z0-9_]*$")


def _q_ident(s) -> str:
    """quote_ident (ruleutils.c quote_identifier): quote unless the name
    is already a safe lower-case identifier."""
    s = str(s)
    if _SIMPLE_IDENT.match(s):
        return s
    return '"' + s.replace('"', '""') + '"'


def _q_literal(v) -> str:
    return "'" + str(v).replace("'", "''") + "'"


def _fn_format(fmt, *args):
    """format() (varlena.c text_format): %s / %I / %L / %%; positional
    %n$ is out of the subset (loud)."""
    if fmt is None:
        return None
    out, ai, i, n = [], 0, 0, len(fmt)
    while i < n:
        ch = fmt[i]
        if ch != "%":
            out.append(ch)
            i += 1
            continue
        if i + 1 >= n:
            raise PlPgSQLError(
                "invalid_parameter_value", "unterminated format() specifier"
            )
        spec = fmt[i + 1]
        if spec == "%":
            out.append("%")
            i += 2
            continue
        if spec.isdigit():
            raise NotImplementedError("plpgsql format(): positional %n$")
        if ai >= len(args):
            raise PlPgSQLError(
                "invalid_parameter_value",
                "too few arguments for format()",
            )
        v = args[ai]
        ai += 1
        if spec == "s":
            out.append("" if v is None else _to_text(v))
        elif spec == "I":
            if v is None:
                raise PlPgSQLError(
                    "null_value_not_allowed",
                    "null values cannot be formatted as an SQL identifier",
                )
            out.append(_q_ident(v))
        elif spec == "L":
            out.append("NULL" if v is None else _q_literal(_to_text(v)))
        else:
            raise PlPgSQLError(
                "invalid_parameter_value",
                f'unrecognized format() type specifier "{spec}"',
            )
        i += 2
    return "".join(out)


_FUNCS = {
    "quote_ident": _strict(_q_ident),
    "quote_literal": _strict(lambda v: _q_literal(_to_text(v))),
    "quote_nullable": lambda v: "NULL" if v is None else _q_literal(_to_text(v)),
    "format": _fn_format,
    "abs": _strict(abs),
    "mod": _strict(_mod),
    "length": _strict(len),
    "char_length": _strict(len),
    "character_length": _strict(len),
    "upper": _strict(str.upper),
    "lower": _strict(str.lower),
    "substr": _strict(_pg_substr),
    "substring": _strict(_pg_substr),
    "strpos": _strict(lambda s, sub: s.find(sub) + 1),
    "position": _strict(lambda sub, s: s.find(sub) + 1),
    "replace": _strict(lambda s, a, b: s.replace(a, b)),
    "repeat": _strict(lambda s, n: s * max(n, 0)),
    "left": _strict(lambda s, n: s[:n] if n >= 0 else s[: len(s) + n]),
    "right": _strict(lambda s, n: (s[-n:] if n else "") if n >= 0 else s[-n:]),
    "trim": _strict(str.strip),
    "btrim": _strict(lambda s, c=None: s.strip(c)),
    "ltrim": _strict(lambda s, c=None: s.lstrip(c)),
    "rtrim": _strict(lambda s, c=None: s.rstrip(c)),
    "reverse": _strict(lambda s: s[::-1]),
    "initcap": _strict(lambda s: re.sub(r"\w+", lambda m: m.group(0).capitalize(), s)),
    "chr": _strict(chr),
    "ascii": _strict(ord),
    "coalesce": _coalesce,
    "nullif": lambda a, b: None if a == b else a,
    "least": _least,
    "greatest": _greatest,
    "floor": _strict(lambda v: float(math.floor(v))),
    "ceil": _strict(lambda v: float(math.ceil(v))),
    "ceiling": _strict(lambda v: float(math.ceil(v))),
    "round": _strict(_round_half_away),
    "trunc": _strict(lambda v, s=0: math.trunc(v * 10 ** s) / 10 ** s if s else math.trunc(v)),
    "power": _strict(lambda a, b: float(a) ** b),
    "pow": _strict(lambda a, b: float(a) ** b),
    "sqrt": _strict(math.sqrt),
    "exp": _strict(math.exp),
    "ln": _strict(math.log),
    "log": _strict(math.log10),  # PG single-arg log = log10
    "sign": _strict(lambda v: float((v > 0) - (v < 0))),
    "date_part": _strict(_date_part),
    "pi": lambda: math.pi,
    "array_length": _strict(lambda a, d: len(a) if d == 1 and a else None),
    "array_upper": _strict(lambda a, d: len(a) if d == 1 and a else None),
    "array_lower": _strict(lambda a, d: 1 if d == 1 and a else None),
    "cardinality": _strict(len),
    "array_append": lambda a, x: (a or []) + [x],
    "array_prepend": lambda x, a: [x] + (a or []),
    "concat": lambda *a: "".join(_to_text(x) for x in a if x is not None),
}


# ---------------------------------------------------------------------------
# expression compiler (Pratt): token stream -> closure(env) -> value
# ---------------------------------------------------------------------------

_CMP_OPS = {
    "=": lambda a, b: _cmp(a, b, lambda x, y: x == y),
    "<>": lambda a, b: _cmp(a, b, lambda x, y: x != y),
    "!=": lambda a, b: _cmp(a, b, lambda x, y: x != y),
    "<": lambda a, b: _cmp(a, b, lambda x, y: x < y),
    "<=": lambda a, b: _cmp(a, b, lambda x, y: x <= y),
    ">": lambda a, b: _cmp(a, b, lambda x, y: x > y),
    ">=": lambda a, b: _cmp(a, b, lambda x, y: x >= y),
}

_ADD_OPS = {
    "+": lambda a, b: _num2(a, b, lambda x, y: x + y),
    "-": lambda a, b: _num2(a, b, lambda x, y: x - y),
}

_MUL_OPS = {
    "*": lambda a, b: _num2(a, b, lambda x, y: x * y),
    "/": _div,
    "%": _mod,
}


class _ExprParser:
    """Pratt parser over the shared token list; returns closures."""

    def __init__(self, toks: list[str], pos: int, allow_sql: bool = False):
        self.toks = toks
        self.pos = pos
        self.allow_sql = allow_sql

    def peek(self) -> str | None:
        return self.toks[self.pos] if self.pos < len(self.toks) else None

    def peek_low(self) -> str | None:
        t = self.peek()
        return t.lower() if t is not None and is_ident(t) else t

    def take(self) -> str:
        t = self.toks[self.pos]
        self.pos += 1
        return t

    def peek_at_next_is_paren(self) -> bool:
        return (
            self.pos + 1 < len(self.toks) and self.toks[self.pos + 1] == "("
        )

    def expect(self, tok: str) -> None:
        t = self.take()
        if (t.lower() if is_ident(t) else t) != tok:
            raise NotImplementedError(
                f"plpgsql expression: expected {tok!r}, got {t!r}"
            )

    # precedence climbing ---------------------------------------------------

    def parse(self):
        return self._or()

    def _or(self):
        left = self._and()
        while self.peek_low() == "or":
            self.take()
            right = self._and()
            left = (lambda l, r: lambda env: _or(l(env), r(env)))(left, right)
        return left

    def _and(self):
        left = self._not()
        while self.peek_low() == "and":
            self.take()
            right = self._not()
            left = (lambda l, r: lambda env: _and(l(env), r(env)))(left, right)
        return left

    def _not(self):
        if self.peek_low() == "not":
            self.take()
            inner = self._not()
            return lambda env: _not(inner(env))
        return self._comparison()

    def _comparison(self):
        left = self._additive()
        t = self.peek()
        if t in _CMP_OPS:
            op = _CMP_OPS[self.take()]
            right = self._additive()
            return (lambda l, r, o: lambda env: o(l(env), r(env)))(left, right, op)
        if self.peek_low() == "is":
            self.take()
            neg = False
            if self.peek_low() == "not":
                self.take()
                neg = True
            nxt = self.peek_low()
            if nxt == "null":
                self.take()
                return (
                    (lambda l: lambda env: l(env) is not None)(left)
                    if neg
                    else (lambda l: lambda env: l(env) is None)(left)
                )
            raise NotImplementedError("plpgsql: IS supports only [NOT] NULL")
        if self.peek_low() == "between":
            self.take()
            lo = self._additive()
            self.expect("and")
            hi = self._additive()
            return (
                lambda l, a, b: lambda env: _and(
                    _cmp(l(env), a(env), lambda x, y: x >= y),
                    _cmp(l(env), b(env), lambda x, y: x <= y),
                )
            )(left, lo, hi)
        neg_in = False
        if self.peek_low() == "not" and (
            self.pos + 1 < len(self.toks)
            and is_ident(self.toks[self.pos + 1])
            and self.toks[self.pos + 1].lower() == "in"
        ):
            self.take()
            neg_in = True
        if self.peek_low() == "in":
            # expr [NOT] IN (e1, e2, ...) — scalar list form (the SQL
            # semantics: NULL operand → NULL; a NULL member means a
            # non-match can never be FALSE, only NULL)
            self.take()
            self.expect("(")
            items = [self._additive()]
            while self.peek() == ",":
                self.take()
                items.append(self._additive())
            self.expect(")")

            def _in(l, es, neg):
                def run(env):
                    v = l(env)
                    if v is None:
                        return None
                    vals = [e(env) for e in es]
                    hit = any(
                        _cmp(v, x, lambda a, b: a == b) is True for x in vals
                    )
                    if hit:
                        return not neg
                    if any(x is None for x in vals):
                        return None
                    return neg

                return run

            return _in(left, items, neg_in)
        return left

    def _additive(self):
        left = self._multiplicative()
        while True:
            t = self.peek()
            if t == "||":
                self.take()
                right = self._multiplicative()
                left = (lambda l, r: lambda env: _cat(l(env), r(env)))(left, right)
            elif t in _ADD_OPS:
                op = _ADD_OPS[self.take()]
                right = self._multiplicative()
                left = (lambda l, r, o: lambda env: o(l(env), r(env)))(
                    left, right, op
                )
            else:
                return left

    def _multiplicative(self):
        left = self._unary()
        while self.peek() in _MUL_OPS:
            op = _MUL_OPS[self.take()]
            right = self._unary()
            left = (lambda l, r, o: lambda env: o(l(env), r(env)))(left, right, op)
        return left

    def _unary(self):
        t = self.peek()
        if t == "-":
            self.take()
            inner = self._unary()
            return lambda env: None if inner(env) is None else -inner(env)
        if t == "+":
            self.take()
            return self._unary()
        return self._postfix()

    def _finish_cast(self, e):
        """Type-name suffix of a cast (`::t` already consumed, or the
        `AS` of CAST(x AS t)): reads the type name (+ multiword tails,
        precision parens, [] suffix) and returns the wrapped expr."""
        tname = self.take().lower()
        # multiword type names (gram.y SimpleTypename)
        if tname == "double" and self.peek_low() == "precision":
            self.take()
        elif tname in ("character", "char") and self.peek_low() == "varying":
            self.take()
            tname = "varchar"
        # swallow precision/length parens and [] array suffix
        if self.peek() == "(":
            self.pos = match_close(self.toks, self.pos) + 1
        if tname in ("timestamp", "time") and self.peek_low() in (
            "with", "without"
        ):
            self.take()
            self.expect("time")
            self.expect("zone")
        if self.peek() == "[":
            self.take()
            self.expect("]")
            return e  # array cast: elements keep their runtime types
        cast = _CASTS.get(tname)
        if cast is None:

            def _comp_cast2(env, _inner=e, _t=tname):
                fields = (env.get("__types__") or {}).get(_t)
                if fields is None:
                    raise NotImplementedError(
                        f"plpgsql: cast to {_t!r} not supported"
                    )
                v = _inner(env)
                if v is None:
                    return None
                if isinstance(v, dict):
                    vals = list(v.values())
                elif hasattr(v, "__fields__"):
                    vals = [v[c] for c in v.__fields__]
                else:
                    raise PlPgSQLError(
                        "cannot_coerce",
                        f"cannot cast scalar to composite {_t}",
                    )
                if len(vals) != len(fields):
                    raise PlPgSQLError(
                        "cannot_coerce",
                        f"cannot cast: {len(vals)} fields vs "
                        f"{len(fields)} in {_t}",
                    )
                return dict(zip(fields, vals))

            return _comp_cast2
        return (lambda inner, c: lambda env: c(inner(env)))(e, cast)

    def _postfix(self):
        e = self._primary()
        while True:
            t = self.peek()
            if t == "::":
                self.take()
                e = self._finish_cast(e)
            elif t == "[":
                self.take()
                idx = self.parse()
                self.expect("]")
                e = (
                    lambda inner, ix: lambda env: _subscript(inner(env), ix(env))
                )(e, idx)
            elif (
                t == "."
                and self.pos + 1 < len(self.toks)
                and is_ident(self.toks[self.pos + 1])
            ):
                self.take()
                name = self.take().lower()
                e = (lambda inner, n: lambda env: _field(inner(env), n))(e, name)
            else:
                return e

    def _primary(self):
        t = self.peek()
        if t is None:
            raise NotImplementedError("plpgsql: unexpected end of expression")
        if t == "(":
            self.take()
            if self.peek() is not None and is_ident(self.peek()) \
                    and self.peek().lower() in ("select", "with"):
                # scalar subquery (pl_exec.c evaluates every expression
                # through SPI, so (SELECT ...) just works in PG) — via
                # the SQL hook driver-side; in the row tier _run_sql
                # falls back to the FROM-less simple-expression
                # evaluator and anything else raises loudly at run time
                j = next((k for k, t in top_level(self.toks, self.pos) if t == ")"), None)
                if j is None:
                    raise NotImplementedError(
                        "plpgsql: unterminated scalar subquery"
                    )
                sql = " ".join(self.toks[self.pos : j])
                self.pos = j + 1

                def _subq(env, _sql=sql):
                    rows, _rc = _run_sql(env, _interpolate(_sql, env), vars_visible=True)
                    if not rows:
                        return None
                    if len(rows) > 1:
                        raise PlPgSQLError(
                            "cardinality_violation",
                            "more than one row returned by a subquery "
                            "used as an expression",
                        )
                    return rows[0][0]

                return _subq
            e = self.parse()
            if self.peek() == ",":
                # row constructor (a, b, ...) — PG's anonymous record;
                # fields surface as f1..fn (parse_expr.c transformRowExpr)
                items = [e]
                while self.peek() == ",":
                    self.take()
                    items.append(self.parse())
                self.expect(")")

                def _row(env, _items=tuple(items)):
                    return {f"f{i + 1}": it(env)
                            for i, it in enumerate(_items)}

                return _row
            self.expect(")")
            return e
        if t.startswith("'"):
            self.take()
            s = t[1:-1].replace("''", "'")
            return lambda env, _s=s: _s
        if re.match(r"^\d", t):
            self.take()
            v = float(t) if ("." in t or "e" in t.lower()) else int(t)
            return lambda env, _v=v: _v
        if t.startswith("$"):
            self.take()
            return lambda env, _n=t: env[_n]
        low = t.lower()
        if low == "row" and self.peek_at_next_is_paren():
            self.take()
            self.take()  # '('
            items = [self.parse()]
            while self.peek() == ",":
                self.take()
                items.append(self.parse())
            self.expect(")")

            def _rowkw(env, _items=tuple(items)):
                return {f"f{i + 1}": it(env) for i, it in enumerate(_items)}

            return _rowkw
        if low == "null":
            self.take()
            return lambda env: None
        if low in ("true", "false"):
            self.take()
            return lambda env, _v=(low == "true"): _v
        if low == "case":
            return self._case()
        if low == "array" and self.pos + 1 < len(self.toks) and self.toks[self.pos + 1] == "[":
            self.take()
            self.take()  # [
            items = []
            if self.peek() != "]":
                items.append(self.parse())
                while self.peek() == ",":
                    self.take()
                    items.append(self.parse())
            self.expect("]")
            return lambda env, _it=items: [f(env) for f in _it]
        if (
            is_ident(t)
            and self.peek_at_next_is_paren()
            and t.lower() in (
                "substring", "trim", "position", "overlay", "extract"
            )
        ):
            # SQL-92 keyword argument forms (gram.y
            # func_expr_common_subexpr); plain comma forms rewind to
            # the generic call path
            save = self.pos
            self.take()
            self.take()  # (
            sp = self._special_sqlform(t.lower())
            if sp is not None:
                return sp
            self.pos = save
        if (
            is_ident(t)
            and t.lower() in ("date", "timestamp", "timestamptz")
            and self.pos + 1 < len(self.toks)
            and self.toks[self.pos + 1].startswith(chr(39))
        ):
            # typed literal (gram.y AexprConst: Typename Sconst)
            cast = _CASTS[t.lower()]
            self.take()
            lit = self.take()
            val = cast(lit[1:-1].replace(chr(39) * 2, chr(39)))
            return lambda env, _v=val: _v
        if is_ident(t) and t.lower() == "cast" and self.peek_at_next_is_paren():
            # CAST(x AS type) — same machinery as ::type (gram.y Typecast)
            self.take()
            self.take()  # (
            e = self.parse()
            self.expect("as")
            e = self._finish_cast(e)
            self.expect(")")
            return e
        if is_ident(t):
            self.take()
            if self.peek() == "(":
                self.take()
                args = []
                if self.peek() != ")":
                    args.append(self.parse())
                    while self.peek() == ",":
                        self.take()
                        args.append(self.parse())
                self.expect(")")
                fn = _FUNCS.get(low)
                if fn is None:
                    if self.allow_sql:
                        # unknown function driver-side: evaluate through
                        # the SQL hook — PG runs EVERY plpgsql expression
                        # through SPI, so user functions just resolve
                        def _sqlfn(env, _name=low, _a=tuple(args)):
                            vals = ", ".join(
                                _sql_literal(g(env)) for g in _a
                            )
                            rows, _rc = _run_sql(
                                env, f"SELECT {_name}({vals})"
                            )
                            return rows[0][0] if rows else None

                        return _sqlfn

                    # row tier: defer to the CREATE FUNCTION registry at
                    # call time — PG also resolves at execution, not at
                    # plpgsql compile (pl_comp.c builds expr plans lazily)
                    def _userfn(env, _name=low, _a=tuple(args)):
                        reg = env.get("__functions__") or {}
                        f = reg.get(_name)
                        if f is None:
                            raise PlPgSQLError(
                                "undefined_function",
                                f"function {_name}() is neither a "
                                "built-in of the plpgsql interpreter nor "
                                "a registered row-tier CREATE FUNCTION",
                            )
                        return f(*(g(env) for g in _a))

                    return _userfn
                return lambda env, _f=fn, _a=args: _f(*(g(env) for g in _a))
            return lambda env, _n=low: _lookup(env, _n)
        raise NotImplementedError(f"plpgsql expression: unexpected token {t!r}")

    def _special_sqlform(self, low: str):
        """substring(x FROM a [FOR b]) / trim([leading|trailing|both]
        [chars] FROM s) / position(a IN b) / overlay(s PLACING r FROM
        a [FOR b]) — the SQL-92 keyword forms.  Returns None when the
        call uses the plain comma form (caller rewinds)."""
        if low == "extract":
            # extract(FIELD FROM expr) -> date_part (gram.y EXTRACT)
            fld = self.take()
            fld = fld[1:-1] if fld.startswith(chr(39)) else fld.lower()
            if self.peek_low() != "from":
                return None
            self.take()
            src = self.parse()
            self.expect(")")
            return lambda env, _f=fld, _e=src: _date_part(_f, _e(env))
        if low == "trim":
            side = "both"
            if self.peek_low() in ("leading", "trailing", "both"):
                side = self.take().lower()
            chars = None
            if self.peek_low() != "from" and self.peek() != ")":
                chars = self.parse()
            if self.peek_low() == "from":
                self.take()
                sarg = self.parse()
            elif chars is not None and self.peek() == ")":
                if side == "both" and self.toks[self.pos - 1] != ")":
                    pass
                sarg, chars = chars, None
            else:
                return None
            self.expect(")")

            def runt(env, _s=sarg, _c=chars, _side=side):
                v = _s(env)
                if v is None:
                    return None
                c = _c(env) if _c is not None else None
                if _side == "leading":
                    return v.lstrip(c)
                if _side == "trailing":
                    return v.rstrip(c)
                return v.strip(c)

            return runt
        if low == "position":
            a = self._additive()
            if self.peek_low() != "in":
                return None
            self.take()
            b = self.parse()
            self.expect(")")

            def runp(env, _a=a, _b=b):
                av, bv = _a(env), _b(env)
                if av is None or bv is None:
                    return None
                return bv.find(av) + 1

            return runp
        sarg = self.parse()
        if low == "overlay":
            if self.peek_low() != "placing":
                return None
            self.take()
            r = self.parse()
            self.expect("from")
            a = self.parse()
            b = None
            if self.peek_low() == "for":
                self.take()
                b = self.parse()
            self.expect(")")

            def runo(env, _s=sarg, _r=r, _a=a, _b=b):
                sv, rv, av = _s(env), _r(env), _a(env)
                if sv is None or rv is None or av is None:
                    return None
                bv = _b(env) if _b is not None else len(rv)
                i = int(av) - 1
                return sv[:i] + rv + sv[i + int(bv):]

            return runo
        # substring
        if self.peek_low() not in ("from", "for"):
            return None
        a = None
        if self.peek_low() == "from":
            self.take()
            a = self.parse()
        b = None
        if self.peek_low() == "for":
            self.take()
            b = self.parse()
        self.expect(")")

        def runs(env, _s=sarg, _a=a, _b=b):
            sv = _s(env)
            if sv is None:
                return None
            av = _a(env) if _a is not None else 1
            if isinstance(av, str):
                # substring(string FROM pattern): POSIX regex — the
                # first parenthesized group when present (varlena.c
                # textregexsubstr)
                m = re.search(av, sv)
                if not m:
                    return None
                return m.group(1) if m.groups() else m.group(0)
            bv = _b(env) if _b is not None else None
            return _pg_substr(sv, int(av), None if bv is None else int(bv))

        return runs

    def _case(self):
        self.expect("case")
        whens = []
        while self.peek_low() == "when":
            self.take()
            c = self.parse()
            self.expect("then")
            v = self.parse()
            whens.append((c, v))
        els = None
        if self.peek_low() == "else":
            self.take()
            els = self.parse()
        self.expect("end")

        def run(env, _w=whens, _e=els):
            for c, v in _w:
                if c(env) is True:
                    return v(env)
            return _e(env) if _e is not None else None

        return run


def _subscript(arr, i):
    if arr is None or i is None:
        return None
    return arr[i - 1] if 1 <= i <= len(arr) else None  # 1-based, OOB → NULL


def _field(obj, name):
    """rec.field access on a result Row (case-insensitive, plpgsql
    lowercases unquoted identifiers)."""
    if obj is None:
        return None
    try:
        return obj[name]
    except Exception:  # noqa: BLE001 - fall through to case-insens scan
        fields = getattr(obj, "__fields__", None) or (
            list(obj.keys()) if hasattr(obj, "keys") else []
        )
        for f in fields:
            if f.lower() == name:
                return obj[f]
        raise PlPgSQLError(
            "undefined_column", f'record has no field "{name}"'
        ) from None


def _lookup(env, name):
    try:
        return env[name]
    except KeyError:
        raise PlPgSQLError(
            "undefined_column", f'column "{name}" does not exist'
        ) from None


# ---------------------------------------------------------------------------
# statement parser
# ---------------------------------------------------------------------------

_LEVELS = ("exception", "notice", "warning", "info", "log", "debug")

# PG Appendix A: the condition-name <-> SQLSTATE pairs the regress and
# common handlers use; unknown errcodes pass through verbatim
_SQLSTATE_BY_NAME = {
    "division_by_zero": "22012",
    "null_value_not_allowed": "22004",
    "numeric_value_out_of_range": "22003",
    "invalid_text_representation": "22p02",
    "unique_violation": "23505",
    "check_violation": "23514",
    "not_null_violation": "23502",
    "foreign_key_violation": "23503",
    "raise_exception": "p0001",
    "no_data_found": "p0002",
    "too_many_rows": "p0003",
    "assert_failure": "p0004",
    "case_not_found": "20000",
    "invalid_parameter_value": "22023",
    "syntax_error": "42601",
    "undefined_object": "42704",
    "feature_not_supported": "0a000",
    "invalid_cursor_name": "34000",
    "duplicate_cursor": "42p03",
    "statement_too_complex": "54001",
    "string_data_right_truncation": "22001",
    "substring_error": "22011",
    "program_limit_exceeded": "54000",
    "datetime_field_overflow": "22008",
    "routine_exception": "39000",
    "undefined_function": "42883",
    "array_subscript_error": "2202e",
}
_NAME_BY_SQLSTATE = {v: k for k, v in _SQLSTATE_BY_NAME.items()}


class _StmtParser:
    def __init__(self, toks: list[str], allow_sql: bool = False,
                 allow_setof: bool = False,
                 composite_types: set | frozenset = frozenset()):
        self.toks = toks
        self.pos = 0
        self.allow_sql = allow_sql  # driver-side (DO block): SQL hook ok
        self.allow_setof = allow_setof  # RETURN NEXT/QUERY accumulate
        self.casts: dict[str, object] = {}  # var -> declared-type cast fn
        self.records: set[str] = set()  # vars declared RECORD
        self.cursor_names: set[str] = set()  # declared bound cursors
        # CREATE TYPE AS names (engine-provided): vars of these types
        # declare as records with the type's field names; a dict maps
        # name -> [field names] so INTO targets can relabel plain rows
        if isinstance(composite_types, dict):
            self.composite_fields = {
                str(k).lower(): [str(f).lower() for f in (v or [])]
                for k, v in composite_types.items()
            }
        else:
            self.composite_fields = {
                str(t).lower(): None for t in composite_types
            }
        self.composite_types = set(self.composite_fields)
        # per-VARIABLE composite field names (for INTO relabeling)
        self.var_fields: dict[str, list | None] = {}

    def peek_low(self, off: int = 0) -> str | None:
        i = self.pos + off
        if i >= len(self.toks):
            return None
        t = self.toks[i]
        return t.lower() if is_ident(t) else t

    def take(self) -> str:
        t = self.toks[self.pos]
        self.pos += 1
        return t

    def expect(self, *words: str) -> None:
        for w in words:
            t = self.take()
            if (t.lower() if is_ident(t) else t) != w:
                raise NotImplementedError(
                    f"plpgsql: expected {w!r}, got {t!r}"
                )

    def expr(self):
        ep = _ExprParser(self.toks, self.pos, allow_sql=self.allow_sql)
        e = ep.parse()
        self.pos = ep.pos
        return e

    def opt_semi(self) -> None:
        if self.peek_low() == ";":
            self.take()

    # ---- block & statements ----

    def _peek_label(self) -> bool:
        return self.peek() == "<<" and self.peek(2) == ">>"

    def _take_label(self) -> str:
        self.take()
        label = self.take().lower()
        self.expect(">>")
        return label

    def _end_label(self, label, what: str) -> None:
        """Optional trailing label after END [LOOP] (pl_gram.y
        opt_label): must match the construct's own label.  Only eaten
        when followed by ';' or end-of-body, so a missing semicolon
        never swallows the next statement's identifier."""
        t = self.peek()
        if (
            t is not None
            and is_ident(t)
            and (self.peek(1) is None or self.peek(1) == ";")
        ):
            got = self.take().lower()
            if label is None:
                raise PlPgSQLError(
                    "syntax_error",
                    f'end label "{got}" specified for unlabeled {what}',
                )
            if got != label:
                raise PlPgSQLError(
                    "syntax_error",
                    f'end label "{got}" differs from label "{label}"',
                )

    def _claim_label(self):
        lbl = getattr(self, "_next_label", None)
        self._next_label = None
        return lbl

    def _end_loop(self, label) -> None:
        self.expect("end", "loop")
        self._end_label(label, "loop")
        self.opt_semi()

    def parse_block(self):
        label = self._take_label() if self._peek_label() else None
        decls = []
        if self.peek_low() == "declare":
            self.take()
            while self.peek_low() != "begin":
                decls.append(self._decl())
        self.expect("begin")
        body = self._stmts(until=("exception", "end"))
        handlers = []
        if self.peek_low() == "exception":
            self.take()
            while self.peek_low() == "when":
                self.take()
                conds = [self._handler_cond()]
                while self.peek_low() == "or":
                    self.take()
                    conds.append(self._handler_cond())
                self.expect("then")
                hbody = self._stmts(until=("when", "end"))
                handlers.append((frozenset(conds), hbody))
        self.expect("end")
        self._end_label(label, "block")
        self.opt_semi()
        block = ("block", decls, body, handlers)
        return ("labeled", label, block) if label else block

    def _handler_cond(self) -> str:
        """One EXCEPTION WHEN condition: a name or SQLSTATE 'xxxxx'
        (pl_gram.y proc_condition); stored lowercased so matching can
        compare both the raised condition name and its SQLSTATE."""
        t = self.take().lower()
        if t == "sqlstate":
            lit = self.take()
            if not lit.startswith("'"):
                raise NotImplementedError(
                    "plpgsql: SQLSTATE handler needs a string literal"
                )
            return lit[1:-1].lower()
        return t

    def _decl(self):
        name = self.take().lower()
        if self.peek_low() == "alias":
            self.expect("alias", "for")
            param = self.take()
            self.expect(";")
            return ("alias", name, param)
        # cursor declarations (pl_gram.y decl_cursor_query):
        #   name [NO SCROLL | SCROLL] CURSOR [(argname type, ...)] FOR|IS q
        nxt = self.peek_low()
        if nxt == "cursor" or (
            nxt in ("scroll", "no") and self.peek_low(1) in ("cursor", "scroll")
        ):
            if nxt == "no":
                self.take()
                self.expect("scroll")  # retained-extent portals scroll anyway
            elif nxt == "scroll":
                self.take()
            self.expect("cursor")
            if not self.allow_sql:
                raise NotImplementedError(
                    "plpgsql interpreter: cursors need the SQL engine — "
                    "not available inside a row UDF; use a DO block "
                    "(driver-side)"
                )
            params: list[str] = []
            if self.peek() == "(":
                self.take()
                while True:
                    params.append(self.take().lower())
                    # skip the declared type to the next depth-0 , or )
                    end = next(
                        (k for k, t in top_level(self.toks, self.pos) if t in (",", ")")),
                        None,
                    )
                    if end is None:
                        raise NotImplementedError(
                            "plpgsql: unterminated cursor argument list"
                        )
                    self.pos = end
                    if self.take() == ")":
                        break
            if self.peek_low() not in ("for", "is"):
                raise NotImplementedError(
                    "plpgsql: bound cursor declaration needs FOR <query>"
                )
            self.take()
            sql, _ = self._raw_until({";"})
            self.expect(";")
            self.cursor_names.add(name)
            return ("cursor_decl", name, params, sql)
        if self.peek_low() == "constant":
            self.take()
        tname = self.take().lower()
        if tname == "refcursor":
            # unbound cursor variable (pl_comp.c REFCURSOR): OPEN ... FOR
            # binds the query later.  An initializer names the portal
            # (PG: a refcursor's value IS the portal name) — parsed and
            # discarded: retained-extent portals are per-variable here,
            # so the name has no cross-statement meaning
            if self.peek_low() in (":=", "=", "default"):
                self.take()
                self.expr()
            self.expect(";")
            self.casts[name] = lambda v: v
            return ("cursor_decl", name, [], None)
        if tname in self.composite_types and self.peek() == "[":
            # array of composites (xy_tuple[]): a plain array var —
            # elements keep whatever row shape SQL delivers
            self.take()
            self.expect("]")
            init = None
            if self.peek_low() in (":=", "=", "default"):
                self.take()
                init = self.expr()
            self.expect(";")
            self.casts[name] = lambda v: v
            return ("var", name, lambda v: v, init)
        if tname == "record" or tname in self.composite_types:
            # RECORD vars (and vars of CREATE TYPE AS composites) hold
            # whole result rows (pl_comp.c); composite-typed vars
            # relabel plain rows to the type's field names on
            # assignment (exec_assign_value's row coercion)
            fields = self.composite_fields.get(tname)
            self.var_fields[name] = fields

            def _reccast(v, _f=fields):
                if (
                    _f
                    and v is not None
                    and not isinstance(v, dict)
                    and hasattr(v, "__len__")
                    and len(v) == len(_f)
                ):
                    return dict(zip(_f, v))
                return v

            init = None
            if self.peek_low() in (":=", "=", "default"):
                self.take()
                init = self.expr()
            self.expect(";")
            self.casts[name] = _reccast
            self.records.add(name)
            return ("var", name, _reccast, init)
        if self.peek() == "%" or (
            self.peek() == "." and self.peek(2) == "%"
        ):
            # name tbl[.col]%TYPE|%ROWTYPE (pl_comp.c plpgsql_parse_
            # wordtype/wordrowtype): the referenced type lives in the
            # catalog; values arrive already typed from SQL, so the
            # variable takes an identity cast (ROWTYPE acts as RECORD)
            if self.peek() == ".":
                self.take()
                self.take()
            self.take()  # '%'
            kind = self.take().lower()
            if kind not in ("type", "rowtype"):
                raise NotImplementedError(
                    f"plpgsql: %{kind} declaration not supported"
                )
            self.expect(";")
            self.casts[name] = lambda v: v
            if kind == "rowtype":
                self.records.add(name)
            return ("var", name, lambda v: v, None)
        if tname == "double" and self.peek_low() == "precision":
            self.take()
        if self.peek() == "(":  # varchar(10), numeric(10,2)
            while self.take() != ")":
                pass
        is_array = False
        if self.peek() == "[":
            self.take()
            self.expect("]")
            is_array = True
        if self.peek_low() == "not":
            self.expect("not", "null")
        init = None
        if self.peek_low() in (":=", "=", "default"):
            self.take()
            init = self.expr()
        self.expect(";")
        if is_array:
            # array-typed vars parse PG array-literal strings ('{}',
            # '{1,2}') through the element cast (arrayfuncs.c array_in
            # — the simple unnested/unquoted-comma subset)
            base = _CASTS.get(tname) or (lambda v: v)

            def _arr_cast(v, _b=base):
                if v is None or isinstance(v, list):
                    return v
                s = v.strip() if isinstance(v, str) else None
                if s is not None and s.startswith("{") and s.endswith("}"):
                    body = s[1:-1].strip()
                    if not body:
                        return []
                    out = []
                    for item in body.split(","):
                        item = item.strip()
                        if item.upper() == "NULL":
                            out.append(None)
                        else:
                            out.append(_b(item.strip('"')))
                    return out
                return v

            cast = _arr_cast
        else:
            cast = _CASTS.get(tname)
        if cast is None:
            raise NotImplementedError(
                f"plpgsql: declared type {tname!r} not supported"
            )
        self.casts[name] = cast
        return ("var", name, cast, init)

    def peek(self, off: int = 0):
        i = self.pos + off
        return self.toks[i] if i < len(self.toks) else None

    def _stmts(self, until: tuple[str, ...]):
        out = []
        while True:
            t = self.peek_low()
            if t is None:
                raise NotImplementedError(
                    f"plpgsql: unexpected end, wanted one of {until}"
                )
            if t in until:
                return out
            out.append(self._stmt())

    def _stmt(self):
        t = self.peek_low()
        # <<label>> before a loop or block (pl_gram.y opt_loop_label)
        if self._peek_label():
            save = self.pos
            label = self._take_label()
            if self.peek_low() in ("begin", "declare"):
                self.pos = save  # parse_block consumes its own label
                return self.parse_block()
            self._next_label = label
            inner = self._stmt()
            if inner[0] not in (
                "while", "forrange", "foreach", "forquery",
                "forquery_dyn", "forcursor", "block",
            ):
                raise NotImplementedError(
                    "plpgsql: <<label>> applies to loops and blocks"
                )
            return ("labeled", label, inner)
        if t == "return":
            self.take()
            if self.peek_low() in ("next", "query"):
                if not self.allow_setof:
                    raise NotImplementedError(
                        "plpgsql interpreter: RETURN NEXT/QUERY — SETOF "
                        "bodies lower to inline table macros (udf_ddl) or "
                        "run through the driver-side SETOF interpreter"
                    )
                which = self.take().lower()
                if which == "next":
                    if self.peek_low() == ";":
                        # bare RETURN NEXT: append the OUT-parameter
                        # tuple (pl_exec.c exec_stmt_return_next with
                        # out-param result descriptors)
                        self.take()
                        return ("return_next_out",)
                    e = self.expr()
                    self.expect(";")
                    return ("return_next", e)
                if not self.allow_sql:
                    raise NotImplementedError(
                        "plpgsql: RETURN QUERY needs the SQL engine"
                    )
                if self.peek_low() == "execute":
                    self.take()
                    e = self.expr()
                    using: list = []
                    if self.peek_low() == "using":
                        self.take()
                        using.append(self.expr())
                        while self.peek_low() == ",":
                            self.take()
                            using.append(self.expr())
                    self.expect(";")
                    return ("return_query_dyn", e, using)
                sql, _ = self._raw_until({";"})
                self.expect(";")
                return ("return_query", sql)
            if self.peek_low() == ";":
                self.take()
                return ("return", None)
            e = self.expr()
            self.expect(";")
            return ("return", e)
        if t == "if":
            return self._if()
        if t == "case":
            return self._case_stmt()
        if t == "for":
            return self._for()
        if t == "foreach":
            return self._foreach()
        if t == "while":
            self.take()
            _lbl = self._claim_label()
            cond = self.expr()
            self.expect("loop")
            body = self._stmts(until=("end",))
            self._end_loop(_lbl)
            return ("while", cond, body)
        if t == "loop":
            self.take()
            _lbl = self._claim_label()
            body = self._stmts(until=("end",))
            self._end_loop(_lbl)
            return ("while", lambda env: True, body)
        if t in ("exit", "continue"):
            self.take()
            label = None
            if (
                self.peek() is not None
                and is_ident(self.peek())
                and self.peek_low() != "when"
            ):
                label = self.take().lower()
            cond = None
            if self.peek_low() == "when":
                self.take()
                cond = self.expr()
            self.expect(";")
            return (t, cond, label)
        if t == "raise":
            return self._raise()
        if t == "null":
            self.take()
            self.expect(";")
            return ("null",)
        if t in ("begin", "declare"):
            return self.parse_block()
        if t == "get":
            return self._get_diag()
        if t in ("perform", "select", "insert", "update", "delete", "execute",
                 "open", "fetch", "close", "move", "set", "reset"):
            if not self.allow_sql:
                if t in ("perform", "select", "execute"):
                    # row-tier simple-SQL lane: compiles here, and at
                    # run time _run_sql (no engine hook on an executor)
                    # evaluates FROM-less SELECT expression lists
                    # in-process — the pl_exec.c exec_eval_simple_expr
                    # fast path; anything needing a table scan raises
                    # loudly at execution
                    return self._sql_stmt(t)
                raise NotImplementedError(
                    f"plpgsql interpreter: {t.upper()} needs the SQL engine "
                    "— not available inside a row UDF; use LANGUAGE sql, a "
                    "SETOF table macro, or a DO block (driver-side)"
                )
            if t in ("open", "fetch", "close", "move"):
                return self._cursor_stmt(t)
            return self._sql_stmt(t)
        # assignment: name[:=|=] expr; also a[i] := expr element update
        # and rec.field := expr record-field update (pl_gram.y assign_var)
        name = self.take().lower()
        if self.peek() == "." and self.peek_low(1) is not None:
            self.take()
            field = self.take().lower()
            if self.peek_low() not in (":=", "="):
                raise NotImplementedError(
                    f"plpgsql: statement not understood at {name!r}."
                )
            self.take()
            e = self.expr()
            self.expect(";")
            return ("assign_field", name, field, e)
        if self.peek_low() == "[":
            idxs = []
            while self.peek_low() == "[":
                self.take()
                idxs.append(self.expr())
                self.expect("]")
            if self.peek_low() not in (":=", "="):
                raise NotImplementedError(
                    f"plpgsql: statement not understood at {name!r}["
                )
            self.take()
            e = self.expr()
            self.expect(";")
            return ("assign_idx", name, idxs, e)
        if self.peek_low() not in (":=", "="):
            raise NotImplementedError(f"plpgsql: statement not understood at {name!r}")
        self.take()
        if self._rhs_has_from():
            # x := expr FROM tbl ... — PG evaluates assignment RHS as a
            # SELECT (pl_exec.c exec_assign_expr prefixes 'SELECT '),
            # so a FROM clause is legal; needs the SQL engine at run
            # time (the row tier's fallback rejects FROM loudly)
            text, _ = self._raw_until({";"})
            self.expect(";")
            return ("assign_query", name, "SELECT " + text,
                    self.casts.get(name))
        e = self.expr()
        self.expect(";")
        cast = self.casts.get(name)
        return ("assign", name, e, cast)

    def _rhs_has_from(self) -> bool:
        """Lookahead: a TOP-LEVEL FROM before the ';' (extract/substring/
        trim keep their FROM inside parens, so depth-0 only)."""
        for _, t in top_level(self.toks, self.pos):
            if t == ";" or t.lower() == "from":
                return t != ";"
        return False

    def _case_stmt(self):
        """Statement-level CASE (pl_gram.y stmt_case): searched or with
        a subject expression; no matching arm and no ELSE raises
        case_not_found, unlike the expression form."""
        self.expect("case")
        subject = None
        if self.peek_low() != "when":
            subject = self.expr()
        arms = []
        while self.peek_low() == "when":
            self.take()
            conds = [self.expr()]
            while self.peek_low() == ",":
                self.take()
                conds.append(self.expr())
            self.expect("then")
            body = self._stmts(until=("when", "else", "end"))
            arms.append((conds, body))
        els = None
        if self.peek_low() == "else":
            self.take()
            els = self._stmts(until=("end",))
        self.expect("end", "case")
        self.opt_semi()
        return ("case_stmt", subject, arms, els)

    def _if(self):
        self.expect("if")
        arms = []
        cond = self.expr()
        self.expect("then")
        body = self._stmts(until=("elsif", "elseif", "else", "end"))
        arms.append((cond, body))
        while self.peek_low() in ("elsif", "elseif"):
            self.take()
            c = self.expr()
            self.expect("then")
            b = self._stmts(until=("elsif", "elseif", "else", "end"))
            arms.append((c, b))
        els = []
        if self.peek_low() == "else":
            self.take()
            els = self._stmts(until=("end",))
        self.expect("end", "if")
        self.opt_semi()
        return ("if", arms, els)

    def _raw_until(self, stops: set[str]) -> tuple[str, str | None]:
        """Collect raw statement text up to a top-level stop token (the
        token itself is NOT consumed).  Strings are single tokens, so
        space-rejoin round-trips the SQL."""
        start = self.pos
        for k, t in top_level(self.toks, start):
            if t.lower() in stops:
                self.pos = k
                return " ".join(self.toks[start:k]), t.lower()
        self.pos = len(self.toks)
        return " ".join(self.toks[start:]), None

    def _into_vars(self) -> tuple[list[tuple], bool]:
        """Parse [STRICT] var[, var...] after INTO; each target carries
        (name, is_record, composite_field_names|None)."""
        strict = False
        if self.peek_low() == "strict":
            self.take()
            strict = True
        out = [(self.take().lower(), False)]
        while self.peek_low() == ",":
            self.take()
            out.append((self.take().lower(), False))
        return [
            (n, n in self.records, self.var_fields.get(n))
            for n, _ in out
        ], strict

    def _sql_stmt(self, head: str):
        """Driver-side SQL statements (DO blocks only): PERFORM,
        SELECT ... INTO, INSERT/UPDATE/DELETE, EXECUTE expr [INTO]
        (pl_exec.c exec_stmt_perform/_execsql/_dynexecute).  Variable
        references interpolate as literals at run time — PG binds them
        as params; same values, different mechanism."""
        if head == "perform":
            self.take()
            text, _ = self._raw_until({";"})
            self.expect(";")
            return ("sql_perform", "SELECT " + text)
        if head in ("insert", "update", "delete", "set", "reset"):
            # SET/RESET run through the engine like any SPI statement
            # (pl_exec.c treats them as plain SQL)
            text, _ = self._raw_until({";"})
            self.expect(";")
            if head in ("set", "reset"):
                # token re-join spaces dotted GUC names; re-tighten
                text = re.sub(r"\s*\.\s*", ".", text)
            return ("sql_perform", text)
        if head == "execute":
            self.take()
            e = self.expr()
            vars_, strict = ([], False)
            using: list = []
            while self.peek_low() in ("into", "using"):
                if self.peek_low() == "into":
                    self.take()
                    vars_, strict = self._into_vars()
                else:  # USING e1, e2 (exec_stmt_dynexecute params)
                    self.take()
                    using.append(self.expr())
                    while self.peek_low() == ",":
                        self.take()
                        using.append(self.expr())
            self.expect(";")
            return ("sql_execute", e, vars_, strict, using)
        # SELECT [cols] INTO [STRICT] vars [rest...]
        pre, stop = self._raw_until({"into", ";"})
        if stop != "into":
            raise NotImplementedError(
                "plpgsql SELECT without INTO — use PERFORM to discard rows"
            )
        self.expect("into")
        vars_, strict = self._into_vars()
        post, _ = self._raw_until({";"})
        self.expect(";")
        return ("sql_select_into", (pre + " " + post).strip(), vars_, strict)

    def _cursor_stmt(self, head: str):
        """OPEN / FETCH / MOVE / CLOSE (pl_exec.c exec_stmt_open:1479,
        exec_stmt_fetch, exec_stmt_close — dispatch :1479-1483)."""
        self.take()
        if head == "open":
            name = self.take().lower()
            # OPEN c [NO] SCROLL FOR (pl_gram.y opt_scrollable — the
            # retained-extent portals scroll either way)
            if self.peek_low() == "no" and self.peek_low(1) == "scroll":
                self.take()
                self.take()
            elif self.peek_low() == "scroll":
                self.take()
            if self.peek_low() == "for":
                self.take()
                if self.peek_low() == "execute":
                    self.take()
                    e = self.expr()
                    using = []
                    if self.peek_low() == "using":
                        self.take()
                        using.append(self.expr())
                        while self.peek_low() == ",":
                            self.take()
                            using.append(self.expr())
                    self.expect(";")
                    return ("open_dyn", name, e, using)
                sql, _ = self._raw_until({";"})
                self.expect(";")
                return ("open_query", name, sql)
            args: list = []
            if self.peek() == "(":
                self.take()
                while True:
                    argname = None
                    if (
                        self.peek() is not None
                        and is_ident(self.peek())
                        and self.peek_low(1) == ":="
                    ):
                        argname = self.take().lower()
                        self.take()
                    args.append((argname, self.expr()))
                    t = self.take()
                    if t == ")":
                        break
                    if t != ",":
                        raise NotImplementedError(
                            f"plpgsql: OPEN argument list, got {t!r}"
                        )
            self.opt_semi()
            return ("open", name, args)
        if head == "close":
            name = self.take().lower()
            self.expect(";")
            return ("close", name)
        # FETCH / MOVE [direction [FROM|IN]] cursor [INTO vars]
        direction, count = self._fetch_direction(is_move=head == "move")
        name = self.take().lower()
        vars_, _strict = [], False
        if head == "fetch":
            self.expect("into")
            vars_, _strict = self._into_vars()
        self.expect(";")
        return ("fetch" if head == "fetch" else "move", name, direction,
                count, vars_)

    def _count_expr(self):
        """Count expression of a FETCH/MOVE direction, read up to the
        FROM/IN keyword (pl_gram.y read_sql_expression2 analog) — a
        plain self.expr() would swallow IN as the membership operator
        in ``move relative 2 in c``."""
        start = self.pos
        self.pos = next(
            (k for k, t in top_level(self.toks, start) if t.lower() in ("from", "in", ";")),
            len(self.toks),
        )
        out = self.toks[start : self.pos]
        p = _ExprParser(out, 0)
        e = p.parse()
        if p.pos != len(out):
            raise NotImplementedError(
                "plpgsql: FETCH/MOVE count expression"
            )
        return e

    def _fetch_direction(self, is_move: bool = False):
        """pl_gram.y read_fetch_direction: plpgsql FETCH moves at most
        one row — NEXT/PRIOR/FIRST/LAST/ABSOLUTE n/RELATIVE n/FORWARD/
        BACKWARD; MOVE additionally takes the multi-row count forms
        FORWARD/BACKWARD n|ALL (complain_invalid_fetch rejects those
        for FETCH only)."""
        t = self.peek_low()
        direction, count = "next", None
        if t in ("next", "prior", "first", "last"):
            self.take()
            direction = t
        elif t in ("forward", "backward"):
            self.take()
            direction = t
            nxt = self.peek()
            nlow = self.peek_low()
            has_count = nlow == "all" or (
                nxt is not None
                and (nxt[0].isdigit() or nxt in ("-", "+", "("))
            )
            if has_count:
                if not is_move:
                    raise NotImplementedError(
                        "plpgsql FETCH fetches one row — multi-row "
                        "count directions are MOVE / SQL-level FETCH "
                        "only (pl_gram.y complain_invalid_fetch)"
                    )
                if nlow == "all":
                    self.take()
                    count = "all"
                else:
                    count = self._count_expr()
        elif t in ("absolute", "relative"):
            self.take()
            direction = t
            count = self._count_expr()
        elif t is not None and (t.isdigit() or t == "all"):
            raise NotImplementedError(
                "plpgsql FETCH fetches one row — multi-row count "
                "directions are SQL-level FETCH only (pl_gram.y "
                "complain_invalid_fetch)"
            )
        if self.peek_low() in ("from", "in"):
            self.take()
        return direction, count

    def _get_diag(self):
        """GET [CURRENT|STACKED] DIAGNOSTICS var = item [, ...]
        (pl_exec.c:109 exec_stmt_getdiag)."""
        self.expect("get")
        stacked = False
        if self.peek_low() == "current":
            self.take()
        elif self.peek_low() == "stacked":
            self.take()
            stacked = True
        self.expect("diagnostics")
        items = []
        while True:
            var = self.take().lower()
            if self.peek_low() not in (":=", "="):
                raise NotImplementedError(
                    "plpgsql: GET DIAGNOSTICS var = item"
                )
            self.take()
            items.append((var, self.take().lower()))
            if self.peek_low() == ",":
                self.take()
                continue
            break
        self.expect(";")
        return ("getdiag", stacked, items)

    def _for_targets(self) -> list[str]:
        """FOR target list (pl_gram.y for_variable): one RECORD/scalar
        or a comma-separated scalar list; label-qualified names
        (lbl.var) resolve to the variable (flat env)."""
        names = []
        while True:
            n = self.take().lower()
            while self.peek() == "." and self.peek_low(1) is not None:
                self.take()
                n = self.take().lower()
            names.append(n)
            if self.peek() == ",":
                self.take()
                continue
            return names

    def _for(self):
        self.expect("for")
        _lbl = self._claim_label()
        targets = self._for_targets()
        var = targets[0]
        multi = len(targets) > 1
        self.expect("in")
        reverse = False
        if self.peek_low() == "reverse":
            self.take()
            reverse = True
        if (
            not reverse
            and self.peek_low() in self.cursor_names
            and self.peek_low(1) in ("loop", "(")
        ):
            # FOR rec IN boundcursor [(args)] LOOP (pl_gram.y
            # stmt_for → exec_stmt_forc): opens, iterates, closes
            cname = self.take().lower()
            args: list = []
            if self.peek() == "(":
                self.take()
                while True:
                    argname = None
                    if (
                        self.peek() is not None
                        and is_ident(self.peek())
                        and self.peek_low(1) == ":="
                    ):
                        argname = self.take().lower()
                        self.take()
                    args.append((argname, self.expr()))
                    if self.take() == ")":
                        break
            self.expect("loop")
            body = self._stmts(until=("end",))
            self._end_loop(_lbl)
            if multi:
                return ("forcursor", targets, cname, args, body, False)
            scalar = var in self.casts and var not in self.records
            if not scalar:
                self.records.add(var)
            return ("forcursor", var, cname, args, body, scalar)
        if self.peek_low() in ("select", "with", "values", "table") and not reverse:
            # FOR rec IN <query> LOOP (exec_stmt_fors) — SQL hook path
            if not self.allow_sql:
                raise NotImplementedError(
                    "plpgsql interpreter: FOR-over-query needs the SQL "
                    "engine — available in DO blocks (driver-side)"
                )
            sql, _ = self._raw_until({"loop"})
            self.expect("loop")
            body = self._stmts(until=("end",))
            self._end_loop(_lbl)
            if multi:
                # comma-separated scalar targets take result columns
                # positionally (pl_gram.y for_variable list form)
                return ("forquery", targets, sql, body, False)
            # a declared SCALAR target takes the single result column
            # (exec_stmt_fors → exec_assign_value); RECORD/undeclared
            # targets take the whole row
            scalar = var in self.casts and var not in self.records
            if not scalar:
                self.records.add(var)
            return ("forquery", var, sql, body, scalar)
        if self.peek_low() == "execute" and not reverse:
            # FOR rec IN EXECUTE expr LOOP (exec_stmt_dynfors)
            if not self.allow_sql:
                raise NotImplementedError(
                    "plpgsql interpreter: FOR-over-EXECUTE needs the SQL "
                    "engine — available in DO blocks (driver-side)"
                )
            self.take()
            e = self.expr()
            using: list = []
            if self.peek_low() == "using":
                self.take()
                using.append(self.expr())
                while self.peek_low() == ",":
                    self.take()
                    using.append(self.expr())
            self.expect("loop")
            body = self._stmts(until=("end",))
            self._end_loop(_lbl)
            if multi:
                return ("forquery_dyn", targets, e, body, using, False)
            scalar = var in self.casts and var not in self.records
            if not scalar:
                self.records.add(var)
            return ("forquery_dyn", var, e, body, using, scalar)
        if multi:
            raise PlPgSQLError(
                "syntax_error",
                "integer FOR loop must have only one target variable",
            )
        lo = self.expr()
        if self.peek() != "..":
            raise NotImplementedError(
                "plpgsql interpreter: FOR-over-query needs the SQL engine; "
                "only FOR var IN [REVERSE] a .. b [BY s] is interpretable"
            )
        self.take()
        hi = self.expr()
        step = None
        if self.peek_low() == "by":
            self.take()
            step = self.expr()
        self.expect("loop")
        body = self._stmts(until=("end",))
        self._end_loop(_lbl)
        return ("forrange", var, lo, hi, step, reverse, body)

    def _foreach(self):
        self.expect("foreach")
        _lbl = self._claim_label()
        targets = self._for_targets()
        var = targets if len(targets) > 1 else targets[0]
        slice_n = 0
        if self.peek_low() == "slice":
            # FOREACH x SLICE n IN ARRAY (pl_gram.y foreach_slice):
            # n must be an integer literal
            self.take()
            n_tok = self.take()
            if not n_tok.isdigit():
                raise NotImplementedError(
                    "plpgsql: FOREACH SLICE takes an integer constant"
                )
            slice_n = int(n_tok)
            if isinstance(var, list):
                raise PlPgSQLError(
                    "syntax_error",
                    "FOREACH ... SLICE loop variable must not be a list",
                )
        self.expect("in", "array")
        arr = self.expr()
        self.expect("loop")
        body = self._stmts(until=("end",))
        self._end_loop(_lbl)
        return ("foreach", var, arr, body, slice_n)

    def _raise(self):
        self.expect("raise")
        level = "exception"
        if self.peek_low() in _LEVELS:
            level = self.take().lower()
        fmt = None
        args = []
        cond = "raise_exception"
        opts: list = []
        if self.peek_low() != ";":
            if self.peek_low() == "using":
                pass  # bare RAISE ... USING opts
            else:
                ft = self.take()
                if is_ident(ft) and ft.lower() == "sqlstate" \
                        and self.peek() is not None \
                        and self.peek().startswith("'"):
                    # RAISE SQLSTATE 'xxxxx' [USING ...] (pl_gram.y)
                    cond = self.take()[1:-1].lower()
                    fmt = None
                elif not ft.startswith("'"):
                    # RAISE division_by_zero [USING ...]; — condition form
                    cond = ft.lower()
                    fmt = None
                else:
                    fmt = ft[1:-1].replace("''", "'")
                    while self.peek_low() == ",":
                        self.take()
                        args.append(self.expr())
            if self.peek_low() == "using":
                # RAISE ... USING option = expr [, ...] (pl_gram.y
                # stmt_raise opt_raise_using): MESSAGE/DETAIL/HINT/
                # ERRCODE[/COLUMN/CONSTRAINT/...] — evaluated at run time
                self.take()
                while True:
                    opt = self.take().lower()
                    if opt not in ("message", "detail", "hint", "errcode",
                                   "column", "constraint", "datatype",
                                   "table", "schema"):
                        raise NotImplementedError(
                            f"plpgsql: unrecognized RAISE option {opt!r}"
                        )
                    self.expect("=")
                    opts.append((opt, self.expr()))
                    if self.peek_low() != ",":
                        break
                    self.take()
        self.expect(";")
        if fmt is None and cond == "raise_exception" and not opts \
                and level == "exception":
            # bare RAISE: re-throw the handler's current error
            return ("raise_rethrow",)
        return ("raise", level, fmt, args, cond, opts)


# ---------------------------------------------------------------------------
# executor
# ---------------------------------------------------------------------------


def _foreach_slices(arr, n: int):
    """FOREACH iteration items (pl_exec.c exec_stmt_foreach_a): SLICE 0
    walks every base element in storage order (multi-dim arrays
    flatten); SLICE n yields n-dimensional sub-arrays; SLICE ndims
    yields the whole array once."""
    if arr is None:
        return []
    if n == 0:
        out: list = []

        def flat(a):
            for x in a:
                if isinstance(x, list):
                    flat(x)
                else:
                    out.append(x)

        flat(arr)
        return out
    d, probe = 0, arr
    while isinstance(probe, list):
        d += 1
        probe = probe[0] if probe else None
    if n > d:
        raise PlPgSQLError(
            "array_subscript_error",
            f"slice dimension ({n}) is out of the valid range 0..{d}",
        )
    cur = [arr]
    for _ in range(d - n):
        nxt: list = []
        for a in cur:
            nxt.extend(a)
        cur = nxt
    return cur


def _exec_stmts(stmts, env):
    for s in stmts:
        _exec_stmt(s, env)


def _exec_stmt(s, env, label=None):  # noqa: C901 - pl_exec.c dispatch
    kind = s[0]
    if kind == "labeled":
        _, lbl, inner = s
        if inner[0] == "block":
            try:
                _exec_block(inner, env)
            except _Exit as e:
                # EXIT <blocklabel> leaves the block (pl_exec.c)
                if e.label != lbl:
                    raise
            return
        _exec_stmt(inner, env, label=lbl)
        return
    if kind == "assign":
        _, name, e, cast = s
        v = e(env)
        env[name] = cast(v) if cast is not None else v
    elif kind == "return":
        raise _Return(s[1](env) if s[1] is not None else None)
    elif kind == "if":
        _, arms, els = s
        for cond, body in arms:
            if cond(env) is True:
                _exec_stmts(body, env)
                return
        _exec_stmts(els, env)
    elif kind == "forrange":
        _, var, lo_e, hi_e, step_e, reverse, body = s
        lo, hi = lo_e(env), hi_e(env)
        if lo is None or hi is None:
            raise PlPgSQLError(
                "null_value_not_allowed",
                "lower/upper bound of FOR loop cannot be null",
            )
        step = step_e(env) if step_e is not None else 1
        if step is None or step <= 0:
            raise PlPgSQLError(
                "invalid_parameter_value", "BY value of FOR loop must be greater than zero"
            )
        it = range(int(lo), int(hi) - 1, -int(step)) if reverse else range(
            int(lo), int(hi) + 1, int(step)
        )
        # exec_set_found: every FOR statement sets FOUND on ≥1 iteration
        env["found"] = _run_loop(it, var, body, env, label) > 0
    elif kind == "foreach":
        var, arr_e, body = s[1], s[2], s[3]
        slice_n = s[4] if len(s) > 4 else 0
        arr = arr_e(env)
        items = _foreach_slices(arr, slice_n)
        env["found"] = _run_loop(items, var, body, env, label) > 0
    elif kind == "while":
        _, cond, body = s
        n = 0
        while cond(env) is True:
            n += 1
            if n > _ITERATION_CAP:
                raise PlPgSQLError(
                    "statement_too_complex",
                    f"loop exceeded {_ITERATION_CAP} iterations (runaway guard)",
                )
            try:
                _exec_stmts(body, env)
            except _Continue as c:
                if c.label is not None and c.label != label:
                    raise
                continue
            except _Exit as e:
                if e.label is not None and e.label != label:
                    raise
                break
    elif kind == "exit":
        if s[1] is None or s[1](env) is True:
            raise _Exit(s[2] if len(s) > 2 else None)
    elif kind == "continue":
        if s[1] is None or s[1](env) is True:
            raise _Continue(s[2] if len(s) > 2 else None)
    elif kind == "return_next":
        # exec_stmt_return_next: append to the function's tuplestore
        env.setdefault("__setof__", []).append(s[1](env))
    elif kind == "return_next_out":
        outs = env.get("__out_names__")
        if not outs:
            raise PlPgSQLError(
                "syntax_error",
                "RETURN NEXT without an expression needs OUT parameters",
            )
        env.setdefault("__setof__", []).append(
            {n: env.get(n) for n in outs}
        )
    elif kind == "return_query":
        rows, _rc = _run_sql(env, _interpolate(s[1], env), vars_visible=True)
        env.setdefault("__setof__", []).extend(rows)
        env["found"] = len(rows) > 0
    elif kind == "return_query_dyn":
        sql = s[1](env)
        if sql is None:
            raise PlPgSQLError(
                "null_value_not_allowed", "EXECUTE of a null query string"
            )
        sql = _bind_using(sql, [ue(env) for ue in s[2]])
        rows, _rc = _run_sql(env, sql)
        env.setdefault("__setof__", []).extend(rows)
        env["found"] = len(rows) > 0
    elif kind == "raise_rethrow":
        err = env.get("__cur_err__")
        if err is None:
            raise PlPgSQLError(
                "stacked_diagnostics_accessed_without_active_handler",
                "RAISE without parameters cannot be used outside an "
                "exception handler",
            )
        raise err
    elif kind == "raise":
        _, level, fmt, args, cond, opts = s
        if fmt is not None:
            vals = [a(env) for a in args]
            msg = ""
            ai = 0
            i = 0
            while i < len(fmt):
                ch = fmt[i]
                if ch == "%":
                    if i + 1 < len(fmt) and fmt[i + 1] == "%":
                        msg += "%"
                        i += 2
                        continue
                    msg += _to_text(vals[ai]) if ai < len(vals) and vals[ai] is not None else "<NULL>"
                    ai += 1
                    i += 1
                    continue
                msg += ch
                i += 1
        else:
            msg = cond
        detail = hint = None
        for opt, e in opts:
            v = e(env)
            if opt == "message":
                if fmt is not None:
                    raise PlPgSQLError(
                        "syntax_error",
                        "RAISE option already specified: MESSAGE",
                    )
                msg = _to_text(v)
            elif opt == "errcode":
                cond = _to_text(v).lower()
            elif opt == "detail":
                detail = _to_text(v)
            elif opt == "hint":
                hint = _to_text(v)
        if level == "exception":
            err = PlPgSQLError(cond, msg)
            err.detail, err.hint = detail, hint
            err.sqlstate = _SQLSTATE_BY_NAME.get(cond, cond)
            raise err
        env.setdefault("__notices__", []).append((level, msg))
    elif kind == "null":
        pass
    elif kind == "block":
        _exec_block(s, env)
    elif kind == "sql_perform":
        rows, rc = _run_sql(env, _interpolate(s[1], env), vars_visible=True)
        # exec_set_found: PERFORM/DML set FOUND from rows processed
        env["found"] = (rc > 0) if rc is not None else bool(rows)
    elif kind == "assign_query":
        _, name, sql, cast = s
        rows, _rc = _run_sql(env, _interpolate(sql, env), vars_visible=True)
        if len(rows) > 1:
            raise PlPgSQLError(
                "cardinality_violation", "query returned more than one row"
            )
        v = rows[0][0] if rows else None
        env[name] = cast(v) if cast is not None and v is not None else v
    elif kind == "sql_select_into":
        _, sql, vars_, strict = s
        rows, _rc = _run_sql(env, _interpolate(sql, env), vars_visible=True)
        env["found"] = bool(rows)
        _assign_into(rows, vars_, strict, env)
    elif kind == "sql_execute":
        _, e, vars_, strict, using = s[0], s[1], s[2], s[3], (
            s[4] if len(s) > 4 else []
        )
        sql = e(env)
        if sql is None:
            raise PlPgSQLError(
                "null_value_not_allowed", "EXECUTE of a null query string"
            )
        sql = _bind_using(sql, [ue(env) for ue in using])
        # EXECUTE updates GET DIAGNOSTICS row_count but NOT FOUND
        # (pl_exec.c exec_stmt_dynexecute)
        rows, _rc = _run_sql(env, sql)
        if vars_:
            _assign_into(rows, vars_, strict, env)
    elif kind == "forquery":
        var, sql, body = s[1], s[2], s[3]
        rows, _rc = _run_sql(env, _interpolate(sql, env), vars_visible=True)
        if len(s) > 4 and s[4]:
            rows = [_scalar_row(r, var) for r in rows]
        n = _run_loop(rows, var, body, env, label)
        env["found"] = n > 0  # exec_stmt_fors sets FOUND on ≥1 iteration
    elif kind == "forquery_dyn":
        var, e, body = s[1], s[2], s[3]
        using = s[4] if len(s) > 4 else []
        sql = e(env)
        if sql is None:
            raise PlPgSQLError(
                "null_value_not_allowed", "EXECUTE of a null query string"
            )
        sql = _bind_using(sql, [ue(env) for ue in using])
        rows, _rc = _run_sql(env, sql)
        if len(s) > 5 and s[5]:
            rows = [_scalar_row(r, var) for r in rows]
        n = _run_loop(rows, var, body, env, label)
        env["found"] = n > 0
    elif kind == "forcursor":
        var, cname, args, body = s[1], s[2], s[3], s[4]
        scalar_t = s[5] if len(s) > 5 else False
        cur = _cursor_of(env, cname)
        if cur.portal is not None:
            raise PlPgSQLError(
                "duplicate_cursor", f'cursor "{cname}" already in use'
            )
        _exec_open(("open", cname, args), env)

        def _rows(portal=cur.portal):
            while True:
                r = portal.fetch(1)
                if not r:
                    return
                yield _scalar_row(r[0], var) if scalar_t else r[0]

        try:
            env["found"] = _run_loop(_rows(), var, body, env, label) > 0
        finally:
            cur.portal = None  # exec_stmt_forc closes the portal after
    elif kind in ("open", "open_query", "open_dyn"):
        _exec_open(s, env)
    elif kind in ("fetch", "move"):
        _, name, direction, count_e, vars_ = s
        portal = _portal_of(env, name)
        if direction in ("forward", "backward") and count_e is not None:
            # MOVE FORWARD/BACKWARD n|ALL (SPI_scroll_cursor_move):
            # count moves position like RELATIVE ±n — FOUND reflects
            # landing on a valid row; ALL runs to the end and FOUND
            # reflects whether any rows were passed
            sign = 1 if direction == "forward" else -1
            if count_e == "all":
                moved = 0
                step = portal.fetch if sign > 0 else portal.fetch_backward
                while step(1):
                    moved += 1
                env["found"] = moved > 0
                env["__rowcount__"] = moved
                return
            k = count_e(env)
            if k is None:
                raise PlPgSQLError(
                    "null_value_not_allowed",
                    "MOVE direction count cannot be null",
                )
            rows = portal.fetch_relative(sign * int(k))
            env["found"] = bool(rows)
            env["__rowcount__"] = len(rows)
            return
        if direction in ("next", "forward"):
            rows = portal.fetch(1)
        elif direction in ("prior", "backward"):
            rows = portal.fetch_backward(1)
        elif direction == "first":
            rows = portal.fetch_absolute(1)
        elif direction == "last":
            rows = portal.fetch_absolute(-1)
        else:
            k = count_e(env)
            if k is None:
                raise PlPgSQLError(
                    "null_value_not_allowed",
                    "FETCH direction count cannot be null",
                )
            rows = (
                portal.fetch_absolute(int(k))
                if direction == "absolute"
                else portal.fetch_relative(int(k))
            )
        env["found"] = bool(rows)  # exec_stmt_fetch sets FOUND per row
        env["__rowcount__"] = len(rows)
        if kind == "fetch":
            _assign_into(rows[:1], vars_, False, env)
    elif kind == "close":
        cur = _cursor_of(env, s[1])
        if cur.portal is None:
            raise PlPgSQLError(
                "invalid_cursor_state", f'cursor "{s[1]}" is not open'
            )
        cur.portal = None
    elif kind == "getdiag":
        _, stacked, items = s
        for var, item in items:
            if stacked:
                # GET STACKED DIAGNOSTICS (valid inside EXCEPTION blocks;
                # sqlerrm/sqlstate are set by the handler entry)
                if item == "message_text":
                    v = env.get("sqlerrm")
                elif item == "returned_sqlstate":
                    v = env.get("sqlstate")
                else:
                    raise NotImplementedError(
                        f"plpgsql: GET STACKED DIAGNOSTICS {item.upper()}"
                    )
            elif item == "row_count":
                v = env.get("__rowcount__", 0)
                if v is None:
                    raise NotImplementedError(
                        "plpgsql: ROW_COUNT is unavailable for the last "
                        "statement's DML shape (UPDATE...FROM / USING)"
                    )
            elif item == "result_oid":
                v = 0  # always 0 since PG 12; we never had OIDs
            else:
                raise NotImplementedError(
                    f"plpgsql: GET DIAGNOSTICS {item.upper()}"
                )
            env[var] = v
    elif kind == "assign_field":
        _, name, field, e = s
        cur = _lookup(env, name)
        # records normalize to dicts on first field write (Rows are
        # immutable); _field reads dicts and Rows alike
        if cur is None:
            rec: dict = {}
        elif hasattr(cur, "asDict"):
            rec = {k.lower(): v for k, v in cur.asDict().items()}
        elif hasattr(cur, "keys"):
            rec = dict(cur)
        else:
            raise PlPgSQLError(
                "datatype_mismatch",
                f'"{name}" is not a record, cannot assign field "{field}"',
            )
        rec[field] = e(env)
        env[name] = rec
    elif kind == "assign_idx":
        _, name, idx_es, e = s
        idxs = [ie(env) for ie in idx_es]
        for ix in idxs:
            if ix is None or ix < 1:
                raise PlPgSQLError(
                    "array_subscript_error", f"invalid array subscript {ix}"
                )
        cur = _lookup(env, name)
        arr = list(cur) if cur is not None else []
        env[name] = arr
        tgt = arr
        for ix in idxs[:-1]:
            if ix > len(tgt) or not isinstance(tgt[ix - 1], list):
                raise PlPgSQLError(
                    "array_subscript_error",
                    "array subscript out of range",  # PG: multi-dim
                    # arrays cannot grow by element assignment
                )
            inner = list(tgt[ix - 1])
            tgt[ix - 1] = inner
            tgt = inner
        last = idxs[-1]
        if last > len(tgt):
            if len(idxs) > 1:
                raise PlPgSQLError(
                    "array_subscript_error", "array subscript out of range"
                )
            tgt.extend([None] * (last - len(tgt)))  # PG NULL-pads 1-D growth
        tgt[last - 1] = e(env)
    elif kind == "case_stmt":
        _, subject, arms, els = s
        matched = False
        if subject is not None:
            sv = subject(env)
            for conds, body in arms:
                if any(
                    sv is not None and c(env) is not None and sv == c(env)
                    for c in conds
                ):
                    _exec_stmts(body, env)
                    matched = True
                    break
        else:
            for conds, body in arms:
                if any(c(env) is True for c in conds):
                    _exec_stmts(body, env)
                    matched = True
                    break
        if not matched:
            if els is None:
                raise PlPgSQLError(
                    "case_not_found",
                    "case not found; CASE statement is missing ELSE part",
                )
            _exec_stmts(els, env)
    else:  # pragma: no cover
        raise NotImplementedError(f"plpgsql: statement {kind!r}")


def _sql_hook(env):
    h = env.get("__sql__")
    if h is None:
        raise PlPgSQLError(
            "feature_not_supported",
            "SQL statements are only available driver-side (DO blocks)",
        )
    return h


def _run_sql(env, sql, vars_visible: bool = False):
    """Run one SQL statement through the hook; returns (rows, rowcount).
    rowcount is the processed-row count when the hook reports one
    (engine DO-block hooks set ``hook.rowcount`` per call — None means
    the DML shape's count is unknown), else len(rows).  Feeds GET
    DIAGNOSTICS row_count (pl_exec.c exec_stmt_getdiag).

    Without a hook (row-UDF tier, running on an executor with no
    SparkSession), FROM-less SELECT expression lists evaluate
    in-process — the pl_exec.c exec_eval_simple_expr fast path.
    ``vars_visible`` exposes plpgsql variables to the expressions
    (true for statements PG plans with the function's param list;
    false for EXECUTE strings, which PG gives no variable access)."""
    hook = env.get("__sql__")
    if hook is None:
        if vars_visible:
            scope = env
        else:
            # EXECUTE strings see no plpgsql variables (PG scoping),
            # but registered functions still resolve
            scope = {"__functions__": env.get("__functions__") or {}}
        rows = _eval_simple_select(sql, scope)
        env["__rowcount__"] = len(rows)
        return rows, len(rows)
    rows = hook(sql)
    rc = hook.rowcount if hasattr(hook, "rowcount") else len(rows)
    env["__rowcount__"] = rc
    return rows, rc


class _SimpleRow(tuple):
    """One result row of the in-process simple-SELECT evaluator:
    positional like a tuple, field access via __fields__ (the shape
    _assign_into and _field already understand)."""

    __fields__: list

    def __new__(cls, vals, names):
        r = super().__new__(cls, vals)
        r.__fields__ = names
        return r


def _eval_simple_select(sql: str, env) -> list:
    """Evaluate a FROM-less ``SELECT expr [AS name][, ...]`` with the
    interpreter's own expression engine — what pl_exec.c
    exec_simple_check_plan qualifies for exec_eval_simple_expr.  Any
    other SQL shape (FROM, DML, CTEs) raises loudly: a row UDF runs on
    an executor with no SparkSession to delegate to."""
    m = re.match(r"(?is)^\s*select\s+(.*)$", sql.strip().rstrip(";"))
    if m is None:
        head = sql.strip().split(None, 1)[0] if sql.strip() else ""
        raise NotImplementedError(
            f"plpgsql row tier: {head.upper()} is not available inside a "
            "row UDF — only FROM-less SELECT expressions evaluate "
            "in-process (exec_eval_simple_expr); use a DO block or a "
            "SETOF table macro for statements that need the SQL engine"
        )
    toks = _tokenize(m.group(1))
    p = _ExprParser(toks, 0)
    exprs, names = [], []

    def _not_simple(at) -> NotImplementedError:
        return NotImplementedError(
            "plpgsql row tier: this SELECT needs the SQL engine "
            f"(at {at!r}) — only FROM-less expression lists evaluate "
            "in-process (exec_eval_simple_expr); use a DO block or a "
            "SETOF table macro"
        )

    try:
        while True:
            e = p.parse()
            alias = None
            if p.peek_low() == "as":
                p.take()
                alias = p.take().lower()
            elif (
                p.peek() is not None
                and is_ident(p.peek())
                and p.peek_low() != "from"
            ):
                alias = p.take().lower()
            exprs.append(e)
            names.append(alias or f"?column?{len(exprs)}")
            if p.peek() == ",":
                p.take()
                continue
            break
    except NotImplementedError:
        raise _not_simple(" ".join(toks[max(0, p.pos - 1):p.pos + 3])) from None
    if p.pos != len(toks):
        raise _not_simple(" ".join(toks[p.pos:p.pos + 4]))
    return [_SimpleRow([f(env) for f in exprs], names)]


def _cursor_of(env, name) -> _PlCursor:
    v = _lookup(env, name)
    if isinstance(v, _PlCursor):
        return v
    raise PlPgSQLError(
        "datatype_mismatch", f'"{name}" is not a cursor variable'
    )


def _portal_of(env, name):
    cur = _cursor_of(env, name)
    if cur.portal is None:
        raise PlPgSQLError(
            "invalid_cursor_state", f'cursor "{name}" is not open'
        )
    return cur.portal


def _make_portal(env, sql):
    factory = env.get("__cursor_factory__")
    if factory is not None:
        return factory(sql)
    return _ListPortal(_sql_hook(env)(sql))


def _exec_open(s, env):
    """OPEN bound / OPEN FOR query / OPEN FOR EXECUTE (pl_exec.c
    exec_stmt_open:127-129)."""
    kind, name = s[0], s[1]
    cur = _cursor_of(env, name)
    if cur.portal is not None:
        raise PlPgSQLError(
            "duplicate_cursor", f'cursor "{name}" already in use'
        )
    if kind == "open":
        args = s[2]
        if cur.query is None:
            raise PlPgSQLError(
                "invalid_cursor_definition",
                f'cursor "{name}" has no query bound to it — '
                "use OPEN ... FOR",
            )
        if len(args) != len(cur.arg_names):
            raise PlPgSQLError(
                "syntax_error",
                f'cursor "{name}" takes {len(cur.arg_names)} argument(s), '
                f"{len(args)} given",
            )
        local = dict(env)
        pos = 0
        for argname, e in args:
            pname = argname if argname is not None else cur.arg_names[pos]
            if pname not in cur.arg_names:
                raise PlPgSQLError(
                    "syntax_error",
                    f'cursor "{name}" has no argument named "{pname}"',
                )
            local[pname] = e(env)
            pos += 1
        sql = _interpolate(cur.query, local)
    elif kind == "open_query":
        sql = _interpolate(s[2], env)
    else:  # open_dyn: OPEN c FOR EXECUTE expr [USING ...]
        sql = s[2](env)
        if sql is None:
            raise PlPgSQLError(
                "null_value_not_allowed", "EXECUTE of a null query string"
            )
        sql = _bind_using(sql, [e(env) for e in s[3]])
    cur.portal = _make_portal(env, sql)


def _bind_using(sql: str, values: list) -> str:
    """EXECUTE ... USING values substitute as literals for $n — PG binds
    them as executor params; same values."""
    return substitute_params(sql, [_sql_literal(v) for v in values]) if values else sql


def _assign_into(rows, vars_, strict, env):
    """INTO assignment (exec_stmt_execsql): STRICT demands exactly one
    row; otherwise zero rows leave NULLs; a single RECORD target takes
    the whole row (relabeled to its composite type's field names when
    declared with one), scalars take columns positionally."""
    if strict and len(rows) != 1:
        raise PlPgSQLError(
            "no_data_found" if not rows else "too_many_rows",
            "query returned no rows" if not rows else "query returned more than one row",
        )
    row = rows[0] if rows else None
    if len(vars_) == 1 and vars_[0][1]:
        fields = vars_[0][2] if len(vars_[0]) > 2 else None
        if (
            fields
            and row is not None
            and not isinstance(row, dict)
            and hasattr(row, "__len__")
            and len(row) == len(fields)
        ):
            row = dict(zip(fields, row))
        env[vars_[0][0]] = row
        return
    for i, var in enumerate(vars_):
        env[var[0]] = None if row is None else row[i]


def _interpolate(sql: str, env) -> str:
    """Substitute plpgsql variables referenced in a SQL statement with
    literals (PG binds them as executor params — same values).  Scalar
    env entries and record fields only; one pass over the lexemes."""
    # quoted block-label qualification ("outer".rec.field,
    # pl_qual_names): PG resolves it against the LABELED block's
    # variable, which a flat per-call env cannot represent when an
    # inner block shadows the name — reject loudly instead of
    # inlining the wrong (innermost) value
    if '"' in sql:
        for r in env:
            if str(r).startswith(("__", "$")):
                continue
            if re.search(
                r'"[A-Za-z_]\w*"\s*\.\s*' + re.escape(str(r))
                + r'\s*\.',
                sql,
            ):
                raise NotImplementedError(
                    'plpgsql: block-label-qualified record reference '
                    f'("label".{r}.field) needs lexical block '
                    'scoping — this interpreter resolves names in a '
                    'flat per-call env'
                )
    mapping = {}
    for k, v in env.items():
        if k.startswith("__") or k.startswith("$"):
            continue
        if v is None or isinstance(v, (bool, int, float, str)):
            mapping[k] = _sql_literal(v)
        elif hasattr(v, "__fields__") or hasattr(v, "keys"):
            # RECORD vars: rec.field references inline the field's value
            mapping[k] = lambda f, _r=v: _sql_literal(_field(_r, f))
    return substitute_names(sql, mapping)


def _sql_literal(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    return repr(v)


def _scalar_row(row, var: str):
    """FOR <scalar var> IN <query>: the single result column assigns to
    the variable (pl_exec.c exec_stmt_fors with a scalar target); more
    than one column is the reference's own error shape."""
    if hasattr(row, "__fields__") or isinstance(row, (tuple, list)):
        if len(row) != 1:
            raise PlPgSQLError(
                "datatype_mismatch",
                f'FOR loop variable "{var}" is a scalar but the query '
                f"returns {len(row)} columns",
            )
        return row[0]
    return row


def _run_loop(it, var, body, env, label=None):
    n = 0
    multi = isinstance(var, (list, tuple))
    for v in it:
        n += 1
        if n > _ITERATION_CAP:
            raise PlPgSQLError(
                "statement_too_complex",
                f"loop exceeded {_ITERATION_CAP} iterations (runaway guard)",
            )
        if multi:
            vals = list(v.values()) if isinstance(v, dict) else (
                list(v) if hasattr(v, "__len__") else [v]
            )
            if len(vals) != len(var):
                raise PlPgSQLError(
                    "datatype_mismatch",
                    f"number of FOR target variables ({len(var)}) does "
                    f"not match number of result columns ({len(vals)})",
                )
            for nm, val in zip(var, vals):
                env[nm] = val
        else:
            env[var] = v
        try:
            _exec_stmts(body, env)
        except _Continue as c:
            if c.label is not None and c.label != label:
                raise
            continue
        except _Exit as e:
            if e.label is not None and e.label != label:
                raise
            break
    return n


def _condition_of(exc) -> str:
    if isinstance(exc, PlPgSQLError):
        return exc.condition
    if isinstance(exc, ZeroDivisionError):
        return "division_by_zero"
    if isinstance(exc, (OverflowError,)):
        return "numeric_value_out_of_range"
    msg = str(exc)
    # engine-raised errors from the SQL hook (Spark SQLSTATE classes)
    if "DIVIDE_BY_ZERO" in msg or "division by zero" in msg.lower():
        return "division_by_zero"
    if "CAST_INVALID_INPUT" in msg or "NUMERIC_VALUE_OUT_OF_RANGE" in msg:
        return "invalid_text_representation"
    return "internal_error"


def _exec_block(block, env):
    _, decls, body, handlers = block
    for d in decls:
        if d[0] == "alias":
            env[d[1]] = env[d[2]]
        elif d[0] == "cursor_decl":
            _, name, params, query = d
            env[name] = _PlCursor(name, query, params)
        else:
            _, name, cast, init = d
            env[name] = cast(init(env)) if init is not None else None
    if not handlers:
        _exec_stmts(body, env)
        return
    # exec_stmt_block: handlers see variable state as of the error point
    try:
        _exec_stmts(body, env)
    except (_Return, _Exit, _Continue):
        raise
    except Exception as e:  # noqa: BLE001 - WHEN others is the contract
        cond = _condition_of(e)
        state = getattr(e, "sqlstate", None) or _SQLSTATE_BY_NAME.get(cond)
        names = {cond}
        if state:
            names.add(state)
            mapped = _NAME_BY_SQLSTATE.get(state)
            if mapped:
                names.add(mapped)
        for conds, hbody in handlers:
            if "others" in conds or names & conds:
                env["sqlerrm"] = str(e)
                env["sqlstate"] = state.upper() if state else cond
                prev = env.get("__cur_err__")
                env["__cur_err__"] = e
                try:
                    _exec_stmts(hbody, env)
                finally:
                    env["__cur_err__"] = prev
                return
        raise


# ---------------------------------------------------------------------------
# public entry
# ---------------------------------------------------------------------------


def run_setof(
    body: str,
    sql_hook,
    args: list | None = None,
    arg_names: list[str] | None = None,
    out_names: list[str] | None = None,
    param_order: list[str] | None = None,
    notices: list | None = None,
    types: dict | None = None,
) -> list:
    """Run a RETURNS SETOF plpgsql body driver-side and return the
    accumulated result rows (pl_exec.c: RETURN NEXT / RETURN QUERY
    append to a tuplestore; the function materializes before the
    caller reads it).  Rows are whatever RETURN NEXT appended (scalars
    or record Rows) plus every RETURN QUERY result row, in order."""
    toks = _tokenize(_strip_pragmas(body).strip().rstrip(";"))
    if param_order:
        # PG substitutes $n with the n-th declared parameter (IN and
        # OUT both count); string literals are single tokens, untouched
        toks = [
            param_order[int(t[1:]) - 1]
            if re.fullmatch(r"\$\d+", t) and 0 < int(t[1:]) <= len(param_order)
            else t
            for t in toks
        ]
    p = _StmtParser(toks, allow_sql=True, allow_setof=True,
                    composite_types=types or {})
    block = p.parse_block()
    if p.pos != len(p.toks):
        raise NotImplementedError(
            f"plpgsql: trailing tokens after END: {p.toks[p.pos:p.pos + 5]}"
        )
    env: dict = {"found": False, "__rowcount__": 0, "__sql__": sql_hook,
                 "__setof__": []}
    if types:
        env["__types__"] = types
    if out_names:
        env["__out_names__"] = [n.lower() for n in out_names]
        for n in env["__out_names__"]:
            env[n] = None
    if notices is not None:
        env["__notices__"] = notices
    for i, v in enumerate(args or [], 1):
        env[f"${i}"] = v
    for n, v in zip([a.lower() for a in (arg_names or [])], args or []):
        env[n] = v
    try:
        _exec_stmt(block, env)
    except _Return:
        pass  # bare RETURN ends a SETOF function
    return env["__setof__"]


def parse_setof(body: str) -> None:
    """Parse-only probe: raises if the body is outside the interpreter's
    SETOF subset (used by udf_ddl to decide the execution strategy)."""
    toks = _tokenize(_strip_pragmas(body).strip().rstrip(";"))
    p = _StmtParser(toks, allow_sql=True, allow_setof=True)
    p.parse_block()
    if p.pos != len(p.toks):
        raise NotImplementedError(
            f"plpgsql: trailing tokens after END: {p.toks[p.pos:p.pos + 5]}"
        )


def run_block(
    body: str,
    sql_hook,
    notices: list | None = None,
    cursor_factory=None,
    types: dict | None = None,
) -> None:
    """Execute a DO-block body driver-side (commands/functioncmds.c
    ExecuteDoStmt → plpgsql): full interpreter plus the SQL statements —
    PERFORM, SELECT INTO [STRICT], INSERT/UPDATE/DELETE, EXECUTE expr
    [INTO], FOR rec IN <query> — via ``sql_hook(sql) -> list[Row]``.
    Variable references in SQL interpolate as literals (PG binds params;
    conflict resolution follows use_variable, not PG's default error —
    documented divergence).  RAISE NOTICE/... levels append to
    ``notices`` as (level, message).  A bare RETURN ends the block."""
    toks = _tokenize(_strip_pragmas(body).strip().rstrip(";"))
    p = _StmtParser(toks, allow_sql=True,
                    composite_types=types or {})
    block = p.parse_block()
    if p.pos != len(p.toks):
        raise NotImplementedError(
            f"plpgsql: trailing tokens after END: {p.toks[p.pos:p.pos + 5]}"
        )
    env = {"__sql__": sql_hook, "found": False, "__rowcount__": 0}
    if types:
        env["__types__"] = types
    if notices is not None:
        env["__notices__"] = notices
    if cursor_factory is not None:
        env["__cursor_factory__"] = cursor_factory
    try:
        _exec_stmt(block, env)
    except _Return:
        pass  # DO blocks discard RETURN
    except _Exit:
        raise PlPgSQLError(
            "syntax_error", "EXIT cannot be used outside a loop"
        ) from None
    except _Continue:
        raise PlPgSQLError(
            "syntax_error", "CONTINUE cannot be used outside a loop"
        ) from None


_PRAGMA_RE = re.compile(
    r"(?im)^\s*#(print_strict_params\s+(?:on|off)|variable_conflict\s+\w+)\s*$"
)


def _strip_pragmas(body: str) -> str:
    """PL/pgSQL compiler options (pl_comp.c #option lines):
    print_strict_params only changes error verbosity — accepted and
    dropped; variable_conflict error/use_variable match this
    interpreter's resolution order (variables win); use_column would
    silently change semantics, so it rejects loudly."""
    def repl(m):
        opt = m.group(1).lower().split()
        if opt[0] == "variable_conflict" and opt[1] == "use_column":
            raise NotImplementedError(
                "plpgsql: #variable_conflict use_column — this "
                "interpreter resolves names variable-first "
                "(use_variable); use_column would silently diverge"
            )
        return ""
    return _PRAGMA_RE.sub(repl, body)


def compile_simple_sql_function(body: str, arg_names: list[str]):
    """Compile a LANGUAGE sql body of the FROM-less simple-SELECT shape
    to a Python callable for the row-tier function registry — so
    interpreted plpgsql can call LANGUAGE sql helpers per row (PG
    resolves such calls through SPI; same values).  Raises
    NotImplementedError for bodies needing the engine."""
    m = re.match(r"(?is)^\s*select\s+(.*)$", body.strip().rstrip(";"))
    if m is None:
        raise NotImplementedError(
            "row-tier registry: LANGUAGE sql body is not a SELECT"
        )
    toks = _tokenize(m.group(1))
    if any(
        is_ident(t) and t.lower() in ("from", "where", "union", "group")
        for t in toks
    ):
        raise NotImplementedError(
            "row-tier registry: LANGUAGE sql body needs the engine"
        )
    lowered = [a.lower() for a in arg_names]
    # parse once at compile time (the same lazy-vs-eager tradeoff PG
    # makes with fn_extra caching)
    p = _ExprParser(toks, 0)
    e = p.parse()
    if p.pos != len(toks):
        raise NotImplementedError(
            "row-tier registry: LANGUAGE sql body is not a single "
            "simple expression"
        )

    def call(*args):
        env = {}
        for i, (n, v) in enumerate(zip(lowered, args), 1):
            env[f"${i}"] = v
            env[n] = v
        return e(env)

    return call


def compile_plpgsql(
    body: str,
    arg_names: list[str],
    setof: bool = False,
    out_names: list[str] | None = None,
    functions: dict | None = None,
    composite_types: dict | None = None,
):
    """Compile a procedural PL/pgSQL body to a Python callable (the
    Python-UDF slow path).  Parsed once; each call runs the statement
    tree against a fresh env seeded with the arguments (by name and as
    $n positional params).

    ``setof`` compiles RETURN NEXT bodies: the callable returns the
    accumulated list (pl_exec.c tuplestore; SQL-free SETOF bodies can
    thereby run per-row on executors and explode).  ``functions`` is a
    name → callable registry for user-function calls inside expressions
    (resolved at call time, like PG's lazy expression plans)."""
    toks = _tokenize(_strip_pragmas(body).strip().rstrip(";"))
    p = _StmtParser(toks, allow_setof=setof,
                    composite_types=composite_types or {})
    block = p.parse_block()
    if p.pos != len(p.toks):
        raise NotImplementedError(
            f"plpgsql: trailing tokens after END: {p.toks[p.pos:p.pos + 5]}"
        )
    lowered = [a.lower() for a in arg_names]
    louts = [n.lower() for n in (out_names or [])]

    def call(*args):
        env = {"found": False, "__rowcount__": 0}
        if functions is not None:
            env["__functions__"] = functions
        if composite_types:
            env["__types__"] = composite_types
        if setof:
            env["__setof__"] = []
            if louts:
                env["__out_names__"] = louts
                for n in louts:
                    env[n] = None
        for i, (n, v) in enumerate(zip(lowered, args), 1):
            env[f"${i}"] = v
            env[n] = v
        try:
            _exec_stmt(block, env)
        except _Return as r:
            if not setof:
                return r.value
        except _Exit:
            raise PlPgSQLError(
                "syntax_error", "EXIT cannot be used outside a loop"
            ) from None
        except _Continue:
            raise PlPgSQLError(
                "syntax_error", "CONTINUE cannot be used outside a loop"
            ) from None
        else:
            if not setof:
                raise PlPgSQLError(
                    "routine_exception",
                    "control reached end of function without RETURN",
                )
        return env["__setof__"]

    return call
