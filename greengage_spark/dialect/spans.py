"""The PG front end's one lexing rule and its span primitives.

Greengage's coordinator lexes every statement with one scanner (scan.l)
before its grammar sees it.  Here every front-end module that looks
inside SQL text — the transpiler's passes, the DDL parser, the engine's
statement router — lexes with ``_TOKEN_RE``, so string literals, quoted
identifiers and comments are opaque the same way everywhere.

Token level (over ``tokenize`` output):

  match_close / match_open   bracket partner of ``(``/``[`` and ``)``/``]``
  split_top                  depth-0 comma split
  top_level                  depth-0 tokens up to an unmatched close
  operand_start/operand_end  span of one operand around an operator
  rewrite_calls              replace ``name ( args )`` call sites

Text level (character offsets into the original SQL):

  lex                        lexemes with their kind and offsets
  find_top_level             offset of a depth-0 keyword
  close_of                   offset of a bracket's partner
  split_top_level            depth-0 comma split
"""

from __future__ import annotations

import re
from collections.abc import Callable, Iterator

_TOKEN_RE = re.compile(
    r"""
      (?P<string>   [Ee]'(?:[^'\\]|\\.|'')*' | '(?:[^']|'')*' )
    | (?P<qident>   "[^"]*" )
    | (?P<comment>  --[^\n]* | /\*.*?\*/ )
    | (?P<number>   \d+\.\d*([Ee][+-]?\d+)? | \.\d+([Ee][+-]?\d+)? | \d+([Ee][+-]?\d+)? )
    | (?P<ident>    [A-Za-z_][A-Za-z0-9_$]* )
    | (?P<op>       ::|->>|->|\#>>|\#>|!~\*|!~|~\*|\|\|/|\|/|\|\||<=|>=|<>|!=|=>|<<|>> )
    | (?P<ws>       \s+ )
    | (?P<other>    . )
    """,
    re.VERBOSE | re.DOTALL,
)

_OPEN = ("(", "[")
CLOSE = (")", "]")


def tokenize(sql: str) -> list[str]:
    return [
        m.group(0)
        for m in _TOKEN_RE.finditer(sql)
        if m.lastgroup not in ("ws", "comment")
    ]


def is_string(t: str) -> bool:
    return t.endswith("'") and (t.startswith("'") or t[:1] in "eE" and t[1:2] == "'")


def is_ident(t: str) -> bool:
    return bool(re.match(r'^[A-Za-z_"]', t)) and not is_string(t)


def join_tokens(toks: list[str]) -> str:
    """Tokens → SQL text.  ``.`` binds tight in qualified names, but only
    at the TOKEN level — a naive text replace would corrupt string
    literals containing ' . ' (e.g. spaced to_char templates)."""
    out: list[str] = []
    glue = False  # previous token was a standalone qualified-name dot
    for t in toks:
        if t == "." and out:
            out[-1] = out[-1] + "."
            glue = True
        elif glue:
            out[-1] = out[-1] + t
            glue = False
        else:
            out.append(t)
    return " ".join(out)


# ------------------------------------------------------------ token level


def match_close(toks: list[str], i: int) -> int:
    """Index of the bracket closing the ``(`` or ``[`` at toks[i]."""
    depth = 0
    for j in range(i, len(toks)):
        if toks[j] in _OPEN:
            depth += 1
        elif toks[j] in CLOSE:
            depth -= 1
            if depth == 0:
                return j
    raise ValueError("unbalanced parentheses")


def match_open(toks: list[str], j: int) -> int:
    """Index of the bracket opening the ``)`` or ``]`` at toks[j]; -1 if
    it has none."""
    depth = 0
    for i in range(j, -1, -1):
        if toks[i] in CLOSE:
            depth += 1
        elif toks[i] in _OPEN:
            depth -= 1
            if depth == 0:
                return i
    return -1


def top_level(toks: list[str], i: int = 0) -> Iterator[tuple[int, str]]:
    """``(k, toks[k])`` for each depth-0 token from toks[i] on.  An opening
    bracket is yielded, its contents and its partner are not.  The scan
    ends with the first unmatched close, which is yielded last — so
    ``next((k for k, t in top_level(toks, i) if t in CLOSE or …),
    len(toks))`` is the end of the clause starting at i."""
    depth = 0
    for k in range(i, len(toks)):
        t = toks[k]
        if t in CLOSE:
            if depth == 0:
                yield k, t
                return
            depth -= 1
        elif depth == 0:
            yield k, t
            if t in _OPEN:
                depth = 1
        elif t in _OPEN:
            depth += 1


def split_top(toks: list[str]) -> list[list[str]]:
    """Split at depth-0 commas (``f(a, g(b, c))`` args → ``a`` and
    ``g(b, c)``).  An empty trailing part is dropped, so ``[]`` → ``[]``."""
    parts: list[list[str]] = []
    start = 0
    for k, t in top_level(toks):
        if t == ",":
            parts.append(toks[start:k])
            start = k + 1
    if start < len(toks):
        parts.append(toks[start:])
    return parts


# Keywords that can directly precede a parenthesized expression — never the
# function name of a call (SELECT (a+b)::int, WHERE (x)~'p', ...).
NON_FUNC_KEYWORDS = {
    "select", "from", "where", "and", "or", "not", "on", "as", "in", "is",
    "by", "having", "when", "then", "else", "case", "end", "join", "union",
    "all", "distinct", "between", "like", "ilike", "exists", "values",
    "group", "order", "limit", "offset", "over", "partition", "interval",
    "set", "returning",
}


def operand_start(toks: list[str], end: int) -> int:
    """Index of the first token of the operand that ends at toks[end]: a
    bracketed group with the function name or array base before it, then
    any qualifying ``a.b.`` prefix."""
    i = end
    if toks[i] in CLOSE:
        i = match_open(toks, i)
        if i > 0 and is_ident(toks[i - 1]) and toks[i - 1].lower() not in NON_FUNC_KEYWORDS:
            i -= 1
    while i >= 2 and toks[i - 1] == "." and is_ident(toks[i - 2]):
        i -= 2
    return i


def operand_end(toks: list[str], start: int) -> int:
    """Index of the last token of the operand that starts at toks[start]:
    a (qualified, possibly called or subscripted) identifier, a typed
    literal (``DATE '…'``), a parenthesized expression, or one token."""
    i = start
    if i >= len(toks):
        return start
    if is_ident(toks[i]):
        # typed literal: DATE '2024-01-01' / TIMESTAMP '...' / INTERVAL
        # '...' is ONE operand (gram.y AexprConst)
        if (
            toks[i].lower() in ("date", "timestamp", "time", "interval")
            and i + 1 < len(toks)
            and is_string(toks[i + 1])
        ):
            return i + 1
        while i + 2 < len(toks) and toks[i + 1] == "." and is_ident(toks[i + 2]):
            i += 2
        if i + 1 < len(toks) and toks[i + 1] == "(":
            return match_close(toks, i + 1)
        while i + 1 < len(toks) and toks[i + 1] == "[":
            i = match_close(toks, i + 1)
        return i
    if toks[i] == "(":
        return match_close(toks, i)
    return i


def rewrite_calls(
    toks: list[str],
    names,
    fn: Callable[[str, list[list[str]]], list[str] | None],
) -> list[str]:
    """Replace each call ``name ( args )`` whose lower-cased name is in
    ``names`` by ``fn(name, split_top(args))``, ``name`` as written.
    Scanning resumes after a replacement, so nested calls are rewritten
    only if ``fn`` recurses; when ``fn`` returns None the call stays and
    its arguments are scanned."""
    out: list[str] = []
    i = 0
    while i < len(toks):
        t = toks[i]
        if (
            i + 1 < len(toks)
            and toks[i + 1] == "("
            and is_ident(t)
            and t.lower() in names
        ):
            close = match_close(toks, i + 1)
            new = fn(t, split_top(toks[i + 2 : close]))
            if new is not None:
                out += new
                i = close + 1
                continue
        out.append(t)
        i += 1
    return out


# ------------------------------------------------------------- text level


def lex(s: str, start: int = 0) -> Iterator[re.Match]:
    """Lexemes of s from ``start``, whitespace skipped; ``m.lastgroup`` is
    the kind (string, qident, comment, number, ident, op, other)."""
    for m in _TOKEN_RE.finditer(s, start):
        if m.lastgroup != "ws":
            yield m


def _top_matches(s: str, start: int = 0) -> Iterator[tuple[int, re.Match]]:
    """``(depth, match)`` for each lexeme of s from ``start``."""
    depth = 0
    for m in lex(s, start):
        t = m.group(0)
        if t in CLOSE:
            depth -= 1
        yield depth, m
        if t in _OPEN:
            depth += 1


def find_top_level(s: str, word: str, start: int = 0) -> int:
    """Offset of keyword ``word`` (case-insensitive) at bracket depth 0 in
    s[start:], or -1."""
    word = word.lower()
    for depth, m in _top_matches(s, start):
        if depth == 0 and m.lastgroup == "ident" and m.group(0).lower() == word:
            return m.start()
    return -1


def close_of(s: str, i: int) -> int:
    """Offset of the bracket closing the ``(`` or ``[`` at s[i]."""
    for depth, m in _top_matches(s, i):
        if depth == 0 and m.group(0) in CLOSE:
            return m.start()
    raise ValueError("unbalanced parentheses")


def split_top_level(s: str) -> list[str]:
    """Split s at depth-0 commas; parts are stripped, empty ones dropped."""
    parts, start = [], 0
    for depth, m in _top_matches(s):
        if depth == 0 and m.group(0) == ",":
            parts.append(s[start : m.start()])
            start = m.end()
    parts.append(s[start:])
    return [p.strip() for p in parts if p.strip()]
