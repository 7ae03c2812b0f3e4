"""The front end's lexing rule and span primitives (dialect/spans.py)."""

import pytest

from greengage_spark.dialect.spans import (
    close_of,
    find_top_level,
    lex,
    match_close,
    match_open,
    operand_end,
    operand_start,
    plain_literal,
    rewrite_calls,
    split_top,
    split_top_level,
    substitute_names,
    substitute_params,
    tokenize,
    top_level,
)
from greengage_spark.dialect.transpiler import _count_capture_groups


def test_brackets_match_both_ways():
    toks = tokenize("f(a, g(b[1], c)) + 1")
    assert match_close(toks, 1) == 13
    assert match_open(toks, 13) == 1
    assert match_close(toks, 7) == 9  # the subscript
    assert match_open(toks, 9) == 7
    with pytest.raises(ValueError):
        match_close(tokenize("f(a"), 1)
    assert match_open(tokenize("a)"), 1) == -1


def test_top_level_stops_after_unmatched_close():
    toks = tokenize("a, f(b, c) ) d")
    assert [t for _, t in top_level(toks)] == ["a", ",", "f", "(", ")"]
    # a clause end: the first stop word or the enclosing close
    toks = tokenize("(SELECT x FROM t ORDER BY y) z")
    end = next(
        (k for k, t in top_level(toks, 1) if t == ")" or t.lower() == "order"),
        len(toks),
    )
    assert toks[end] == "ORDER"


def test_split_top_drops_only_a_trailing_empty_part():
    assert split_top(tokenize("a, f(b, c), ARRAY[1, 2]")) == [
        ["a"], ["f", "(", "b", ",", "c", ")"], ["ARRAY", "[", "1", ",", "2", "]"],
    ]
    assert split_top([]) == []
    assert split_top(tokenize("a,")) == [["a"]]
    assert split_top(tokenize("a,,b")) == [["a"], [], ["b"]]


def test_operand_spans():
    toks = tokenize("x + s.f(a)[1] * (b - c)::int")
    assert operand_end(toks, 2) == 7  # s.f(a): a call ends at its close
    assert operand_start(toks, 7) == 2
    assert operand_end(toks, 12) == 16
    assert operand_start(toks, 16) == 12
    # a keyword before a paren group is not a function name
    toks = tokenize("WHERE (a) ~ 'p'")
    assert operand_start(toks, 3) == 1
    toks = tokenize("DATE '2024-01-01' - 1")
    assert operand_end(toks, 0) == 1


def test_rewrite_calls_resumes_after_each_replacement():
    toks = tokenize("f(f(1), 2) + g(3) + F(4)")

    def fn(name, args):  # name as written; args split at depth-0 commas
        return [name + "2", "(", *args[-1], ")"] if name.lower() == "f" else None

    assert " ".join(rewrite_calls(toks, {"f"}, fn)) == (
        "f2 ( 2 ) + g ( 3 ) + F2 ( 4 )"
    )


def test_text_level_skips_strings_comments_and_quoted_identifiers():
    s = "UPDATE t SET v = ')' -- where (\n, \"where(\" = 1 WHERE id = 1"
    assert s[find_top_level(s, "where"):].startswith("WHERE id")
    assert find_top_level("SELECT (SELECT 1 FROM t) x", "from") == -1
    s = "f(a, '(', /* ) */ b) tail"
    assert s[close_of(s, 1) :] == ") tail"
    assert split_top_level("a, 'x,y', \"c,d\", f(1, 2), ") == [
        "a", "'x,y'", '"c,d"', "f(1, 2)",
    ]
    assert [m.lastgroup for m in lex("x1 -- c\n 'a' 2")] == [
        "ident", "comment", "string", "number",
    ]
    s = "f($q$ ) ', $q$, E'\\'', b) tail"
    assert s[close_of(s, 1) :] == ") tail"
    assert split_top_level(s[2 : close_of(s, 1)]) == ["$q$ ) ', $q$", "E'\\''", "b"]


def test_lexeme_kinds():
    kinds = [(m.lastgroup, m.group(0)) for m in lex("$1 $$a$b$$ café:=1..10")]
    assert kinds == [
        ("param", "$1"), ("string", "$$a$b$$"), ("ident", "café"), ("op", ":="),
        ("number", "1"), ("op", ".."), ("number", "10"),
    ]
    assert tokenize("SELECT naïve_ß, x1é") == ["SELECT", "naïve_ß", ",", "x1é"]
    # bit strings are one lexeme (scan.l xb/xh); a longer identifier is not
    assert tokenize("B'10' x'1F' ab'1'") == ["B'10'", "x'1F'", "ab", "'1'"]
    assert plain_literal("$t$it's$t$") == plain_literal("E'it\\'s'") == "'it''s'"
    assert plain_literal(r"E'\x41\X41\101\u0041\q'") == "'AX41AAq'"


def test_substitution_skips_literals_and_field_names():
    s = "SELECT $1, '$1', \"$2\" -- $2\n FROM t WHERE a.x = x AND 'x' <> y"
    assert substitute_params(s, ["7", "8"]) == s.replace("$1,", "7,", 1)
    assert substitute_names(s, {"X": "(5)", "y": "(6)"}) == (
        s.replace("= x", "= (5)").replace("<> y", "<> (6)")
    )
    rec = substitute_names("SELECT r.f, r, r . g", {"r": lambda f: f"<{f}>"})
    assert rec == "SELECT <f>, r, <g>"
    with pytest.raises(ValueError, match="no parameter"):
        substitute_params("SELECT $3", ["1"])


@pytest.mark.parametrize(
    "pattern, groups",
    [
        ("(a)(b)", 2),
        (r"\(x(y)", 1),
        ("(?:a)(b)", 1),
        # a ']' right after '[' or '[^' is a literal member (regcomp.c)
        ("[](](b)", 1),
        ("[^](]x(y)", 1),
        ("[[:alpha:](](c)", 1),
    ],
)
def test_count_capture_groups(pattern, groups):
    assert _count_capture_groups(pattern) == groups
