"""contrib/citext semantics for declared citext columns.

Reference: contrib/citext/citext.c — the type's operators lowercase both
sides before comparing (citextcmp / citext_eq), while stored values keep
their original case.  Since Spark has no per-column collation hook for
this, the engine folds the semantics at statement level for columns the
DDL catalog declares as ``citext``:

* comparisons (``= <> != < <= > >=``) where either side is a citext
  column wrap BOTH operands in ``lower()`` — WHERE, JOIN ON, HAVING;
* ``IN (...)`` lists on a citext column lower the column and every item;
* ``GROUP BY col`` becomes ``GROUP BY lower(col)``, and bare select-list
  references to that column become ``min(col) AS col`` — PG returns an
  arbitrary-case representative per group, min() is a deterministic one
  (documented divergence, same value set);
* ``ORDER BY col`` becomes ``ORDER BY lower(col)`` (ties keep arbitrary
  order, as in PG);
* ``SELECT DISTINCT`` over bare citext columns rewrites to the same
  GROUP BY fold: the citext item becomes ``min(col) AS col`` grouped on
  ``lower(col)`` and other items group on themselves, so dedup is
  case-insensitive with a deterministic min() representative (PG's
  choice is arbitrary — same documented divergence as GROUP BY);
  ``ORDER BY col`` on the rewritten select becomes
  ``lower(min(col))``.  citext inside a larger DISTINCT expression
  (``DISTINCT col || 'x'``) still rejects loudly.

The fold is token-based (quote-aware via the transpiler's tokenizer) and
applies only to statements that reference a declared citext column.
"""

from __future__ import annotations

from greengage_spark.dialect.spans import (
    is_ident,
    is_string,
    match_close,
    match_open,
    tokenize,
    top_level,
)

_CMP_OPS = {"=", "<>", "!=", "<", "<=", ">", ">="}
# contexts where a following bare column ref must NOT be treated as a
# comparison operand (SET col = ..., INSERT (col, ...))
_SKIP_HEADS = ("insert", "create", "alter", "copy")


def _operand_span(toks: list[str], i: int, direction: int) -> tuple[int, int]:
    """Span [a, b) of the simple operand adjacent to position i, scanning
    forward (direction=1, i = first token) or backward (direction=-1,
    i = last token).  Simple = literal / number / [qualified] identifier
    / function call / parenthesized group; anything else returns an
    empty span (no fold)."""
    n = len(toks)
    if direction == 1:
        if i >= n:
            return (i, i)
        t = toks[i]
        if t == "(":
            return (i, match_close(toks, i) + 1)
        if is_string(t) or not is_ident(t):
            # literal / number
            return (i, i + 1) if t not in (",", ")", ";") else (i, i)
        # identifier [. identifier] [( args )]
        j = i + 1
        while j + 1 < n and toks[j] == "." and is_ident(toks[j + 1]):
            j += 2
        if j < n and toks[j] == "(":
            j = match_close(toks, j) + 1
        return (i, j)
    # backward
    if i < 0:
        return (0, 0)
    t = toks[i]
    if t == ")":
        j = max(match_open(toks, i), 0) - 1
        # include a function name / qualifier before the parens
        k = j
        while k >= 0 and is_ident(toks[k]):
            if k - 1 >= 0 and toks[k - 1] == ".":
                k -= 2
            else:
                k -= 1
                break
        start = k + 1 if k + 1 <= j else j + 1
        return (start, i + 1)
    if is_string(t) or not is_ident(t):
        return (i, i + 1)
    j = i
    while j - 1 >= 0 and toks[j - 1] == "." and j - 2 >= 0 and is_ident(toks[j - 2]):
        j -= 2
    return (j, i + 1)


def _is_citext_ref(toks, a, b, cols: set[str]) -> bool:
    """Span is a bare or qualified reference to a citext column."""
    span = toks[a:b]
    if len(span) == 1 and is_ident(span[0]) and span[0].lower() in cols:
        return True
    return (
        len(span) == 3
        and span[1] == "."
        and is_ident(span[2])
        and span[2].lower() in cols
    )


def fold_citext_stmt(stmt: str, cols: set[str]) -> str:
    """Statement-level entry: queries fold fully; UPDATE/DELETE fold only
    their top-level WHERE predicate (a SET assignment's ``=`` must stay
    untouched); everything else passes through."""
    head = stmt.lstrip().split(None, 1)[0].lower() if stmt.strip() else ""
    if head in ("select", "with", "values", "table"):
        return fold_citext(stmt, cols)
    if head in ("update", "delete"):
        toks = tokenize(stmt)
        low = [t.lower() if is_ident(t) else t for t in toks]
        if not any(t in cols for t in low):
            return stmt
        widx = max((i for i, _ in top_level(toks) if low[i] == "where"), default=-1)
        if widx < 0:
            return stmt
        end = len(toks)
        for i in range(widx + 1, len(toks)):
            if low[i] == "returning" and toks[i - 1] != ".":
                end = i
                break
        pred = fold_citext(" ".join(toks[widx + 1 : end]), cols)
        return " ".join(toks[: widx + 1]) + " " + pred + (
            " " + " ".join(toks[end:]) if end < len(toks) else ""
        )
    return stmt


def _rewrite_distinct(toks: list[str], low: list[str], cols: set[str]):
    """Rewrite ``SELECT DISTINCT`` selects whose list contains bare
    citext refs into the GROUP BY min-representative fold
    (contrib/citext/expected/citext.out keeps DISTINCT insensitive —
    one group per lower(value), arbitrary-case representative; min()
    is our deterministic choice).  Returns the rewritten statement
    string, or None if nothing changed.  citext inside a larger
    DISTINCT expression keeps the loud reject."""
    # paren depth per token
    depths = []
    d = 0
    for t in toks:
        if t == ")":
            d -= 1
        depths.append(d)
        if t == "(":
            d += 1

    hits = [
        i
        for i in range(1, len(low))
        if low[i] == "distinct" and low[i - 1] == "select"
    ]
    if not hits:
        return None
    changed = False
    # rightmost-first keeps earlier indices valid across splices
    for i in reversed(hits):
        gd = depths[i]
        if i + 1 < len(low) and low[i + 1] == "on":
            continue  # DISTINCT ON has its own transpiler pass
        # select list span: distinct+1 .. matching same-depth FROM
        frm = -1
        for j in range(i + 1, len(low)):
            if depths[j] < gd:
                break
            if depths[j] == gd and low[j] == "from":
                frm = j
                break
        if frm < 0:
            continue
        # split items on same-depth commas
        items: list[tuple[int, int]] = []
        a = i + 1
        for j in range(i + 1, frm + 1):
            if j == frm or (depths[j] == gd and toks[j] == ","):
                if j > a:
                    items.append((a, j))
                a = j + 1
        cit_items: dict[int, tuple[int, int]] = {}  # item idx -> ref span
        for k, (ia, ib) in enumerate(items):
            bb = ib
            if bb - ia >= 3 and low[bb - 2] == "as" and is_ident(toks[bb - 1]):
                bb -= 2
            if _is_citext_ref(toks, ia, bb, cols):
                cit_items[k] = (ia, bb)
            elif any(
                low[j] in cols
                # flag bare refs AND qualified refs (t.col); skip only the
                # qualifier token itself (an ident immediately before '.')
                and not (j + 1 < ib and toks[j + 1] == ".")
                for j in range(ia, ib)
            ):
                raise NotImplementedError(
                    "SELECT DISTINCT over an expression containing a "
                    "citext column: fold the case yourself (bare citext "
                    "columns inside DISTINCT rewrite automatically)"
                )
        if not cit_items:
            continue
        # an existing same-depth GROUP BY on this select: out of scope
        tail_end = len(low)
        for j in range(frm + 1, len(low)):
            if depths[j] < gd:
                tail_end = j
                break
            if depths[j] == gd and low[j] in (
                "order", "limit", "offset", "union", "intersect",
                "except", ";",
            ):
                tail_end = j
                break
            if depths[j] == gd and low[j] == "group":
                raise NotImplementedError(
                    "SELECT DISTINCT ... GROUP BY with citext columns: "
                    "drop the DISTINCT (the grouped fold already "
                    "deduplicates case-insensitively)"
                )

        new = list(toks)
        keys: list[str] = []
        aliases: set[str] = set()
        for k, (ia, ib) in enumerate(items):
            if k in cit_items:
                ra, rb = cit_items[k]
                ref = " ".join(toks[ra:rb])
                alias = toks[ib - 1] if rb < ib else toks[rb - 1]
                aliases.add(alias.lower())
                for p in range(ia, ib):
                    new[p] = ""
                new[ia] = f"min({ref}) AS {alias}"
                keys.append(f"lower({ref})")
            else:
                expr_end = ib
                if (
                    ib - ia >= 3
                    and low[ib - 2] == "as"
                    and is_ident(toks[ib - 1])
                ):
                    expr_end = ib - 2
                keys.append(" ".join(toks[ia:expr_end]))
        new[i] = ""  # drop DISTINCT

        # ORDER BY items that are exactly a citext ref from this select
        # become lower(<output alias>): the alias carries the min()
        # representative, so lower() of it is the group key — citext
        # ordering is case-insensitive
        j = tail_end
        if j + 1 < len(low) and low[j] == "order" and low[j + 1] == "by":
            p = j + 2
            seg = p
            while p <= len(low):
                boundary = p == len(low) or depths[p] < gd or (
                    depths[p] == gd
                    and (toks[p] == "," or low[p] in ("limit", "offset", ";"))
                )
                if boundary:
                    bb = p
                    while bb > seg and low[bb - 1] in (
                        "asc", "desc", "nulls", "first", "last"
                    ):
                        bb -= 1
                    name = low[bb - 1] if bb > seg else ""
                    if (
                        bb > seg
                        and _is_citext_ref(toks, seg, bb, cols)
                        and name in aliases
                    ):
                        for q in range(seg, bb):
                            new[q] = ""
                        new[seg] = f"lower({toks[bb - 1]})"
                    if p == len(low) or depths[p] < gd or toks[p] != ",":
                        break
                    seg = p + 1
                p += 1

        group_clause = " GROUP BY " + ", ".join(keys) + " "
        pieces = [t for t in new[:tail_end] if t] + [group_clause] + [
            t for t in new[tail_end:] if t
        ]
        toks = tokenize(" ".join(pieces))
        low = [t.lower() if is_ident(t) else t for t in toks]
        depths = []
        d = 0
        for t in toks:
            if t == ")":
                d -= 1
            depths.append(d)
            if t == "(":
                d += 1
        changed = True
    return " ".join(toks) if changed else None


def fold_citext(stmt: str, cols: set[str]) -> str:
    head = stmt.lstrip().split(None, 1)[0].lower() if stmt.strip() else ""
    if head in _SKIP_HEADS:
        return stmt
    toks = tokenize(stmt)
    low = [t.lower() if is_ident(t) else t for t in toks]
    if not any(t in cols for t in low):
        return stmt

    rewritten = _rewrite_distinct(toks, low, cols)
    if rewritten is not None:
        toks = tokenize(rewritten)
        low = [t.lower() if is_ident(t) else t for t in toks]

    out = list(toks)

    def wrap(a: int, b: int) -> None:
        out[a] = "lower(" + out[a]
        out[b - 1] = out[b - 1] + ")"

    _SQ_HEADS = ("select", "with", "values", "table")

    def wrap_item(a: int, b: int) -> None:
        """Lower an IN-list item.  A scalar item gets lower(item); a
        subquery item (c IN (SELECT v FROM u)) is rewritten so the
        subquery's single output column is lowered — lower(SELECT ...)
        is not valid SQL (round-7 advice, citext.py:203).  The subquery
        head may sit behind extra parens (c IN ((SELECT ...))) — peel
        them before the head check, else the scalar wrap would emit
        lower((SELECT ...)), a 1-row scalar subquery, not membership."""
        head = a
        while head < b and toks[head] == "(":
            head += 1
        if head < b and low[head] in _SQ_HEADS:
            out[a] = (
                "SELECT lower(__gg_csq.__gg_c0) FROM ( " + out[a]
            )
            out[b - 1] = out[b - 1] + " ) AS __gg_csq(__gg_c0)"
        else:
            wrap(a, b)

    # 1) comparisons + IN lists
    i = 0
    while i < len(low):
        t = low[i]
        if t in _CMP_OPS:
            la, lb = _operand_span(toks, i - 1, -1)
            ra, rb = _operand_span(toks, i + 1, 1)
            # ANY/ALL/SOME array comparisons keep their own pass
            quantified = i + 1 < len(low) and low[i + 1] in (
                "any", "all", "some"
            )
            if not quantified and (
                lb == i and ra == i + 1 and lb > la and rb > ra
            ) and (
                _is_citext_ref(toks, la, lb, cols)
                or _is_citext_ref(toks, ra, rb, cols)
            ):
                wrap(ra, rb)
                wrap(la, lb)
            i = rb if rb > i else i + 1
            continue
        if t == "in" and i > 0:
            opi = i - 1
            if low[opi] == "not" and opi > 0:
                opi -= 1  # col NOT IN (...) — operand sits before NOT
            la, lb = _operand_span(toks, opi, -1)
            if lb == opi + 1 and _is_citext_ref(toks, la, lb, cols):
                # lower the column and each top-level list item
                if i + 1 < len(toks) and toks[i + 1] == "(":
                    item_start = i + 2
                    for j, tj in top_level(toks, i + 2):
                        if tj == "," or tj == ")" and j > item_start:
                            wrap_item(item_start, j)
                            item_start = j + 1
                    wrap(la, lb)
        i += 1

    # absolute paren depth per token (to scope a GROUP BY to its SELECT)
    depths = []
    d = 0
    for t in toks:
        if t == ")":
            d -= 1
        depths.append(d)
        if t == "(":
            d += 1

    # 2) GROUP BY / ORDER BY items that are exactly a citext ref
    grouped_segments: list[tuple[int, int, str]] = []
    i = 0
    while i < len(low) - 1:
        if low[i] in ("group", "order") and low[i + 1] == "by":
            j = i + 2
            item_start = j
            depth = 0
            stops = {"having", "order", "limit", "offset", "window", ")",
                     "union", "intersect", "except", ";"}
            while j <= len(low):
                end_item = j == len(low) or (
                    depth == 0
                    and (low[j] == "," or low[j] in stops)
                )
                if j < len(low):
                    if toks[j] == "(":
                        depth += 1
                    elif toks[j] == ")" and depth > 0:
                        depth -= 1
                        j += 1
                        continue
                if end_item:
                    a, b = item_start, j
                    # strip ASC/DESC/NULLS FIRST|LAST tail for the check
                    bb = b
                    while bb > a and low[bb - 1] in (
                        "asc", "desc", "nulls", "first", "last"
                    ):
                        bb -= 1
                    if bb > a and _is_citext_ref(toks, a, bb, cols):
                        wrap(a, bb)
                        if low[i] == "group":
                            col = low[bb - 1]
                            # owning SELECT: nearest preceding 'select'
                            # at this GROUP BY's depth; list ends at the
                            # matching 'from'
                            gd = depths[i]
                            sel = -1
                            for p in range(i - 1, -1, -1):
                                if low[p] == "select" and depths[p] == gd:
                                    sel = p
                                    break
                            if sel >= 0:
                                frm = len(low)
                                for p in range(sel + 1, i):
                                    if low[p] == "from" and depths[p] == gd:
                                        frm = p
                                        break
                                grouped_segments.append((sel, frm, col))
                    if j == len(low) or low[j] in stops:
                        break
                    item_start = j + 1
                j += 1
        i += 1

    # 3) grouped citext columns: bare select-list refs of the OWNING
    # select become min(col) AS col (PG returns an arbitrary-case
    # representative; min() is a deterministic one)
    for sel, frm, col in grouped_segments:
        gd = depths[sel]
        for j in range(sel + 1, frm):
            if (
                depths[j] == gd
                and low[j] == col
                and toks[j - 1] != "."
                and (j + 1 >= len(low) or toks[j + 1] != "(")
                and not out[j].startswith("lower(")
                and not out[j].startswith("min(")
            ):
                prev_ok = j == sel + 1 or low[j - 1] in (",", "select")
                nxt = low[j + 1] if j + 1 < len(low) else ","
                nxt_ok = nxt in (",", "from", "as")
                if prev_ok and nxt_ok:
                    out[j] = f"min({toks[j]}) AS {toks[j]}"
    return " ".join(out)
