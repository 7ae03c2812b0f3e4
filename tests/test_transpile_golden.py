"""Golden corpus for ``transpile()``: recorded inputs replay byte-identically.

``tests/data/transpile_golden.jsonl`` holds one JSON object per line:
the PG-dialect ``sql``, the ``user_functions`` in scope for the call
(``user_functions_ctx``), the ``uids`` — next value of each fresh-name
counter the lowerings draw from, keyed by module — and either the
transpiled ``out`` text or the ``error`` it raised as ``[type, message]``.
The entries were recorded from real calls (the test suite, the oracle
selfcheck and the pg_statements benchmark stream), so a refactor of the
passes or their span helpers is checked against every input those saw.
Entries replay in file order under a fresh process's session state:
isn weak mode off and no user text-search dictionaries.
"""

from __future__ import annotations

import importlib
import itertools
import json
import pathlib

import pytest

from greengage_spark.dialect import transpiler
from greengage_spark.dialect.transpiler import transpile, user_functions_ctx
from greengage_spark.functions import tsdicts

_CORPUS = pathlib.Path(__file__).parent / "data" / "transpile_golden.jsonl"
_UID_MODULES = (
    "greengage_spark.functions.trgm",
    "greengage_spark.functions.geometry",
    "greengage_spark.functions.earthdist",
    "greengage_spark.functions.orafce",
)


def _replay(entry: dict, mods: dict) -> dict:
    for name, mod in mods.items():
        mod._uid = itertools.count(entry["uids"].get(name, 0))
    with user_functions_ctx(entry["user_functions"]):
        try:
            return {"out": transpile(entry["sql"])}
        except Exception as e:  # the recorded error is part of the contract
            return {"error": [type(e).__name__, str(e)]}


@pytest.fixture()
def replay_state():
    """The fresh-name counter modules, with isn weak mode off and no user
    text-search dictionaries until the test ends."""
    mods = {n: importlib.import_module(n) for n in _UID_MODULES}
    saved = {n: next(m._uid) for n, m in mods.items()}
    weak, dicts = dict(transpiler._ISN_WEAK), dict(tsdicts.REGISTRY)
    transpiler._ISN_WEAK["on"] = False
    tsdicts.REGISTRY.clear()
    yield mods
    transpiler._ISN_WEAK.update(weak)
    tsdicts.REGISTRY.clear()
    tsdicts.REGISTRY.update(dicts)
    for n, m in mods.items():  # never hand out a name twice afterwards
        m._uid = itertools.count(max(saved[n], next(m._uid)))


def test_corpus_replays_byte_identically(replay_state):
    entries = [json.loads(line) for line in _CORPUS.read_text().splitlines()]
    assert len(entries) > 1000
    bad = []
    for e in entries:
        want = {"out": e["out"]} if "out" in e else {"error": e["error"]}
        got = _replay(e, replay_state)
        if got != want:
            bad.append(f"{e['sql'][:200]!r}\n  want {want}\n  got  {got}")
    assert not bad, f"{len(bad)} of {len(entries)} differ:\n" + "\n".join(bad[:10])
