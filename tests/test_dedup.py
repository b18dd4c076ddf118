"""The text near-dup families share one pair stage in ``operators/dedup.py``;
``queries.py`` holds their registrations and oracle SQL only."""

from __future__ import annotations

import ast
import pathlib
import re

PACKAGE = pathlib.Path(__file__).resolve().parents[1] / "backend_fastapi_spark"

# Calls that build a near-dup family's pairs or verify: operator code.
_PAIR_CALLS = {"grouped_pairs", "posexplode", "bit_count"}
# Family helpers queries.py may not define (SQL builders, ``*_sql``, may).
_FAMILY_HELPER = re.compile(r"^_(minhash|winnow|simhash)")


def _called_name(call: ast.Call) -> str | None:
    f = call.func
    if isinstance(f, ast.Attribute):
        return f.attr
    return f.id if isinstance(f, ast.Name) else None


def test_queries_hold_no_near_dup_operator_code():
    tree = ast.parse((PACKAGE / "queries.py").read_text(encoding="utf-8"))
    offenders = [
        f"queries.py:{n.lineno}: calls {_called_name(n)}("
        for n in ast.walk(tree)
        if isinstance(n, ast.Call) and _called_name(n) in _PAIR_CALLS
    ] + [
        f"queries.py:{n.lineno}: defines {n.name}"
        for n in ast.walk(tree)
        if isinstance(n, ast.FunctionDef)
        and _FAMILY_HELPER.match(n.name)
        and not n.name.endswith("_sql")
    ]
    assert offenders == []


def test_pair_stage_choice_lives_only_in_dedup():
    # grouped_pairs and its crossover: the grouped/join choice is
    # collision_pairs' alone
    rx = re.compile(r"\b(grouped_pairs|GROUPED_PAIRS_MIN_INPUT_BYTES)\b")
    offenders = [
        f"{p.relative_to(PACKAGE)}:{i}"
        for p in sorted(PACKAGE.rglob("*.py"))
        if p.relative_to(PACKAGE).as_posix() != "operators/dedup.py"
        for i, line in enumerate(p.read_text(encoding="utf-8").splitlines(), 1)
        if rx.search(line)
    ]
    assert offenders == []
