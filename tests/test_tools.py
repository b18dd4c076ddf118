"""Tool-calling dispatch tests: brace-counting parse + dispatch table."""

from __future__ import annotations

import pytest

from backend_fastapi_spark.tools import execute_tool, parse_tool_call
from tests.conftest import SF_ORACLE


def test_parse_tool_call_brace_counting():
    text = 'thinking... TOOL_CALL: {"tool": "get_spend_summary", "args": {"user_id": 7}} done'
    assert parse_tool_call(text) == {
        "tool": "get_spend_summary",
        "args": {"user_id": 7},
    }
    # nested braces and braces inside strings must not confuse the scanner
    tricky = 'TOOL_CALL: {"tool": "search_knowledge", "args": {"keywords": "a{b}c, }", "opts": {"x": 1}}}'
    got = parse_tool_call(tricky)
    assert got["args"]["keywords"] == "a{b}c, }"
    assert got["args"]["opts"] == {"x": 1}
    # escaped quotes inside strings
    esc = 'TOOL_CALL: {"tool": "t", "args": {"s": "he said \\"hi{\\" ok"}}'
    assert parse_tool_call(esc)["args"]["s"] == 'he said "hi{" ok'
    assert parse_tool_call("no call here") is None
    assert parse_tool_call("TOOL_CALL: {broken json}") is None


def test_dispatch_tools(open_engine):
    eng = open_engine(SF_ORACLE)
    out = execute_tool(
        eng, {"tool": "get_recent_orders", "args": {"user_id": 7, "limit": 3}}
    ).collect()
    assert len(out) <= 3 and all(r.o_custkey == 7 for r in out)
    # recency ordering
    dates = [r.o_orderdate for r in out]
    assert dates == sorted(dates, reverse=True)

    summary = execute_tool(
        eng, {"tool": "get_spend_summary", "args": {"user_id": 7}}
    ).head()
    assert summary.n_orders == len(
        eng.table("orders").filter("o_custkey = 7").collect()
    )

    docs = execute_tool(
        eng, {"tool": "search_knowledge", "args": {"keywords": "vector, stream"}}
    ).collect()
    assert 0 < len(docs) <= 5

    with pytest.raises(KeyError, match="unknown tool"):
        execute_tool(eng, {"tool": "rm_rf_slash", "args": {}})


def test_end_to_end_tool_loop_shape(open_engine):
    """One simulated agent turn: LLM text → parse → dispatch → result rows
    (the ≤5-iteration loop minus the LLM, which stays outside the engine)."""
    eng = open_engine(SF_ORACLE)
    llm_output = (
        "I need the user's spending.\n"
        'TOOL_CALL: {"tool": "get_spend_summary", "args": {"user_id": 42}}'
    )
    call = parse_tool_call(llm_output)
    result = execute_tool(eng, call).collect()
    assert len(result) == 1
    tool_result = result[0].asDict()
    assert set(tool_result) == {"n_orders", "total_spend"}


def test_reference_tool_surface_parity(open_engine):
    """Registry must cover the reference's full 15-tool surface
    (tool_definitions.py:5-241) by exact name."""
    from backend_fastapi_spark.tools import REFERENCE_TOOL_NAMES, build_tool_registry

    eng = open_engine(SF_ORACLE)
    registry = build_tool_registry(eng)
    assert len(REFERENCE_TOOL_NAMES) == 15
    missing = set(REFERENCE_TOOL_NAMES) - set(registry)
    assert not missing, f"missing reference tools: {sorted(missing)}"


def _turn(eng, store, text):
    """One agent turn: LLM text -> parse -> dispatch -> rows."""
    from backend_fastapi_spark.tools import execute_tool, parse_tool_call

    call = parse_tool_call(text)
    assert call is not None
    return execute_tool(eng, call, store).collect()


def test_agent_turns_reference_tools(spark, open_engine):
    from backend_fastapi_spark.personal import PersonalStore

    eng = open_engine(SF_ORACLE)
    store = PersonalStore.bootstrap(spark)

    rows = _turn(eng, store, 'TOOL_CALL: {"tool": "get_news", "args": {"keyword": "ai", "limit": 3}}')
    assert 0 < len(rows) <= 3 and all("ai" in (r.title + r.description).lower() for r in rows)

    rows = _turn(eng, store, 'TOOL_CALL: {"tool": "get_weather", "args": {"location": "Busan"}}')
    assert len(rows) == 1 and 15 <= rows[0].temperature_c < 30
    # deterministic: same location -> same row
    again = _turn(eng, store, 'TOOL_CALL: {"tool": "get_weather", "args": {"location": "Busan"}}')
    assert rows == again

    rows = _turn(eng, store, 'TOOL_CALL: {"tool": "get_health_status", "args": {"user_id": 2}}')
    assert len(rows) == 1 and rows[0].health_score <= 100 and len(rows[0].diseases) == 2

    rows = _turn(eng, store, 'TOOL_CALL: {"tool": "get_diseases", "args": {"user_id": 2}}')
    assert len(rows) == 2 and {r.status for r in rows} == {"active", "controlled"}

    rows = _turn(eng, store, 'TOOL_CALL: {"tool": "get_medications", "args": {"user_id": 3}}')
    assert len(rows) == 2 and all(r.dosage.endswith("mg") for r in rows)

    rows = _turn(eng, store, 'TOOL_CALL: {"tool": "get_finance_updates", "args": {"category": "stocks"}}')
    assert len(rows) == 5 and all(r.symbol == "^KS11" for r in rows)
    assert all(r.low <= r.open <= r.high for r in rows)

    rows = _turn(eng, store, 'TOOL_CALL: {"tool": "get_finance_items", "args": {"user_id": 1, "category": "ETF"}}')
    assert len(rows) == 1 and rows[0].category == "ETF"
    all_items = _turn(eng, store, 'TOOL_CALL: {"tool": "get_finance_items", "args": {"user_id": 1}}')
    assert len(all_items) == 4
    assert all_items[0].total_assets == sum(r.amount for r in all_items)

    rows = _turn(eng, store, 'TOOL_CALL: {"tool": "get_calendar_events", "args": {"user_id": 1, "date": "2024-06-04"}}')
    assert len(rows) == 1 and rows[0].event_date == "2024-06-04"

    rows = _turn(eng, store, 'TOOL_CALL: {"tool": "get_diet_plan", "args": {"user_id": 1}}')
    assert len(rows) == 1 and rows[0].has_health_info

    rows = _turn(eng, store, 'TOOL_CALL: {"tool": "get_notifications", "args": {"user_id": 1, "limit": 5}}')
    assert len(rows) == 2  # 2 of 4 seeded notifications are unread
    created = [r.created_at for r in rows]
    assert created == sorted(created, reverse=True)

    rows = _turn(eng, store, 'TOOL_CALL: {"tool": "get_grocery_prices", "args": {"product": "banana"}}')
    assert all(r.product == "banana" for r in rows)


def test_agent_turns_mutations(spark, open_engine):
    """add/delete tools mutate the threaded PersonalStore (batch-merge CRUD)."""
    from backend_fastapi_spark.personal import PersonalStore

    eng = open_engine(SF_ORACLE)
    store = PersonalStore.bootstrap(spark)

    before = len(_turn(eng, store, 'TOOL_CALL: {"tool": "get_diseases", "args": {"user_id": 1}}'))
    _turn(eng, store, 'TOOL_CALL: {"tool": "add_disease", "args": {"user_id": 1, "name": "gout", "status": "active"}}')
    after = _turn(eng, store, 'TOOL_CALL: {"tool": "get_diseases", "args": {"user_id": 1}}')
    assert len(after) == before + 1 and any(r.name == "gout" for r in after)
    # upsert, not append: re-adding the same disease updates in place
    _turn(eng, store, 'TOOL_CALL: {"tool": "add_disease", "args": {"user_id": 1, "name": "gout", "status": "controlled"}}')
    again = _turn(eng, store, 'TOOL_CALL: {"tool": "get_diseases", "args": {"user_id": 1}}')
    assert len(again) == before + 1
    assert next(r.status for r in again if r.name == "gout") == "controlled"

    _turn(eng, store, 'TOOL_CALL: {"tool": "add_medication", "args": {"user_id": 1, "name": "allopurinol", "dosage": "300mg", "intake_time": "09:00"}}')
    meds = _turn(eng, store, 'TOOL_CALL: {"tool": "get_medications", "args": {"user_id": 1}}')
    assert any(r.name == "allopurinol" for r in meds)

    added = _turn(eng, store, 'TOOL_CALL: {"tool": "add_calendar_event", "args": {"user_id": 1, "title": "checkup", "event_date": "2024-07-01", "event_time": "10:30"}}')
    eid = added[0].event_id
    evs = _turn(eng, store, 'TOOL_CALL: {"tool": "get_calendar_events", "args": {"user_id": 1, "date": "2024-07-01"}}')
    assert any(r.event_id == eid for r in evs)
    deleted = _turn(eng, store, f'TOOL_CALL: {{"tool": "delete_calendar_event", "args": {{"user_id": 1, "event_id": {eid}}}}}')
    assert len(deleted) == 1 and deleted[0].event_id == eid
    evs2 = _turn(eng, store, 'TOOL_CALL: {"tool": "get_calendar_events", "args": {"user_id": 1, "date": "2024-07-01"}}')
    assert not any(r.event_id == eid for r in evs2)
    # ownership semantics: deleting someone else's event is a no-op
    noop = _turn(eng, store, 'TOOL_CALL: {"tool": "delete_calendar_event", "args": {"user_id": 2, "event_id": 201}}')
    assert len(noop) == 1  # user 2 owns event 201...
    still = _turn(eng, store, 'TOOL_CALL: {"tool": "delete_calendar_event", "args": {"user_id": 3, "event_id": 202}}')
    assert len(still) == 0  # ...user 3 does not own user 2's event
