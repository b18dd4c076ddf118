"""``serve``: warm assistant requests, one at a time, grouped in sessions.

Every session issues the same twelve request kinds in a seeded order:
seven ``Engine`` calls, three tool reads (``parse_tool_call`` then
``execute_tool``) and two tool writes through the session's own
``PersonalStore``. The timed operation is the session, so every run
weighs each kind the same. Query vectors come from the corpus and query
terms from its documents, with seeded repeats.
"""

from __future__ import annotations

import json
import os
import time

import numpy as np

from perfbench import datagen, reference as ref
from perfbench.common import Tracer, median

API_KINDS = ("knn", "knn_sql", "rag_text", "keyword", "hybrid", "mmr", "user_context")
READ_TOOLS = ("get_recent_orders", "search_knowledge", "get_calendar_events")
WRITE_TOOLS = ("add_calendar_event", "add_medication")
N_DOCS, N_VECS, N_CUST, N_ORDERS = 5000, 2000, 15000, 150000
REPEAT_FRAC = 0.3
N_TERMS = 2

LOWER_LAYERS = (
    ("backend_fastapi_spark.operators.vector", "knn_exact", "operators.vector.knn_exact"),
    ("backend_fastapi_spark.plans.rag_retrieval", "rag_retrieve", "plans.rag_retrieval.rag_retrieve"),
    ("backend_fastapi_spark.operators.retrieval", "bm25_topk", "operators.retrieval.bm25_topk"),
    ("backend_fastapi_spark.operators.retrieval", "bm25_score_query", "operators.retrieval.bm25_score_query"),
    ("backend_fastapi_spark.operators.retrieval", "mmr_topk", "operators.retrieval.mmr_topk"),
    ("backend_fastapi_spark.plans.user_context", "user_context", "plans.user_context.user_context"),
)


def layer_names() -> list[str]:
    names = [f"api.{k}.{q}" for k in API_KINDS for q in ("build_s", "exec_s", "jobs", "stages", "task_s")]
    names += [
        "tools.parse_tool_call.us",
        "tools.execute_tool.build_s",
        "tools.tool_read.exec_s",
        "tools.tool_read.jobs",
    ]
    names += [f"personal.{t}.exec_s" for t in ("get_calendar_events",) + WRITE_TOOLS]
    names.append("personal.get_calendar_events.writes")
    names += [f"{metric}.build_s" for _, _, metric in LOWER_LAYERS]
    return names


class Workload:
    def __init__(self, work_dir: str, seed: int):
        self.dir = os.path.join(work_dir, "data")
        self.rng = np.random.default_rng(seed)
        self.ops: list[dict] = []
        self.session = 0
        self.used_vecs: list[int] = []
        self.used_terms: list[list[str]] = []
        self.used_rag: list[str] = []
        self.rag_rows: list[int] = []

    # -- set-up -------------------------------------------------------------
    def setup(self, spark) -> None:
        from backend_fastapi_spark.api import Engine

        self.spark = spark
        rng = self.rng
        cust, orders = datagen.customers_orders(rng, N_CUST, N_ORDERS)
        corpus = datagen.corpus(rng, N_DOCS)
        emb = datagen.embeddings(rng, N_VECS)
        for name, table in (("customer", cust), ("orders", orders), ("documents", corpus.table()), ("embeddings", emb)):
            datagen.write(table, self.dir, name)
        self.texts = dict(zip(corpus.ids, corpus.texts))
        self.sources = dict(zip(corpus.ids, corpus.sources))
        self.doc_ids = np.array(corpus.ids)
        self.passage_q = ref.quantize(np.stack([ref.hash_embed("passage: " + t) for t in corpus.texts]))
        self.emb = np.stack(emb["embedding"].to_numpy(zero_copy_only=False)).astype(np.float32)
        self.orders = orders.to_pandas()
        self.segments = cust["c_mktsegment"].to_pylist()
        self.eng = Engine.open(self.spark, self.dir)
        # warm-up: one untimed session touches every request kind
        self.run_session(Tracer(self.spark, False), record=False)

    # -- request stream ----------------------------------------------------------
    def _vec_id(self) -> int:
        if self.used_vecs and self.rng.random() < REPEAT_FRAC:
            return self.used_vecs[int(self.rng.integers(len(self.used_vecs)))]
        v = int(self.rng.integers(N_VECS))
        self.used_vecs.append(v)
        return v

    def _terms(self) -> list[str]:
        if self.used_terms and self.rng.random() < REPEAT_FRAC:
            return self.used_terms[int(self.rng.integers(len(self.used_terms)))]
        # always two distinct terms: the term count sets the plan shape,
        # and a shape the warm-up never ran would pay code generation
        words = sorted(set(ref.words(self.texts[int(self.rng.integers(N_DOCS))])))
        terms = [words[int(i)] for i in sorted(self.rng.choice(len(words), N_TERMS, replace=False))]
        self.used_terms.append(terms)
        return terms

    def _rag_query(self) -> str:
        """Words of at least four letters (the plan's anchors) from one
        corpus document, redrawn until the reference finds a passage, so
        every RAG request must return rows."""
        if self.used_rag and self.rng.random() < REPEAT_FRAC:
            return self.used_rag[int(self.rng.integers(len(self.used_rag)))]
        while True:
            words = sorted({w for w in ref.words(self.texts[int(self.rng.integers(N_DOCS))]) if len(w) >= 4})
            q = " ".join(words[int(i)] for i in sorted(self.rng.choice(len(words), N_TERMS, replace=False)))
            if ref.rag_retrieve(q, self.doc_ids, self.texts, self.sources, self.passage_q):
                self.used_rag.append(q)
                return q

    def _requests(self, user: int, cust: int) -> list[dict]:
        reqs = [{"kind": k} for k in API_KINDS]
        reqs += [{"kind": "tool_read", "tool": t} for t in READ_TOOLS]
        reqs += [{"kind": "tool_write", "tool": t} for t in WRITE_TOOLS]
        order = self.rng.permutation(len(reqs))
        out = []
        for i in order:
            r = dict(reqs[i], user=user, cust=cust)
            kind, tool = r["kind"], r.get("tool")
            if kind in ("knn", "knn_sql", "hybrid", "mmr"):
                r["vec_id"] = self._vec_id()
            if kind in ("keyword", "hybrid"):
                r["terms"] = self._terms()
            if kind == "rag_text":
                r["query"] = self._rag_query()
            if tool == "search_knowledge":
                r["args"] = {"keywords": ",".join(self._terms()), "limit": 5}
            elif tool == "get_recent_orders":
                r["args"] = {"user_id": cust, "limit": 10}
            elif tool == "get_calendar_events":
                r["args"] = {"user_id": user}
            out.append(r)
        return out

    def run_session(self, tracer, record: bool = True) -> None:
        from backend_fastapi_spark.personal import PersonalStore

        self.session += 1
        user = int(self.rng.integers(1, 6))  # PersonalStore.bootstrap seeds users 1..5
        cust = int(self.rng.integers(N_CUST))
        store = PersonalStore.bootstrap(self.spark)
        added: list[tuple[str, str, str]] = []
        writes = 0
        for j, r in enumerate(self._requests(user, cust)):
            if r.get("tool") == "add_calendar_event":
                day = 1 + (self.session * 7 + j) % 28
                r["args"] = {
                    "title": f"bench-{self.session}-{j}",
                    "event_date": f"2024-07-{day:02d}",
                    "event_time": "10:00",
                    "user_id": user,
                }
            elif r.get("tool") == "add_medication":
                r["args"] = {"name": f"med-{self.session}-{j}", "dosage": "10mg", "user_id": user}
            if r.get("tool") == "get_calendar_events":
                r["expect_titles"] = self._calendar_titles(user, added)
                r["writes"] = writes
            op = self._execute(r, store, tracer)
            op["session"] = self.session
            if r.get("tool") == "add_calendar_event":
                writes += 1
                a = r["args"]
                added.append((a["event_date"], a["event_time"], a["title"]))
            elif r.get("tool") == "add_medication":
                writes += 1
            if record:
                self.ops.append(op)

    def step(self, tracer) -> None:
        self.run_session(tracer)

    @staticmethod
    def _calendar_titles(user: int, added) -> list[str]:
        seed = [
            (f"2024-06-{1 + 3 * s:02d}", f"{(s * 5 + 9) % 24:02d}:00", f"event-{user}-{s}")
            for s in range(3)
        ]
        return [t for _, _, t in sorted(seed + added)][:10]

    def _build(self, r: dict):
        eng, kind = self.eng, r["kind"]
        if kind in ("knn", "knn_sql", "hybrid", "mmr"):
            q = [float(x) for x in self.emb[r["vec_id"]]]
        if kind == "knn":
            return eng.knn(q, k=5)
        if kind == "knn_sql":
            return eng.knn_sql(q, k=5)
        if kind == "rag_text":
            return eng.rag_text(r["query"], top_k=5)
        if kind == "keyword":
            return eng.keyword_search(r["terms"], k=10)
        if kind == "hybrid":
            return eng.hybrid_search(r["terms"], q, k=10)
        if kind == "mmr":
            return eng.mmr(q, k=5)
        from pyspark.sql import functions as F

        return eng.user_context().filter(F.col("c_custkey") == r["cust"])

    def _execute(self, r: dict, store, tracer) -> dict:
        from backend_fastapi_spark import tools

        kind = r["kind"]
        layer = f"api.{kind}" if kind in API_KINDS else f"tools.{kind}"
        op = {"kind": kind, "req": r, "ok": True, "rows": None}
        t0 = time.perf_counter()
        try:
            with tracer.op(layer):
                if kind in API_KINDS:
                    df = self._build(r)
                    t1 = time.perf_counter()
                else:
                    text = f"TOOL_CALL: {json.dumps({'tool': r['tool'], 'args': r['args']})}"
                    call = tools.parse_tool_call(text)
                    tp = time.perf_counter()
                    df = tools.execute_tool(self.eng, call, store)
                    t1 = time.perf_counter()
                rows = [row.asDict() for row in df.collect()]
            t2 = time.perf_counter()
            op["rows"] = rows
        except Exception as exc:  # a failed request is counted, not fatal
            op["ok"], op["error"] = False, repr(exc)
            t1 = t2 = time.perf_counter()
        op["latency"] = t2 - t0
        if tracer.enabled and op["ok"]:
            if kind in API_KINDS:
                tracer.add(f"{layer}.build_s", t1 - t0)
                tracer.add(f"{layer}.exec_s", t2 - t1)
            else:
                tracer.add("tools.parse_tool_call.us", (tp - t0) * 1e6)
                tracer.add("tools.execute_tool.build_s", t1 - tp)
                if kind == "tool_read":
                    tracer.add("tools.tool_read.exec_s", t2 - t1)
                if r["tool"] in WRITE_TOOLS + ("get_calendar_events",):
                    tracer.add(f"personal.{r['tool']}.exec_s", t2 - t1)
                if r["tool"] == "get_calendar_events":
                    tracer.add("personal.get_calendar_events.writes", r["writes"])
        return op

    def wrap(self, tracer) -> None:
        for module, attr, metric in LOWER_LAYERS:
            tracer.wrap(module, attr, metric)

    # -- output checks (outside the timed region) -------------------------------
    def check(self) -> None:
        corpus_q = ref.quantize(self.emb)
        ids = np.arange(N_VECS)
        bm25 = ref.BM25(self.texts)
        orders = self.orders.sort_values(["o_orderdate", "o_orderkey"], ascending=[False, True])
        by_cust = dict(tuple(orders.groupby("o_custkey")))
        for op in self.ops:
            if op["ok"]:
                try:
                    op["ok"] = self._check_one(op, corpus_q, ids, bm25, by_cust)
                except Exception as exc:
                    op["ok"], op["error"] = False, f"check raised {exc!r}"
                if not op["ok"]:
                    op.setdefault("error", "wrong output")

    def _check_one(self, op, corpus_q, ids, bm25, by_cust) -> bool:
        r, rows, kind = op["req"], op["rows"], op["kind"]
        if kind in ("knn", "knn_sql"):
            want = ref.topk_dot(corpus_q, ids, self.emb[r["vec_id"]], 5)
            return [(x["vec_id"], x["score_i64"]) for x in rows] == want
        if kind == "mmr":
            short = ref.topk_dot(corpus_q, ids, self.emb[r["vec_id"]], 20)
            rel = dict(short)
            picks = sorted(rows, key=lambda x: x["mmr_rank"])
            return (
                len(picks) == 5
                and len({x["vec_id"] for x in picks}) == 5
                and picks[0]["vec_id"] == short[0][0]
                and all(rel.get(x["vec_id"]) == x["rel_i64"] for x in picks)
            )
        if kind == "keyword":
            return all(
                ref.same_ranking(
                    [(x["doc_id"], x["bm25"]) for x in rows if x["term"] == t],
                    bm25.topk(t, 10),
                    lambda i, t=t: bm25.term_score(i, t),
                )
                for t in r["terms"]
            )
        if kind == "hybrid":
            want = ref.hybrid(bm25, corpus_q, ids, self.emb[r["vec_id"]], r["terms"])
            return len(rows) == len(want) and all(
                x["doc_id"] == i and abs(x["rrf"] - s) <= 1e-9 for x, (i, s) in zip(rows, want)
            )
        if kind == "rag_text":
            want = ref.rag_retrieve(r["query"], self.doc_ids, self.texts, self.sources, self.passage_q)
            got = sorted((x["ctx_rank"], x["doc_id"], x["source"], x["sim"], x["line"]) for x in rows)
            self.rag_rows.append(len(got))
            return bool(want) and got == want
        if kind == "user_context":
            return _user_context_ok(rows, by_cust.get(r["cust"]), r["cust"], self.segments[r["cust"]])
        tool, args = r["tool"], r["args"]
        if tool == "get_recent_orders":
            want = by_cust.get(args["user_id"])
            want = [] if want is None else want["o_orderkey"].head(10).tolist()
            return [x["o_orderkey"] for x in rows] == want
        if tool == "search_knowledge":
            kws = args["keywords"].split(",")
            want = [i for i in sorted(self.texts) if any(k in self.texts[i].lower() for k in kws)][:5]
            return [x["doc_id"] for x in rows] == want
        if tool == "get_calendar_events":
            return [x["title"] for x in rows] == r["expect_titles"]
        if tool == "add_calendar_event":
            return len(rows) == 1 and rows[0]["title"] == args["title"]
        return len(rows) == 1 and rows[0]["name"] == args["name"]

    # -- metrics -----------------------------------------------------------------------
    def sessions(self) -> list[list[dict]]:
        out: dict[int, list[dict]] = {}
        for op in self.ops:
            out.setdefault(op["session"], []).append(op)
        return list(out.values())

    def summary(self, measured_s: float) -> dict[str, float]:
        """An operation is a whole session: one request of every kind, so
        its latency weighs every kind the same in every run. The median
        over single requests would fall between two kinds' latencies and
        jump with whichever kinds land in the middle."""
        sessions = self.sessions()
        return {
            "latency_p50_s": median([sum(op["latency"] for op in s) for s in sessions]),
            "ops_per_s": sum(all(op["ok"] for op in s) for s in sessions) / measured_s,
        }

    def layer_summary(self, measured_s: float) -> dict[str, float]:
        return {}

    def describe(self, measured_s: float) -> dict:
        return {
            "sessions": len(self.sessions()),
            "requests": len(self.ops),
            "request_p50_s": median([op["latency"] for op in self.ops]),
            "requests_per_s": sum(op["ok"] for op in self.ops) / measured_s,
            "rag_rows_p50": median(self.rag_rows),
            "corpus_docs": N_DOCS,
            "vectors": N_VECS,
        }


def _user_context_ok(rows, orders, cust: int, segment: str) -> bool:
    """One row for a customer with orders, none otherwise; the context
    lists the ten most recent orders, newest first."""
    if orders is None:
        return rows == []
    recent = orders.head(10)
    lines = [
        f"{d:%Y-%m-%d} {s} {p:.2f}"
        for d, s, p in zip(recent["o_orderdate"], recent["o_orderstatus"], recent["o_totalprice"])
    ]
    if len(rows) != 1:
        return False
    got = rows[0]
    return (
        got["c_custkey"] == cust
        and got["c_name"] == f"Customer#{cust:09d}"
        and got["c_mktsegment"] == segment
        and got["n_recent"] == len(recent)
        and abs(got["recent_spend"] - float(recent["o_totalprice"].sum())) < 0.011
        and got["context"] == "\n".join(lines)
    )
