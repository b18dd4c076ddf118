"""``curate``: repeated full corpus-curation passes.

One pass runs six ``Engine`` calls to completion over an sf0.1-shaped
corpus generated at set-up: ``dedup_clusters``, ``semantic_dedup``,
``dedup_report``, ``corpus_report``, ``clean_pages`` and ``pii_report``.
Executor task time (shingle shuffles, candidate-pair generation) dominates
the two dedup stages; fixed per-job cost dominates the other four.
"""

from __future__ import annotations

import os
import threading
import time
from collections import Counter

import numpy as np

from perfbench import datagen, reference as ref
from perfbench.common import Tracer, median

STAGES = ("dedup_clusters", "semantic_dedup", "dedup_report", "corpus_report", "clean_pages", "pii_report")
N_DOCS, N_VECS = 5000, 2000
SEMANTIC_THRESHOLD = 0.25

LOWER_LAYERS = (
    ("backend_fastapi_spark.operators.dedup", "connected_components", "operators.dedup.connected_components"),
    ("backend_fastapi_spark.operators.dedup", "ngram_jaccard_pairs", "operators.dedup.ngram_jaccard_pairs"),
    ("backend_fastapi_spark.operators.semdedup", "semantic_dedup_pairs", "operators.semdedup.semantic_dedup_pairs"),
)


def layer_names() -> list[str]:
    names = [
        f"api.{s}.{q}" for s in STAGES for q in ("build_s", "exec_s", "jobs", "task_s", "shuffle_mb", "spill_mb")
    ]
    names += [f"{metric}.build_s" for _, _, metric in LOWER_LAYERS]
    names.append("operators.dedup.connected_components.edges")
    return names


def _run(eng, stage: str):
    """Build the stage's DataFrame, then run it to completion; returns
    (build seconds, result rows)."""
    from pyspark.sql import functions as F

    t = time.perf_counter()
    df = getattr(eng, stage)()
    build = time.perf_counter() - t
    if stage == "clean_pages":
        # every cleaned text is computed: the sum reads all of them
        df = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("doc_kept").cast("long")).alias("kept"),
            F.sum(F.length("clean_text")).alias("chars"),
        )
    return build, [r.asDict() for r in df.collect()]


class Workload:
    def __init__(self, work_dir: str, seed: int):
        self.dir = os.path.join(work_dir, "data")
        self.rng = np.random.default_rng(seed)
        self.ops: list[dict] = []
        self.docs = datagen.corpus(self.rng, N_DOCS)
        emb = datagen.embeddings(self.rng, N_VECS)
        datagen.write(self.docs.table(), self.dir, "documents")
        datagen.write(emb, self.dir, "embeddings")
        self.emb = np.stack(emb["embedding"].to_numpy(zero_copy_only=False)).astype(np.float32)
        # The reference answers (pure Python, about 3 s) are computed while
        # the JVM starts, which leaves the CPU and the GIL idle; joined
        # before the first timed pass.
        self.want: dict = {}
        self._ref = threading.Thread(target=lambda: self.want.update(self._reference()))
        self._ref.start()

    def setup(self, spark) -> None:
        from backend_fastapi_spark.api import Engine

        self.spark = spark
        self.eng = Engine.open(spark, self.dir)
        self.step(Tracer(spark, False), record=False)
        self._ref.join()

    def step(self, tracer, record: bool = True) -> None:
        from backend_fastapi_spark.operators import dedup as D

        for stage in STAGES:
            op = {"kind": stage, "ok": True, "rows": None}
            t0 = time.perf_counter()
            try:
                with tracer.op(f"api.{stage}"):
                    build, op["rows"] = _run(self.eng, stage)
            except Exception as exc:  # a failed stage is counted, not fatal
                op["ok"], op["error"], build = False, repr(exc), 0.0
            op["latency"] = time.perf_counter() - t0
            if tracer.enabled and op["ok"]:
                tracer.add(f"api.{stage}.build_s", build)
                tracer.add(f"api.{stage}.exec_s", op["latency"] - build)
                if stage == "dedup_clusters":
                    tracer.add("operators.dedup.connected_components.edges", D.last_cc_stats().get("edges", 0))
            if record:
                self.ops.append(op)

    def wrap(self, tracer) -> None:
        for module, attr, metric in LOWER_LAYERS:
            tracer.wrap(module, attr, metric)

    # -- output checks (outside the timed region) -------------------------------------
    def check(self) -> None:
        for op in self.ops:
            if op["ok"]:
                try:
                    op["ok"] = self.want[op["kind"]](op["rows"])
                except Exception as exc:
                    op["ok"], op["error"] = False, f"check raised {exc!r}"
                if not op["ok"]:
                    op.setdefault("error", "wrong output")

    def _reference(self) -> dict:
        ids, texts = self.docs.ids, self.docs.texts
        jac = ref.jaccard_pairs(ids, texts, 0.8)
        clusters = ref.components(ref.jaccard_pairs(ids, texts, 0.8, max_df=64))
        clean = ref.c4_clean(texts)
        lsh = ref.lsh_pairs(ids, [ref.minhash(t) for t in texts])
        exact = sum(1 for c in Counter(ref.md5(t) for t in texts).values() if c > 1)

        tau = int(SEMANTIC_THRESHOLD * ref.FIXED_SCALE * ref.FIXED_SCALE)
        semantic = ref.semantic_pairs(self.emb, tau)

        report = Counter()
        for i, t, lang in zip(ids, texts, self.docs.langs):
            key = (lang, ref.split_of(i))
            report[key + ("n",)] += 1
            report[key + ("keep",)] += ref.quality_ok(t)
        pii = Counter()
        for t, src in zip(texts, self.docs.sources):
            pii[(src, "n_docs")] += 1
            for kind, n in ref.pii_counts(t).items():
                pii[(src, f"n_{kind}")] += n

        return {
            "dedup_clusters": lambda rows: ref.components_of(rows) == clusters,
            "semantic_dedup": lambda rows: len(rows) == len(semantic)
            and all(semantic.get((r["id_a"], r["id_b"])) == r["score_i64"] for r in rows),
            "dedup_report": lambda rows: {r["method"]: r["n_groups"] for r in rows}
            == {"exact": exact, "jaccard": len(jac), "minhash_lsh": len(lsh)},
            "corpus_report": lambda rows: len(rows) == len(report) // 2
            and all(
                r["n_docs"] == report[(r["lang"], r["split"], "n")]
                and (r["n_quality_keep"] or 0) == report[(r["lang"], r["split"], "keep")]
                for r in rows
            ),
            "clean_pages": lambda rows: rows == [clean],
            "pii_report": lambda rows: len(rows) == datagen.N_SOURCES
            and all(r[k] == pii[(r["source"], k)] for r in rows for k in ("n_docs", "n_url", "n_email", "n_phone")),
        }

    # -- metrics -------------------------------------------------------------------------
    def passes(self) -> list[float]:
        lat = [op["latency"] for op in self.ops]
        return [sum(lat[i : i + len(STAGES)]) for i in range(0, len(lat), len(STAGES))]

    def summary(self, measured_s: float) -> dict[str, float]:
        n = len(STAGES)
        ok = sum(all(op["ok"] for op in self.ops[i : i + n]) for i in range(0, len(self.ops), n))
        return {"latency_p50_s": median(self.passes()), "ops_per_s": ok / measured_s}

    def layer_summary(self, measured_s: float) -> dict[str, float]:
        return {}

    def describe(self, measured_s: float) -> dict:
        p = self.passes()
        return {
            "pass_s": [round(x, 3) for x in p],
            "corpus_docs": N_DOCS,
            "vectors": N_VECS,
            "docs_per_s": len(p) * N_DOCS / sum(p) if p else 0.0,
        }
