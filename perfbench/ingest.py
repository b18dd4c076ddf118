"""``ingest``: micro-batches of new documents streamed into persisted
indexes that keep serving reads.

Set-up builds an sf0.1-shaped base corpus, its IVF index (``build_ivf``
+ ``write_ivf_index``) and its postings index (``write_postings_index``),
appends small delta segments until one more commit after the warm-up
reaches the fold and compaction thresholds, then runs one untimed
warm-up batch. So the first measured commit of every run folds and
compacts, and the later ones do not. Each measured batch is generated
when it is due, carries a fixed share of exact and near duplicates, and
commits in this order: ``curate_batch``, embedding with
``hashing_embedder``, ``ivf_append`` and ``postings_append`` under the
batch token, then ``fold_deltas`` / ``compact_postings`` when
``maintenance_action`` / ``postings_maintenance_action`` ask for it.
After each commit one ``ivf_search_persisted`` and one
``bm25_search_persisted`` read the grown indexes.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow.dataset as ds

from perfbench import datagen, reference as ref
from perfbench.common import Tracer, median

N_BASE, BATCH, K = 1000, 200, 5
EXACT_FRAC, NEAR_FRAC = 0.05, 0.05
FIRST_BATCH_ID = 1_000_000
FIRST_SEED_ID = 500_000
SEED_SEGMENT_DOCS = 2
SEED_TOKEN = 1_000_000  # batch tokens of the earlier appends; commits use 0, 1, ...

OPS = (
    "streaming.curate_batch",
    "operators.ivf.ivf_append",
    "operators.retrieval.postings_append",
    "operators.ivf.ivf_search_persisted",
    "operators.retrieval.bm25_search_persisted",
)


def layer_names() -> list[str]:
    names = []
    for op in OPS:
        names += [f"{op}.s", f"{op}.jobs"]
    names += [
        "streaming.curate_batch.accept_frac",
        "operators.ivf.live_segments",
        "operators.ivf.fold_deltas.s",
        "operators.ivf.fold_deltas.bytes_rewritten_mb",
        "operators.retrieval.compact_postings.s",
        "ingest.bytes_written_mb",
        "ingest.read_p50_s",
        "ingest.write_amp",
        "ingest.space_amp",
        "ingest.docs_per_s",
    ]
    return names


def _files(root: str) -> dict[str, tuple[int, int]]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            try:
                st = os.stat(p)
            except OSError:
                continue
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def _written(before: dict, after: dict) -> int:
    return sum(size for p, (size, mt) in after.items() if before.get(p) != (size, mt))


def _ids(path: str) -> set[int]:
    if not os.path.isdir(path):
        return set()
    return set(ds.dataset(path, format="parquet").to_table(columns=["doc_id"])["doc_id"].to_pylist())


class Workload:
    def __init__(self, work_dir: str, seed: int):
        self.root = os.path.join(work_dir, "ingest")
        self.corpus = os.path.join(self.root, "corpus")
        self.index = os.path.join(self.root, "index")
        self.ivf = os.path.join(self.root, "ivf")
        self.post = os.path.join(self.root, "postings")
        self.rng = np.random.default_rng(seed)
        self.ops: list[dict] = []
        self.batch = 0
        self.offered_bytes = 0
        self.offered_docs = 0
        self.written = 0
        self.accept: list[float] = []
        self.in_ivf: set[int] = set()

    def setup(self, spark) -> None:
        from pyspark.sql import functions as F

        from backend_fastapi_spark.functions.embedder import hashing_embedder
        from backend_fastapi_spark.operators import ivf as IVF
        from backend_fastapi_spark.operators import retrieval as RT

        self.spark = spark

        rng = self.rng
        base = datagen.corpus(rng, N_BASE)
        self.pool = base.pool
        datagen.write(base.table(), os.path.join(self.corpus, "seed"), "part-0")
        self.indexed = dict(zip(base.ids, base.texts))  # every document the postings index holds
        self.in_ivf = set(base.ids)
        self.gate = ref.CurationGate(self.indexed)
        self.accepted_bytes = sum(len(t.encode()) for t in self.indexed.values())

        embed = hashing_embedder(64)
        docs = self.spark.read.parquet(os.path.join(self.corpus, "seed"))
        emb = docs.select("doc_id", embed(F.col("text")).alias("embedding"))
        assigned, centroids = IVF.build_ivf(emb, k_clusters=IVF.k_clusters_for(N_BASE))
        IVF.write_ivf_index(assigned, centroids, self.ivf)
        RT.write_postings_index(docs, self.post)

        # Earlier appends: the warm-up commit brings the IVF index to one
        # segment under the fold cap and the postings index to the
        # compaction cap. These documents bypass curation, as documents
        # indexed by another writer would.
        for s in range(RT.POSTINGS_SEGMENT_CAP - 1):
            first = FIRST_SEED_ID + s * SEED_SEGMENT_DOCS
            c = datagen.batch(rng, SEED_SEGMENT_DOCS, first, [], 0.0, 0.0)
            seg = self.spark.createDataFrame(list(zip(c.ids, c.texts)), "doc_id long, text string")
            RT.postings_append(self.spark, self.post, seg, batch_token=SEED_TOKEN + s)
            self.indexed.update(zip(c.ids, c.texts))
            if s < IVF.DELTA_SEGMENT_CAP - 2:
                seg_emb = seg.select("doc_id", embed(F.col("text")).alias("embedding"))
                IVF.ivf_append(self.spark, self.ivf, seg_emb, id_col="doc_id", batch_token=SEED_TOKEN + s)
                self.in_ivf.update(c.ids)
        self.step(Tracer(self.spark, False), record=False)

    # -- one micro-batch: commit, then reads --------------------------------------------
    def step(self, tracer, record: bool = True) -> None:
        from pyspark.sql import functions as F

        from backend_fastapi_spark.functions.embedder import hashing_embedder
        from backend_fastapi_spark.operators import ivf as IVF
        from backend_fastapi_spark.operators import retrieval as RT
        from backend_fastapi_spark.streaming.ingest_stream import curate_batch

        b = self.batch
        self.batch += 1
        c = datagen.batch(self.rng, BATCH, FIRST_BATCH_ID * (b + 1), self.pool, EXACT_FRAC, NEAR_FRAC)
        self.pool = c.pool
        path = datagen.write(c.table(), os.path.join(self.root, "incoming"), f"batch_{b}")
        texts = dict(zip(c.ids, c.texts))
        expect = self.gate.admit(texts)
        before = _files(self.root)
        op = {"kind": "commit", "ok": True, "batch": b, "expect": expect}
        spans = {}
        t0 = time.perf_counter()
        try:
            spark = self.spark
            batch_df = spark.read.parquet(path)
            t = time.perf_counter()
            with tracer.op(OPS[0]):
                curate_batch(spark, batch_df, b, self.corpus, self.index)
            spans[OPS[0]] = time.perf_counter() - t
            acc = spark.read.parquet(os.path.join(self.corpus, f"ingest_{b}"))
            emb = acc.select("doc_id", hashing_embedder(64)(F.col("text")).alias("embedding"))
            t = time.perf_counter()
            with tracer.op(OPS[1]):
                IVF.ivf_append(spark, self.ivf, emb, id_col="doc_id", batch_token=b)
            spans[OPS[1]] = time.perf_counter() - t
            t = time.perf_counter()
            with tracer.op(OPS[2]):
                RT.postings_append(spark, self.post, acc, batch_token=b)
            spans[OPS[2]] = time.perf_counter() - t
            self._maintain(tracer)
        except Exception as exc:  # a failed commit is counted, not fatal
            op["ok"], op["error"] = False, repr(exc)
        op["latency"] = time.perf_counter() - t0
        written = _written(before, _files(self.root))
        for t_id in expect:
            self.indexed[t_id] = texts[t_id]
        self.in_ivf.update(expect)
        if record:
            self.ops.append(op)
            self.offered_docs += len(texts)
            self.offered_bytes += sum(len(t.encode()) for t in texts.values())
            self.written += written
            self.accept.append(len(expect) / len(texts))
            for name, s in spans.items():
                tracer.add(f"{name}.s", s)
        self.accepted_bytes += sum(len(texts[i].encode()) for i in expect)
        if expect:
            self._reads(tracer, sorted(expect), record)

    def _maintain(self, tracer) -> None:
        from backend_fastapi_spark.operators import ivf as IVF
        from backend_fastapi_spark.operators import retrieval as RT

        n, delta_bytes, base_bytes = IVF.delta_stats(self.spark, self.ivf)
        tracer.add("operators.ivf.live_segments", n)
        if IVF.maintenance_action(n, delta_bytes, base_bytes) == "fold":
            t = time.perf_counter()
            IVF.fold_deltas(self.spark, self.ivf)
            tracer.add("operators.ivf.fold_deltas.s", time.perf_counter() - t)
            tracer.add("operators.ivf.fold_deltas.bytes_rewritten_mb", delta_bytes / 2**20)
        delta = os.path.join(self.post, "delta")
        n_post = sum(os.path.exists(os.path.join(delta, d, "_COMMITTED")) for d in os.listdir(delta))
        if RT.postings_maintenance_action(n_post) == "compact":
            t = time.perf_counter()
            RT.compact_postings(self.spark, self.post)
            tracer.add("operators.retrieval.compact_postings.s", time.perf_counter() - t)

    def _reads(self, tracer, accepted: list[int], record: bool) -> None:
        from backend_fastapi_spark.operators import ivf as IVF
        from backend_fastapi_spark.operators import retrieval as RT

        q_id = accepted[int(self.rng.integers(len(accepted)))]
        qvec = [float(x) for x in ref.hash_embed(self.indexed[q_id])]
        words = ref.words(self.indexed[accepted[int(self.rng.integers(len(accepted)))]])
        terms = sorted({words[int(i)] for i in self.rng.integers(0, len(words), 2)})
        reads = (
            (OPS[3], {"q_id": q_id}, lambda: IVF.ivf_search_persisted(
                self.spark, self.ivf,
                self.spark.createDataFrame([(q_id, qvec)], "q_id long, q_embedding array<double>"),
                k=K, corpus_id="doc_id",
            )),
            (OPS[4], {"terms": terms}, lambda: RT.bm25_search_persisted(self.spark, self.post, terms, k=K)),
        )
        for name, req, search in reads:
            op = {"kind": name.rsplit(".", 1)[1], "ok": True, "req": req}
            t0 = time.perf_counter()
            try:
                with tracer.op(name):
                    op["rows"] = [r.asDict() for r in search().collect()]
            except Exception as exc:
                op["ok"], op["error"] = False, repr(exc)
            op["latency"] = time.perf_counter() - t0
            if record:
                self.ops.append(op)
                tracer.add(f"{name}.s", op["latency"])
            if name == OPS[4]:
                op["indexed_docs"] = dict(self.indexed)  # the index as this read saw it

    def wrap(self, tracer) -> None:
        pass

    # -- output checks (outside the timed region) -----------------------------------------
    def check(self) -> None:
        for op in self.ops:
            if not op["ok"]:
                continue
            try:
                op["ok"] = self._check_one(op)
            except Exception as exc:
                op["ok"], op["error"] = False, f"check raised {exc!r}"
            if not op["ok"]:
                op.setdefault("error", "wrong output")

    def _check_one(self, op) -> bool:
        if op["kind"] == "commit":
            b = op["batch"]
            got = _ids(os.path.join(self.corpus, f"ingest_{b}"))
            published = _ids(os.path.join(self.index, f"ingest_batch={b}"))
            return got == op["expect"] and published == op["expect"]
        rows = op["rows"]
        if op["kind"] == "ivf_search_persisted":
            return len(rows) == K and rows[0]["doc_id"] == op["req"]["q_id"] and all(
                r["doc_id"] in self.in_ivf for r in rows
            )
        bm25 = ref.BM25(op.pop("indexed_docs"))

        return all(
            ref.same_ranking(
                [(r["doc_id"], r["bm25"]) for r in rows if r["term"] == t],
                bm25.topk(t, K),
                lambda i, t=t: bm25.term_score(i, t),
            )
            for t in op["req"]["terms"]
        )

    # -- metrics --------------------------------------------------------------------------
    def commits(self) -> list[float]:
        return [op["latency"] for op in self.ops if op["kind"] == "commit"]

    def summary(self, measured_s: float) -> dict[str, float]:
        ok = sum(op["ok"] for op in self.ops if op["kind"] == "commit")
        return {"latency_p50_s": median(self.commits()), "ops_per_s": ok / measured_s}

    def layer_summary(self, measured_s: float) -> dict[str, float]:
        on_disk = sum(size for size, _ in _files(self.root).values())
        incoming = sum(size for size, _ in _files(os.path.join(self.root, "incoming")).values())
        reads = [op["latency"] for op in self.ops if op["kind"] != "commit"]
        return {
            "streaming.curate_batch.accept_frac": median(self.accept),
            "ingest.bytes_written_mb": self.written / 2**20,
            "ingest.read_p50_s": median(reads),
            "ingest.write_amp": self.written / max(self.offered_bytes, 1),
            "ingest.space_amp": (on_disk - incoming) / max(self.accepted_bytes, 1),
            "ingest.docs_per_s": self.offered_docs / measured_s,
        }

    def describe(self, measured_s: float) -> dict:
        return {
            "batches": len(self.commits()),
            "batch_docs": BATCH,
            "base_docs": N_BASE,
            "indexed_docs": len(self.indexed),
        }
