"""Engine facade + IVF ANN tests."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from backend_fastapi_spark.operators import vector as V
from backend_fastapi_spark.operators.ivf import build_ivf, ivf_search
from tests.conftest import SF_ORACLE
from tests.parity import compare, duck_con


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _cold_warm(make):
    """Rows of a cold call (builds the Engine's substrates) and of a warm
    one (reads them back); the two must be equal."""
    cold = _rows(make())
    assert _rows(make()) == cold
    return cold


def _persistent_rdds(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_engine_facade_surface(spark, open_engine):
    from backend_fastapi_spark.operators import retrieval as RT

    eng = open_engine(SF_ORACLE)
    n = _cold_warm(lambda: eng.sql("SELECT count(*) AS n FROM lineitem"))
    assert n == [(60000,)]

    ctx = _cold_warm(eng.user_context)
    assert len(ctx) == 1500 and "context" in eng.user_context().columns

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    qvec = [float(x) for x in eng.table("embeddings").head()["embedding"]]
    qf = V.query_frame(spark, qvec)

    hits = eng.knn(qvec, k=5).collect()
    assert len(hits) == 5 and hits[0].score_i64 >= hits[-1].score_i64
    assert _cold_warm(lambda: eng.knn(qvec, k=5)) == _rows(
        V.knn_exact(emb, qf, k=5, exclude_self=False)
    )

    kw = _cold_warm(lambda: eng.keyword_search("Vector, stream", k=5))
    assert {r[0] for r in kw} == {"vector", "stream"}
    assert kw == _rows(RT.bm25_topk(docs, ["vector", "stream"], k=5))

    hy = _cold_warm(lambda: eng.hybrid_search("vector,stream", qvec, k=5))
    kw_leg = RT.bm25_score_query(docs, ["vector", "stream"]).withColumn(
        "q_id", F.lit(-1)
    )
    vec_leg = V.knn_exact(emb, qf, k=50, exclude_self=False).select(
        "q_id", F.col("vec_id").alias("doc_id"), "score_i64"
    )
    fused = RT.rrf_fuse(
        [RT.rank_topn(kw_leg, "kw", 50), RT.rank_topn(vec_leg, "score_i64", 50)]
    )
    want = fused.orderBy(F.col("rrf").desc(), "doc_id").limit(5)
    assert len(hy) == 5 and hy == _rows(want.select("doc_id", "rrf"))

    mm = _cold_warm(lambda: eng.mmr(qvec, k=4))
    assert [r[0] for r in mm] == [0, 1, 2, 3]
    assert mm == _rows(
        RT.mmr_topk(emb, qf, shortlist=20, select=4).select(
            "mmr_rank", "vec_id", "rel_i64"
        )
    )

    rag = _cold_warm(
        lambda: eng.rag(qvec, anchors=["vector", "stream", "merge"])
    )
    assert 0 < len(rag) <= 5
    assert rag[0][-1].startswith("《S1》")  # (q_id, ctx_rank=1, ..., line)

    rep = dict(_cold_warm(eng.dedup_report))
    assert set(rep) == {"exact", "jaccard", "minhash_lsh"}
    assert rep["jaccard"] > 0  # driver planted near-dups


def test_engine_rag_text_end_to_end(spark, open_engine):
    from backend_fastapi_spark.functions.anchors import strong_anchors
    from backend_fastapi_spark.functions.embedder import (
        _hash_embed_one,
        hashing_embedder,
    )
    from backend_fastapi_spark.plans.rag_retrieval import rag_retrieve

    eng = open_engine(SF_ORACLE)
    q = "vector stream merge query"
    out = _cold_warm(lambda: eng.rag_text(q, top_k=5, floor=-1.0))
    assert 0 < len(out) <= 5
    # anchor filter honored: every kept doc contains a strong anchor
    for r in eng.rag_text(q, top_k=5, floor=-1.0).collect():
        assert any(a in r.line.lower() for a in ["vector", "stream", "merge", "query"])
    # the cached passages are the corpus embedded as an uncached plan
    # embeds it
    embed = hashing_embedder(dim=64)
    chunks = (
        spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
        .select("doc_id", "source", "text")
        .withColumn("embedding", embed(F.concat(F.lit("passage: "), F.col("text"))))
    )
    want = rag_retrieve(
        chunks,
        V.query_frame(spark, _hash_embed_one("passage: " + q, dim=64)),
        strong_anchors(q) or [q.lower()],
        top_k=5,
        floor=-1.0,
    )
    assert out == _rows(want)


def test_engine_warm_rag_text_embeds_no_passage(spark, open_engine, monkeypatch):
    """The passages substrate embeds the corpus once: a warm rag_text
    (even with a new query) runs no embedding task."""
    from pyspark.sql import types as T

    from backend_fastapi_spark.functions import embedder

    embedded = spark.sparkContext.accumulator(0)

    def counting_embedder(dim: int = 64):
        @F.pandas_udf(T.ArrayType(T.FloatType()))
        def embed(batch: pd.Series) -> pd.Series:
            embedded.add(len(batch))
            return batch.map(lambda t: embedder._hash_embed_one(t or "", dim))

        return embed

    monkeypatch.setattr(embedder, "hashing_embedder", counting_embedder)
    eng = open_engine(SF_ORACLE)
    eng.rag_text("vector stream merge query", top_k=5).collect()
    cold = embedded.value
    assert cold >= eng.table("documents").count()
    eng.rag_text("window join shuffle", top_k=5).collect()
    assert embedded.value == cold


def test_engine_close_releases_every_substrate(spark, open_engine):
    before = _persistent_rdds(spark)
    eng = open_engine(SF_ORACLE)
    qvec = [float(x) for x in eng.table("embeddings").head()["embedding"]]
    eng.knn(qvec, k=5).collect()
    eng.rag_text("vector stream merge query", top_k=5).collect()
    eng.keyword_search("vector", k=5).collect()
    held = [df for _, df, persisted in eng._substrates.values() if persisted]
    assert len(held) == 3  # vectors, passages, postings
    assert all(df.storageLevel.useMemory for df in held)
    assert len(_persistent_rdds(spark) - before) == 3
    eng.close()
    assert not any(
        df.storageLevel.useMemory or df.storageLevel.useDisk for df in held
    )
    assert _persistent_rdds(spark) == before
    # a closed Engine still answers, rebuilding on demand
    assert len(eng.knn(qvec, k=5).collect()) == 5


def test_engine_substrates_build_once_under_threads(open_engine):
    """Request threads sharing one Engine get one frame per substrate: a
    second build would persist a frame no close() releases."""
    import sys
    import threading

    eng = open_engine(SF_ORACLE)
    got, errors = [], []

    def worker():
        try:
            for _ in range(10):
                got.append((eng._postings(), eng._vectors(), eng.table("orders")))
        except Exception as exc:  # surfaced by the assert below
            errors.append(exc)

    before = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(before)
    assert not any(t.is_alive() for t in threads) and not errors
    assert len(got) == 80
    for i in range(3):
        assert len({id(g[i]) for g in got}) == 1


def test_engine_substrates_rebuild_when_table_files_change(
    spark, open_engine, tmp_path
):
    import pyarrow.parquet as pq

    from tests.conftest import SF_SMOKE

    docs = pq.read_table(f"{SF_SMOKE}/documents.parquet").slice(0, 60)
    emb = pq.read_table(f"{SF_SMOKE}/embeddings.parquet").slice(0, 60)
    # the rewrite: every doc takes its successor's text
    texts = docs.column("text").to_pylist()
    rotated = docs.set_column(
        docs.schema.get_field_index("text"), "text",
        [texts[1:] + texts[:1]],
    )
    live, fresh_dir = tmp_path / "live", tmp_path / "fresh"
    for d, d_docs in ((live, docs), (fresh_dir, rotated)):
        d.mkdir()
        pq.write_table(d_docs, str(d / "documents.parquet"))
        pq.write_table(emb, str(d / "embeddings.parquet"))

    eng = open_engine(str(live))
    qvec = [float(x) for x in emb.column("embedding")[0].as_py()]
    terms = "vector,stream,hash"
    rag_q = "vector stream merge query"

    def calls(e):
        return (
            _rows(e.keyword_search(terms, k=3)),
            _rows(e.rag_text(rag_q, top_k=5, floor=-1.0)),
            _rows(e.knn(qvec, k=5)),
        )

    cold = calls(eng)
    assert calls(eng) == cold
    warm_rdds = _persistent_rdds(spark)
    postings = eng._substrates["postings"][1]

    pq.write_table(rotated, str(live / "documents.parquet"))
    after = calls(eng)
    assert after[0] != cold[0]  # the rewrite changes the keyword answer
    # documents' two substrates were unpersisted and rebuilt; the
    # vectors (embeddings unchanged) were kept
    rdds = _persistent_rdds(spark)
    assert len(warm_rdds - rdds) == 2 and len(rdds - warm_rdds) == 2
    assert eng._substrates["postings"][1] is not postings
    # same rows as a fresh Engine over a second copy of the new files (a
    # different path, so no cached plan can stand in for its scans)
    assert after == calls(open_engine(str(fresh_dir)))


def test_engine_sql_views_follow_rewritten_table(spark, open_engine, tmp_path):
    """Engine.sql and Engine.knn_sql read a table's files as they are now.
    The table is split into at least one file per core, so the persisted
    vectors substrate is the bare scan (ensure_parallelism adds nothing)
    and Spark would substitute its stale cache into the re-bound view's
    plan unless it is dropped with the view."""
    import shutil

    import pyarrow.parquet as pq

    from tests.conftest import SF_SMOKE

    emb = pq.read_table(f"{SF_SMOKE}/embeddings.parquet")
    old, new = emb.slice(0, 40), emb.slice(40, 80)
    parts = 2 * spark.sparkContext.defaultParallelism

    def write(table, d):
        shutil.rmtree(d, ignore_errors=True)
        d.mkdir(parents=True)
        step = -(-table.num_rows // parts)
        for i in range(parts):
            pq.write_table(table.slice(i * step, step), str(d / f"part-{i}.parquet"))

    live, fresh_dir = tmp_path / "live", tmp_path / "fresh"
    write(old, live / "embeddings.parquet")
    write(new, fresh_dir / "embeddings.parquet")
    qvec = [float(x) for x in new.column("embedding")[0].as_py()]

    def calls(e):
        return (
            _rows(e.sql("SELECT count(*) AS n FROM embeddings")),
            _rows(e.knn_sql(qvec, k=3)),
            _rows(e.knn(qvec, k=3)),
        )

    eng = open_engine(str(live))
    before = calls(eng)
    write(new, live / "embeddings.parquet")
    after = calls(eng)
    assert after != before and after[0] == [(80,)]
    assert after == calls(open_engine(str(fresh_dir)))


def test_ivf_recall_vs_exact(spark):
    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    assigned, centroids = build_ivf(emb, k_clusters=8)
    assert assigned.select("cluster").distinct().count() <= 8

    qrow = emb.filter(F.col("vec_id") == 0).head()
    queries = spark.createDataFrame(
        [("q0", [float(x) for x in qrow["embedding"]])], ["q_id", "q_embedding"]
    )
    exact_ids = {
        r.vec_id
        for r in V.knn_exact(emb, queries, k=10, exclude_self=False).collect()
    }
    got = ivf_search(assigned, centroids, queries, k=10, nprobe=4).collect()
    assert len(got) == 10
    recall = len({r.vec_id for r in got} & exact_ids) / 10
    assert recall >= 0.5, f"IVF recall too low: {recall}"
    # nprobe = k_clusters degrades to exact
    full = ivf_search(assigned, centroids, queries, k=10, nprobe=8).collect()
    assert {r.vec_id for r in full} == exact_ids


def test_ivf_k_clusters_for_sizing():
    """√n sizing with the FAISS ≥39-points-per-centroid training floor,
    and the explicit per-list override."""
    from backend_fastapi_spark.operators.ivf import k_clusters_for

    assert k_clusters_for(200_000) == 447          # isqrt(200k)
    assert k_clusters_for(1_000_000) == 1000
    assert k_clusters_for(100) == 2                # capped at n//39
    assert k_clusters_for(10) == 1                 # floor never 0
    assert k_clusters_for(0) == 1
    assert k_clusters_for(200_000, target_list=1000) == 200
    # the cap applies to the override too: k never exceeds n//39
    assert k_clusters_for(1000, target_list=2) == 1000 // 39


def test_ivf_sampled_training_still_covers_corpus(spark):
    """train_sample_rows bounds the KMeans FIT only: the assignment must
    still label EVERY vector, search must still work, and the sampled
    build is deterministic (same seed => same centroids)."""
    from backend_fastapi_spark.operators.ivf import build_ivf, ivf_search

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    n = emb.count()
    a1, c1 = build_ivf(emb, k_clusters=8, train_sample_rows=200)
    a2, c2 = build_ivf(emb, k_clusters=8, train_sample_rows=200)
    assert a1.count() == n  # every vector assigned
    cents1 = sorted(map(tuple, (r["centroid"] for r in c1.collect())))
    cents2 = sorted(map(tuple, (r["centroid"] for r in c2.collect())))
    assert cents1 == cents2  # deterministic under a fixed seed
    qrow = emb.filter(F.col("vec_id") == 0).head()
    queries = spark.createDataFrame(
        [("q0", [float(x) for x in qrow["embedding"]])], ["q_id", "q_embedding"]
    )
    got = ivf_search(a1, c1, queries, k=10, nprobe=8).collect()
    assert len(got) == 10


def test_ivf_append_grows_index_without_rewrites(spark, tmp_path):
    """ivf_append (FAISS index.add role): new vectors argmin-assign to
    the EXISTING centroids and append as new files only under the
    clusters they land in — untouched cluster partitions keep byte-
    identical file sets, the assignment matches a fresh argmin, and a
    probed search finds the appended vectors."""
    import os

    from backend_fastapi_spark.operators.ivf import (
        build_ivf,
        ivf_append,
        ivf_search_persisted,
        write_ivf_index,
    )

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    base = emb.filter(F.col("vec_id") % 2 == 0)
    extra = emb.filter(F.col("vec_id") % 2 == 1).limit(40).withColumn(
        "vec_id", F.col("vec_id") + 1_000_000
    )
    assigned, centroids = build_ivf(base, k_clusters=8)
    path = str(tmp_path / "ivf")
    write_ivf_index(assigned, centroids, path)

    def files_per_cluster():
        out = {}
        lists_dir = f"{path}/lists"
        for d in os.listdir(lists_dir):
            if d.startswith("cluster="):
                out[d] = sorted(os.listdir(f"{lists_dir}/{d}"))
        return out

    before = files_per_cluster()
    n_before = spark.read.parquet(f"{path}/lists").count()
    ivf_append(spark, path, extra)
    after = files_per_cluster()

    back = spark.read.parquet(f"{path}/lists")
    assert back.count() == n_before + 40  # nothing lost, nothing dropped
    appended = back.filter(F.col("vec_id") >= 1_000_000)
    assert appended.count() == 40
    touched = {f"cluster={r['cluster']}"
               for r in appended.select("cluster").distinct().collect()}
    for d, files in before.items():
        if d not in touched:
            assert after[d] == files  # untouched partitions byte-stable
        else:
            assert set(files) <= set(after[d])  # append, never rewrite

    # assignment parity: appended rows sit where a fresh argmin puts them
    from backend_fastapi_spark.operators.vector import knn_exact

    fresh = knn_exact(
        centroids.withColumnRenamed("centroid", "embedding"),
        extra.select(F.col("vec_id").alias("q_id"),
                     F.col("embedding").alias("q_embedding")),
        k=1, corpus_id="cluster", metric="l2", exclude_self=False,
    ).select("q_id", "cluster")
    got = {(r["vec_id"], r["cluster"]) for r in appended.select(
        "vec_id", "cluster").collect()}
    want = {(r["q_id"], r["cluster"]) for r in fresh.collect()}
    assert got == want

    # a probed search sees the appended vector (it is its own nearest)
    one = extra.orderBy("vec_id").limit(1).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_embedding")
    )
    queries = spark.createDataFrame(one.collect(), one.schema)
    hits = ivf_search_persisted(spark, path, queries, k=3, nprobe=2).collect()
    qid = queries.head()["q_id"]
    assert any(r["vec_id"] == qid for r in hits)


def test_ivf_append_then_compact_lifecycle(spark, tmp_path):
    """The full index-maintenance loop: grow a cluster with ivf_append
    (one file per batch), compact it (compact_index generalized to the
    cluster partition key) — rows identical, file count collapses to the
    target, other clusters' files untouched, probed search unchanged."""
    import os

    from backend_fastapi_spark.operators.ivf import (
        build_ivf,
        ivf_append,
        write_ivf_index,
    )
    from backend_fastapi_spark.plans.ingest import compact_index

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    base = emb.filter(F.col("vec_id") % 2 == 0)
    assigned, centroids = build_ivf(base, k_clusters=4)
    path = str(tmp_path / "ivf")
    write_ivf_index(assigned, centroids, path)
    lists = f"{path}/lists"
    # three append batches -> >= 3 extra files in whichever clusters hit
    for i in range(3):
        batch = emb.filter(F.col("vec_id") % 2 == 1).limit(10).withColumn(
            "vec_id", F.col("vec_id") + (i + 1) * 1_000_000
        )
        ivf_append(spark, path, batch)

    def files(cluster_dir):
        return sorted(
            f for f in os.listdir(f"{lists}/{cluster_dir}")
            if f.endswith(".parquet")
        )

    grown = spark.read.parquet(lists)
    target = grown.groupBy("cluster").count().orderBy(
        F.col("count").desc()).head()["cluster"]
    before_rows = sorted(
        (r["vec_id"], r["cluster"]) for r in grown.collect())
    others_before = {
        d: files(d) for d in os.listdir(lists)
        if d.startswith("cluster=") and d != f"cluster={target}"
    }
    assert len(files(f"cluster={target}")) > 1  # appends really fragmented

    n = compact_index(spark, lists, target, target_files=1,
                      partition_col="cluster")
    assert n == sum(1 for _, c in before_rows if c == target)
    assert len(files(f"cluster={target}")) == 1  # compacted
    for d, fs in others_before.items():
        assert files(d) == fs  # untouched partitions byte-stable
    after_rows = sorted(
        (r["vec_id"], r["cluster"])
        for r in spark.read.parquet(lists).collect())
    assert after_rows == before_rows  # nothing lost, nothing duplicated


def test_ivf_append_batch_token_idempotent(spark, tmp_path):
    """batch_token appends are delta segments scoped by the token: a
    RETRY (same token) replaces itself instead of duplicating, a new
    token grows the index, and search reads base + deltas with the
    cluster pruning intact."""
    from backend_fastapi_spark.operators.ivf import (
        build_ivf,
        ivf_append,
        ivf_search_persisted,
        read_ivf_lists,
        write_ivf_index,
    )

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    base = emb.filter(F.col("vec_id") % 2 == 0)
    assigned, centroids = build_ivf(base, k_clusters=4)
    path = str(tmp_path / "ivf")
    write_ivf_index(assigned, centroids, path)
    n_base = spark.read.parquet(f"{path}/lists").count()

    batch = emb.filter(F.col("vec_id") % 2 == 1).limit(20).withColumn(
        "vec_id", F.col("vec_id") + 1_000_000
    )
    ivf_append(spark, path, batch, batch_token=7)
    assert read_ivf_lists(spark, path).count() == n_base + 20
    # the at-least-once retry: same token, same rows -> unchanged
    ivf_append(spark, path, batch, batch_token=7)
    assert read_ivf_lists(spark, path).count() == n_base + 20
    # a different token is new data
    batch2 = batch.withColumn("vec_id", F.col("vec_id") + 1_000_000)
    ivf_append(spark, path, batch2, batch_token=8)
    assert read_ivf_lists(spark, path).count() == n_base + 40
    # search sees delta rows (the appended vector is its own nearest)
    one = batch.orderBy("vec_id").limit(1).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_embedding")
    )
    queries = spark.createDataFrame(one.collect(), one.schema)
    hits = ivf_search_persisted(spark, path, queries, k=3, nprobe=2).collect()
    assert any(r["vec_id"] == queries.head()["q_id"] for r in hits)


def test_ivf_rebuild_clears_stale_deltas(spark, tmp_path):
    """A rebuild (write_ivf_index overwrite) is a new index epoch: delta
    segments appended against the OLD centroids must not survive it —
    they hold duplicated vectors whose cluster ids are wrong for the new
    quantizer (ADVICE r09 medium)."""
    from backend_fastapi_spark.operators.ivf import (
        build_ivf,
        ivf_append,
        read_ivf_lists,
        write_ivf_index,
    )

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    base = emb.filter(F.col("vec_id") % 2 == 0)
    assigned, centroids = build_ivf(base, k_clusters=4)
    path = str(tmp_path / "ivf")
    write_ivf_index(assigned, centroids, path)
    batch = emb.filter(F.col("vec_id") % 2 == 1).limit(20).withColumn(
        "vec_id", F.col("vec_id") + 1_000_000
    )
    ivf_append(spark, path, batch, batch_token=3)
    n_grown = read_ivf_lists(spark, path).count()

    # rebuild over the FULL corpus (base + the appended batch's source
    # rows): the stale delta must vanish, not union in on top
    full = base.unionByName(batch)
    assigned2, centroids2 = build_ivf(full, k_clusters=8)
    write_ivf_index(assigned2, centroids2, path)
    after = read_ivf_lists(spark, path)
    assert after.count() == full.count()  # no duplicated delta rows
    assert after.count() == n_grown  # same logical corpus as the grown one
    # every vec_id exactly once
    assert after.groupBy("vec_id").count().filter("count > 1").count() == 0


def test_build_ivf_underdrawn_sample_falls_back(spark):
    """build_ivf's bounded-training sample can under-draw below k when
    train_sample_rows is close to k_clusters; the guard falls back to the
    full fit instead of letting KMeans.fit raise (ADVICE r09)."""
    from backend_fastapi_spark.operators.ivf import build_ivf

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet").limit(120)
    # train_sample_rows == k_clusters: any under-draw breaks an unguarded
    # fit; the guard must produce a usable index regardless
    assigned, centroids = build_ivf(
        emb, k_clusters=16, train_sample_rows=16
    )
    assert centroids.count() == 16
    assert assigned.count() == 120
    assert assigned.select("cluster").distinct().count() <= 16


def test_stream_ivf_append_end_to_end(spark, tmp_path):
    """The streaming serving loop: a file stream of vectors grows the
    persisted IVF index through foreachBatch delta segments; after the
    stream drains, every streamed vector is in the index exactly once
    and probed search finds it."""
    from backend_fastapi_spark.operators.ivf import (
        build_ivf,
        ivf_search_persisted,
        read_ivf_lists,
        write_ivf_index,
    )
    from backend_fastapi_spark.streaming.ingest_stream import stream_ivf_append

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    base = emb.filter(F.col("vec_id") % 2 == 0)
    assigned, centroids = build_ivf(base, k_clusters=4)
    path = str(tmp_path / "ivf")
    write_ivf_index(assigned, centroids, path)
    n_base = spark.read.parquet(f"{path}/lists").count()

    src = str(tmp_path / "incoming")
    incoming = emb.filter(F.col("vec_id") % 2 == 1).limit(30).withColumn(
        "vec_id", F.col("vec_id") + 2_000_000
    )
    incoming.write.parquet(src)
    stream = (
        spark.readStream.schema(incoming.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = stream_ivf_append(stream, path, str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    grown = read_ivf_lists(spark, path)
    assert grown.count() == n_base + 30
    streamed = grown.filter(F.col("vec_id") >= 2_000_000)
    assert streamed.count() == 30  # exactly once, no duplicates
    one = incoming.orderBy("vec_id").limit(1).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_embedding")
    )
    queries = spark.createDataFrame(one.collect(), one.schema)
    hits = ivf_search_persisted(spark, path, queries, k=3, nprobe=2).collect()
    assert any(r["vec_id"] == queries.head()["q_id"] for r in hits)


def test_ivf_fold_deltas_exactly_once(spark, tmp_path):
    """fold_deltas merges every live delta segment into one, rows exactly
    once, and the subsumption-marker commit protocol tolerates a crash at
    every window: staging dirs are invisible, a committed fold excludes
    its subsumed segments even when GC never ran, and a retried
    micro-batch that re-creates a subsumed segment stays excluded."""
    import os

    from backend_fastapi_spark.operators.ivf import (
        build_ivf,
        delta_stats,
        fold_deltas,
        ivf_append,
        read_ivf_lists,
        should_compact,
        write_ivf_index,
    )

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    base = emb.filter(F.col("vec_id") % 2 == 0)
    assigned, centroids = build_ivf(base, k_clusters=4)
    path = str(tmp_path / "ivf")
    write_ivf_index(assigned, centroids, path)
    n_base = spark.read.parquet(f"{path}/lists").count()

    for i in range(4):
        batch = emb.filter(F.col("vec_id") % 2 == 1).limit(10).withColumn(
            "vec_id", F.col("vec_id") + (i + 1) * 1_000_000
        )
        ivf_append(spark, path, batch, batch_token=i)
    rows_before = sorted(
        (r["vec_id"], r["cluster"])
        for r in read_ivf_lists(spark, path).collect()
    )
    assert len(rows_before) == n_base + 40
    n, dbytes, bbytes = delta_stats(spark, path)
    assert n == 4 and dbytes > 0 and bbytes > 0

    assert fold_deltas(spark, path) == 4
    # deferred GC: the just-folded segments stay ON DISK one generation
    # (in-flight readers keep succeeding) but are excluded from the live
    # view by the fold's marker
    from backend_fastapi_spark.operators.ivf import _live_delta_segments

    assert _live_delta_segments(spark, path) == ["batch=fold-1"]
    assert "_fold_staging" not in os.listdir(f"{path}/delta")
    rows_after = sorted(
        (r["vec_id"], r["cluster"])
        for r in read_ivf_lists(spark, path).collect()
    )
    assert rows_after == rows_before  # nothing lost, nothing duplicated
    assert fold_deltas(spark, path) == 0  # single live segment: no-op

    # crash window (a): a leftover staging dir is invisible to readers
    os.makedirs(f"{path}/delta/_fold_staging/cluster=0", exist_ok=True)
    assert sorted(
        (r["vec_id"], r["cluster"])
        for r in read_ivf_lists(spark, path).collect()
    ) == rows_before

    # crash window (b): an at-least-once RETRY re-creates a segment the
    # fold already subsumed — the marker must keep excluding it
    retry = emb.filter(F.col("vec_id") % 2 == 1).limit(10).withColumn(
        "vec_id", F.col("vec_id") + 1_000_000
    )
    ivf_append(spark, path, retry, batch_token=0)
    # recreate the marker state: fold-1's marker lists batch=0
    assert sorted(
        (r["vec_id"], r["cluster"])
        for r in read_ivf_lists(spark, path).collect()
    ) == rows_before

    # a fresh (non-subsumed) batch is live alongside the fold segment,
    # and a second fold folds fold-1 + the new batch into fold-2
    fresh = emb.filter(F.col("vec_id") % 2 == 1).limit(5).withColumn(
        "vec_id", F.col("vec_id") + 9_000_000
    )
    ivf_append(spark, path, fresh, batch_token=77)
    assert read_ivf_lists(spark, path).count() == n_base + 45
    assert fold_deltas(spark, path) == 2
    assert read_ivf_lists(spark, path).count() == n_base + 45
    assert _live_delta_segments(spark, path) == ["batch=fold-2"]
    # deferred GC deleted the PRIOR generation's subsumed dirs (batch=0
    # from the retry, batch=1..3 from before fold-1)
    on_disk = [d for d in os.listdir(f"{path}/delta") if not d.startswith("_")]
    assert sorted(on_disk) == ["batch=77", "batch=fold-1", "batch=fold-2"]

    # the LATE-retry resurrection the carry-forward exists for: fold-1
    # (the only fold that directly absorbed batch=2) is now subsumed
    # itself; once a third fold GCs it, batch=2's exclusion must survive
    # via the carried history in fold-3's marker
    more = emb.filter(F.col("vec_id") % 2 == 1).limit(3).withColumn(
        "vec_id", F.col("vec_id") + 20_000_000
    )
    ivf_append(spark, path, more, batch_token=88)
    assert fold_deltas(spark, path) == 2  # fold-2 + batch=88 -> fold-3
    assert read_ivf_lists(spark, path).count() == n_base + 48
    late_retry = emb.filter(F.col("vec_id") % 2 == 1).limit(10).withColumn(
        "vec_id", F.col("vec_id") + 3 * 1_000_000  # batch_token=2's rows
    )
    ivf_append(spark, path, late_retry, batch_token=2)  # resurrects batch=2
    assert read_ivf_lists(spark, path).count() == n_base + 48  # excluded

    # policy shape
    from backend_fastapi_spark.operators.ivf import maintenance_action

    assert not should_compact(1, 10**9, 10)      # one segment never folds
    assert should_compact(16, 1, 10**12)         # count cap
    assert should_compact(2, 600, 1000)          # byte-ratio bound
    assert not should_compact(2, 10, 10**6)      # small + few: leave it
    assert maintenance_action(16, 1, 10**12) == "fold"
    # delta mass at half the base BELOW the cap: folding would rewrite
    # O(base) bytes per trigger — signal a rebuild instead
    assert maintenance_action(2, 600, 1000) == "rebuild"
    # AT the cap the fold runs regardless (liveness: at most one fold
    # per cap-many triggers, amortized delta/cap per trigger)
    assert maintenance_action(20, 600, 1000) == "fold"
    assert maintenance_action(3, 10, 10**6) == "none"


def test_stream_ivf_append_auto_fold_bounds_segments(spark, tmp_path):
    """The streaming maintenance loop: with auto_fold on (default), a
    long stream of 1-file triggers keeps the live segment count bounded
    by the cap while every vector still lands exactly once."""
    import os

    from backend_fastapi_spark.operators.ivf import (
        _live_delta_segments,
        build_ivf,
        write_ivf_index,
        read_ivf_lists,
        DELTA_SEGMENT_CAP,
    )
    from backend_fastapi_spark.streaming.ingest_stream import stream_ivf_append

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    base = emb.filter(F.col("vec_id") % 2 == 0)
    assigned, centroids = build_ivf(base, k_clusters=4)
    path = str(tmp_path / "ivf")
    write_ivf_index(assigned, centroids, path)
    n_base = spark.read.parquet(f"{path}/lists").count()

    src = str(tmp_path / "incoming")
    os.makedirs(src)
    odd = emb.filter(F.col("vec_id") % 2 == 1).limit(40).collect()
    for i in range(20):  # 20 files -> 20 triggers > DELTA_SEGMENT_CAP
        two = spark.createDataFrame(
            odd[2 * i: 2 * i + 2], emb.schema
        ).withColumn("vec_id", F.col("vec_id") + 2_000_000)
        two.coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = stream_ivf_append(stream, path, str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    grown = read_ivf_lists(spark, path)
    assert grown.count() == n_base + 40
    assert grown.filter(F.col("vec_id") >= 2_000_000).count() == 40
    assert (
        grown.filter(F.col("vec_id") >= 2_000_000)
        .groupBy("vec_id").count().filter("count > 1").count() == 0
    )
    assert len(_live_delta_segments(spark, path)) <= DELTA_SEGMENT_CAP


def test_ivf_deterministic_degrades_to_exact_and_is_stable(spark):
    """The hash-checkable IVF twin (deterministic medoid quantizer): at
    nprobe = k_clusters it must equal exact kNN (same ids AND the same
    fixed-point scores knn_exact computes); at nprobe=2 recall stays
    sane; and two invocations are bit-identical (no hidden RNG)."""
    from backend_fastapi_spark.operators.ivf import ivf_deterministic_topk

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_embedding")
    )
    exact = V.knn_exact(emb, queries, k=10).collect()
    exact_ids: dict = {}
    for r in exact:
        exact_ids.setdefault(r.q_id, set()).add(r.vec_id)
    exact_scores = {(r.q_id, r.vec_id): r.score_i64 for r in exact}

    full = ivf_deterministic_topk(
        emb, queries, k=10, k_clusters=8, nprobe=8
    ).collect()
    full_ids: dict = {}
    for r in full:
        full_ids.setdefault(r.q_id, set()).add(r.vec_id)
        assert r.score_i64 == exact_scores[(r.q_id, r.vec_id)]
    assert full_ids == exact_ids

    pruned = ivf_deterministic_topk(
        emb, queries, k=10, k_clusters=8, nprobe=2
    ).collect()
    by_q: dict = {}
    for r in pruned:
        by_q.setdefault(r.q_id, set()).add(r.vec_id)
    for q_id, ids in by_q.items():
        recall = len(ids & exact_ids[q_id]) / 10
        assert recall >= 0.4, f"q{q_id} deterministic-IVF recall {recall}"

    again = ivf_deterministic_topk(
        emb, queries, k=10, k_clusters=8, nprobe=2
    ).collect()
    assert {tuple(r) for r in again} == {tuple(r) for r in pruned}


def test_engine_corpus_report_and_clusters(open_engine):
    eng = open_engine(SF_ORACLE)
    rep = eng.corpus_report().collect()
    assert {(r.lang, r.split) for r in rep} >= {("en", "train"), ("en", "test")}
    for r in rep:
        assert 0 <= (r.n_quality_keep or 0) <= r.n_docs
    clusters = eng.dedup_clusters().collect()
    # cluster_id is the min member id of each component
    by_cluster = {}
    for r in clusters:
        by_cluster.setdefault(r.cluster_id, []).append(r.doc_id)
    for cid, members in by_cluster.items():
        assert cid == min(members)


def test_ivf_persisted_partition_pruning(spark, tmp_path):
    """Persisted IVF search must prune the list scan to probed clusters
    (PartitionFilters in the file scan), and agree with the in-memory
    search."""
    from backend_fastapi_spark.operators.ivf import (
        build_ivf,
        ivf_search,
        ivf_search_persisted,
        write_ivf_index,
    )

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    assigned, centroids = build_ivf(emb, k_clusters=8)
    path = str(tmp_path / "ivf")
    write_ivf_index(assigned, centroids, path)

    qrow = emb.filter(F.col("vec_id") == 0).head()
    queries = spark.createDataFrame(
        [(0, [float(x) for x in qrow["embedding"]])], ["q_id", "q_embedding"]
    )
    got = ivf_search_persisted(spark, path, queries, k=10, nprobe=4)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [cluster" in plan or "cluster#" in plan.split(
        "PartitionFilters"
    )[1][:120]
    rows = got.collect()
    mem = ivf_search(assigned, centroids, queries, k=10, nprobe=4).collect()
    assert {(r.q_id, r.vec_id, r.score_i64) for r in rows} == {
        (r.q_id, r.vec_id, r.score_i64) for r in mem
    }


def test_engine_funnel_and_retention(open_engine):
    eng = open_engine(SF_ORACLE)
    funnel = {r.stage: r.n_users for r in eng.funnel().collect()}
    assert set(funnel) == {"view", "view_click", "view_click_purchase"}
    assert funnel["view"] >= funnel["view_click"] >= funnel["view_click_purchase"]
    ret = eng.retention().collect()
    assert all(r.week_offset >= 0 and r.n_users > 0 for r in ret)


def test_engine_knn_sql_matches_dataframe_path(open_engine):
    eng = open_engine(SF_ORACLE)
    qvec = [float(x) for x in eng.table("embeddings").head()["embedding"]]
    via_sql = [(r.vec_id, r.score_i64) for r in eng.knn_sql(qvec, k=5).collect()]
    via_df = [(r.vec_id, r.score_i64) for r in eng.knn(qvec, k=5).collect()]
    assert via_sql == via_df


def test_engine_knn_sql_rejects_non_finite(open_engine):
    import pytest as _pytest

    eng = open_engine(SF_ORACLE)
    for bad in [float("nan"), float("inf"), float("-inf")]:
        with _pytest.raises(ValueError, match="finite"):
            eng.knn_sql([1.0, bad, 0.5])


def test_ivf_deterministic_small_corpus_edges(spark):
    """k_clusters larger than the corpus: medoids = whole corpus, every
    vector its own cluster neighborhood — search still returns exact
    results; empty query side returns empty."""
    from backend_fastapi_spark.operators.ivf import (
        deterministic_medoids,
        ivf_deterministic_topk,
    )

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet").limit(5)
    med = deterministic_medoids(emb, k_clusters=16)
    assert len(med) == 5  # bounded by corpus size
    queries = emb.limit(1).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_embedding")
    )
    got = ivf_deterministic_topk(emb, queries, k=10, k_clusters=16, nprobe=16)
    assert 0 < got.count() <= 4  # self excluded
    empty_q = queries.filter("q_id < -1")
    assert ivf_deterministic_topk(emb, empty_q, k=5).count() == 0


def test_engine_scrub_and_pii_report(spark, open_engine):
    eng = open_engine(SF_ORACLE)
    row = eng.scrub(
        spark.createDataFrame([("reach me: a@b.co",)], ["text"])
    ).head()
    assert row.scrubbed == "reach me: <EMAIL>" and row.n_email == 1
    rep = eng.pii_report().collect()
    assert len(rep) == 20  # one row per source
    # synthetic corpus is PII-free — the report proves it
    assert all(r.n_url == 0 and r.n_email == 0 and r.n_phone == 0 for r in rep)


def test_engine_clean_pages_and_semantic_dedup(spark, open_engine):
    eng = open_engine(SF_ORACLE)
    row = eng.clean_pages(
        spark.createDataFrame(
            [("Keep this line fine.\nno mark\nAnother keeper right here.\n"
              "Third keeper closes it.",)],
            ["text"],
        )
    ).head()
    assert (row.n_lines, row.n_kept_lines, row.doc_kept) == (4, 3, 1)
    pairs = eng.semantic_dedup()
    both = eng.semantic_dedup(with_lsh_union=True)
    a, b = pairs.count(), both.count()
    assert 0 < a <= b  # the union never loses a SemDeDup pair


def test_engine_bucket_table_roundtrip(spark, open_engine):
    eng = open_engine(SF_ORACLE)
    try:
        t = eng.bucket_table(
            eng.table("customer"), "api_b_cust", ["c_custkey"], 4
        )
        assert t.count() == eng.table("customer").count()
        meta = spark.sql("DESCRIBE TABLE EXTENDED api_b_cust").collect()
        txt = "\n".join(f"{r.col_name} {r.data_type}" for r in meta)
        assert "Num Buckets 4" in txt
    finally:
        spark.sql("DROP TABLE IF EXISTS api_b_cust")


def test_ivf_sq8_composes_layers_consistently(spark):
    """IVF×SQ8 (IndexIVFScalarQuantizer role): at nprobe=k_clusters and a
    rerank window covering every candidate it must equal exact kNN (ids
    AND fixed-point scores); at nprobe=2/rerank=4 the exact re-rank
    scores must still match knn_exact's for every returned pair, and the
    shortlist must respect the probed clusters of the medoid quantizer."""
    from backend_fastapi_spark.operators.ivf import (
        ivf_deterministic_topk,
        ivf_sq8_topk,
    )

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_embedding")
    )
    exact = V.knn_exact(emb, queries, k=10).collect()
    exact_ids: dict = {}
    exact_scores = {}
    for r in exact:
        exact_ids.setdefault(r.q_id, set()).add(r.vec_id)
        exact_scores[(r.q_id, r.vec_id)] = r.score_i64

    # degenerate config -> exact
    n = emb.count()
    full = ivf_sq8_topk(
        emb, queries, k=10, k_clusters=8, nprobe=8, rerank=(n // 10) + 1
    ).collect()
    got_ids: dict = {}
    for r in full:
        got_ids.setdefault(r.q_id, set()).add(r.vec_id)
        assert r.score_i64 == exact_scores[(r.q_id, r.vec_id)]
    assert got_ids == exact_ids

    # pruned config: scores still exact; clusters come from the same
    # deterministic probe ivf_deterministic_topk uses
    pruned = ivf_sq8_topk(emb, queries, k=10, k_clusters=16, nprobe=2,
                          rerank=4).collect()
    det = ivf_deterministic_topk(emb, queries, k=10, k_clusters=16,
                                 nprobe=2).collect()
    det_clusters = {}
    for r in det:
        det_clusters.setdefault(r.q_id, set()).add(r.cluster)
    exact_all = {
        (r.q_id, r.vec_id): r.score_i64
        for r in V.knn_exact(emb, queries, k=n, exclude_self=True).collect()
    }
    for r in pruned:
        assert r.cluster in det_clusters[r.q_id]
        assert r.score_i64 == exact_all[(r.q_id, r.vec_id)]


def test_ivf_sq8_persisted_layout_prunes_columns_and_partitions(spark, tmp_path):
    """The persisted IVFx,SQ8 layout: the candidate pass's file scan must
    be BOTH partition-pruned (PartitionFilters on cluster) and
    column-pruned (ReadSchema carries scale_fx/code but NOT embedding —
    the 4-7x byte win), the re-rank scores must equal knn_exact's
    fixed-point scores, and appends through ivf_append keep the layout
    searchable when they carry the code columns."""
    from backend_fastapi_spark.operators.ivf import (
        build_ivf,
        ivf_sq8_search_persisted,
        write_ivf_sq8_index,
    )

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    assigned, centroids = build_ivf(emb, k_clusters=8)
    path = str(tmp_path / "ivfsq8")
    write_ivf_sq8_index(assigned, centroids, path)
    cols = set(spark.read.parquet(f"{path}/lists").columns)
    assert {"vec_id", "embedding", "scale_fx", "code", "cluster"} <= cols

    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_embedding")
    )
    queries = spark.createDataFrame(q.collect(), q.schema)
    out = ivf_sq8_search_persisted(spark, path, queries, k=5, nprobe=3,
                                   rerank=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # candidate scan: a file scan that reads the code columns without the
    # embedding column, partition-filtered on cluster
    scans = [seg for seg in plan.split("FileScan") if "scale_fx" in seg]
    assert scans, plan
    assert any("embedding" not in seg.split("ReadSchema")[1][:300]
               for seg in scans if "ReadSchema" in seg), plan
    assert "PartitionFilters" in plan and "cluster" in plan

    rows = out.collect()
    assert len(rows) == 15
    exact = {
        (r.q_id, r.vec_id): r.score_i64
        for r in V.knn_exact(emb, queries, k=emb.count(),
                              exclude_self=False).collect()
    }
    for r in rows:
        assert r.score_i64 == exact[(r.q_id, r.vec_id)]
    # recall vs the exact top-5 within a 3/8 probe on near-uniform data:
    # sane, not perfect — assert the planted self-neighbor case instead
    top = V.knn_exact(emb, queries, k=5, exclude_self=False).collect()
    top_pairs = {(r.q_id, r.vec_id) for r in top}
    hits = sum(1 for r in rows if (r.q_id, r.vec_id) in top_pairs)
    assert hits / len(top_pairs) >= 0.4

    # growth: a plain (id, embedding) batch appended into the SQ8 layout
    # derives its code columns, and a probed search finds the appendee
    # through the column-pruned candidate pass (it is its own nearest)
    from backend_fastapi_spark.operators.ivf import ivf_append

    extra = emb.limit(1).select(
        (F.col("vec_id") + 5_000_000).alias("vec_id"), "embedding"
    )
    ivf_append(spark, path, extra, batch_token=1)
    qx = extra.select(F.col("vec_id").alias("q_id"),
                      F.col("embedding").alias("q_embedding"))
    qx = spark.createDataFrame(qx.collect(), qx.schema)
    got = ivf_sq8_search_persisted(spark, path, qx, k=3, nprobe=2,
                                   rerank=4).collect()
    assert any(r.vec_id == qx.head().q_id for r in got)


def test_ivf_sq8_layout_byte_ratio(spark, tmp_path):
    """The SQ8 claim in bytes, from the persisted footers: the candidate
    pass's columns (scale_fx + code) must cost well under half the
    embedding column's compressed bytes (measured ~0.30 on the testdata
    embeddings) — the IO the column-pruned probed scan actually saves."""
    import os

    import pyarrow.parquet as pq

    from backend_fastapi_spark.operators.ivf import (
        build_ivf,
        write_ivf_sq8_index,
    )

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    assigned, cents = build_ivf(emb, k_clusters=8)
    path = str(tmp_path / "ivfsq8")
    write_ivf_sq8_index(assigned, cents, path)
    tot: dict = {}
    for d, _, files in os.walk(f"{path}/lists"):
        for f in files:
            if not f.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(d, f)).metadata
            for rg in range(md.num_row_groups):
                for ci in range(md.row_group(rg).num_columns):
                    col = md.row_group(rg).column(ci)
                    name = col.path_in_schema.split(".")[0]
                    tot[name] = tot.get(name, 0) + col.total_compressed_size
    assert tot.get("embedding", 0) > 0 and tot.get("code", 0) > 0
    ratio = (tot["code"] + tot.get("scale_fx", 0)) / tot["embedding"]
    assert ratio < 0.4, f"SQ8 columns not small enough: {ratio:.3f}"


def test_fold_protocol_random_interleavings(spark, tmp_path):
    """Model-based check of the delta-fold protocol: a seeded random
    sequence of {append new batch, fold, at-least-once RETRY of a past
    batch, crashed-staging litter} ops against a real index, asserting
    after EVERY op that read_ivf_lists equals the model (base + one copy
    of each appended batch's rows — retries and folds never add, lose,
    or duplicate anything)."""
    import random

    from backend_fastapi_spark.operators.ivf import (
        build_ivf,
        fold_deltas,
        ivf_append,
        read_ivf_lists,
        write_ivf_index,
    )

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    base = emb.filter(F.col("vec_id") % 4 == 0)
    assigned, centroids = build_ivf(base, k_clusters=4)
    path = str(tmp_path / "ivf")
    write_ivf_index(assigned, centroids, path)
    n_base = spark.read.parquet(f"{path}/lists").count()
    pool = emb.filter(F.col("vec_id") % 4 != 0).limit(60).collect()

    def batch_df(token):
        rows = pool[3 * token: 3 * token + 3]
        return spark.createDataFrame(rows, emb.schema).withColumn(
            "vec_id", F.col("vec_id") + (token + 1) * 1_000_000
        )

    rng = random.Random(7)
    appended: list[int] = []
    next_token = 0
    for _ in range(14):
        ops = ["append", "append", "fold"]
        if appended:
            ops += ["retry", "litter"]
        op = rng.choice(ops)
        if op == "append":
            ivf_append(spark, path, batch_df(next_token),
                       batch_token=next_token)
            appended.append(next_token)
            next_token += 1
        elif op == "retry":  # at-least-once: replay a past batch verbatim
            t = rng.choice(appended)
            ivf_append(spark, path, batch_df(t), batch_token=t)
        elif op == "litter":  # crashed fold: stale staging dir on disk
            import os

            os.makedirs(f"{path}/delta/_fold_staging/cluster=0",
                        exist_ok=True)
        else:
            fold_deltas(spark, path)
        got = sorted(
            r["vec_id"] for r in read_ivf_lists(spark, path).collect()
        )
        want_extra = sorted(
            int(r["vec_id"]) + (t + 1) * 1_000_000
            for t in appended for r in pool[3 * t: 3 * t + 3]
        )
        assert len(got) == n_base + len(want_extra)
        assert [v for v in got if v >= 1_000_000] == want_extra


def test_fold_commit_marker_and_namespace_guard(spark, tmp_path):
    """ADVICE r10: (a) the fold commit point is the _COMMITTED marker,
    not directory rename — a fold dir stranded without its marker (a
    crash mid-rename, or a mid-copy listing on an object store whose
    rename is copy+delete) is INVISIBLE while its input segments stay
    live, so readers never double-count and never lose rows; a
    fold_deltas re-run GCs the stranded dir and commits a fresh fold
    under a NEVER-REUSED sequence number. (b) batch tokens colliding
    with the fold-<seq> namespace are rejected loudly."""
    import os

    import pytest

    from backend_fastapi_spark.operators.ivf import (
        _live_delta_segments,
        build_ivf,
        fold_deltas,
        ivf_append,
        read_ivf_lists,
        write_ivf_index,
    )

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    base = emb.filter(F.col("vec_id") % 2 == 0)
    assigned, centroids = build_ivf(base, k_clusters=4)
    path = str(tmp_path / "ivf")
    write_ivf_index(assigned, centroids, path)

    def batch(i):
        return emb.filter(F.col("vec_id") % 2 == 1).limit(5).withColumn(
            "vec_id", F.col("vec_id") + (i + 1) * 1_000_000
        )

    # (b) namespace guard: a caller token in the fold namespace is an
    # error, not a latent ValueError inside a later fold's seq parse
    with pytest.raises(ValueError, match="fold segment namespace"):
        ivf_append(spark, path, batch(0), batch_token="fold-9")

    for i in range(3):
        ivf_append(spark, path, batch(i), batch_token=i)
    rows = sorted(r["vec_id"] for r in read_ivf_lists(spark, path).collect())

    assert fold_deltas(spark, path) == 3
    assert os.path.exists(f"{path}/delta/batch=fold-1/_COMMITTED")
    assert _live_delta_segments(spark, path) == ["batch=fold-1"]

    # (a) strand a fold mid-commit: append two more, fold them with
    # fold-1 into fold-2, then delete fold-2's _COMMITTED — exactly the
    # state a crash between rename and marker creation leaves behind
    for i in range(3, 5):
        ivf_append(spark, path, batch(i), batch_token=i)
    rows5 = sorted(r["vec_id"] for r in read_ivf_lists(spark, path).collect())
    assert fold_deltas(spark, path) == 3  # fold-1 + batch=3 + batch=4
    os.remove(f"{path}/delta/batch=fold-2/_COMMITTED")
    # the uncommitted fold is invisible AND its _FOLDED marker is not
    # honored: inputs (fold-1, batch=3, batch=4) are still live
    assert sorted(_live_delta_segments(spark, path)) == [
        "batch=3", "batch=4", "batch=fold-1"
    ]
    assert sorted(
        r["vec_id"] for r in read_ivf_lists(spark, path).collect()
    ) == rows5

    # re-run heals: stranded fold-2 is GC'd, fresh fold commits as
    # fold-3 (seq never reused), rows unchanged
    assert fold_deltas(spark, path) == 3
    assert _live_delta_segments(spark, path) == ["batch=fold-3"]
    assert not os.path.isdir(f"{path}/delta/batch=fold-2")
    assert sorted(
        r["vec_id"] for r in read_ivf_lists(spark, path).collect()
    ) == rows5
    assert set(rows) <= set(rows5)  # earlier batches retained throughout


def test_epoch_marker_detects_interrupted_overwrite(spark, tmp_path):
    """ADVICE r10: a crash inside write_ivf_index's overwrite window —
    after the delta purge, before the lists rewrite — leaves the OLD
    lists intact with every appended delta row gone, a complete-LOOKING
    index. The _EPOCH_IN_PROGRESS marker makes readers and appenders
    fail loudly on that state, and re-running the overwrite repairs it."""
    import os

    import pytest

    from backend_fastapi_spark.operators.ivf import (
        build_ivf,
        ivf_append,
        read_ivf_lists,
        write_ivf_index,
    )

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    base = emb.filter(F.col("vec_id") % 2 == 0)
    assigned, centroids = build_ivf(base, k_clusters=4)
    path = str(tmp_path / "ivf")
    write_ivf_index(assigned, centroids, path)
    assert not os.path.exists(f"{path}/_EPOCH_IN_PROGRESS")
    extra = emb.filter(F.col("vec_id") % 2 == 1).limit(5)
    ivf_append(spark, path, extra, batch_token=0)

    # simulate the crash: marker written, deltas purged, lists untouched
    import shutil

    open(f"{path}/_EPOCH_IN_PROGRESS", "w").close()
    shutil.rmtree(f"{path}/delta")
    with pytest.raises(RuntimeError, match="interrupted"):
        read_ivf_lists(spark, path).count()
    with pytest.raises(RuntimeError, match="interrupted"):
        ivf_append(spark, path, extra, batch_token=1)

    # repair = re-run the overwrite; the marker clears and reads resume
    write_ivf_index(assigned, centroids, path)
    assert not os.path.exists(f"{path}/_EPOCH_IN_PROGRESS")
    assert read_ivf_lists(spark, path).count() == base.count()


def test_ivf_adaptive_probe_rule_and_envelope(spark):
    """The adaptive probe: (a) alpha -> infinity with nprobe_max =
    k_clusters equals exact kNN (probes everything); (b) the probe set
    obeys the ratio rule exactly — every probed cluster satisfies
    d*alpha_den <= d_min*alpha_num and sits in the nprobe_max closest;
    (c) adaptive at alpha=3/2 dominates fixed nprobe=1 (its probe set
    is a superset of the rank-1 cluster); (d) guards raise on alpha < 1
    and nprobe_max < 1."""
    import pytest as _pytest

    from backend_fastapi_spark.operators.ivf import (
        _medoid_probe_adaptive,
        deterministic_medoids,
        ivf_adaptive_topk,
        ivf_deterministic_topk,
    )

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_embedding")
    )

    # (a) probe-everything == exact kNN (ids and scores)
    exact = {
        (r.q_id, r.vec_id): r.score_i64
        for r in V.knn_exact(emb, queries, k=10).collect()
    }
    allp = ivf_adaptive_topk(
        emb, queries, k=10, k_clusters=8, nprobe_max=8,
        alpha_num=10**6, alpha_den=1,
    ).collect()
    assert {(r.q_id, r.vec_id): r.score_i64 for r in allp} == exact

    # (b) the probe set obeys the integer ratio rule verbatim
    med = deterministic_medoids(emb, 8)
    probed = _medoid_probe_adaptive(queries, med, 4, 3, 2).collect()
    from backend_fastapi_spark.operators.ivf import _l2_i64_lit
    from backend_fastapi_spark.operators.kernel import quantize

    dists = (
        queries.select("q_id", quantize(F.col("q_embedding")).alias("_pq"))
        .select(
            "q_id",
            *[
                _l2_i64_lit(F.col("_pq"), cv).alias(f"d{c}")
                for c, cv in med
            ],
        )
        .collect()
    )
    for row in dists:
        ds = sorted((row[f"d{c}"], c) for c, _ in med)
        dmin = ds[0][0]
        expect = {
            c for i, (d, c) in enumerate(ds) if i < 4 and d * 2 <= dmin * 3
        }
        got = {r.cluster for r in probed if r.q_id == row.q_id}
        assert got == expect and len(got) >= 1

    # (c) dominates fixed nprobe=1: per-query top-k scores are >= pointwise
    fixed1 = ivf_deterministic_topk(
        emb, queries, k=10, k_clusters=8, nprobe=1
    ).collect()
    adapt = ivf_adaptive_topk(
        emb, queries, k=10, k_clusters=8, nprobe_max=4
    ).collect()
    by_q_fixed: dict = {}
    for r in fixed1:
        by_q_fixed.setdefault(r.q_id, []).append(r.score_i64)
    by_q_adapt: dict = {}
    for r in adapt:
        by_q_adapt.setdefault(r.q_id, []).append(r.score_i64)
    for q_id, fs in by_q_fixed.items():
        a = sorted(by_q_adapt[q_id], reverse=True)
        f = sorted(fs, reverse=True)
        assert all(x >= y for x, y in zip(a, f))

    # (d) guards
    with _pytest.raises(ValueError, match="alpha"):
        _medoid_probe_adaptive(queries, med, 4, 1, 2)
    with _pytest.raises(ValueError, match="nprobe_max"):
        _medoid_probe_adaptive(queries, med, 0, 3, 2)


def test_ivf_search_persisted_adaptive_matches_fixed_at_cap(spark, tmp_path):
    """Production-path adaptive search: (a) with alpha wide open it
    equals fixed nprobe=nprobe_max on the same persisted index (same
    ids, same scores); (b) at alpha=3/2 its per-query probe set is a
    subset of the nprobe_max nearest and always contains the nearest
    centroid's cluster (results dominate fixed nprobe=1); (c) guards."""
    import pytest as _pytest

    from backend_fastapi_spark.operators.ivf import (
        build_ivf,
        ivf_search_persisted,
        ivf_search_persisted_adaptive,
        write_ivf_index,
    )

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    assigned, centroids = build_ivf(emb, k_clusters=8)
    path = str(tmp_path / "ivf")
    write_ivf_index(assigned, centroids, path)
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_embedding")
    )
    queries = spark.createDataFrame(q.collect(), q.schema)

    fixed = sorted(map(tuple, ivf_search_persisted(
        spark, path, queries, k=5, nprobe=4).collect()))
    wide = sorted(map(tuple, ivf_search_persisted_adaptive(
        spark, path, queries, k=5, nprobe_max=4,
        alpha_num=10**6, alpha_den=1).collect()))
    assert wide == fixed and len(fixed) > 0

    # alpha=3/2 dominates fixed nprobe=1 pointwise on sorted scores
    n1 = ivf_search_persisted(spark, path, queries, k=5, nprobe=1).collect()
    ad = ivf_search_persisted_adaptive(
        spark, path, queries, k=5, nprobe_max=4).collect()
    by_q = lambda rows: {  # noqa: E731
        q_id: sorted((r.score_i64 for r in rows if r.q_id == q_id),
                     reverse=True)
        for q_id in {r.q_id for r in rows}
    }
    f1, fa = by_q(n1), by_q(ad)
    for q_id, scores in f1.items():
        assert all(x >= y for x, y in zip(fa[q_id], scores))

    with _pytest.raises(ValueError, match="alpha"):
        ivf_search_persisted_adaptive(
            spark, path, queries, alpha_num=1, alpha_den=2)
    with _pytest.raises(ValueError, match="nprobe_max"):
        ivf_search_persisted_adaptive(spark, path, queries, nprobe_max=0)


def test_ivf_search_over_arrow_scorer_matches_join_form(spark, tmp_path):
    """The Arrow-matmul scorer (r14) is row-identical to the join +
    interpreted fixed_dot form it replaced — same candidates, same exact
    int64 scores, same (score DESC, id ASC) top-k. Its 2^53 envelope is
    one input of tests/test_kernel.py's envelope test."""
    from pyspark.sql import Window

    from backend_fastapi_spark.operators.ivf import (
        build_ivf,
        ivf_search_over,
        read_ivf_lists,
        write_ivf_index,
    )
    from backend_fastapi_spark.operators.vector import fixed_dot

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    assigned, centroids = build_ivf(emb, k_clusters=8)
    path = str(tmp_path / "ivf")
    write_ivf_index(assigned, centroids, path)
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_embedding")
    )
    queries = spark.createDataFrame(q.collect(), q.schema)
    probed = [0, 1, 2, 3]
    probe = spark.createDataFrame(
        [(int(r["q_id"]), c) for r in queries.select("q_id").collect()
         for c in probed],
        "q_id long, cluster int",
    )
    lists = read_ivf_lists(spark, path).filter(F.col("cluster").isin(probed))

    got = sorted(
        map(tuple, ivf_search_over(lists, probe, queries, k=5).collect())
    )

    # reference: the pre-r14 broadcast-join + interpreted-dot plan
    pruned = lists.join(F.broadcast(probe.join(queries, "q_id")), "cluster")
    scored = pruned.withColumn(
        "score_i64", fixed_dot(F.col("embedding"), F.col("q_embedding"))
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("score_i64").desc(), F.col("vec_id").asc()
    )
    ref = sorted(
        map(
            tuple,
            scored.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= 5)
            .select("q_id", "vec_id", "cluster", "score_i64")
            .collect(),
        )
    )
    assert got == ref and len(got) > 0


def test_grouped_pairs_matches_join_form_and_tolerates_dups(spark):
    """grouped_pairs (r13 group-local pair generation, r14 codegen
    two-explode emit + collect_set): pair multiset identical to the
    self-join reference on distinct (id, key) rows, and duplicated rows
    degrade to the join form's DISTINCT semantics — no (x, x) self-pairs,
    no inflated multiplicity (ADVICE r13)."""
    from backend_fastapi_spark.operators.dedup import grouped_pairs

    rows = [
        (1, "k1"), (2, "k1"), (3, "k1"),
        (1, "k2"), (4, "k2"),
        (5, "k3"),                     # singleton: no pairs
        (2, "k4"), (2, "k4"), (6, "k4"),  # duplicated (2, k4)
    ]
    df = spark.createDataFrame(rows, "doc_id long, key string")
    got = sorted(
        map(tuple, grouped_pairs(df, "key", "doc_id").collect())
    )
    dedup = df.distinct()
    a = dedup.select(F.col("doc_id").alias("id_a"), "key")
    b = dedup.select(F.col("doc_id").alias("id_b"), "key")
    ref = sorted(
        map(
            tuple,
            a.join(b, "key")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .collect(),
        )
    )
    assert got == ref
    assert (2, 6) in got and all(x != y for x, y in got)


@pytest.mark.parametrize("min_bytes", [0, 1 << 62], ids=["grouped", "join"])
@pytest.mark.parametrize(
    "name", ["ngram_jaccard_dupes", "winnow_near_dup", "dup_clusters"]
)
def test_collision_pairs_forms_match_oracle(spark, monkeypatch, name, min_bytes):
    """Both physical forms of ``dedup.collision_pairs`` give the oracle's
    rows: a crossover of 0 sends every capped family to the grouped form,
    one of 2^62 to the self-join. At sf0.01 the registry alone only ever
    reaches the self-join."""
    from backend_fastapi_spark import queries as Q
    from backend_fastapi_spark.operators import dedup as D

    monkeypatch.setattr(D, "GROUPED_PAIRS_MIN_INPUT_BYTES", min_bytes)
    spec = Q.REGISTRY[name]
    con = duck_con(SF_ORACLE)
    try:
        oracle = con.execute(spec.oracle).fetchdf()
    finally:
        con.close()
    sdf = spec.fn(spark, SF_ORACLE)
    if name != "dup_clusters":  # its rows come from the driver union-find
        plan = sdf._jdf.queryExecution().executedPlan().toString()
        assert ("posexplode" in plan) == (min_bytes == 0), plan
    problems = compare(sdf, oracle, name)
    assert not problems, "\n".join(problems)


def test_probed_clusters_distinguishes_empty_from_over_bound(spark):
    from backend_fastapi_spark.operators.ivf import _probed_clusters

    probe = spark.range(5).selectExpr("id AS q_id", "id % 2 AS cluster")
    # None: the probe was over the collect bound, so the ids come off the plan
    assert _probed_clusters(probe, None) == [0, 1]
    # []: zero queries probe nothing (no fallback to the plan's ids)
    assert _probed_clusters(probe, []) == []
    assert _probed_clusters(probe, [(0, 1), (1, 1), (1, 0)]) == [0, 1]


def test_ivf_search_query_bound_reaches_join_fallback(spark, tmp_path, monkeypatch):
    """Past the kernel's query-side bound the scorer falls back to the
    broadcast-join plan, with the same rows. knn_exact raises past the
    same bound, so a persisted search's distributed probe cannot take
    that route: the scorer runs over the driver probe's frame."""
    from backend_fastapi_spark.operators import ivf as I
    from backend_fastapi_spark.operators import kernel as K

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    assigned, centroids = build_ivf(emb, k_clusters=8)
    path = str(tmp_path / "ivf")
    I.write_ivf_index(assigned, centroids, path)
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_embedding")
    )
    rows, _ = I._centroid_probe(centroids, queries, 3)
    probe, probed = I._probe_frames(spark, centroids, queries, rows)
    lists = I.read_ivf_lists(spark, path).filter(F.col("cluster").isin(probed))

    def search():
        df = I.ivf_search_over(lists, probe, queries, k=5)
        plan = df._jdf.queryExecution().executedPlan().toString()
        return _rows(df), plan

    fast, fast_plan = search()
    assert fast == _rows(I.ivf_search_persisted(spark, path, queries, k=5, nprobe=3))
    monkeypatch.setattr(K, "MAX_QUERY_ROWS", 2)
    slow, slow_plan = search()
    assert "MapInPandas" in fast_plan and "zip_with" not in fast_plan
    assert "zip_with" in slow_plan  # fixed_dot: the join fallback scorer
    assert len(fast) == 15 and slow == fast


def test_ivf_distributed_probe_matches_driver_probe(spark, tmp_path, monkeypatch):
    """Past the driver-probe pair bound both persisted searches probe with
    the distributed kNN: the same rows as the driver probe, and the probe
    pairs are collected with the probe's window stage left parallel — no
    single-task ``Coalesce 1`` over it."""
    from backend_fastapi_spark.operators import ivf as I

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    assigned, centroids = build_ivf(emb, k_clusters=8)
    path = str(tmp_path / "ivf")
    I.write_ivf_index(assigned, centroids, path)
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_embedding")
    )

    def persisted():
        return I.ivf_search_persisted(spark, path, queries, k=5, nprobe=3)

    def adaptive():
        return I.ivf_search_persisted_adaptive(
            spark, path, queries, k=5, nprobe_max=3
        )

    def searches():
        return _rows(persisted()), _rows(adaptive())

    fast = searches()
    plans = []
    frame_cls = type(queries)
    collect = frame_cls.collect

    def recording_collect(self):
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return collect(self)

    # 8 centroids x 3 queries = 24 pairs > 10: the distributed probe; its
    # 9 (q_id, cluster) pairs still fit the driver
    monkeypatch.setattr(I, "_PROBE_DRIVER_MAX_PAIRS", 10)
    monkeypatch.setattr(frame_cls, "collect", recording_collect)
    slow = searches()
    assert len(fast[0]) == 15 and slow == fast
    windowed = [p for p in plans if "Window" in p and "cluster" in p]
    assert windowed and not any("Coalesce 1" in p for p in windowed)

    # every query probes at least one cluster, so 2 pairs is over the
    # collect bound for both: the probe plan runs twice while the search
    # is built (the bounded collect, then the distinct probed ids), and
    # the join form scores the same rows
    monkeypatch.setattr(I, "_PROBE_DRIVER_MAX_PAIRS", 2)
    for search, want in zip((persisted, adaptive), fast):
        plans.clear()
        df = search()
        probe_collects = [p for p in plans if "Window" in p and "cluster" in p]
        assert len(probe_collects) == 2, probe_collects
        assert _rows(df) == want
