"""Lexical/hybrid retrieval operators: BM25, RRF fusion, MMR rerank.

Registry-level hash parity vs DuckDB runs in test_oracle_parity (the
three queries are registered); these tests pin the OPERATOR semantics on
hand-built corpora where the expected ordering is derivable by eye.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from backend_fastapi_spark.operators import retrieval as RT


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_bm25_tf_monotone_and_length_penalty(spark):
    docs = _docs(
        spark,
        [
            (0, "cat dog"),  # tf(cat)=1, len 2
            (1, "cat cat"),  # tf(cat)=2, len 2 — more hits, same length
            (2, "cat dog dog dog dog dog dog dog"),  # tf 1, len 8
            (3, "fish fish"),
        ],
    )
    out = {
        r["doc_id"]: r["bm25"]
        for r in RT.bm25_topk(docs, ["cat"], k=10).collect()
    }
    assert set(out) == {0, 1, 2}
    assert out[1] > out[0], "higher tf must score higher at equal length"
    assert out[0] > out[2], "same tf in a longer doc must score lower"


def test_bm25_rare_term_outscores_common(spark):
    docs = _docs(
        spark,
        [
            (0, "rare common"),
            (1, "common junk"),
            (2, "common junk"),
            (3, "common junk"),
        ],
    )
    out = RT.bm25_topk(docs, ["rare", "common"], k=1).collect()
    best = {r["term"]: r["bm25"] for r in out}
    assert best["rare"] > best["common"], "df=1 idf must beat df=4 idf"


def test_bm25_pairs_excludes_self_and_joins_on_terms(spark):
    docs = _docs(
        spark,
        [
            (0, "alpha beta"),
            (1, "alpha gamma"),
            (2, "delta epsilon"),
        ],
    )
    rows = RT.bm25_pairs(docs, [0]).collect()
    got = {(r["q_id"], r["doc_id"]) for r in rows}
    assert (0, 0) not in got, "self-pair must be excluded"
    assert (0, 1) in got, "shared term alpha must surface doc 1"
    assert (0, 2) not in got, "no shared term → no candidate (never all-pairs)"


def test_rrf_consensus_beats_single_list(spark):
    kw = spark.createDataFrame(
        [(0, 10, 1), (0, 11, 2)], "q_id long, doc_id long, r int"
    )
    vec = spark.createDataFrame(
        [(0, 11, 1), (0, 12, 2)], "q_id long, doc_id long, r int"
    )
    fused = {
        r["doc_id"]: r["rrf"] for r in RT.rrf_fuse([kw, vec]).collect()
    }
    # doc 11 appears in both lists (ranks 2+1) — must beat both
    # single-list docs, including kw's rank-1
    assert fused[11] > fused[10] > fused[12]
    assert fused[11] == pytest.approx(1 / 62 + 1 / 61, abs=1e-6)


def test_persisted_bm25_prunes_buckets_and_matches(spark, tmp_path):
    from backend_fastapi_spark.sources.parquet import read_table
    from tests.conftest import SF_SMOKE

    docs = read_table(spark, SF_SMOKE, "documents")
    path = str(tmp_path / "pidx")
    RT.write_postings_index(docs, path)
    terms = ["vector", "hash"]
    got = RT.bm25_search_persisted(spark, path, terms, k=10)

    # partition pruning is IN THE PLAN: the postings/df scans carry a
    # bucket partition filter, so non-queried bucket dirs are never read
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "bucket" in plan

    # and the pruned search returns exactly the from-scratch ranking
    fresh = RT.bm25_topk(docs, terms, k=10)
    a = sorted(map(tuple, got.collect()))
    b = sorted(map(tuple, fresh.collect()))
    assert a == b and len(a) > 0

    # every bucket dir is one task's output (the one-file-per-cluster
    # discipline): no tasks×buckets small-file explosion
    import glob

    for d in glob.glob(f"{path}/postings/bucket=*"):
        assert len(glob.glob(f"{d}/*.parquet")) == 1, d


def test_postings_append_grows_index_idempotently(spark, tmp_path):
    import glob
    import os

    from backend_fastapi_spark.sources.parquet import read_table
    from tests.conftest import SF_SMOKE

    docs = read_table(spark, SF_SMOKE, "documents")
    path = str(tmp_path / "pidx")
    RT.write_postings_index(docs.filter("doc_id % 2 = 0"), path)
    base_files = sorted(glob.glob(f"{path}/postings/bucket=*/*.parquet"))
    base_sig = [(f, os.path.getmtime(f)) for f in base_files]
    terms = ["vector", "hash"]
    odd = docs.filter("doc_id % 2 = 1")

    # the at-least-once retry: same token twice must replace, not double
    RT.postings_append(spark, path, odd, batch_token=7)
    once = sorted(map(tuple, RT.bm25_search_persisted(spark, path, terms).collect()))
    RT.postings_append(spark, path, odd, batch_token=7)
    twice = sorted(map(tuple, RT.bm25_search_persisted(spark, path, terms).collect()))
    assert once == twice

    # grown index ranks exactly like from-scratch BM25 over the union
    fresh = sorted(map(tuple, RT.bm25_topk(docs, terms, k=10).collect()))
    assert twice == fresh and len(fresh) > 0

    # O(batch) grow: the base postings files were never rewritten
    assert [(f, os.path.getmtime(f)) for f in base_files] == base_sig

    # an uncommitted segment (marker removed) is invisible to search
    os.remove(f"{path}/delta/batch=7/_COMMITTED")
    headless = sorted(
        map(tuple, RT.bm25_search_persisted(spark, path, terms).collect())
    )
    base_only = sorted(
        map(
            tuple,
            RT.bm25_topk(docs.filter("doc_id % 2 = 0"), terms, k=10).collect(),
        )
    )
    assert headless == base_only

    # a rewritten base clears stale deltas (epoch discipline)
    RT.write_postings_index(docs, path, mode="overwrite")
    assert not os.path.exists(f"{path}/delta")
    full = sorted(map(tuple, RT.bm25_search_persisted(spark, path, terms).collect()))
    assert full == fresh


def test_term_bucket_python_twin_matches_spark(spark):
    terms = ["vector", "stream", "window", "hash", "잠실", "x"]
    df = spark.createDataFrame([(t,) for t in terms], "term string")
    got = {
        r["term"]: r["b"]
        for r in df.select("term", RT.term_bucket(F.col("term")).alias("b")).collect()
    }
    assert got == {t: RT.py_term_bucket(t) for t in terms}


def test_compact_postings_absorbs_deltas_and_recovers_from_crash(
    spark, tmp_path
):
    import os

    from backend_fastapi_spark.sources.parquet import read_table
    from tests.conftest import SF_SMOKE

    docs = read_table(spark, SF_SMOKE, "documents")
    path = str(tmp_path / "pidx")
    RT.write_postings_index(docs.filter("doc_id % 4 = 0"), path)
    for m in (1, 2, 3):
        RT.postings_append(
            spark, path, docs.filter(f"doc_id % 4 = {m}"), batch_token=m
        )
    terms = ["vector", "hash"]
    before = sorted(
        map(tuple, RT.bm25_search_persisted(spark, path, terms).collect())
    )

    import glob as _glob

    assert RT.compact_postings(spark, path) == 3
    assert _glob.glob(f"{path}/delta/batch=*") == []
    assert not os.path.exists(f"{path}/compact_staging")
    after = sorted(
        map(tuple, RT.bm25_search_persisted(spark, path, terms).collect())
    )
    fresh = sorted(map(tuple, RT.bm25_topk(docs, terms, k=10).collect()))
    assert before == after == fresh

    # crash window: snapshot staged (manifest names batch=1 only), the
    # COMPACT marker raised, nothing after that ran — AND a new segment
    # (batch=2) was appended after the snapshot was taken. The marker
    # must make reads fail loudly; recovery must absorb exactly the
    # manifest's segment and LEAVE batch=2's rows live (a blanket delta
    # purge would destroy them — they are not in the staged base).
    import pytest

    RT.write_postings_index(docs.filter("doc_id % 4 = 0"), path,
                            mode="overwrite")
    RT.postings_append(
        spark, path, docs.filter("doc_id % 4 = 1"), batch_token=1
    )
    staging = f"{path}/compact_staging"
    post = spark.read.parquet(f"{path}/postings").unionByName(
        spark.read.parquet(f"{path}/delta/batch=1/postings")
    )
    stats = spark.read.parquet(f"{path}/stats").unionByName(
        spark.read.parquet(f"{path}/delta/batch=1/stats")
    )
    post.repartition("bucket").write.partitionBy("bucket").parquet(
        f"{staging}/postings"
    )
    (
        stats.groupBy()
        .agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("dlen_sum").cast("long").alias("dlen_sum"),
        )
        .select(F.lit("base").alias("segment"), "n_docs", "dlen_sum")
        .coalesce(1)
        .write.parquet(f"{staging}/stats")
    )
    with open(f"{staging}/_STAGED", "w") as fh:
        fh.write("batch=1")
    # the post-snapshot append (before the crash raised the marker)
    RT.postings_append(
        spark, path, docs.filter("doc_id % 4 IN (2, 3)"), batch_token=2
    )
    open(f"{path}/_COMPACT_IN_PROGRESS", "w").close()  # the crash state

    with pytest.raises(RuntimeError, match="interrupted compaction"):
        RT.bm25_search_persisted(spark, path, terms).collect()
    with pytest.raises(RuntimeError, match="interrupted compaction"):
        RT.postings_append(spark, path, docs.limit(1), batch_token=3)

    assert RT.compact_postings(spark, path) == 1  # exactly the manifest
    assert os.path.exists(f"{path}/delta/batch=2"), (
        "post-snapshot segment must survive recovery"
    )
    assert not os.path.exists(f"{path}/delta/batch=1")
    recovered = sorted(
        map(tuple, RT.bm25_search_persisted(spark, path, terms).collect())
    )
    assert recovered == fresh  # base(evens)+batch1 compacted, batch2 live

    # crash window 5a→5b: staging already dropped, only the marker left —
    # the next call finishes the bookkeeping instead of bricking reads
    open(f"{path}/_COMPACT_IN_PROGRESS", "w").close()
    assert RT.compact_postings(spark, path) == 0
    assert sorted(
        map(tuple, RT.bm25_search_persisted(spark, path, terms).collect())
    ) == fresh

    # an interrupted base OVERWRITE is a rebuild, not a compaction resume
    open(f"{path}/_EPOCH_IN_PROGRESS", "w").close()
    with pytest.raises(RuntimeError, match="interrupted base overwrite"):
        RT.bm25_search_persisted(spark, path, terms).collect()
    with pytest.raises(RuntimeError, match="interrupted base overwrite"):
        RT.compact_postings(spark, path)
    os.remove(f"{path}/_EPOCH_IN_PROGRESS")


def test_postings_append_empty_batch_is_invisible(spark, tmp_path):
    import os

    from backend_fastapi_spark.sources.parquet import read_table
    from tests.conftest import SF_SMOKE

    docs = read_table(spark, SF_SMOKE, "documents")
    path = str(tmp_path / "pidx")
    RT.write_postings_index(docs, path)
    terms = ["vector", "hash"]
    before = sorted(
        map(tuple, RT.bm25_search_persisted(spark, path, terms).collect())
    )
    # a batch whose postings are empty must not commit a data-less
    # segment (it would brick every later read on schema inference)
    RT.postings_append(
        spark, path, docs.filter("doc_id < 0"), batch_token=5
    )
    assert not os.path.exists(f"{path}/delta/batch=5")
    after = sorted(
        map(tuple, RT.bm25_search_persisted(spark, path, terms).collect())
    )
    assert after == before


def test_stream_postings_append_grows_lexical_index(spark, tmp_path):
    from backend_fastapi_spark.sources.parquet import read_table
    from backend_fastapi_spark.streaming.ingest_stream import (
        stream_postings_append,
    )
    from tests.conftest import SF_SMOKE

    docs = read_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    path = str(tmp_path / "pidx")
    RT.write_postings_index(docs.filter("doc_id % 2 = 0"), path)

    src = str(tmp_path / "incoming")
    incoming = docs.filter("doc_id % 2 = 1")
    incoming.write.parquet(src)
    stream = (
        spark.readStream.schema(incoming.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = stream_postings_append(stream, path, str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    terms = ["vector", "hash"]
    grown = sorted(
        map(tuple, RT.bm25_search_persisted(spark, path, terms).collect())
    )
    fresh = sorted(map(tuple, RT.bm25_topk(docs, terms, k=10).collect()))
    assert grown == fresh and len(fresh) > 0


def test_mmr_prefers_diverse_over_redundant(spark):
    # corpus: two near-identical high-relevance vectors (0, 1), one
    # orthogonal-ish lower-relevance vector (2). Query points at the
    # duplicate direction. Pure top-2 = {0, 1}; MMR(λ=.5) must swap the
    # redundant twin for the diverse vector.
    corpus = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [0.999, 0.01]),
            (2, [0.2, 0.9]),
        ],
        "vec_id long, embedding array<float>",
    )
    # query near but not ON the duplicate direction (a query EQUAL to a
    # corpus vector makes rel(x) == sim(x, picked) for every x — all MMR
    # scores tie at zero and the test would only exercise tie-breaks)
    queries = spark.createDataFrame(
        [(100, [0.9, 0.1])], "q_id long, q_embedding array<float>"
    )
    got = (
        RT.mmr_topk(corpus, queries, shortlist=3, select=2)
        .orderBy("mmr_rank")
        .collect()
    )
    assert [r["vec_id"] for r in got] == [1, 2], (
        "rank 0 = most relevant (v1 tilts toward the query); rank 1 must "
        f"be the diverse vector, got {[r['vec_id'] for r in got]}"
    )
    assert [r["mmr_rank"] for r in got] == [0, 1]


def test_engine_retrieval_facade(open_engine):
    from tests.conftest import SF_SMOKE

    eng = open_engine(SF_SMOKE)

    kw = eng.keyword_search("vector, hash", k=3).collect()
    assert len(kw) == 6 and {r["term"] for r in kw} == {"vector", "hash"}

    qvec = (
        eng.table("embeddings").filter("vec_id = 0").head()["embedding"]
    )
    hy = eng.hybrid_search(["vector"], [float(x) for x in qvec], k=5)
    rows = hy.collect()
    assert len(rows) == 5
    # best-first total order; every fused score inside the RRF envelope
    # (two rank-1 contributions is the maximum possible)
    scores = [r["rrf"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    assert all(0 < s <= 2 / 61 + 1e-9 for s in scores)
    # the winner must beat doc 0's floor contribution (vector rank 1):
    # consensus fusion can only return a top-1 at or above a pure
    # single-leg rank-1 score
    assert scores[0] >= round(1 / 61, 6) - 1e-9

    mm = eng.mmr([float(x) for x in qvec], k=4).collect()
    assert [r["mmr_rank"] for r in sorted(mm, key=lambda r: r["mmr_rank"])] == [
        0, 1, 2, 3,
    ]


def test_mmr_rank0_is_pure_relevance_and_select_caps(spark):
    corpus = spark.createDataFrame(
        [(i, [float(i + 1) / 10.0, 0.1]) for i in range(6)],
        "vec_id long, embedding array<float>",
    )
    queries = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.5, 0.5])],
        "q_id long, q_embedding array<float>",
    )
    got = RT.mmr_topk(corpus, queries, shortlist=4, select=3).collect()
    per_q = {}
    for r in got:
        per_q.setdefault(r["q_id"], []).append(r)
    assert set(per_q) == {0, 1}
    for q, rows in per_q.items():
        rows.sort(key=lambda r: r["mmr_rank"])
        assert len(rows) == 3
        # rank 0 carries the max rel_i64 of the selected set
        assert rows[0]["rel_i64"] == max(r["rel_i64"] for r in rows)


def test_write_postings_index_rejects_incoherent_mode(spark, tmp_path):
    # ADVICE r11: mode="append" would stack a second base stats row and
    # duplicate postings with no epoch protection — only error/overwrite
    # are coherent; growth goes through postings_append.
    docs = _docs(spark, [(0, "alpha beta")])
    with pytest.raises(ValueError, match="postings_append"):
        RT.write_postings_index(docs, str(tmp_path / "pidx"), mode="append")


def test_persisted_search_on_degenerate_stats_returns_empty(spark, tmp_path):
    # ADVICE r11: an index whose stats sum to n_docs=0 must yield the
    # empty result frame in the search's schema, not a ZeroDivisionError
    # computing avglen.
    docs = _docs(spark, [(0, "alpha beta"), (1, "alpha gamma")])
    path = str(tmp_path / "pidx")
    RT.write_postings_index(docs, path)
    spark.createDataFrame(
        [("base", 0, 0)], "segment string, n_docs long, dlen_sum long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/stats")
    out = RT.bm25_search_persisted(spark, path, ["alpha"], k=5)
    assert out.columns == ["term", "doc_id", "bm25"]
    assert out.count() == 0


def test_postings_append_overlap_guard(spark, tmp_path):
    # ADVICE r11: the new-ids precondition, enforced on demand. A doc_id
    # already in the base (or another delta) raises; a retry of the SAME
    # token is not an overlap (it replaces exactly itself).
    docs = _docs(
        spark,
        [(0, "alpha beta"), (1, "alpha gamma"), (2, "delta beta")],
    )
    path = str(tmp_path / "pidx")
    RT.write_postings_index(docs.filter("doc_id = 0"), path)
    batch = docs.filter("doc_id = 1")
    RT.postings_append(spark, path, batch, batch_token=0, check_overlap=True)
    # same-token retry of overlapping-with-itself rows: allowed
    RT.postings_append(spark, path, batch, batch_token=0, check_overlap=True)
    # a NEW token carrying an id the base already holds: rejected
    with pytest.raises(ValueError, match="already exists"):
        RT.postings_append(
            spark, path, docs.filter("doc_id = 0"), batch_token=1,
            check_overlap=True,
        )
    # and one carrying an id another DELTA already holds: rejected
    with pytest.raises(ValueError, match="already exists"):
        RT.postings_append(
            spark, path, batch, batch_token=2, check_overlap=True
        )
    # the guard rejected BEFORE writing: only batch=0 is live
    live = RT._live_posting_segments(spark, path)
    assert [s.rsplit("/", 1)[-1] for s in live] == ["batch=0"]


def test_stream_postings_append_auto_compacts_at_cap(spark, tmp_path):
    """The streaming maintenance loop for the lexical index (VERDICT r11
    #6, mirroring test_stream_ivf_append_auto_fold_bounds_segments):
    with auto_compact on (default), a long stream of 1-file triggers
    keeps the live segment count bounded by the cap while the grown
    index still ranks exactly like from-scratch BM25 over the union."""
    import os

    from backend_fastapi_spark.sources.parquet import read_table
    from backend_fastapi_spark.streaming.ingest_stream import (
        stream_postings_append,
    )
    from tests.conftest import SF_SMOKE

    docs = read_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    path = str(tmp_path / "pidx")
    RT.write_postings_index(docs.filter("doc_id % 2 = 0"), path)

    src = str(tmp_path / "incoming")
    os.makedirs(src)
    odd = docs.filter("doc_id % 2 = 1").orderBy("doc_id").limit(40).collect()
    n_triggers = RT.POSTINGS_SEGMENT_CAP + 4  # past the cap
    for i in range(n_triggers):
        two = spark.createDataFrame(
            odd[2 * i: 2 * i + 2], docs.schema
        )
        two.coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = stream_postings_append(stream, path, str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    assert (
        len(RT._live_posting_segments(spark, path))
        <= RT.POSTINGS_SEGMENT_CAP
    )
    streamed_ids = {r["doc_id"] for r in odd[: 2 * n_triggers]}
    union = docs.filter(
        (F.col("doc_id") % 2 == 0) | F.col("doc_id").isin(streamed_ids)
    )
    terms = ["vector", "hash"]
    grown = sorted(
        map(tuple, RT.bm25_search_persisted(spark, path, terms).collect())
    )
    fresh = sorted(map(tuple, RT.bm25_topk(union, terms, k=10).collect()))
    assert grown == fresh and len(fresh) > 0


def test_stream_recovers_interrupted_compaction_before_append(
    spark, tmp_path
):
    """A process crash mid-compaction leaves _COMPACT_IN_PROGRESS up,
    and postings_append fails loudly on it — so the restarted stream
    must finish the compaction BEFORE its first append or every retried
    trigger dies in the append and the stream wedges forever. This
    plants exactly that crash state (staged manifest naming batch=1,
    marker raised, a post-snapshot batch=2 still live), then starts the
    stream: trigger 0 must recover (absorb the manifest, keep batch=2),
    append its own segments, and leave the grown index ranking exactly
    like from-scratch BM25 over the union."""
    import os

    from backend_fastapi_spark.sources.parquet import read_table
    from backend_fastapi_spark.streaming.ingest_stream import (
        stream_postings_append,
    )
    from tests.conftest import SF_SMOKE

    docs = read_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    path = str(tmp_path / "pidx")
    RT.write_postings_index(docs.filter("doc_id % 4 = 0"), path)
    RT.postings_append(
        spark, path, docs.filter("doc_id % 4 = 1"), batch_token=1
    )
    # stage the crashed compaction exactly as compact_postings step 1
    # would have (manifest = batch=1 only), then the post-snapshot
    # append, then the marker — the step-3 crash state
    staging = f"{path}/compact_staging"
    post = spark.read.parquet(f"{path}/postings").unionByName(
        spark.read.parquet(f"{path}/delta/batch=1/postings")
    )
    stats = spark.read.parquet(f"{path}/stats").unionByName(
        spark.read.parquet(f"{path}/delta/batch=1/stats")
    )
    post.repartition("bucket").write.partitionBy("bucket").parquet(
        f"{staging}/postings"
    )
    (
        stats.groupBy()
        .agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("dlen_sum").cast("long").alias("dlen_sum"),
        )
        .select(F.lit("base").alias("segment"), "n_docs", "dlen_sum")
        .coalesce(1)
        .write.parquet(f"{staging}/stats")
    )
    with open(f"{staging}/_STAGED", "w") as fh:
        fh.write("batch=1")
    RT.postings_append(
        spark, path, docs.filter("doc_id % 4 = 2"), batch_token=2
    )
    open(f"{path}/_COMPACT_IN_PROGRESS", "w").close()

    # the restarted stream: one 2-row trigger of new docs
    src = str(tmp_path / "incoming")
    os.makedirs(src)
    new = docs.filter("doc_id % 4 = 3").orderBy("doc_id").limit(2)
    new.coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = stream_postings_append(stream, path, str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    assert not os.path.exists(f"{path}/_COMPACT_IN_PROGRESS")
    assert not os.path.exists(f"{path}/delta/batch=1")  # absorbed
    assert os.path.exists(f"{path}/delta/batch=2")  # post-snapshot: live
    new_ids = {r["doc_id"] for r in new.collect()}
    union = docs.filter(
        (F.col("doc_id") % 4 != 3) | F.col("doc_id").isin(new_ids)
    )
    terms = ["vector", "hash"]
    grown = sorted(
        map(tuple, RT.bm25_search_persisted(spark, path, terms).collect())
    )
    fresh = sorted(map(tuple, RT.bm25_topk(union, terms, k=10).collect()))
    assert grown == fresh and len(fresh) > 0


def test_compact_exclusion_keeps_crash_retry_exactly_once(spark, tmp_path):
    """ADVICE r12 (high): the streaming trigger compacts with its own
    not-yet-checkpointed segment EXCLUDED, so the crash window (die
    after compaction, before the checkpoint commits batch N, retry
    re-runs postings_append(batch_token=N)) can never duplicate rows.
    This test drives that exact sequence at the retrieval layer:
    absorb-then-retry with exclusion must stay value-identical to
    from-scratch BM25, and — the counterfactual — absorbing the
    in-flight segment then retrying it MUST corrupt (inflated n_docs),
    proving the exclusion is load-bearing, not decorative."""
    from backend_fastapi_spark.sources.parquet import read_table
    from tests.conftest import SF_SMOKE

    docs = read_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    path = str(tmp_path / "pidx")
    RT.write_postings_index(docs.filter("doc_id % 4 = 0"), path)
    for tok, m in ((1, 1), (2, 2), (3, 3)):
        RT.postings_append(
            spark, path, docs.filter(f"doc_id % 4 = {m}"), batch_token=tok
        )
    terms = ["vector", "hash"]
    fresh = sorted(map(tuple, RT.bm25_topk(docs, terms, k=10).collect()))

    # trigger 3's inline compaction: exclude its own in-flight segment
    assert RT.compact_postings(spark, path, exclude_segments=("batch=3",)) == 2
    live = [
        s.rsplit("/", 1)[-1] for s in RT._live_posting_segments(spark, path)
    ]
    assert live == ["batch=3"], "excluded segment must stay live"
    # the crash-retry: Structured Streaming replays ONLY batch 3
    RT.postings_append(
        spark, path, docs.filter("doc_id % 4 = 3"), batch_token=3
    )
    assert sorted(
        map(tuple, RT.bm25_search_persisted(spark, path, terms).collect())
    ) == fresh

    def total_docs() -> int:
        stats = spark.read.parquet(f"{path}/stats")
        for s in RT._live_posting_segments(spark, path):
            stats = stats.unionByName(spark.read.parquet(f"{s}/stats"))
        return stats.groupBy().sum("n_docs").collect()[0][0]

    n_total = docs.count()
    assert total_docs() == n_total

    # counterfactual: absorb EVERYTHING (old behavior), then replay the
    # last token — duplicated rows, inflated n_docs. The exclusion above
    # is exactly what prevents this.
    assert RT.compact_postings(spark, path) == 1
    RT.postings_append(
        spark, path, docs.filter("doc_id % 4 = 3"), batch_token=3
    )
    assert total_docs() > n_total


# ---------------------------------------------------------------------------
# Champion lists (impact-ordered static index pruning)
# ---------------------------------------------------------------------------


def test_champion_topk_exact_up_to_r(spark, tmp_path):
    """The exactness theorem: per-term BM25 is fully decided at build
    time, so the champion prefix IS the ranking prefix — top-k from the
    pruned index equals the from-scratch full ranking for every k <= r."""
    from backend_fastapi_spark.sources.parquet import read_table
    from tests.conftest import SF_SMOKE

    docs = read_table(spark, SF_SMOKE, "documents")
    path = str(tmp_path / "cidx")
    RT.write_champion_index(docs, path, r=32)
    terms = ["vector", "stream", "window", "hash"]
    for k in (1, 10, 32):
        got = sorted(map(tuple, RT.bm25_search_champion(
            spark, path, terms, k=k).collect()))
        fresh = sorted(map(tuple, RT.bm25_topk(docs, terms, k=k).collect()))
        assert got == fresh and len(got) > 0, f"k={k}"


def test_champion_search_prunes_and_caps(spark, tmp_path):
    import glob

    from backend_fastapi_spark.sources.parquet import read_table
    from tests.conftest import SF_SMOKE

    docs = read_table(spark, SF_SMOKE, "documents")
    path = str(tmp_path / "cidx")
    RT.write_champion_index(docs, path, r=8)

    # the pruning is REAL: every term's stored list is capped at r,
    # even though the query terms' true df is in the hundreds here
    per_term = (
        spark.read.parquet(f"{path}/postings")
        .groupBy("term").count().agg(F.max("count")).head()[0]
    )
    assert per_term <= 8

    # bucket partition pruning reaches the plan, and each bucket dir is
    # one task's output (no tasks x buckets small-file explosion)
    got = RT.bm25_search_champion(spark, path, ["vector", "hash"], k=5)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "bucket" in plan
    for d in glob.glob(f"{path}/postings/bucket=*"):
        assert len(glob.glob(f"{d}/*.parquet")) == 1, d

    # k > r must raise (silent truncation would be a lossy ranking
    # served as exact), for both search shapes
    with pytest.raises(ValueError, match="exceeds"):
        RT.bm25_search_champion(spark, path, ["vector"], k=9)
    with pytest.raises(ValueError, match="exceeds"):
        RT.bm25_champion_score(spark, path, ["vector"], k=9)


def test_champion_sum_recall(spark, tmp_path):
    """Multi-term sums over champion lists are approximate by contract.
    Two provable properties are pinned (a recall FLOOR on the smoke
    corpus would be data-dependent: its synthetic tf distribution is
    near-uniform — champion lists' documented worst case, measured
    recall@10 ~0.1-0.4 at r=16-64 — while real corpora are Zipfian):

    1. subset-sum bound on the smoke corpus: each doc's champion kw
       sums a SUBSET of its exact per-term impacts (impacts are
       non-negative: Lucene idf >= 0), so kw_champion <= kw_exact up to
       |terms| half-ulps — the champion sum adds impacts FROZEN
       (1e-6-rounded) at build, the exact query rounds once at the end;
    2. on a corpus where the true winners dominate every query term's
       list, champion recall is exactly 1.0 — derivable by eye."""
    from backend_fastapi_spark.sources.parquet import read_table
    from tests.conftest import SF_SMOKE

    docs = read_table(spark, SF_SMOKE, "documents")
    path = str(tmp_path / "cidx")
    RT.write_champion_index(docs, path, r=32)
    terms = ["vector", "stream", "window", "hash"]

    exact = {
        r["doc_id"]: r["kw"]
        for r in RT.bm25_score_query(docs, terms).collect()
    }
    champ_top = RT.bm25_champion_score(spark, path, terms, k=10).collect()
    assert len(champ_top) == 10
    for r in champ_top:
        assert r["kw"] <= exact[r["doc_id"]] + len(terms) * 1e-6

    # hand corpus: d0/d1 out-tf everyone on BOTH terms, so they sit in
    # both champion lists at r=2 and the champion top-2 sum is exact
    hand = _docs(
        spark,
        [
            (0, "cat cat cat dog dog dog"),
            (1, "cat cat dog dog"),
            (2, "cat pad pad pad pad pad"),
            (3, "dog pad pad pad pad pad"),
            (4, "pad pad"),
        ],
    )
    hpath = str(tmp_path / "hidx")
    RT.write_champion_index(hand, hpath, r=2)
    got = RT.bm25_champion_score(spark, hpath, ["cat", "dog"], k=2).collect()
    hexact = {
        r["doc_id"]: r["kw"]
        for r in RT.bm25_score_query(hand, ["cat", "dog"]).collect()
    }
    top2 = sorted(hexact.items(), key=lambda kv: (-kv[1], kv[0]))[:2]
    assert [(r["doc_id"],) for r in got] == [(d,) for d, _ in top2]
    for r in got:  # both terms champion-covered → the sum is the exact sum
        assert r["kw"] == pytest.approx(hexact[r["doc_id"]], abs=2e-6)


def test_champion_write_guards(spark, tmp_path):
    docs = _docs(spark, [(0, "cat dog"), (1, "cat cat")])
    path = str(tmp_path / "cidx")
    with pytest.raises(ValueError, match="mode"):
        RT.write_champion_index(docs, path, mode="append")
    with pytest.raises(ValueError, match="r must be"):
        RT.write_champion_index(docs, path, r=0)
    # interrupted overwrite: the epoch marker must fail searches loudly
    RT.write_champion_index(docs, path, r=4)
    marker = RT._hpath(spark, f"{path}/{RT.EPOCH_MARKER}")
    fs = marker.getFileSystem(spark._jsc.hadoopConfiguration())
    fs.create(marker, True).close()
    with pytest.raises(RuntimeError, match="interrupted"):
        RT.bm25_search_champion(spark, path, ["cat"], k=1)
    fs.delete(marker, False)
    out = RT.bm25_search_champion(spark, path, ["cat"], k=2).collect()
    assert {r["doc_id"] for r in out} == {0, 1}


def test_champion_staleness_advises_rebuild(spark, tmp_path):
    """The champion maintenance probe: growth lands in the FULL index
    via postings_append; champion_staleness reads only the mergeable
    stats scalars and advises rebuild past the growth threshold."""
    from backend_fastapi_spark.sources.parquet import read_table
    from tests.conftest import SF_SMOKE

    docs = read_table(spark, SF_SMOKE, "documents")
    full = str(tmp_path / "full")
    champ = str(tmp_path / "champ")
    base = docs.filter("doc_id % 10 != 0")  # 90% of the corpus
    RT.write_postings_index(base, full)
    RT.write_champion_index(base, champ, r=16)

    fresh = RT.champion_staleness(spark, champ, full)
    assert fresh["action"] is None and fresh["growth_frac"] == 0.0

    # ~11% growth via the full index's append path -> rebuild due
    RT.postings_append(spark, full, docs.filter("doc_id % 10 = 0"),
                       batch_token=0)
    stale = RT.champion_staleness(spark, champ, full)
    assert stale["action"] == "rebuild"
    assert stale["n_docs_now"] > stale["n_docs_at_build"]
    assert stale["growth_frac"] == pytest.approx(1 / 9, abs=0.02)

    # a higher threshold keeps the same growth advisory-quiet
    assert RT.champion_staleness(
        spark, champ, full, growth_threshold=0.5
    )["action"] is None
