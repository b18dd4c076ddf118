"""Lexical + hybrid retrieval: BM25 scoring, reciprocal-rank fusion, MMR.

The reference exposes keyword search (tools/tool_definitions.py:12's
``keyword`` parameter, utils/helpers.py:46-60's category keyword routing)
NEXT TO vector retrieval (rag_service.py, enhanced_internal_db_service.py's
FAISS search) — the classic vector-DB hybrid surface. This module provides
the Spark-native forms a corpus-scale engine needs:

- :func:`bm25_topk` — Okapi BM25 over an exploded posting list; one
  shuffle to build postings, a broadcast of the (tiny) per-term df table,
  a per-term window for top-k.
- :func:`bm25_pairs` — query-documents-vs-corpus BM25 via the
  inverted-index equi-join (postings ⋈ postings on term): the scale path
  for "find docs lexically similar to these" — never all-pairs, the join
  key is the term.
- :func:`rrf_fuse` — reciprocal-rank fusion (Cormack & Clarke, SIGIR'09)
  of any number of ranked lists; rank-based, so the fusion is immune to
  score-scale mismatch between lexical and vector retrievers.
- :func:`mmr_topk` — Maximal Marginal Relevance (Carbonell & Goldstein,
  SIGIR'98) greedy diversified rerank over a kNN shortlist. The greedy
  loop runs per query over a FIXED-SIZE shortlist (applyInPandas groups
  of ``shortlist`` rows), so cost is O(|Q|·shortlist²·dim) — linear in
  queries, constant per query, corpus never shuffles (shortlist comes
  from knn_exact's in-place scan).

Determinism: lexical scores are computed in IEEE double with per-term
scores decimal-accumulated (order-independent sum) and rounded to 1e-6
before any ranking, so the DuckDB oracle hash-matches; vector scores and
the MMR argmax run entirely in the package-wide fixed-point int64 domain
(operators/kernel.py::FIXED_SCALE) — exact, no float ordering anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from backend_fastapi_spark.operators.text import words
from backend_fastapi_spark.operators.kernel import gram, quantize, stack

BM25_K1 = 1.2
# (k1 + 1) as its OWN double literal: Python's 1.2 + 1.0 need not equal
# the literal 2.2 bit-for-bit, and the oracle SQL spells 2.2
BM25_K1P1 = 2.2
BM25_B = 0.75
RRF_K = 60


def _round6(x: Column) -> Column:
    """ROUND(x·1e6)/1e6 — the registry's proven cross-engine score
    rounding (tfidf_top_terms precedent); scores are rounded BEFORE any
    ranking so sub-1e-6 float gaps collapse to the id tie-break
    identically in both engines."""
    return F.round(x * F.lit(1e6), 0) / F.lit(1e6)


def postings(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, term, tf, dlen) posting rows from whitespace-lowercase tokens.

    One explode + one groupBy — the single shuffle of the lexical path.
    At 100 TB this is the materialize-once inverted index; every BM25
    query below joins it on ``term`` (never a corpus self-join).
    """
    toks = docs.select(
        F.col(id_col), words(F.col(text_col)).alias("_w")
    ).withColumn("dlen", F.size("_w"))
    return (
        toks.select(id_col, "dlen", F.explode("_w").alias("term"))
        .groupBy(id_col, "term", "dlen")
        .agg(F.count("*").cast("long").alias("tf"))
    )


def _corpus_stats(post: DataFrame, id_col: str) -> DataFrame:
    """1-row (n_docs, dlen_sum, avglen). Integer count and sum are exact
    (and MERGEABLE across index segments — the persisted layout stores
    them, not the ratio); avglen is the one double division (IEEE,
    deterministic)."""
    per_doc = post.select(id_col, "dlen").groupBy(id_col).agg(
        F.first("dlen").alias("dlen")
    )
    return per_doc.agg(
        F.count("*").alias("n_docs"),
        F.sum("dlen").cast("long").alias("dlen_sum"),
        (
            F.sum("dlen").cast("double") / F.count("*")
        ).alias("avglen"),
    )


def _bm25_term_score(tf: Column, df: Column, dlen: Column,
                     n_docs: Column, avglen: Column) -> Column:
    """Okapi BM25 with the Lucene non-negative idf:
    ln(1 + (N - df + .5)/(df + .5)) · tf·(k1+1) / (tf + k1·(1-b+b·len/avg)).

    Evaluated in double with one fixed operation order (mirrored verbatim
    in the oracle SQL) — cross-engine drift is the ~1-ulp ln difference,
    orders of magnitude under the 1e-6 ranking round.
    """
    idf = F.log(
        F.lit(1.0)
        + (n_docs.cast("double") - df + F.lit(0.5)) / (df + F.lit(0.5))
    )
    # literals 2.2 / 1.2 / 0.25 / 0.75 and the operation order are spelled
    # IDENTICALLY in the oracle SQL — cross-engine parity by construction
    return idf * (tf * F.lit(BM25_K1P1)) / (
        tf + F.lit(BM25_K1) * (F.lit(0.25) + F.lit(BM25_B) * dlen / avglen)
    )


def bm25_topk(
    docs: DataFrame,
    terms: list[str],
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    post: DataFrame | None = None,
) -> DataFrame:
    """Top-k documents per query term by BM25 → (term, doc_id, bm25).

    Plan: postings shuffle, then the term filter cuts to the queried
    terms' posting lists, the 1-row stats frame and the ≤|terms|-row df
    frame broadcast, and a per-term window ranks. The window partitions
    on ``term`` — fine for interactive term counts; a thousand-term batch
    would use the per-partition-topk-then-merge form instead.
    ``post``: a prebuilt :func:`postings` frame of ``docs`` (the Engine's
    cached one); None builds it here.
    """
    if post is None:
        post = postings(docs, text_col, id_col)
    stats = _corpus_stats(post, id_col)
    hits = post.filter(F.col("term").isin(terms))
    df_tbl = hits.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    scored = (
        hits.join(F.broadcast(df_tbl), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "term",
            F.col(id_col),
            _round6(
                _bm25_term_score(
                    F.col("tf").cast("double"),
                    F.col("df").cast("double"),
                    F.col("dlen").cast("double"),
                    F.col("n_docs"),
                    F.col("avglen"),
                )
            ).alias("bm25"),
        )
    )
    w = Window.partitionBy("term").orderBy(
        F.col("bm25").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def bm25_pairs(
    docs: DataFrame,
    query_ids: list[int],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """BM25 of every corpus doc against each query DOCUMENT's distinct
    terms → (q_id, doc_id, kw). The inverted-index join: query terms ⋈
    postings on ``term``, then a per-(q, doc) decimal-accumulated sum of
    per-term scores (order-independent — both engines add exact decimals).
    Self-pairs excluded. Candidates are docs sharing ≥1 term — at corpus
    scale the df-capped posting join, never |Q|×|corpus|.
    """
    post = postings(docs, text_col, id_col)
    stats = _corpus_stats(post, id_col)
    df_tbl = post.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    qterms = (
        post.filter(F.col(id_col).isin(query_ids))
        .select(F.col(id_col).alias("q_id"), "term")
    )
    term_score = _bm25_term_score(
        F.col("tf").cast("double"),
        F.col("df").cast("double"),
        F.col("dlen").cast("double"),
        F.col("n_docs"),
        F.col("avglen"),
    )
    return (
        post.join(F.broadcast(qterms), "term")
        .filter(F.col(id_col) != F.col("q_id"))
        .join(F.broadcast(df_tbl), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn("_s", term_score.cast("decimal(30,12)"))
        .groupBy("q_id", id_col)
        .agg(_round6(F.sum("_s").cast("double")).alias("kw"))
    )


def bm25_score_query(
    docs: DataFrame,
    terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    post: DataFrame | None = None,
) -> DataFrame:
    """One multi-term query scored against the corpus → (id, kw):
    per-doc decimal-accumulated sum of per-term BM25 over the query's
    terms — :func:`bm25_pairs` with a literal term set instead of a
    query document. The Engine's hybrid keyword leg. ``post`` as in
    :func:`bm25_topk`."""
    if post is None:
        post = postings(docs, text_col, id_col)
    stats = _corpus_stats(post, id_col)
    hits = post.filter(F.col("term").isin(terms))
    df_tbl = hits.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    term_score = _bm25_term_score(
        F.col("tf").cast("double"),
        F.col("df").cast("double"),
        F.col("dlen").cast("double"),
        F.col("n_docs"),
        F.col("avglen"),
    )
    return (
        hits.join(F.broadcast(df_tbl), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn("_s", term_score.cast("decimal(30,12)"))
        .groupBy(id_col)
        .agg(_round6(F.sum("_s").cast("double")).alias("kw"))
    )


def rank_topn(
    scored: DataFrame,
    score_col: str,
    n: int,
    group_col: str = "q_id",
    id_col: str = "doc_id",
    descending: bool = True,
) -> DataFrame:
    """(group, id, r) — dense 1-based ranks of the top-n by score with the
    registry-wide total tie-break (score, id asc)."""
    order = [
        F.col(score_col).desc() if descending else F.col(score_col).asc(),
        F.col(id_col).asc(),
    ]
    w = Window.partitionBy(group_col).orderBy(*order)
    return (
        scored.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= n)
        .select(group_col, id_col, "r")
    )


def rrf_fuse(
    ranked: list[DataFrame],
    k: int = RRF_K,
    group_col: str = "q_id",
    id_col: str = "doc_id",
) -> DataFrame:
    """Reciprocal-rank fusion: Σ over lists of 1/(k + rank), docs absent
    from a list contribute 0 from it (the standard RRF convention).
    Inputs are (group, id, r) frames from :func:`rank_topn`. Rank lists
    are top-n bounded, so every frame here is |Q|·n rows — the fusion
    is a union + one tiny groupBy, independent of corpus size.
    """
    if not ranked:
        raise ValueError("rrf_fuse requires at least one ranked list")
    contrib = [
        d.select(
            group_col,
            id_col,
            (F.lit(1.0) / (F.lit(float(k)) + F.col("r"))).alias("_c"),
        )
        for d in ranked
    ]
    allc = contrib[0]
    for d in contrib[1:]:
        allc = allc.unionByName(d)
    return allc.groupBy(group_col, id_col).agg(
        _round6(
            F.sum(F.col("_c").cast("decimal(30,12)")).cast("double")
        ).alias("rrf")
    )


N_TERM_BUCKETS = 32


def term_bucket(term: Column) -> Column:
    """Deterministic term→bucket hash (md5 first 8 hex chars mod N) — the
    registry-wide engine-portable hash idiom (operators/sketches.py:80);
    DuckDB twin: CAST(('0x' || substr(md5(term), 1, 8)) AS BIGINT) % N;
    Python twin: :func:`py_term_bucket`."""
    return (
        F.conv(F.substring(F.md5(term), 1, 8), 16, 10).cast("long")
        % N_TERM_BUCKETS
    )


def py_term_bucket(term: str) -> int:
    """Driver-side twin of :func:`term_bucket` for pruning query terms."""
    import hashlib

    return int(hashlib.md5(term.encode()).hexdigest()[:8], 16) % N_TERM_BUCKETS


def write_postings_index(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    mode: str = "error",
) -> None:
    """Materialize-once inverted index: the 100 TB form of the lexical
    path. Two parts under ``path``:

    - ``postings/`` — (id, term, dlen, tf) hive-partitioned by
      ``bucket = md5(term) % 32``, repartitioned by bucket BEFORE the
      write so each bucket directory is one task's files (the IVF
      one-file-per-cluster lesson: partitionBy from a many-partition
      frame explodes into tasks×buckets small files whose footers
      dominate the pruned scan).
    - ``stats/`` — one (segment, n_docs, dlen_sum) row. The MERGEABLE
      integers, not the avg ratio: every :func:`postings_append` delta
      adds its own row and a search recombines exactly.

    Per-term df is NOT materialized: a search derives it from the
    term-filtered rows it already scans (exact under any number of delta
    segments, zero extra IO — the rows are in hand). Searches pay IO
    proportional to |query terms| / N buckets of the index, not the
    corpus: the bucket filter is partition pruning (directories never
    listed), the term filter reaches the row groups. The corpus itself
    is read exactly once, at write time (the stats pass re-reads the
    just-written postings' (id, dlen) columns — a pruned index read,
    not a second corpus pass).

    ``mode="overwrite"`` is a NEW EPOCH: old delta segments are purged
    and the base rewritten under the ``_EPOCH_IN_PROGRESS`` marker that
    every reader fails loudly on (the write_ivf_index discipline, ADVICE
    r10) — a crash anywhere inside the window is detected, never served
    as a complete-looking index missing its appended rows.

    Only ``"error"`` and ``"overwrite"`` are coherent here (ADVICE r11):
    a raw ``mode="append"`` would stack a second ``base`` stats row and
    duplicate postings with no epoch protection — incremental growth
    goes through :func:`postings_append`, which carries its own
    idempotency and commit markers.
    """
    if mode not in ("error", "overwrite"):
        raise ValueError(
            "write_postings_index mode must be 'error' or 'overwrite', "
            f"got {mode!r} — incremental growth goes through "
            "postings_append (a raw append would duplicate the base "
            "stats row and postings with no epoch protection)"
        )
    spark = docs.sparkSession
    post = postings(docs, text_col, id_col).withColumn(
        "bucket", term_bucket(F.col("term"))
    )
    epoch = None
    if mode == "overwrite":
        jvm = spark._jvm
        epoch = _hpath(spark, f"{path}/{EPOCH_MARKER}")
        fs = epoch.getFileSystem(spark._jsc.hadoopConfiguration())
        fs.create(jvm.org.apache.hadoop.fs.Path(epoch.toString()), True).close()
        delta = _hpath(spark, f"{path}/delta")
        if fs.exists(delta):
            fs.delete(delta, True)
        staging = _hpath(spark, f"{path}/compact_staging")
        if fs.exists(staging):
            fs.delete(staging, True)
    (
        post.repartition("bucket")
        .write.partitionBy("bucket")
        .mode(mode)
        .parquet(f"{path}/postings")
    )
    # stats from the WRITTEN files' (id, dlen) columns: one narrow
    # column-pruned index read instead of re-running the corpus
    # tokenize+explode+groupBy a second time
    _write_segment_stats(
        spark, f"{path}/postings", f"{path}/stats", "base", id_col, mode
    )
    if epoch is not None:
        fs.delete(epoch, False)


EPOCH_MARKER = "_EPOCH_IN_PROGRESS"  # raised by write_postings_index overwrite
COMPACT_MARKER = "_COMPACT_IN_PROGRESS"  # raised by compact_postings step 2


def _check_postings_epoch(spark, path: str) -> None:
    """Fail loudly on an interrupted overwrite/compaction — the
    ``ivf._check_epoch_complete`` discipline: a marker outlives a crash
    anywhere inside its window, and serving the index in that state
    would silently drop rows. The two markers are distinct because
    their recoveries differ: a crashed COMPACTION resumes from the
    staged snapshot (re-run compact_postings); a crashed base OVERWRITE
    has no snapshot — rebuild from the source corpus."""
    marker = _hpath(spark, f"{path}/{EPOCH_MARKER}")
    fs = marker.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(marker):
        raise RuntimeError(
            f"postings index at {path} has an interrupted base overwrite "
            f"({EPOCH_MARKER} present) — rebuild it with "
            "write_postings_index(mode='overwrite') before using it"
        )
    if fs.exists(_hpath(spark, f"{path}/{COMPACT_MARKER}")):
        raise RuntimeError(
            f"postings index at {path} has an interrupted compaction "
            f"({COMPACT_MARKER} present) — re-run compact_postings (it "
            "resumes from the staged snapshot) before using the index"
        )


def _write_segment_stats(
    spark, postings_path: str, stats_path: str, segment: str,
    id_col: str, mode: str,
) -> None:
    """(segment, n_docs, dlen_sum) derived from a written postings dir —
    reads only the (id, dlen) columns (column-pruned, no term/tf IO)."""
    per_doc = (
        spark.read.parquet(postings_path)
        .select(id_col, "dlen")
        .groupBy(id_col)
        .agg(F.first("dlen").alias("dlen"))
    )
    (
        per_doc.agg(
            F.count("*").alias("n_docs"),
            F.sum("dlen").cast("long").alias("dlen_sum"),
        )
        .select(F.lit(segment).alias("segment"), "n_docs", "dlen_sum")
        .coalesce(1)
        .write.mode(mode)
        .parquet(stats_path)
    )


def _hpath(spark, p: str):
    return spark._jvm.org.apache.hadoop.fs.Path(p)


def _live_posting_segments(spark, path: str) -> list[str]:
    """Committed ``delta/batch=*`` segment roots — the ivf.py
    ``_COMMITTED``-marker discipline: a segment is visible only once its
    marker exists (written AFTER both the postings and stats subwrites),
    so a crash between the two subwrites, or a mid-rewrite at-least-once
    retry, can never serve postings whose stats row is missing (which
    would silently skew avglen/n_docs rather than fail)."""
    jvm = spark._jvm
    root = _hpath(spark, f"{path}/delta/*")
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    matches = fs.globStatus(root)
    out = []
    for m in matches or []:
        if not m.isDirectory():
            continue
        seg = m.getPath().toString()
        if fs.exists(jvm.org.apache.hadoop.fs.Path(f"{seg}/_COMMITTED")):
            out.append(seg)
    return sorted(out)


def postings_append(
    spark,
    path: str,
    new_docs: DataFrame,
    batch_token,
    text_col: str = "text",
    id_col: str = "doc_id",
    check_overlap: bool = False,
) -> None:
    """Incremental lexical-index grow — ``ivf_append``'s contract for the
    postings layout (reference serving role: the same add-documents path,
    enhanced_internal_db_service.py:602-630, which updates the keyword
    side alongside the FAISS store). The new docs' postings land as an
    IDEMPOTENT delta segment ``delta/batch=<token>`` (an at-least-once
    retry overwrites exactly itself), bucket-partitioned like the base
    so every search prunes base and deltas identically; the segment
    carries its own (n_docs, dlen_sum) stats row, and the ``_COMMITTED``
    marker is created only after both subwrites so readers never see a
    half-written segment. A batch that yields ZERO posting rows (e.g.
    all-null text) removes any prior attempt's segment and commits
    nothing — an empty parquet dir (no data files, only _SUCCESS) would
    fail schema inference on every later read, bricking the index. Cost
    is O(batch), never O(index) — the base postings are not read,
    touched, or re-shuffled.

    HARD PRECONDITION (ADVICE r11): ``new_docs`` ids must be NEW to the
    index — an id already present in the base or another delta would
    duplicate its posting rows and inflate df/n_docs, letting the same
    doc rank twice. ``check_overlap=True`` enforces it with one
    id-column-pruned scan of base + other deltas (affordable for
    interactive batches; streams keep it off — their exactly-once
    batch-token discipline already guarantees it). A retry of THIS
    token's own segment is not an overlap."""
    _check_postings_epoch(spark, path)
    seg = f"{path}/delta/batch={batch_token}"
    if check_overlap:
        existing = spark.read.parquet(f"{path}/postings").select(id_col)
        for s in _live_posting_segments(spark, path):
            if s.rstrip("/").rsplit("/", 1)[-1] != f"batch={batch_token}":
                existing = existing.unionByName(
                    spark.read.parquet(f"{s}/postings").select(id_col)
                )
        dup = (
            new_docs.select(id_col)
            .join(existing.distinct(), id_col)
            .limit(1)
            .collect()
        )
        if dup:
            raise ValueError(
                f"postings_append to {path}: {id_col}="
                f"{dup[0][id_col]!r} already exists in the index — "
                "appending it would duplicate its posting rows and "
                "inflate df/n_docs (new_docs must contain only NEW ids)"
            )
    jvm = spark._jvm
    marker = _hpath(spark, f"{seg}/_COMMITTED")
    fs = marker.getFileSystem(spark._jsc.hadoopConfiguration())
    # de-commit first: the rewrite below must not be readable mid-flight
    if fs.exists(marker):
        fs.delete(marker, False)
    post = postings(new_docs, text_col, id_col).withColumn(
        "bucket", term_bucket(F.col("term"))
    )
    if post.isEmpty():
        seg_path = _hpath(spark, seg)
        if fs.exists(seg_path):
            fs.delete(seg_path, True)  # idempotent retry of an empty batch
        return
    (
        post.repartition("bucket")
        .write.partitionBy("bucket")
        .mode("overwrite")
        .parquet(f"{seg}/postings")
    )
    _write_segment_stats(
        spark, f"{seg}/postings", f"{seg}/stats",
        f"batch={batch_token}", id_col, "overwrite",
    )
    fs.create(jvm.org.apache.hadoop.fs.Path(marker.toString()), True).close()


POSTINGS_SEGMENT_CAP = 16  # same decay driver as ivf.DELTA_SEGMENT_CAP


def postings_maintenance_action(n_segments: int) -> str | None:
    """``"compact"`` once live delta segments exceed the cap (per-segment
    listing/scan setup decays search linearly in segment count — the
    measured IVF curve, same mechanism), else None. Two sanctioned ways
    to run the compaction (ADVICE r12 medium — this docstring is the
    protocol of record):

    - INLINE, inside the appending stream's own foreachBatch trigger
      (``stream_postings_append(auto_compact=True)``, the default):
      safe because triggers are serial (no append races the rewrite)
      and the trigger passes ``exclude_segments=("batch=<id>",)`` for
      its own not-yet-checkpointed token, so a crash-retry can never
      re-append an absorbed segment. AVAILABILITY COST: concurrent
      searches raise RuntimeError (``_COMPACT_IN_PROGRESS``) for the
      duration of the rewrite, and that trigger blocks on an O(index)
      rewrite — amortized O(index/cap) per trigger.
    - OFFLINE (pause the stream, run :func:`compact_postings`, resume):
      zero search interruption outside the window; required only when
      the serving SLA cannot absorb the inline pause. Unlike the IVF
      fold there is no subsumption-marker protocol, so either way the
      base is rewritten under the staging marker, never folded in-place
      next to concurrent readers."""
    return "compact" if n_segments > POSTINGS_SEGMENT_CAP else None


def compact_postings(spark, path: str, exclude_segments=()) -> int:
    """Fold every committed delta segment into the base — offline, with
    crash-recoverable staging (the ``rebuild_ivf_index`` discipline).

    ``exclude_segments`` (segment NAMES, e.g. ``("batch=7",)``) are left
    live even if committed — the exactly-once guard for a caller inside
    a streaming trigger (ADVICE r12 high): the just-appended segment's
    batch token is not yet committed to the streaming checkpoint, so a
    crash after compaction absorbed it but before the checkpoint commit
    would make the retried trigger re-append rows the base already
    holds (duplicated postings, inflated df/n_docs, docs ranked twice).
    Excluding the in-flight token makes every absorbed token strictly
    older than the current batch — a token Structured Streaming will
    never replay (triggers are serial; batch N-1's commit precedes
    batch N's start). Exclusion only gates NEW staging; a crashed
    compaction's recovery replays exactly its _STAGED manifest.

    1. stage base + committed deltas (postings rows and the combined
       stats row) to ``compact_staging/``, then write ``_STAGED``
       naming EXACTLY the segments staged (the manifest);
    2. raise the index-root ``_EPOCH_IN_PROGRESS`` marker — every
       reader/appender fails loudly from here until step 5;
    3. rewrite the base FROM THE STAGING COPY;
    4. delete ONLY the manifest's segments (a segment appended after
       the snapshot was taken is NOT in the manifest and stays live —
       its rows are not in the staged base, so purging it would lose
       them);
    5. drop the staging dir, then clear the epoch marker.

    Crash anywhere in 2-5: the epoch marker keeps the index unreadable
    (RuntimeError, not silently-stale results) and a re-run resumes
    from the staged snapshot idempotently. Crash before ``_STAGED``:
    base+deltas untouched, a re-run re-stages. Pause the appending
    stream around the call (its own epoch check enforces this).
    Returns the number of delta segments absorbed."""
    jvm = spark._jvm
    staging = f"{path}/compact_staging"
    staged_marker = _hpath(spark, f"{staging}/_STAGED")
    fs = staged_marker.getFileSystem(spark._jsc.hadoopConfiguration())

    def _touch(p: str) -> None:
        fs.create(jvm.org.apache.hadoop.fs.Path(p), True).close()

    compact_marker = _hpath(spark, f"{path}/{COMPACT_MARKER}")
    if fs.exists(compact_marker) and not fs.exists(staged_marker):
        # crash window between staging cleanup (step 5a) and the marker
        # clear (5b): every data step already completed — finish the
        # bookkeeping instead of bricking the index
        fs.delete(compact_marker, False)
        return 0
    # a crashed base OVERWRITE is not recoverable from here — surface it
    marker = _hpath(spark, f"{path}/{EPOCH_MARKER}")
    if fs.exists(marker):
        raise RuntimeError(
            f"postings index at {path} has an interrupted base overwrite "
            f"({EPOCH_MARKER} present) — rebuild it with "
            "write_postings_index(mode='overwrite')"
        )

    if not fs.exists(staged_marker):
        excluded = {str(e) for e in exclude_segments}
        segments = [
            s for s in _live_posting_segments(spark, path)
            if s.rstrip("/").rsplit("/", 1)[-1] not in excluded
        ]
        if not segments:
            return 0
        post = spark.read.parquet(f"{path}/postings")
        stats = spark.read.parquet(f"{path}/stats")
        for s in segments:
            post = post.unionByName(spark.read.parquet(f"{s}/postings"))
            stats = stats.unionByName(spark.read.parquet(f"{s}/stats"))
        post.repartition("bucket").write.partitionBy("bucket").mode(
            "overwrite"
        ).parquet(f"{staging}/postings")
        (
            stats.groupBy()
            .agg(
                F.sum("n_docs").cast("long").alias("n_docs"),
                F.sum("dlen_sum").cast("long").alias("dlen_sum"),
            )
            .select(F.lit("base").alias("segment"), "n_docs", "dlen_sum")
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(f"{staging}/stats")
        )
        # the manifest: segment names whose rows the snapshot holds
        out = fs.create(
            jvm.org.apache.hadoop.fs.Path(staged_marker.toString()), True
        )
        names = "\n".join(s.rstrip("/").rsplit("/", 1)[-1] for s in segments)
        out.write(bytearray(names.encode("utf-8")))
        out.close()

    # staged snapshot complete — the compaction window (recovery
    # re-enters here: re-reads the manifest, re-runs 3-5 idempotently)
    manifest = _read_small_text(spark, f"{staging}/_STAGED")
    staged_names = [n for n in manifest.split("\n") if n]
    _touch(f"{path}/{COMPACT_MARKER}")
    staged_post = spark.read.parquet(f"{staging}/postings")
    staged_stats = spark.read.parquet(f"{staging}/stats")
    staged_post.repartition("bucket").write.partitionBy("bucket").mode(
        "overwrite"
    ).parquet(f"{path}/postings")
    staged_stats.coalesce(1).write.mode("overwrite").parquet(f"{path}/stats")
    for name in staged_names:
        seg = _hpath(spark, f"{path}/delta/{name}")
        if fs.exists(seg):
            fs.delete(seg, True)
    fs.delete(_hpath(spark, staging), True)
    fs.delete(compact_marker, False)
    return len(staged_names)


def _read_small_text(spark, p: str) -> str:
    """Whole-file UTF-8 read in one data pass (the ivf.py
    ``_read_small_file`` idiom)."""
    jvm = spark._jvm
    hp = _hpath(spark, p)
    fs = hp.getFileSystem(spark._jsc.hadoopConfiguration())
    buf = jvm.java.io.ByteArrayOutputStream()
    jvm.org.apache.hadoop.io.IOUtils.copyBytes(fs.open(hp), buf, 65536, True)
    return buf.toString("UTF-8")


def bm25_search_persisted(
    spark,
    path: str,
    terms: list[str],
    k: int = 10,
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k BM25 over a :func:`write_postings_index` layout (plus every
    committed :func:`postings_append` delta) → (term, doc_id, bm25) —
    value-identical to :func:`bm25_topk` on the union corpus: same
    posting rows, df derived from the term-filtered rows the scan
    already reads (exact across segments, no df table to go stale), and
    (n_docs, avglen) recombined from the per-segment integer stats rows.
    The scan touches ONLY the query terms' bucket partitions of each
    segment. Scale shape: |terms|/32 of the index's bytes (twice — the
    df pass and the scoring pass share the pruned scan shape), zero
    corpus access, zero shuffle beyond the per-term window over |terms|
    posting lists."""
    _check_postings_epoch(spark, path)
    buckets = sorted({py_term_bucket(t) for t in terms})
    # list the segments ONCE: a second listing could disagree with the
    # first under a concurrent append (a segment in the stats pass but
    # not the scoring pass skews n_docs/avglen), and each listing costs
    # a glob + per-segment marker existence check
    live = _live_posting_segments(spark, path)
    segments = [f"{path}/postings"] + [f"{s}/postings" for s in live]

    def pruned(seg_postings: str) -> DataFrame:
        return (
            spark.read.parquet(seg_postings)
            .filter(F.col("bucket").isin(buckets))
            .filter(F.col("term").isin(terms))
            .select(id_col, "term", "dlen", "tf")
        )

    hits = pruned(segments[0])
    for s in segments[1:]:
        hits = hits.unionByName(pruned(s))
    df_tbl = hits.groupBy("term").agg(F.count("*").cast("long").alias("df"))

    stats = spark.read.parquet(f"{path}/stats")
    for s in live:
        stats = stats.unionByName(spark.read.parquet(f"{s}/stats"))
    # bounded driver read (the nprobe-cluster-ids discipline): the
    # mergeable integers collapse to two scalars, inlined as literals so
    # the scoring plan is one broadcast-hash join. int/int division in
    # Python is the same IEEE double op both engines run.
    srow = stats.agg(
        F.sum("n_docs").alias("n"), F.sum("dlen_sum").alias("s")
    ).head()
    if not srow["n"]:
        # degenerate index (ADVICE r11): zero docs contributed postings
        # (or no stats rows at all — SUM over none is NULL). No document
        # can match, so return the empty result frame in the search's
        # exact schema instead of an opaque ZeroDivisionError computing
        # avglen.
        return hits.select(
            "term", F.col(id_col), F.lit(0.0).alias("bm25")
        ).limit(0)
    n_docs, avglen = int(srow["n"]), srow["s"] / srow["n"]

    scored = (
        hits.join(F.broadcast(df_tbl), "term")
        .select(
            "term",
            F.col(id_col),
            _round6(
                _bm25_term_score(
                    F.col("tf").cast("double"),
                    F.col("df").cast("double"),
                    F.col("dlen").cast("double"),
                    F.lit(n_docs),
                    F.lit(avglen),
                )
            ).alias("bm25"),
        )
    )
    w = Window.partitionBy("term").orderBy(
        F.col("bm25").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def champion_postings(
    post: DataFrame,
    r: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-term top-``r`` posting rows by precomputed BM25 impact —
    impact-ordered champion lists (static index pruning: Manning,
    Raghavan & Schütze, IIR §7.1.3; Anh & Moffat's impact-ordered
    indexes). Input is a :func:`postings` frame over the FULL corpus;
    output is (id, term, impact) with ≤ ``r`` rows per term, where
    ``impact`` is the term's complete BM25 contribution for that doc
    (idf from TRUE corpus df, tf/dlen normalization — everything the
    per-term score needs is known at build time), rounded 1e-6 like
    every ranked score in the registry.

    Because the per-term BM25 score is FULLY precomputable, keeping the
    top-``r`` rows by (impact desc, id asc) preserves the exact per-term
    ranking prefix: single-term top-k over the champion list equals
    top-k over the full posting list for every k ≤ r — pruning with a
    proof, not a heuristic (tests/test_retrieval.py::
    test_champion_topk_exact_up_to_r). Multi-term SUM queries become
    approximate (a doc scoring below rank r on every query term is
    invisible), the documented champion-list trade.

    Plan shape: the postings frame's existing shuffle, one broadcast
    each of the df table and the 1-row stats, one per-term window —
    at 100 TB the window partitions on ``term`` (vocabulary-sized
    parallelism) and emits ≤ r·|vocab| rows total."""
    stats = _corpus_stats(post, id_col)
    df_tbl = post.groupBy("term").agg(
        F.count("*").cast("long").alias("df")
    )
    scored = (
        post.join(df_tbl, "term")
        .crossJoin(F.broadcast(stats))
        .select(
            F.col(id_col),
            "term",
            _round6(
                _bm25_term_score(
                    F.col("tf").cast("double"),
                    F.col("df").cast("double"),
                    F.col("dlen").cast("double"),
                    F.col("n_docs"),
                    F.col("avglen"),
                )
            ).alias("impact"),
        )
    )
    w = Window.partitionBy("term").orderBy(
        F.col("impact").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= r)
        .drop("_rn")
    )


def write_champion_index(
    docs: DataFrame,
    path: str,
    r: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
    mode: str = "error",
) -> None:
    """Persist an impact-ordered champion index — the BOUNDED-probe form
    of the lexical path: where :func:`write_postings_index` makes a
    search pay O(df) rows per query term (df grows with the corpus —
    a stopword-ish term at 100 TB has a posting list in the billions),
    the champion layout caps every term's list at ``r`` rows, so probe
    cost is O(|terms|·r) FOREVER, independent of corpus growth. The
    price: per-term top-k is exact only for k ≤ r, and multi-term sums
    are approximate (see :func:`champion_postings`).

    Layout under ``path``:

    - ``postings/`` — (id, term, impact) hive-partitioned by
      ``bucket = md5(term) % 32`` (the :func:`write_postings_index`
      partition-pruning layout), repartitioned by bucket before the
      write so each bucket directory is one task's files. The stored
      ``impact`` is the COMPLETE per-term BM25 score (idf, tf and
      length normalization frozen at build) — tf/dlen/df are not
      stored at all, which is the other champion win: three long
      columns drop from every posting row.
    - ``meta/`` — one (segment, r, n_docs, dlen_sum) row: ``r`` is the
      search-time exactness bound (``bm25_search_champion`` raises on
      k > r instead of silently truncating); n_docs/dlen_sum keep the
      full-corpus provenance a rebuild audit needs.

    WRITE-ONCE, no delta path by design: a champion list is a global
    top-``r`` — a new document can displace an incumbent anywhere in
    the vocabulary, so incremental growth serves from the FULL postings
    index (:func:`postings_append`) and re-derives the champion index
    on its rebuild cadence, exactly like the IVF retrain handoff.
    ``mode="overwrite"`` runs under the same ``_EPOCH_IN_PROGRESS``
    loud-crash marker as the full index.

    Reference serving role: the keyword-search path
    (tools/tool_definitions.py:12, utils/helpers.py:46-60) at corpora
    where full posting lists no longer bound per-query latency."""
    if mode not in ("error", "overwrite"):
        raise ValueError(
            "write_champion_index mode must be 'error' or 'overwrite', "
            f"got {mode!r} — the champion layout has no append path "
            "(a new doc can displace any incumbent); rebuild instead"
        )
    if r < 1:
        raise ValueError(f"champion r must be >= 1, got {r}")
    spark = docs.sparkSession
    post = postings(docs, text_col, id_col)
    champ = champion_postings(post, r, id_col).withColumn(
        "bucket", term_bucket(F.col("term"))
    )
    epoch = None
    if mode == "overwrite":
        epoch = _hpath(spark, f"{path}/{EPOCH_MARKER}")
        fs = epoch.getFileSystem(spark._jsc.hadoopConfiguration())
        fs.create(epoch, True).close()
    (
        champ.repartition("bucket")
        .write.partitionBy("bucket")
        .mode(mode)
        .parquet(f"{path}/postings")
    )
    # meta derives n_docs/dlen_sum from the PRE-pruning postings (the
    # champion rows no longer carry dlen); computed as one aggregate on
    # the same frame the champion pass already shuffled
    stats = _corpus_stats(post, id_col)
    (
        stats.select(
            F.lit("base").alias("segment"),
            F.lit(r).cast("long").alias("r"),
            "n_docs",
            "dlen_sum",
        )
        .coalesce(1)
        .write.mode(mode)
        .parquet(f"{path}/meta")
    )
    if epoch is not None:
        fs.delete(epoch, False)


def _champion_meta(spark, path: str) -> dict:
    """Read the 1-row champion meta → {"r", "n_docs", "dlen_sum"};
    loud-fails on an interrupted overwrite first."""
    marker = _hpath(spark, f"{path}/{EPOCH_MARKER}")
    fs = marker.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(marker):
        raise RuntimeError(
            f"champion index at {path} has an interrupted overwrite "
            f"({EPOCH_MARKER} present) — rebuild it with "
            "write_champion_index(mode='overwrite') before using it"
        )
    row = spark.read.parquet(f"{path}/meta").head()
    return {"r": int(row["r"]), "n_docs": int(row["n_docs"]),
            "dlen_sum": int(row["dlen_sum"])}


CHAMPION_REBUILD_GROWTH = 0.1  # rebuild once the corpus grew 10% past it


def champion_staleness(
    spark, champion_path: str, full_index_path: str,
    growth_threshold: float = CHAMPION_REBUILD_GROWTH,
) -> dict:
    """How far the serving corpus has grown past a champion snapshot —
    the maintenance probe completing the champion protocol
    (:func:`write_champion_index` is write-once; growth lands in the
    FULL postings index via :func:`postings_append`, and this decides
    when the champion rebuild is due, the ivf.delta_stats /
    :func:`postings_maintenance_action` discipline).

    Compares the champion meta's build-time ``n_docs`` against the full
    index's CURRENT doc count (base + committed delta stats rows — the
    mergeable integers, a bounded 2-scalar read, no postings scanned).
    Returns ``{"n_docs_at_build", "n_docs_now", "growth_frac",
    "action"}`` where ``action`` is ``"rebuild"`` once growth exceeds
    ``growth_threshold`` (new docs are invisible to champion probes —
    past the threshold the bounded-probe answers drift too far from the
    live corpus) else ``None``. Searches stay available throughout: a
    stale champion index is APPROXIMATE-OLDER, never corrupt, so the
    rebuild is advisory — run ``write_champion_index(mode="overwrite")``
    on the full corpus (its epoch marker keeps the swap loud-crash-safe)."""
    meta = _champion_meta(spark, champion_path)
    _check_postings_epoch(spark, full_index_path)
    stats = spark.read.parquet(f"{full_index_path}/stats")
    for s in _live_posting_segments(spark, full_index_path):
        stats = stats.unionByName(spark.read.parquet(f"{s}/stats"))
    now = int(stats.agg(F.sum("n_docs")).head()[0] or 0)
    at_build = meta["n_docs"]
    growth = (now - at_build) / at_build if at_build else float("inf")
    return {
        "n_docs_at_build": at_build,
        "n_docs_now": now,
        "growth_frac": round(growth, 6),
        "action": "rebuild" if growth > growth_threshold else None,
    }


def bm25_search_champion(
    spark,
    path: str,
    terms: list[str],
    k: int = 10,
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k per query term over a :func:`write_champion_index` layout →
    (term, doc_id, bm25) — value-identical to :func:`bm25_topk` on the
    build corpus for every k ≤ r (the champion exactness bound; raises
    on k > r rather than silently truncating). Scale shape: the scan
    touches only the query terms' bucket partitions and each term
    contributes ≤ r rows, so the probe is O(|terms|·r) rows and
    |terms|/32 of an index whose total size is ≤ r·|vocab| rows —
    corpus-size-independent per-query cost, the property the full
    postings index cannot offer on high-df terms."""
    meta = _champion_meta(spark, path)
    if k > meta["r"]:
        raise ValueError(
            f"k={k} exceeds the champion index's exactness bound "
            f"r={meta['r']} — per-term top-k beyond r is silently "
            "lossy; rebuild with a larger r or search the full index"
        )
    buckets = sorted({py_term_bucket(t) for t in terms})
    hits = (
        spark.read.parquet(f"{path}/postings")
        .filter(F.col("bucket").isin(buckets))
        .filter(F.col("term").isin(terms))
        .select(id_col, "term", "impact")
    )
    w = Window.partitionBy("term").orderBy(
        F.col("impact").desc(), F.col(id_col).asc()
    )
    return (
        hits.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select("term", F.col(id_col), F.col("impact").alias("bm25"))
    )


def bm25_champion_score(
    spark,
    path: str,
    terms: list[str],
    k: int = 10,
    id_col: str = "doc_id",
) -> DataFrame:
    """Multi-term BM25 over the champion index → top-k (doc_id, kw):
    per-doc decimal-accumulated sum of the stored impacts across the
    query's terms — :func:`bm25_score_query`'s shape served from the
    pruned layout. APPROXIMATE by the champion contract: a doc outside
    every query term's top-r champions scores 0 (invisible), and a doc
    inside some lists sums only those lists' impacts — the standard
    champion-list trade (IIR §7.1.3), bought for an O(|terms|·r)-row
    probe. The approximation is bounded in tests/test_retrieval.py::
    test_champion_sum_recall (subset-sum upper bound; exact when the
    winners dominate every term's list); the final top-k rank runs
    over ≤ |terms|·r summed rows (a bounded single-partition window,
    like the fusion stages)."""
    meta = _champion_meta(spark, path)
    if k > meta["r"]:
        raise ValueError(
            f"k={k} exceeds champion r={meta['r']} — beyond r even the "
            "single-term prefix is lossy; rebuild with a larger r"
        )
    buckets = sorted({py_term_bucket(t) for t in terms})
    hits = (
        spark.read.parquet(f"{path}/postings")
        .filter(F.col("bucket").isin(buckets))
        .filter(F.col("term").isin(terms))
        .select(id_col, "impact")
    )
    summed = (
        hits.withColumn("_s", F.col("impact").cast("decimal(30,12)"))
        .groupBy(id_col)
        .agg(_round6(F.sum("_s").cast("double")).alias("kw"))
    )
    w = Window.orderBy(F.col("kw").desc(), F.col(id_col).asc())
    return (
        summed.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select(id_col, "kw")
    )


def mmr_topk(
    corpus: DataFrame,
    queries: DataFrame,
    shortlist: int = 20,
    select: int = 5,
    corpus_id: str = "vec_id",
    query_id: str = "q_id",
    vec_col: str = "embedding",
    query_vec_col: str = "q_embedding",
) -> DataFrame:
    """MMR diversified top-``select`` over a ``shortlist``-size exact-kNN
    shortlist → (q_id, mmr_rank, vec_id, rel_i64), λ = 0.5.

    With λ = 0.5 the greedy objective  λ·rel − (1−λ)·max-sim-to-selected
    ranks identically to  rel_i64 − max_sim_i64  — pure int64 fixed-point
    arithmetic end to end (quantization happens IN SPARK via
    ``kernel.quantize``, the knn_exact pattern, so no Python rounding
    can diverge from the oracle's CAST(ROUND(x·1e6)) twin).

    Scale shape: knn_exact scans the corpus in place (no shuffle, per
    batch top-k) → shortlist is |Q|·shortlist rows; the greedy loop is
    applyInPandas over per-query groups of ``shortlist`` rows, each group
    O(shortlist²·dim) in one numpy matmul — constant per query.
    """
    import numpy as np
    import pandas as pd

    from backend_fastapi_spark.operators.vector import knn_exact

    top = knn_exact(
        corpus,
        queries,
        k=shortlist,
        corpus_id=corpus_id,
        query_id=query_id,
        vec_col=vec_col,
        query_vec_col=query_vec_col,
    ).select(
        F.col(query_id).alias("_qid"),
        F.col(corpus_id).alias("_cid"),
        F.col("score_i64").alias("rel_i64"),
        quantize(F.col(vec_col)).alias("_cv"),
    )

    qid_ddl = dict(zip(queries.schema.names, queries.schema))[
        query_id
    ].dataType.simpleString()
    cid_ddl = dict(zip(corpus.schema.names, corpus.schema))[
        corpus_id
    ].dataType.simpleString()
    out_schema = (
        f"{query_id} {qid_ddl}, mmr_rank int, {corpus_id} {cid_ddl}, "
        "rel_i64 long"
    )
    n_sel = int(select)

    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        qid = pdf["_qid"].iloc[0]
        ids = pdf["_cid"].to_numpy()
        rel = pdf["rel_i64"].to_numpy(dtype=np.int64)
        # pairwise dots, integer-exact inside the kernel's envelope
        # (raising outside it, ADVICE r11)
        m = stack(pdf["_cv"])
        sim = gram(m, m).astype(np.int64)
        # deterministic candidate order (id asc) so np argmax tie-breaks
        # on id exactly like the oracle's ORDER BY ... vec_id ASC
        order = np.argsort(ids, kind="stable")
        ids, rel, sim = ids[order], rel[order], sim[order][:, order]
        picked: list[int] = []
        # step 0: pure relevance (no selected set yet)
        cur = int(np.argmax(rel))  # argmax returns FIRST max → id asc
        picked.append(cur)
        remaining = [i for i in range(len(ids)) if i != cur]
        while remaining and len(picked) < n_sel:
            max_sim = sim[np.ix_(remaining, picked)].max(axis=1)
            mmr = rel[remaining] - max_sim
            j = int(np.argmax(mmr))
            picked.append(remaining[j])
            remaining.pop(j)
        return pd.DataFrame(
            {
                query_id: [qid] * len(picked),
                "mmr_rank": np.arange(len(picked), dtype=np.int32),
                corpus_id: ids[picked],
                "rel_i64": rel[picked],
            }
        )

    return top.groupBy("_qid").applyInPandas(greedy, schema=out_schema)
