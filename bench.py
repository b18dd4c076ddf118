#!/usr/bin/env python
"""Headline benchmark: runs the engine's flagship queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Each query is executed to completion (count() forces the full plan; results
stay distributed — no driver-side collect of payload rows).

Output contract (VERDICT r05 directive #1 — the driver captures only the
LAST ~2,000 chars of stdout, and round 5's everything-in-one-line artifact
truncated past parseability):
  - stdout, FINAL line: the compact headline object ONLY —
    {"metric", "value", "unit", "queries", "sf"} (~1 KB, well under the
    driver's tail window).
  - sidecar BENCH_CONTEXT_r{N}.json (committed, repo root): everything
    needed to read a swing without re-running — "data" (per-table
    row/byte counts, makes a testdata regeneration visible),
    "cardinalities" (result rows per timed query), "cc_stats"
    (edges/rounds per connected-components query, cost ∝ edges × rounds),
    "extra_queries" (corpus-pipeline set), and the optional "sf1_*"
    10×-scale stanzas (VERDICT r05 directive #5).
  N = 1 + max existing BENCH_r*.json round, i.e. the round whose BENCH
  artifact the driver is about to write; override with $SPARK_GRAFT_ROUND.

Timeout survivability (VERDICT r11 — the round-11 driver artifact was
EMPTY because everything was emitted once, at the very end, of a run the
driver's wall-clock limit killed mid-sf10):
  - the sidecar is flushed after EVERY section/stanza (atomic
    temp+rename), so a killed run still leaves everything completed;
  - the parsable headline line prints IMMEDIATELY after the sf0.1
    headline section (and again as the final line — the driver tails
    stdout, so the last print wins when the run completes);
  - every section past the sf0.1 extras runs under a wall-clock budget
    ($SPARK_GRAFT_BENCH_BUDGET_S, default 3000 s — under the driver's
    observed ~1 h limit): a stanza whose cost estimate no longer fits is
    SKIPPED AND LOGGED in the sidecar ("skipped_stanzas" — the
    no-silent-caps rule), and scale stanzas run oldest-evidence-first
    (rotation computed from the committed BENCH_CONTEXT history), so
    whatever evidence is most stale gets the budget first.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
import time

from backend_fastapi_spark.core.session import get_spark
from backend_fastapi_spark import queries as Q
from backend_fastapi_spark.operators import dedup as D
from backend_fastapi_spark.operators.util import local_frame

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# Headline set: one per major operator family (join/agg/window/sort/vector/
# text). Kept stable across rounds so BENCH_r{N}.json is comparable.
HEADLINE = [
    "user_context_star",
    "pricing_summary",
    "region_revenue",
    "per_customer_top3_orders",
    "daily_value_by_type",
    "diversified_docs",
    "multi_key_sort",
    "keyword_or_filter",
    "knn_batch_top5",
    "embedding_near_dup",
    "chunk_documents",
    "ngram_jaccard_dupes",
    "minhash_lsh_candidates",
    "lang_quality_score",
    "rag_retrieval_pipeline",
    "sessionize_events",
    "ts_interpolated",
    "customer_360",
    "simhash_pairs",
]

# Round-2+ corpus-pipeline operators, timed separately so the headline
# total stays comparable to BENCH_r01.
EXTRA = [
    "dup_clusters",
    "dedup_canonical_corpus",
    "embedding_near_dup_rp",
    "embedding_near_dup_rp_sized",
    "ann_ivf_deterministic",
    "ann_pq_adc_top10",
    "ann_ivfpq_top10",
    "hll_distinct_deterministic",
    "cms_heavy_users_deterministic",
    "bottomk_sample_quantiles",
    "winnow_near_dup",
    "semantic_dedup_pairs",
    "kmv_set_similarity",
    "bloom_prejoin_stats",
    "temperature_sample_langs",
    "incremental_dedup_batch",
    "scd2_customer_merge",
    "corpus_curation_pipeline",
    "pii_scrub_stats",
    "decontaminate_test_split",
    "gopher_repetition_filter",
    "train_test_split_counts",
    "weighted_sample_docs",
    "multimodal_feature_stats",
    "events_burst_60s",
    "funnel_conversion",
    "shipping_priority",
    "returned_items_by_customer",
    "next_order_asof_forward",
    # round 9 additions
    "ann_rp_topk",
    "sentence_segments",
    "bootstrap_personal_store",
    "ivf_append_audit",
    "zorder_skipping",
    # round 8 additions
    "incremental_dedup_via_state",
    "dup_clusters_minhash",
    "ann_ivf_trained_top10",
    "dsir_importance_weights",
    "catalog_tables_rowcounts",
    "market_chart_bars",
    "index_sink_audit",
    # round 7 additions
    "semantic_dedup_union",
    "c4_quality_filter",
    "c4_span_dedup",
    "web_curation_pipeline",
    "hll_monthly_merge",
    "kmv_set_cardinalities",
    "maintenance_skipping",
    # round 11 additions — the lexical/hybrid retrieval family: the
    # postings build dominates bm25, the rank-list fusion is O(|Q|·50)
    "bm25_keyword_topk",
    "hybrid_rrf_topk",
    "mmr_diversified_topk",
    # and its persisted layouts (write + pruned search per run, the
    # index_sink_audit pattern; search-only timing in SCALING.md r11)
    "bm25_search_persisted",
    "bm25_postings_delta",
    "hybrid_search_persisted",
    # round 12: the full §3.1 serving chain over the persisted indexes
    # as one plan (retrieve → margin → diversify → pack → markers)
    "hybrid_rag_end_to_end",
]

# Queries whose plan runs connected_components — snapshot its stats.
CC_QUERIES = {"dup_clusters", "dedup_canonical_corpus", "dup_clusters_minhash"}


def data_stanza(spark, sf_dir: str) -> dict:
    """One count + directory size per table: makes a data regeneration
    visible in the artifact instead of inferred from commit messages."""
    out = {}
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if not os.path.exists(path):
            continue
        files = [path] if os.path.isfile(path) else glob.glob(f"{path}/**/*", recursive=True)
        out[t] = {
            "rows": spark.read.parquet(path).count(),
            "bytes": sum(os.path.getsize(f) for f in files if os.path.isfile(f)),
        }
    return out


def _plan_shuffle_stats(jplan) -> dict:
    """Sum the executed plan's SQLMetrics: shuffle bytes/records written
    across every Exchange, spill bytes, and parquet-scan output rows —
    the 'is there a shuffle that becomes the bottleneck at 100×' numbers,
    measured off the very execution that was just timed (the metrics are
    the count-run's accumulators). ReusedExchange nodes share the
    original's accumulators and are skipped to avoid double counting;
    AQE/QueryStage wrappers are descended into."""
    out = {"shuffle_bytes": 0, "shuffle_records": 0, "spill_bytes": 0,
           "exchanges": 0, "scan_rows": 0}

    def walk(node):
        nm = node.nodeName()
        if nm.startswith("ReusedExchange"):
            return
        is_exchange = nm.startswith("Exchange")
        if is_exchange:
            out["exchanges"] += 1
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            k, v = kv._1(), kv._2().value()
            if is_exchange and k == "shuffleBytesWritten":
                out["shuffle_bytes"] += v
            elif is_exchange and k == "shuffleRecordsWritten":
                out["shuffle_records"] += v
            elif k in ("spillSize", "diskBytesSpilled"):
                out["spill_bytes"] += v
            elif k == "numOutputRows" and nm.startswith("Scan"):
                out["scan_rows"] += v
        ch = node.children().iterator()
        while ch.hasNext():
            walk(ch.next())
        try:
            if nm == "AdaptiveSparkPlan":
                walk(node.executedPlan())
            elif "QueryStage" in node.getClass().getSimpleName():
                walk(node.plan())
        except Exception:
            pass

    walk(jplan)
    return out


def time_set(spark, names, sf_dir, runs, timings, cards, cc_stats, tag="",
             warmup=True, shuffle_stats=None, loads=None, warmups=None,
             job_counts=None):
    for name in names:
        spec = Q.REGISTRY.get(name)
        if spec is None:
            continue
        if warmup:  # JIT/codegen, footers
            t0 = time.perf_counter()
            rows = spec.fn(spark, sf_dir).count()
            if warmups is not None:
                # first-execution seconds: for the persisted-index
                # queries this is the one-time WRITE+search cost (the
                # queries.py build-once cache makes the timed runs below
                # search-only — VERDICT r11 wrong #3), reported once
                # here instead of silently inflating the min-of-N
                warmups[name] = round(time.perf_counter() - t0, 3)
        best = float("inf")
        cdf = None
        for i in range(runs):  # min-of-N damps transient host noise
            # Spark jobs per timed execution (VERDICT r13 #8): every job
            # is a driver round-trip — a barrier of scheduler latency the
            # query pays at ANY scale — so the count is the structural
            # "how many actions/collect gates does this plan hide"
            # number. Measured on the last run via a per-run job group
            # (construction-time collects/checkpoints land in the same
            # group, so eager probe/CC work is counted too).
            group = f"bench-{name}-{i}"
            spark.sparkContext.setJobGroup(group, name)
            t0 = time.perf_counter()
            # same plan Dataset.count() runs (global agg + 1-row collect),
            # but keeping the handle lets the shuffle scrape read the
            # timed execution's own metrics afterwards.
            cdf = spec.fn(spark, sf_dir).groupBy().count()
            rows = int(cdf.collect()[0][0])
            best = min(best, time.perf_counter() - t0)
            if job_counts is not None and i == runs - 1:
                try:
                    ids = spark.sparkContext.statusTracker().getJobIdsForGroup(
                        group
                    )
                    job_counts[name] = len(ids)
                except Exception:
                    pass
            # clears the description too, which would otherwise tag
            # every later job on this thread
            spark.sparkContext.setJobGroup(None, None)
        timings[name] = round(best, 3)
        cards[name] = rows
        if loads is not None:
            # loadavg(1m) right after the timed run: round-over-round
            # drift stays attributable per QUERY, not just per session
            # (VERDICT r08 directive #7 — the r8 +8.7% entered at
            # gate-pass load 2.77 with no per-query attribution).
            loads[name] = round(os.getloadavg()[0], 2)
        if shuffle_stats is not None and cdf is not None:
            try:
                s = _plan_shuffle_stats(cdf._jdf.queryExecution().executedPlan())
                shuffle_stats[name] = {
                    "shuffle_mb": round(s["shuffle_bytes"] / 1e6, 2),
                    "shuffle_records": s["shuffle_records"],
                    "spill_mb": round(s["spill_bytes"] / 1e6, 2),
                    "exchanges": s["exchanges"],
                    "scan_rows": s["scan_rows"],
                }
            except Exception as e:  # metrics are best-effort, never fail the bench
                shuffle_stats[name] = {"err": str(e)[:120]}
        # last_cc_stats() is thread-local: this snapshot is attributable
        # to the query just timed on THIS thread (ADVICE r05 #1).
        stats = D.last_cc_stats()
        if name in CC_QUERIES and stats:
            cc_stats[name] = {
                k: v for k, v in stats.items() if k != "changed_per_round"
            } | {"changed_per_round": list(stats["changed_per_round"])}
        print(f"# {tag}{name}: {timings[name]:.3f}s rows={rows}", file=sys.stderr)


def ivf_probe_stanza(spark, sf_dir: str, k_clusters: int | None = None,
                     k: int = 10, n_queries: int = 16,
                     nprobes: tuple = (1, 4, 8, 16, 32), emb=None) -> dict:
    """Persisted-IVF recall/latency curve at 100x corpus scale (VERDICT
    r07 directive #4): build an MLlib-KMeans IVF index over the sf10
    embeddings, persist it partitioned by cluster, then probe recording
    wall time and recall@10 against the exact top-10 (same fixed-point
    dot scorer). The FAISS-IVF serving claim measured: probed scan cost
    ∝ nprobe/k_clusters, recall → 1.

    k_clusters=None sizes the index with ivf.k_clusters_for(n) ≈ √n
    (VERDICT r08 directive #1 — the r8 curve ran k=64 for 200k vectors
    and paid a 25% scan for 0.75 recall; √n makes the same nprobe a
    nprobe/√n scan fraction) and bounds the KMeans fit to a 64·k
    deterministic sample (FAISS-style coarse-quantizer training).
    ``emb`` lets the clustered-ANN stanza reuse this probe loop on a
    generated corpus instead of the sf tables."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from backend_fastapi_spark.operators.ivf import (
        build_ivf, ivf_search_persisted, k_clusters_for, write_ivf_index)
    from backend_fastapi_spark.operators.vector import knn_exact
    from backend_fastapi_spark.sources.parquet import read_table

    if emb is None:
        emb = read_table(spark, sf_dir, "embeddings").select(
            "vec_id", "embedding")
    n_vec = emb.count()
    sized = k_clusters is None
    if sized:
        k_clusters = k_clusters_for(n_vec)
    # Deterministic query set: the n_queries smallest vec_ids, frozen to
    # a local relation so each probe pass pays index IO, not query scans.
    q = emb.orderBy("vec_id").limit(n_queries).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_embedding")
    )
    queries = local_frame(spark, q.collect(), q.schema)

    t0 = time.perf_counter()
    assigned, centroids = build_ivf(
        emb, k_clusters=k_clusters,
        train_sample_rows=64 * k_clusters if sized else None,
    )
    path = tempfile.mkdtemp(prefix="bench_ivf_")
    write_ivf_index(assigned, centroids, path)
    build_s = round(time.perf_counter() - t0, 3)

    exact = {
        (r["q_id"], r["vec_id"])
        for r in knn_exact(emb, queries, k=k, exclude_self=False).collect()
    }
    out: dict = {"n_vectors": n_vec, "k_clusters": k_clusters, "k": k,
                 "sizing": "k_clusters_for(n)~sqrt(n), fit on 64k-row sample"
                           if sized else "fixed",
                 "n_queries": n_queries, "build_and_write_s": build_s,
                 "probe": {}}
    try:
        for nprobe in nprobes:
            t0 = time.perf_counter()
            got = ivf_search_persisted(
                spark, path, queries, k=k, nprobe=nprobe
            ).collect()
            dt = round(time.perf_counter() - t0, 3)
            hits = sum(1 for r in got if (r["q_id"], r["vec_id"]) in exact)
            rec = round(hits / max(len(exact), 1), 4)
            # Vectors scored PER QUERY (its own nprobe partitions): at
            # local scale wall time is dominated by fixed per-job
            # overhead, so THIS is the number that carries the cost ∝
            # nprobe/k_clusters serving claim — what one query's pruned
            # scan pays IO for on a 1000-executor cluster. The union
            # across the whole 16-query batch (what THIS batch run
            # reads once) is recorded alongside.
            probe_df = knn_exact(
                spark.read.parquet(f"{path}/centroids").withColumnRenamed(
                    "centroid", "embedding"),
                queries, k=nprobe, corpus_id="cluster", metric="l2",
                exclude_self=False,
            ).select("q_id", "cluster")
            sizes = (
                spark.read.parquet(f"{path}/lists")
                .groupBy("cluster").count()
            )
            per_q = (
                probe_df.join(sizes, "cluster")
                .groupBy("q_id").agg(F.sum("count").alias("rows"))
                .agg(F.avg("rows")).collect()[0][0]
            )
            union_scanned = (
                probe_df.select("cluster").distinct()
                .join(sizes, "cluster")
                .agg(F.sum("count")).collect()[0][0]
            )
            out["probe"][str(nprobe)] = {
                "sec": dt, "recall_at_10": rec,
                "rows_scored_per_query": int(per_q),
                "scan_frac_per_query": round(per_q / max(n_vec, 1), 4),
                "rows_batch_union": int(union_scanned),
            }
            print(f"# ivf-probe nprobe={nprobe}: {dt:.3f}s recall@10={rec} "
                  f"rows/q={int(per_q)}", file=sys.stderr)

        # Adaptive probe (round 13): the ratio test (alpha=3/2, capped
        # at nprobe_max) on the SAME persisted index — probed rows per
        # query should undercut the fixed-nprobe point of comparable
        # recall, because decisive queries stop at 1 list.
        from backend_fastapi_spark.operators.ivf import (
            ivf_search_persisted_adaptive)
        from backend_fastapi_spark.operators.vector import (
            knn_exact as _knn)

        for nprobe_max in (8, 32):
            t0 = time.perf_counter()
            got = ivf_search_persisted_adaptive(
                spark, path, queries, k=k, nprobe_max=nprobe_max,
                alpha_num=3, alpha_den=2,
            ).collect()
            dt = round(time.perf_counter() - t0, 3)
            hits = sum(1 for r in got if (r["q_id"], r["vec_id"]) in exact)
            rec = round(hits / max(len(exact), 1), 4)
            cand = _knn(
                spark.read.parquet(f"{path}/centroids").withColumnRenamed(
                    "centroid", "embedding"),
                queries, k=nprobe_max, corpus_id="cluster", metric="l2",
                exclude_self=False,
            )
            from pyspark.sql import Window as _W
            dmin = F.min("score_i64").over(_W.partitionBy("q_id"))
            probe_df = (
                cand.withColumn("_dmin", dmin)
                .filter(F.col("score_i64").cast("decimal(38,0)") * 2
                        <= F.col("_dmin").cast("decimal(38,0)") * 3)
                .select("q_id", "cluster")
            )
            sizes = (
                spark.read.parquet(f"{path}/lists")
                .groupBy("cluster").count()
            )
            stats = (
                probe_df.join(sizes, "cluster")
                .groupBy("q_id")
                .agg(F.sum("count").alias("rows"),
                     F.count(F.lit(1)).alias("nprobed"))
                .agg(F.avg("rows"), F.avg("nprobed")).collect()[0]
            )
            out["probe"][f"adaptive_max{nprobe_max}"] = {
                "sec": dt, "recall_at_10": rec,
                "rows_scored_per_query": int(stats[0]),
                "scan_frac_per_query": round(stats[0] / max(n_vec, 1), 4),
                "avg_lists_probed_per_query": round(float(stats[1]), 2),
            }
            print(f"# ivf-probe adaptive(max={nprobe_max}): {dt:.3f}s "
                  f"recall@10={rec} rows/q={int(stats[0])} "
                  f"lists/q={float(stats[1]):.1f}", file=sys.stderr)
    finally:
        shutil.rmtree(path, ignore_errors=True)
    return out


def ivf_delta_curve_stanza(spark, sf_dir: str,
                           checkpoints: tuple = (1, 8, 64, 256),
                           batch_rows: int = 64, nprobe: int = 8,
                           n_queries: int = 8, k: int = 10) -> dict:
    """Delta-segment accumulation cost curve + fold recovery (VERDICT r09
    directive #2): ``stream_ivf_append`` lands one delta segment per
    micro-batch, and ``read_ivf_lists`` unions every live segment — at
    streaming rates that is thousands of segments between maintenance
    passes, and per-segment file listing / scan setup dominates search
    long before data volume does. This stanza MEASURES that decay
    (probed search seconds at 1/8/64/256 accumulated segments, auto-fold
    disabled by driving ``ivf_append`` directly), then runs
    ``fold_deltas`` and records the post-fold recovery — the numbers
    behind ``should_compact``'s DELTA_SEGMENT_CAP.

    Append batches are pre-staged once as a seg-partitioned parquet dir
    so the grow loop reads each 64-row batch distributed (no driver
    literal of 16k vectors); per-append seconds are recorded per
    checkpoint interval — flat append cost (O(batch), never O(index)) is
    part of the claim."""
    import shutil
    import tempfile

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from backend_fastapi_spark.operators.ivf import (
        build_ivf, delta_stats, fold_deltas, ivf_search_persisted,
        k_clusters_for, should_compact, write_ivf_index)
    from backend_fastapi_spark.sources.parquet import read_table

    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding")
    n_vec = emb.count()
    k_clusters = k_clusters_for(n_vec)
    q = emb.orderBy("vec_id").limit(n_queries).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_embedding")
    )
    queries = local_frame(spark, q.collect(), q.schema)

    t0 = time.perf_counter()
    assigned, centroids = build_ivf(
        emb, k_clusters=k_clusters, train_sample_rows=64 * k_clusters
    )
    path = tempfile.mkdtemp(prefix="bench_ivf_delta_")
    write_ivf_index(assigned, centroids, path)
    build_s = round(time.perf_counter() - t0, 3)

    # stage the append batches: seg-partitioned slices of the corpus with
    # shifted ids (distinct from the base index's)
    n_batches = max(checkpoints)
    src = tempfile.mkdtemp(prefix="bench_ivf_src_")
    w = Window.orderBy("vec_id")
    (
        emb.limit(batch_rows * n_batches)
        .withColumn("_rn", F.row_number().over(w) - 1)
        .select(
            (F.col("vec_id") + 10_000_000).alias("vec_id"),
            "embedding",
            (F.col("_rn") % n_batches).alias("seg"),
        )
        .write.partitionBy("seg").mode("overwrite").parquet(src)
    )

    def timed_search() -> tuple[float, float]:
        times = []
        for _ in range(2):
            t0 = time.perf_counter()
            ivf_search_persisted(
                spark, path, queries, k=k, nprobe=nprobe
            ).collect()
            times.append(round(time.perf_counter() - t0, 3))
        return times[0], times[1]  # (cold-ish, warm)

    from backend_fastapi_spark.operators.ivf import ivf_append

    out: dict = {"n_vectors": n_vec, "k_clusters": k_clusters,
                 "nprobe": nprobe, "batch_rows": batch_rows,
                 "build_and_write_s": build_s, "curve": {}}
    s0_cold, s0_warm = timed_search()
    out["curve"]["0"] = {"search_cold_s": s0_cold, "search_warm_s": s0_warm}
    done = 0
    for ckpt in sorted(checkpoints):
        t0 = time.perf_counter()
        for i in range(done, ckpt):
            ivf_append(
                spark, path, spark.read.parquet(f"{src}/seg={i}"),
                batch_token=i,
            )
        append_s = round(time.perf_counter() - t0, 3)
        n_appended = ckpt - done
        done = ckpt
        n_d, d_bytes, b_bytes = delta_stats(spark, path)
        cold, warm = timed_search()
        out["curve"][str(ckpt)] = {
            "search_cold_s": cold, "search_warm_s": warm,
            "append_s_per_batch": round(append_s / max(n_appended, 1), 3),
            "n_live_segments": n_d, "delta_bytes": d_bytes,
            "base_bytes": b_bytes,
            "should_compact": should_compact(n_d, d_bytes, b_bytes),
        }
        print(f"# ivf-delta n={ckpt}: search {warm:.3f}s warm "
              f"(append {append_s / max(n_appended, 1):.3f}s/batch)",
              file=sys.stderr)
    t0 = time.perf_counter()
    n_folded = fold_deltas(spark, path)
    fold_s = round(time.perf_counter() - t0, 3)
    cold, warm = timed_search()
    n_d, d_bytes, b_bytes = delta_stats(spark, path)
    out["fold"] = {
        "n_folded": n_folded, "fold_s": fold_s,
        "search_cold_s": cold, "search_warm_s": warm,
        "n_live_segments": n_d,
    }
    print(f"# ivf-delta fold: {n_folded} segments in {fold_s:.3f}s, "
          f"search back to {warm:.3f}s", file=sys.stderr)
    shutil.rmtree(path, ignore_errors=True)
    shutil.rmtree(src, ignore_errors=True)
    return out


def clustered_ann_stanza(spark, n: int = 200_000, dim: int = 64,
                         n_centers: int = 256, sigma: float = 0.09,
                         n_queries: int = 16, k: int = 10) -> dict:
    """ANN recall on REALISTICALLY CLUSTERED embeddings (VERDICT r08
    directive #2): the sf tables' synthetic embeddings are near-uniform —
    IVF's worst case — so the committed probe curve understates the
    component. Generate a deterministic mixture-of-Gaussians corpus
    (256 unit-norm centers, per-vector noise seeded by vec_id — no
    session RNG, same bytes every run), persist it under .scaledata/
    (bench-only, gitignored, regenerated when absent), and record the
    sized-IVF probe curve and the deterministic RP-LSH top-k recall side
    by side against the exact top-10."""
    import numpy as np

    # repo-anchored like _MAINT_ROOT/_INDEX_ROOT: a bench run from
    # another cwd must hit the same cache and stay gitignored
    # Cache key carries EVERY generation parameter (ADVICE r09): a stanza
    # re-run with a different dim/n_centers/sigma must regenerate, never
    # silently reuse a corpus built under other parameters.
    sig_tag = f"{sigma:g}".replace(".", "p")
    mog_dir = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        ".scaledata",
        f"mog{n // 1000}k_d{dim}_c{n_centers}_s{sig_tag}.parquet",
    )
    t0 = time.perf_counter()
    if not os.path.isdir(mog_dir):
        rng = np.random.default_rng(42)
        centers = rng.normal(size=(n_centers, dim))
        centers /= np.linalg.norm(centers, axis=1, keepdims=True)

        def gen(batches):
            import pandas as pd

            for pdf in batches:
                ids = pdf["id"].to_numpy()
                out = np.empty((len(ids), dim))
                for i, vid in enumerate(ids):
                    # per-row generator seeded by the id: batching and
                    # partitioning cannot change a single byte
                    r = np.random.default_rng(int(vid))
                    out[i] = (
                        centers[int(vid) % n_centers]
                        + sigma * r.standard_normal(dim)
                    )
                out /= np.linalg.norm(out, axis=1, keepdims=True)
                yield pd.DataFrame(
                    {"vec_id": ids,
                     "embedding": [row.astype(np.float32) for row in out]}
                )

        (
            spark.range(n)
            .repartition(32)
            .mapInPandas(gen, schema="vec_id long, embedding array<float>")
            .write.mode("overwrite")
            .parquet(mog_dir)
        )
    gen_s = round(time.perf_counter() - t0, 3)

    emb = spark.read.parquet(mog_dir)
    out = {
        "corpus": {"n": n, "dim": dim, "n_centers": n_centers,
                   "sigma": sigma, "gen_s": gen_s},
        **ann_recall_curves(spark, emb, n_queries=n_queries, k=k,
                            tag="clustered-ann"),
    }
    return out


def ann_recall_curves(spark, emb, n_queries: int = 16, k: int = 10,
                      tag: str = "ann") -> dict:
    """Shared recall measurement over any (vec_id, embedding) corpus:
    the sized-IVF persisted probe curve and the deterministic RP-LSH
    top-k recalls, both against the exact fixed-point top-k. Used by the
    mixture-of-Gaussians ceiling (clustered_ann), the near-uniform floor
    (sf10_ivf_probe on the testdata embeddings), and the text-derived
    mid-envelope point (text_ann)."""
    from pyspark.sql import functions as F

    from backend_fastapi_spark.operators.lsh import rp_size_for, rp_topk
    from backend_fastapi_spark.operators.vector import knn_exact

    n = emb.count()
    q = emb.orderBy("vec_id").limit(n_queries).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_embedding")
    )
    queries = local_frame(spark, q.collect(), q.schema)
    exact = {
        (r["q_id"], r["vec_id"])
        for r in knn_exact(emb, queries, k=k, exclude_self=False).collect()
    }

    out = {
        "ivf": ivf_probe_stanza(spark, "", emb=emb, k=k,
                                n_queries=n_queries),
        "rp_topk": {},
    }
    _, planes = rp_size_for(n)
    for n_tables, multiprobe in ((4, 0), (8, 0), (16, 0), (8, 8)):
        t0 = time.perf_counter()
        got = rp_topk(emb, queries, k=k, n_tables=n_tables,
                      n_planes=planes, multiprobe=multiprobe).collect()
        dt = round(time.perf_counter() - t0, 3)
        hits = sum(1 for r in got if (r["q_id"], r["vec_id"]) in exact)
        # probed fraction per query ≈ tables · (1+multiprobe) · n/2^planes
        tag_mp = f"{n_tables}x{planes}" + (f"+mp{multiprobe}"
                                           if multiprobe else "")
        out["rp_topk"][tag_mp] = {
            "sec": dt,
            "recall_at_10": round(hits / max(len(exact), 1), 4),
            "expected_scan_frac": round(
                n_tables * (1 + multiprobe) / (1 << planes), 4),
        }
        print(f"# {tag} rp {tag_mp}: {dt:.3f}s "
              f"recall@10={hits / max(len(exact), 1):.3f}", file=sys.stderr)
    return out


def _text_corpus(spark, sf_dir: str, dim: int = 64):
    """(emb DataFrame, gen seconds): the deterministic text-derived
    embedding corpus (seeded md5 feature-hash projection over the
    documents table — functions/embedder.py), cached under .scaledata
    keyed by corpus+dim; regenerated when absent. Shared by text_ann
    and text_ann_sq8."""
    from pyspark.sql import functions as F

    from backend_fastapi_spark.functions.embedder import hashing_embedder
    from backend_fastapi_spark.sources.parquet import read_table

    corpus_tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    cache = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        ".scaledata", f"textemb_{corpus_tag}_d{dim}.parquet",
    )
    t0 = time.perf_counter()
    if not os.path.isdir(cache):
        embed = hashing_embedder(dim=dim)
        (
            read_table(spark, sf_dir, "documents")
            .select(
                F.col("doc_id").alias("vec_id"),
                embed(F.regexp_replace("text", "[^ -~]", " "))
                .alias("embedding"),
            )
            .write.mode("overwrite").parquet(cache)
        )
    gen_s = round(time.perf_counter() - t0, 3)
    return spark.read.parquet(cache), corpus_tag, gen_s


def text_ann_stanza(spark, sf_dir: str, dim: int = 64) -> dict:
    """The MIDDLE of the ANN recall envelope (VERDICT r09 directive #4):
    embeddings derived deterministically from the documents TEXT (the
    seeded md5 feature-hash projection — functions/embedder.py, the same
    surrogate the correctness oracles certify), so the corpus carries
    whatever cluster structure the text actually has — between the
    near-uniform testdata floor (recall ≈ scan fraction) and the
    mixture-of-Gaussians ceiling (recall 1.0 at a 1% scan)."""
    emb, corpus_tag, gen_s = _text_corpus(spark, sf_dir, dim)
    return {
        "corpus": {"source": f"{corpus_tag}/documents", "dim": dim,
                   "n": emb.count(), "embedder": "md5 feature hash",
                   "gen_s": gen_s},
        **ann_recall_curves(spark, emb, tag="text-ann"),
    }


def _probed_column_bytes(path: str, clusters, cols) -> int:
    """Compressed bytes of ``cols`` across the probed cluster partitions,
    from the parquet footers — the IO a column- and partition-pruned
    candidate scan actually pays (the same audit as
    tests/test_api.py::test_ivf_sq8_layout_byte_ratio, scoped to the
    probed partitions)."""
    import pyarrow.parquet as pq

    total = 0
    for c in clusters:
        cdir = f"{path}/lists/cluster={c}"
        if not os.path.isdir(cdir):
            continue
        for root, _dirs, files in os.walk(cdir):
            for f in files:
                if not f.endswith(".parquet"):
                    continue
                md = pq.ParquetFile(os.path.join(root, f)).metadata
                for rg in range(md.num_row_groups):
                    for ci in range(md.row_group(rg).num_columns):
                        col = md.row_group(rg).column(ci)
                        if col.path_in_schema.split(".")[0] in cols:
                            total += col.total_compressed_size
    return total


def text_ann_sq8_stanza(spark, sf_dir: str, dim: int = 64,
                        n_queries: int = 16, k: int = 10,
                        rerank: int = 4,
                        nprobes: tuple = (4, 8, 16, 32)) -> dict:
    """SQ8 measured AT SCALE (VERDICT r10 directive #2): the same sized
    IVF index over the 500k-vector text corpus persisted twice — plain
    (write_ivf_index) and IVFx,SQ8 (write_ivf_sq8_index), identical
    centroids and assignment — searched with the same queries over the
    same nprobe grid. Per point: warm seconds for both layouts, the
    footer-audited candidate-scan bytes each layout's probed+pruned
    scan pays (plain reads id+cluster+embedding; SQ8 reads
    id+cluster+scale_fx+code and re-reads embeddings only for the
    rerank*k shortlist), and recall@10 of both against the exact
    fixed-point top-k — the int8-rounding recall delta at fixed rerank.
    This is where the ~3.3x byte win does or does not become a
    wall-clock win (reference analog: FAISS quantized indexes replacing
    the flat index, enhanced_internal_db_service.py:602-608)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from backend_fastapi_spark.operators.ivf import (
        build_ivf, ivf_search_persisted, ivf_sq8_search_persisted,
        k_clusters_for, write_ivf_index, write_ivf_sq8_index)
    from backend_fastapi_spark.operators.vector import knn_exact

    emb, corpus_tag, gen_s = _text_corpus(spark, sf_dir, dim)
    n = emb.count()
    k_clusters = k_clusters_for(n)
    q = emb.orderBy("vec_id").limit(n_queries).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_embedding")
    )
    queries = local_frame(spark, q.collect(), q.schema)
    exact = {
        (r["q_id"], r["vec_id"])
        for r in knn_exact(emb, queries, k=k, exclude_self=False).collect()
    }

    t0 = time.perf_counter()
    assigned, centroids = build_ivf(
        emb, k_clusters=k_clusters, train_sample_rows=64 * k_clusters
    )
    root = tempfile.mkdtemp(prefix="bench_textann_sq8_")
    plain_path, sq8_path = f"{root}/plain", f"{root}/sq8"
    write_ivf_index(assigned, centroids, plain_path)
    build_plain_s = round(time.perf_counter() - t0, 3)
    t0 = time.perf_counter()
    write_ivf_sq8_index(assigned, centroids, sq8_path)
    write_sq8_s = round(time.perf_counter() - t0, 3)

    out: dict = {
        "corpus": {"source": f"{corpus_tag}/documents", "n": n, "dim": dim,
                   "gen_s": gen_s},
        "k_clusters": k_clusters, "rerank": rerank,
        "build_plain_s": build_plain_s, "write_sq8_s": write_sq8_s,
        "points": {},
    }
    try:
        for nprobe in nprobes:
            # the probed clusters this query set actually touches (same
            # centroid argmin both searches run) — the byte audit's scope
            probe = knn_exact(
                centroids.withColumnRenamed("centroid", "embedding"),
                queries, k=nprobe, corpus_id="cluster", metric="l2",
                exclude_self=False,
            ).select("cluster").distinct().collect()
            probed = [int(r["cluster"]) for r in probe]
            entry: dict = {
                "probed_clusters": len(probed),
                "scan_frac": round(len(probed) / k_clusters, 4),
                "plain_scan_mb": round(_probed_column_bytes(
                    plain_path, probed,
                    {"vec_id", "embedding"}) / 1e6, 2),
                "sq8_scan_mb": round(_probed_column_bytes(
                    sq8_path, probed,
                    {"vec_id", "scale_fx", "code"}) / 1e6, 2),
            }
            for tag_, fn in (
                ("plain", lambda: ivf_search_persisted(
                    spark, plain_path, queries, k=k, nprobe=nprobe)),
                ("sq8", lambda: ivf_sq8_search_persisted(
                    spark, sq8_path, queries, k=k, nprobe=nprobe,
                    rerank=rerank)),
            ):
                times, got = [], None
                for _ in range(2):
                    t0 = time.perf_counter()
                    got = fn().collect()
                    times.append(round(time.perf_counter() - t0, 3))
                hits = sum(
                    1 for r in got if (r["q_id"], r["vec_id"]) in exact
                )
                entry[f"{tag_}_warm_s"] = times[1]
                entry[f"{tag_}_recall_at_{k}"] = round(
                    hits / max(len(exact), 1), 4
                )
            out["points"][str(nprobe)] = entry
            print(f"# text-ann-sq8 nprobe={nprobe}: plain "
                  f"{entry['plain_warm_s']:.3f}s/{entry['plain_scan_mb']}MB "
                  f"r={entry[f'plain_recall_at_{k}']} | sq8 "
                  f"{entry['sq8_warm_s']:.3f}s/{entry['sq8_scan_mb']}MB "
                  f"r={entry[f'sq8_recall_at_{k}']}", file=sys.stderr)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out


def ivf_rebuild_stanza(spark, sf_dir: str) -> dict:
    """The rebuild-under-stream handoff TIMED at sf10 (VERDICT r10
    directive #3): grow an index's delta mass past the byte-ratio bound
    (maintenance_action == "rebuild" — the state the stream warns on),
    run ``rebuild_ivf_index`` (stage + retrain + overwrite = the new
    epoch), and record rebuild seconds alongside pre/post warm search —
    the operational numbers behind the fold policy's rebuild arm.
    Semantics (no loss/double-count across the epoch, resume against
    new centroids) are test-proven
    (test_rebuild_under_stream_handoff); this stanza prices the op."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from backend_fastapi_spark.operators.ivf import (
        build_ivf, delta_stats, ivf_append, ivf_search_persisted,
        k_clusters_for, maintenance_action, read_ivf_lists,
        rebuild_ivf_index, write_ivf_index)
    from backend_fastapi_spark.sources.parquet import read_table

    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding")
    # id shifts derive from the ACTUAL max id: the generated scale
    # corpora have sparse id domains (see scaledata notes), so a fixed
    # +1e8 shift can collide with real ids and break the
    # disjoint-range assertions below
    off = int(emb.agg(F.max("vec_id")).head()[0]) + 1
    base = emb.filter(F.col("vec_id") % 4 == 0)
    n_base = base.count()
    k_clusters = k_clusters_for(n_base)
    q = emb.orderBy("vec_id").limit(8).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_embedding")
    )
    queries = local_frame(spark, q.collect(), q.schema)

    t0 = time.perf_counter()
    assigned, centroids = build_ivf(
        base, k_clusters=k_clusters, train_sample_rows=64 * k_clusters
    )
    path = tempfile.mkdtemp(prefix="bench_ivf_rebuild_")
    write_ivf_index(assigned, centroids, path)
    build_s = round(time.perf_counter() - t0, 3)

    def warm_search() -> float:
        times = []
        for _ in range(2):
            t0 = time.perf_counter()
            ivf_search_persisted(spark, path, queries, k=10, nprobe=8
                                 ).collect()
            times.append(round(time.perf_counter() - t0, 3))
        return times[1]

    out: dict = {"n_base": n_base, "k_clusters": k_clusters,
                 "build_and_write_s": build_s}
    try:
        # big appends (each O(batch)) until the delta mass is
        # rebuild-sized — two quarters of the corpus against a quarter
        appended = 0
        token = 0
        for m in (1, 2):
            batch = emb.filter(F.col("vec_id") % 4 == m).withColumn(
                "vec_id", F.col("vec_id") + off
            )
            t0 = time.perf_counter()
            ivf_append(spark, path, batch, batch_token=token)
            out[f"append{token}_s"] = round(time.perf_counter() - t0, 3)
            appended += batch.count()
            token += 1
            n_d, dbytes, bbytes = delta_stats(spark, path)
            if maintenance_action(n_d, dbytes, bbytes) == "rebuild":
                break
        n_d, dbytes, bbytes = delta_stats(spark, path)
        out["appended_rows"] = appended
        out["delta_byte_ratio"] = round(dbytes / max(bbytes, 1), 3)
        out["action"] = maintenance_action(n_d, dbytes, bbytes)
        out["search_pre_rebuild_warm_s"] = warm_search()
        n_before = read_ivf_lists(spark, path).count()

        t0 = time.perf_counter()
        info = rebuild_ivf_index(spark, path)
        out["rebuild_s"] = round(time.perf_counter() - t0, 3)
        out["rebuild_k_clusters"] = info["k_clusters"]
        n_after = read_ivf_lists(spark, path).count()
        out["rows_conserved"] = bool(n_before == n_after == n_base + appended)
        out["search_post_rebuild_warm_s"] = warm_search()

        # resume: one post-epoch append against the NEW centroids
        resume = emb.filter(F.col("vec_id") % 4 == 3).limit(1000).withColumn(
            "vec_id", F.col("vec_id") + 2 * off
        )
        t0 = time.perf_counter()
        ivf_append(spark, path, resume, batch_token=0)
        out["resume_append_s"] = round(time.perf_counter() - t0, 3)
        out["resume_rows_visible"] = bool(
            read_ivf_lists(spark, path)
            .filter(F.col("vec_id") >= 2 * off).count() == 1000
        )
        print(f"# ivf-rebuild: ratio {out['delta_byte_ratio']} -> "
              f"{out['action']}, rebuild {out['rebuild_s']:.1f}s, search "
              f"{out['search_pre_rebuild_warm_s']:.2f}s -> "
              f"{out['search_post_rebuild_warm_s']:.2f}s, conserved="
              f"{out['rows_conserved']}", file=sys.stderr)
    finally:
        shutil.rmtree(path, ignore_errors=True)
    return out


def postings_scale_stanza(spark, sf_dir: str, n_append_batches: int = 17,
                          append_rows: int = 2000) -> dict:
    """The persisted postings (lexical/BM25) index priced at sf10 doc
    scale (VERDICT r11 directive #5). Reference analog: the
    FULLTEXT(term, …) index the reference's ``knowledge`` table declares
    (init-db.sql:7-16) that its service layer never exploits — this
    stanza prices the engine's answer to it. Three measurements:

    (a) write-once cost + index footprint over the full documents table;
    (b) pruned-search cost vs query term count (1/4/16 terms): wall
        seconds warm, plus the byte mass of the touched bucket
        partitions (directory-level audit, the SQ8 stanza's discipline)
        against the whole index — the |buckets|/32 scan-fraction claim
        with numbers attached;
    (c) the maintenance arm: ``postings_append`` × n (past
        POSTINGS_SEGMENT_CAP), per-batch append seconds (flat, O(batch)),
        warm search at 0/mid/max live segments (the per-segment decay),
        then ``compact_postings`` timed with post-compact recovery."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from backend_fastapi_spark.operators.retrieval import (
        POSTINGS_SEGMENT_CAP, bm25_search_persisted, compact_postings,
        postings_append, postings_maintenance_action, py_term_bucket,
        write_postings_index)
    from backend_fastapi_spark.sources.parquet import read_table

    def tree_bytes(p: str) -> int:
        total = 0
        for root, _dirs, files in os.walk(p):
            for f in files:
                try:
                    total += os.path.getsize(os.path.join(root, f))
                except OSError:
                    pass
        return total

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    n_docs = docs.count()
    path = tempfile.mkdtemp(prefix="bench_postings_") + "/idx"
    out: dict = {"n_docs": n_docs}
    # the generated corpus' most frequent tokens (stable across sf):
    # 1-term and 4-term prefixes reuse the hash-green queries' term sets
    terms16 = ["vector", "stream", "window", "hash", "join", "row",
               "batch", "scan", "customer", "column", "filter", "small",
               "slow", "merge", "order", "line"]
    try:
        t0 = time.perf_counter()
        write_postings_index(docs, path, mode="overwrite")
        out["write_s"] = round(time.perf_counter() - t0, 3)
        idx_bytes = tree_bytes(f"{path}/postings")
        out["index_mb"] = round(idx_bytes / 1e6, 2)
        out["rows"] = spark.read.parquet(f"{path}/postings").count()

        def warm_search(terms: list[str]) -> float:
            times = []
            for _ in range(2):
                t0 = time.perf_counter()
                bm25_search_persisted(spark, path, terms, k=10).collect()
                times.append(round(time.perf_counter() - t0, 3))
            return times[1]

        out["search_vs_terms"] = {}
        for n_terms in (1, 4, 16):
            terms = terms16[:n_terms]
            buckets = sorted({py_term_bucket(t) for t in terms})
            probed = sum(
                tree_bytes(f"{path}/postings/bucket={b}") for b in buckets
            )
            out["search_vs_terms"][str(n_terms)] = {
                "warm_s": warm_search(terms),
                "n_buckets": len(buckets),
                "bucket_frac": round(len(buckets) / 32, 4),
                "probed_mb": round(probed / 1e6, 2),
                "probed_byte_frac": round(probed / max(idx_bytes, 1), 4),
            }
            print(f"# postings-scale {n_terms} terms: "
                  f"{out['search_vs_terms'][str(n_terms)]['warm_s']:.3f}s "
                  f"warm, {len(buckets)}/32 buckets, "
                  f"{round(probed / 1e6, 2)} MB probed", file=sys.stderr)

        # (c) growth + decay + compaction. Batches are disjoint id-shifted
        # slices (the new-ids precondition postings_append documents).
        terms4 = terms16[:4]
        append_s: list[float] = []
        decay: dict = {"0": warm_search(terms4)}
        # deterministic disjoint slices (a limit() re-executed per batch
        # could overlap between batches and violate the new-ids
        # precondition): filter on the id itself, then shift out of the
        # base id domain
        lo = docs.agg(F.min("doc_id")).head()[0]
        base = docs.filter(
            F.col("doc_id") < lo + n_append_batches * append_rows
        ).withColumn("doc_id", F.col("doc_id") + 100_000_000)
        for i in range(n_append_batches):
            b = base.filter(
                F.pmod(F.col("doc_id"), F.lit(n_append_batches)) == i
            )
            t0 = time.perf_counter()
            postings_append(spark, path, b, batch_token=i)
            append_s.append(round(time.perf_counter() - t0, 3))
            if i + 1 in (n_append_batches // 2, n_append_batches):
                decay[str(i + 1)] = warm_search(terms4)
        out["append_s_per_batch"] = round(
            sum(append_s) / len(append_s), 3
        )
        out["append_s_first_last"] = [append_s[0], append_s[-1]]
        out["search_vs_segments"] = decay
        out["maintenance_action"] = postings_maintenance_action(
            n_append_batches
        )
        out["segment_cap"] = POSTINGS_SEGMENT_CAP
        t0 = time.perf_counter()
        out["compacted_segments"] = compact_postings(spark, path)
        out["compact_s"] = round(time.perf_counter() - t0, 3)
        out["search_post_compact_s"] = warm_search(terms4)
        print(f"# postings-scale: write {out['write_s']:.1f}s "
              f"({out['index_mb']} MB), decay {decay}, compact "
              f"{out['compact_s']:.1f}s -> "
              f"{out['search_post_compact_s']:.3f}s", file=sys.stderr)
    finally:
        shutil.rmtree(path.rsplit("/", 1)[0], ignore_errors=True)
    return out


def champion_scale_stanza(spark, sf_dir: str, r: int = 64) -> dict:
    """Champion lists vs the full postings index at sf10 doc scale
    (round 13): the bounded-probe claim with numbers — a champion
    search reads <= r rows per term regardless of df, so its probed
    bytes and warm seconds should be df-independent where the full
    index's grow with the corpus. Measures, same corpus, same session:

    (a) both layouts' write cost + on-disk footprint (champion stores
        (doc_id, term, impact) only — tf/dlen drop from every row, and
        each term keeps <= r rows);
    (b) warm top-10 search seconds + probed bucket bytes for 1/4/16
        terms on each layout;
    (c) value equality of the per-term top-10 between the two layouts
        (the exactness theorem, spot-checked at scale)."""
    import shutil
    import tempfile

    from backend_fastapi_spark.operators.retrieval import (
        bm25_search_champion, bm25_search_persisted, py_term_bucket,
        write_champion_index, write_postings_index)
    from backend_fastapi_spark.sources.parquet import read_table

    def tree_bytes(p: str) -> int:
        total = 0
        for root, _dirs, files in os.walk(p):
            for f in files:
                try:
                    total += os.path.getsize(os.path.join(root, f))
                except OSError:
                    pass
        return total

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    root = tempfile.mkdtemp(prefix="bench_champion_")
    full, champ = f"{root}/full", f"{root}/champ"
    terms16 = ["vector", "stream", "window", "hash", "join", "row",
               "batch", "scan", "customer", "column", "filter", "small",
               "slow", "merge", "order", "line"]
    out: dict = {"n_docs": docs.count(), "r": r}
    try:
        t0 = time.perf_counter()
        write_postings_index(docs, full, mode="overwrite")
        out["full_write_s"] = round(time.perf_counter() - t0, 3)
        t0 = time.perf_counter()
        write_champion_index(docs, champ, r=r, mode="overwrite")
        out["champion_write_s"] = round(time.perf_counter() - t0, 3)
        fb = tree_bytes(f"{full}/postings")
        cb = tree_bytes(f"{champ}/postings")
        out["full_index_mb"] = round(fb / 1e6, 2)
        out["champion_index_mb"] = round(cb / 1e6, 2)
        out["footprint_ratio"] = round(cb / max(fb, 1), 4)

        def warm(fn) -> float:
            times = []
            for _ in range(2):
                t0 = time.perf_counter()
                fn().collect()
                times.append(round(time.perf_counter() - t0, 3))
            return times[1]

        out["search_vs_terms"] = {}
        for n_terms in (1, 4, 16):
            ts = terms16[:n_terms]
            buckets = sorted({py_term_bucket(t) for t in ts})
            probed_full = sum(
                tree_bytes(f"{full}/postings/bucket={b}") for b in buckets)
            probed_champ = sum(
                tree_bytes(f"{champ}/postings/bucket={b}") for b in buckets)
            out["search_vs_terms"][str(n_terms)] = {
                "full_warm_s": warm(
                    lambda: bm25_search_persisted(spark, full, ts, k=10)),
                "champion_warm_s": warm(
                    lambda: bm25_search_champion(spark, champ, ts, k=10)),
                "full_probed_mb": round(probed_full / 1e6, 2),
                "champion_probed_mb": round(probed_champ / 1e6, 2),
            }
            print(f"# champion-scale {n_terms} terms: "
                  f"{out['search_vs_terms'][str(n_terms)]}", file=sys.stderr)

        # (c) exactness spot check at scale — per-term top-10 identical
        a = sorted(map(tuple, bm25_search_champion(
            spark, champ, terms16[:4], k=10).collect()))
        b = sorted(map(tuple, bm25_search_persisted(
            spark, full, terms16[:4], k=10).collect()))
        out["topk_matches_full"] = bool(a == b)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out


def shard_export_stanza(spark, sf_dir: str, n_shards: int = 64) -> dict:
    """Training-shard export at sf10 doc scale (round 13): the bulk-export
    surface's 100 TB claims with numbers, same corpus, same session:

    (a) one-shot export of the corpus to n_shards sorted shard dirs —
        wall cost of the single shard-keyed shuffle + write, on-disk MB;
    (b) incremental append of a ~1% batch — must price O(batch), not
        O(corpus) (the batch=token subtree never touches prior batches);
    (c) manifest from the persisted files — doc-count conservation vs
        the source and hash-balance (max shard / ideal share).
    """
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from backend_fastapi_spark.operators.pipeline import (
        append_training_shards, shard_manifest, write_training_shards)
    from backend_fastapi_spark.sources.parquet import read_table

    def tree_bytes(p: str) -> int:
        total = 0
        for root_, _dirs, files in os.walk(p):
            for f in files:
                try:
                    total += os.path.getsize(os.path.join(root_, f))
                except OSError:
                    pass
        return total

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    n_docs = docs.count()
    base = docs.filter(F.col("doc_id") % 100 != 0)
    batch = docs.filter(F.col("doc_id") % 100 == 0)
    root = tempfile.mkdtemp(prefix="bench_shard_export_")
    bulk, inc = f"{root}/bulk", f"{root}/inc"
    out: dict = {"n_docs": n_docs, "n_shards": n_shards}
    try:
        t0 = time.perf_counter()
        write_training_shards(docs, bulk, n_shards=n_shards)
        out["bulk_write_s"] = round(time.perf_counter() - t0, 3)
        out["bulk_mb"] = round(tree_bytes(bulk) / 1e6, 2)

        t0 = time.perf_counter()
        append_training_shards(base, inc, "0001", n_shards=n_shards)
        out["base_append_s"] = round(time.perf_counter() - t0, 3)
        t0 = time.perf_counter()
        append_training_shards(batch, inc, "0002", n_shards=n_shards)
        out["small_batch_append_s"] = round(time.perf_counter() - t0, 3)
        out["small_batch_rows"] = batch.count()

        t0 = time.perf_counter()
        m = shard_manifest(
            spark.read.parquet(bulk).drop("shard"), n_shards=n_shards
        ).collect()
        out["manifest_s"] = round(time.perf_counter() - t0, 3)
        counts = [r["n_docs"] for r in m]
        out["manifest_docs_total"] = int(sum(counts))
        out["rows_conserved"] = bool(sum(counts) == n_docs)
        out["shard_balance_max_over_ideal"] = round(
            max(counts) / (n_docs / n_shards), 3)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out


def zorder_scale_stanza(spark, sf_dir: str, n_files: int = 128) -> dict:
    """Z-order skipping at realistic row-group counts (VERDICT r09
    directive #3): the hash-green ``zorder_skipping`` audit runs at
    sf0.01 where orders spans 8 row groups — directionally right,
    statistically thin. Here orders is rewritten into ``n_files`` files
    (one+ row group each) range-clustered on o_custkey alone vs
    Z-ordered on (o_custkey, o_orderkey), and for a ~10% value-range
    predicate on EACH column the stanza records (a) the footer-level
    skip fraction (the IO a stats-aware scan must pay) and (b) measured
    warm seconds for the filtered aggregate on each layout. The claim
    being tested: single-column clustering is perfect on its own column
    and useless on the other; Z-order stays selective on both — the
    two-access-path layout lever at 100 TB."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from backend_fastapi_spark.operators import maintenance as M
    from backend_fastapi_spark.sources.parquet import read_table

    # Second dimension is o_totalprice (as integer cents, materialized so
    # footer stats exist on it), NOT o_orderkey: the sf1/sf10 generator
    # derives o_custkey from the row id, so custkey↔orderkey are corr=1.0
    # there and a (custkey, orderkey) Z-order would measure nothing —
    # clustering on one IS clustering on the other. custkey↔price is
    # corr≈0 at every sf, and a price-range scan is a real second access
    # path. Predicate boxes come from quantiles (45th-55th percentile:
    # a ~10% mid-domain band), not 0.45·max — the generated custkey
    # domain is sparse enough that value-fraction boxes can be empty.
    orders = read_table(spark, sf_dir, "orders").withColumn(
        "o_price_cents", F.round(F.col("o_totalprice") * 100).cast("long")
    )
    qs = orders.agg(
        F.percentile_approx("o_custkey", [0.45, 0.55], 10_000).alias("ck"),
        F.percentile_approx("o_price_cents", [0.45, 0.55], 10_000).alias("pc"),
    ).head()
    boxes = {
        "o_custkey": (int(qs["ck"][0]), int(qs["ck"][1])),
        "o_price_cents": (int(qs["pc"][0]), int(qs["pc"][1])),
    }
    root = tempfile.mkdtemp(prefix="bench_zorder_")
    out: dict = {"n_files": n_files, "boxes": boxes, "layouts": {}}
    try:
        t0 = time.perf_counter()
        M.cluster_write(orders, f"{root}/clustered", ["o_custkey"], n_files)
        clustered_write_s = round(time.perf_counter() - t0, 3)
        t0 = time.perf_counter()
        M.zorder_write(
            orders, f"{root}/zorder", ["o_custkey", "o_price_cents"],
            n_files,
        )
        zorder_write_s = round(time.perf_counter() - t0, 3)
        for layout, write_s in (("clustered", clustered_write_s),
                                ("zorder", zorder_write_s)):
            entry: dict = {"write_s": write_s, "cols": {}}
            for col, (lo, hi) in boxes.items():
                rep = M.skipping_report(f"{root}/{layout}", col, lo, hi)
                times = []
                for _ in range(2):
                    t0 = time.perf_counter()
                    (
                        spark.read.parquet(f"{root}/{layout}")
                        .filter(F.col(col).between(lo, hi))
                        .agg(F.sum("o_totalprice"))
                        .collect()
                    )
                    times.append(round(time.perf_counter() - t0, 3))
                entry["cols"][col] = {
                    "row_groups": rep["row_groups"],
                    "overlapping": rep["overlapping"],
                    "overlap_fraction": rep["overlap_fraction"],
                    "scan_warm_s": times[1],
                }
                print(f"# zorder {layout}/{col}: read "
                      f"{rep['overlapping']}/{rep['row_groups']} groups, "
                      f"{times[1]:.3f}s warm", file=sys.stderr)
            out["layouts"][layout] = entry
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out


def cc_distributed_stanza(spark, sf_dir: str) -> dict:
    """Distributed connected-components executed at 100x (VERDICT r07
    directive #2): every benched cc_stats so far recorded
    ``mode: driver, rounds: 0`` — the Pregel min-label loop, the
    algorithm the 100 TB story depends on above CC_DRIVER_MAX_EDGES,
    had never run in a benched stanza. Two real sf10 edge lists:

    (a) the doc near-dup edges (~25.6k), timed in BOTH modes — driver
        union-find (default) vs the distributed loop (short-circuit
        disabled) — with the labelings asserted identical;
    (b) the RP-LSH-verified embedding near-dup pairs (> 100k edges at
        sf10), where the distributed loop IS the default path.

    Each entry records {edges, vertices, rounds, changed_per_round,
    mode, sec} so a timing swing is attributable to graph shape."""
    from pyspark.sql import functions as F

    from backend_fastapi_spark.operators import dedup as D
    from backend_fastapi_spark.operators.lsh import (
        rp_near_dup_pairs, rp_size_for)
    from backend_fastapi_spark.operators.util import materialize
    from backend_fastapi_spark.sources.parquet import read_table

    out: dict = {}

    def timed_cc(edges, key, **kw):
        t0 = time.perf_counter()
        labels = D.connected_components(edges, **kw)
        n_rows = labels.count()
        dt = round(time.perf_counter() - t0, 3)
        stats = D.last_cc_stats()
        out[key] = {
            k: (list(v) if k == "changed_per_round" else v)
            for k, v in stats.items()
        } | {"sec": dt, "label_rows": n_rows}
        print(f"# cc-dist {key}: {dt:.3f}s mode={stats.get('mode')} "
              f"edges={stats.get('edges')} rounds={stats.get('rounds')}",
              file=sys.stderr)
        return labels

    # (a) doc near-dup graph, both modes on the SAME materialized edges.
    docs = read_table(spark, sf_dir, "documents")
    doc_edges = materialize(
        D.ngram_jaccard_pairs(docs, 0.8, max_shingle_df=64)
        .select("id_a", "id_b")
    )
    drv = timed_cc(doc_edges, "doc_edges_driver")
    dist = timed_cc(doc_edges, "doc_edges_distributed", driver_max_edges=0)
    out["doc_edges_labels_match"] = (
        drv.exceptAll(dist).count() == 0 and dist.exceptAll(drv).count() == 0
    )

    # (b) embedding near-dup pairs: > CC_DRIVER_MAX_EDGES at sf10, so the
    # hybrid picks the distributed loop on its own — no knob touched.
    emb = read_table(spark, sf_dir, "embeddings")
    n_vec = emb.count()
    n_tables, n_planes = rp_size_for(n_vec)
    emb_edges = materialize(
        rp_near_dup_pairs(
            emb, threshold_i64=250_000_000_000,
            n_tables=n_tables, n_planes=n_planes,
        ).select("id_a", "id_b")
    )
    timed_cc(emb_edges, "emb_edges_default")
    return out


def stream_profile_stanza(spark, sf_dir: str, n_batches: int = 20) -> dict:
    """Streamed-curation throughput (VERDICT r07 directive #5): drive
    ``curate_batch`` — the exact function stream_curated_ingest hands to
    foreachBatch — over ``n_batches`` deterministic slices of the sf1
    documents table, recording per-batch seconds, accepted rows, and the
    cumulative corpus signature-state growth. The incremental-gate claim
    measured: per-batch cost stays flat (batch × collisions) as the
    corpus grows — never corpus × corpus."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from backend_fastapi_spark.sources.parquet import read_table
    from backend_fastapi_spark.streaming.ingest_stream import curate_batch

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus_dir = tempfile.mkdtemp(prefix="bench_stream_corpus_")
    index_dir = tempfile.mkdtemp(prefix="bench_stream_index_") + "/idx"
    state_dir = corpus_dir + "_sigstate"

    def _tree_bytes(path: str) -> int:
        total = 0
        for root, _dirs, files in os.walk(path):
            for f in files:
                try:
                    total += os.path.getsize(os.path.join(root, f))
                except OSError:
                    pass
        return total

    per_batch = []
    corpus_total = 0
    try:
        for i in range(n_batches):
            b = docs.filter(F.pmod(F.col("doc_id"), F.lit(n_batches)) == i)
            n_in = b.count()  # outside the timed section
            t0 = time.perf_counter()
            curate_batch(spark, b, i, corpus_dir, index_dir)
            dt = time.perf_counter() - t0
            bdir = f"{corpus_dir}/ingest_{i}"
            accepted = (
                spark.read.parquet(bdir).count()
                if os.path.isdir(bdir) else 0
            )
            corpus_total += accepted
            per_batch.append({
                "batch": i, "sec": round(dt, 3), "rows_in": n_in,
                "accepted": accepted, "rows_per_s": round(n_in / dt, 1),
                # the flatness-at-scale evidence (VERDICT r08 directive
                # #4): per-batch cost AND the persisted signature-state
                # footprint as the corpus grows — bytes/doc should hold
                # ~constant (~168 B/doc md5+MinHash), never corpus-scan.
                "corpus_docs": corpus_total,
                "sigstate_bytes": _tree_bytes(state_dir),
                # host loadavg(1m) at batch end: spikes from external
                # load are attributable (an idle-host run is flat
                # 6.2-6.7 s; a loaded one drifts to 10-16 s with no
                # change in corpus width).
                "loadavg": round(os.getloadavg()[0], 2),
            })
            print(f"# stream-profile batch {i}: {dt:.3f}s in={n_in} "
                  f"accepted={accepted} corpus={corpus_total}",
                  file=sys.stderr)
        secs = sorted(p["sec"] for p in per_batch)
        return {
            "n_batches": n_batches,
            "corpus_rows_final": spark.read.parquet(f"{corpus_dir}/*").count(),
            "sigstate_bytes_final": per_batch[-1]["sigstate_bytes"],
            "first_batch_s": per_batch[0]["sec"],
            "last_batch_s": per_batch[-1]["sec"],
            "median_batch_s": secs[len(secs) // 2],
            "per_batch": per_batch,
        }
    finally:
        shutil.rmtree(corpus_dir, ignore_errors=True)
        shutil.rmtree(state_dir, ignore_errors=True)
        shutil.rmtree(index_dir.rsplit("/", 1)[0], ignore_errors=True)


SCALING_QUERIES = [
    # shuffle/compute-heavy picks: queries whose sf1 cost is real work,
    # not fixed job overhead — the set where core-count should show
    "ngram_jaccard_dupes", "simhash_pairs", "minhash_lsh_candidates",
    "user_context_star", "region_revenue", "winnow_near_dup",
]


def core_scaling_stanza(sf1_dir: str, cpu_points=(32, 8),
                        sf10_dir: str | None = None) -> dict:
    """Low-core-vs-32 scaling AT SF1 (VERDICT r13 #2): the sf0.1 headline
    is job/stage-overhead-bound, so its 8-vs-32 ratios sit ≈1 and tell
    nothing about parallelism; at sf1 the shuffle-heavy queries carry
    real work and the ratio should track the core ratio. Each cpu point
    runs in a FRESH subprocess session (master local[N] via
    $SPARK_GRAFT_CPUS — the exact mechanism the driver's own low-core
    rerun uses), warm min-of-2 per query, bench timing methodology.
    ``sf10_dir`` adds one genuinely compute-bound 100x point
    (winnow_near_dup — the Python-md5 fingerprint pass dominates) where
    fixed overhead is negligible and the ratio isolates parallelism."""
    import subprocess

    def run_point(cpus: int, names: list, data_dir: str, runs: int) -> dict:
        child = (
            "import json, sys, time\n"
            f"sys.path.insert(0, "
            f"{os.path.dirname(os.path.abspath(__file__))!r})\n"
            "from backend_fastapi_spark.core.session import get_spark\n"
            "import backend_fastapi_spark.queries as Q\n"
            "spark = get_spark('core_scaling')\n"
            "out = {}\n"
            f"for name in {names!r}:\n"
            "    fn = Q.REGISTRY[name].fn\n"
            f"    fn(spark, {data_dir!r}).count()\n"
            "    best = 1e9\n"
            f"    for _ in range({runs}):\n"
            "        t0 = time.perf_counter()\n"
            f"        fn(spark, {data_dir!r}).groupBy().count().collect()\n"
            "        best = min(best, time.perf_counter() - t0)\n"
            "    out[name] = round(best, 3)\n"
            "print('SCALING_JSON ' + json.dumps(out))\n"
        )
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
        env.pop("SPARK_GRAFT_MASTER", None)
        r = subprocess.run(
            [sys.executable, "-c", child], env=env, capture_output=True,
            text=True, timeout=900,
        )
        line = next(
            (ln for ln in r.stdout.splitlines()
             if ln.startswith("SCALING_JSON ")), None,
        )
        if line is None:
            return {"error": (r.stderr or "no output")[-400:]}
        got = json.loads(line[len("SCALING_JSON "):])
        print(f"# core-scaling cpus={cpus} {data_dir}: {got}",
              file=sys.stderr)
        return got

    def ratios(points: dict, names: list) -> dict | None:
        lo, hi = str(min(cpu_points)), str(max(cpu_points))
        if any(not isinstance(points.get(p), dict) or "error" in points[p]
               for p in (lo, hi)):
            return None
        return {
            q: round(points[lo][q] / points[hi][q], 2)
            for q in names if points[hi].get(q) and points[lo].get(q)
        }

    points = {str(c): run_point(c, SCALING_QUERIES, sf1_dir, 2)
              for c in cpu_points}
    out = {"sf_dir": sf1_dir, "queries": SCALING_QUERIES, "points": points,
           "ratio_low_over_high": ratios(points, SCALING_QUERIES)}
    if sf10_dir:
        p10 = {str(c): run_point(c, ["winnow_near_dup"], sf10_dir, 1)
               for c in cpu_points}
        out["sf10_point"] = {
            "sf_dir": sf10_dir, "points": p10,
            "ratio_low_over_high": ratios(p10, ["winnow_near_dup"]),
        }
    return out


def bucketed_stanza(spark, sf_dir: str, n_buckets: int = 16) -> dict:
    """Bucketed-join saving in seconds (VERDICT r07 directive #6): write
    orders and lineitem bucketed on the join key at sf1, run the same
    big-to-big join-aggregate over bucketed tables vs plain parquet
    (merge hint on both so the comparison is SMJ-with-Exchange vs
    SMJ-without — the 100 TB case where neither side broadcasts), and
    record seconds plus Exchange counts from the executed plans."""
    from pyspark.sql import functions as F

    from backend_fastapi_spark.operators.maintenance import write_bucketed
    from backend_fastapi_spark.sources.parquet import read_table

    orders = read_table(spark, sf_dir, "orders")
    lineitem = read_table(spark, sf_dir, "lineitem")

    def agg(o, l):
        return (
            o.hint("merge")
            .join(l, F.col("o_orderkey") == F.col("l_orderkey"))
            .groupBy("o_orderpriority")
            .agg(
                F.sum(
                    F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
                ).alias("rev"),
                F.count(F.lit(1)).alias("n"),
            )
        )

    def run(o, l):
        df = agg(o, l)
        df.count()  # warm + resolve AQE final plan
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            df = agg(o, l)
            df.count()
            best = min(best, time.perf_counter() - t0)
        plan = df._jdf.queryExecution().executedPlan().toString()
        return round(best, 3), plan

    try:
        t0 = time.perf_counter()
        write_bucketed(orders, "bench_orders_b", ["o_orderkey"], n_buckets)
        write_bucketed(lineitem, "bench_lineitem_b", ["l_orderkey"], n_buckets)
        write_s = round(time.perf_counter() - t0, 3)
        plain_s, plain_plan = run(orders, lineitem)
        buck_s, buck_plan = run(
            spark.table("bench_orders_b"), spark.table("bench_lineitem_b")
        )
        out = {
            "n_buckets": n_buckets,
            "bucketed_write_s": write_s,
            "plain_join_s": plain_s,
            "bucketed_join_s": buck_s,
            "plain_exchanges": plain_plan.count("Exchange"),
            "bucketed_exchanges": buck_plan.count("Exchange"),
            "bucketed_plan_bucketed_true": "Bucketed: true" in buck_plan,
        }
        print(f"# bucketed-join: plain={plain_s:.3f}s "
              f"(exchanges={out['plain_exchanges']}) bucketed={buck_s:.3f}s "
              f"(exchanges={out['bucketed_exchanges']})", file=sys.stderr)
        return out
    finally:
        spark.sql("DROP TABLE IF EXISTS bench_orders_b")
        spark.sql("DROP TABLE IF EXISTS bench_lineitem_b")


def warm_tables(spark, sf_dir: str) -> float:
    """One full-column pass over every table (xxhash64 agg — forces the
    scan to read ALL column data, unlike count() which satisfies itself
    from parquet metadata): warms the OS page cache so timed sf10 runs
    measure plan cost, not first-touch IO of a dataset no earlier
    section read. Returns seconds spent warming (recorded, not hidden)."""
    from pyspark.sql import functions as F
    t0 = time.perf_counter()
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if not os.path.exists(path):
            continue
        df = spark.read.parquet(path)
        df.select(
            F.max(F.xxhash64(*[F.col(c) for c in df.columns]))
        ).collect()
    return round(time.perf_counter() - t0, 3)


def bench_round() -> int:
    """Round number for the context-sidecar filename: the BENCH_r{N}.json
    the driver is about to write is one past the newest on disk."""
    env = os.environ.get("SPARK_GRAFT_ROUND")
    if env:
        return int(env)
    rounds = [
        int(m.group(1))
        for p in glob.glob(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                        "BENCH_r*.json"))
        if (m := re.match(r"BENCH_r0*(\d+)\.json$", os.path.basename(p)))
    ]
    return max(rounds, default=0) + 1


def wait_for_quiet_host(max_wait_s: float = 600.0,
                        threshold_per_cpu: float = 0.05) -> dict:
    """Gate the timed section on host load (VERDICT r06 directive #2).

    min-of-N damps transient noise but a busy host shifts whole runs —
    the committed r6 artifact was captured at loadavg 5.49/32 and landed
    13.07 s where an idle-host run of identical code lands 10.39 s
    (SCALING.md documents the 10.6–13.1 s identical-code band). Spin
    until loadavg(1m)/cpus drops below the threshold so the artifact
    records the engine, not the neighbors; give up after max_wait_s and
    record the attempts either way so a loaded run is attributable.

    threshold 0.10 → 0.05 in r9 (VERDICT r08 directive #7): the r8
    headline drifted +8.7% after passing the gate at 2.77/32 — within
    the old threshold but enough concurrent load to shift every query
    uniformly. Per-query loadavg is also recorded now (time_set loads=),
    so even a forced loaded run attributes its own drift.
    """
    cpus = os.cpu_count() or 1
    attempts: list[float] = []
    deadline = time.monotonic() + max_wait_s
    while True:
        load = os.getloadavg()[0]
        attempts.append(round(load, 2))
        if load / cpus <= threshold_per_cpu or time.monotonic() >= deadline:
            return {
                "loadavg_gate": {
                    "threshold_per_cpu": threshold_per_cpu,
                    "cpus": cpus,
                    "attempts": attempts,
                    "waited_s": round(30.0 * (len(attempts) - 1), 1),
                    "passed": load / cpus <= threshold_per_cpu,
                }
            }
        print(f"# host busy (loadavg {load:.2f}/{cpus}) — waiting 30s",
              file=sys.stderr)
        time.sleep(30.0)


def rotate_half(names: list[str], rnd: int) -> tuple[list[str], list[str]]:
    """(run-now, deferred) halves of a per-round query list, alternating
    by round parity (VERDICT r12 directive #4: the fixed sf1/sf10 extra
    lists consumed ~1530 s of the 3000 s driver budget and starved 10 of
    16 rotation stanzas — each extra query is a growth-tracking probe,
    not a round-over-round comparable, so half-rate refresh loses
    nothing while freeing ~500 s/round). Even/odd interleave keeps both
    halves representative (the lists group related families adjacently);
    the deferred half is recorded in the sidecar, never silently
    dropped."""
    a, b = list(names[0::2]), list(names[1::2])
    return (a, b) if rnd % 2 == 0 else (b, a)


def stanza_last_seen() -> dict[str, int]:
    """Most recent round each sidecar key appeared in, across every
    committed BENCH_CONTEXT_r*.json — the rotation input: a stanza whose
    evidence is oldest (or has never landed) runs first when the budget
    can't fit them all."""
    seen: dict[str, int] = {}
    here = os.path.dirname(os.path.abspath(__file__))
    for p in glob.glob(os.path.join(here, "BENCH_CONTEXT_r*.json")):
        m = re.match(r"BENCH_CONTEXT_r0*(\d+)\.json$", os.path.basename(p))
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(p) as f:
                keys = list(json.load(f).keys())
        except Exception:
            continue
        for k in keys:
            seen[k] = max(seen.get(k, 0), rnd)
    return seen


def main() -> None:
    t_start = time.monotonic()
    budget = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET_S", "3000"))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    # The sidecar is written incrementally (atomic temp+rename) after
    # every section: a run the driver's wall-clock limit kills still
    # leaves every completed stanza on disk (VERDICT r11 wrong #1 — the
    # r11 run deferred ALL output to the end and the timeout lost it).
    sidecar = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        f"BENCH_CONTEXT_r{bench_round():02d}.json",
    )
    context: dict = {"bench_budget_s": budget}
    # A killed same-round run's sidecar is EVIDENCE, not garbage (ADVICE
    # r12 low): merge it under this run instead of destroying it on the
    # first flush — keys this run re-measures overwrite, everything else
    # (completed stanzas the kill stranded) survives for the rotation
    # input and the judge. The provenance key records what was carried.
    if os.path.exists(sidecar):
        try:
            with open(sidecar) as f:
                prior = json.load(f)
            prior.pop("merged_from_killed_run", None)
            context.update(prior)
            context["merged_from_killed_run"] = sorted(prior.keys())
            context["bench_budget_s"] = budget
        except Exception:
            pass  # torn/unreadable prior sidecar: start clean

    def flush() -> None:
        context["bench_elapsed_s"] = round(time.monotonic() - t_start, 1)
        tmp = sidecar + ".tmp"
        with open(tmp, "w") as f:
            json.dump(context, f, indent=1)
        os.replace(tmp, sidecar)

    gate = wait_for_quiet_host()
    spark = get_spark("bench")

    # Warm the JVM + parquet footers once so timings measure the queries;
    # the data stanza doubles as the warmup pass. Record the host's load
    # average at start: min-of-N damps transient noise but a busy host
    # shifts whole runs (observed ~1.3x uniform swing between sessions),
    # and the loadavg makes that attributable when comparing rounds.
    context["host_loadavg_at_start"] = list(os.getloadavg())
    context.update(gate)
    context["data"] = data_stanza(spark, sf_dir)
    flush()

    cards: dict[str, int] = {}
    cc_stats: dict[str, dict] = {}

    timings: dict[str, float] = {}
    shuffle_stats: dict[str, dict] = {}
    headline_loads: dict[str, float] = {}
    # The gate re-arms PER QUARTILE (VERDICT r10 directive #5): r10's
    # three >10% risers all sat in the back half of a run whose loadavg
    # rose 1.4 -> 2.6 AFTER the section gate passed at 1.04 — one gate
    # at section start cannot keep a 6-minute section clean. Each
    # quartile now waits for quiet again (shorter per-quartile budget);
    # the sidecar records all four gate states.
    quartile_gates = []
    job_counts: dict[str, int] = {}
    qsize = (len(HEADLINE) + 3) // 4
    for qi in range(0, len(HEADLINE), qsize):
        g = wait_for_quiet_host(max_wait_s=240.0)
        quartile_gates.append(g["loadavg_gate"])
        time_set(spark, HEADLINE[qi:qi + qsize], sf_dir, 3, timings, cards,
                 cc_stats, shuffle_stats=shuffle_stats, loads=headline_loads,
                 job_counts=job_counts)
    context["headline_quartile_gates"] = quartile_gates
    context["shuffle_stats"] = shuffle_stats
    context["headline_loadavg"] = headline_loads
    # jobs per timed execution (VERDICT r13 #8): each job is a fixed
    # driver round-trip — the number that dominates 0.2-1 s queries at
    # sf0.1 and becomes scheduler-latency floor at any scale
    context["headline_job_counts"] = job_counts

    headline = {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        # cpus echoed so a scaling artifact (the driver's low-core rerun)
        # is self-describing (VERDICT r13 #2)
        "cpus": int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
    }
    context["headline"] = headline
    flush()
    # EARLY headline print (VERDICT r11 directive #1b): the driver tails
    # stdout, so if the wall-clock limit kills the run mid-scale-section
    # this line is the only parsable output it might see; all stanza
    # chatter goes to stderr, and on a completed run the same line is
    # re-printed LAST (the driver's tail then parses that one).
    line = json.dumps(headline)
    assert len(line) < 1900, f"headline line {len(line)} chars — tail window is 2000"
    print(line, flush=True)

    # Each section stands alone: drop the shared substrate caches so a
    # section's timings never pay (or profit from) another section's
    # storage-memory pressure.
    spark.catalog.clearCache()

    extra: dict[str, float] = {}
    extra_warm: dict[str, float] = {}
    extra_jobs: dict[str, int] = {}
    time_set(spark, EXTRA, sf_dir, 2, extra, cards, cc_stats, tag="extra ",
             warmups=extra_warm, job_counts=extra_jobs)
    context["extra_queries"] = extra
    context["extra_job_counts"] = extra_jobs
    # first-execution seconds: for the persisted-index extras this is
    # the one-time index WRITE (+first search) the timed min-of-2 no
    # longer pays (queries.py build-once cache, VERDICT r11 wrong #3)
    context["extra_first_exec_s"] = extra_warm
    context["cardinalities"] = cards
    context["cc_stats"] = cc_stats
    flush()

    # ------------------------------------------------------------------
    # Everything below runs under the wall-clock budget: per-stanza cost
    # estimates (measured r10/r11 values, generous) gate entry; what
    # does not fit is skipped AND recorded. Scale stanzas run
    # oldest-evidence-first so the budget refreshes whatever is most
    # stale; the two per-sf query sections always go first (they are the
    # round-over-round comparables).
    # ------------------------------------------------------------------
    skipped: list[dict] = []
    # Shared stanza gate-wait pool: at most this much wall time may be
    # spent waiting for a quiet host across ALL stanza gates (r12 burned
    # 90 s x 6 stanzas on gates that never passed).
    gate_pool_s = 420.0

    def run_stanza(key: str, est_s: float, fn) -> None:
        elapsed = time.monotonic() - t_start
        if elapsed + est_s > budget:
            skipped.append({"stanza": key, "est_s": est_s,
                            "elapsed_s": round(elapsed, 1)})
            context["skipped_stanzas"] = skipped
            flush()
            print(f"# budget: skipping {key} (elapsed {elapsed:.0f}s + "
                  f"est {est_s:.0f}s > {budget:.0f}s)", file=sys.stderr)
            return
        # Per-stanza settle gate (SCALING r12 "back-half load" note: the
        # r12 full run's sf10 extras drifted 1.3-2.6x above r10 with
        # identical plans — loadavg from the PREVIOUS stanza's teardown
        # decays over ~a minute and nothing re-armed the gate past the
        # headline quartiles). The wait counts against the wall-clock
        # budget. sf10-scale stanzas get the headline's longer escalating
        # wait (VERDICT r12 directive #6: all five r12 sf10 gates timed
        # out at 90 s while the 120-240 s headline gates passed) — but
        # waiting is SHARED-BUDGETED: r12's gates timed out on every
        # single stanza (persistent contention), so unbounded per-stanza
        # waits would starve the rotation worse than the contention
        # does. Once the pool drains, gates do one instant check and the
        # per-stanza loadavg bracket keeps the swing attributable.
        nonlocal gate_pool_s
        gate_wait = 120.0 if key.startswith(("sf10", "text_ann",
                                             "clustered")) else 90.0
        gate_wait = min(gate_wait, gate_pool_s)
        g = wait_for_quiet_host(max_wait_s=gate_wait)
        gate_pool_s = max(0.0, gate_pool_s
                          - g["loadavg_gate"].get("waited_s", 0.0))
        context.setdefault("stanza_gates", {})[key] = g["loadavg_gate"]
        spark.catalog.clearCache()
        t0 = time.monotonic()
        load_start = os.getloadavg()[0]
        try:
            context.update(fn())
        except Exception as e:  # a broken stanza must not lose the rest
            context[key] = {"error": f"{type(e).__name__}: {e}"[:500]}
            print(f"# stanza {key} FAILED: {e}", file=sys.stderr)
        # measured wall cost per stanza — next round's estimate input
        context.setdefault("stanza_actual_s", {})[key] = round(
            time.monotonic() - t0, 1
        )
        # loadavg bracket per stanza (VERDICT r12 directive #6): swings
        # in a stanza's numbers stay attributable to host contention even
        # when its entry gate timed out.
        context.setdefault("stanza_loadavg", {})[key] = [
            round(load_start, 2), round(os.getloadavg()[0], 2)
        ]
        flush()

    sf1_dir = os.environ.get("SPARK_GRAFT_SF1_DIR", ".scaledata/sf1")
    sf10_dir = os.environ.get("SPARK_GRAFT_SF10_DIR", ".scaledata/sf10")
    have_sf1 = (os.path.isdir(sf1_dir)
                and os.path.abspath(sf1_dir) != os.path.abspath(sf_dir))
    have_sf10 = (os.path.isdir(sf10_dir)
                 and not os.environ.get("SPARK_GRAFT_SKIP_SF10"))

    def sf1_section() -> dict:
        # 10x scale point (scripts/gen_scale.py output): one timed run
        # per query so sf-growth is recorded alongside the primary
        # metric. Includes the CC-running extras — their at-scale growth
        # is the open question (round-2 directive #8).
        out: dict = {}
        sf1_cc: dict[str, dict] = {}
        sf1_timings: dict[str, float] = {}
        sf1_cards: dict[str, int] = {}
        sf1_shuffle: dict[str, dict] = {}
        time_set(spark, HEADLINE, sf1_dir, 2, sf1_timings, sf1_cards, sf1_cc,
                 tag="sf1 ", shuffle_stats=sf1_shuffle)
        out["sf1_queries"] = sf1_timings
        out["sf1_total"] = round(sum(sf1_timings.values()), 3)
        out["sf1_shuffle_stats"] = sf1_shuffle
        spark.catalog.clearCache()
        sf1_extra: dict[str, float] = {}
        # Half the growth-probe list per round (rotate_half docstring) —
        # VERDICT r12 directive #4.
        sf1_run, sf1_deferred = rotate_half(
            ["dup_clusters", "dup_clusters_minhash", "dedup_canonical_corpus",
             "decontaminate_test_split",
             "gopher_repetition_filter", "train_test_split_counts",
             "embedding_near_dup_rp", "ann_ivf_deterministic", "ann_pq_adc_top10",
             "ann_ivfpq_top10",
             "hll_distinct_deterministic", "cms_heavy_users_deterministic",
             "bottomk_sample_quantiles", "winnow_near_dup",
             "semantic_dedup_pairs", "kmv_set_similarity",
             "bloom_prejoin_stats", "temperature_sample_langs", "incremental_dedup_batch",
             "scd2_customer_merge", "corpus_curation_pipeline",
             "pii_scrub_stats",
             "events_burst_60s", "funnel_conversion", "next_order_asof_forward",
             "dsir_importance_weights",
             # r12: the retrieval family's 10x growth, per-round
             "bm25_keyword_topk", "hybrid_rrf_topk", "mmr_diversified_topk",
             "hybrid_rag_end_to_end",
             # r13: the bounded-probe lexical path's 10x growth
             "bm25_champion_topk", "ccnet_ppl_buckets"],
            bench_round(),
        )
        time_set(
            spark, sf1_run,
            sf1_dir, 1, sf1_extra, sf1_cards, sf1_cc, tag="sf1-extra ",
        )
        out["sf1_extra_queries"] = sf1_extra
        out["sf1_extra_deferred"] = sf1_deferred
        out["sf1_cardinalities"] = sf1_cards
        out["sf1_cc_stats"] = sf1_cc
        out["sf1_data"] = data_stanza(spark, sf1_dir)
        return out

    def sf10_section() -> dict:
        # 100x scale point (VERDICT r06 directive #3): the heaviest
        # corpus-pipeline extras, per-query warmup then ONE timed run —
        # warm-only timing keeps the same-edges pair directly comparable
        # (VERDICT r07 wrong #1: a cold-first run conflates session/IO
        # cold cost with plan cost).
        out: dict = {}
        sf10_cc: dict[str, dict] = {}
        sf10_timings: dict[str, float] = {}
        sf10_cards: dict[str, int] = {}
        out["sf10_data"] = data_stanza(spark, sf10_dir)
        out["sf10_warm_tables_s"] = warm_tables(spark, sf10_dir)
        # Half the growth-probe list per round (rotate_half docstring) —
        # VERDICT r12 directive #4: this list alone cost ~600 s/round.
        # The exact quadratic-OUTPUT oracle twins (embedding_near_dup,
        # ngram_jaccard_dupes) remain fenced out of the headline below
        # and measured here every OTHER round — recorded as deferred on
        # off rounds, never silently dropped (VERDICT r10 directive #6).
        sf10_run, sf10_deferred = rotate_half(
            ["dedup_canonical_corpus", "dup_clusters", "dup_clusters_minhash",
             "incremental_dedup_batch", "corpus_curation_pipeline",
             "winnow_near_dup", "dsir_importance_weights",
             # r12: the retrieval family's 100x growth
             "bm25_keyword_topk", "hybrid_rrf_topk", "mmr_diversified_topk",
             "hybrid_rag_end_to_end",
             # r13: the bounded-probe lexical path's 100x growth
             "bm25_champion_topk", "ccnet_ppl_buckets"],
            bench_round(),
        )
        # The two exact quadratic-OUTPUT oracle twins run EVERY round
        # (pulled out of the rotation, VERDICT r13 #9): their fresh
        # timings are what makes the unsubstituted headline total below
        # honest rather than a stale carry-over.
        sf10_run = ["embedding_near_dup", "ngram_jaccard_dupes"] + sf10_run
        time_set(
            spark, sf10_run,
            sf10_dir, 1, sf10_timings, sf10_cards, sf10_cc,
            tag="sf10 ", warmup=True,
        )
        out["sf10_extra_deferred"] = sf10_deferred
        # Snapshot: time_set mutates sf10_timings again for the headline
        # stanza below; storing the dict by reference leaked all 19
        # headline timings into the extras stanza (ADVICE r8 low).
        out["sf10_extra_queries"] = dict(sf10_timings)

        # 100x HEADLINE stanza (VERDICT r07 directive #3): the same 19
        # queries the primary metric times — per-query warmup, one warm
        # run timed = "second execution" (the spill-heavy paths only
        # JIT-tier at the scale where they actually spill; measured
        # A/B/A: sf10 ngram_jaccard 103 s cold-ish → 47 s → 28 s).
        # Re-arm the quiet gate after the heavy extras (the r12 full run
        # showed back-half drift; the extras' own teardown load must not
        # bleed into the headline numbers).
        out["sf10_headline_gate"] = wait_for_quiet_host(
            max_wait_s=120.0)["loadavg_gate"]
        spark.catalog.clearCache()
        sf10_shuffle: dict[str, dict] = {}
        # The sf10 headline times the plans a 100 TB run would actually
        # execute (VERDICT r10 directive #6): the two documented exact
        # quadratic-OUTPUT oracle twins are substituted by their
        # hash-checked SCALE-PATH twins; the exact forms stay measured
        # in sf10_extra_queries above and the substitution is recorded.
        # r12: the RP substitute is the CORPUS-SIZED 6x12 configuration —
        # the fixed 4x8 oracle twin degenerates at 200k vectors
        # (n²/2^planes candidates: measured 222.6 s vs 26.8 s sized,
        # r12 sidecar + SCALING.md), and a production corpus would run
        # the sized form (lsh.rp_size_for).
        sf10_subs = {
            "embedding_near_dup": "embedding_near_dup_rp_sized",
            "ngram_jaccard_dupes": "dup_clusters_minhash",
        }
        sf10_headline = [sf10_subs.get(q, q) for q in HEADLINE]
        for a, b in sf10_subs.items():
            print(f"# sf10 headline substitutes {a} -> {b} (exact twin "
                  "timed in sf10_extra_queries)", file=sys.stderr)
        time_set(spark, sf10_headline, sf10_dir, 1, sf10_timings,
                 sf10_cards, sf10_cc, tag="sf10-headline ", warmup=True,
                 shuffle_stats=sf10_shuffle)
        out["sf10_headline_substitutions"] = sf10_subs
        out["sf10_queries"] = {
            k: v for k, v in sf10_timings.items() if k in sf10_headline
        }
        out["sf10_shuffle_stats"] = sf10_shuffle
        out["sf10_headline_total"] = round(
            sum(v for k, v in sf10_timings.items() if k in sf10_headline), 3
        )
        # The UNSUBSTITUTED total, adjacent by construction (VERDICT r13
        # #9): the substituted headline total swaps the two exact twins
        # for their scale-path forms and is therefore flattering on its
        # own; this key re-adds the exact twins' same-run extras timings
        # so no reader can quote one number without the other.
        out["sf10_headline_total_unsubstituted"] = round(
            out["sf10_headline_total"]
            + sum(sf10_timings.get(exact, 0.0) - sf10_timings.get(sub, 0.0)
                  for exact, sub in sf10_subs.items()),
            3,
        )
        out["sf10_cardinalities"] = sf10_cards
        out["sf10_cc_stats"] = sf10_cc
        return out

    # The per-sf query sections first — the primary comparables. With
    # the extras halved per round (rotate_half) the measured r12 full-run
    # costs (sf1 245 s, sf10 1200 s) drop to ~220/~900.
    if have_sf1:
        run_stanza("sf1_queries", 260.0, sf1_section)
    if have_sf10:
        run_stanza("sf10_queries", 950.0, sf10_section)

    # Scale stanzas, oldest-evidence-first (rotation). Estimates are the
    # r12 full-run MEASURED wall costs (committed sidecar
    # stanza_actual_s) + ~30% headroom — the r10/r11 guesses were up to
    # 2.6x high and caused premature skips (VERDICT r12 directive #4).
    # Keys match the sidecar keys each stanza writes, so
    # stanza_last_seen() tracks them across committed rounds. Docstrings
    # on each stanza function carry the directive lineage.
    stanzas: list[tuple[str, float, object]] = []
    if have_sf10:
        stanzas += [
            ("sf10_ivf_probe", 120.0, lambda: {
                "sf10_ivf_probe": ivf_probe_stanza(
                    spark, sf10_dir, nprobes=(1, 4, 8, 16, 32, 112))}),
            ("sf10_zorder", 50.0, lambda: {
                "sf10_zorder": zorder_scale_stanza(
                    spark, sf10_dir, n_files=256)}),
            # Budget-scaled curve (VERDICT r12 directive #4): the full
            # 256-segment tail costs ~1200 s measured and can never fit
            # a 3000 s driver budget alongside everything else — under
            # the driver budget the stanza runs the 1/8/64 prefix (the
            # decay and fold-recovery are visible by 64 segments; the
            # output records its checkpoints), and full runs keep 256.
            ("sf10_ivf_delta_curve",
             1300.0 if budget >= 4500 else 420.0, lambda: {
                "sf10_ivf_delta_curve": ivf_delta_curve_stanza(
                    spark, sf10_dir,
                    checkpoints=(1, 8, 64, 256) if budget >= 4500
                    else (1, 8, 64))}),
            ("sf10_ivf_rebuild", 170.0, lambda: {
                "sf10_ivf_rebuild": ivf_rebuild_stanza(spark, sf10_dir)}),
            ("clustered_ann", 130.0, lambda: {
                "clustered_ann": clustered_ann_stanza(spark)}),
            ("text_ann", 250.0, lambda: {
                "text_ann": text_ann_stanza(spark, sf10_dir)}),
            ("text_ann_sq8", 280.0, lambda: {
                "text_ann_sq8": text_ann_sq8_stanza(spark, sf10_dir)}),
            ("sf10_postings", 180.0, lambda: {
                "sf10_postings": postings_scale_stanza(spark, sf10_dir)}),
            ("sf10_champion", 150.0, lambda: {
                "sf10_champion": champion_scale_stanza(spark, sf10_dir)}),
            ("sf10_shard_export", 40.0, lambda: {
                "sf10_shard_export": shard_export_stanza(spark, sf10_dir)}),
            ("sf10_cc_distributed", 180.0, lambda: {
                "sf10_cc_distributed": cc_distributed_stanza(
                    spark, sf10_dir)}),
            ("sf10_bucketed_join", 140.0, lambda: {
                "sf10_bucketed_join": bucketed_stanza(spark, sf10_dir)}),
            ("sf10_stream_profile", 530.0, lambda: {
                "sf10_stream_profile": stream_profile_stanza(
                    spark, sf10_dir, n_batches=25)}),
        ]
    if os.path.isdir(sf1_dir) and not os.environ.get("SPARK_GRAFT_SKIP_SF10"):
        stanzas += [
            # fresh-subprocess sessions: does NOT use `spark`
            ("sf1_core_scaling", 560.0, lambda: {
                "sf1_core_scaling": core_scaling_stanza(
                    sf1_dir, sf10_dir=sf10_dir if have_sf10 else None)}),
            ("sf1_stream_profile", 340.0, lambda: {
                "sf1_stream_profile": stream_profile_stanza(spark, sf1_dir)}),
            ("sf1_bucketed_join", 30.0, lambda: {
                "sf1_bucketed_join": bucketed_stanza(spark, sf1_dir)}),
            ("sf1_zorder", 30.0, lambda: {
                "sf1_zorder": zorder_scale_stanza(spark, sf1_dir)}),
        ]
    seen = stanza_last_seen()
    order = sorted(range(len(stanzas)),
                   key=lambda i: (seen.get(stanzas[i][0], 0), i))
    context["stanza_order"] = [
        {"stanza": stanzas[i][0], "last_seen_round": seen.get(stanzas[i][0], 0)}
        for i in order
    ]
    for i in order:
        key, est_s, fn = stanzas[i]
        run_stanza(key, est_s, fn)

    context["skipped_stanzas"] = skipped
    flush()
    print(f"# context sidecar: {sidecar} "
          f"(elapsed {time.monotonic() - t_start:.0f}s, "
          f"{len(skipped)} stanzas skipped)", file=sys.stderr)

    # FINAL headline line — the driver's tail parses the last one.
    print(line)


if __name__ == "__main__":
    main()
