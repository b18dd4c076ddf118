"""Flagship plan #4: the auto-RAG loop (SURVEY §3.3) — search → ingest →
answer, minus the network and the LLM.

Reference (``src/api/routes.py:1312-1386`` + ``rag_service.py:61-208``):
Tavily web search → scrape → chunk → embed → Chroma add → retrieve k=8 →
prompt → LLM, with progress events between stages. The engine-side
restatement replaces the web search with a corpus query (per SURVEY §2.1
S8: "replace with corpus table scan in tests") and keeps everything else:

1. **search**: keyword OR-containment over the corpus (P5)
2. **ingest**: chunk + embed the hits, append to the vector index (S13
   incremental upsert — micro-batch append to the partitioned store)
3. **answer context**: retrieve top-k from the updated index (the §3.1
   retrieval plan) for the same query

Each stage returns a DataFrame; `run_auto_rag` emits a progress row per
stage (the T4 analog) alongside the final context.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from backend_fastapi_spark.functions.anchors import strong_anchors
from backend_fastapi_spark.functions.embedder import _hash_embed_one, hashing_embedder
from backend_fastapi_spark.operators import vector as V
from backend_fastapi_spark.plans.ingest import ingest_table


def search_corpus(docs: DataFrame, keywords: list[str], limit: int = 50) -> DataFrame:
    """Stage 1 (S8 stand-in): keyword OR-containment + cap."""
    cond = None
    for kw in keywords:
        c = F.lower(F.col("text")).contains(kw.lower())
        cond = c if cond is None else (cond | c)
    return docs.filter(cond).limit(limit)


def run_auto_rag(
    spark: SparkSession,
    docs: DataFrame,
    query: str,
    index_path: str,
    index_name: str = "autorag",
    top_k: int = 8,
) -> tuple[DataFrame, list[dict]]:
    """Full loop. Returns (context_df, progress_events)."""
    progress: list[dict] = []

    anchors = strong_anchors(query) or [query.lower()]
    hits = search_corpus(docs, anchors)
    n_hits = hits.count()
    progress.append({"status": "searched", "n": n_hits, "progress": 30})

    chunks = ingest_table(hits, index_name)
    chunks.write.partitionBy("index_name").mode("append").parquet(index_path)
    progress.append({"status": "ingested", "n": chunks.count(), "progress": 60})

    index = spark.read.parquet(index_path).filter(
        F.col("index_name") == index_name
    )
    qvec = _hash_embed_one("passage: " + query, dim=64)
    retrieved = V.knn_exact(
        index.select("chunk_id", "doc_id", "title", "text", "embedding"),
        V.query_frame(spark, qvec),
        k=top_k,
        corpus_id="chunk_id",
        exclude_self=False,
    ).select("chunk_id", "doc_id", "title", "score_i64", F.substring("text", 1, 500).alias("snippet"))
    progress.append({"status": "retrieved", "n": top_k, "progress": 100})
    return retrieved, progress
