"""Text / document operators — SURVEY §2.8 + the LLM-data-pipeline text
analysis suite (language scoring, quality, token stats, fingerprints).

Reference analogs: tokenization + anchor extraction
(``enhanced_internal_db_service.py:729-763``), chunking
(``rag_service.py:78-83``, ``enhanced:591-600``), truncation/packing
(``internal_db_service.py:378-403``), doc assembly (``internal:285-313``).

Everything here is built from JVM-side column expressions (split /
transform / sequence / md5 / regexp) so it whole-stage-codegens. The
LangChain-parity recursive chunker (the one Python boundary, a pandas
UDF) lives in ``operators/chunker.py``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# A small English stopword list (public, ubiquitous); used for the language
# and quality heuristics. Kept tiny + sorted so the oracle SQL can inline it.
STOPWORDS = sorted(
    ["the", "a", "an", "of", "to", "and", "in", "is", "it", "for", "on", "as"]
)


def words(text: Column) -> Column:
    """Whitespace tokenization of lowercased text (exact twin of DuckDB
    ``string_split(lower(text), ' ')``)."""
    return F.split(F.lower(text), " ")


def shingles(w: Column, n: int = 3, sep: str = " ") -> Column:
    """Word n-gram shingle set (distinct). Empty array when < n words.

    Each gram is ``array_join(slice(w, i+1, n))`` — 2 expression nodes
    per gram instead of the previous n ``element_at`` lookups +
    ``concat_ws`` (2n+1 nodes, each interpreted per evaluation inside
    the higher-order transform). Byte-identical output (array_join and
    concat_ws both skip nulls, and split() never yields nulls; verified
    by full-frame checksum at sf0.01/sf0.1 for n=3 and n=8); measured
    5.8x on the sf10 8-gram explode (54.2 s -> 9.4 s)."""
    idx = F.sequence(F.lit(0), F.size(w) - n)
    grams = F.transform(idx, lambda i: F.array_join(F.slice(w, i + 1, n), sep))
    return F.when(F.size(w) >= n, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def char_chunks(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    size: int = 200,
    stride: int = 150,
) -> DataFrame:
    """Fixed-size character chunking with overlap (size-stride), the
    distributed analog of the reference's chunk split (size 700/800, overlap
    80/120). One narrow transform — no shuffle; rows fan out in place.

    Returns (id, chunk_idx, chunk).
    """
    nchars = F.greatest(F.length(F.col(text_col)), F.lit(1))
    starts = F.sequence(F.lit(1), nchars, F.lit(stride))
    return (
        df.select(
            F.col(id_col),
            F.col(text_col),
            F.explode(starts).alias("_start"),
        )
        .select(
            F.col(id_col),
            ((F.col("_start") - 1) / stride).cast("long").alias("chunk_idx"),
            # column API, not f-string SQL: a non-identifier column name
            # (spaces, quotes) would make the expr unparseable
            F.col(text_col)
            .substr(F.col("_start"), F.lit(size))
            .alias("chunk"),
        )
    )


def stopword_ratio(w: Column) -> Column:
    """Fraction of tokens that are stopwords (language-ID heuristic).
    Integer counts divided as doubles — deterministic."""
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(w, lambda t: F.array_contains(stop_arr, t)))
    return n_stop.cast("double") / F.greatest(F.size(w), F.lit(1)).cast("double")


def distinct_ratio(w: Column) -> Column:
    """Lexical diversity: distinct tokens / tokens."""
    return F.size(F.array_distinct(w)).cast("double") / F.greatest(
        F.size(w), F.lit(1)
    ).cast("double")


def doc_fingerprint(w: Column) -> Column:
    """Order-insensitive document fingerprint: md5 of the sorted distinct
    token set. Word-permuted near-duplicates collide; any token change
    breaks the hash."""
    return F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(w))))


def winnow_fingerprints(hashes: Column, w: int = 12) -> Column:
    """Winnowing fingerprints (Schleimer et al., SIGMOD 2003 — the MOSS
    scheme): hash every char ``k``-gram of the lowercased text, slide a
    window of ``w`` consecutive hashes, keep the minimum of each window,
    distinct. Guarantees any shared substring of length ≥ k + w - 1
    contributes at least one shared fingerprint, while storing ~1/w of
    the k-gram hashes — the density knob that makes substring-level
    dedup feasible at corpus scale.

    Hash = first 16 hex chars of md5(k-gram); the window minimum is the
    lexicographic string min, identical in any engine that agrees on
    md5 + substr (the DuckDB oracle does). Pure column expression —
    one scan, zero shuffles, no UDF.

    Caller must filter ``length(lower(text)) >= k + w - 1`` first so
    both sequence() bounds stay positive (Spark's sequence(1, 0) counts
    DOWN, yielding [1, 0] instead of empty), and should compute
    :func:`kgram_hashes` in its own projection: the hash array feeds
    both size() and slice() here, and keeping it a named column stops
    CollapseProject from inlining the non-cheap transform twice.
    """
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size(hashes) - (w - 1)),
            lambda j: F.array_min(F.slice(hashes, j, w)),
        )
    )


def winnow_fingerprint_table(
    df: DataFrame,
    k: int = 20,
    w: int = 12,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id_col, n_kgrams, fps) per document — the winnowing substrate as
    ONE Arrow-batched corpus scan (mapInPandas), semantically identical
    to :func:`kgram_hashes` + :func:`winnow_fingerprints` (kept as the
    executable spec and property-test subject; a parity test pins the
    two paths equal).

    Why this port exists (VERDICT r06 #8): the expression form walks a
    higher-order-function lambda per char position — interpreted, never
    codegen'd — and the r7 sf10 measurement showed it dominating
    `winnow_near_dup` (99.8 s at 100×, tied-heaviest extra). Same
    diagnosis and same cure as the r6 RP-LSH pass: per Arrow batch, the
    k-gram hash is C-backed hashlib.md5 whose first 8 digest bytes ARE
    the first-16-hex-chars prefix as a uint64 (lexicographic order of
    equal-length lowercase hex == numeric order), the window minimum is
    one numpy sliding-window reduction, and distinct-preserving-order is
    pd.unique. ASCII docs hash byte slices directly; any non-ASCII doc
    falls back to codepoint slicing + encode (Spark's substr counts
    codepoints). Zero shuffles, one scan — unchanged plan shape, ~3×
    lower constant.

    Lowercasing happens IN SPARK (the ``lower(text)`` projection), not
    Python: Python str.lower and JVM toLowerCase disagree on a handful
    of Unicode mappings, and the oracle's semantics are Spark's.

    Per-row cost is ~len(text) md5 calls, so a small single-file scan is
    spread across cores first (``ensure_parallelism``: a no-op at real
    multi-file scale). ``dedup.winnow_pairs`` is the pair stage on top."""
    import hashlib

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from backend_fastapi_spark.operators.util import ensure_parallelism

    base = ensure_parallelism(df, id_col).filter(
        F.length(F.lower(F.col(text_col))) >= k + w - 1
    ).select(F.col(id_col), F.lower(F.col(text_col)).alias("_tx"))
    id_field = df.schema[id_col]
    out_schema = T.StructType(
        [
            T.StructField(id_field.name, id_field.dataType),
            T.StructField("n_kgrams", T.LongType(), False),
            T.StructField("fps", T.ArrayType(T.StringType(), False), False),
        ]
    )

    def gen(batches):
        md5 = hashlib.md5
        swv = np.lib.stride_tricks.sliding_window_view
        for pdf in batches:
            ids, n_kgrams, fps = [], [], []
            for did, t in zip(pdf[id_col], pdf["_tx"]):
                n = len(t) - k + 1  # >= w by the length filter
                b = t.encode("utf-8")
                # One digest-bytes join per doc + a strided big-endian
                # view, instead of per-gram int.from_bytes + np.fromiter
                # boxing (r14: 927 → 584 ns/gram microbenched, ~1.6x on
                # the dominant winnow stage). Big-endian u64 of the
                # first 8 digest bytes == the first-16-hex-chars prefix
                # numerically (lexicographic order of equal-length
                # lowercase hex == numeric order), unchanged.
                if len(b) == len(t):  # ASCII: byte slice == char slice
                    digests = [md5(b[j:j + k]).digest() for j in range(n)]
                else:
                    digests = [
                        md5(t[j:j + k].encode("utf-8")).digest()
                        for j in range(n)
                    ]
                hs = np.ascontiguousarray(
                    np.frombuffer(b"".join(digests), dtype=">u8")
                    .reshape(n, 2)[:, 0]
                ).astype(np.uint64)
                mins = pd.unique(swv(hs, w).min(axis=1))
                # all fingerprints hex-formatted in ONE .hex() call
                hx = mins.astype(">u8").tobytes().hex()
                ids.append(did)
                n_kgrams.append(n)
                fps.append([hx[i:i + 16] for i in range(0, 16 * len(mins), 16)])
            yield pd.DataFrame(
                {id_col: ids, "n_kgrams": n_kgrams, "fps": fps}
            )

    return base.mapInPandas(gen, schema=out_schema)


def kgram_hashes(text: Column, k: int = 20) -> Column:
    """Rolling char k-gram hash array: first 16 md5 hex chars of each
    k-char substring of ``text``, in position order. The substrate for
    :func:`winnow_fingerprints`.

    ``text`` must be a NAMED, already-normalized (lowercased) column —
    never an inline ``F.lower(...)``: the lambda body re-evaluates its
    whole expression tree per element, so an embedded lower() turns one
    O(len) pass into O(len²) interpreted ICU work per row (measured as a
    minutes-long single-task straggler before this was hoisted)."""
    return F.transform(
        F.sequence(F.lit(1), F.length(text) - (k - 1)),
        lambda i: F.md5(text.substr(i, F.lit(k))).substr(1, 16),
    )


def pack_by_budget(
    df: DataFrame,
    group_col: str,
    len_col: Column,
    order_cols: list[Column],
    budget: int,
    min_tail: int = 100,
    clip_col: str | None = None,
) -> DataFrame:
    """Greedy char-budget packing per group (context assembly,
    internal_db_service.py:378-403): keep rows, in priority order, while the
    running length total stays within budget — plus the reference's
    min-remainder rule (:386-391): the first overflowing row is kept
    truncated to the remaining budget when more than ``min_tail`` chars
    remain. The running sum is monotone, so every later row stays dropped
    (the reference's ``break``). ``clip_col``: column rewritten to the
    clipped length on the truncated tail row."""
    w = Window.partitionBy(group_col).orderBy(*order_cols).rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = F.col("_cum")
    remaining = F.lit(budget) - (cum - len_col)
    fits = cum <= budget
    out = df.withColumn("_cum", F.sum(len_col).over(w)).filter(
        fits | (remaining > min_tail)
    )
    if clip_col is not None:
        out = out.withColumn(
            clip_col,
            F.when(fits, F.col(clip_col)).otherwise(remaining).cast("long"),
        )
    return out.drop("_cum")


# ---------------------------------------------------------------------------
# PII scrubbing (round 6) — the standard corpus-prep redaction pass
# (emails / URLs / phone numbers → typed placeholder tokens) a
# training-data pipeline runs before tokenization. Not in the reference
# (its corpus never leaves the DB); patterns kept to the regex subset
# whose semantics are identical in Java regex (Spark) and RE2 (DuckDB),
# so the whole pass is oracle-checkable. Scrub order is URL → EMAIL →
# PHONE: URLs may embed @ or digit runs, so they must leave the text
# first; the remaining two cannot overlap.
# ---------------------------------------------------------------------------

PII_PATTERNS = (
    # (kind, pattern) in scrub order. Conservative on purpose: a corpus
    # scrubber wants high precision (no mangled prose) — recall comes
    # from adding patterns, not loosening these.
    ("url", r"https?://[^\s]+"),
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("phone", r"\b\d{3}[-.]\d{3,4}[-.]\d{4}\b"),
)


def scrub_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds ``scrubbed`` (text with each PII span replaced by
    ``<URL>``/``<EMAIL>``/``<PHONE>``) and per-kind match counts
    ``n_url``/``n_email``/``n_phone`` (counted on the ORIGINAL text, so
    counts are independent of scrub order). Pure regexp_replace /
    regexp_extract_all column expressions — whole-stage codegen, no UDF,
    embarrassingly parallel at any corpus size."""
    out = df
    # counts run on coalesce(text, ''): size(regexp_extract_all(NULL))
    # is -1/NULL (legacy/ANSI sizeOfNull), either of which corrupts a
    # SUM(n_*) redaction audit — a NULL-text row has zero matches.
    src = F.coalesce(F.col(text_col), F.lit(""))
    scrubbed = F.col(text_col)  # NULL text stays NULL in the output
    for kind, pat in PII_PATTERNS:
        out = out.withColumn(
            f"n_{kind}",
            F.size(F.regexp_extract_all(src, F.lit(pat), F.lit(0))),
        )
        scrubbed = F.regexp_replace(scrubbed, pat, f"<{kind.upper()}>")
    return out.withColumn("scrubbed", scrubbed)


# ---------------------------------------------------------------------------
# C4-style line/document quality filtering (Raffel et al. 2020, §2.2 —
# public). The reference has no web-cleaning stage (its corpus arrives
# via curated ingest); a 100 TB web-scale pretraining pipeline starts
# here, so the engine carries it as a first-class operator alongside the
# Gopher repetition gate.
# ---------------------------------------------------------------------------

C4_TERMINALS = (".", "!", "?", '"')


def c4_line_filter(
    df: DataFrame,
    text_col: str = "text",
    min_line_words: int = 3,
    min_kept_lines: int = 3,
) -> DataFrame:
    """C4 cleaning rules as pure column expressions (whole-stage
    codegen, no UDF, embarrassingly parallel):

    - keep a LINE iff it ends in terminal punctuation, has at least
      ``min_line_words`` whitespace words, and does not mention
      'javascript' (case-insensitive);
    - keep the DOC iff it contains neither 'lorem ipsum' nor '{' and
      retains at least ``min_kept_lines`` lines.

    Adds: ``n_lines``, ``n_kept_lines``, ``doc_kept`` (int 0/1), and
    ``clean_text`` (kept lines re-joined with newlines; NULL when the
    doc is dropped — a dropped page has no cleaned form).

    NULL text is treated as an empty page (coalesce to ''): one empty
    line, zero kept, page dropped — the operator emits one row per
    input doc with non-NULL counters, never a NULL-propagated verdict
    (same discipline as repetition_metrics / scrub_pii)."""
    lines = F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")
    kept = F.filter(
        lines,
        lambda l: (
            F.endswith(l, F.lit(C4_TERMINALS[0]))
            | F.endswith(l, F.lit(C4_TERMINALS[1]))
            | F.endswith(l, F.lit(C4_TERMINALS[2]))
            | F.endswith(l, F.lit(C4_TERMINALS[3]))
        )
        # whitespace WORDS: split on a whitespace run and drop empty
        # tokens, so "a  b" is 2 words (not 3) and tabs split too —
        # mirrored in queries._C4_LINE_KEEP_SQL
        & (
            F.size(
                F.filter(F.split(l, r"\s+"), lambda x: x != F.lit(""))
            )
            >= min_line_words
        )
        & ~F.lower(l).contains("javascript"),
    )
    low = F.lower(F.coalesce(F.col(text_col), F.lit("")))
    doc_kept = (
        ~low.contains("lorem ipsum")
        & ~low.contains("{")
        & (F.size(kept) >= min_kept_lines)
    )
    return (
        df.withColumn("n_lines", F.size(lines).cast("long"))
        .withColumn("n_kept_lines", F.size(kept).cast("long"))
        .withColumn("doc_kept", doc_kept.cast("int"))
        .withColumn(
            "clean_text",
            F.when(doc_kept, F.array_join(kept, "\n")),
        )
    )


def c4_span_dedup(
    df: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """C4's cross-document span deduplication (Raffel et al. 2020 §2.2:
    "we discarded any repeated three-sentence span, keeping one") over
    newline-delimited sentences: hash every run of ``n`` consecutive
    lines, keep the FIRST occurrence corpus-wide (total order
    (doc_id, pos) — deterministic, no survivor ambiguity), and remove
    from every later occurrence the lines it covers. Returns one row
    per input doc: (id, n_sents, n_spans, n_dup_spans, n_kept_sents,
    clean_text) — clean_text is the surviving lines re-joined, NULL
    when nothing survives.

    Feed it sentence-per-line text: upstream that is the streaming
    sentence segmenter or :func:`c4_line_filter`'s clean_text.

    Scale shape: ONE shuffle on the span hash (the first-occurrence
    window — span keys are md5-uniform, no hot key), one groupBy on
    doc id to gather each doc's removed positions (a small int array —
    dup spans per doc, not spans per doc), and the reassembly is a
    positional array filter in codegen. The corpus text never shuffles;
    only (id, pos, 32-char hash) rows do."""
    from backend_fastapi_spark.operators.util import materialize

    lines = F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")
    # Materialized: read twice (span explode + reassembly join) and the
    # split must not recompute under the exploded lineage.
    base = materialize(df.select(F.col(id_col), lines.alias("_lines")))
    span_arr = F.when(
        F.size("_lines") >= n,
        F.transform(
            # sequence(0, size-n): ascending only when size >= n — the
            # guard avoids sequence()'s descending surprise (see
            # winnow_fingerprints).
            F.sequence(F.lit(0), F.size("_lines") - n),
            lambda i: F.md5(F.concat_ws("\n", F.slice("_lines", i + 1, n))),
        ),
    ).otherwise(F.array().cast("array<string>"))
    spans = base.select(
        F.col(id_col),
        F.posexplode(span_arr).alias("pos", "span_h"),
    )
    w = Window.partitionBy("span_h").orderBy(
        F.col(id_col).asc(), F.col("pos").asc()
    )
    dups = (
        spans.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") > 1)
        .groupBy(id_col)
        .agg(
            F.collect_set("pos").alias("_dup_pos"),
            F.count(F.lit(1)).alias("_n_dup"),
        )
    )
    joined = base.join(dups, id_col, "left")
    dup_pos = F.coalesce(F.col("_dup_pos"), F.array().cast("array<int>"))
    kept = F.filter(
        F.col("_lines"),
        lambda l, i: ~F.exists(
            dup_pos, lambda p: (p <= i) & (i <= p + (n - 1))
        ),
    )
    return joined.select(
        F.col(id_col),
        F.size("_lines").cast("long").alias("n_sents"),
        F.greatest(F.size("_lines") - (n - 1), F.lit(0))
        .cast("long")
        .alias("n_spans"),
        F.coalesce(F.col("_n_dup"), F.lit(0)).cast("long").alias("n_dup_spans"),
        F.size(kept).cast("long").alias("n_kept_sents"),
        F.when(F.size(kept) > 0, F.array_join(kept, "\n")).alias("clean_text"),
    )
