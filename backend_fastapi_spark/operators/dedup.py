"""Deduplication operators for large-scale training-data pipelines.

Not in the reference (its dedup is a keyword-uniqueness check,
``news_service_rss.py:214-221``); these are the standard corpus-dedup
family re-expressed as Spark DataFrame programs, sized for 100 TB:

- **exact**: md5-hash group-by — one shuffle on a 32-char key.
- **n-gram Jaccard**: shingle-set self-join. The shingle join is the
  scale-killer if done naively; we explode *distinct* shingles only and
  aggregate intersections before computing Jaccard.
- **MinHash + LSH banding**: per-doc signatures via min(md5(seed|shingle))
  — an aggregation, not a join; banding turns near-dup search into an
  equi-join on band keys. This is the 100 TB path: cost is
  O(n·shingles·seeds) map-side + an equi-join on colliding bands only.
- **SimHash**: a 64-bit signature as 4 × 16-bit bands; pigeonhole band
  collisions, verified by exact Hamming distance.
- **winnowing**: shared k-gram-hash window minima (substring-level).

Every text family runs key → collision groups → pairs (id_a < id_b) →
verify on shared pieces: ``hot_key_cap`` (the document-frequency cap),
``band_keyed`` (signature bands as one exploded key),
``collision_pairs`` (the pair stage and its grouped/join choice) and
``jaccard_verify`` (set sizes onto both sides of a pair).

Hash choice: md5 (identical builtin in Spark and DuckDB) rather than
xxhash64/murmur (engine-specific seeds) — keeps every operator
oracle-checkable bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from backend_fastapi_spark.operators.text import (
    shingles,
    winnow_fingerprint_table,
    words,
)
from backend_fastapi_spark.operators.util import (
    bounded_collect,
    ensure_parallelism,
    local_frame,
    materialize,
)


def exact_dup_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact duplicate groups by content hash: (text_hash, n_dups,
    canonical_id = min id). Only groups with >1 member."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.min(id_col).alias("canonical_id"),
        )
        .filter(F.col("n_dups") > 1)
    )


def shingle_table(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """(id, shingle) distinct pairs — the shared substrate for Jaccard and
    MinHash.

    When the input scans narrower than the cluster (single small file),
    hash-repartitions the RAW documents by ``id_col`` before exploding:
    the shuffle moves the compact pre-explode text rather than the
    ~k×-larger shingle stream, and the per-shingle hashing (md5 chunking
    in SimHash, the KM hash pair in MinHash) then runs on every core
    even when the input is a handful of small files. The signature
    ``groupBy(id_col)`` downstream still inserts an exchange, but a
    cheap one: partial aggregation collapses each partition to one row
    per doc before any data moves. On a real wide 100 TB scan the
    repartition is a no-op (``ensure_parallelism`` guard)."""
    return ensure_parallelism(df, id_col).select(
        F.col(id_col), F.explode(shingles(words(F.col(text_col)), n)).alias("shingle")
    )


def grouped_pairs(
    df: DataFrame, key_col: str, id_col: str, out_a: str = "id_a",
    out_b: str = "id_b",
) -> DataFrame:
    """All ordered id pairs (a < b) sharing a ``key_col`` value — one row
    per (key, pair) occurrence, ready for a pair-count aggregation.

    One shuffle: groupBy(key) collects each collision group's ids, sorts
    them, and emits the C(g,2) pairs with array expressions inside the
    group — the self-join this replaces shuffled the (id, key) table
    TWICE (both equi-join sides) and sorted both for the merge.
    ``collect_set`` (not collect_list) gathers the ids, so a duplicated
    (id, key) row cannot emit an (x, x) self-pair or inflate pair
    multiplicity — it degrades to the join form's distinct semantics
    instead of corrupting counts (ADVICE r13).

    Precondition: group sizes are BOUNDED (callers cap key document-
    frequency first — the collected set lives in one aggregation buffer,
    so an unbounded hot key must be pruned before, not after, this
    group-by; the join form remains the right tool for uncapped
    universes).

    The emit is two nested Generate nodes — posexplode the sorted set,
    then explode the strictly-after slice (1-based; over-length is
    clamped) — so every pair materializes in WHOLE-STAGE CODEGEN with
    no struct allocation. The previous flatten(transform(transform(...
    struct))) chain was a CodegenFallback higher-order function
    evaluated per pair: at sf10's 126.6M pair rows it cost 17.3 s
    against the two-explode form's 7.5 s for the identical stage (r14,
    warm noop A/B; pair multiset byte-identical)."""
    ids = F.array_sort(F.collect_set(F.col(id_col)))
    return (
        df.groupBy(key_col)
        .agg(ids.alias("_ids"))
        .filter(F.size("_ids") >= 2)
        .select(
            F.posexplode("_ids").alias("_i", out_a),
            F.col("_ids").alias("_rest"),
        )
        .select(
            out_a,
            F.explode(
                F.slice(F.col("_rest"), F.col("_i") + F.lit(2),
                        F.size(F.col("_rest")))
            ).alias(out_b),
        )
    )


# Crossover for the CAPPED pair stage's physical form (r14, paired warm
# A/B on a quiet host, min-of-N): below ~a few MB of raw input the
# exploded shingle table is broadcast-small, AQE turns the self-join
# into a map-side BroadcastHashJoin (no wide exchange at all) and the
# grouped form's full shuffle is pure extra cost (sf0.1, 0.6 MB docs:
# join 1.72 s vs grouped 1.85 s). Past the broadcast scale the join
# pays two sorted exchanges of the exploded table and grouped wins
# (sf1, 6.9 MB: 1.21x; sf10, 83 MB: 2.34x). The choice keys on the
# OPTIMIZER'S size estimate of the raw input — problem size, never
# core count — and unknown sizes take the scale-safe grouped path.
GROUPED_PAIRS_MIN_INPUT_BYTES = 4 << 20


def _est_input_bytes(df: DataFrame) -> int:
    """Catalyst's sizeInBytes estimate for ``df`` (driver-side plan
    statistic — no job). Unknown/huge on failure, so callers keyed on
    'small enough to broadcast' fall back to the at-scale path."""
    try:
        return int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:
        return 1 << 62


def hot_key_cap(keyed: DataFrame, key: str, max_df: int) -> DataFrame:
    """``keyed`` without the rows whose ``key`` value occurs in more than
    ``max_df`` rows — the document-frequency cap on a power-law key
    (one common phrase or stop-fingerprint otherwise makes a
    near-quadratic collision group at corpus scale). The hot set is
    small BY CONSTRUCTION (at most rows/max_df keys exceed the cap), so
    it broadcasts and the anti-join prunes map-side with no extra
    shuffle of ``keyed``."""
    hot = (
        keyed.groupBy(key)
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") > max_df)
        .select(key)
    )
    return keyed.join(F.broadcast(hot), key, "left_anti")


def collision_pairs(
    keyed: DataFrame,
    key: str | list[str],
    id_col: str,
    capped_input: DataFrame | None = None,
) -> DataFrame:
    """(id_a, id_b, n_shared): every pair of ``id_col`` values (id_a <
    id_b) whose rows share a ``key`` value (one column or several), with
    the number of key values they share — the pair stage of the n-gram
    Jaccard, MinHash LSH and winnowing families.

    ``capped_input`` is the raw frame ``keyed`` was derived from, given
    only when every key group is bounded (``hot_key_cap``). Then, and
    only if its optimizer estimate is at least
    ``GROUPED_PAIRS_MIN_INPUT_BYTES``, the pairs come from
    ``grouped_pairs``: one shuffle into per-key id lists, pairs emitted
    inside each group. Otherwise the skew-tolerant self-join runs: AQE
    splits an oversized join partition, a collected list cannot be split
    (one hot key of an uncapped universe could hold millions of ids in
    one aggregation buffer), and a broadcast-small capped input joins
    map-side with no wide exchange. The estimate is of the raw input,
    not of ``keyed``: the crossover was measured on document bytes."""
    if (
        capped_input is not None
        and _est_input_bytes(capped_input) >= GROUPED_PAIRS_MIN_INPUT_BYTES
    ):
        pairs = grouped_pairs(keyed, key, id_col)
    else:
        keys = [key] if isinstance(key, str) else list(key)
        a = keyed.select(F.col(id_col).alias("id_a"), *keys)
        b = keyed.select(F.col(id_col).alias("id_b"), *keys)
        pairs = a.join(b, keys).filter(F.col("id_a") < F.col("id_b"))
    return pairs.groupBy("id_a", "id_b").agg(
        F.count(F.lit(1)).alias("n_shared")
    )


def jaccard_verify(
    inter: DataFrame, counts: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """(id_a, id_b, n_inter, jaccard) of the pairs whose Jaccard is ≥
    ``threshold``: the per-document set sizes ``n_sh`` of ``counts``
    (one row per ``id_col``) joined onto both sides of each pair, over
    its shared-shingle count ``n_shared`` — a ratio of int64 counts
    (deterministic division)."""

    def side(s: str) -> DataFrame:
        return counts.select(
            F.col(id_col).alias(f"id_{s}"), F.col("n_sh").alias(f"n_sh_{s}")
        )

    jac = F.col("n_shared").cast("double") / (
        F.col("n_sh_a") + F.col("n_sh_b") - F.col("n_shared")
    ).cast("double")
    return (
        inter.join(side("a"), "id_a")
        .join(side("b"), "id_b")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.col("n_shared").alias("n_inter"), "jaccard")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (i < j) with J ≥ threshold.

    jaccard emitted as a ratio of int64 counts (deterministic division).

    Precondition: ``id_col`` is a key (one row per document). Shingles
    are deduped per ROW (array_distinct — no extra shuffle), so a
    duplicated id would double-count intersections and surface as an
    ANSI divide-by-zero in the union size — loud, rather than a silently
    wrong Jaccard. (Observed exactly once: a corrupt composed scale
    dataset with colliding id offsets; see scripts/gen_scale.py.)

    ``max_shingle_df`` caps shingle document frequency BEFORE the
    self-join: shingle frequency is power-law, and one hot shingle (a
    common phrase) otherwise creates a near-quadratic bucket on a skewed
    join key at corpus scale. Shingles appearing in more than
    ``max_shingle_df`` documents are dropped from the universe (both the
    intersection AND the per-doc counts — Jaccard stays consistent over
    the capped universe). Ubiquitous shingles carry no dedup signal, so
    the capped measure is the one you actually want at 100 TB.
    """
    # Cache the RAW substrate plan (not the capped derivative): Spark's
    # CacheManager matches cached relations by analyzed plan, so every
    # signature family (Jaccard / MinHash / SimHash) scanning the same
    # shingle_table(df) in one session reuses this single evaluation.
    sh = shingle_table(df, text_col, id_col, n).cache()
    capped = max_shingle_df is not None
    if capped:
        sh = hot_key_cap(sh, "shingle", max_shingle_df)
    counts = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    inter = collision_pairs(sh, "shingle", id_col, df if capped else None)
    return jaccard_verify(inter, counts, id_col, threshold)


# Instrumentation from the most recent connected_components() run in the
# CURRENT THREAD (VERDICT r04 directive #3: a CC timing swing must be
# attributable to data shape — edge count / round count — at a glance).
# Thread-local rather than a plain module global so concurrent callers
# (parallel tests, a multi-threaded driver) can't attribute another
# thread's run to their own timed query (ADVICE r05 #1).
import threading as _threading

_CC_LOCAL = _threading.local()


def last_cc_stats() -> dict:
    """Stats dict {edges, vertices, rounds, changed_per_round, mode} from
    the most recent connected_components() call on this thread ({} if
    none). bench.py snapshots this right after timing a CC query."""
    return getattr(_CC_LOCAL, "stats", {})

# Edge-count ceiling for the driver-side union-find short-circuit: 100k
# (id, id) longs ≈ 3 MB collected — trivially driver-safe, same guarded-
# collect discipline as vector.py's bounded query-side collect. The
# capped Jaccard/MinHash pair generators upstream emit edge lists orders
# of magnitude below the corpus size, so this is the common case even at
# 100 TB; a denser graph falls through to the distributed loop.
CC_DRIVER_MAX_EDGES = 100_000


def _cc_driver_union_find(e: DataFrame, rows: list) -> DataFrame:
    """Bounded-collect union-find over already-collected ``rows``
    (≤ CC_DRIVER_MAX_EDGES edges) — exact same (id, cluster_id =
    component-min) contract as the distributed loop. At small edge
    counts the distributed loop's cost is ALL fixed job overhead
    (2 shuffles + a checkpoint per round); this is pure driver work
    plus one ``local_frame``. ``e`` supplies only schema/session."""
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in rows:
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[rb] = ra
    comp_min: dict = {}
    for v in parent:
        r = find(v)
        if r not in comp_min or v < comp_min[r]:
            comp_min[r] = v
    out = [(v, comp_min[find(v)]) for v in parent]
    _CC_LOCAL.stats.update({"vertices": len(parent), "mode": "driver"})
    from pyspark.sql import types as T

    # Vertex ids mix values from BOTH edge columns; if their types differ
    # (e.g. int vs bigint) the output must use the wider one — building
    # from e.schema['a'] alone could silently coerce b-side ids
    # (ADVICE r05 #2). Integer widths: widest wins; otherwise demand an
    # exact match (the distributed path's unionByName has the same rule).
    a_t, b_t = e.schema["a"].dataType, e.schema["b"].dataType
    if a_t == b_t:
        id_type = a_t
    else:
        _INT_WIDTH = {"byte": 1, "short": 2, "integer": 4, "long": 8}
        an, bn = a_t.typeName(), b_t.typeName()
        if an in _INT_WIDTH and bn in _INT_WIDTH:
            id_type = a_t if _INT_WIDTH[an] >= _INT_WIDTH[bn] else b_t
        else:
            raise TypeError(
                f"connected_components edge columns must share a type "
                f"(or both be integers): got {a_t} vs {b_t}"
            )
    schema = T.StructType(
        [T.StructField("id", id_type), T.StructField("cluster_id", id_type)]
    )
    return local_frame(e.sparkSession, out, schema)


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
    driver_max_edges: int = CC_DRIVER_MAX_EDGES,
) -> DataFrame:
    """Connected components over an undirected edge list — the clustering
    step that turns pairwise near-dup PAIRS into dedup GROUPS (keep one
    canonical doc per component).

    Iterative min-label propagation (the Pregel/GraphX CC recipe): every
    vertex starts labeled with its own id; each round every vertex takes
    the min of its label and its neighbors' labels; converged when a round
    changes nothing. Rounds needed = component diameter — near-dup
    clusters are small and dense, so this is a handful of equi-join +
    groupBy rounds, each a single shuffle on vertex id. The driver-side
    loop holds only a per-round ``changed`` COUNT (a scalar), never rows.

    Returns (id, cluster_id) with cluster_id = min vertex id reachable.

    Scale-aware hybrid: edge lists at or under ``driver_max_edges`` take a
    bounded-collect union-find (one job — at small edge counts the
    distributed loop is pure fixed job overhead); larger graphs run the
    distributed loop. Both produce the identical labeling (property-tested
    against each other).

    After each call, ``last_cc_stats()`` returns {edges, vertices, rounds,
    changed_per_round, mode} for this thread's run. CC cost is data-shape-
    dependent (rounds = component diameter, work/round ∝ edges), so a
    timing swing with no code change must be attributable to these
    numbers — bench.py embeds them in the BENCH context sidecar.
    """
    # max_iter <= 0 would skip the loop body entirely and the
    # non-convergence branch would read an empty changed_hist (ADVICE
    # r06 #2) — reject it up front.
    if max_iter < 1:
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")
    # Materialize the (possibly expensive) edge pipeline BEFORE mirroring:
    # the union references it twice, so an unmaterialized plan would
    # evaluate the upstream pair computation twice in one job.
    # NULL endpoints carry no connectivity (SQL equality never matches
    # NULL) and would otherwise diverge between the two modes: the
    # driver union-find raises TypeError comparing None to int while the
    # distributed loop emits a (null, null) label row. Drop them.
    e = materialize(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).filter(
            F.col("a").isNotNull() & F.col("b").isNotNull()
        )
    )
    changed_hist: list[int] = []
    _CC_LOCAL.stats = {
        "edges": None, "vertices": None, "rounds": 0,
        "changed_per_round": changed_hist, "mode": "distributed",
    }
    stats = _CC_LOCAL.stats
    # driver_max_edges=0 disables the short-circuit entirely (tests use it
    # to force the distributed loop, including on empty edge lists).
    # The short-circuit decision and the union-find input are ONE
    # bounded collect off the checkpointed rows (r14): the previous
    # count-then-collect paid two driver jobs where small graphs — the
    # common case — need one, and an over-bound graph costs one bounded
    # sequential read, not a funnel.
    if 0 < driver_max_edges:
        rows = bounded_collect(e, driver_max_edges)
        if len(rows) <= driver_max_edges:
            stats["edges"] = len(rows)
            return _cc_driver_union_find(e, rows)
        del rows
    # e is checkpointed: this count reads materialized rows, no recompute.
    n_edges = e.count()
    stats["edges"] = n_edges
    both = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    labels = (
        both.select(F.col("a").alias("id")).distinct().withColumn("lbl", F.col("id"))
    )
    for _ in range(max_iter):
        nbr = (
            both.join(labels, both["b"] == labels["id"])
            .groupBy("a")
            .agg(F.min("lbl").alias("nbr_lbl"))
        )
        # Materialize FIRST, then read the convergence count off the
        # checkpointed rows — counting before materializing would execute
        # the whole join pipeline twice per round.
        stepped = materialize(
            labels.join(nbr, labels["id"] == nbr["a"], "left").select(
                "id",
                F.least(F.col("lbl"), F.coalesce("nbr_lbl", F.col("lbl"))).alias(
                    "lbl"
                ),
                (F.coalesce("nbr_lbl", F.col("lbl")) < F.col("lbl")).alias(
                    "_changed"
                ),
            )
        )
        # ONE job yields both the convergence scalar and the vertex count
        # (same per-round job count as the uninstrumented loop).
        changed, n_vertices = stepped.agg(
            F.sum(F.col("_changed").cast("int")), F.count(F.lit(1))
        ).first()
        labels = stepped.drop("_changed")
        changed_hist.append(int(changed or 0))
        stats["rounds"] = len(changed_hist)
        stats["vertices"] = n_vertices
        if not changed:
            break
    else:
        # exhausting max_iter without convergence means the labels are
        # WRONG (a component split across cluster_ids) — never return
        # them silently; near-dup components are small-diameter, so
        # hitting this means the input graph isn't the expected shape.
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            f"(last round changed {changed_hist[-1]} labels) — raise "
            "max_iter for high-diameter graphs"
        )
    return labels.select(F.col("id"), F.col("lbl").alias("cluster_id"))


def pair_clusters(pairs: DataFrame) -> DataFrame:
    """Near-dup PAIRS (id_a, id_b) → dedup GROUPS (doc_id, cluster_id):
    connected components, cluster_id = the component's min doc id — the
    canonical survivor each member maps to."""
    return connected_components(pairs.select("id_a", "id_b")).select(
        F.col("id").alias("doc_id"), "cluster_id"
    )


def dup_clusters(
    docs: DataFrame, threshold: float = 0.8, max_shingle_df: int = 64
) -> DataFrame:
    """(doc_id, cluster_id) over the capped exact-Jaccard edge list
    (``ngram_jaccard_pairs``) — the clustering every curation pass runs."""
    return pair_clusters(
        ngram_jaccard_pairs(docs, threshold, max_shingle_df=max_shingle_df)
    )


# MinHash permutation family: ONE md5 per shingle, sliced into two
# independent 60-bit integers h1/h2, then n_hashes Kirsch-Mitzenmacher
# combinations g_s = (h1 + s·h2) mod P. One string hash + k integer ops
# per shingle instead of k string hashes (~10× cheaper signature pass);
# the two independent base hashes keep the permutations effectively
# uncorrelated (measured at sf1: 0.64M candidate pairs vs 0.54M for 16
# independent md5s — a single-base affine family gave 1.15M). P = 2^31-1
# (prime): every intermediate stays < 2^36, exactly representable in
# int64 in both Spark and DuckDB (no overflow, no engine-specific wrap).
MINHASH_P = 2_147_483_647


def minhash_signatures(
    df: DataFrame,
    n_hashes: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Per-doc MinHash signature: sig_s = min over shingles of
    (h1 + s·h2) mod P, h1/h2 = int64 of md5 hex chars [1,15] / [16,30].

    One aggregation pass over the shingle table — no joins. Documents with
    high shingle-Jaccard agree on each sig_s with probability ≈ J.
    """
    # .cache(): same analyzed plan as the Jaccard/SimHash substrate, so one
    # evaluation feeds all signature families in a session (CacheManager
    # dedups the repeated cache() calls).
    sh = shingle_table(df, text_col, id_col, n).cache()
    # Project h1/h2 ONCE per shingle row before aggregating: min()
    # aggregates don't share subexpressions, so inlining h1/h2 into all
    # n_hashes agg expressions would evaluate md5 2·n_hashes times per row.
    md5col = F.md5("shingle")
    hashed = sh.select(
        F.col(id_col),
        (F.conv(F.substring(md5col, 1, 15), 16, 10).cast("long") % MINHASH_P)
        .alias("_h1"),
        (F.conv(F.substring(md5col, 16, 15), 16, 10).cast("long") % MINHASH_P)
        .alias("_h2"),
    )
    aggs = [
        F.min((F.col("_h1") + F.lit(s) * F.col("_h2")) % MINHASH_P).alias(f"sig_{s}")
        for s in range(n_hashes)
    ]
    return hashed.groupBy(id_col).agg(*aggs)


def _minhash_bands(n_hashes: int, band_rows: int) -> list[Column]:
    """One band-key column per band: its ``band_rows`` signature values
    joined with '|'. A silent ``n_hashes // band_rows`` would drop
    trailing signature columns when band_rows doesn't divide n_hashes,
    and yield ZERO bands when band_rows > n_hashes — which turns the
    dedup into a no-op that accepts every duplicate; both raise."""
    if band_rows <= 0 or n_hashes % band_rows != 0:
        raise ValueError(
            f"band_rows={band_rows} must be a positive divisor of "
            f"n_hashes={n_hashes} (bands x rows must use every signature)"
        )
    return [
        F.concat_ws(
            "|", *[F.col(f"sig_{b * band_rows + r}") for r in range(band_rows)]
        )
        for b in range(n_hashes // band_rows)
    ]


def band_keyed(
    sigs: DataFrame,
    id_col: str,
    bands: list[Column],
    out_id: str | None = None,
    carry: tuple[str, ...] | list[str] = (),
) -> DataFrame:
    """(out_id, *carry, band_idx, band_key): one row per (document, band)
    of a signature table, carrying the ``carry`` columns. ONE equi-join
    on the exploded key instead of one self-join per band + union: the
    same collision set (a pair agreeing on band b meets at key
    (b, value)), a single shuffle of the bands·n-row keyed table,
    1/bands the join stages."""
    return sigs.select(
        F.col(id_col).alias(out_id or id_col),
        *carry,
        F.posexplode(F.array(*bands)).alias("band_idx", "band_key"),
    )


_BAND_KEY = ["band_idx", "band_key"]


def minhash_lsh_pairs(
    df: DataFrame,
    n_hashes: int = 16,
    band_rows: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """LSH banding over MinHash signatures: candidate pairs = docs agreeing
    on ALL rows of at least one band. Equi-join per band on the concatenated
    band key — the only rows that meet are actual collisions.
    """
    bands = _minhash_bands(n_hashes, band_rows)
    # materialize once (1 row/doc): the band join reads signatures twice
    # — lineage recomputation would redo the shingle aggregation, and
    # .cache() is best-effort under memory pressure. With a checkpoint
    # dir configured (real cluster) this is a reliable checkpoint;
    # locally it degrades to localCheckpoint.
    sigs = materialize(minhash_signatures(df, n_hashes, text_col, id_col, n))
    return collision_pairs(band_keyed(sigs, id_col, bands), _BAND_KEY, id_col).select(
        "id_a", "id_b"
    )


def minhash_verified_pairs(docs: DataFrame, threshold: float = 0.7) -> DataFrame:
    """(id_a, id_b, jaccard): MinHash band collisions (``minhash_lsh_pairs``)
    exact-verified at ``jaccard >= threshold`` — the production two-stage
    dedup. The shingle intersection is computed ONLY over candidate
    pairs, never all-pairs: at 100 TB the verify join touches
    |candidates|·shingles rows, a vanishing fraction of the corpus."""
    cands = minhash_lsh_pairs(docs)
    sh = shingle_table(docs)
    a = sh.select(F.col("doc_id").alias("id_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("id_b"), "shingle")
    inter = (
        cands.join(a, "id_a")
        .join(b, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    counts = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    return jaccard_verify(inter, counts, "doc_id", threshold).select(
        "id_a", "id_b", "jaccard"
    )


def dedup_state(
    df: DataFrame,
    n_hashes: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """The PERSISTABLE per-doc dedup-gate state: one row per doc —
    (``id_col``, ``_h`` = md5 of the text, sig_0..sig_{n_hashes-1};
    signature columns NULL for docs too short to shingle). ~32 B +
    n_hashes·8 B per doc, the table ``incremental_minhash_dedup``
    consumes via ``corpus_state`` so a continuously ingesting gate never
    rescans raw corpus text: at 100 TB the corpus contributes only this
    signature table (persist it partitioned by ingest batch alongside
    the corpus; see streaming/ingest_stream.curate_batch)."""
    sigs = minhash_signatures(df, n_hashes, text_col, id_col, n)
    return df.select(
        F.col(id_col), F.md5(F.col(text_col)).alias("_h")
    ).join(sigs, id_col, "left")


def incremental_minhash_dedup(
    corpus: DataFrame,
    batch: DataFrame,
    n_hashes: int = 16,
    band_rows: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    corpus_state: DataFrame | None = None,
) -> DataFrame:
    """Ingest-time dedup: check a NEW batch against the EXISTING corpus
    without ever comparing corpus-to-corpus — the shape a continuously
    ingesting pipeline needs (the full-corpus pair sweep
    ``minhash_lsh_pairs`` is the backfill tool; this is the per-batch
    gate). Returns one row per batch doc:
    (``id_col``, n_matches, first_match, accepted).

    Both sides get the same MinHash signatures; the band join is
    batch-keyed × corpus-keyed, so its cost is O(|batch| collisions) and
    the corpus side contributes only its (pre-computable, persistable)
    signature table — at 100 TB the corpus signatures are ~n_hashes·8
    bytes/doc and the batch never meets raw corpus text. ``accepted`` is
    the no-collision verdict (band agreement ⇒ est. Jaccard ≥ ~0.5 at
    4-row bands); first_match = min colliding corpus id for audit.

    Pass ``corpus_state`` (a :func:`dedup_state` table, typically read
    back from parquet) to make that posture literal: the corpus side is
    then the precomputed signature table and raw corpus text is never
    touched — ``corpus`` may be None. Verdicts are identical either way
    (signatures are doc-local and deterministic)."""
    bands = _minhash_bands(n_hashes, band_rows)
    if corpus_state is not None:
        sig_cols = [f"sig_{s}" for s in range(n_hashes)]
        sig_c = corpus_state.filter(
            F.col("sig_0").isNotNull()
        ).select(id_col, *sig_cols)
        corpus_md5 = corpus_state.select(
            F.col(id_col).alias("corpus_id"), "_h"
        )
    else:
        sig_c = materialize(
            minhash_signatures(corpus, n_hashes, text_col, id_col, n)
        )
        corpus_md5 = corpus.select(
            F.col(id_col).alias("corpus_id"),
            F.md5(F.col(text_col)).alias("_h"),
        )
    sig_b = materialize(
        minhash_signatures(batch, n_hashes, text_col, id_col, n)
    )
    band_hits = (
        band_keyed(sig_b, id_col, bands, "batch_id")
        .join(band_keyed(sig_c, id_col, bands, "corpus_id"), _BAND_KEY)
        .select("batch_id", "corpus_id")
    )
    # Sub-shingle fallback: a batch doc with < n words has NO shingles,
    # so it gets no signature and the band join can never see it — a
    # silent accept-everything blind spot for tiny docs (1M copies of
    # "click here" would all pass). Such docs (identified robustly as
    # "absent from sig_b", whatever the tokenizer did) fall back to
    # EXACT text match against the corpus — the only meaningful dup
    # signal at that length. The corpus md5 set is persistable alongside
    # the signature table at scale.
    short_hits = (
        batch.join(sig_b.select(id_col), id_col, "left_anti")
        .select(
            F.col(id_col).alias("batch_id"),
            F.md5(F.col(text_col)).alias("_h"),
        )
        .join(corpus_md5, "_h")
        .select("batch_id", "corpus_id")
    )
    hits = (
        band_hits.unionByName(short_hits)
        .distinct()
        .groupBy("batch_id")
        .agg(
            F.count(F.lit(1)).alias("n_matches"),
            F.min("corpus_id").alias("first_match"),
        )
    )
    return (
        batch.select(F.col(id_col))
        .join(hits, F.col(id_col) == F.col("batch_id"), "left")
        .select(
            id_col,
            F.coalesce("n_matches", F.lit(0)).alias("n_matches"),
            "first_match",
            (F.coalesce("n_matches", F.lit(0)) == 0).alias("accepted"),
        )
    )


# 64-bit SimHash as 4 × 16-bit band columns. Hyperplane bit g (0..63)
# comes from md5(shingle) nibble g//2: even g reads the nibble's bit 3,
# odd g its bit 2 — 64 independent public hash bits from ONE md5 per
# shingle row (identical digest in both engines). Band-key cardinality
# 2^16 keeps pigeonhole buckets ~n/65536: the scale-safe shape (the
# earlier 16-bit signature put ~n/64 docs per bucket → O(n²/64)
# candidates).
SIMHASH_BANDS = 4
SIMHASH_BAND_BITS = 16


def simhash_pairs(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """SimHash(64-bit, md5-nibble hyperplanes) near-dup pairs (id_a,
    id_b, hamming) with Hamming distance ≤ 3.

    Pigeonhole banding: any pair at Hamming ≤ 3 agrees on at least one
    of the 4 full bands, so the band-key collisions hold every
    qualifying pair; the exact Hamming then verifies. No all-pairs join,
    no single-band hot bucket."""
    # Parse the ONE md5 digest per shingle into 4 × 32-bit integer chunks
    # (8 hex chars via conv); every hyperplane bit is then a shift-and —
    # integer codegen, not 64 substring+IN string comparisons per shingle
    # row. The .cache() on the raw shingle plan makes this the same shared
    # substrate the Jaccard/MinHash queries evaluate (CacheManager
    # plan-matches it).
    md5col = F.md5("shingle")
    sh = (
        shingle_table(df, text_col, id_col)
        .cache()
        .select(
            id_col,
            *[
                F.conv(F.substring(md5col, 8 * c + 1, 8), 16, 10)
                .cast("long")
                .alias(f"c{c}")
                for c in range(4)
            ],
        )
    )

    def bit(g: int):
        # Oracle bit g = bit (3 - g%2) of hex nibble g//2. Nibble i sits
        # in chunk i//8 at hex position i%8, so its bit b is bit
        # 4*(7 - i%8) + b of the 32-bit chunk value.
        i = g // 2
        shift = 4 * (7 - i % 8) + (3 - g % 2)
        return F.shiftright(F.col(f"c{i // 8}"), shift).bitwiseAND(F.lit(1))

    bit_sums = [
        F.sum(bit(g)).alias(f"s{g}") for g in range(SIMHASH_BANDS * SIMHASH_BAND_BITS)
    ]
    bands = [f"band{k}" for k in range(SIMHASH_BANDS)]
    # SUM(+1/-1 per bit) > 0  ⇔  2 * SUM(bit) > COUNT(*)
    band_cols = [
        sum(
            [
                F.when(
                    F.col(f"s{16 * k + j}") * 2 > F.col("_n"), F.lit(1 << j)
                ).otherwise(0)
                for j in range(SIMHASH_BAND_BITS)
            ],
            F.lit(0),
        ).alias(band)
        for k, band in enumerate(bands)
    ]
    # 1 row/doc, read by both sides of the band join — materialize once
    # (reliable checkpoint when a checkpoint dir is set; localCheckpoint
    # on local[*])
    sigs = materialize(
        sh.groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("_n"), *bit_sums)
        .select(id_col, *band_cols)
    )
    # The keyed rows CARRY the 4 bands, so the Hamming verify runs on the
    # band join's output and only verified pairs reach the distinct.
    # Counting every collision pair first (collision_pairs) and joining
    # the bands back onto both sides measured 6.7 and 9.7 s against this
    # form's 6.4 s (sf1, 4 cores, warm min-of-3): the candidate pairs far
    # outnumber the verified ones.
    keyed = band_keyed(sigs, id_col, [F.col(b) for b in bands], carry=bands)

    def side(s: str) -> DataFrame:
        return keyed.select(
            F.col(id_col).alias(f"id_{s}"),
            *_BAND_KEY,
            *[F.col(b).alias(f"{b}_{s}") for b in bands],
        )

    hamming = sum(
        [
            F.bit_count(
                F.col(f"{b}_a").bitwiseXOR(F.col(f"{b}_b")).cast("long")
            )
            for b in bands
        ],
        F.lit(0),
    ).cast("long")
    return (
        side("a")
        .join(side("b"), _BAND_KEY)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", hamming)
        .filter(F.col("hamming") <= 3)
        .select("id_a", "id_b", "hamming")
        .distinct()
    )


def winnow_pairs(
    df: DataFrame,
    k: int,
    w: int,
    max_fp_df: int,
    min_shared: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Substring-level near-duplicate pairs (id_a, id_b, n_shared): the
    document pairs sharing at least ``min_shared`` winnowing
    fingerprints (k-gram hashes, window ``w``), over the fingerprints in
    at most ``max_fp_df`` documents. Winnowing guarantees detection of
    any shared run ≥ k + w - 1 chars — the plagiarism/contamination
    detector's contract.

    Scale shape: explode only the winnowed set (~1/w of k-grams), cap
    stop-fingerprints by document frequency, then the collision-pair
    stage. No all-pairs product."""
    # Materialize (id, fps) BEFORE the explode, for two reasons: it
    # feeds the heavy-hitter agg AND the pair stage (re-eval would re-run
    # the md5 transform up to 4x), and — the sharper one —
    # InferFiltersFromGenerate puts `size(fps) > 0` UNDER the explode;
    # against live lineage that predicate inlines the whole winnow
    # transform and pushes through the repartition into the
    # single-partition scan stage (measured: a 10-minute one-core
    # straggler). Against the checkpointed relation it is a cheap
    # attribute test.
    e = materialize(
        winnow_fingerprint_table(df, k, w, id_col, text_col)
    ).select(id_col, F.explode("fps").alias("fp"))
    pairs = collision_pairs(hot_key_cap(e, "fp", max_fp_df), "fp", id_col, df)
    return pairs.filter(F.col("n_shared") >= min_shared)
