"""Independent references for the output checks: plain Python / NumPy
re-computations of what each engine call must return, written from the
operators' documented definitions (whitespace tokens of lowercased text,
word 3-gram shingles, md5-derived MinHash, fixed-point int64 dot
products, Okapi BM25 rounded to 1e-6). None of this calls the engine.
"""

from __future__ import annotations

import hashlib
import math
import re
from collections import Counter, defaultdict
from decimal import ROUND_HALF_UP, Decimal

import numpy as np

FIXED_SCALE = 1_000_000
MINHASH_P = 2_147_483_647
N_HASHES, BAND_ROWS = 16, 4
PII_PATTERNS = (
    ("url", re.compile(r"https?://[^\s]+")),
    ("email", re.compile(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}")),
    ("phone", re.compile(r"\b\d{3}[-.]\d{3,4}[-.]\d{4}\b")),
)


def words(text: str) -> list[str]:
    return text.lower().split(" ")


def shingles(text: str, n: int = 3) -> set[str]:
    w = words(text)
    return {" ".join(w[i : i + n]) for i in range(len(w) - n + 1)} if len(w) >= n else set()


def md5(text: str) -> str:
    return hashlib.md5(text.encode("utf-8")).hexdigest()


# -- vectors -----------------------------------------------------------------
def quantize(v: np.ndarray, dtype=np.float32) -> np.ndarray:
    """round(x * 1e6) half away from zero, as int64, with x read as
    ``dtype`` (float32 for stored vectors, float64 for query literals)."""
    x = np.asarray(v, dtype=dtype).astype(np.float64) * FIXED_SCALE
    return (np.sign(x) * np.floor(np.abs(x) + 0.5)).astype(np.int64)


def topk_dot(corpus_q: np.ndarray, ids: np.ndarray, query: np.ndarray, k: int, dtype=np.float32):
    """[(id, score_i64)] best-first, ties by id ascending; ``query`` is
    quantized as ``dtype``."""
    scores = corpus_q @ quantize(query, dtype)
    order = np.lexsort((ids, -scores))[:k]
    return [(int(ids[i]), int(scores[i])) for i in order]


_TOKEN_HASH: dict[str, tuple[int, float]] = {}


def hash_embed(text: str, dim: int = 64, dtype=np.float32) -> np.ndarray:
    """Feature-hashing embedding: md5 of each whitespace token picks a
    bucket (first 4 bytes) and a sign (low bit of byte 5); L2-normalised.
    The counts are small integers, so the norm is exact in float64.
    float32 is how the embedding UDF stores it; query vectors stay
    float64."""
    vec = np.zeros(dim)
    for tok in text.lower().split():
        if tok not in _TOKEN_HASH:
            h = hashlib.md5(tok.encode("utf-8")).digest()
            _TOKEN_HASH[tok] = (int.from_bytes(h[:4], "big"), 1.0 if h[4] & 1 else -1.0)
        bucket, sign = _TOKEN_HASH[tok]
        vec[bucket % dim] += sign
    norm = math.sqrt(float((vec * vec).sum()))
    return (vec / norm if norm > 0 else vec).astype(dtype)


def round6(x: float) -> float:
    """ROUND(x * 1e6) / 1e6, half away from zero."""
    y = x * 1e6
    return math.copysign(math.floor(abs(y) + 0.5), y) / 1e6


def dec12(x: float) -> Decimal:
    """A double cast to DECIMAL(30,12) (half up)."""
    return Decimal(repr(x)).quantize(Decimal("1e-12"), rounding=ROUND_HALF_UP)


# -- retrieval plans --------------------------------------------------------------
def strong_anchors(query: str) -> list[str]:
    """Distinct lowercase word tokens of length >= 4 that are not stop
    words; the lowered query itself when there are none."""
    stop = {"what", "about"}
    out: list[str] = []
    for t in re.findall(r"[a-z0-9][a-z0-9\-_/]+", query.lower()):
        if len(t) >= 4 and t not in stop and t not in out:
            out.append(t)
    return out or [query.lower()]


def rag_retrieve(query: str, ids, texts, sources, passage_q, top_k=5, margin=0.3, floor=0.1,
                 per_group_cap=3, budget=600, snippet_len=200) -> list[tuple]:
    """The retrieval plan for one text query, as (ctx_rank, doc_id, source,
    sim, line) in rank order: the fixed-point dot top-``max(4k, k+5)``
    over ``passage_q`` (the quantized hash embeddings of
    ``"passage: " + text``), the similarity floor, the margin cut against
    the best hit, anchor containment, at most ``per_group_cap`` hits per
    source (round robin by rank within source), the top ``top_k``, then
    snippets packed into ``budget`` characters (an overflowing snippet is
    kept, cut to what remains, only when more than 100 characters remain)."""
    qv = hash_embed("passage: " + query, dtype=np.float64)
    hits = [(i, s / 1e12) for i, s in topk_dot(passage_q, ids, qv, max(top_k * 4, top_k + 5), np.float64)]
    hits = [(i, s) for i, s in hits if s >= floor]
    if hits:
        best = max(s for _, s in hits)
        cut = max(best - margin, best * (1.0 - margin))
        hits = [(i, s) for i, s in hits if s >= cut]
    anchors = strong_anchors(query)
    hits = [(i, s) for i, s in hits if any(a in texts[i].lower() for a in anchors)]
    per_source: Counter = Counter()
    ranked = []
    for i, s in sorted(hits, key=lambda h: (-h[1], h[0])):
        per_source[sources[i]] += 1
        if per_source[sources[i]] <= per_group_cap:
            ranked.append((per_source[sources[i]], -s, i))
    out, cum = [], 0
    for rank, (_, neg_sim, i) in enumerate(sorted(ranked)[:top_k], start=1):
        snip = texts[i][:snippet_len]
        cum += len(snip)
        remaining = budget - (cum - len(snip))
        if cum > budget:
            if remaining <= 100:
                continue
            snip = snip[:remaining]
        out.append((rank, i, sources[i], -neg_sim, f"《S{rank}》 [id={i}] [src={sources[i]}] {snip}"))
    return out


def hybrid(bm25: "BM25", corpus_q, ids, query, terms, k=10, pool=50) -> list[tuple[int, float]]:
    """Reciprocal-rank fusion (k = 60) of the BM25 top-``pool`` over the
    term set (per-document sum of per-term scores) and the fixed-point dot
    top-``pool``; [(doc_id, rrf)] best-first, ties by id."""
    kw = Counter()
    for t in terms:
        for i, c in bm25.tf.items():
            if t in c:
                kw[i] += dec12(bm25.term_score(i, t))
    kw_top = sorted(((i, round6(float(s))) for i, s in kw.items()), key=lambda x: (-x[1], x[0]))[:pool]
    vec_top = topk_dot(corpus_q, ids, query, pool)
    rrf = Counter()
    for ranked in (kw_top, vec_top):
        for r, (i, _) in enumerate(ranked, start=1):
            rrf[i] += dec12(1.0 / (60.0 + r))
    fused = sorted(((i, round6(float(s))) for i, s in rrf.items()), key=lambda x: (-x[1], x[0]))
    return fused[:k]


def c4_clean(texts) -> dict:
    """C4 page cleaning summed over a corpus: a line is kept when it ends
    in . ! ? or a double quote, has at least 3 whitespace words and does
    not mention javascript; a page is kept with at least 3 kept lines and
    no 'lorem ipsum' or '{'. Returns n, kept pages and the characters of
    the kept pages' cleaned text (None when no page is kept)."""
    kept_pages, chars = 0, None
    for t in texts:
        lines = [
            ln for ln in t.split("\n")
            if ln.endswith((".", "!", "?", '"')) and len(ln.split()) >= 3 and "javascript" not in ln.lower()
        ]
        low = t.lower()
        if "lorem ipsum" not in low and "{" not in low and len(lines) >= 3:
            kept_pages += 1
            chars = (chars or 0) + len("\n".join(lines))
    return {"n": len(texts), "kept": kept_pages, "chars": chars}


def semantic_pairs(emb: np.ndarray, tau: int, k_clusters: int = 16) -> dict[tuple[int, int], int]:
    """SemDeDup pairs over vectors with ids 0..n-1: the medoids are the
    ``k_clusters`` ids whose (md5(id), id) sorts first, each vector joins
    its nearest medoid (squared L2, first minimum), and every pair inside
    a cluster whose fixed-point dot is at least ``tau`` is returned with
    that dot."""
    q = quantize(emb)
    medoids = sorted(range(len(q)), key=lambda i: (md5(str(i)), i))[:k_clusters]
    c = q[medoids]
    d2 = (q * q).sum(axis=1, keepdims=True) - 2 * (q @ c.T) + (c * c).sum(axis=1)
    cluster = d2.argmin(axis=1)
    out = {}
    for k in range(k_clusters):
        ids = np.flatnonzero(cluster == k)
        g = q[ids] @ q[ids].T
        iu, ju = np.triu_indices(len(ids), k=1)
        keep = g[iu, ju] >= tau
        out.update(zip(zip(ids[iu[keep]].tolist(), ids[ju[keep]].tolist()), g[iu[keep], ju[keep]].tolist()))
    return out


# -- quality gate ---------------------------------------------------------------
def quality_ok(text: str, min_words=20, max_top=0.11, min_distinct=0.4) -> bool:
    w = words(text)
    n = len(w)
    top = max(Counter(w).values()) if w else 0
    return n >= min_words and top / max(n, 1) <= max_top and len(set(w)) / max(n, 1) >= min_distinct


# -- MinHash / LSH -----------------------------------------------------------------
def minhash(text: str) -> tuple[int, ...] | None:
    sh = shingles(text)
    if not sh:
        return None
    hexes = [md5(s) for s in sh]
    h1 = np.array([int(h[0:15], 16) % MINHASH_P for h in hexes], dtype=np.int64)
    h2 = np.array([int(h[15:30], 16) % MINHASH_P for h in hexes], dtype=np.int64)
    s = np.arange(N_HASHES, dtype=np.int64)
    return tuple(int(x) for x in ((h1[:, None] + s[None, :] * h2[:, None]) % MINHASH_P).min(axis=0))


def band_keys(sig) -> list[tuple[int, tuple[int, ...]]]:
    return [(b, sig[b * BAND_ROWS : (b + 1) * BAND_ROWS]) for b in range(N_HASHES // BAND_ROWS)]


def lsh_pairs(ids, sigs) -> set[tuple[int, int]]:
    buckets = defaultdict(list)
    for i, sig in zip(ids, sigs):
        if sig is not None:
            for key in band_keys(sig):
                buckets[key].append(i)
    out = set()
    for members in buckets.values():
        m = sorted(members)
        out.update((a, b) for x, a in enumerate(m) for b in m[x + 1 :] if a < b)
    return out


# -- corpus curation -------------------------------------------------------------------
def jaccard_pairs(ids, texts, threshold: float, max_df: int | None = None):
    sh = {i: shingles(t) for i, t in zip(ids, texts)}
    post = defaultdict(list)
    for i, s in sh.items():
        for g in s:
            post[g].append(i)
    if max_df is not None:
        hot = {g for g, m in post.items() if len(m) > max_df}
        sh = {i: s - hot for i, s in sh.items()}
        post = {g: m for g, m in post.items() if g not in hot}
    # Prefix filter: sets with Jaccard >= t share at least ceil(t * |s|)
    # shingles, so they share one among the |s| - ceil(t * |s|) + 1
    # rarest of either. Only those pairs need the exact check.
    rank = {g: r for r, g in enumerate(sorted(post, key=lambda g: (len(post[g]), g)))}
    prefix = defaultdict(list)
    for i, s in sh.items():
        n_keep = len(s) - math.ceil(threshold * len(s) - 1e-9) + 1
        for g in sorted(s, key=rank.__getitem__)[:n_keep]:
            prefix[g].append(i)
    cand = set()
    for m in prefix.values():
        m = sorted(m)
        cand.update((a, b) for x, a in enumerate(m) for b in m[x + 1 :])
    out = set()
    for a, b in cand:
        inter = len(sh[a] & sh[b])
        union = len(sh[a]) + len(sh[b]) - inter
        if union and inter / union >= threshold:
            out.add((a, b))
    return out


def components(pairs) -> set[frozenset[int]]:
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    groups = defaultdict(set)
    for x in parent:
        groups[find(x)].add(x)
    return {frozenset(g) for g in groups.values()}


def components_of(rows) -> set[frozenset[int]]:
    """Group (doc_id, cluster_id) rows into the same form as ``components``."""
    groups = defaultdict(set)
    for r in rows:
        groups[r["cluster_id"]].add(r["doc_id"])
    return {frozenset(g) for g in groups.values()}


def pii_counts(text: str) -> dict[str, int]:
    return {kind: len(p.findall(text)) for kind, p in PII_PATTERNS}


def split_of(doc_id: int) -> str:
    return "test" if md5(str(doc_id))[0] in "01" else "train"


# -- streaming curation gate ---------------------------------------------------------------
class CurationGate:
    """The per-micro-batch acceptance rule of streamed curation: quality
    gate, exact dedup (lowest id per text inside the batch, then against
    every accepted text), near dedup (inside the batch the higher id of
    every LSH-colliding pair goes; then anything colliding in a band with
    an accepted document)."""

    def __init__(self, seed_texts: dict[int, str]):
        self.hashes = {md5(t) for t in seed_texts.values()}
        self.bands = set()
        for t in seed_texts.values():
            sig = minhash(t)
            if sig is not None:
                self.bands.update(band_keys(sig))

    def admit(self, batch: dict[int, str]) -> set[int]:
        q = {i: t for i, t in batch.items() if quality_ok(t)}
        first: dict[str, int] = {}
        for i in sorted(q):
            first.setdefault(md5(q[i]), i)
        exact = {i: q[i] for i in first.values() if md5(q[i]) not in self.hashes}
        sigs = {i: minhash(t) for i, t in exact.items()}
        removed = {b for _, b in lsh_pairs(list(sigs), list(sigs.values()))}
        accepted = {
            i
            for i, sig in sigs.items()
            if i not in removed
            and (sig is None or not any(k in self.bands for k in band_keys(sig)))
            and (sig is not None or md5(exact[i]) not in self.hashes)
        }
        for i in accepted:
            self.hashes.add(md5(exact[i]))
            if sigs[i] is not None:
                self.bands.update(band_keys(sigs[i]))
        return accepted


# -- BM25 -------------------------------------------------------------------------------------
class BM25:
    """Okapi BM25 (k1 = 1.2, b = 0.75, Lucene idf) over whitespace tokens,
    scores rounded to 1e-6 before ranking."""

    def __init__(self, docs: dict[int, str]):
        self.tf = {}
        self.dlen = {}
        self.df = Counter()
        for i, t in docs.items():
            c = Counter(words(t))
            self.tf[i] = c
            self.dlen[i] = sum(c.values())
            self.df.update(c.keys())
        self.n = len(docs)
        self.avglen = sum(self.dlen.values()) / self.n

    def term_score(self, doc_id: int, term: str) -> float:
        tf = float(self.tf[doc_id][term])
        df = float(self.df[term])
        idf = math.log(1.0 + (self.n - df + 0.5) / (df + 0.5))
        return idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * self.dlen[doc_id] / self.avglen))

    def topk(self, term: str, k: int) -> list[tuple[int, float]]:
        scored = [
            (i, round(self.term_score(i, term) * 1e6) / 1e6)
            for i, c in self.tf.items()
            if term in c
        ]
        scored.sort(key=lambda x: (-x[1], x[0]))
        return scored[:k]


def same_ranking(got, want, exact_score) -> bool:
    """BM25 lists agree up to 1e-6 rounding: same length, the same score
    at every rank, and every returned document scored as claimed."""
    return len(got) == len(want) and all(
        abs(g[1] - w[1]) <= 2e-6 and abs(exact_score(g[0]) - g[1]) <= 2e-6
        for g, w in zip(got, want)
    )
