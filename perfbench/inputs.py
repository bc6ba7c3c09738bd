"""Seeded input generators and the NumPy references the checks use.

Every generator is a pure function of its seed and sizes: the same
seed gives the same arrays, and the program under test only ever sees
the parquet files written from them.
"""

from __future__ import annotations

from collections import defaultdict
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa

STOPWORDS = ("the", "a", "an", "and", "or", "of", "to", "is", "in", "it")
LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


def rng_for(seed: int, salt: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), int(salt)])


# ---------------------------------------------------------------------------
# gen: arguments for the SQL randgen UDF
# ---------------------------------------------------------------------------


def udf_args(seed: int, n: int, null_share: float = 0.05) -> pa.Table:
    """(lo, hi) int64 bounds with about ``null_share`` nulls in each."""
    rng = rng_for(seed, 1)
    lo = rng.integers(-1_000_000, 1_000_000, n)
    hi = lo + rng.integers(0, 1_000_000, n)
    lo_null = rng.random(n) < null_share
    hi_null = rng.random(n) < null_share
    return pa.table(
        {
            "row_id": pa.array(np.arange(n, dtype=np.int64)),
            "lo": pa.array(lo, mask=lo_null),
            "hi": pa.array(hi, mask=hi_null),
        }
    )


# ---------------------------------------------------------------------------
# text_dedup: a corpus with planted duplicate clusters
# ---------------------------------------------------------------------------


@dataclass
class Corpus:
    table: pa.Table  # doc_id long, text string
    junk_ids: set[int]
    clusters: list[list[int]]  # doc ids of each planted cluster, origin first
    texts: dict[int, str] = field(repr=False)


def _vocabulary(rng: np.random.Generator, size: int) -> list[str]:
    words: list[str] = []
    seen = set(STOPWORDS)
    while len(words) < size:
        n = int(rng.integers(3, 9))
        w = "".join(rng.choice(LETTERS, n))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def text_corpus(
    seed: int,
    n_docs: int,
    words_per_doc: int = 32,
    vocab_size: int = 3000,
    junk_share: float = 0.1,
    dup_share: float = 0.25,
    max_cluster: int = 40,
) -> Corpus:
    """Documents of ``words_per_doc`` words, a quarter of them stopwords.

    ``junk_share`` of the documents are punctuation-heavy and carry no
    stopwords, so the quality filter drops them.  About ``dup_share`` of
    the documents are planted copies: clusters whose sizes follow a Zipf
    law, each copy either exact or with one word replaced.
    """
    rng = rng_for(seed, 2)
    vocab = np.array(_vocabulary(rng, vocab_size), dtype=object)
    weights = 1.0 / np.arange(1, vocab_size + 1) ** 1.05
    weights /= weights.sum()

    n_dups = int(n_docs * dup_share)
    sizes: list[int] = []
    while sum(sizes) < n_dups:
        sizes.append(int(min(rng.zipf(2.0), max_cluster)))
    sizes[-1] -= sum(sizes) - n_dups
    sizes = [s for s in sizes if s > 0]
    n_junk = int(n_docs * junk_share)
    n_good = n_docs - n_dups - n_junk  # plain documents, cluster origins last

    n_stop = words_per_doc // 4
    words = vocab[rng.choice(vocab_size, (n_good, words_per_doc - n_stop), p=weights)]
    stops = np.array(STOPWORDS, dtype=object)[rng.integers(0, len(STOPWORDS), (n_good, n_stop))]
    good = rng.permuted(np.hstack([words, stops]), axis=1)
    junk = vocab[rng.choice(vocab_size, (n_junk, words_per_doc), p=weights)] + "!!"

    docs = [list(row) for row in good] + [list(row) for row in junk]
    kinds = [0] * n_good + [-1] * n_junk  # -1 junk, 0 plain, c+1 cluster c
    first_origin = n_good - len(sizes)
    for c, size in enumerate(sizes):
        origin = docs[first_origin + c]
        kinds[first_origin + c] = c + 1
        edit = rng.random(size) < 0.5
        pos = rng.integers(0, words_per_doc, size)
        repl = vocab[rng.integers(0, vocab_size, size)]
        for j in range(size):
            copy = list(origin)
            if edit[j] and repl[j] != copy[pos[j]]:
                copy[pos[j]] = repl[j]
            docs.append(copy)
            kinds.append(c + 1)

    ids = rng.permutation(len(docs)).astype(np.int64)
    joined = [" ".join(d) for d in docs]
    texts = dict(zip(ids.tolist(), joined))
    clusters: list[list[int]] = [[] for _ in sizes]
    for i, k in enumerate(kinds):
        if k > 0:
            clusters[k - 1].append(int(ids[i]))
    order = np.argsort(ids)
    table = pa.table(
        {
            "doc_id": pa.array(ids[order]),
            "text": pa.array([joined[i] for i in order]),
        }
    )
    junk_ids = {int(ids[i]) for i, k in enumerate(kinds) if k == -1}
    return Corpus(table, junk_ids, clusters, texts)


def shingles(text: str, k: int = 3) -> set[tuple[str, ...]]:
    toks = text.lower().split()
    return {tuple(toks[i : i + k]) for i in range(len(toks) - k + 1)}


def jaccard(a: str, b: str, k: int = 3) -> float:
    sa, sb = shingles(a, k), shingles(b, k)
    return round(len(sa & sb) / len(sa | sb), 6) if sa | sb else 0.0


def exact_groups(texts: dict[int, str], ids) -> dict[str, int]:
    """text -> smallest doc id holding it, over ``ids``."""
    rep: dict[str, int] = {}
    for i in ids:
        t = texts[i]
        if t not in rep or i < rep[t]:
            rep[t] = i
    return rep


def planted_pairs(corpus: Corpus, keep: set[int], threshold: float) -> set[tuple[int, int]]:
    """Pairs inside one planted cluster, both kept, with Jaccard >= threshold."""
    out = set()
    for members in corpus.clusters:
        kept = sorted(m for m in members if m in keep)
        for i, a in enumerate(kept):
            for b in kept[i + 1 :]:
                if jaccard(corpus.texts[a], corpus.texts[b]) >= threshold:
                    out.add((a, b))
    return out


def min_label_components(pairs) -> dict[int, int]:
    """node -> smallest node id of its connected component."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def bpe_merges(texts, n_merges: int) -> list[tuple[str, str, int]]:
    """Greedy BPE: the most frequent adjacent symbol pair, ties broken by
    (left, right) order, merged left to right."""
    freq: dict[str, int] = defaultdict(int)
    for t in texts:
        for w in t.split(" "):
            if w:
                freq[w] += 1
    words = [(list(w), c) for w, c in freq.items()]
    merges = []
    for _ in range(n_merges):
        counts: dict[tuple[str, str], int] = defaultdict(int)
        for syms, c in words:
            for j in range(1, len(syms)):
                counts[(syms[j - 1], syms[j])] += c
        if not counts:
            break
        (a, b), pc = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((a, b, pc))
        for syms, _ in words:
            out: list[str] = []
            for s in syms:
                if out and out[-1] == a and s == b:
                    out[-1] = a + b
                else:
                    out.append(s)
            syms[:] = out
    return merges


# ---------------------------------------------------------------------------
# embed_search: clustered vectors, queries and near-duplicates
# ---------------------------------------------------------------------------


@dataclass
class Vectors:
    corpus: np.ndarray  # (n, dim) float64, ids 0..n-1
    queries: np.ndarray  # (q, dim), ids QUERY_ID_BASE + i
    dup_subset: np.ndarray  # (m, dim), ids 0..m-1
    planted: set[tuple[int, int]]  # near-duplicate pairs in dup_subset


QUERY_ID_BASE = 1 << 40


def clustered_vectors(
    seed: int,
    n: int,
    dim: int = 64,
    n_centers: int = 16,
    n_queries: int = 200,
    dup_n: int = 2000,
    dup_pairs: int = 200,
    spread: float = 0.35,
) -> Vectors:
    rng = rng_for(seed, 3)
    centers = rng.normal(size=(n_centers, dim))

    def draw(m: int) -> np.ndarray:
        c = rng.integers(0, n_centers, m)
        return centers[c] + spread * rng.normal(size=(m, dim))

    corpus = draw(n)
    queries = draw(n_queries)
    # near-duplicates: each planted copy is its source plus a 1% jitter,
    # cosine > 0.999; the rest of the subset is ordinary clustered data
    base = draw(dup_n - dup_pairs)
    src = rng.choice(dup_n - dup_pairs, dup_pairs, replace=False)
    jitter = base[src] + 0.01 * np.linalg.norm(base[src], axis=1, keepdims=True) / np.sqrt(dim) * rng.normal(
        size=(dup_pairs, dim)
    )
    subset = np.vstack([base, jitter])
    planted = {(int(s), int(dup_n - dup_pairs + i)) for i, s in enumerate(src)}
    return Vectors(corpus, queries, subset, planted)


def vector_table(mat: np.ndarray, id_base: int = 0) -> pa.Table:
    ids = np.arange(len(mat), dtype=np.int64) + id_base
    flat = pa.array(mat.reshape(-1).astype(np.float64))
    emb = pa.FixedSizeListArray.from_arrays(flat, mat.shape[1]).cast(pa.list_(pa.float64()))
    return pa.table({"vec_id": pa.array(ids), "embedding": emb})


def unit_rows(mat: np.ndarray) -> np.ndarray:
    return mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-30)


def cosine_pairs_above(mat: np.ndarray, threshold: float) -> set[tuple[int, int]]:
    """All pairs (a < b) with rounded cosine >= threshold."""
    u = unit_rows(mat)
    sims = np.round(u @ u.T, 6)
    a, b = np.nonzero(np.triu(sims >= threshold, k=1))
    return set(zip(a.tolist(), b.tolist()))


def brute_top1(corpus: np.ndarray, queries: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(top-1 neighbour index, its rounded cosine) per query."""
    sims = np.round(unit_rows(queries) @ unit_rows(corpus).T, 6)
    best = np.argmax(sims, axis=1)  # first maximum = smallest id on ties
    return best, sims[np.arange(len(queries)), best]


def argmin_rows(mat: np.ndarray, centroids: np.ndarray) -> np.ndarray:
    d2 = (mat**2).sum(1)[:, None] - 2 * mat @ centroids.T + (centroids**2).sum(1)[None, :]
    return np.argmin(d2, axis=1)


# ---------------------------------------------------------------------------
# event_analytics: events from Zipf-active users and a graph
# ---------------------------------------------------------------------------

SESSION_GAP_S = 30 * 60
T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


@dataclass
class Events:
    events: pa.Table  # event_id, user_id, ts, amount, category, price
    sessions_per_user: dict[int, int]


def events(seed: int, n_events: int, n_users: int, n_categories: int = 20) -> Events:
    """Events whose per-user gaps are either under or clearly over the
    30-minute session gap, so the session count is known exactly."""
    rng = rng_for(seed, 4)
    act = 1.0 / np.arange(1, n_users + 1) ** 1.1
    user = rng.choice(n_users, n_events, p=act / act.sum()).astype(np.int64)
    user.sort(kind="stable")
    new_session = rng.random(n_events) < 0.15
    gap_s = np.where(new_session, rng.integers(SESSION_GAP_S + 60, 48 * 3600, n_events), rng.integers(1, SESSION_GAP_S - 60, n_events))
    first = np.ones(n_events, dtype=bool)
    first[1:] = user[1:] != user[:-1]
    gap_s[first] = rng.integers(0, 86_400, int(first.sum()))
    # cumulative time within each user's run of events
    csum = np.cumsum(gap_s)
    run_start = np.maximum.accumulate(np.where(first, np.arange(n_events), 0))
    offset = csum - csum[run_start] + gap_s[run_start]
    ts_us = T0_US + offset.astype(np.int64) * 1_000_000
    starts = first | new_session
    sessions = np.bincount(user[starts], minlength=n_users)
    price = (np.minimum(rng.zipf(1.6, n_events), 5000)).astype(np.int64) * 25
    amount = np.round(rng.gamma(2.0, 20.0, n_events), 2)
    category = rng.integers(0, n_categories, n_events).astype(np.int64)
    perm = rng.permutation(n_events)
    ev = pa.table(
        {
            "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
            "user_id": pa.array(user[perm]),
            "ts": pa.array(ts_us[perm], pa.timestamp("us", tz="UTC")),
            "amount": pa.array(amount[perm]),
            "category": pa.array(category[perm]),
            "price": pa.array(price[perm]),
        }
    )
    return Events(ev, {int(u): int(sessions[u]) for u in np.unique(user)})


def graph(seed: int, n_nodes: int, n_edges: int) -> pa.Table:
    """Directed weighted edges: a ring (so no node dangles) plus edges
    towards Zipf-popular destinations."""
    rng = rng_for(seed, 5)
    ring_src = np.arange(n_nodes, dtype=np.int64)
    ring_dst = (ring_src + 1) % n_nodes
    m = n_edges - n_nodes
    pop = 1.0 / np.arange(1, n_nodes + 1) ** 0.8
    label = rng.permutation(n_nodes)
    src = rng.integers(0, n_nodes, m)
    dst = label[rng.choice(n_nodes, m, p=pop / pop.sum())]
    keep = src != dst
    src = np.concatenate([ring_src, src[keep]])
    dst = np.concatenate([ring_dst, dst[keep]])
    pairs = np.unique(np.stack([src, dst], axis=1), axis=0)
    w = rng.integers(1, 6, len(pairs)).astype(np.float64)
    return pa.table({"src": pa.array(pairs[:, 0]), "dst": pa.array(pairs[:, 1]), "w": pa.array(w)})


def pagerank(edges: pa.Table, damping: float, iterations: int, round_to: int = 6) -> dict[int, float]:
    """Power iteration with the rank rounded to ``round_to`` places at
    the start and after every iteration."""
    src = edges["src"].to_numpy()
    dst = edges["dst"].to_numpy()
    w = edges["w"].to_numpy()
    nodes = np.unique(np.concatenate([src, dst]))
    n = len(nodes)
    si = np.searchsorted(nodes, src)
    di = np.searchsorted(nodes, dst)
    out_w = np.bincount(si, weights=w, minlength=n)
    share = w / out_w[si]
    rank = np.full(n, round(1.0 / n, round_to))
    for _ in range(iterations):
        contrib = np.bincount(di, weights=rank[si] * share, minlength=n)
        rank = np.round((1.0 - damping) / n + damping * contrib, round_to)
    return dict(zip(nodes.tolist(), rank.tolist()))


def bfs(edges: pa.Table, source: int, max_hops: int) -> dict[int, int]:
    adj: dict[int, list[int]] = defaultdict(list)
    for s, d in zip(edges["src"].to_numpy().tolist(), edges["dst"].to_numpy().tolist()):
        adj[s].append(d)
    dist = {source: 0}
    frontier = [source]
    for hop in range(1, max_hops + 1):
        nxt = []
        for u in frontier:
            for v in adj[u]:
                if v not in dist:
                    dist[v] = hop
                    nxt.append(v)
        if not nxt:
            break
        frontier = nxt
    return dist
