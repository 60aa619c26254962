"""Independent reference answers, run outside the timed region.

Each check returns None when the program's answer is right and a short
reason string when it is wrong; a wrong answer counts as a failed
operation. The references share no code with the package: numpy for
vector top-k, DuckDB for the DSL, plain Python for FTS boolean matching,
networkx for traversals, components and k-cores, and straight Python
loops for the fixpoint operators' documented semantics.
"""

from __future__ import annotations

import re
from collections import Counter

import networkx as nx
import numpy as np

# ---------------------------------------------------------------------------
# knn: numpy brute force
# ---------------------------------------------------------------------------


def knn_check(rows, ids, mat, mask, qvec, k, tol=1e-6):
    """``rows``: (chunk_id, score) answered, best first. ``mat``: the
    index's vectors (n x d), ``mask``: which rows pass the request's
    filters. Score is (1 + cos) / 2, ties broken by id ascending."""
    if not mask.any():
        return None if not rows else "rows for an empty candidate set"
    q = np.asarray(qvec, dtype=np.float64)
    m = mat[mask]
    cos = (m @ q) / (np.linalg.norm(m, axis=1) * np.linalg.norm(q))
    score = 1.0 - (1.0 - cos) / 2.0
    cand = [ids[i] for i in np.flatnonzero(mask)]
    ref = sorted(zip(cand, score), key=lambda t: (-t[1], t[0]))[:k]
    if len(rows) != len(ref):
        return f"{len(rows)} rows, expected {len(ref)}"
    by_id = dict(zip(cand, score))
    for cid, s in rows:
        if cid not in by_id or abs(by_id[cid] - s) > tol:
            return f"{cid} scored {s}, expected {by_id.get(cid)}"
    got = [s for _, s in rows]
    if any(a < b - tol for a, b in zip(got, got[1:])):
        return "scores not descending"
    kth = ref[-1][1]
    if got and got[-1] < kth - tol:
        return "a row outside the top k"
    must = {c for c, s in ref if s > kth + tol}
    if not must <= {c for c, _ in rows}:
        return "missing a strictly better neighbour"
    return None


# ---------------------------------------------------------------------------
# FTS: boolean query evaluated on token lists
# ---------------------------------------------------------------------------

_SEP = re.compile(r"[^a-z0-9]+")


def tokens(text: str) -> list[str]:
    return [t for t in _SEP.split(text.lower()) if t]


def fts_render(node) -> str:
    kind = node[0]
    if kind == "term":
        return node[1]
    if kind == "prefix":
        return node[1] + "*"
    if kind == "phrase":
        return '"' + " ".join(node[1]) + '"'
    op = {"and": "AND", "or": "OR", "not": "NOT"}[kind]
    return f"({fts_render(node[1])} {op} {fts_render(node[2])})"


def fts_match(node, toks: list[str], tokset: set[str]) -> bool:
    kind = node[0]
    if kind == "term":
        return node[1] in tokset
    if kind == "prefix":
        return any(t.startswith(node[1]) for t in tokset)
    if kind == "phrase":
        w = node[1]
        return any(toks[i:i + len(w)] == w for i in range(len(toks) - len(w) + 1))
    a = fts_match(node[1], toks, tokset)
    if kind == "and":
        return a and fts_match(node[2], toks, tokset)
    if kind == "or":
        return a or fts_match(node[2], toks, tokset)
    return a and not fts_match(node[2], toks, tokset)


def fts_check(hit_ids, node, doc_tokens: dict[str, list[str]], limit: int):
    """Every hit satisfies the query, ids are unique, and the hit count is
    the Python match count capped at ``limit``."""
    matches = {
        d for d, toks in doc_tokens.items() if fts_match(node, toks, set(toks))
    }
    if len(set(hit_ids)) != len(hit_ids):
        return "duplicate hits"
    bad = [h for h in hit_ids if h not in matches]
    if bad:
        return f"{bad[0]} does not satisfy {fts_render(node)}"
    if len(hit_ids) != min(limit, len(matches)):
        return f"{len(hit_ids)} hits, expected {min(limit, len(matches))}"
    return None


# ---------------------------------------------------------------------------
# DSL: DuckDB replay
# ---------------------------------------------------------------------------


def _norm(v):
    if isinstance(v, float):
        return round(v, 9)
    return v


def rows_check(got, want):
    """The same rows in the same order; every template's ORDER BY is total."""
    g = [tuple(_norm(x) for x in r) for r in got]
    w = [tuple(_norm(x) for x in r) for r in want]
    if g != w:
        return f"{len(g)} rows differ from DuckDB's {len(w)}"
    return None


# ---------------------------------------------------------------------------
# graph traversals: networkx
# ---------------------------------------------------------------------------


def reach(g: nx.DiGraph, start: str, depth: int, reverse: bool) -> set[tuple[str, int]]:
    """(node, min depth) within ``depth`` hops, the start excluded."""
    if start not in g:
        return set()
    h = g.reverse(copy=False) if reverse else g
    dist = nx.single_source_shortest_path_length(h, start, cutoff=depth)
    return {(n, d) for n, d in dist.items() if n != start}


def path_check(path, g: nx.DiGraph, src: str, dst: str, max_depth: int):
    """A shortest path of at most ``max_depth`` hops, or [] when none."""
    try:
        n = nx.shortest_path_length(g, src, dst) if src in g and dst in g else None
    except nx.NetworkXNoPath:
        n = None
    if n is None or n > max_depth:
        return None if path == [] else f"path {path} where none exists"
    if len(path) != n + 1 or path[0] != src or path[-1] != dst:
        return f"path of {len(path) - 1} hops, shortest is {n}"
    if any(not g.has_edge(a, b) for a, b in zip(path, path[1:])):
        return "path uses a missing edge"
    return None


# ---------------------------------------------------------------------------
# corpus_batch: dedup, components and the fixpoint operators
# ---------------------------------------------------------------------------


def shingle_set(text: str, n: int = 3) -> set[str]:
    t = tokens(text)
    return {" ".join(t[i:i + n]) for i in range(len(t) - n + 1)}


def dedup_check(pairs, texts: dict[int, str], threshold: float):
    """Every reported pair is ordered, unique, and has the exact shingle
    Jaccard it reports, at or above the threshold."""
    seen = set()
    for a, b, j in pairs:
        if a >= b or (a, b) in seen:
            return f"pair ({a}, {b}) not ordered or repeated"
        seen.add((a, b))
        sa, sb = shingle_set(texts[a]), shingle_set(texts[b])
        ref = len(sa & sb) / len(sa | sb)
        if abs(ref - j) > 1e-9 or ref < threshold:
            return f"pair ({a}, {b}) jaccard {j}, expected {ref}"
    return None


def components_check(rows, pairs):
    """cluster_id is the minimum node of the node's component."""
    g = nx.Graph()
    g.add_edges_from((a, b) for a, b, *_ in pairs)
    want = {n: min(c) for c in nx.connected_components(g) for n in c}
    got = {d: c for d, c, _keep in rows}
    if got != want:
        return f"{len(got)} labelled nodes, {sum(got.get(n) != c for n, c in want.items())} wrong"
    if any(keep != (d == c) for d, c, keep in rows):
        return "keep flag differs from doc_id == cluster_id"
    return None


def _adjacency(edges):
    adj: dict[int, list[int]] = {}
    for a, b in edges:
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)
    return adj


def pagerank_check(rows, edges, iters=5, damping=0.85):
    """Power iteration on the undirected graph: every node has degree >= 1,
    so pr' = (1-d)/N + d * sum(pr(u)/deg(u)); ranks sum to 1."""
    adj = _adjacency(edges)
    n = len(adj)
    pr = {v: 1.0 / n for v in adj}
    for _ in range(iters):
        pr = {
            v: (1 - damping) / n + damping * sum(pr[u] / len(adj[u]) for u in adj[v])
            for v in adj
        }
    got = dict(rows)
    if set(got) != set(pr):
        return f"{len(got)} ranked nodes, expected {len(pr)}"
    if abs(sum(got.values()) - 1.0) > 1e-6:
        return f"ranks sum to {sum(got.values())}"
    worst = max(abs(got[v] - pr[v]) for v in pr)
    return None if worst <= 1e-8 else f"rank off by {worst}"


def kcore_check(rows, edges, k=3, rounds=8):
    """Peeling with the documented round cap; equals networkx's k-core
    whenever the peel reached its fixpoint within the cap."""
    surv, converged = list(edges), False
    for _ in range(rounds):
        deg = Counter(x for e in surv for x in e)
        keep = {v for v, d in deg.items() if d >= k}
        nxt = [(a, b) for a, b in surv if a in keep and b in keep]
        if len(nxt) == len(surv):
            converged = True
            break
        surv = nxt
    want = Counter(x for e in surv for x in e)
    if dict(rows) != dict(want):
        return f"{len(rows)} core nodes, expected {len(want)}"
    core = nx.k_core(nx.Graph(list(edges)), k)
    if converged and set(core.nodes) != set(want):
        return "converged peel differs from networkx k-core"
    return None


def lpa_check(rows, edges, rounds=4, min_size=2):
    """Synchronous label propagation: each round every node takes its
    neighbours' most frequent label, the smallest on ties."""
    adj = _adjacency(edges)
    label = {v: v for v in adj}
    for _ in range(rounds):
        nxt = {}
        for v, nb in adj.items():
            c = Counter(label[u] for u in nb)
            best = max(c.values())
            nxt[v] = min(lab for lab, n in c.items() if n == best)
        label = nxt
    groups: dict[int, list[int]] = {}
    for v, lab in label.items():
        groups.setdefault(lab, []).append(v)
    want = sorted(
        ((lab, len(m), min(m)) for lab, m in groups.items() if len(m) >= min_size),
        key=lambda t: (-t[1], t[0]),
    )
    if sum(r[1] for r in rows) > len(adj):
        return "communities cover more nodes than the graph has"
    return rows_check(rows, want)


def betweenness_check(rows, edges, seed_mod=20, max_seeds=64):
    """Invariants of seed-sampled Brandes scores: non-negative, a leaf
    lies on no shortest path, and no node is seen by more seed trees than
    there are seeds."""
    adj = _adjacency(edges)
    n_seeds = min(max_seeds, sum(1 for v in adj if v % seed_mod == 0))
    for node, score, seen in rows:
        if node not in adj:
            return f"unknown node {node}"
        if score < 0:
            return f"negative score at {node}"
        if len(adj[node]) == 1 and score != 0:
            return f"leaf {node} scored {score}"
        if not 1 <= seen <= n_seeds:
            return f"{node} seen by {seen} of {n_seeds} seeds"
    return None if rows else "no scores"
