"""Tests of the benchmark itself: seeded inputs and answer checking.

Run with ``python3 -m pytest perfbench/test_perfbench.py -q``; no Spark
session is started.
"""

from __future__ import annotations

import itertools
import os
import sys

import networkx as nx
import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import checks  # noqa: E402
import gen  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402


def repo_bytes(seed: int) -> list[tuple]:
    return gen.make_repo(seed, 40).fs_rows()


def test_same_seed_gives_identical_inputs():
    assert repo_bytes(3) == repo_bytes(3)
    a, b = gen.make_corpus(3, 200, 30), gen.make_corpus(3, 200, 30)
    assert (a.docs, a.groups, a.edges) == (b.docs, b.groups, b.edges)


def test_different_seed_gives_different_inputs():
    assert repo_bytes(3) != repo_bytes(4)
    assert gen.make_corpus(3, 200, 30).docs != gen.make_corpus(4, 200, 30).docs


def test_corpus_plants_near_duplicates():
    c = gen.make_corpus(5, 400, 30)
    texts = dict(c.docs)
    sims = []
    for g in c.groups:
        for a, b in itertools.combinations(g, 2):
            sa, sb = checks.shingle_set(texts[a]), checks.shingle_set(texts[b])
            sims.append(len(sa & sb) / len(sa | sb))
    above = sum(j >= workloads.DEDUP_THRESHOLD for j in sims)
    assert len(c.groups) > 20 and above >= 0.9 * len(sims)


class _Answers:
    """Stands in for Surfaces: answers FTS and graph requests from the
    generated repo, with one answer deliberately wrong."""

    def __init__(self, repo, corrupt_index: int):
        self.ref = workloads.Surfaces.__new__(workloads.Surfaces)
        self.ref.g = nx.DiGraph(sorted(repo.call_graph()))
        self.ref.impl = repo.implements()
        self.ref.doc_tokens = {p: checks.tokens(repo.content(p).decode())
                               for p in repo.files}
        self.corrupt_index, self.n = corrupt_index, 0

    def run(self, req):
        node = req.params[0]
        if req.surface == "fts":
            toks = self.ref.doc_tokens
            ans = sorted(d for d, t in toks.items()
                         if checks.fts_match(node, t, set(t)))[:workloads.FTS_LIMIT]
        else:
            kind, start, depth = req.params
            ans = checks.reach(self.ref.g, start, depth, reverse=kind == "callers")
        if self.n == self.corrupt_index:
            ans = list(ans) + ["not-a-hit"] if req.surface == "fts" else set()
        self.n += 1
        return ans

    def check(self, req, ans):
        return self.ref.check(req, ans)

    def close(self):
        pass


def test_injected_wrong_answer_is_counted():
    repo = gen.make_repo(9, 60)
    g = nx.DiGraph(sorted(repo.call_graph()))
    start = max(g.nodes, key=g.out_degree)
    reqs = [workloads.Request("fts", (("term", w),)) for w in repo.vocab[:4]]
    reqs += [workloads.Request("graph", ("callees", start, 2)),
             workloads.Request("graph", ("callers", start, 2))]
    for bad in (1, 4):
        ctx = workloads.Ctx(None, spans.Tracer(None), "", 9)
        w = workloads.ServeMix(ctx)
        w.surf = _Answers(repo, corrupt_index=bad)
        w.measure(0, replay=reqs)
        assert (ctx.attempted, ctx.failed) == (len(reqs), 1)


def test_knn_check_rejects_a_wrong_neighbour():
    rng = np.random.default_rng(0)
    mat = rng.normal(size=(50, 8))
    ids = [f"c{i:02d}" for i in range(50)]
    q = rng.normal(size=8)
    cos = mat @ q / (np.linalg.norm(mat, axis=1) * np.linalg.norm(q))
    score = (1 + cos) / 2
    order = sorted(range(50), key=lambda i: (-score[i], ids[i]))[:5]
    rows = [(ids[i], score[i]) for i in order]
    mask = np.ones(50, dtype=bool)
    assert checks.knn_check(rows, ids, mat, mask, q, 5) is None
    worst = min(range(50), key=lambda i: score[i])
    assert checks.knn_check(rows[:4] + [(ids[worst], score[worst])],
                            ids, mat, mask, q, 5) is not None


def test_path_and_dedup_checks_reject_wrong_answers():
    g = nx.DiGraph([("a", "b"), ("b", "c"), ("a", "c")])
    assert checks.path_check(["a", "c"], g, "a", "c", 6) is None
    assert checks.path_check(["a", "b", "c"], g, "a", "c", 6) is not None
    texts = {1: "x y z w v", 2: "x y z w q"}
    assert checks.dedup_check([(1, 2, 0.5)], texts, 0.5) is None
    assert checks.dedup_check([(1, 2, 0.9)], texts, 0.5) is not None


def test_fixpoint_checks_reject_wrong_answers():
    edges = [(0, 1), (1, 2), (0, 2), (2, 3), (3, 4), (4, 5), (3, 5), (0, 3)]
    adj = {}
    for a, b in edges:
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)
    n = len(adj)
    pr = {v: 1 / n for v in adj}
    for _ in range(5):
        pr = {v: 0.15 / n + 0.85 * sum(pr[u] / len(adj[u]) for u in adj[v]) for v in adj}
    rows = [(v, round(p, 9)) for v, p in pr.items()]
    assert checks.pagerank_check(rows, edges) is None
    assert checks.pagerank_check(rows[:-1] + [(rows[-1][0], 0.5)], edges) is not None
    comps = [(d, 1, d == 1) for d in (1, 2, 3)]
    assert checks.components_check(comps, [(1, 2, 0.9), (2, 3, 0.8)]) is None
    assert checks.components_check(comps[:2], [(1, 2, 0.9), (2, 3, 0.8)]) is not None
    # peeling degree < 3 removes every node of this graph
    assert checks.kcore_check([], edges, k=3) is None
    assert checks.kcore_check([(0, 3)], edges, k=3) is not None
    tri = [(0, 1), (1, 2), (0, 2)]
    assert checks.lpa_check([(0, 3, 0)], tri) is None
    assert checks.lpa_check([(1, 3, 0)], tri) is not None
    assert checks.betweenness_check([(0, 1.5, 1), (1, 0.0, 1)], edges) is None
    assert checks.betweenness_check([(0, -1.0, 1)], edges) is not None


@pytest.mark.parametrize("node", [("term", "ab"), ("and", ("term", "ab"), ("term", "cd")),
                                  ("not", ("or", ("term", "ab"), ("term", "cd")), ("term", "ef")),
                                  ("phrase", ["ab", "cd"]), ("prefix", "a")])
def test_fts_check_counts_matches(node):
    docs = {"d1": ["ab", "cd"], "d2": ["cd", "ab", "ef"], "d3": ["ab", "zz"]}
    hits = [d for d, t in docs.items() if checks.fts_match(node, t, set(t))]
    assert checks.fts_check(hits, node, docs, 15) is None
    assert checks.fts_check(hits + ["d9"], node, docs, 15) is not None
