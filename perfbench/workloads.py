"""The workloads: serve_mix and corpus_batch.

Each is a closed loop with one client. ``setup`` builds the inputs and the
initial state and returns its timings, ``warmup`` runs untimed operations
drawn from a seed stream disjoint from the timed one, and ``measure``
runs timed operations until the time is up. Answers are checked against
:mod:`checks` after the operations, never inside the timed region.
"""

from __future__ import annotations

import os
import random
import statistics
import sys
import time
import traceback
from dataclasses import dataclass

import duckdb
import networkx as nx
import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import checks
import gen
from project_cortex_spark.dsl.compiler import compile_query
from project_cortex_spark.operators import dedup, fts, graph, search
from project_cortex_spark.pipeline import change_detection, chunks, embed, parse, sink
from project_cortex_spark.sources.registry import TableRegistry, read_parquet

SERVE_FILES = 80
CORPUS_DOCS = 600
CORPUS_GRAPH_FILES = 150
POOL = 16  # distinct parameter sets per request template
KNN_LIMIT, FTS_LIMIT = 10, 15
DEDUP_THRESHOLD = 0.5

FILES_SCHEMA = ("file_path string, mtime long, content_hash string, "
                "language string, size_bytes long, n_lines long")


@dataclass
class Ctx:
    spark: object
    tracer: object
    tmp: str
    seed: int
    attempted: int = 0
    failed: int = 0

    def verdict(self, what: str, err: str | None) -> None:
        self.attempted += 1
        if err is not None:
            self.failed += 1
            print(f"wrong answer: {what}: {err}", file=sys.stderr)


def run_checked(ctx: Ctx, what: str, fn):
    """Run one operation; an exception is a failed operation."""
    try:
        return fn(), None
    except Exception:
        traceback.print_exc(file=sys.stderr)
        return None, f"{what} raised"


def _write(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").parquet(path)


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, n))
        for r, _d, names in os.walk(path) for n in names
    )


# ---------------------------------------------------------------------------
# the index: one generation of parquet tables built by the pipeline
# ---------------------------------------------------------------------------


@dataclass
class Index:
    path: str
    files: DataFrame
    entities: DataFrame
    chunks: DataFrame
    edges: DataFrame
    fts: fts.FtsIndex
    registry: TableRegistry


def fs_meta(repo: gen.Repo) -> tuple[list[tuple], dict[str, bytes]]:
    """What a filesystem walk reports, and the file contents."""
    meta, content = [], {}
    for path, mtime, digest, lang, data in repo.fs_rows():
        meta.append((path, mtime, digest, lang, len(data), data.count(b"\n")))
        content[path] = data
    return meta, content


def build_index(ctx: Ctx, repo: gen.Repo) -> Index:
    """A first index run, as in the reference's indexer: detect changes
    against an empty index -> parse -> format -> chunk -> embed -> sink ->
    call edges -> FTS store, each stage written as a parquet table."""
    s, t = ctx.spark, ctx.tracer
    d = os.path.join(ctx.tmp, "index")
    meta, content = fs_meta(repo)
    fs_df = s.createDataFrame(meta, FILES_SCHEMA)
    indexed = s.createDataFrame([], FILES_SCHEMA)
    changes = t.call(
        "pipeline.change_detection.detect_changes",
        lambda: change_detection.detect_changes(fs_df, indexed),
        lambda df: df.filter(F.col("status") != "unchanged").collect(),
    )
    added = sorted(r.file_path for r in changes if r.status == "added")
    src = s.createDataFrame([(p, content[p]) for p in added],
                            "file_path string, content binary")

    def load(name: str) -> DataFrame:
        return t.call("sources.registry.read_parquet",
                      lambda: read_parquet(s, os.path.join(d, name)))

    t.call("pipeline.parse.parse_entities", lambda: parse.parse_entities(src),
           lambda df: _write(df, os.path.join(d, "entities")))
    entities = load("entities")
    summ = t.call("pipeline.parse.format_entities",
                  lambda: parse.format_entities(entities))
    docs = (
        src.join(fs_df.select("file_path", "language"), "file_path")
        .join(summ, "file_path", "left")
        .select(F.col("file_path").alias("doc_id"),
                F.col("content").cast("string").alias("text"),
                F.col("language").alias("lang"),
                F.coalesce("summary", F.lit("")).alias("source"))
    )
    chunked = t.call("pipeline.chunks.assemble_code_chunks",
                     lambda: chunks.assemble_code_chunks(docs))
    t.call(
        "pipeline.embed.embed_chunks",
        lambda: embed.embed_chunks(chunked).join(
            docs.select("doc_id", F.col("lang").alias("language")), "doc_id"),
        lambda df: _write(df, os.path.join(d, "chunks")),
    )

    def sink_write(files_df: DataFrame) -> None:
        _write(files_df, os.path.join(d, "files"))
        _write(docs, os.path.join(d, "docs"))

    t.call("pipeline.sink.apply_changeset",
           lambda: sink.apply_changeset(fs_df, indexed), sink_write)
    files, docs, chunk_tab = load("files"), load("docs"), load("chunks")
    t.call("pipeline.parse.call_edges", lambda: parse.call_edges(entities),
           lambda df: _write(df, os.path.join(d, "edges")))
    edges = load("edges")
    idx = t.call("operators.fts.build_fts_index",
                 lambda: fts.build_fts_index(docs, id_col="doc_id", text_col="text"))
    t.call("operators.fts.store_fts_index",
           lambda: fts.store_fts_index(idx, os.path.join(d, "fts")))
    fts_idx = t.call(
        "operators.fts.load_fts_index",
        lambda: fts.load_fts_index(s, os.path.join(d, "fts"), docs,
                                   id_col="doc_id", text_col="text"),
    )
    reg = TableRegistry(s)
    reg.register("files", files)
    reg.register("entities", entities)
    return Index(d, files, entities, chunk_tab, edges, fts_idx, reg)


def index_state_check(idx: Index, repo: gen.Repo) -> str | None:
    """The index equals the generated filesystem: file rows, defined
    functions, call edges and three chunks per file."""
    meta, _ = fs_meta(repo)
    files = sorted(tuple(r) for r in idx.files.select(
        "file_path", "mtime", "content_hash", "language", "size_bytes", "n_lines"
    ).collect())
    if files != sorted(meta):
        return "files table differs from the filesystem"
    funcs = {r.name for r in idx.entities.filter(F.col("kind") == "function")
             .select("name").collect()}
    if funcs != set(repo.functions()):
        return "function entities differ from the sources"
    if {(r.src, r.dst) for r in idx.edges.collect()} != repo.call_graph():
        return "call edges differ from the generated call graph"
    per_doc = dict(idx.chunks.groupBy("doc_id").count().collect())
    if per_doc != {p: 3 for p in repo.files}:
        return "chunk table differs from the filesystem"
    return None


class VectorRef:
    """The index's chunk vectors, collected once for numpy top-k."""

    def __init__(self, idx: Index):
        rows = idx.chunks.select("chunk_id", "chunk_type", "language",
                                 "embedding").orderBy("chunk_id").collect()
        self.ids = [r.chunk_id for r in rows]
        self.types = np.array([r.chunk_type for r in rows])
        self.langs = np.array([r.language for r in rows])
        self.mat = np.array([r.embedding for r in rows], dtype=np.float64)

    def mask(self, chunk_types, tags):
        m = np.ones(len(self.ids), dtype=bool)
        if chunk_types:
            m &= np.isin(self.types, chunk_types)
        for tag in tags or ():
            m &= self.langs == tag
        return m


def query_vector(text: str):
    return embed.hash_embed_series(pd.Series([text]), mode="query")[0]


# ---------------------------------------------------------------------------
# requests over an index: the four MCP surfaces
# ---------------------------------------------------------------------------


@dataclass
class Request:
    surface: str  # knn | fts | dsl | graph
    params: tuple

    @property
    def name(self) -> str:
        """Span name of the layer call that serves the request."""
        if self.surface == "knn":
            return "operators.search.semantic_search"
        if self.surface == "fts":
            return "operators.fts.fts_search"
        if self.surface == "dsl":
            return "dsl.compile_query"
        return f"operators.graph.{self.params[0]}"


def _fts_params(rng: random.Random, repo: gen.Repo, kind: str) -> tuple:
    """An FTS5 query of one template: term, AND, OR/NOT, phrase, prefix."""
    v = repo.vocab
    w = [v[gen.zipf_index(rng, len(v))] for _ in range(3)]
    if kind == "term":
        node = ("term", w[0])
    elif kind == "and":
        node = ("and", ("term", w[0]), ("term", w[1]))
    elif kind == "or_not":
        node = ("not", ("or", ("term", w[0]), ("term", w[1])), ("term", w[2]))
    elif kind == "phrase":
        words = repo.files[rng.choice(sorted(repo.files))].words
        j = rng.randrange(len(words) - 1)
        node = ("phrase", [words[j], words[j + 1]])
    else:
        node = ("prefix", w[0][:3])
    return (node,)


def _dsl_params(rng: random.Random, repo: gen.Repo, kind: str) -> tuple:
    """(cortex_files JSON, its DuckDB SQL twin) over the files/entities
    tables: a filter tree with order/offset/limit, a join, a group-by with
    having and order/limit, and a top-N-per-group window."""
    langs = list(gen.LANGS)
    if kind == "filter":
        l1, l2, l3 = rng.sample(langs, 3)
        n, lim, off = rng.randrange(300, 1500, 50), rng.randint(5, 25), rng.randint(0, 10)
        q = {"from": "files", "fields": ["file_path", "language", "size_bytes"],
             "where": {"or": [
                 {"and": [{"field": "language", "operator": "=", "value": l1},
                          {"field": "size_bytes", "operator": ">", "value": n}]},
                 {"not": {"field": "language", "operator": "IN", "value": [l2, l3]}}]},
             "orderBy": [{"field": "size_bytes", "direction": "DESC"},
                         {"field": "file_path"}],
             "limit": lim, "offset": off}
        sql = (f"SELECT file_path, language, size_bytes FROM files WHERE "
               f"(language = '{l1}' AND size_bytes > {n}) OR NOT "
               f"(language IN ('{l2}', '{l3}')) ORDER BY size_bytes DESC, file_path "
               f"LIMIT {lim} OFFSET {off}")
    elif kind == "join":
        lang = rng.choice(langs)
        verb = rng.choice(("load", "store", "parse", "emit", "scan", "merge", "fold"))
        q = {"from": "entities",
             "fields": ["entities.name", "files.language", "entities.start_line"],
             "joins": [{"table": "files", "type": "INNER", "on": {
                 "field": "entities.file_path", "operator": "=",
                 "value": "files.file_path"}}],
             "where": {"and": [
                 {"field": "entities.kind", "operator": "=", "value": "function"},
                 {"field": "files.language", "operator": "=", "value": lang},
                 {"field": "entities.name", "operator": "LIKE", "value": f"{verb}%"}]},
             "orderBy": [{"field": "name"}], "limit": 20}
        sql = (f"SELECT e.name, f.language, e.start_line FROM entities e JOIN files f "
               f"ON e.file_path = f.file_path WHERE e.kind = 'function' AND "
               f"f.language = '{lang}' AND e.name LIKE '{verb}%' ORDER BY e.name LIMIT 20")
    elif kind == "group":
        k = rng.randint(2, 8)
        q = {"from": "entities", "groupBy": ["file_path"],
             "where": {"field": "kind", "operator": "IN", "value": ["function", "call"]},
             "aggregations": [{"function": "COUNT", "alias": "n"},
                              {"function": "MAX", "field": "end_line", "alias": "last_line"}],
             "having": {"field": "n", "operator": ">=", "value": k},
             "orderBy": [{"field": "n", "direction": "DESC"}, {"field": "file_path"}],
             "limit": 15}
        sql = (f"SELECT file_path, count(*) AS n, max(end_line) AS last_line FROM entities "
               f"WHERE kind IN ('function', 'call') GROUP BY file_path HAVING count(*) >= {k} "
               f"ORDER BY n DESC, file_path LIMIT 15")
    else:
        k = rng.randint(1, 3)
        q = {"from": "entities",
             "where": {"field": "kind", "operator": "=", "value": "function"},
             "windows": [{"function": "ROW_NUMBER", "alias": "rn",
                          "partitionBy": ["file_path"],
                          "orderBy": [{"field": "start_line"}]}],
             "qualify": {"field": "rn", "operator": "<=", "value": k},
             "fields": ["file_path", "name", "rn"],
             "orderBy": [{"field": "file_path"}, {"field": "rn"}]}
        sql = (f"SELECT file_path, name, rn FROM (SELECT file_path, name, row_number() OVER "
               f"(PARTITION BY file_path ORDER BY start_line) AS rn FROM entities "
               f"WHERE kind = 'function') WHERE rn <= {k} ORDER BY file_path, rn")
    return (q, sql)


def _graph_params(rng: random.Random, repo: gen.Repo, g: nx.DiGraph, kind: str) -> tuple:
    """(kind, node, depth) at the reference's default depth 3, or
    (shortest_path, source, target) with the target 3 hops away when the
    source reaches that far."""
    funcs = sorted(repo.functions())
    node = rng.choice(funcs)
    if kind == "impact":
        ifaces = [i for _s, i in repo.implements()]
        if ifaces and rng.random() < 0.3:
            node = rng.choice(ifaces)
    if kind != "shortest_path":
        return (kind, node, 3)
    dist = nx.single_source_shortest_path_length(g, node, cutoff=3)
    far = sorted(n for n, d in dist.items() if d == 3) or sorted(
        n for n, d in dist.items() if d == 2)
    return (kind, node, rng.choice(far) if far else rng.choice(funcs))


def _knn_params(rng: random.Random, repo: gen.Repo, kind: str) -> tuple:
    """(query text, chunk_types, tags): plain, filtered by chunk type, or
    filtered by a language tag."""
    v, funcs = repo.vocab, sorted(repo.functions())
    words = [v[gen.zipf_index(rng, len(v))] for _ in range(rng.randint(2, 4))]
    words.append(rng.choice(funcs))
    types = rng.choice((["symbols"], ["definitions", "data"])) if kind == "types" else None
    tags = [rng.choice(gen.LANGS)] if kind == "tag" else None
    return (" ".join(words), types, tags)


class Surfaces:
    """Issues requests against an index and checks their answers."""

    def __init__(self, ctx: Ctx, repo: gen.Repo, idx: Index):
        self.ctx, self.repo, self.idx = ctx, repo, idx
        self.g = nx.DiGraph(sorted(repo.call_graph()))
        self.g.add_nodes_from(repo.functions())
        self.impl = repo.implements()
        self.impl_df = ctx.spark.createDataFrame(
            self.impl, "struct_id string, iface_id string")
        self.doc_tokens = {p: checks.tokens(repo.content(p).decode())
                           for p in repo.files}
        self.vec = None
        self.duck = None

    # -- running ------------------------------------------------------------
    def run(self, req: Request):
        t, idx = self.ctx.tracer, self.idx
        p = req.params
        if req.surface == "knn":
            text, types, tags = p
            return t.call(req.name, lambda: search.semantic_search(
                idx.chunks, text, limit=KNN_LIMIT, chunk_types=types, tags=tags),
                lambda df: [(r.chunk_id, r.score) for r in df.collect()])
        if req.surface == "fts":
            return t.call(req.name, lambda: fts.fts_search(
                idx.fts, checks.fts_render(p[0]), limit=FTS_LIMIT),
                lambda df: [r.doc_id for r in df.collect()])
        if req.surface == "dsl":
            return t.call(req.name, lambda: compile_query(idx.registry, p[0]),
                          lambda df: [tuple(r) for r in df.collect()])
        kind, node, arg = p
        if kind == "shortest_path":
            return t.call(req.name, lambda: graph.shortest_path(idx.edges, node, arg))
        if kind == "impact":
            return t.call(req.name, lambda: graph.impact(
                idx.edges, self.impl_df, node, depth=arg),
                lambda df: {tuple(r) for r in df.collect()})
        fn = graph.callers if kind == "callers" else graph.callees
        return t.call(req.name, lambda: fn(idx.edges, [node], depth=arg),
                      lambda df: {(r.node, r.depth) for r in df.collect()})

    # -- checking -----------------------------------------------------------
    def check(self, req: Request, ans) -> str | None:
        p = req.params
        if req.surface == "knn":
            if self.vec is None:
                self.vec = VectorRef(self.idx)
            text, types, tags = p
            v = self.vec
            return checks.knn_check(ans, v.ids, v.mat, v.mask(types, tags),
                                    query_vector(text), KNN_LIMIT)
        if req.surface == "fts":
            return checks.fts_check(ans, p[0], self.doc_tokens, FTS_LIMIT)
        if req.surface == "dsl":
            if self.duck is None:
                self.duck = duckdb.connect()
                self.duck.execute("SET threads = 1")
                for name in ("files", "entities"):
                    self.duck.execute(
                        f"CREATE VIEW {name} AS SELECT * FROM read_parquet("
                        f"'{os.path.join(self.idx.path, name)}/*.parquet')")
            return checks.rows_check(ans, self.duck.execute(p[1]).fetchall())
        kind, node, arg = p
        if kind == "shortest_path":
            return checks.path_check(ans, self.g, node, arg, 6)
        if kind == "impact":
            want = {(s, 0, "implementation", "must_update") for s, i in self.impl if i == node}
            for n, dd in checks.reach(self.g, node, arg, reverse=True):
                want.add((n, dd, "direct_caller" if dd == 1 else "transitive_caller",
                          "must_update" if dd == 1 else "review_needed"))
            return None if ans == want else f"impact({node}) differs"
        want = checks.reach(self.g, node, arg, reverse=kind == "callers")
        return None if ans == want else f"{kind}({node}, {arg}) differs"

    def close(self) -> None:
        if self.duck is not None:
            self.duck.close()
            self.duck = None


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


class Workload:
    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        # seconds per operation, and per unit of work a user waits for:
        # a request on serve_mix, a whole pass on corpus_batch
        self.latencies: list[float] = []
        self.unit_latencies: list[float] = []
        self.info: dict[str, float] = {}

    def timed(self, name: str, fn):
        """One timed operation; returns (result, error, seconds)."""
        with self.ctx.tracer.op(name) as op:
            out, err = run_checked(self.ctx, name, fn)
        return out, err, op.seconds


class ServeMix(Workload):
    """Read-only request stream over an index built during set-up."""

    # one deck is 20 requests, 30% knn, 30% fts, 20% dsl, 20% graph, each
    # template a fixed number of times; runs are whole decks, so every run
    # has the same mix and only the Zipf-drawn parameters vary
    DECK = (
        [("knn", k) for k in ("plain", "plain", "types", "types", "tag", "tag")]
        + [("fts", k) for k in ("term", "term", "and", "or_not", "phrase", "prefix")]
        + [("dsl", k) for k in ("filter", "join", "group", "window")]
        + [("graph", k) for k in ("callers", "callees", "impact", "shortest_path")]
    )

    def setup(self, trace_last: bool) -> list[float]:
        """Generate the repo and build its index. The build is cold, ~30 s
        on a 4-core host, so it runs once per run to keep the runs inside
        their time budget. With ``trace_last`` the build records layer
        spans: this is where the pipeline layers are measured."""
        self.ctx.tracer.enabled = trace_last
        t0 = time.perf_counter()
        self.repo = gen.make_repo(self.ctx.seed, SERVE_FILES)
        self.idx = build_index(self.ctx, self.repo)
        setup_s = time.perf_counter() - t0
        self.ctx.tracer.enabled = False
        self.ctx.verdict("index build", index_state_check(self.idx, self.repo))
        self.surf = Surfaces(self.ctx, self.repo, self.idx)
        self.pools = self._pools(f"pool:{self.ctx.seed}")
        self.info["build_files_per_s"] = SERVE_FILES / setup_s
        src = sum(len(self.repo.content(p)) for p in self.repo.files)
        self.info["index.bytes_per_source_byte"] = _dir_bytes(self.idx.path) / src
        return [setup_s]

    def _pools(self, key: str) -> dict:
        """POOL parameter sets per deck slot, drawn from a seeded stream."""
        rng, repo, out = random.Random(key), self.repo, {}
        for slot in dict.fromkeys(self.DECK):
            surface, kind = slot
            make = {
                "knn": lambda: _knn_params(rng, repo, kind),
                "fts": lambda: _fts_params(rng, repo, kind),
                "dsl": lambda: _dsl_params(rng, repo, kind),
                "graph": lambda: _graph_params(rng, repo, self.surf.g, kind),
            }[surface]
            out[slot] = [make() for _ in range(POOL)]
        return out

    def deck(self, rng: random.Random, pools: dict) -> list[Request]:
        """The DECK in a shuffled order with Zipf-drawn parameters: popular
        parameter sets repeat within and across decks."""
        slots = list(self.DECK)
        rng.shuffle(slots)
        reqs = []
        for surface, kind in slots:
            params = pools[(surface, kind)][gen.zipf_index(rng, POOL)]
            reqs.append(Request(surface, params))
        return reqs

    def warmup(self) -> None:
        """One request per template, from pools disjoint from the timed
        ones, so every plan shape has run once before timing starts."""
        for (surface, _kind), pool in self._pools(f"warmpool:{self.ctx.seed}").items():
            self.surf.run(Request(surface, pool[0]))

    def measure(self, seconds: float, replay: list | None = None) -> list:
        """Closed loop over whole decks until ``seconds`` have passed, or
        over the ``replay`` requests; returns the requests run."""
        if replay is not None:
            done = self._run(replay)
        else:
            rng, done = random.Random(f"serve:{self.ctx.seed}"), []
            t_end = time.perf_counter() + seconds
            while time.perf_counter() < t_end:
                done += self._run(self.deck(rng, self.pools))
        by_surface = {}
        for req, ans, err, sec in done:
            self.ctx.verdict(req.name, err or self.surf.check(req, ans))
            by_surface.setdefault(req.surface, []).append(sec)
        self.latencies = [sec for *_r, sec in done]
        self.unit_latencies = self.latencies
        for surface, xs in by_surface.items():
            self.info[f"{surface}_p50_ms"] = 1e3 * statistics.median(xs)
        return [req for req, *_r in done]

    def _run(self, reqs: list[Request]) -> list[tuple]:
        out = []
        for req in reqs:
            ans, err, sec = self.timed(f"op.serve_mix.{req.surface}",
                                       lambda: self.surf.run(req))
            out.append((req, ans, err, sec))
        return out

    def close(self) -> None:
        self.surf.close()


class CorpusBatch(Workload):
    """Repeated passes: MinHash dedup -> connected components over the
    near-duplicate pairs, then the fixpoint operators over the call graph.
    One operation is one operator call; caches are released between
    passes so every pass does the same work."""

    SETUP_REPEATS = 3

    def _load(self, seed_key: int, n_docs: int, n_graph_files: int):
        c = gen.make_corpus(seed_key, n_docs, n_graph_files)
        s = self.ctx.spark
        d = os.path.join(self.ctx.tmp, f"corpus{seed_key}")
        _write(s.createDataFrame(c.docs, "doc_id long, text string"), d + "/docs")
        _write(s.createDataFrame(c.edges, "a long, b long"), d + "/edges")
        return c, read_parquet(s, d + "/docs"), read_parquet(s, d + "/edges")

    def setup(self, trace_last: bool) -> list[float]:
        times = []
        for _ in range(self.SETUP_REPEATS):
            t0 = time.perf_counter()
            self.corpus, self.docs, self.edges = self._load(
                self.ctx.seed, CORPUS_DOCS, CORPUS_GRAPH_FILES)
            times.append(time.perf_counter() - t0)
        self.texts = dict(self.corpus.docs)
        return times

    def run_pass(self, docs, edges, timed: bool) -> dict:
        t = self.ctx.tracer
        s = self.ctx.spark
        out = {}

        def stage(name, fn):
            if timed:
                ans, err, sec = self.timed(f"op.corpus_batch.{name}", fn)
                self.latencies.append(sec)
                out[name] = (ans, err, sec)
                return ans
            return fn()

        pairs = stage("minhash_near_duplicates", lambda: t.call(
            "operators.dedup.minhash_near_duplicates",
            lambda: dedup.minhash_near_duplicates(docs, threshold=DEDUP_THRESHOLD),
            lambda df: [(r.a, r.b, r.jaccard) for r in df.collect()]))
        pdf = s.createDataFrame([(a, b) for a, b, _j in pairs or []], "a long, b long")
        stage("connected_components", lambda: t.call(
            "operators.graph.connected_components",
            lambda: graph.connected_components(pdf),
            lambda df: [tuple(r) for r in df.collect()]))
        stage("pagerank", lambda: t.call(
            "operators.graph.pagerank", lambda: graph.pagerank(edges),
            lambda df: [tuple(r) for r in df.collect()]))
        stage("kcore", lambda: t.call(
            "operators.graph.kcore", lambda: graph.kcore(edges, k=3),
            lambda df: [tuple(r) for r in df.collect()]))
        stage("communities_lpa", lambda: t.call(
            "operators.graph.communities_lpa", lambda: graph.communities_lpa(edges),
            lambda df: [tuple(r) for r in df.collect()]))
        stage("betweenness_centrality", lambda: t.call(
            "operators.graph.betweenness_centrality",
            lambda: graph.betweenness_centrality(edges),
            lambda df: [tuple(r) for r in df.collect()]))
        s.catalog.clearCache()
        return out

    def _verify(self, out) -> None:
        e = self.corpus.edges
        pairs = (out["minhash_near_duplicates"][0] or [])
        refs = {
            "minhash_near_duplicates": lambda a: checks.dedup_check(
                a, self.texts, DEDUP_THRESHOLD),
            "connected_components": lambda a: checks.components_check(a, pairs),
            "pagerank": lambda a: checks.pagerank_check(a, e),
            "kcore": lambda a: checks.kcore_check(a, e, k=3),
            "communities_lpa": lambda a: checks.lpa_check(a, e),
            "betweenness_centrality": lambda a: checks.betweenness_check(a, e),
        }
        for name, (ans, err, _sec) in out.items():
            self.ctx.verdict(name, err or refs[name](ans))

    def warmup(self) -> None:
        # a small corpus: the warm-up pays JIT and worker start-up, which
        # do not depend on the input size
        _c, docs, edges = self._load(self.ctx.seed + 10**6, CORPUS_DOCS // 8,
                                    CORPUS_GRAPH_FILES // 8)
        self.run_pass(docs, edges, timed=False)

    def measure(self, seconds: float, replay: int | None = None) -> int:
        """Whole passes until ``seconds`` have passed (or ``replay`` passes);
        returns the number of passes run."""
        self.latencies = []
        passes, dedup_s = [], []
        t_end = time.perf_counter() + seconds
        n = 0
        while (n < replay) if replay is not None else (time.perf_counter() < t_end):
            out = self.run_pass(self.docs, self.edges, timed=True)
            n += 1
            passes.append(sum(sec for _a, _e, sec in out.values()))
            dedup_s.append(out["minhash_near_duplicates"][2])
            self._verify(out)
            self.last_pairs = len(out["minhash_near_duplicates"][0] or [])
        self.unit_latencies = passes
        self.info["pass_s"] = statistics.median(passes)
        self.info["dedup_docs_per_s"] = CORPUS_DOCS / statistics.median(dedup_s)
        return n

    def verified_per_candidate(self) -> float:
        sigs = dedup.minhash_signatures(self.docs)
        cand = dedup.lsh_candidate_pairs(sigs).count()
        self.ctx.spark.catalog.clearCache()
        return self.last_pairs / max(cand, 1)

    def close(self) -> None:
        pass


WORKLOADS = {"serve_mix": ServeMix, "corpus_batch": CorpusBatch}
