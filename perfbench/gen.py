"""Seeded input generators for the benchmark.

Everything the program sees comes from here: a multi-language source repo
with a known call graph, a text corpus with planted near-duplicate groups,
and the Zipf-skewed draws for request parameters.
The same seed gives byte-identical inputs; nothing reads the clock or the
environment.
"""

from __future__ import annotations

import functools
import hashlib
import itertools
import random
from dataclasses import dataclass, field

LANGS = ("go", "py", "ts", "java")
LANG_SHARES = (0.3, 0.3, 0.25, 0.15)
SYLLABLES = (
    "ka", "lo", "mi", "ne", "ru", "sa", "to", "vi", "ze", "bo", "da", "fe",
    "gi", "ho", "ju", "pe", "qua", "ri", "su", "te", "wa", "xo", "yu", "cor",
    "tex", "lin", "mar", "pol", "dun", "rek",
)


def vocabulary(rng: random.Random, n: int) -> list[str]:
    """n distinct lowercase words of 2-3 syllables, in a seeded order."""
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < n:
        w = "".join(rng.choice(SYLLABLES) for _ in range(rng.randint(2, 3)))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def zipf_index(rng: random.Random, n: int, s: float = 1.1) -> int:
    """Index in [0, n) with P(i) proportional to 1/(i+1)^s."""
    return rng.choices(range(n), cum_weights=_zipf_cum_weights(n, s))[0]


@functools.cache
def _zipf_cum_weights(n: int, s: float) -> tuple[float, ...]:
    return tuple(itertools.accumulate(1.0 / (i + 1) ** s for i in range(n)))


# ---------------------------------------------------------------------------
# source repo
# ---------------------------------------------------------------------------


@dataclass
class Func:
    name: str
    node_id: int
    calls: list[str]
    words: list[str]


@dataclass
class SourceFile:
    path: str
    lang: str
    tag: str
    funcs: list[Func]
    words: list[str]
    mtime: int
    iface: tuple[str, str] | None = None  # (interface, implementing struct)


@dataclass
class Repo:
    """The generated filesystem plus its ground truth."""

    vocab: list[str]
    files: dict[str, SourceFile] = field(default_factory=dict)
    next_func: int = 0
    next_file: int = 0
    clock: int = 1_000_000

    def functions(self) -> dict[str, Func]:
        return {f.name: f for sf in self.files.values() for f in sf.funcs}

    def call_graph(self) -> set[tuple[str, str]]:
        """(caller, callee) for every call whose callee is defined."""
        defined = self.functions()
        return {(f.name, c) for f in defined.values() for c in f.calls if c in defined}

    def implements(self) -> list[tuple[str, str]]:
        return sorted(
            (sf.iface[1], sf.iface[0]) for sf in self.files.values() if sf.iface
        )

    def content(self, path: str) -> bytes:
        return render(self.files[path])

    def fs_rows(self) -> list[tuple[str, int, str, str, bytes]]:
        """(file_path, mtime, content_hash, language, content) per file,
        sorted by path — what a filesystem walk would report."""
        out = []
        for path in sorted(self.files):
            sf = self.files[path]
            data = render(sf)
            out.append((path, sf.mtime, hashlib.sha256(data).hexdigest(),
                        sf.lang, data))
        return out


def _func_name(repo: Repo, rng: random.Random) -> tuple[str, int]:
    i = repo.next_func
    repo.next_func += 1
    verb = rng.choice(("load", "store", "parse", "emit", "scan", "merge",
                       "fold", "route", "check", "build"))
    return f"{verb}{repo.vocab[i % len(repo.vocab)].capitalize()}{i}", i


def _words(repo: Repo, rng: random.Random, n: int) -> list[str]:
    v = repo.vocab
    return [v[zipf_index(rng, len(v))] for _ in range(n)]


def _new_file(repo: Repo, rng: random.Random, callees: list[str]) -> SourceFile:
    k = repo.next_file
    repo.next_file += 1
    lang = rng.choices(LANGS, weights=LANG_SHARES)[0]
    path = f"src/{lang}/pkg{k % 7}/mod{k}.{lang}"
    funcs = []
    for _ in range(rng.randint(2, 5)):
        name, nid = _func_name(repo, rng)
        calls = rng.sample(callees, min(len(callees), rng.randint(0, 3)))
        funcs.append(Func(name, nid, calls, _words(repo, rng, rng.randint(4, 9))))
    iface = None
    if lang == "go" and rng.random() < 0.3:
        iface = (f"Iface{k}", f"Impl{k}")
    repo.clock += 1
    return SourceFile(path, lang, f"filetag{k}", funcs,
                      _words(repo, rng, rng.randint(8, 20)), repo.clock, iface)


def make_repo(seed: int, n_files: int) -> Repo:
    """A repo of ``n_files`` sources over Go/Python/TS/Java. Functions call
    earlier-defined functions plus a few forward references, so the call
    graph has long paths and some cycles."""
    rng = random.Random(f"repo:{seed}")
    repo = Repo(vocab=vocabulary(rng, 400))
    names: list[str] = []
    for _ in range(n_files):
        pool = names[-60:] if names else []
        sf = _new_file(repo, rng, pool)
        repo.files[sf.path] = sf
        names.extend(f.name for f in sf.funcs)
    # forward references close some cycles
    all_funcs = [f for sf in repo.files.values() for f in sf.funcs]
    for f in rng.sample(all_funcs, len(all_funcs) // 10):
        f.calls.append(rng.choice(names))
    return repo


def render(sf: SourceFile) -> bytes:
    """Source text the package's parsers accept for ``sf.lang``."""
    body = " ".join(sf.words)
    if sf.lang == "go":
        lines = [f"// {sf.path} {sf.tag} {body}", f"package pkg{sf.tag[7:]}", "",
                 'import "fmt"', ""]
        if sf.iface:
            lines += [f"type {sf.iface[0]} interface {{", "\tRun() int", "}", "",
                      f"type {sf.iface[1]} struct {{", "\tn int", "}", ""]
        for f in sf.funcs:
            lines += [f"// {f.name} {' '.join(f.words)}.",
                      f"func {f.name}(x int) int {{", "\tv := x"]
            lines += [f"\tv = {c}(v)" for c in f.calls]
            lines += ["\tif v > 3 {", "\t\tfmt.Println(v)", "\t}", "\treturn v", "}", ""]
    elif sf.lang == "py":
        lines = [f"# {sf.path} {sf.tag} {body}", "import os", ""]
        for f in sf.funcs:
            lines += [f"def {f.name}(x):", f'    """{" ".join(f.words)}."""', "    v = x"]
            lines += [f"    v = {c}(v)" for c in f.calls]
            lines += ["    return v", "", ""]
    elif sf.lang == "ts":
        lines = [f"// {sf.path} {sf.tag} {body}", 'import { util } from "./util";', ""]
        for f in sf.funcs:
            lines += [f"// {' '.join(f.words)}",
                      f"export function {f.name}(x: number): number {{",
                      "  let v = x;"]
            lines += [f"  v = {c}(v);" for c in f.calls]
            lines += ["  return v;", "}", ""]
    else:
        lines = [f"// {sf.path} {sf.tag} {body}", f"package pkg{sf.tag[7:]};", "",
                 "import java.util.List;", "", f"public class Mod{sf.tag[7:]} {{"]
        for f in sf.funcs:
            lines += [f"    // {' '.join(f.words)}",
                      f"    public static int {f.name}(int x) {{", "        int v = x;"]
            lines += [f"        v = {c}(v);" for c in f.calls]
            lines += ["        return v;", "    }", ""]
        lines += ["}"]
    return ("\n".join(lines) + "\n").encode()


# ---------------------------------------------------------------------------
# corpus with planted near-duplicates
# ---------------------------------------------------------------------------


@dataclass
class Corpus:
    docs: list[tuple[int, str]]  # (doc_id, text)
    groups: list[list[int]]  # planted near-duplicate groups
    edges: list[tuple[int, int]]  # undirected call graph, a < b


def make_corpus(seed: int, n_docs: int, n_graph_files: int) -> Corpus:
    """``n_docs`` documents, a quarter of them in planted near-duplicate
    groups of 2-4 (about 2% of each copy's words replaced), plus the call
    graph of a generated repo as an undirected integer edge list."""
    rng = random.Random(f"corpus:{seed}")
    vocab = vocabulary(rng, 3000)
    docs: list[tuple[int, str]] = []
    groups: list[list[int]] = []

    def fresh() -> list[str]:
        return [vocab[zipf_index(rng, len(vocab), 0.8)]
                for _ in range(rng.randint(40, 80))]

    while len(docs) < n_docs:
        base = fresh()
        if rng.random() < 0.1:
            group = []
            for _ in range(rng.randint(2, 4)):
                copy = [vocab[rng.randrange(len(vocab))] if rng.random() < 0.02
                        else w for w in base]
                group.append(len(docs))
                docs.append((len(docs), " ".join(copy)))
            groups.append(group)
        else:
            docs.append((len(docs), " ".join(base)))
    docs = docs[:n_docs]
    groups = [[d for d in g if d < n_docs] for g in groups]
    repo = make_repo(seed, n_graph_files)
    ids = {f.name: f.node_id for sf in repo.files.values() for f in sf.funcs}
    edges = sorted({
        (min(ids[a], ids[b]), max(ids[a], ids[b]))
        for a, b in repo.call_graph() if a != b
    })
    return Corpus(docs, [g for g in groups if len(g) > 1], edges)
