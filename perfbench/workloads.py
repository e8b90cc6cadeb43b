"""Seeded inputs, query mixes and expected answers for the benchmark.

Nothing here goes through hdtspark's dict_builder, encode, query or sparql
modules, so the expected answers are independent of the code under test:

- the ``synth`` corpus's triples come from the extraction rules evaluated in
  pure Python (``hdtspark.rules.turn_triples`` over
  ``hdtspark.synth.generate_rows``, the same rows ``synth.transcripts_df``
  generates in Spark);
- the ``skewed_nt`` graph is written line by line by ``skewed_nt`` below,
  which knows every triple it writes.

Every generator is a pure function of its seed.
"""

from __future__ import annotations

import hashlib
import itertools
import random
from dataclasses import dataclass, field

from hdtspark import rules, synth

# Input sizes.  Chosen so that a whole run (set-up, build, query mix,
# crash-resume and export) fits the per-run budget on a 4-core host.
SYNTH_N_CONV = 500
NT_NODES = 105_000           # the hub subject links to every node
# hdtspark.bitmap_triples.SKEW_DEGREE_THRESHOLD is 100_000: the hub's degree
# must be above it so the salted adjacency path runs.
# The warm-up query cycle draws its constants with seed + WARM_SEED_OFFSET.
WARM_SEED_OFFSET = 1_000_003

NS = "http://bench.example/"
NT_LINK = NS + "p/link"
NT_LABEL = NS + "p/label"
NT_NEXT = NS + "p/next"
NT_TYPE = rules.P_TYPE
NT_HUB = NS + "hub"
_LABEL_WORDS = ["alpha", "beta", 'say "hi"', "back\\slash", "two\nlines",
                "tab\there", "хобби", "café", "東京", "naïve"]
_LANGS = ["", "", "@en", "@de", "@ru", "@en-GB"]


def nt_node(i: int) -> str:
    return f"{NS}n/{i}"


@dataclass
class Graph:
    """A set of canonical string triples with the indexes the expected
    answers need.  ``triples`` is distinct and in a stable order."""

    triples: list[tuple[str, str, str]]
    raw: int                                  # triples before dedup
    out: dict[str, list[tuple[str, str]]] = field(default_factory=dict)
    inn: dict[str, list[tuple[str, str]]] = field(default_factory=dict)
    pcount: dict[str, int] = field(default_factory=dict)

    def __post_init__(self):
        for s, p, o in self.triples:
            self.out.setdefault(s, []).append((p, o))
            self.inn.setdefault(o, []).append((s, p))
            self.pcount[p] = self.pcount.get(p, 0) + 1

    def count(self, s: str | None, p: str | None, o: str | None) -> int:
        """Number of triples matching a pattern (None = variable)."""
        if s is not None:
            return sum(1 for pp, oo in self.out.get(s, ())
                       if (p is None or pp == p) and (o is None or oo == o))
        if o is not None:
            return sum(1 for _, pp in self.inn.get(o, ())
                       if p is None or pp == p)
        if p is not None:
            return self.pcount.get(p, 0)
        return len(self.triples)

    def objects(self, s: str, p: str) -> list[str]:
        return [oo for pp, oo in self.out.get(s, ()) if pp == p]


# --- synth transcripts -----------------------------------------------------

def synth_graph(seed: int, n_conv: int) -> tuple[Graph, int, str]:
    """(expected graph, number of turns, content hash of the rows)."""
    h = hashlib.sha256()
    raw: list[tuple[str, str, str]] = []
    n_turns = 0
    for i in range(n_conv):
        for r in synth.generate_conversation(seed, i):
            n_turns += 1
            h.update(repr(sorted(r.items())).encode())
            raw.extend(rules.turn_triples(r["conv_id"], r["turn_idx"],
                                          r["role"], r["text"], r["tool"],
                                          r["ts"]))
    distinct = list(dict.fromkeys(raw))
    return Graph(distinct, len(raw)), n_turns, h.hexdigest()


# --- skewed N-Triples --------------------------------------------------------

def _nt_escape(lex: str) -> str:
    return (lex.replace("\\", "\\\\").replace('"', '\\"')
            .replace("\n", "\\n").replace("\r", "\\r").replace("\t", "\\t"))


def _nt_term(t: str) -> str:
    if t.startswith('"'):
        lex, _, suffix = t[1:].rpartition('"')
        return f'"{_nt_escape(lex)}"{suffix}'
    return f"<{t}>"


def skewed_nt(seed: int, n_nodes: int) -> tuple[bytes, Graph, int]:
    """(N-Triples file bytes, expected graph, number of lines).

    One hub subject links to every node (its degree is ``n_nodes``); about
    90% of the triples use the link predicate; about 10% of the lines are
    exact duplicates of other lines; labels carry NT escapes, language tags
    and non-ASCII text; short ``next`` chains feed the property-path
    queries; a few comment lines are skipped by the parser.
    """
    rng = random.Random(seed)
    cum = list(itertools.accumulate(1.0 / (k + 1) for k in range(n_nodes)))
    nodes = range(n_nodes)
    triples: list[tuple[str, str, str]] = [
        (NT_HUB, NT_LINK, nt_node(i)) for i in range(n_nodes)]
    for i in range(n_nodes):
        if rng.random() < 0.1:
            for j in rng.choices(nodes, cum_weights=cum, k=2):
                triples.append((nt_node(i), NT_LINK, nt_node(j)))
        if rng.random() < 0.1:
            word = rng.choice(_LABEL_WORDS)
            triples.append((nt_node(i), NT_LABEL,
                            f'"{word} {i}"{rng.choice(_LANGS)}'))
        if i % 400 < 7:
            triples.append((nt_node(i), NT_NEXT, nt_node(i + 1)))
        if rng.random() < 0.02:
            cls = min(int(rng.paretovariate(1.2)), 20)
            triples.append((nt_node(i), NT_TYPE, f"{NS}c/C{cls}"))
    distinct = list(dict.fromkeys(triples))
    lines = [f"{_nt_term(s)} {_nt_term(p)} {_nt_term(o)} ." for s, p, o in distinct]
    lines += rng.sample(lines, len(lines) // 9)   # ~10% of all lines are copies
    rng.shuffle(lines)
    lines[:0] = ["# skewed benchmark graph", f"# seed {seed}"]
    data = ("\n".join(lines) + "\n").encode()
    return data, Graph(distinct, len(lines) - 2), len(lines)


# --- query mix -------------------------------------------------------------

SHAPES = ["spo", "sp", "so", "s", "po", "p", "o"]
PATH_DEPTH = 2      # nodes a path query reaches: turn 2's earlier turns, or a chain's last two


@dataclass
class Op:
    kind: str                  # a shape, "missing", or "sparql_<template>"
    s: str | None = None
    p: str | None = None
    o: str | None = None
    sparql: str | None = None
    expected: int = 0


def _lexical(lit: str) -> str:
    return lit[1:].rpartition('"')[0]


@dataclass
class Vocab:
    """The predicates the SPARQL templates use on one graph."""

    join_a: str     # BGP join:  <x> join_a ?m . ?m join_b ?c
    join_b: str
    filter_a: str   # FILTER:    <x> filter_a ?t . ?t filter_b ?r FILTER(STRSTARTS(STR(?r), ...))
    filter_b: str
    chain: str      # path:      <x> chain+ ?y


SYNTH_VOCAB = Vocab(rules.P_MENTIONS, rules.P_TYPE, rules.P_HASTURN,
                    rules.P_ROLE, rules.P_PREV)
NT_VOCAB = Vocab(NT_LINK, NT_TYPE, NT_LINK, NT_LABEL, NT_NEXT)


def _closure(g: Graph, start: str, p: str) -> int:
    seen: set[str] = set()
    frontier = [start]
    while frontier:
        nxt = []
        for x in frontier:
            for y in g.objects(x, p):
                if y not in seen:
                    seen.add(y)
                    nxt.append(y)
        frontier = nxt
    return len(seen)


def _sparql_op(kind: str, g: Graph, v: Vocab, rng: random.Random,
               pools: dict[str, list[str]]) -> Op:
    if kind == "join":
        x = rng.choice(pools[v.join_a])
        q = f"SELECT ?m ?c WHERE {{ <{x}> <{v.join_a}> ?m . ?m <{v.join_b}> ?c }}"
        n = sum(len(g.objects(m, v.join_b)) for m in g.objects(x, v.join_a))
    elif kind == "filter":
        x = rng.choice(pools[v.filter_a])
        prefix = _lexical(rng.choice(pools["prefix"]))[:1]
        q = (f"SELECT ?t ?r WHERE {{ <{x}> <{v.filter_a}> ?t . "
             f"?t <{v.filter_b}> ?r FILTER(STRSTARTS(STR(?r), \"{prefix}\")) }}")
        n = sum(1 for t in g.objects(x, v.filter_a)
                for r in g.objects(t, v.filter_b)
                if _lexical(r).startswith(prefix))
    else:
        # The closure takes one iteration per hop, so the start is drawn
        # among nodes PATH_DEPTH hops from the end of their chain: the
        # operation's cost is then the same for every seed.
        for _ in range(10_000):
            x = rng.choice(pools[v.chain])
            n = _closure(g, x, v.chain)
            if n == PATH_DEPTH:
                break
        q = f"SELECT ?y WHERE {{ <{x}> <{v.chain}>+ ?y }}"
    return Op("sparql_" + kind, sparql=q, expected=n)


def query_cycle(g: Graph, v: Vocab, rng: random.Random,
                pools: dict[str, list[str]]) -> list[Op]:
    """One cycle of eleven operations with seeded constants, always in the
    same order: the seven bound triple-pattern shapes, one query with an
    unknown constant, and one SPARQL SELECT from each template (join,
    FILTER, path).  Every cycle has the same mix and order, so a run's
    figures do not depend on how many cycles fit in it, nor on which
    operations a seed happens to put first."""
    ops = []
    for shape in SHAPES:
        s, p, o = rng.choice(g.triples)   # degree-weighted constants
        s, p, o = (s if "s" in shape else None, p if "p" in shape else None,
                   o if "o" in shape else None)
        ops.append(Op(shape, s, p, o, expected=g.count(s, p, o)))
    s, p, o = rng.choice(g.triples)
    pos = rng.choice("spo")
    missing = f"{NS}missing/{rng.randrange(1 << 30)}"
    ops.append(Op("missing", missing if pos == "s" else s,
                  missing if pos == "p" else None,
                  missing if pos == "o" else None, expected=0))
    for kind in ("join", "filter", "path"):
        ops.append(_sparql_op(kind, g, v, rng, pools))
    return ops


def template_pools(g: Graph, v: Vocab) -> dict[str, list[str]]:
    """Constants for the SPARQL templates: per first predicate, the subjects
    that have it, with multiplicity (a subject with more such edges is drawn
    more often); under "prefix", the literals the FILTER template tests."""
    out: dict[str, list[str]] = {p: [] for p in (v.join_a, v.filter_a, v.chain)}
    out["prefix"] = []
    for s, p, o in g.triples:
        if p in out:
            out[p].append(s)
        if p == v.filter_b:
            out["prefix"].append(o)
    return out
