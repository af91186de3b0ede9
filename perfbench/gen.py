"""Seeded input generators for the benchmark workloads.

Everything here is pure Python/NumPy: the program under test only ever sees
the generated inputs (a static web, search queries, TPC-H-shaped parquet
tables), never the seed.  The same seed always yields the same inputs.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass

import numpy as np

_SYLLABLES = [c + v for c in "bdfgklmnprstvz" for v in "aeiou"]  # 70 syllables
_TOKEN_RE = re.compile("[a-z0-9]+")


def vocabulary(n: int) -> list[str]:
    """``n`` distinct lowercase alphabetic words (2-3 syllables each) — every
    word is one analyzer token, so postings and phrase matching see exactly
    the words generated."""
    words = []
    s = len(_SYLLABLES)
    for i in range(n):
        a, b, c = i % s, (i // s) % s, i // (s * s)
        words.append(_SYLLABLES[a] + _SYLLABLES[b] + (_SYLLABLES[c - 1] if c else ""))
    return words


def zipf_weights(n: int, s: float = 1.1) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def tokens(text: str) -> list[str]:
    """The engine's analyzer (lowercase [a-z0-9]+ runs), for reference answers."""
    return _TOKEN_RE.findall(text.lower())


# --- searches -----------------------------------------------------------------


@dataclass
class Corpus:
    """The searchable text of each document, as the crawler indexes it."""

    urls: list[str]
    titles: list[str]
    contents: list[str]


@dataclass
class Query:
    expression: str
    mode: str  # "match" | "phrase"
    offset: int


def search_queries(rng: np.random.Generator, n: int, vocab: list[str], docs: Corpus) -> list[Query]:
    """A fixed 3:1 MATCH:PHRASE rotation (so every seed has the same mix);
    MATCH draws 1-3 terms by Zipf popularity, PHRASE quotes two adjacent
    words of a random document, and offsets are drawn from 0/10/20."""
    p = zipf_weights(len(vocab))
    out = []
    for i in range(n):
        offset = int(rng.choice([0, 10, 20]))
        if i % 4 == 3:
            words = tokens(docs.contents[int(rng.integers(len(docs.contents)))])
            j = int(rng.integers(len(words) - 1))
            out.append(Query(f'"{words[j]} {words[j + 1]}"', "phrase", offset))
        else:
            terms = rng.choice(len(vocab), size=int(rng.integers(1, 4)), p=p, replace=False)
            out.append(Query(" ".join(vocab[t] for t in terms), "match", offset))
    return out


class SearchOracle:
    """Reference answers for the generated corpus: MATCH totals from a Python
    inverted index over title+content, PHRASE totals from padded substring
    containment per field (the engine's documented semantics)."""

    def __init__(self, docs: Corpus):
        self.inverted: dict[str, set[int]] = {}
        self.padded: list[tuple[str, str]] = []
        for i, (t, c) in enumerate(zip(docs.titles, docs.contents)):
            tt, ct = tokens(t), tokens(c)
            for w in set(tt) | set(ct):
                self.inverted.setdefault(w, set()).add(i)
            self.padded.append((f" {' '.join(tt)} ", f" {' '.join(ct)} "))
        self.urls = docs.urls

    def matching(self, q: Query) -> set[str]:
        if q.mode == "phrase":
            needle = f" {' '.join(tokens(q.expression))} "
            hit = {i for i, (t, c) in enumerate(self.padded) if needle in t or needle in c}
        else:
            hit = set().union(*(self.inverted.get(w, set()) for w in tokens(q.expression)))
        return {self.urls[i] for i in hit}


# --- crawl_cycle ------------------------------------------------------------


@dataclass
class Web:
    roots: list[str]
    urls: list[str]
    links: dict[str, list[str]]  # url -> distinct out-link urls (no self links)
    words: dict[str, str]  # url -> body text


def web(rng: np.random.Generator, n_hosts: int, pages_per_host: int, vocab: list[str]) -> Web:
    """A multi-host web: each host's root links to every page on its host
    (so two crawl passes reach every page from the roots), and every page
    links to 1-3 random pages on any host."""
    p = zipf_weights(len(vocab))
    v = np.array(vocab)
    urls, roots, links = [], [], {}
    for h in range(n_hosts):
        host = [f"http://h{h}.bench.test/"] + [f"http://h{h}.bench.test/p{k}" for k in range(1, pages_per_host)]
        roots.append(host[0])
        urls.extend(host)
        links[host[0]] = host[1:]
        for u in host[1:]:
            links[u] = []
    for u in urls:
        for t in rng.choice(len(urls), size=int(rng.integers(1, 4)), replace=False):
            dst = urls[int(t)]
            if dst != u and dst not in links[u]:
                links[u].append(dst)
    words = {u: " ".join(v[rng.choice(len(vocab), size=int(rng.integers(20, 60)), p=p)]) for u in urls}
    return Web(roots, urls, links, words)


def _page(w: Web, i: int, marker: dict[str, str]) -> tuple[str, str, str]:
    """(title, body text, html) of page ``i``; a page in ``marker`` carries
    that extra word in its body (a content change)."""
    u = w.urls[i]
    body = f"{w.words[u]} {marker.get(u, '')}".strip()
    anchors = " ".join(f'<a href="{d}">link</a>' for d in w.links[u])
    title = f"Page {i}"
    html = f"<html><head><title>{title}</title></head><body><p>{body}</p> {anchors}</body></html>"
    return title, " ".join([body] + ["link"] * len(w.links[u])), html


def serve(w: Web, marker: dict[str, str]) -> dict[str, tuple[int, str, str]]:
    """url -> (status, content type, html) for ``static_fetcher``."""
    return {u: (200, "text/html", _page(w, i, marker)[2]) for i, u in enumerate(w.urls)}


def indexed(w: Web, marker: dict[str, str]) -> Corpus:
    """The text the crawler's extraction makes of ``serve(w, marker)``: the
    title, and the tag-stripped body (body words, then one "link" per
    anchor)."""
    pages = [_page(w, i, marker) for i in range(len(w.urls))]
    return Corpus(list(w.urls), [p[0] for p in pages], [p[1] for p in pages])


# --- graph_loops ------------------------------------------------------------

# TPC-H's fixed nation -> region map (25 nations, 5 regions).
NATION_REGION = [0, 1, 1, 1, 4, 0, 3, 3, 2, 2, 4, 4, 2, 4, 0, 0, 0, 1, 2, 3, 4, 2, 3, 3, 1]
TPCH_TABLES = ("region", "nation", "supplier", "customer", "part", "orders", "lineitem")


def tpch_tables(rng: np.random.Generator, out_dir: str, sf: float) -> None:
    """The TPC-H columns the graph queries read, at scale factor ``sf``
    (TPC-H row counts: 10k suppliers, 200k parts, 150k customers and 1.5M
    orders per unit of ``sf``; 4 lines per order on average), written as one
    parquet file per table.

    Every foreign key is drawn uniformly and independently, the way the
    TPC-H test data the repository's queries are checked on is made: its
    ``l_suppkey`` does not follow dbgen's partsupp formula, so the
    supplier->part graph the graph queries build is a random bipartite graph
    (at sf 0.1 about 591k distinct edges over 21k vertices, suppliers of
    out-degree ~590, parts of in-degree ~29)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    n_supp, n_part, n_cust, n_orders = (round(sf * n) for n in (10_000, 200_000, 150_000, 1_500_000))
    n_lines = n_orders * 4
    order_of_line = np.sort(rng.integers(1, n_orders + 1, size=n_lines))
    i32, i64 = pa.int32(), pa.int64()
    tables = {
        "region": {"r_regionkey": pa.array(range(5), i32), "r_name": pa.array([f"R{r}" for r in range(5)])},
        "nation": {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": pa.array([f"N{n}" for n in range(25)]),
            "n_regionkey": pa.array(NATION_REGION, i32),
        },
        "supplier": {
            "s_suppkey": pa.array(np.arange(1, n_supp + 1), i64),
            "s_nationkey": pa.array(rng.integers(0, 25, size=n_supp), i32),
        },
        "customer": {
            "c_custkey": pa.array(np.arange(1, n_cust + 1), i64),
            "c_nationkey": pa.array(rng.integers(0, 25, size=n_cust), i32),
        },
        "part": {"p_partkey": pa.array(np.arange(1, n_part + 1), i64)},
        "orders": {
            "o_orderkey": pa.array(np.arange(1, n_orders + 1), i64),
            "o_custkey": pa.array(rng.integers(1, n_cust + 1, size=n_orders), i64),
        },
        "lineitem": {
            "l_orderkey": pa.array(order_of_line, i64),
            "l_partkey": pa.array(rng.integers(1, n_part + 1, size=n_lines), i64),
            "l_suppkey": pa.array(rng.integers(1, n_supp + 1, size=n_lines), i64),
        },
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))
