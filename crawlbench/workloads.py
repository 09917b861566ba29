"""Seeded workload generators for the crawl-engine benchmark.

Every input is a pure function of the workload name and the ``--seed``
argument: the web (a ``spans.WebSpec`` layout with seeded links), the
seed-url list and a planted-duplicate text corpus with its ground truth.
Generation runs before set-up and outside every timed span; it starts no
Spark job, so the first one runs inside the first (cold) set-up.

Two workloads, each a crawl followed by the corpus-dedup flow (the
engine's crawl -> dedup job chain), load different layers:

``crawl_broad``
    Thousands of hosts with a few pages each, ~10 links per page (30% of
    them in a non-canonical form) and a non-binding politeness budget:
    every round admits what it discovers, so round cost grows with volume
    (outlink explode, canonicalizer, rule and robots gates, seen probe on
    an insert-only shard). Its corpus is mostly distinct text, so MinHash
    dominates the dedup.

``crawl_polite``
    A host-concentrated web (a mega-host skew segment holds most pages)
    crawled at a low qps: the per-host budget binds, most of the frontier
    carries over, ``frontier_host_cap`` cuts the mega-hosts and
    ``compact_every`` rewrites the linkbase. The round is small, so its
    fixed cost dominates. Its corpus is duplicate-heavy (exact copies,
    near copies and decoys), so verify and cluster resolution do work.
"""

from __future__ import annotations

import itertools
from dataclasses import dataclass

import numpy as np

from spider_spark.politeness import PolitenessSpec
from spider_spark.round import RoundSpec
from spider_spark.spans import WebSpec

SHINGLE = 3
JACCARD_THRESHOLD = 0.8  # the dedup job's default --threshold


@dataclass(frozen=True)
class CrawlShape:
    web: WebSpec
    round_spec: RoundSpec
    seeds_per_host: int   # random pages per host (all, if it has fewer)
    rounds: int           # timed rounds per run
    noncanonical_pct: int = 0  # anchors rewritten to a non-canonical form


@dataclass(frozen=True)
class CorpusShape:
    n_singletons: int     # unrelated docs
    n_families: int       # each: a base doc plus planted copies
    exact_copies: int     # byte-identical copies per family
    near_copies: int      # 1-word edits of the base (Jaccard >= 0.8)
    decoys: int           # 3-word edits (LSH candidates, rejected by verify)
    words: int = 40
    vocab: int = 5000


@dataclass(frozen=True)
class Workload:
    name: str
    crawl: CrawlShape
    corpus: CorpusShape


def workload(name: str, seed: int) -> Workload:
    if name == "crawl_broad":
        web = WebSpec(n_hosts=2000, pages_per_host=3, skew_hosts=5,
                      skew_pages=200, links_per_page=10, seed=seed)
        rspec = RoundSpec(
            n_buckets=32, max_depth=3, max_rounds=1,
            politeness=PolitenessSpec(qps=10.0, round_seconds=5.0),
        )
        crawl = CrawlShape(web, rspec, seeds_per_host=1, rounds=1,
                           noncanonical_pct=30)
        corpus = CorpusShape(n_singletons=1000, n_families=50,
                             exact_copies=1, near_copies=1, decoys=1)
    elif name == "crawl_polite":
        web = WebSpec(n_hosts=60, pages_per_host=10, skew_hosts=4,
                      skew_pages=6000, links_per_page=6, seed=seed)
        rspec = RoundSpec(
            n_buckets=32, max_depth=6, max_rounds=1,
            politeness=PolitenessSpec(qps=1.0, round_seconds=5.0),
            frontier_host_cap=150, compact_every=1,
        )
        crawl = CrawlShape(web, rspec, seeds_per_host=60, rounds=1)
        corpus = CorpusShape(n_singletons=200, n_families=200,
                             exact_copies=2, near_copies=2, decoys=1)
    else:
        raise ValueError(f"unknown workload {name!r}")
    return Workload(name, crawl, corpus)


WORKLOADS = ("crawl_broad", "crawl_polite")


@dataclass(frozen=True)
class Web:
    table: object                     # pyarrow Table of spans.DOCUMENTS_SCHEMA
    adjacency: dict[str, list[str]]   # page url -> distinct raw outlinks


def _noncanonical(url: str) -> str:
    """An equivalent non-canonical form — upper-case scheme and host, the
    default port, a fragment: it misses the canonicalizer's JVM fast path
    and canonicalizes back to ``url``."""
    host, path = url[len("http://"):].split("/", 1)
    return f"HTTP://{host.upper()}:80/{path}#top"


def web_documents(shape: CrawlShape, seed: int) -> Web:
    """The interleaved-documents table of a ``WebSpec`` layout (page urls
    from ``WebSpec.url_of``; spans text, anchor, text, ..., image as
    ``spans.generate_documents`` lays them out), with ``links_per_page``
    outlinks per page drawn uniformly over the web by a seeded RNG and
    ``noncanonical_pct`` percent of them rewritten to a non-canonical
    form. Also returns the adjacency the simulator crawls."""
    import pyarrow as pa

    web = shape.web
    rng = np.random.RandomState(seed)
    n, k = web.n_docs, web.links_per_page
    urls = [web.url_of(i) for i in range(n)]
    targets = rng.randint(0, n, size=(n, k))
    odd = rng.randint(0, 100, size=(n, k)) < shape.noncanonical_pct
    spans, adjacency = [], {}
    for i in range(n):
        links = [_noncanonical(urls[t]) if o else urls[t]
                 for t, o in zip(targets[i], odd[i])]
        adjacency[urls[i]] = sorted(set(links))
        page = []
        for j, link in enumerate(links):
            page.append({"kind": "text", "text": f"page {i} part {j}",
                         "media_ref": "", "offset": 2 * j})
            page.append({"kind": "anchor",
                         "text": f'<a href="{link}">link {j}</a>',
                         "media_ref": link, "offset": 2 * j + 1})
        page.append({"kind": "image", "text": "",
                     "media_ref": f"http://img.example.com/i/{i % 10000}",
                     "offset": 2 * k})
        spans.append(page)
    span = pa.struct([("kind", pa.string()), ("text", pa.string()),
                      ("media_ref", pa.string()), ("offset", pa.int32())])
    schema = pa.schema([("doc_id", pa.string()), ("spans", pa.list_(span))])
    table = pa.table({"doc_id": urls, "spans": spans}, schema=schema)
    return Web(table, adjacency)


def seed_urls(shape: CrawlShape, seed: int) -> list[str]:
    """``seeds_per_host`` distinct random pages of every host (all of a
    host's pages if it has fewer), sorted for a stable input order.
    Stratifying by host keeps the round's admitted count — which the
    per-host budget and robots rules set — the same for every seed."""
    web = shape.web
    rng = np.random.RandomState(seed)
    out = []
    for h in range(web.n_hosts):
        pages = list(range(h, web.base_docs, web.n_hosts))
        if h < web.skew_hosts:
            pages += range(web.base_docs + h, web.n_docs, web.skew_hosts)
        k = min(shape.seeds_per_host, len(pages))
        out += [web.url_of(pages[i])
                for i in rng.choice(len(pages), size=k, replace=False)]
    return sorted(out)


# --------------------------------------------------------------------------
# Planted-duplicate corpus
# --------------------------------------------------------------------------

def shingles(text: str, n: int = SHINGLE) -> frozenset[str]:
    """Token n-gram set, the same shingling ``dedup.ngram_jaccard_pairs``
    verifies with."""
    toks = text.split()
    if len(toks) < n:
        return frozenset([" ".join(toks)] if toks else [])
    return frozenset(" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1))


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    union = len(sa | sb)
    return len(sa & sb) / union if union else 1.0


@dataclass(frozen=True)
class Corpus:
    docs: list[tuple[str, str]]          # (doc_id, text)
    exact_kept: int                      # distinct texts
    near_pairs: frozenset[tuple[str, str]]   # (a, b), a < b, among survivors
    decoy_pairs: int                     # planted pairs below the threshold
    kept: int                            # survivors after near-dup clusters


def _edit(rng: np.random.RandomState, words: np.ndarray, n_edits: int,
          vocab: int) -> np.ndarray:
    """Replace ``n_edits`` words, at least three positions apart (so each
    edit changes its own three shingles), with words drawn from outside
    the base vocabulary range, so an edit can never recreate a
    shingle."""
    out = words.copy()
    pos = rng.choice(np.arange(2, len(words) - 2, 3), size=n_edits,
                     replace=False)
    out[pos] = vocab + rng.randint(0, vocab, size=n_edits)
    return out


def planted_corpus(shape: CorpusShape, seed: int) -> Corpus:
    """Random base texts plus, per family, exact copies, near copies (one
    edited word: Jaccard ~0.85) and decoys (three edited words: Jaccard
    ~0.6 — an LSH candidate that verify must reject). Doc ids are a
    random permutation, so a family's minimum id is not always its base.
    Ground truth is computed here by exact shingle Jaccard over every
    within-family pair; unrelated random texts share no shingle."""
    rng = np.random.RandomState(seed)
    texts: list[list[str]] = []
    families: list[list[int]] = []
    n_members = 1 + shape.exact_copies + shape.near_copies + shape.decoys

    def words_to_text(w: np.ndarray) -> str:
        return " ".join(f"w{int(x)}" for x in w)

    for _ in range(shape.n_families):
        base = rng.randint(0, shape.vocab, size=shape.words)
        fam = [words_to_text(base)] * (1 + shape.exact_copies)
        fam += [words_to_text(_edit(rng, base, 1, shape.vocab))
                for _ in range(shape.near_copies)]
        fam += [words_to_text(_edit(rng, base, 3, shape.vocab))
                for _ in range(shape.decoys)]
        families.append(list(range(len(texts), len(texts) + n_members)))
        texts.extend(fam)
    for _ in range(shape.n_singletons):
        texts.append(words_to_text(rng.randint(0, shape.vocab,
                                               size=shape.words)))
    width = len(str(len(texts)))
    ids = [f"d{int(i):0{width}d}" for i in rng.permutation(len(texts))]
    docs = list(zip(ids, texts))

    # exact pass: per distinct text, the minimum id survives
    survivor: dict[str, str] = {}
    for doc_id, text in docs:
        if text not in survivor or doc_id < survivor[text]:
            survivor[text] = doc_id
    survivors = set(survivor.values())

    near: set[tuple[str, str]] = set()
    decoys = 0
    for fam in families:
        members = sorted({(ids[i], texts[i]) for i in fam
                          if ids[i] in survivors})
        for (a, ta), (b, tb) in itertools.combinations(members, 2):
            if jaccard(ta, tb) >= JACCARD_THRESHOLD:
                near.add((a, b))
            else:
                decoys += 1

    # kept = connected components of the survivors under the near pairs
    parent = {d: d for d in survivors}

    def find(x: str) -> str:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in near:
        parent[find(a)] = find(b)
    kept = len({find(d) for d in survivors})
    return Corpus(docs, len(survivors), frozenset(near), decoys, kept)
