"""Seeded inputs for every workload.

Everything here is a pure function of ``(workload, seed)``: the same seed
writes byte-identical parquet files. The pipeline only ever sees these files
(through ``read_pages`` or a docs frame), and the generator keeps its own
ground truth next to them -- planted malformed blocks, the sameAs edges it
wrote, the near-duplicates it planted -- so the checks never have to trust
the library to describe its own input.

Text comes from the same 30-word vocabulary the repository's synthetic
``documents`` tables use, so page texts hit the entity-linking dictionary
and the language/quality scorers the way the pipeline's own fixtures do.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
from dataclasses import dataclass, field
from datetime import timedelta
from typing import Dict, List, Tuple

from jsonld_rs_spark.pipeline import synth

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table value vector window the"
).split()
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
# marker word each language's text carries instead of "the" (ops.text
# LANG_MARKERS); zh carries none, so corpus_filter's lang check drops it
MARKER = {"en": "the", "de": "der", "fr": "le", "es": "el", "zh": "a"}

FULL_BUILD_DOCS = 2000
SAMEAS_TARGET_EDGES = 68_000  # distinct edges; components.SMALL_GRAPH_EDGES is 65,536
SAMEAS_BLOCKS_PER_PAGE = 6
SAMEAS_ENTITY_SPACE = 1_000_000
NEAR_DUP_DOCS = 4500
NEAR_DUP_SHARE = 0.2
RARE = 0.5  # near_dup_filter texts: share of tokens from the rare tail
FILES = 8  # input files per table: the scan runs at 2x the 4-core width


@dataclass
class Inputs:
    """Paths of the generated tables plus what they exercise."""

    pages_path: str
    docs_path: str = ""  # near_dup_filter only
    n_pages: int = 0  # input rows read, stale re-crawls included
    n_docs: int = 0  # near_dup_filter: rows given to corpus_filter
    latest_urls: List[str] = field(default_factory=list)
    planted_malformed: int = 0  # truncated blocks on latest pages
    sameas_edges: List[Tuple[str, str]] = field(default_factory=list)
    docs: List[dict] = field(default_factory=list)  # near_dup_filter rows
    url_prefix: str = ""
    stats: Dict[str, float] = field(default_factory=dict)


def rng_for(workload: str, seed: int) -> random.Random:
    return random.Random(f"{workload}:{seed}")


def words(rng: random.Random, n: int, lang: str, rare: float = 0.0) -> List[str]:
    """``n`` tokens; a ``rare`` share come from a 5,000-token tail, so two
    unrelated texts share few word pairs."""
    marker = MARKER[lang]
    out = []
    for _ in range(n):
        w = f"t{rng.randrange(5000)}" if rare and rng.random() < rare else rng.choice(VOCAB)
        out.append(marker if w == "the" else w)
    return out


def _page_row(url: str, ts, html: bytes, text: str, lang: str) -> dict:
    return {"url": url, "warc_ts": ts, "html": html, "text": text, "lang": lang}


def _write(rows: List[dict], path: str, schema) -> int:
    """Write ``rows`` as FILES parquet files under ``path``; returns bytes."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    size = 0
    for i in range(FILES):
        part = rows[i::FILES]
        table = pa.Table.from_pylist(part, schema=schema)
        f = os.path.join(path, f"part-{i:05d}.parquet")
        pq.write_table(table, f, compression="zstd")
        size += os.path.getsize(f)
    return size


def _pages_schema():
    import pyarrow as pa

    return pa.schema(
        [
            ("url", pa.string()),
            ("warc_ts", pa.timestamp("us", tz="UTC")),
            ("html", pa.binary()),
            ("text", pa.string()),
            ("lang", pa.string()),
        ]
    )


def _block_edges(body: str) -> List[Tuple[str, str]]:
    doc = json.loads(body)
    same = doc.get("sameAs")
    if same is None:
        return []
    same = same if isinstance(same, list) else [same]
    return [(doc["id"], s) for s in same]


def largest_component(edges: List[Tuple[str, str]]) -> int:
    from collections import Counter

    labels = union_find(edges)
    return max(Counter(labels.values()).values()) if labels else 0


def union_find(edges: List[Tuple[str, str]]) -> Dict[str, str]:
    """node -> lexicographically smallest node of its component."""
    parent: Dict[str, str] = {}

    def find(x: str) -> str:
        parent.setdefault(x, x)
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {n: find(n) for n in list(parent)}


def kg_mix(out_dir: str, seed: int, n_docs: int = FULL_BUILD_DOCS) -> Inputs:
    """``full_build``: schema.org-mix pages from ``pipeline/synth.py``.

    0-3 blocks per page over every synth block kind (kind 4 is truncated
    JSON), an older re-crawl for doc ids divisible by 7, and the handful of
    entity sameAs blocks synth plants."""
    rng = rng_for("full_build", seed)
    ids = rng.sample(range(1, 10**9), n_docs)
    rows: List[dict] = []
    inp = Inputs(pages_path=os.path.join(out_dir, "pages"))
    n_blocks = 0
    edges = set()
    for doc_id in ids:
        lang = rng.choice(LANGS)
        text = " ".join(words(rng, rng.randint(20, 90), lang))
        source = f"src{doc_id % 5}"
        page_rows = list(synth.synthesize_rows(doc_id, text, lang, source))
        rows.extend(page_rows)
        blocks = synth.blocks_for_doc(doc_id, text, lang)  # latest crawl's blocks
        n_blocks += len(blocks)
        inp.latest_urls.append(page_rows[0]["url"])
        for body, malformed in blocks:
            if malformed:
                inp.planted_malformed += 1
            else:
                edges.update(_block_edges(body))
    inp.sameas_edges = sorted(edges)
    inp.n_pages = len(rows)
    in_bytes = _write(rows, inp.pages_path, _pages_schema())
    inp.stats = {
        "pages": len(rows),
        "latest_pages": n_docs,
        "blocks_per_page": n_blocks / n_docs,
        "planted_malformed": inp.planted_malformed,
        "recrawl_share": (len(rows) - n_docs) / n_docs,
        "sameas_edges": len(edges),
        "largest_component": largest_component(inp.sameas_edges),
        "near_dup_share": 0.0,
        "input_bytes": in_bytes,
    }
    return inp


def _entity_iri(k: int) -> str:
    return f"http://kg.example/dense/{k}"


def _entity_block(k: int, seed: int, link: int) -> Tuple[str, List[Tuple[str, str]]]:
    """A small ``Thing`` block for entity ``k``: fixed per (entity, seed), so
    a hub entity drawn many times repeats byte-identical blocks."""
    h = int(hashlib.blake2b(f"{seed}:{k}".encode(), digest_size=8).hexdigest(), 16)
    n_alt = 2 + h % 2
    same = [f"http://alt{j}.example/e/{k}" for j in range(n_alt)]
    if link:
        same[-1] = _entity_iri(link)  # cross-entity link: merges components
    doc = {
        "@context": "https://ctx.example/v1",
        "id": _entity_iri(k),
        "type": "Thing",
        "sameAs": same,
        "author": {"name": f"{VOCAB[h % 30].title()} {VOCAB[(h >> 5) % 30].title()}"},
    }
    return json.dumps(doc, sort_keys=True), [(_entity_iri(k), s) for s in same]


def _draw_entity(rng: random.Random) -> int:
    """Zipf-skewed entity id: a fifth of draws hit a log-uniform head of
    ~1,000 hub entities, the rest land uniformly in a large id space."""
    if rng.random() < 0.2:
        return int(1000 ** rng.random())
    return rng.randrange(1000, SAMEAS_ENTITY_SPACE)


def sameas_dense(out_dir: str, seed: int, target_edges: int = SAMEAS_TARGET_EDGES) -> Inputs:
    """``sameas_dense``: pages of small entity blocks, generated until the
    distinct sameAs edge set reaches ``target_edges``."""
    rng = rng_for("sameas_dense", seed)
    link_of: Dict[int, int] = {}
    edges = set()
    rows: List[dict] = []
    inp = Inputs(pages_path=os.path.join(out_dir, "pages"))
    n_blocks = 0
    page = 0
    while len(edges) < target_edges:
        page += 1
        bodies = []
        for _ in range(SAMEAS_BLOCKS_PER_PAGE):
            k = _draw_entity(rng)
            if k not in link_of:
                # one entity in ten links to another (often a hub) entity
                link_of[k] = _draw_entity(rng) if rng.random() < 0.1 else 0
                if link_of[k] == k:
                    link_of[k] = 0
            body, block_edges = _entity_block(k, seed, link_of[k])
            bodies.append((body, False))
            edges.update(block_edges)
            n_blocks += 1
        lang = rng.choice(LANGS)
        text = " ".join(words(rng, rng.randint(8, 24), lang))
        url = f"https://dense.example/p/{seed}/{page}"
        ts = synth.CRAWL_EPOCH + timedelta(seconds=page)
        rows.append(_page_row(url, ts, synth.render_html(page, text, lang, bodies), text, lang))
        inp.latest_urls.append(url)
    inp.sameas_edges = sorted(edges)
    inp.n_pages = len(rows)
    in_bytes = _write(rows, inp.pages_path, _pages_schema())
    inp.stats = {
        "pages": len(rows),
        "latest_pages": len(rows),
        "blocks_per_page": n_blocks / len(rows),
        "planted_malformed": 0,
        "recrawl_share": 0.0,
        "sameas_edges": len(edges),
        "largest_component": largest_component(inp.sameas_edges),
        "near_dup_share": 0.0,
        "input_bytes": in_bytes,
    }
    return inp


def _edit(rng: random.Random, tokens: List[str], lang: str) -> List[str]:
    """A light edit: about one token in 25 replaced, inserted or deleted."""
    out = list(tokens)
    for _ in range(max(1, len(out) // 25)):
        i = rng.randrange(len(out))
        op = rng.random()
        if op < 0.4:
            out[i] = words(rng, 1, lang, RARE)[0]
        elif op < 0.7:
            out.insert(i, words(rng, 1, lang, RARE)[0])
        elif len(out) > 2:
            del out[i]
    return out


def near_dup(out_dir: str, seed: int, n_docs: int = NEAR_DUP_DOCS,
             dup_share: float = NEAR_DUP_SHARE) -> Inputs:
    """``near_dup_filter``: ``(doc_id, lang, text)`` rows where ``dup_share``
    of the docs are light edits of an earlier doc, plus one crawl page per
    doc carrying a single small Article block."""
    import pyarrow as pa

    rng = rng_for("near_dup_filter", seed)
    docs: List[dict] = []
    originals: List[dict] = []
    planted = 0
    for doc_id in range(1, n_docs + 1):
        # near-duplicates copy originals only: clusters stay stars, never
        # long edit chains (the oracle's recursive reachability walks paths)
        if originals and rng.random() < dup_share:
            src = rng.choice(originals)
            lang = src["lang"]
            tokens = _edit(rng, src["text"].split(), lang)
            planted += 1
        else:
            lang = rng.choice(LANGS)
            tokens = words(rng, rng.randint(30, 120), lang, RARE)
            originals.append({"lang": lang, "text": " ".join(tokens)})
        docs.append({"doc_id": doc_id, "lang": lang, "text": " ".join(tokens)})
    prefix = f"https://nd.example/{seed}/"
    pages = []
    for d in docs:
        block = json.dumps(
            {
                "@context": "https://ctx.example/v1",
                "id": f"article/{d['doc_id']}",
                "type": "Article",
                "headline": " ".join(d["text"].split()[:4]),
                "wordCount": len(d["text"].split()),
            },
            sort_keys=True,
        )
        url = prefix + str(d["doc_id"])
        ts = synth.CRAWL_EPOCH + timedelta(seconds=d["doc_id"])
        html = synth.render_html(d["doc_id"], d["text"], d["lang"], [(block, False)])
        pages.append(_page_row(url, ts, html, d["text"], d["lang"]))
    inp = Inputs(
        pages_path=os.path.join(out_dir, "pages"),
        docs_path=os.path.join(out_dir, "docs"),
        n_pages=len(pages),
        n_docs=len(docs),
        latest_urls=[p["url"] for p in pages],
        url_prefix=prefix,
        docs=docs,
    )
    docs_schema = pa.schema([("doc_id", pa.int64()), ("lang", pa.string()), ("text", pa.string())])
    in_bytes = _write(docs, inp.docs_path, docs_schema) + _write(pages, inp.pages_path, _pages_schema())
    inp.stats = {
        "pages": len(pages),
        "latest_pages": len(pages),
        "blocks_per_page": 1.0,
        "planted_malformed": 0,
        "recrawl_share": 0.0,
        "sameas_edges": 0,
        "largest_component": 0,
        "near_dup_share": planted / len(docs),
        "input_bytes": in_bytes,
    }
    return inp


GENERATORS = {"full_build": kg_mix, "sameas_dense": sameas_dense, "near_dup_filter": near_dup}


def generate(workload: str, out_dir: str, seed: int) -> Inputs:
    return GENERATORS[workload](out_dir, seed)


def tree_digest(path: str) -> str:
    """sha256 over the relative names and bytes of every file under ``path``."""
    h = hashlib.sha256()
    for root, _, files in sorted(os.walk(path)):
        for name in sorted(files):
            f = os.path.join(root, name)
            h.update(os.path.relpath(f, path).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()
