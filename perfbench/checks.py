"""Correctness checks on a pass's output tables.

Each check compares the pipeline's output with something the library did
not produce: the generator's own ground truth, a union-find over the edges
the generator wrote, DuckDB running the repository's oracle SQL, or a
digest stored next to the benchmark. A failed check fails the run.
"""

from __future__ import annotations

import json
import os
import random
from collections import Counter
from typing import Dict, List

from pyspark.sql import functions as F

from jsonld_rs_spark.pipeline.context_store import BUILTIN_CONTEXTS
from jsonld_rs_spark.pipeline.materialize import read_triples
from jsonld_rs_spark.pipeline.triples import TRIPLE_COLUMNS, doc_to_quad_rows

from . import gen

DIGESTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "digests.json")
SAMPLE_PAGES = 40


def table_digest(df) -> str:
    """Order-independent digest of a triple table: row count plus the
    decimal sum of per-row xxhash64 (a multiset hash)."""
    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(F.xxhash64(*TRIPLE_COLUMNS).cast("decimal(38,0)")), F.lit(0)).alias("h"),
    ).collect()[0]
    return f"{row['n']}:{row['h']}"


def sample_urls(urls: List[str], seed: int, n: int = SAMPLE_PAGES) -> List[str]:
    return sorted(random.Random(f"sample:{seed}").sample(urls, min(n, len(urls))))


def latest_html(inp, urls: List[str]) -> Dict[str, bytes]:
    """The latest crawl's html of ``urls``, read back from the generated files."""
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    table = ds.dataset(inp.pages_path).to_table(
        columns=["url", "warc_ts", "html"], filter=pc.field("url").isin(urls)
    ).to_pylist()
    best: Dict[str, dict] = {}
    for r in table:
        if r["url"] not in best or r["warc_ts"] > best[r["url"]]["warc_ts"]:
            best[r["url"]] = r
    return {u: r["html"] for u, r in best.items()}


class Checks:
    """Collects named pass/fail results and the digests it computed."""

    def __init__(self):
        self.results: Dict[str, bool] = {}
        self.notes: Dict[str, str] = {}
        self.digests: Dict[str, str] = {}

    def record(self, name: str, ok: bool, note: str = "") -> None:
        self.results[name] = bool(ok)
        if note:
            self.notes[name] = note

    @property
    def ok(self) -> bool:
        return bool(self.results) and all(self.results.values())


def extraction_counters(spark, kg_dir: str, inp, expected_docs: int, chk: Checks) -> Dict[str, int]:
    m = spark.read.parquet(os.path.join(kg_dir, "metrics")).agg(
        *[F.sum(c).alias(c) for c in ("docs", "blocks", "triples", "err_json", "err_jsonld",
                                      "err_canon", "wall_ms")],
        F.count(F.lit(1)).alias("batches"),
    ).collect()[0].asDict()
    m = {k: int(v or 0) for k, v in m.items()}
    chk.record("err_jsonld_zero", m["err_jsonld"] == 0, str(m["err_jsonld"]))
    chk.record("err_canon_zero", m["err_canon"] == 0, str(m["err_canon"]))
    chk.record("err_json_planted", m["err_json"] == inp.planted_malformed,
               f"{m['err_json']} vs planted {inp.planted_malformed}")
    chk.record("docs_extracted", m["docs"] == expected_docs, f"{m['docs']} vs {expected_docs}")
    return m


def page_sample(spark, kg_dir: str, inp, seed: int, chk: Checks, urls: List[str] = None) -> None:
    """Raw triples of a seeded page sample equal ``doc_to_quad_rows`` run
    here on the generated html, as multisets."""
    urls = urls if urls is not None else sample_urls(inp.latest_urls, seed)
    html = latest_html(inp, urls)
    want = Counter()
    for u in urls:
        want.update(doc_to_quad_rows(u, html[u], BUILTIN_CONTEXTS))
    got = Counter(
        tuple(r) for r in read_triples(spark, kg_dir).where(F.col("url").isin(urls)).collect()
    )
    chk.record("page_sample", got == want, f"{sum(got.values())} vs {sum(want.values())} rows")


def components(spark, comp_dir: str, inp, chk: Checks) -> None:
    """Component labels equal a union-find over the generator's edges."""
    got = {r["node"]: r["component"] for r in spark.read.parquet(comp_dir).collect()}
    want = gen.union_find(inp.sameas_edges)
    chk.record("component_labels", got == want, f"{len(got)} nodes vs {len(want)}")


def kept_set(spark, kept_dir: str, inp, chk: Checks) -> List[int]:
    """The kept doc ids equal DuckDB running the repository's oracle SQL
    for ``corpus_filter`` over the same generated docs."""
    import duckdb
    import pyarrow as pa

    import __spark_entry__

    got = sorted(r["doc_id"] for r in spark.read.parquet(kept_dir).select("doc_id").collect())
    con = duckdb.connect()
    try:
        con.register("documents", pa.Table.from_pylist(inp.docs))
        sql = __spark_entry__.oracle_sql()["corpus_filter_docs"]
        want = sorted(r[0] for r in con.execute(sql).fetchall())
    finally:
        con.close()
    chk.record("kept_set_oracle", got == want, f"{len(got)} kept vs {len(want)}")
    return got


def stored_digests(workload: str, seed: int) -> Dict[str, str]:
    try:
        with open(DIGESTS) as fh:
            return json.load(fh).get(workload, {}).get(str(seed), {})
    except FileNotFoundError:
        return {}


def compare_digests(workload: str, seed: int, chk: Checks) -> None:
    """Digests stored for this (workload, seed) must match; seeds without
    stored digests rely on the other checks alone."""
    stored = stored_digests(workload, seed)
    for name, value in stored.items():
        chk.record(f"digest_{name}", chk.digests.get(name) == value,
                   f"{chk.digests.get(name)} vs stored {value}")

