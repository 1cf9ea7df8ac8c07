"""The timed compositions: pages in, materialized tables out.

Each stage writes its own table and the next stage reads that table back,
so every span ends at an action and Spark's lazy plans cannot move one
layer's work into the next span. The untraced and the traced run call the
same functions; only the tracer differs.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field
from typing import Dict

from pyspark.sql import functions as F

from jsonld_rs_spark.ops.corpus import corpus_filter
from jsonld_rs_spark.pipeline.assemble import assemble_documents, compact_documents
from jsonld_rs_spark.pipeline.components import canonicalize_subjects, connected_components
from jsonld_rs_spark.pipeline.linking import detect_mentions, dictionary_df, sameas_edges, score_links
from jsonld_rs_spark.pipeline.materialize import extract_and_materialize, read_triples, write_triples
from jsonld_rs_spark.pipeline.sources import read_pages
from jsonld_rs_spark.pipeline.synth import latest_pages
from jsonld_rs_spark.pipeline.triples import dedup_triples

# Every top-level span a run can record. The pass spans' walls sum to the
# pass wall up to the tracer's own bookkeeping (trace.unattributed_s);
# materialize.lookup runs after the pass.
ALL_SPANS = ("sources.latest", "materialize.extract", "triples.dedup", "linking",
             "components.cc", "components.canonicalize", "assemble",
             "ops.corpus_filter", "materialize.lookup")


@dataclass
class PassResult:
    wall_s: float
    out_dir: str
    final_dir: str  # the dir whose ``triples`` table the pass delivers
    cc_stats: Dict[str, int] = field(default_factory=dict)


def tables(out_dir: str) -> Dict[str, str]:
    names = ("latest", "kg", "dedup", "links", "components", "canonical",
             "assembled", "compacted", "kept")
    return {n: os.path.join(out_dir, n) for n in names}


def kg_build(spark, inp, out_dir: str, tracer) -> PassResult:
    """The pipeline's stage order: latest crawl -> extract + materialize ->
    triple dedup -> linking -> sameAs components -> canonical rewrite ->
    assembly."""
    t = tables(out_dir)
    cc_stats: Dict[str, int] = {}
    t0 = time.perf_counter()
    with tracer.span("sources.latest"):
        latest_pages(read_pages(spark, inp.pages_path)).write.parquet(t["latest"])
    with tracer.span("materialize.extract"):
        extract_and_materialize(read_pages(spark, t["latest"]), t["kg"])
    with tracer.span("triples.dedup"):
        write_triples(dedup_triples(read_triples(spark, t["kg"])),
                      os.path.join(t["dedup"], "triples"))
    with tracer.span("linking"):
        mentions = detect_mentions(read_pages(spark, t["latest"]))
        score_links(mentions, dictionary_df(spark)).write.parquet(t["links"])
    with tracer.span("components.cc"):
        edges = sameas_edges(read_triples(spark, t["dedup"]))
        connected_components(edges, stats=cc_stats).write.parquet(t["components"])
    with tracer.span("components.canonicalize"):
        canonical = canonicalize_subjects(read_triples(spark, t["dedup"]),
                                          spark.read.parquet(t["components"]))
        write_triples(canonical, os.path.join(t["canonical"], "triples"))
    with tracer.span("assemble"):
        assemble_documents(read_triples(spark, t["canonical"])).write.parquet(t["assembled"])
        compact_documents(spark.read.parquet(t["assembled"])).write.parquet(t["compacted"])
    wall = time.perf_counter() - t0
    return PassResult(wall, out_dir, t["canonical"], cc_stats)


def filtered_build(spark, inp, out_dir: str, tracer) -> PassResult:
    """corpus_filter over the docs, then extract + materialize the pages of
    the kept docs only (near-duplicate pages never reach extraction)."""
    t = tables(out_dir)
    t0 = time.perf_counter()
    with tracer.span("ops.corpus_filter"):
        corpus_filter(spark.read.parquet(inp.docs_path)).write.parquet(t["kept"])
    with tracer.span("materialize.extract"):
        kept = spark.read.parquet(t["kept"]).select(
            F.concat(F.lit(inp.url_prefix), F.col("doc_id").cast("string")).alias("url")
        )
        pages = read_pages(spark, inp.pages_path).join(kept, "url", "left_semi")
        extract_and_materialize(pages, t["kg"])
    wall = time.perf_counter() - t0
    return PassResult(wall, out_dir, t["kg"])


COMPOSITIONS = {"full_build": kg_build, "sameas_dense": kg_build,
                "near_dup_filter": filtered_build}


def lookup(spark, triples_dir: str, subj: str, bucket: int) -> int:
    """One subject lookup on a bucketed triples table, as a downstream reader
    issues it: the bucket predicate prunes to one partition directory."""
    rows = (
        spark.read.parquet(os.path.join(triples_dir, "triples"))
        .where((F.col("bucket") == bucket) & (F.col("subj") == subj))
        .collect()
    )
    return len(rows)
