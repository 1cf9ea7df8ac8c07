"""Per-layer metrics of the traced run.

Generic Spark metrics come from the tracer's spans; the layer-specific
counts are read from the tables the traced pass wrote, after the pass, so
none of these reads lands inside a span.
"""

from __future__ import annotations

import json
import os
import random
from typing import Dict, List

from pyspark.sql import functions as F

from jsonld_rs_spark.extract import extract_jsonld_blocks
from jsonld_rs_spark.jsonldpy import errors as E
from jsonld_rs_spark.jsonldpy import iri as iri_mod
from jsonld_rs_spark.jsonldpy.context import Context
from jsonld_rs_spark.jsonldpy.expand import expand_core
from jsonld_rs_spark.jsonldpy.nodemap import DefaultNodeGenerator
from jsonld_rs_spark.jsonldpy.rdf import jsonld_to_rdf
from jsonld_rs_spark.jsonldpy.urdna2015 import canonicalize_dataset
from jsonld_rs_spark.ops.corpus import DEFAULT_QUALITY_FLOOR
from jsonld_rs_spark.ops.dedup import minhash_dup_pairs, ngram_jaccard_pairs
from jsonld_rs_spark.ops.text import lang_guess_col, quality_col
from jsonld_rs_spark.pipeline import components as components_mod
from jsonld_rs_spark.pipeline.context_store import BUILTIN_CONTEXTS, make_loader
from jsonld_rs_spark.pipeline.linking import detect_mentions, sameas_edges
from jsonld_rs_spark.pipeline.materialize import read_triples
from jsonld_rs_spark.pipeline.sources import read_pages
from jsonld_rs_spark.pipeline.triples import doc_to_quad_rows

from . import compose, gen, sysinfo

GENERIC = ("wall_s", "jobs", "tasks", "executor_run_s", "executor_cpu_s",
           "busy_frac", "shuffle_write_bytes", "spill_bytes")
JSONLD_PARTS = ("parse", "expand", "to_rdf", "urdna2015")
LOOKUPS = 20

# Layer-specific metric names, in report order. Every name is reported on
# every workload; a layer the workload does not run reads 0.
SPECIFIC = (
    [f"jsonldpy.{p}_us_per_block" for p in JSONLD_PARTS]
    + ["triples.emit_us_per_block", "jsonldpy.triples_per_block", "jsonldpy.blank_nodes_per_block",
       "triples.python_busy_frac", "triples.arrow_batches", "triples.dedup_ratio",
       "triples.err_json", "triples.err_jsonld", "triples.err_canon",
       "components.cc.rounds", "components.cc.signature_jobs", "components.cc.local_path",
       "components.cc.edges", "components.cc.max_component", "components.canonicalize.rewritten_frac",
       "linking.mentions", "linking.links", "linking.link_yield",
       "assemble.documents", "assemble.compact_errors",
       "materialize.bytes_written", "materialize.files_written", "materialize.write_amplification",
       "materialize.lookup_files_scanned", "materialize.lookup_bytes_scanned",
       "ops.candidate_pairs", "ops.verified_pairs", "ops.verify_yield", "ops.kept_frac",
       "host.steal_s", "trace.overhead_frac", "trace.unattributed_s"]
)


def metric_names() -> List[str]:
    return [f"{s}.{g}" for s in compose.ALL_SPANS for g in GENERIC] + list(SPECIFIC)


def span_metrics(tracer, cores: int) -> Dict[str, float]:
    """The eight generic metrics of every top-level span (summed by name)."""
    out = {f"{s}.{g}": 0.0 for s in compose.ALL_SPANS for g in GENERIC}
    for sp in tracer.top_level():
        if sp.name not in compose.ALL_SPANS:
            continue
        out[f"{sp.name}.wall_s"] += sp.wall
        for k in ("jobs", "tasks", "executor_run_s", "executor_cpu_s",
                  "shuffle_write_bytes", "spill_bytes"):
            out[f"{sp.name}.{k}"] += sp.spark.get(k, 0.0)
    for s in compose.ALL_SPANS:
        wall = out[f"{s}.wall_s"]
        out[f"{s}.busy_frac"] = out[f"{s}.executor_run_s"] / (wall * cores) if wall else 0.0
    return out


def _timed(tracer, name: str, fn, *args):
    with tracer.span(name, spark=False):
        return fn(*args)


def jsonldpy_sample(tracer, urls: List[str], html: Dict[str, bytes]) -> Dict[str, float]:
    """Single-threaded per-block timings of the extraction chain.

    Per page, ``triples.doc_to_quad_rows`` times the production call, and a
    sibling ``jsonldpy.chain`` span times the same page's parts one by one;
    emit time is the production call minus the parts."""
    loader = make_loader(BUILTIN_CONTEXTS)
    cache_a: Dict = {}
    cache_b: Dict = {}
    blocks = triples = blanks = 0
    for url in urls:
        page = html[url]
        rows = _timed(tracer, "triples.doc_to_quad_rows", doc_to_quad_rows,
                      url, page, BUILTIN_CONTEXTS, None, cache_a)
        triples += len(rows)
        blanks += len({t for r in rows for t in (r[2], r[5]) if t and t.startswith("_:")})
        with tracer.span("jsonldpy.chain", spark=False):
            with tracer.span("jsonldpy.parse", spark=False):
                bodies = extract_jsonld_blocks(page)
                docs = []
                for b in bodies:
                    try:
                        docs.append(json.loads(b))
                    except (ValueError, RecursionError):
                        pass
            blocks += len(bodies)
            for doc in docs:
                try:
                    ctx = Context(base_iri=iri_mod.parse_base(url))
                    expanded = _timed(tracer, "jsonldpy.expand", expand_core, ctx, doc, loader, cache_b)
                    ds = _timed(tracer, "jsonldpy.to_rdf", jsonld_to_rdf, expanded, DefaultNodeGenerator())
                    with tracer.span("jsonldpy.urdna2015", spark=False):
                        canonicalize_dataset(ds, sort=False)
                except (E.JsonLdError, ValueError, RecursionError):
                    continue
    total = {n: 0.0 for n in ("triples.doc_to_quad_rows",) + tuple(f"jsonldpy.{p}" for p in JSONLD_PARTS)}
    for sp in tracer.spans:
        if sp.name in total:
            total[sp.name] += sp.wall
    per = max(blocks, 1)
    out = {f"jsonldpy.{p}_us_per_block": total[f"jsonldpy.{p}"] * 1e6 / per for p in JSONLD_PARTS}
    parts = sum(total[f"jsonldpy.{p}"] for p in JSONLD_PARTS)
    out["triples.emit_us_per_block"] = (total["triples.doc_to_quad_rows"] - parts) * 1e6 / per
    out["jsonldpy.triples_per_block"] = triples / per
    out["jsonldpy.blank_nodes_per_block"] = blanks / per
    return out


def table_rows(path: str) -> int:
    """Row count of a parquet table from its footers (no Spark job)."""
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet", partitioning="hive").count_rows()


def table_metrics(spark, workload: str, res, counters: Dict[str, int], span_out: Dict[str, float],
                  inp) -> Dict[str, float]:
    t = compose.tables(res.out_dir)
    out: Dict[str, float] = {}
    raw = table_rows(os.path.join(t["kg"], "triples"))
    out["triples.err_json"] = counters["err_json"]
    out["triples.err_jsonld"] = counters["err_jsonld"]
    out["triples.err_canon"] = counters["err_canon"]
    out["triples.arrow_batches"] = counters["batches"]
    run_s = span_out["materialize.extract.executor_run_s"]
    out["triples.python_busy_frac"] = counters["wall_ms"] / 1e3 / run_s if run_s else 0.0
    final_bytes = sysinfo.tree_bytes(os.path.join(res.final_dir, "triples"))
    out["materialize.bytes_written"] = sysinfo.tree_bytes(res.out_dir)
    out["materialize.files_written"] = sysinfo.tree_files(res.out_dir)
    out["materialize.write_amplification"] = out["materialize.bytes_written"] / max(final_bytes, 1)
    if workload == "near_dup_filter":
        stats = dict(getattr(components_mod, "LAST_STATS", {}))
        kept = table_rows(t["kept"])
        out["ops.kept_frac"] = kept / inp.n_docs
        passing = spark.read.parquet(inp.docs_path).where(
            (lang_guess_col() == F.col("lang")) & (quality_col() >= DEFAULT_QUALITY_FLOOR)
        )
        cand = minhash_dup_pairs(passing).count()
        pairs = [(r["doc_a"], r["doc_b"]) for r in ngram_jaccard_pairs(passing).collect()]
        ver = len(pairs)
        out.update({"ops.candidate_pairs": cand, "ops.verified_pairs": ver,
                    "ops.verify_yield": ver / cand if cand else 0.0,
                    # the document graph corpus_filter clusters
                    "components.cc.edges": ver,
                    "components.cc.max_component": gen.largest_component(pairs)})
    else:
        stats = res.cc_stats
        dedup = table_rows(os.path.join(t["dedup"], "triples"))
        out["triples.dedup_ratio"] = dedup / raw if raw else 0.0
        comp = spark.read.parquet(t["components"])
        moved = comp.where(F.col("node") != F.col("component")).select("node")
        dd = read_triples(spark, t["dedup"])
        # dedup rows are unique, so a union of the three semi-joins counts
        # each rewritten row once after distinct
        rewritten = (
            dd.join(moved.withColumnRenamed("node", "subj"), "subj", "left_semi")
            .unionByName(dd.join(moved.withColumnRenamed("node", "graph"), "graph", "left_semi"))
            .unionByName(dd.where(F.col("obj_kind") == "id").join(
                moved.withColumnRenamed("node", "obj_value"), "obj_value", "left_semi"))
            .distinct().count()
        )
        out["components.canonicalize.rewritten_frac"] = rewritten / dedup if dedup else 0.0
        sizes = comp.groupBy("component").count().agg(F.max("count")).collect()[0][0]
        out["components.cc.max_component"] = sizes or 0
        out["components.cc.edges"] = sameas_edges(dd).where(F.col("src") != F.col("dst")).count()
        mentions = detect_mentions(read_pages(spark, t["latest"])).count()
        links = table_rows(t["links"])
        out.update({"linking.mentions": mentions, "linking.links": links,
                    "linking.link_yield": links / mentions if mentions else 0.0})
        out["assemble.documents"] = table_rows(t["assembled"])
        out["assemble.compact_errors"] = spark.read.parquet(t["compacted"]).where(
            F.col("error").isNotNull()).count()
    out["components.cc.rounds"] = stats.get("rounds", 0)
    out["components.cc.signature_jobs"] = stats.get("jobs", 0)
    out["components.cc.local_path"] = 1 if "local_edges" in stats else 0
    return out


def lookups(spark, tracer, final_dir: str, seed: int):
    """LOOKUPS subject lookups on the delivered table (half hub subjects,
    half seeded tail subjects); returns (metrics, [(got, expected)])."""
    counts = (
        spark.read.parquet(os.path.join(final_dir, "triples"))
        .groupBy("subj", "bucket").count().collect()
    )
    counts.sort(key=lambda r: (-r["count"], r["subj"]))
    hubs = counts[: LOOKUPS // 2]
    tail = random.Random(f"lookup:{seed}").sample(counts[LOOKUPS // 2:], LOOKUPS - len(hubs))
    results = []
    with tracer.span("materialize.lookup") as sp:
        for r in hubs + tail:
            results.append((compose.lookup(spark, final_dir, r["subj"], r["bucket"]), r["count"]))
    files = sum(
        sysinfo.tree_files(os.path.join(final_dir, "triples", f"bucket={r['bucket']}"))
        for r in hubs + tail
    )
    n = len(results)
    return {
        "materialize.lookup_files_scanned": files / n,
        "materialize.lookup_bytes_scanned": sp.spark.get("input_bytes", 0.0) / n,
    }, results


def pass_attribution(tracer, pass_wall: float) -> float:
    """Pass wall minus the top-level span walls inside it."""
    spans = [s for s in tracer.top_level() if s.name in compose.ALL_SPANS
             and s.name != "materialize.lookup"]
    return pass_wall - sum(s.wall for s in spans)

