#!/usr/bin/env python3
"""Pages-in -> tables-out benchmark of the KG pipeline.

    python3 perfbench/run.py --workload full_build --seed 1 --seconds 10 --trace 0

Run from the repository root. The run generates its inputs from ``--seed``,
starts ``local[nproc]`` Spark, times exactly one pass of the workload's
composition in the fresh JVM, as a submitted job runs it, checks the
outputs, and prints one JSON object as the last stdout line. ``--seconds``
is accepted for the common benchmark interface; one pass takes longer than
it, and the run never repeats a pass, so warm passes cannot mix into the
measurement. ``--trace 1`` runs one traced pass instead and reports the
per-layer metrics. Everything the run writes lives under ``.perfbench/`` in
the current directory; the run's own work dir is removed before it exits.
"""

import time

T0 = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
import uuid  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("full_build", "near_dup_filter", "sameas_dense")
# Throughput per wall second is the paper's headline; only it credits a
# change that keeps more cores busy. Throughput per CPU second sits beside
# it and leaves out the time the job waited for a CPU the host gave away.
END_TO_END = {
    "setup_s": "s",
    "pages_per_s": "pages/s",
    "triples_per_s": "triples/s",
    "pages_per_cpu_s": "pages/cpu_s",
    "triples_per_cpu_s": "triples/cpu_s",
    "stored_bytes_per_triple": "bytes",
    "peak_rss_mb": "MiB",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="accepted for the common interface; a run times one pass")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def unit_of(name: str) -> str:
    if name in END_TO_END:
        return END_TO_END[name]
    for suffix, unit in (("_us_per_block", "us"), ("_s", "s"), ("_bytes", "bytes"),
                         ("bytes_scanned", "bytes"), ("bytes_written", "bytes"),
                         ("_frac", "ratio"), ("_ratio", "ratio"), ("_yield", "ratio"),
                         ("amplification", "ratio"), ("local_path", "bool")):
        if name.endswith(suffix):
            return unit
    return "count"


def prepare_env(work: str) -> None:
    """Environment the JVM and the Python workers inherit."""
    for key in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[key]  # components path and batch sizes by input alone
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp  # gettempdir() may have cached /tmp already
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # workers import the package by name; a run launched outside the repo
    # otherwise fails every task with ModuleNotFoundError
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p)


def driver_memory_mib() -> int:
    from perfbench import sysinfo

    return int(min(4096, max(1024, sysinfo.mem_total_mib() / 8)))


def start_spark(work: str):
    from jsonld_rs_spark.conf import session_builder

    cores = len(os.sched_getaffinity(0))
    spark = (
        session_builder(f"local[{cores}]", "perfbench")
        .config("spark.driver.memory", f"{driver_memory_mib()}m")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.environ["SPARK_LOCAL_DIRS"])
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        # default JIT, as conf.session_builder deploys it; only the JVM's
        # scratch files move into the run dir (the perf-data file is off,
        # it would land in /tmp)
        .config("spark.driver.extraJavaOptions",
                f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark and wait until the JVM and every Python worker exited."""
    from pyspark import SparkContext

    from perfbench import sysinfo

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.monotonic() + 30
        while sysinfo.descendants(os.getpid()) and time.monotonic() < deadline:
            time.sleep(0.1)
        for pid in sysinfo.descendants(os.getpid()):
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass


def job_cpu_seconds() -> float:
    """CPU used so far by this process, the JVM and the Python workers."""
    from perfbench import sysinfo

    t = os.times()
    return t.user + t.system + sysinfo.cpu_seconds(sysinfo.descendants(os.getpid()))


def check_outputs(spark, workload, inp, res, seed, chk):
    """Run every check on one pass's output; returns the extraction counters."""
    from perfbench import checks, gen
    from perfbench.compose import tables
    from jsonld_rs_spark.pipeline.materialize import read_triples

    t = tables(res.out_dir)
    chk.digests["input"] = gen.tree_digest(os.path.dirname(inp.pages_path))
    if workload == "near_dup_filter":
        kept = checks.kept_set(spark, t["kept"], inp, chk)
        chk.digests["kept"] = str(len(kept)) + ":" + str(sum(kept))
        urls = checks.sample_urls([inp.url_prefix + str(k) for k in kept], seed)
        counters = checks.extraction_counters(spark, t["kg"], inp, len(kept), chk)
        checks.page_sample(spark, t["kg"], inp, seed, chk, urls)
    else:
        counters = checks.extraction_counters(spark, t["kg"], inp, len(inp.latest_urls), chk)
        checks.page_sample(spark, t["kg"], inp, seed, chk)
        checks.components(spark, t["components"], inp, chk)
    chk.digests["raw_triples"] = checks.table_digest(read_triples(spark, t["kg"]))
    chk.digests["final_triples"] = checks.table_digest(read_triples(spark, res.final_dir))
    return counters


def traced_pass(spark, workload, inp, work, seed, chk):
    """One traced pass, its checks, and the layer measurements around it.
    Returns (pass result, per-layer metrics)."""
    from perfbench import checks, compose, layers, sysinfo
    from perfbench.trace import StatusStore, Tracer

    store = StatusStore(spark)
    tracer = Tracer(store, uuid.uuid4().hex[:12])
    steal0 = sysinfo.steal_seconds()
    res = compose.COMPOSITIONS[workload](spark, inp, os.path.join(work, "pass-0"), tracer)
    steal = sysinfo.steal_seconds() - steal0
    pass_own_s = tracer.own_s
    counters = check_outputs(spark, workload, inp, res, seed, chk)
    lookup_metrics, found = layers.lookups(spark, tracer, res.final_dir, seed)
    chk.record("lookups", all(g == w for g, w in found), f"{len(found)} lookups")
    per = layers.span_metrics(tracer, store.cores)
    per.update(lookup_metrics)
    per.update(layers.table_metrics(spark, workload, res, counters, per, inp))
    urls = checks.sample_urls(inp.latest_urls, seed)
    per.update(layers.jsonldpy_sample(tracer, urls, checks.latest_html(inp, urls)))
    per["host.steal_s"] = steal
    per["trace.overhead_frac"] = pass_own_s / (res.wall_s - pass_own_s)
    per["trace.unattributed_s"] = layers.pass_attribution(tracer, res.wall_s)
    os.makedirs(os.path.join(".perfbench", "traces"), exist_ok=True)
    tracer.dump(os.path.join(".perfbench", "traces", f"{workload}-seed{seed}.jsonl"))
    return res, {name: per.get(name, 0.0) for name in layers.metric_names()}


def run(args, work: str):
    """Returns (result dict, exercised dict)."""
    from perfbench import checks, compose, gen, layers, sysinfo
    from perfbench.trace import NullTracer

    phases = {}

    def phase(name):
        phases[name] = round(time.monotonic() - T0 - sum(phases.values()), 3)

    chk = checks.Checks()
    steal0 = sysinfo.steal_seconds()
    inp = gen.generate(args.workload, os.path.join(work, "input"), args.seed)
    phase("generate")
    spark = start_spark(work)
    phase("session")
    try:
        setup_s = time.monotonic() - T0
        if args.trace:
            res, metrics = traced_pass(spark, args.workload, inp, work, args.seed, chk)
            cpu = steal = None
            phase("traced")
        else:
            cpu0, steal_pass0 = job_cpu_seconds(), sysinfo.steal_seconds()
            res = compose.COMPOSITIONS[args.workload](
                spark, inp, os.path.join(work, "pass-0"), NullTracer())
            cpu = job_cpu_seconds() - cpu0
            steal = sysinfo.steal_seconds() - steal_pass0
            phase("timed")
            rss = sysinfo.peak_rss_mib(sysinfo.descendants(os.getpid()))
            check_outputs(spark, args.workload, inp, res, args.seed, chk)
            phase("checks")
            triples_dir = os.path.join(res.final_dir, "triples")
            final = layers.table_rows(triples_dir)
            metrics = {
                "setup_s": setup_s,
                "pages_per_s": inp.n_pages / res.wall_s,
                "triples_per_s": final / res.wall_s,
                "pages_per_cpu_s": inp.n_pages / cpu,
                "triples_per_cpu_s": final / cpu,
                "stored_bytes_per_triple": sysinfo.tree_bytes(triples_dir) / max(final, 1),
                "peak_rss_mb": rss,
            }
        checks.compare_digests(args.workload, args.seed, chk)
    finally:
        stop_spark(spark)
    phase("stop")
    # digests: copy a new seed's entry into digests.json by hand to pin it
    exercised = dict(inp.stats, pass_wall_s=res.wall_s, pass_cpu_s=cpu,
                     pass_steal_s=steal, phase_s=phases,
                     host_steal_s=sysinfo.steal_seconds() - steal0,
                     checks=chk.results, notes=chk.notes, digests=chk.digests)
    attempted = inp.n_pages
    result = {
        "correct": chk.ok,
        "attempted": attempted,
        "failed": 0 if chk.ok else attempted,
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
    }
    return result, exercised


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import jsonld_rs_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the pipeline ({exc}); run from the repository root",
              file=sys.stderr)
        return 2
    work = os.path.join(os.path.abspath(".perfbench"), f"run-{os.getpid()}-{uuid.uuid4().hex[:8]}")
    try:
        prepare_env(work)
        result, exercised = run(args, work)
    except Exception:
        traceback.print_exc()
        print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {}}))
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"exercised": exercised}))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
