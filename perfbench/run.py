"""Benchmark entry point.

    python3 perfbench/run.py --workload sar_session --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. Builds nothing: it imports the engine
from the checkout, generates its inputs from ``--seed`` under a per-run
directory inside the checkout (removed at exit), runs one workload,
checks its outputs and prints, as the last stdout line, one JSON object
``{"correct", "attempted", "failed", "metrics"}``. The line before it is
a JSON record describing the run (host, versions, seed, input sizes,
per-kind latencies, errors).

``--trace 0`` reports the end-to-end metrics (tracing off).
``--trace 1`` runs the same workload with spans and counters around
every layer call, reports the per-layer metrics and writes every span
as one JSON line to stderr at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("sar_session", "curation_batch")

E2E = (("setup_s", "s"), ("read_geomean_s", "s"), ("ops_per_s", "1/s"))
WRITES = ("upload",)  # op kinds that write; every other kind reads

API_FNS = ("api.file_info", "api.header_details", "api.get_table",
           "api.statistics", "api.analyze_section", "api.compare_files",
           "store.list_files")
LAYERS = ("op", "store", "sources", "api", "catalog", "queries")


def per_layer_names(keys) -> list[tuple[str, str]]:
    out = [("session.start_s", "s"), ("catalog.load_table_s", "s"),
           ("sources.python_cpu_s", "s"), ("store.upload_s", "s"),
           ("store.upload.jobs", "count"), ("store.upload.tasks", "count"),
           ("store.files_written", "count"), ("store.bytes_written", "bytes"),
           ("store.stored_bytes_per_raw_byte", "ratio"), ("store.load_s", "s")]
    for fn in API_FNS:
        out += [(f"{fn}.build_s", "s"), (f"{fn}.exec_s", "s"),
                (f"{fn}.jobs", "count"), (f"{fn}.py4j_calls", "count")]
    out += [(f"catalyst.{p}_s", "s") for p in ("analysis", "optimization", "planning")]
    out += [("queries.build_s", "s"), ("queries.build_jobs", "count"),
            ("queries.py4j_calls", "count"), ("queries.exec_s", "s")]
    for k in keys:
        out += [(f"queries.{k}.build_s", "s"), (f"queries.{k}.build_jobs", "count"),
                (f"queries.{k}.py4j_calls", "count")]
    out += [("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
            ("exec.run_s", "s"), ("exec.cpu_s", "s"), ("exec.python_cpu_s", "s"),
            ("exec.shuffle_read_bytes", "bytes"), ("exec.shuffle_write_bytes", "bytes"),
            ("exec.spill_bytes", "bytes"), ("exec.peak_mem_bytes", "bytes"),
            ("cache.bytes_held", "bytes"), ("mem.peak_rss_mb", "MB")]
    out += [(f"self.{layer}_s", "s") for layer in LAYERS]
    out += [("trace.bookkeeping_s", "s"), ("trace.overhead_frac", "frac"),
            ("trace.spans", "count"), ("trace.read_geomean_s", "s"),
            ("trace.ops_per_s", "1/s")]
    return out


def tail(values: list[float]) -> tuple[float | None, float | None]:
    """(percentile, value) of the highest percentile with at least ten
    samples beyond it; (None, None) below eleven samples."""
    n = len(values)
    if n < 11:
        return None, None
    return round(100.0 * (n - 10) / n, 1), sorted(values)[n - 11]


def _env(run_dir: str) -> None:
    """Keep every file the engine, the JVM and the Python workers write
    inside the run directory, and let the workers import the engine."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(run_dir, "warehouse")
    opts = os.environ.get("JAVA_TOOL_OPTIONS", "")
    os.environ["JAVA_TOOL_OPTIONS"] = f"{opts} -Djava.io.tmpdir={tmp}".strip()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


def _stop(spark) -> None:
    """Stop Spark, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)


def _patch(module, attr: str, tracer, span: str):
    orig = getattr(module, attr)

    def traced(*args, **kwargs):
        with tracer.span(span):
            return orig(*args, **kwargs)

    setattr(module, attr, traced)
    return lambda: setattr(module, attr, orig)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def read_geomean(lat) -> float:
    """Geometric mean latency of the read ops: every read feeds into it
    with the same weight, whatever its size."""
    return statistics.geometric_mean([d for k, d in lat if k not in WRITES])


def layer_metrics(tr, keys, session_s: float, lat, wall: float,
                  store_stats: dict, peak_rss_mb: float) -> dict:
    timed = [s for s in tr.spans if s.op is not None]

    def named(name):
        return [s for s in timed if s.name == name]

    def mean(xs):
        return sum(xs) / len(xs) if xs else 0.0

    m = {"session.start_s": session_s,
         "catalog.load_table_s": sum(s.dur for s in named("catalog.load_table"))}
    ups = named("store.upload")
    m["sources.python_cpu_s"] = sum(s.python_cpu_s for s in ups)
    m["store.upload_s"] = _median([s.dur for s in ups])
    m["store.upload.jobs"] = mean([s.exec["jobs"] for s in ups])
    m["store.upload.tasks"] = mean([s.exec["tasks"] for s in ups])
    m.update(store_stats)
    m["store.load_s"] = _median([s.dur for s in named("store.load")])
    for fn in API_FNS:
        b, e = named(f"{fn}.build"), named(f"{fn}.exec")
        m[f"{fn}.build_s"] = _median([s.dur for s in b])
        m[f"{fn}.exec_s"] = _median([s.dur for s in e])
        calls = max(len(b), 1)
        m[f"{fn}.jobs"] = sum(s.exec["jobs"] for s in b + e) / calls
        m[f"{fn}.py4j_calls"] = sum(s.py4j for s in b + e) / calls
    execs = [s for s in timed if s.catalyst]
    for p in ("analysis", "optimization", "planning"):
        m[f"catalyst.{p}_s"] = sum(s.catalyst[p] for s in execs)
    qb, qe = named("queries.build"), named("queries.exec")
    m["queries.build_s"] = sum(s.dur for s in qb)
    m["queries.build_jobs"] = sum(s.exec["jobs"] for s in qb)
    m["queries.py4j_calls"] = sum(s.py4j for s in qb)
    m["queries.exec_s"] = sum(s.dur for s in qe)
    by_id = {s.id: s for s in tr.spans}
    for k in keys:
        mine = [s for s in qb if by_id[s.parent].name == f"op.{k}"]
        m[f"queries.{k}.build_s"] = sum(s.dur for s in mine)
        m[f"queries.{k}.build_jobs"] = sum(s.exec["jobs"] for s in mine)
        m[f"queries.{k}.py4j_calls"] = sum(s.py4j for s in mine)
    roots = [s for s in timed if s.parent is None]
    for f in ("jobs", "stages", "tasks", "run_s", "cpu_s", "shuffle_read_bytes",
              "shuffle_write_bytes", "spill_bytes"):
        m[f"exec.{f}"] = sum(s.exec[f] for s in roots)
    m["exec.peak_mem_bytes"] = max([s.exec["peak_mem_bytes"] for s in roots] or [0])
    m["exec.python_cpu_s"] = sum(s.python_cpu_s for s in roots)
    m["cache.bytes_held"] = tr.cache_bytes_max
    m["mem.peak_rss_mb"] = peak_rss_mb
    self_t = {layer: 0.0 for layer in LAYERS}
    for s in timed:
        layer = s.name.split(".", 1)[0]
        self_t[layer] = self_t.get(layer, 0.0) + s.self_s
    for layer in LAYERS:
        m[f"self.{layer}_s"] = self_t[layer]
    m["trace.bookkeeping_s"] = sum(s.own_bk for s in timed)
    m["trace.overhead_frac"] = m["trace.bookkeeping_s"] / wall
    m["trace.spans"] = len(timed)
    m["trace.read_geomean_s"] = read_geomean(lat)
    m["trace.ops_per_s"] = len(lat) / wall
    return m


def run(workload: str, seed: int, seconds: float, trace: bool, run_dir: str) -> dict:
    t_setup = time.perf_counter()
    from sarfile_analyzer_ng_spark import queries as Q
    from sarfile_analyzer_ng_spark import store as store_mod
    from sarfile_analyzer_ng_spark.session import default_parallelism, get_spark
    from curation import KEYS
    from tracer import NullTracer, RssWatch, Tracer

    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{workload}")
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    restore = []
    try:
        tr = Tracer(spark) if trace else NullTracer()
        if trace:
            restore = [_patch(store_mod, "read_sar", tr, "sources.read_sar"),
                       _patch(store_mod, "read_sadf_json", tr, "sources.read_sadf_json"),
                       _patch(Q, "load_table", tr, "catalog.load_table")]
        rss = RssWatch(spark)
        t_gen = time.perf_counter()
        if workload == "sar_session":
            from sar_session import SarSession
            from sarfile_analyzer_ng_spark.store import SarStore

            w = SarSession(SarStore(spark, os.path.join(run_dir, "store")), tr, seed)
        else:
            from curation import CurationBatch

            w = CurationBatch(spark, tr, seed, run_dir)
        parts = {"session_s": session_s, "construct_s": time.perf_counter() - t_gen}
        parts.update(w.setup())
        rss.sample()
        setup_s = time.perf_counter() - t_setup
        t_loop = time.perf_counter()
        lat = w.timed(seconds, rss.sample)
        wall = time.perf_counter() - t_loop
        info = {"setup_parts": parts, **w.finish()}
        durations = [d for _, d in lat]
        pct, tail_v = tail(durations)
        kinds = sorted({k for k, _ in lat})
        info.update(
            workload=workload, seed=seed, seconds=seconds, trace=trace,
            nproc=os.cpu_count(), spark_graft_cpus=os.environ.get("SPARK_GRAFT_CPUS"),
            parallelism=default_parallelism(),
            versions=_versions(), ops=len(lat), timed_wall_s=wall,
            tail_percentile=pct, tail_s=tail_v, tail_samples=len(durations),
            op_max_s=max(durations), peak_rss_mb=rss.peak_mb(),
            failed_frac=w.failed / max(w.attempted, 1),
            p50_by_kind={k: _median([d for kk, d in lat if kk == k]) for k in kinds},
            errors=w.errors[:10],
        )
        if trace:
            vals = layer_metrics(tr, KEYS, session_s, lat, wall, w.store_stats(),
                                 info["peak_rss_mb"])
            metrics = {n: {"value": vals[n], "unit": u} for n, u in per_layer_names(KEYS)}
            info["jobs_spanned"], info["jobs_in_store"] = tr.job_coverage()
            info["spans"] = tr.dump()
            tr.close()
        else:
            vals = {"setup_s": setup_s, "read_geomean_s": read_geomean(lat),
                    "ops_per_s": len(lat) / wall}
            metrics = {n: {"value": vals[n], "unit": u} for n, u in E2E}
        return {"info": info, "result": {
            "correct": w.failed == 0, "attempted": w.attempted, "failed": w.failed,
            "metrics": metrics}}
    finally:
        for undo in restore:
            undo()
        _stop(spark)


def _versions() -> dict:
    import pandas
    import pyarrow
    import pyspark

    return {"spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "pandas": pandas.__version__, "python": sys.version.split()[0]}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "sarfile_analyzer_ng_spark", "__init__.py")):
        print(f"perfbench: no engine package under {ROOT}; run from a checkout",
              file=sys.stderr)
        return 2
    for p in (ROOT, os.path.join(ROOT, "tools"), HERE):
        if p not in sys.path:
            sys.path.insert(0, p)
    run_dir = os.path.join(ROOT, ".perfbench_run", f"{os.getpid()}")
    os.makedirs(run_dir)
    try:
        _env(run_dir)
        out = run(args.workload, args.seed, args.seconds, bool(args.trace), run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass
    spans = out["info"].pop("spans", None)
    if spans is not None:
        # on a line of its own: Spark's progress bar leaves no newline
        print("\n" + json.dumps({"spans": spans}), file=sys.stderr)
    print(json.dumps(out["info"], default=str))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
