"""Benchmark entry point.

    python3 perfbench/run.py --workload sparql_lookup --seed 1 --seconds 15 --trace 0

Runs one workload from the root of a source checkout and prints, as the
last line of standard output, one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``).  Diagnostics go to standard error.
Everything the run writes (generated tables, Spark scratch, traces) stays
under ``.bench_build/`` in the checkout.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

from batch import LAYER_UNITS  # noqa: E402
from measure import (  # noqa: E402
    NullTracer,
    Tracer,
    cached_mb,
    jvm_gc_s,
    jvm_pid,
    percentile,
    process_age_s,
    tail,
    vm_hwm_kb,
)

WORKLOADS = ("sparql_lookup", "sparql_analytic")
#: an op slower than this counts as failed even if it returns
OP_TIMEOUT_S = 60.0
#: untimed warm-up before measuring: the lookup clients warm for this many
#: seconds, the analytic client runs one round of every shape
WARM_S = 6.0
#: more warm-up rounds than a lookup client gets through in WARM_S
LOOKUP_WARM_ROUNDS = 4
#: fixed engine settings, so a run does not depend on the caller's shell
ENGINE_ENV = {
    "SPARK_GRAFT_CPUS": "4",
    "SPARK_GRAFT_SHUFFLE_PARTITIONS": "4",
    "SPARK_GRAFT_DRIVER_MEM": "1g",
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def prepare_env(tmp: str) -> None:
    """Point every scratch path of Python, Spark and the JVM into ``tmp``
    and make the checkout importable by Spark's Python workers."""
    os.environ.update(ENGINE_ENV)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"  # no /tmp/hsperfdata files
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts
    os.environ["PYSPARK_SUBMIT_ARGS"] = f'--driver-java-options "{java_opts}" pyspark-shell'


def ensure_data() -> str:
    """Generate the store tables once per checkout, in a child process so
    that its memory stays out of this process's high-water mark."""
    out = subprocess.run(
        [sys.executable, "-c", f"import sys; sys.path.insert(0, {HERE!r}); import datagen;"
         f" print(datagen.ensure_store_tables({os.path.join(WORK, 'data')!r}))"],
        check=True, capture_output=True, text=True,
    )
    return out.stdout.strip().splitlines()[-1]


class Store:
    """The open, cached store and the timings of opening it."""

    def __init__(self, data_dir: str, datagen_s: float):
        from dream_spark import Engine, get_spark
        from dream_spark.sources.triples import TripleStore

        self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_start_s = process_age_s() - datagen_s
        t0 = time.perf_counter()
        TripleStore.shared(self.spark, data_dir)
        t1 = time.perf_counter()
        self.engine = Engine.from_tpch(self.spark, data_dir)
        t2 = time.perf_counter()
        self.triples_open_s, self.stats_collect_s = t1 - t0, t2 - t1
        self.setup_s = process_age_s() - datagen_s

    def run_op(self, op, op_id: int, tracer) -> list:
        """Untraced: ``Engine.sparql(...).collect()``, the public entry
        point.  Traced: the same calls split into parse → translate →
        physical plan → collect, one span each."""
        from dream_spark.plans.sparql import parse_sparql
        from dream_spark.plans.translator import translate

        eng = self.engine
        if isinstance(tracer, NullTracer):
            return [tuple(r) for r in eng.sparql(op.text, decode=op.decode).collect()]
        with tracer.span("op", op_id):
            with tracer.span("sparql.parse", op_id, "op"):
                q = parse_sparql(op.text)
            with tracer.span("translator.translate", op_id, "op", count_jobs=True):
                eng.store.ensure_open()
                df = translate(eng.store, q, eng.stats, decode=op.decode)
            with tracer.span("execute.plan", op_id, "op"):
                df._jdf.queryExecution().executedPlan()
            with tracer.span("execute.run", op_id, "op", count_jobs=True):
                return [tuple(r) for r in df.collect()]


class Record:
    __slots__ = ("op", "op_id", "start", "end", "rows", "error")

    def __init__(self, op, op_id, start, end, rows, error):
        self.op, self.op_id, self.start, self.end = op, op_id, start, end
        self.rows, self.error = rows, error

    @property
    def latency(self) -> float:
        return self.end - self.start


def closed_loop(
    store: Store, ops, first_id: int, deadline: float, tracer, out: list, round_len: int
) -> None:
    """One client: issue the next op only when the previous one is done.
    A new round of ``round_len`` ops starts only before the deadline, so
    every run holds whole rounds."""
    for i, op in enumerate(ops):
        t0 = time.perf_counter()
        if i % round_len == 0 and t0 >= deadline:
            return
        rows, err = None, None
        try:
            rows = store.run_op(op, first_id + i, tracer)
        except Exception as e:  # a failed op is a measurement, not a crash
            err = f"{type(e).__name__}: {e}"
        out.append(Record(op, first_id + i, t0, time.perf_counter(), rows, err))


def run_clients(
    store: Store, streams: list, seconds: float, tracer, id_base: int = 0, round_len: int = 1
) -> list[Record]:
    """Run one closed-loop client thread per op stream; op ids are
    ``id_base + 1e6 * client + position``."""
    out: list[Record] = []
    deadline = time.perf_counter() + seconds
    threads = [
        threading.Thread(
            target=closed_loop,
            args=(store, ops, id_base + 1_000_000 * c, deadline, tracer, out, round_len),
        )
        for c, ops in enumerate(streams)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(seconds + 2 * OP_TIMEOUT_S)
        if t.is_alive():
            raise RuntimeError("a client did not finish")
    return out


def measure_store_workload(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    from ops import ANALYTIC_SHAPES, LOOKUP_CLIENTS, analytic_stream, lookup_stream

    tmp = os.path.join(WORK, "tmp", f"run-{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    prepare_env(tmp)
    t0 = time.perf_counter()
    data_dir = ensure_data()
    datagen_s = time.perf_counter() - t0
    os.chdir(tmp)  # stray Spark files (warehouse, logs) land in scratch
    store = Store(data_dir, datagen_s)
    spark = store.spark
    try:
        if workload == "sparql_lookup":
            # four clients interleave, so each may stop after any op
            warm = [lookup_stream(seed, c, LOOKUP_WARM_ROUNDS, warm=True) for c in range(LOOKUP_CLIENTS)]
            streams = [lookup_stream(seed, c, 200) for c in range(LOOKUP_CLIENTS)]
            round_len = 1
        else:
            w, m = analytic_stream(seed)
            warm, streams, round_len = [w], [m], len(ANALYTIC_SHAPES)
        warm_recs = run_clients(store, warm, WARM_S, NullTracer(), id_base=500_000, round_len=round_len)
        log(f"setup {store.setup_s:.2f}s; warmed up with {len(warm_recs)} ops")
        tracer = Tracer(spark.sparkContext) if trace else NullTracer()
        gc0 = jvm_gc_s(spark)
        recs = run_clients(store, streams, seconds, tracer, round_len=round_len)
        gc_s = jvm_gc_s(spark) - gc0
        if trace:
            tracer.resolve_job_counts()
        rss_mb = (vm_hwm_kb() + vm_hwm_kb(jvm_pid(spark))) / 1024
        storage_mb = cached_mb(spark)
        batch_metrics, batch_failures, batch_ops = dict(BATCH_LAYERS_OFF), {}, 0
        if trace and workload == "sparql_analytic":
            batch_metrics, batch_failures, batch_ops = run_batch_layers(spark, tmp, data_dir, seed, tracer)
    finally:
        stop_spark(spark)
    t_check = time.perf_counter()
    failures = check_store(data_dir, warm_recs + recs)
    log(f"oracle checked {len(warm_recs) + len(recs)} ops in {time.perf_counter() - t_check:.1f}s")
    failures.update(batch_failures)
    for op_id, why in list(failures.items())[:5]:
        log(f"FAILED op {op_id}: {why}")
    ok = [r for r in recs if r.error is None and r.latency <= OP_TIMEOUT_S]
    lat = [r.latency for r in ok]
    wall = max(r.end for r in recs) - min(r.start for r in recs)
    p90, beyond, supported = tail(lat, 90)
    shapes = sorted({r.op.shape for r in ok})
    log("p50 by shape: " + " ".join(
        f"{sh}={percentile([r.latency for r in ok if r.op.shape == sh], 50):.3f}" for sh in shapes))
    log(f"{len(recs)} ops, {len(failures)} failed; p90 has {beyond} samples beyond it"
        + ("" if supported else f" (fewer than 10: read it as a near-max of {len(lat)} samples)"))
    result = {
        "correct": not failures,
        "attempted": len(recs) + batch_ops,
        "failed": sum(1 for r in recs if r.op_id in failures) + len(batch_failures),
    }
    if not trace:
        result["metrics"] = {
            "setup_s": (store.setup_s, "s"),
            "latency_p50_s": (percentile(lat, 50), "s"),
            "latency_p90_s": (p90, "s"),
            "throughput_ops_per_s": (len(ok) / wall, "1/s"),
            "peak_rss_mb": (rss_mb, "MB"),
        }
        return result
    n = len(recs)
    self_t = tracer.self_times()
    mean = lambda name, attr: sum(getattr(s, attr) for s in tracer.by_name(name)) / n
    by_shape = lambda shape: [r.latency for r in ok if r.op.shape == shape]
    decode_extra = 0.0
    if by_shape("star_decoded") and by_shape("star"):
        decode_extra = percentile(by_shape("star_decoded"), 50) - percentile(by_shape("star"), 50)
    cover = tracer.coverage()
    result["metrics"] = {
        "session.start_s": (store.session_start_s, "s"),
        "triples.open_s": (store.triples_open_s, "s"),
        "stats.collect_s": (store.stats_collect_s, "s"),
        "triples.cached_mb": (storage_mb, "MB"),
        "sparql.parse_s": (self_t.get("sparql.parse", 0.0) / n, "s"),
        "translator.translate_s": (self_t.get("translator.translate", 0.0) / n, "s"),
        "translator.jobs_per_op": (mean("translator.translate", "jobs"), "count"),
        "execute.plan_s": (self_t.get("execute.plan", 0.0) / n, "s"),
        "execute.run_s": (self_t.get("execute.run", 0.0) / n, "s"),
        "execute.jobs_per_op": (mean("execute.run", "jobs"), "count"),
        "execute.stages_per_op": (mean("execute.run", "stages"), "count"),
        "execute.tasks_per_op": (mean("execute.run", "tasks"), "count"),
        "decode.extra_s": (decode_extra, "s"),
        "jvm.gc_s": (gc_s, "s"),
        "trace.op_mean_s": (sum(lat) / len(lat), "s"),
        "trace.op_p50_s": (percentile(lat, 50), "s"),
        "trace.min_child_coverage": (min(cover), "ratio"),
        **batch_metrics,
    }
    os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
    tracer.dump(os.path.join(WORK, "traces", f"{workload}-seed{seed}.jsonl"))
    return result


#: per-layer metrics of the batch layers, zero where a run does not
#: exercise them (every traced run prints every per-layer metric)
BATCH_LAYERS_OFF = {name: (0.0, unit) for name, unit in LAYER_UNITS.items()}


def run_batch_layers(spark, tmp: str, data_dir: str, seed: int, tracer) -> tuple[dict, dict, int]:
    """Ingest rounds and curation ops, traced: (metrics, failures, checks)."""
    from batch import BATCH_CHECKS, run_curate, run_ingest

    log("traced batch layers: ingest rounds, then curation ops")
    work = os.path.join(tmp, "ingest")
    m_ing, f_ing = run_ingest(spark, work, seed, tracer, 9_000_000)
    m_cur, f_cur = run_curate(spark, data_dir, seed, tracer, 9_100_000)
    return {**m_ing, **m_cur}, {**f_ing, **f_cur}, BATCH_CHECKS


def check_store(data_dir: str, recs: list[Record]) -> dict[int, str]:
    """Every op against the DuckDB oracle: op id -> why it failed."""
    from oracle import SparqlOracle

    orc = SparqlOracle(data_dir)
    failures = {}
    try:
        for r in recs:
            if r.error is not None:
                failures[r.op_id] = f"raised {r.error[:300]} | {r.op.text}"
            elif r.latency > OP_TIMEOUT_S:
                failures[r.op_id] = f"timed out after {r.latency:.1f}s | {r.op.text}"
            elif not orc.check(r.op.text, r.op.decode, r.rows):
                failures[r.op_id] = f"wrong result ({len(r.rows)} rows) | {r.op.text}"
    finally:
        orc.close()
    return failures


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import dream_spark  # noqa: F401
    except ImportError as e:
        log(f"cannot import the program under test from {ROOT}: {e}")
        return 2
    tmp_root = os.path.join(WORK, "tmp")
    try:
        result = measure_store_workload(args.workload, args.seed, args.seconds, bool(args.trace))
    finally:
        shutil.rmtree(os.path.join(tmp_root, f"run-{os.getpid()}"), ignore_errors=True)
    result["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in result["metrics"].items()}
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
