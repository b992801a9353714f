"""Batch layers measured in the traced run of ``sparql_analytic``:
streaming N-Triples ingest and document curation.

Both layers first run one untimed op of their own (an ingest round into a
throwaway store, a curate op over another subset), so the timed ops do
not pay stream, UDF and Python-worker start-up.

Ingest: each round writes a seeded N-Triples batch (new subjects plus
subjects and objects reused from earlier rounds), drains it with
``streaming.triples.ingest_ntriples_stream(available_now=True)``, reopens
the store with ``streaming.triples.store`` and runs a read-after-write
query anchored on IRIs of that batch.  Each query is checked against the
generator's own record of what it wrote; at the end the dictionary must be
free of duplicate ids and the streamed triple multiset must equal
``TripleStore.from_ntriples`` over the same files.

Curate: each op runs ``operators.pipeline.curate`` over a seeded subset of
the generated documents and collects counts per split, checked against
DuckDB running ``PIPELINE_CURATE_SQL`` on the same subset;
``operators.dedup.duplicate_clusters`` is also timed alone.
"""

from __future__ import annotations

import os
from collections import Counter

import numpy as np

from measure import NullTracer

INGEST_ROUNDS = 2
BATCH_TRIPLES = 2000
QUERIES_PER_ROUND = 2
CURATE_OPS = 2
CURATE_DOCS = 400
#: oracle checks of a traced batch run: the warm-up and timed ingest rounds,
#: the two end-of-ingest checks, the warm-up and timed curate ops
BATCH_CHECKS = (1 + INGEST_ROUNDS + 2) + (1 + CURATE_OPS)
NS = "http://bench.example/"
#: the per-layer metrics this module reports, with their units
LAYER_UNITS = {
    "ingest.drain_s": "s", "ingest.reopen_s": "s", "ingest.query_s": "s",
    "ingest.triples_per_s": "1/s", "ingest.files": "count", "ingest.bytes_per_triple": "B",
    "curate.clusters_s": "s", "curate.total_s": "s", "curate.stages_per_op": "count",
}


def nt_batch(
    seed: int, rnd: int, n: int = BATCH_TRIPLES, warm: bool = False
) -> tuple[list[str], dict[str, Counter]]:
    """N-Triples lines of round ``rnd`` and, per subject IRI, the multiset
    of (predicate, object) lexicals written.  Half the subjects are new,
    half reuse earlier rounds' subjects; objects mix IRIs and literals.
    ``warm`` draws from a stream of its own, for the warm-up store."""
    rng = np.random.default_rng([seed, 11, rnd, int(warm)])
    lines, record = [], {}
    for i in range(n):
        if rnd > 0 and i % 2:
            subj = f"{NS}e{int(rng.integers(0, rnd))}_{int(rng.integers(0, n // 8))}"
        else:
            subj = f"{NS}e{rnd}_{i // 8}"
        pred = f"{NS}p{int(rng.integers(0, 6))}"
        if rng.random() < 0.5:
            obj_lex = f"{NS}e{int(rng.integers(0, rnd + 1))}_{int(rng.integers(0, n // 8))}"
            obj = f"<{obj_lex}>"
        else:
            obj_lex = f"v{int(rng.integers(0, 5000))}"
            obj = f'"{obj_lex}"'
        lines.append(f"<{subj}> <{pred}> {obj} .")
        record.setdefault(subj, Counter())[(pred, obj_lex)] += 1
    return lines, record


def _dir_stats(path: str) -> tuple[int, int]:
    """(parquet files, bytes of all files) under ``path``."""
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
            size += os.path.getsize(os.path.join(d, n))
    return files, size


class _IngestDirs:
    """Source, triples, dictionary and checkpoint directories of one
    streamed store, plus what the generator wrote into it."""

    def __init__(self, work: str):
        self.src, self.triples, self.dict, self.ckpt = (
            os.path.join(work, d) for d in ("src", "triples", "dict", "ckpt")
        )
        os.makedirs(self.src)
        self.written: dict[str, Counter] = {}


def _ingest_round(spark, dirs: _IngestDirs, rnd: int, lines, record, subjects, tracer, op: int) -> tuple:
    """Write one batch, drain it, reopen the store and query it back:
    (store, read-after-write mismatches)."""
    from dream_spark.engine import Engine
    from dream_spark.streaming.triples import ingest_ntriples_stream, store

    with open(os.path.join(dirs.src, f"batch{rnd:04d}.nt"), "w") as f:
        f.write("\n".join(lines) + "\n")
    for subj, c in record.items():
        dirs.written.setdefault(subj, Counter()).update(c)
    bad = []
    with tracer.span("ingest.round", op):
        with tracer.span("ingest.drain", op, "ingest.round"):
            ingest_ntriples_stream(
                spark, dirs.src, dirs.triples, dirs.dict, dirs.ckpt, available_now=True
            ).awaitTermination()
        with tracer.span("ingest.reopen", op, "ingest.round"):
            st = store(spark, dirs.triples, dirs.dict)
        eng = Engine(spark, st)
        for subj in subjects:
            with tracer.span("ingest.query", op, "ingest.round"):
                rows = eng.sparql(f"select ?P ?O where {{ <{subj}> ?P ?O }}", decode=True).collect()
            if Counter(map(tuple, rows)) != dirs.written[subj]:
                bad.append(subj)
    return st, bad


def run_ingest(spark, work: str, seed: int, tracer, op_base: int) -> tuple[dict, dict[int, str]]:
    from dream_spark.sources.triples import TripleStore

    failures: dict[int, str] = {}

    def pick(record, rng) -> list[str]:
        subjects = sorted(record)
        return [subjects[int(rng.integers(0, len(subjects)))] for _ in range(QUERIES_PER_ROUND)]

    # untimed warm-up round into a throwaway store, from streams of its own
    lines, record = nt_batch(seed, 0, warm=True)
    warm_dirs = _IngestDirs(os.path.join(work, "warm"))
    _, bad = _ingest_round(
        spark, warm_dirs, 0, lines, record, pick(record, np.random.default_rng([seed, 12, 1])),
        NullTracer(), op_base - 1,
    )
    if bad:
        failures[op_base - 1] = f"warm-up read-after-write mismatch for <{bad[0]}>"
    rng = np.random.default_rng([seed, 12])
    dirs = _IngestDirs(os.path.join(work, "timed"))
    n_triples = 0
    for rnd in range(INGEST_ROUNDS):
        op = op_base + rnd
        lines, record = nt_batch(seed, rnd)
        n_triples += len(lines)
        st, bad = _ingest_round(spark, dirs, rnd, lines, record, pick(record, rng), tracer, op)
        if bad:
            failures[op] = f"read-after-write mismatch for <{bad[0]}>"
    dup = st.dictionary.groupBy("id").count().where("count > 1").count()
    if dup:
        failures[op_base + INGEST_ROUNDS] = f"{dup} duplicate dictionary ids"
    batch = TripleStore.from_ntriples(spark, dirs.src)
    cols = ("s", "p", "o")
    if Counter(map(tuple, st.triples.select(*cols).collect())) != Counter(
        map(tuple, batch.triples.select(*cols).collect())
    ):
        failures[op_base + INGEST_ROUNDS + 1] = "streamed triples differ from from_ntriples"
    files, size = _dir_stats(dirs.triples)
    size += _dir_stats(dirs.dict)[1]
    rounds = tracer.by_name("ingest.round")
    mean = lambda name: sum(s.end - s.start for s in tracer.by_name(name)) / len(rounds)
    write_s = sum(s.end - s.start for name in ("ingest.drain", "ingest.reopen") for s in tracer.by_name(name))
    return {
        "ingest.drain_s": (mean("ingest.drain"), "s"),
        "ingest.reopen_s": (mean("ingest.reopen"), "s"),
        "ingest.query_s": (mean("ingest.query") / QUERIES_PER_ROUND, "s"),
        "ingest.triples_per_s": (n_triples / write_s, "1/s"),
        "ingest.files": (files, "count"),
        "ingest.bytes_per_triple": (size / n_triples, "B"),
    }, failures


def run_curate(spark, data_dir: str, seed: int, tracer, op_base: int) -> tuple[dict, dict[int, str]]:
    import duckdb

    from dream_spark.operators.dedup import duplicate_clusters
    from dream_spark.operators.pipeline import PIPELINE_CURATE_SQL, curate

    path = os.path.join(data_dir, "documents.parquet")
    docs = spark.read.parquet(path).select("doc_id", "text")
    n_docs = docs.count()
    draw = lambda rng: sorted(int(i) for i in rng.choice(n_docs, size=CURATE_DOCS, replace=False))
    # one untimed warm-up op over a subset of its own, then the timed ops
    rng = np.random.default_rng([seed, 13])
    plan = [(op_base - 1, draw(np.random.default_rng([seed, 13, 1])), NullTracer())]
    plan += [(op_base + k, draw(rng), tracer) for k in range(CURATE_OPS)]
    con = duckdb.connect()
    failures: dict[int, str] = {}
    try:
        for op, ids, tr in plan:
            sub = docs.where(docs.doc_id.isin(ids))
            with tr.span("curate.op", op):
                with tr.span("curate.clusters", op, "curate.op"):
                    duplicate_clusters(sub).count()
                with tr.span("curate.total", op, "curate.op", count_jobs=True):
                    got = curate(sub).groupBy("split").count().collect()
            con.execute(
                f"CREATE OR REPLACE TABLE documents AS SELECT doc_id, text FROM read_parquet('{path}')"
                f" WHERE doc_id IN ({', '.join(map(str, ids))})"
            )
            want = con.execute(f"SELECT split, COUNT(*) FROM ({PIPELINE_CURATE_SQL}) GROUP BY split").fetchall()
            if Counter(map(tuple, got)) != Counter(want):
                failures[op] = f"curate split counts {sorted(got)} != oracle {sorted(want)}"
    finally:
        con.close()
    tracer.resolve_job_counts()
    mean = lambda name, attr=None: sum(
        (s.end - s.start) if attr is None else getattr(s, attr) for s in tracer.by_name(name)
    ) / CURATE_OPS
    return {
        "curate.clusters_s": (mean("curate.clusters"), "s"),
        "curate.total_s": (mean("curate.total"), "s"),
        "curate.stages_per_op": (mean("curate.total", "stages"), "count"),
    }, failures
