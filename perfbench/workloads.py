"""The three workloads: set-up, timed loop, answer checks and metrics.

Each workload drives the engine only through its public functions:
``sources.trec.read_trec``, ``plans.index_store.build_index`` /
``search_indexed`` / ``wildcard_indexed``, ``plans.indexing.doc_terms`` /
``postings_flat`` and ``streaming.jobs.incremental_near_dups`` /
``incremental_index`` (plus ``read_incremental_index`` and the batch
``minhash_near_dups`` to check the streams).

One operation per workload, timed with tracing off:

- ``index_build``: ``read_trec`` of the corpus file into
  ``documents.parquet``, then ``build_index(chargrams=True)`` into a
  fresh store;
- ``term_serve``: one query against the store built in set-up, from the
  ``search_indexed`` or ``wildcard_indexed`` call to ``collect()``
  returning;
- ``stream_ingest``: one micro-batch file, taken by the near-dup stream
  and then by the index stream (the sum of its two ``triggerExecution``
  times); a drain runs every file through both streams.

The traced run records a span around every engine call and, after the
loop, runs a probe over a small corpus so that every layer has
spans on every workload. A layer's per-layer figures come from the
workload's own calls (set-up and loop) when there are any, else from the
probe.
"""

from __future__ import annotations

import json
import os
import time
from statistics import fmean, median

from pyspark.sql import functions as F

from simple_mapreduce_search_engine_information_retrieval__spark.plans.dedup import (
    minhash_near_dups,
)
from simple_mapreduce_search_engine_information_retrieval__spark.plans.index_store import (
    build_index,
    search_indexed,
    wildcard_indexed,
)
from simple_mapreduce_search_engine_information_retrieval__spark.plans.indexing import (
    doc_terms,
    postings_flat,
)
from simple_mapreduce_search_engine_information_retrieval__spark.sources.trec import (
    read_trec,
)
from simple_mapreduce_search_engine_information_retrieval__spark.streaming.jobs import (
    incremental_index,
    incremental_near_dups,
    read_incremental_index,
)

import gen
from oracle import Oracle, same_ranking
from spans import StreamProgress, Tracer, group_counts, scan_rows, self_times
from stats import Tally, percentile, tail_level

MiB = 1024 * 1024
# Warm-ups repeat the workload's own operation before timing: a JVM
# keeps compiling for several builds, dozens of queries and stream
# micro-batches, and the first timed operations would pay for it.
WARM_BUILDS = 2
SERVE_WARM_OPS = 40
LAYERS = ("bench", "session", "sources", "indexing", "index_store", "streaming")


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``; data files skip Hadoop's
    hidden ``.crc`` files."""
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += not n.startswith(".")
    return size, files


class Bench:
    """One run: the session, tracer, inputs and work directory."""

    def __init__(self, spark, tracer: Tracer, inputs: str, work: str, seconds: float):
        self.spark = spark
        self.tracer = tracer
        self.inputs = inputs
        self.work = work
        self.seconds = seconds
        self.progress = StreamProgress(spark)
        with open(os.path.join(inputs, "manifest.json")) as f:
            self.manifest = json.load(f)
        with open(os.path.join(inputs, "ops.json")) as f:
            self.ops = json.load(f)
        self._n = 0

    def fresh(self, stem: str) -> str:
        self._n += 1
        return os.path.join(self.work, f"{stem}-{self._n}")

    # -- calls into the engine, one span each ---------------------------

    def parse_trec(self, trec: str, out: str) -> None:
        with self.tracer.span("sources.read_trec"):
            (
                read_trec(self.spark, trec)
                .select(F.col("doc_id").cast("long").alias("doc_id"), "text")
                .write.mode("overwrite")
                .parquet(os.path.join(out, "documents.parquet"))
            )

    def build(self, docs: str, store: str, name: str) -> None:
        with self.tracer.span("index_store.build_index") as s:
            build_index(self.spark, docs, store, chargrams=True, name=name)
        if s is not None:
            s.extra["store_files"] = dir_stats(store)[1]

    def tokenize(self, docs: str) -> None:
        """The tokenizer hot path on its own: noop writes of doc_terms and
        postings_flat."""
        with self.tracer.span("indexing.doc_terms"):
            doc_terms(self.spark, docs).write.format("noop").mode("overwrite").save()
        with self.tracer.span("indexing.postings_flat"):
            postings_flat(self.spark, docs).write.format("noop").mode("overwrite").save()

    def query(self, op: list, name: str) -> list:
        kind, arg = op
        serve = search_indexed if kind == "search" else wildcard_indexed
        if not self.tracer.enabled:
            rows = serve(self.spark, arg, name=name).collect()
        else:
            with self.tracer.span(f"index_store.{kind}") as s:
                with self.tracer.span(f"index_store.{kind}.construct"):
                    df = serve(self.spark, arg, name=name)
                if kind == "search":
                    with self.tracer.span("index_store.search.plan"):
                        df._jdf.queryExecution().executedPlan()
                with self.tracer.span(f"index_store.{kind}.exec"):
                    rows = df.collect()
                if kind == "search":
                    t = time.perf_counter()
                    s.extra["rows_scanned"] = scan_rows(df._jdf.queryExecution().executedPlan())
                    self.tracer.overhead_s += time.perf_counter() - t
        if kind == "search":
            return [(r.docno, r.score, r.rank) for r in rows]
        return sorted(r.term for r in rows)

    def drain(self, files: str, store: str, index: str) -> list[dict]:
        """Run every stream file through both maintenance streams; return
        the two runs' progress (near-dup run first)."""
        def stream():
            return (
                self.spark.readStream.schema(gen.DOC_SCHEMA)
                .option("maxFilesPerTrigger", 1)
                .parquet(files)
            )

        mark = self.progress.mark()
        spans = []
        with self.tracer.span("streaming.near_dups") as s:
            incremental_near_dups(self.spark, stream(), store)
        spans.append(s)
        with self.tracer.span("streaming.index") as s:
            incremental_index(self.spark, stream(), index)
        spans.append(s)
        runs = self.progress.runs_since(mark, 2)
        out = [
            {"run": r, "batches": [b for b in self.progress.batches[r] if "addBatch" in b["ms"]]}
            for r in runs
        ]
        if self.tracer.enabled:
            self.tracer.drain_events()
            t = time.perf_counter()
            offset = time.time() - time.perf_counter()
            for s, run in zip(spans, out):
                s.extra["jobs"], _, _ = group_counts(self.spark.sparkContext, run["run"])
                s.extra["batches"] = run["batches"]
                for b in run["batches"]:
                    start = _epoch(b["timestamp"]) - offset
                    self.tracer.add(
                        "streaming.batch", start, start + b["ms"]["triggerExecution"] / 1000, s
                    )
            self.tracer.overhead_s += time.perf_counter() - t
        return out

    # -- the traced run's probe ---------------------------------------------

    def probe(self) -> None:
        """The traced run's probe: one call into every layer over the
        small probe corpus and stream, after the measured loop."""
        self.tracer.phase = "probe"
        probe = os.path.join(self.inputs, "probe")
        docs, store = self.fresh("probe-docs"), self.fresh("probe-store")
        self.parse_trec(os.path.join(probe, "corpus.trec"), docs)
        self.tokenize(probe)
        self.build(docs, store, "pb_probe")
        for op in self.ops["probe"]:
            with self.tracer.span(f"bench.{op[0]}", op=self.tracer.new_op()):
                self.query(op, "pb_probe")
        with self.tracer.span("bench.drain", op=self.tracer.new_op()):
            self.drain(os.path.join(probe, "stream"), self.fresh("probe-nd"), self.fresh("probe-ix"))

    def close(self) -> None:
        self.progress.close()


def check_answers(tally: Tally, got: list[tuple], want: dict[str, list]) -> None:
    """Fail every served operation ``(i, op, rows)`` whose rows differ
    from the oracle answer ``want[json.dumps(op)]``."""
    for i, op, rows in got:
        expect = want[json.dumps(op)]
        if not (same_ranking(rows, expect) if op[0] == "search" else rows == expect):
            tally.fail(i, f"{op}: got {rows[:3]}... want {expect[:3]}...")


def _epoch(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def _window(b: Bench, start: float, last: float) -> bool:
    """Start another operation only while it should end inside the
    measured window."""
    return time.perf_counter() - start + last <= b.seconds


# -- workloads ---------------------------------------------------------------


def _build_op(b: Bench, corpus: str) -> str:
    docs, store = b.fresh("docs"), b.fresh("store")
    with b.tracer.span("bench.build", op=b.tracer.new_op()):
        b.parse_trec(os.path.join(corpus, "corpus.trec"), docs)
        b.build(docs, store, "pb_build")
    return store


def index_build(b: Bench) -> dict:
    corpus = os.path.join(b.inputs, "corpus")
    b.tracer.phase = "warm"
    for _ in range(WARM_BUILDS):
        _build_op(b, corpus)
    b.tracer.phase = "setup"
    oracle = Oracle(os.path.join(corpus, "documents.parquet"))
    setup_end = time.perf_counter()

    b.tracer.phase = "loop"
    tally, stores = Tally(), []
    start = last = time.perf_counter()
    while not tally.attempted or _window(b, start, last):
        t = time.perf_counter()
        try:
            store = _build_op(b, corpus)
            last = time.perf_counter() - t
            stores.append((tally.record(last, True), store))
            if b.tracer.enabled:
                b.tokenize(corpus)
        except Exception as e:  # noqa: BLE001 — a failed build is counted, not fatal
            last = time.perf_counter() - t
            tally.record(last, False, f"build: {e!r}")
    wall = time.perf_counter() - start

    text = b.manifest["corpus"]["text_bytes"]
    sizes = []
    for i, store in stores:
        problems = oracle.store_problems(store, b.manifest["corpus"]["docs"])
        if problems:
            tally.fail(i, f"store {store}: {problems}")
        sizes.append(dir_stats(store)[0])
    oracle.close()
    lat = tally.charged(wall)
    ok = tally.ok.count(True)
    return {
        "tally": tally,
        "setup_end": setup_end,
        "e2e": {
            "op_p50_ms": median(lat) * 1000,
            "ops_per_s": ok / wall,
            "store_bytes_per_input_byte": median(sizes) / text if sizes else 0.0,
        },
        "detail": {
            "build_mib_per_s": text / MiB / median(lat),
            "builds": tally.attempted,
            "input_mib": text / MiB,
        },
    }


def term_serve(b: Bench) -> dict:
    corpus = os.path.join(b.inputs, "corpus")
    store = b.fresh("store")
    b.build(corpus, store, "pb_serve")
    ops = b.ops["loop"]
    oracle = Oracle(os.path.join(corpus, "documents.parquet"))
    want = {}
    for op in ops:
        key = json.dumps(op)
        if key not in want:
            want[key] = oracle.search(op[1]) if op[0] == "search" else oracle.wildcard(op[1])
    oracle.close()
    b.tracer.phase = "warm"
    for op in ops[-SERVE_WARM_OPS:]:
        b.query(op, "pb_serve")
    setup_end = time.perf_counter()

    b.tracer.phase = "loop"
    tally, kinds, got = Tally(), [], []
    start = time.perf_counter()
    for op in ops[: len(ops) - SERVE_WARM_OPS]:
        if time.perf_counter() - start >= b.seconds:
            break
        t = time.perf_counter()
        try:
            with b.tracer.span(f"bench.{op[0]}", op=b.tracer.new_op()):
                rows = b.query(op, "pb_serve")
            i = tally.record(time.perf_counter() - t, True)
            got.append((i, op, rows))
        except Exception as e:  # noqa: BLE001 — a failed query is counted, not fatal
            tally.record(time.perf_counter() - t, False, f"{op}: {e!r}")
        kinds.append(op[0])
    wall = time.perf_counter() - start

    check_answers(tally, got, want)
    lat = tally.charged(wall)
    search = [x for x, k in zip(lat, kinds) if k == "search"]
    wild = [x for x, k in zip(lat, kinds) if k == "wildcard"]
    detail = {
        "search_p50_ms": median(search) * 1000,
        "wildcard_p50_ms": median(wild) * 1000 if wild else None,
        "serve_qps": tally.ok.count(True) / wall,
        "searches": len(search),
        "wildcards": len(wild),
    }
    level = tail_level(len(search))
    if level is not None:
        detail[f"search_p{level:g}_ms"] = percentile(search, level) * 1000
    return {
        "tally": tally,
        "setup_end": setup_end,
        "e2e": {
            "op_p50_ms": median(lat) * 1000,
            "ops_per_s": tally.ok.count(True) / wall,
            "store_bytes_per_input_byte": dir_stats(store)[0]
            / b.manifest["corpus"]["text_bytes"],
        },
        "detail": detail,
    }


def stream_ingest(b: Bench) -> dict:
    # the oracle runs first, so that the measured drain follows the
    # warm-up drain directly
    ingest = os.path.join(b.inputs, "ingest")
    want_pairs = sorted(
        (r.doc_a, r.doc_b, r.jaccard) for r in minhash_near_dups(b.spark, ingest).collect()
    )
    want_post = b.fresh("oracle-postings")
    postings_flat(b.spark, ingest).write.parquet(want_post)
    b.tracer.phase = "warm"
    with b.tracer.span("bench.drain", op=b.tracer.new_op()):
        b.drain(os.path.join(b.inputs, "stream_warm"), b.fresh("warm-nd"), b.fresh("warm-ix"))
    setup_end = time.perf_counter()
    files = os.path.join(b.inputs, "stream")

    b.tracer.phase = "loop"
    n_files = b.manifest["stream"]["batches"]
    # per file, aligned with the tally: its two micro-batches' seconds
    tally, drains, batches = Tally(), [], []
    start = last = time.perf_counter()
    while not tally.attempted or _window(b, start, last):
        store, index = b.fresh("nd-store"), b.fresh("ix-store")
        t = time.perf_counter()
        try:
            with b.tracer.span("bench.drain", op=b.tracer.new_op()):
                nd, ix = b.drain(files, store, index)
            last = time.perf_counter() - t
            per_file = [
                (x["ms"]["triggerExecution"] / 1000, y["ms"]["triggerExecution"] / 1000)
                for x, y in zip(nd["batches"], ix["batches"])
            ]
            if len(per_file) != n_files:
                raise RuntimeError(f"{len(per_file)} micro-batches for {n_files} files")
            ids = [tally.record(x + y, True) for x, y in per_file]
            batches += per_file
            drains.append((ids, store, index))
        except Exception as e:  # noqa: BLE001 — a failed drain is counted, not fatal
            last = time.perf_counter() - t
            for _ in range(n_files):
                tally.record(last, False, f"drain: {e!r}")
                batches.append((last, last))
    wall = time.perf_counter() - start

    want = b.spark.read.parquet(want_post)
    sizes = []
    for ids, store, index in drains:
        pairs = sorted(
            (r.doc_a, r.doc_b, r.jaccard)
            for r in b.spark.read.parquet(os.path.join(store, "pairs")).collect()
        )
        got = read_incremental_index(b.spark, index)
        problems = []
        if pairs != want_pairs:
            problems.append(f"near-dup pairs: {len(pairs)} != one-shot {len(want_pairs)}")
        if got.exceptAll(want).count() or want.exceptAll(got).count():
            problems.append("incremental index != postings_flat")
        if problems:
            for i in ids:
                tally.fail(i, f"drain {store}: {problems}")
        sizes.append(dir_stats(store)[0] + dir_stats(index)[0])
    lat = tally.charged(wall)
    # every micro-batch of both streams, a failed file's charged like its op
    batch_s = [x if ok else max(x, wall) for pair, ok in zip(batches, tally.ok) for x in pair]
    ok = tally.ok.count(True)
    text = b.manifest["stream"]["text_bytes"]
    docs_per_file = b.manifest["stream"]["docs"] / n_files
    return {
        "tally": tally,
        "setup_end": setup_end,
        "e2e": {
            "op_p50_ms": median(lat) * 1000,
            "ops_per_s": ok / wall,
            "store_bytes_per_input_byte": median(sizes) / text if sizes else 0.0,
        },
        "detail": {
            "ingest_docs_per_s": ok * docs_per_file / wall,
            "ingest_batch_p50_ms": median(batch_s) * 1000,
            "drains": len(drains),
            "near_dup_pairs": len(want_pairs),
        },
    }


WORKLOADS = {
    "index_build": index_build,
    "term_serve": term_serve,
    "stream_ingest": stream_ingest,
}


# -- per-layer metrics from the traced run -------------------------------


def _own(spans: list, name: str) -> list:
    """Spans called ``name`` from the workload's own calls, else from the
    probe."""
    own = [s for s in spans if s.name == name and s.phase in ("setup", "loop")]
    return own or [s for s in spans if s.name == name and s.phase == "probe"]


def _per_op(spans: list, prefix: str, field: str) -> float:
    """Median over operations of ``field`` summed over the operation's
    spans under ``prefix``."""
    ops = {s.op for s in _own(spans, prefix)}
    return median(
        [
            sum(getattr(s, field) for s in spans if s.op == op and s.name.startswith(prefix))
            for op in ops
        ]
    )


def layer_metrics(tracer: Tracer) -> dict[str, float]:
    sp = tracer.spans

    def sec(name):
        return median([s.seconds for s in _own(sp, name)])

    def ms(name):
        return sec(name) * 1000

    def med(name, get):
        return median([get(s) for s in _own(sp, name)])

    def jobs(s):
        return s.jobs

    def stages(s):
        return s.stages

    def tasks(s):
        return s.tasks

    # micro-batch phases come in whole milliseconds; their means keep the
    # resolution that a median of a few integers loses
    nd = _own(sp, "streaming.near_dups")
    ix = _own(sp, "streaming.index")
    nd_batches = [b for s in nd for b in s.extra["batches"]]
    ix_batches = [b for s in ix for b in s.extra["batches"]]
    both = nd_batches + ix_batches
    out = {
        "session.get_spark_s": sec("session.get_spark"),
        "sources.read_trec_s": sec("sources.read_trec"),
        "sources.read_trec_tasks": med("sources.read_trec", tasks),
        "indexing.doc_terms_s": sec("indexing.doc_terms"),
        "indexing.doc_terms_tasks": med("indexing.doc_terms", tasks),
        "indexing.postings_flat_s": sec("indexing.postings_flat"),
        "index_store.build_index_s": sec("index_store.build_index"),
        "index_store.build_jobs": med("index_store.build_index", jobs),
        "index_store.build_stages": med("index_store.build_index", stages),
        "index_store.build_tasks": med("index_store.build_index", tasks),
        "index_store.store_files": med("index_store.build_index", lambda s: s.extra["store_files"]),
        "index_store.search_construct_ms": ms("index_store.search.construct"),
        "index_store.search_plan_ms": ms("index_store.search.plan"),
        "index_store.search_exec_ms": ms("index_store.search.exec"),
        "index_store.search_jobs_per_query": _per_op(sp, "index_store.search", "jobs"),
        "index_store.search_tasks_per_query": _per_op(sp, "index_store.search", "tasks"),
        "index_store.search_rows_scanned_per_query": med(
            "index_store.search", lambda s: s.extra["rows_scanned"]
        ),
        "index_store.wildcard_construct_ms": ms("index_store.wildcard.construct"),
        "index_store.wildcard_exec_ms": ms("index_store.wildcard.exec"),
        "index_store.wildcard_jobs_per_query": _per_op(sp, "index_store.wildcard", "jobs"),
        "streaming.near_dups_add_batch_ms": fmean([b["ms"]["addBatch"] for b in nd_batches]),
        "streaming.near_dups_jobs_per_batch": sum(s.extra["jobs"] for s in nd) / len(nd_batches),
        "streaming.index_add_batch_ms": fmean([b["ms"]["addBatch"] for b in ix_batches]),
        "streaming.index_jobs_per_batch": sum(s.extra["jobs"] for s in ix) / len(ix_batches),
        "streaming.wal_commit_ms": fmean([b["ms"]["walCommit"] for b in both]),
        "streaming.query_planning_ms": fmean([b["ms"]["queryPlanning"] for b in both]),
    }
    self_s = self_times(sp)
    for layer in LAYERS:
        out[f"self.{layer}_s"] = self_s.get(layer, 0.0)
    traced = max(s.end for s in sp) - min(s.start for s in sp)
    out["trace.overhead_ms_per_span"] = tracer.overhead_s * 1000 / len(sp)
    out["trace.overhead_share"] = tracer.overhead_s / traced
    return out
