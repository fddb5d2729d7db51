"""The benchmark's workloads. Each drives the program's public functions
in a closed or open loop, times them from outside, and checks every
output against an oracle that does not share the program's code path.

A workload object goes through ``register`` (part of set-up), ``warm``
(untimed warm-up ops on inputs of the same shape), ``measure`` (the
timed window), ``check`` (untimed output checks) and, in a traced run,
``layer_metrics``.
"""

from __future__ import annotations

import glob
import json
import math
import os
import re
import shutil
import statistics
import sys
import time
from collections import defaultdict

import pyarrow.parquet as pq

from gen import WORD_RE
from spans import SparkMonitor, Tracer, median_of


def p50_p90(samples: list[float]) -> tuple[float, float]:
    if len(samples) == 1:
        return samples[0], samples[0]
    return (statistics.median(samples),
            statistics.quantiles(samples, n=10, method="inclusive")[8])


def dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, ignoring hidden/marker files."""
    files = nbytes = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            files += 1
            nbytes += os.path.getsize(os.path.join(root, n))
    return files, nbytes


class Workload:
    def __init__(self, spark, tracer: Tracer, input_dir: str,
                 work_dir: str, seconds: float):
        self.spark = spark
        self.tracer = tracer
        self.input_dir = input_dir
        self.work_dir = work_dir
        self.seconds = seconds
        self.monitor = SparkMonitor(spark) if tracer.enabled else None
        self.op_layers: list[dict] = []   # per-op engine counters
        self.latencies: list[float] = []
        self.t_measure = 0.0   # start of the timed window
        self.work_per_s = 0.0
        self.attempted = 0
        self.failed = 0

    def traced_steps(self) -> None:
        """Hook for spans inside the program's own composition (traced
        run only)."""

    def fresh(self, name: str) -> str:
        path = os.path.join(self.work_dir, name)
        shutil.rmtree(path, ignore_errors=True)
        return path

    def timed_op(self, i: int, fn) -> float:
        t0 = time.time()
        with self.tracer.span("op", op=i):
            fn(i)
        t1 = time.time()
        if self.monitor is not None:
            self.op_layers.append(self.monitor.window(t0, t1))
        return t1 - t0

    def closed_loop(self, fn) -> float:
        """Run ``fn(i)`` back to back while the window is open; returns
        the measured wall time."""
        start = self.t_measure = time.time()
        i = 0
        while time.time() - start < self.seconds:
            self.latencies.append(self.timed_op(i, fn))
            i += 1
        return time.time() - start

    def engine_metrics(self, walls: list[float] | None = None) -> dict:
        """Median per-op engine counters; ``walls`` are the op wall
        times the busy share divides by (default: the op latencies)."""
        med = median_of(self.op_layers)
        wall = statistics.median(walls or self.latencies)
        cores = self.spark.sparkContext.defaultParallelism
        return {
            "spark.jobs": med["jobs"], "spark.tasks": med["tasks"],
            "spark.executor_run_s": med["executor_run_s"],
            "spark.executor_cpu_s": med["executor_cpu_s"],
            "spark.core_busy_share": med["executor_run_s"] / (wall * cores),
            "spark.gc_s": med["gc_s"],
            "spark.task_failures": med["task_failures"],
            "sources.scan_s": med["scan_s"],
            "sources.input_bytes": med["input_bytes"],
            "sources.input_rows": med["input_rows"],
            "sources.scan_tasks": med["scan_tasks"],
            "exchange.shuffle_write_bytes": med["shuffle_write_bytes"],
            "exchange.shuffle_records": med["shuffle_records"],
            "exchange.fetch_wait_s": med["fetch_wait_s"],
            "exchange.spill_bytes": med["spill_bytes"],
            "exchange.task_skew": med["task_skew"],
            "sinks.write_s": med["write_s"],
            "sinks.commit_s": med["commit_s"],
        }


# ---------------------------------------------------------------------------

class MapReduceText(Workload):
    """The reference's own job pair (play.sh wc + indexer) through
    ``mr.api.run_map_reduce_files`` and ``sources.sinks.write_text_kv``.
    One op = wc job then indexer job, each written to a fresh directory.
    Closed loop, one client."""

    name = "mapreduce_text"

    def register(self) -> None:
        from toymapreduce_go_spark.mr import api
        self.api = api
        self.glob = os.path.join(self.input_dir, "pg-*.txt")

    def _job(self, tag: str, map_f, reduce_f, path_glob: str,
             out: str) -> None:
        from toymapreduce_go_spark.sources.sinks import write_text_kv
        with self.tracer.span(f"mr.{tag}"):
            df = self.api.run_map_reduce_files(
                self.spark, map_f, reduce_f, path_glob, n_reduce=4)
            with self.tracer.span("sinks.write_text_kv"):
                write_text_kv(df, out)

    def _op(self, i: int) -> None:
        self._job("wc", self.api.wc_map, self.api.wc_reduce, self.glob,
                  self.fresh(f"wc-{i}"))
        self._job("indexer", self.api.indexer_map, self.api.indexer_reduce,
                  self.glob, self.fresh(f"ix-{i}"))

    def warm(self) -> None:
        # one whole op: after a warm-up on two of the sixteen files the
        # first measured op still ran about 20 % slower than the next ones
        self._op(-1)

    def measure(self) -> None:
        wall = self.closed_loop(self._op)
        with open(os.path.join(self.input_dir, "_shares.json")) as fh:
            words = json.load(fh)["words"]
        self.ops = len(self.latencies)
        self.work_per_s = self.ops * words / wall

    def _oracle(self):
        """Sequential oracle with mrsequential semantics: one reduce per
        distinct key over all map output."""
        wc: dict[str, int] = defaultdict(int)
        ix: dict[str, set] = defaultdict(set)
        for path in sorted(glob.glob(self.glob)):
            name = "file:" + os.path.abspath(path)
            with open(path) as fh:
                words = WORD_RE.findall(fh.read())
            for w in words:
                wc[w] += 1
            for w in set(words):
                ix[w].add(name)
        return ({k: str(v) for k, v in wc.items()},
                {k: f"{len(v)} {','.join(sorted(v))}" for k, v in ix.items()})

    @staticmethod
    def _read_kv(out: str) -> dict[str, str]:
        got: dict[str, str] = {}
        for part in glob.glob(os.path.join(out, "part-*")):
            with open(part) as fh:
                for line in fh:
                    k, _, v = line.rstrip("\n").partition(" ")
                    if k in got:
                        got[k] = "<duplicate key>"
                    else:
                        got[k] = v
        return got

    def check(self) -> None:
        want_wc, want_ix = self._oracle()
        self.keys_out = len(want_wc) + len(want_ix)
        # map output pairs per op: one per word (wc) plus one per
        # distinct (word, file) (indexer)
        self.pairs = (sum(int(v) for v in want_wc.values())
                      + sum(int(v.split(" ", 1)[0])
                            for v in want_ix.values()))
        for i in range(self.ops):
            self.attempted += 1
            ok = (self._read_kv(os.path.join(self.work_dir, f"wc-{i}"))
                  == want_wc
                  and self._read_kv(os.path.join(self.work_dir, f"ix-{i}"))
                  == want_ix)
            self.failed += not ok

    def layer_metrics(self) -> dict:
        files, nbytes = dir_stats(os.path.join(self.work_dir, "wc-0"))
        f2, b2 = dir_stats(os.path.join(self.work_dir, "ix-0"))
        return {
            **self.engine_metrics(),
            "mr.wc_s": statistics.median(
                self.tracer.durations("mr.wc", self.t_measure)),
            "mr.indexer_s": statistics.median(
                self.tracer.durations("mr.indexer", self.t_measure)),
            "mr.pairs_shuffled": self.pairs,
            "mr.keys_out": self.keys_out,
            "sinks.output_bytes": nbytes + b2,
            "sinks.files_written": files + f2,
        }


# ---------------------------------------------------------------------------

def norm_rows(rows) -> list[tuple]:
    """Order-insensitive value form of a result: floats rounded to 6
    places, integral floats as ints, NaN as NULL, rows sorted by repr."""
    def cell(v):
        if isinstance(v, float):
            if math.isnan(v):
                return None
            return int(v) if v == int(v) and abs(v) < 2**53 else round(v, 6)
        return v
    return sorted((tuple(cell(c) for c in r) for r in rows), key=repr)


BPE_ISH_RE = re.compile(r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]")


class CorpusBuild(Workload):
    """One curation round over the generated documents table per op:
    the declared text queries of ``MIX``, each built through
    ``plans.queries.QUERIES`` and collected, then
    ``pipeline.build_training_corpus`` with its partitioned parquet sink
    written to a fresh directory. Closed loop, one client."""

    name = "corpus_build"
    MIX = ("unicode_wordcount", "inverted_index", "text_quality")
    MAX_TOKENS = 256
    STAGES = ("0_raw", "1_quality_gated", "2_deduped", "3_decontaminated",
              "4_packed")

    def register(self) -> None:
        from toymapreduce_go_spark import pipeline
        from toymapreduce_go_spark.plans.queries import QUERIES
        self.pipeline = pipeline
        self.queries = {n: QUERIES[n] for n in self.MIX}
        self.results: list[dict] = []
        self.funnels: list[dict] = []

    def _op(self, i: int, sf_dir: str | None = None) -> None:
        sf_dir = sf_dir or self.input_dir
        rows = {}
        for name in self.MIX:
            with self.tracer.span(f"query.{name}"):
                with self.tracer.span("plans.build"):
                    df = self.queries[name](self.spark, sf_dir)
                rows[name] = [tuple(r) for r in df.collect()]
        with self.tracer.span("pipeline.build_training_corpus"):
            _, funnel = self.pipeline.build_training_corpus(
                self.spark, sf_dir, out_path=self.fresh(f"corpus-{i}"),
                max_tokens=self.MAX_TOKENS)
            stages = {r["stage"]: r["n_docs"] for r in funnel.collect()}
        if i >= 0:
            self.results.append(rows)
            self.funnels.append(stages)

    def warm(self) -> None:
        # the same round over the small warm-up table
        self._op(-1, os.path.join(self.input_dir, "warm"))

    def measure(self) -> None:
        wall = self.closed_loop(self._op)
        self.ops = len(self.latencies)
        self.work_per_s = self.ops * self._n_docs() / wall

    def _n_docs(self) -> int:
        return pq.ParquetFile(os.path.join(
            self.input_dir, "documents.parquet")).metadata.num_rows

    def _read_corpus(self, i: int):
        return pq.read_table(os.path.join(self.work_dir, f"corpus-{i}"),
                             columns=["doc_id", "text", "bin_id"]
                             ).to_pydict()

    def check(self) -> None:
        """Every query against its DuckDB oracle over the same file; the
        corpus keeps exactly the designed originals (every planted
        near-duplicate and every gate-failing document removed), the
        funnel counts agree, and no bin exceeds ``MAX_TOKENS``."""
        import duckdb

        from toymapreduce_go_spark.plans.queries import ORACLES
        con = duckdb.connect()
        con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet("
                    f"'{os.path.join(self.input_dir, 'documents.parquet')}')")
        want = {n: norm_rows(con.execute(ORACLES[n]).fetchall())
                for n in self.MIX}
        con.close()
        with open(os.path.join(self.input_dir, "expected.json")) as fh:
            keep = set(json.load(fh)["pass"])
        n_docs = self._n_docs()
        for i, (rows, stages) in enumerate(zip(self.results, self.funnels)):
            for name in self.MIX:
                self.attempted += 1
                self.failed += norm_rows(rows[name]) != want[name]
            self.attempted += 1
            out = self._read_corpus(i)
            fill: dict[int, int] = defaultdict(int)
            for text, b in zip(out["text"], out["bin_id"]):
                fill[b] += len(BPE_ISH_RE.findall(text))
            ok = (sorted(out["doc_id"]) == sorted(keep)
                  and stages.get("0_raw") == n_docs
                  and stages.get("4_packed") == len(keep)
                  and max(fill.values(), default=0) <= self.MAX_TOKENS)
            self.failed += not ok
            if i == 0:
                self.bins = len(fill)
                self.tokens = sum(fill.values())

    def traced_steps(self) -> None:
        """Traced run only: spans around the funnel's own ``count()``
        stage actions, and a hold on the candidate and verified pair
        frames the pipeline's dedup builds (counted after the window)."""
        from toymapreduce_go_spark.operators import dedup
        tracer, pipeline_mod = self.tracer, self.pipeline.__name__
        frame_cls = type(self.spark.range(1))   # the session's DataFrame
        count = frame_cls.count

        def traced_count(df, _count=count):
            if sys._getframe(1).f_globals.get("__name__") != pipeline_mod:
                return _count(df)
            with tracer.span("pipeline.stage_count"):
                return _count(df)
        frame_cls.count = traced_count
        self.held: dict[str, object] = {}
        band_pairs, near = dedup.minhash_band_pairs, dedup.near_dedup_minhash

        def held_band_pairs(*a, **kw):
            out = band_pairs(*a, **kw)
            if tracer.inside("pipeline.build_training_corpus"):
                self.held["candidates"] = out[0]
            return out

        def held_near(*a, **kw):
            out = near(*a, **kw)
            if tracer.inside("pipeline.build_training_corpus"):
                self.held["verified"] = out
            return out
        dedup.minhash_band_pairs = held_band_pairs
        dedup.near_dedup_minhash = held_near

    def _stage_times(self) -> dict[str, float]:
        """Per funnel stage: from the end of the previous stage's count
        (or the call's start) to the end of its own; ``5_write`` is the
        rest of the call, the sink write. Medians over the ops."""
        spans = self.tracer.spans
        per: dict[str, list[float]] = defaultdict(list)
        for p in spans:
            if (p["name"] != "pipeline.build_training_corpus"
                    or p["start"] < self.t_measure):
                continue
            ends = [c["end"] for c in spans if c["parent"] == p["id"]
                    and c["name"] == "pipeline.stage_count"]
            if len(ends) != len(self.STAGES):
                continue
            prev = p["start"]
            for stage, end in zip(self.STAGES, ends):
                per[stage].append(end - prev)
                prev = end
            per["5_write"].append(p["end"] - prev)
        return {f"pipeline.stage_s.{k}": statistics.median(v)
                for k, v in per.items()}

    def layer_metrics(self) -> dict:
        with open(os.path.join(self.input_dir, "expected.json")) as fh:
            dup_of = json.load(fh)["dup_of"]
        # a pipeline that no longer calls these functions reads 0 here
        cand = self.held.get("candidates")
        n_cand = cand.count() if cand is not None else 0
        ver = self.held.get("verified")
        verified = ({(r["doc_a"], r["doc_b"]) for r in
                     ver.select("doc_a", "doc_b").collect()}
                    if ver is not None else set())
        stages = self.funnels[0]
        # (original, copy): both are designed to pass the gates
        planted = [(b, int(a)) for a, b in dup_of.items()]
        pipe = [self.monitor.window(p["start"], p["end"])
                for p in self.tracer.spans
                if p["name"] == "pipeline.build_training_corpus"
                and p["start"] >= self.t_measure]
        files, nbytes = dir_stats(os.path.join(self.work_dir, "corpus-0"))
        ops = max(self.ops, 1)
        return {
            **self.engine_metrics(),
            "plans.build_s": sum(self.tracer.durations(
                "plans.build", self.t_measure)) / ops,
            "plans.eager_jobs": statistics.median(
                o["jobs_by_group"].get("plans.build", 0)
                for o in self.op_layers),
            **{f"query.{n}_s": statistics.median(self.tracer.durations(
                f"query.{n}", self.t_measure)) for n in self.MIX},
            "pipeline.actions": statistics.median(
                w["sql_executions"] for w in pipe),
            **{f"pipeline.stage_docs.{k}": stages.get(k, 0)
               for k in self.STAGES},
            **self._stage_times(),
            "dedup.candidate_pairs": n_cand,
            "dedup.verified_pairs": len(verified),
            "dedup.pair_precision": len(verified) / max(n_cand, 1),
            "dedup.planted_recall": sum(p in verified for p in planted)
            / max(len(planted), 1),
            "textstats.gate_pass_share": stages.get("1_quality_gated", 0)
            / max(stages.get("0_raw", 0), 1),
            "packing.bins": self.bins,
            "packing.fill_share": self.tokens
            / (self.bins * self.MAX_TOKENS),
            "sinks.output_bytes": nbytes,
            "sinks.files_written": files,
        }


# ---------------------------------------------------------------------------

class StreamIngest(Workload):
    """The composed streaming curation ingest under an open loop.

    A streaming query over a landing directory runs
    ``streaming.ingest.ingest_batch_step`` in ``foreachBatch`` under a
    processing-time trigger. After two small untimed warm-up files, the
    generator lands a staged file of 100 documents every
    ``LAND_EVERY_S`` seconds over ``--seconds`` seconds (both ends
    included), whatever the engine does. The rate is below the drain
    rate, so each file is its own micro-batch and no backlog builds. A
    document's latency runs from its file's due time to the end of the
    trigger that committed it."""

    name = "stream_ingest"
    # above the 6-14 s a micro-batch of 100 documents takes on 4 cores,
    # the first one that probes a non-empty state included; closer to it,
    # a slow batch delays the next file and the latency jumps by a batch.
    # A 10 s window lands one file, a 15 s window two.
    LAND_EVERY_S = 15.0
    TRIGGER_S = 1
    COMMIT_TIMEOUT_S = 90

    def register(self) -> None:
        from toymapreduce_go_spark.streaming import ingest
        self.ingest = ingest
        self.warm_files = sorted(glob.glob(os.path.join(self.input_dir,
                                                        "warm-*.parquet")))
        self.pool = sorted(glob.glob(os.path.join(self.input_dir,
                                                  "pool-*.parquet")))
        self.schema = self.spark.read.parquet(self.pool[0]).schema
        self.docs_per_file = pq.ParquetFile(self.pool[0]).metadata.num_rows

    def _stream(self, landing: str):
        return self.spark.readStream.schema(self.schema).parquet(landing)

    def _land(self, src: str, name: str) -> None:
        """Atomically place a copy of ``src`` in the landing directory
        (the file source skips names starting with '.')."""
        tmp = os.path.join(self.landing, "." + name)
        shutil.copyfile(src, tmp)
        os.replace(tmp, os.path.join(self.landing, name))
        self.landed[name] = pq.ParquetFile(src).metadata.num_rows

    def warm(self) -> None:
        """Start the query and push the small warm-up files through it
        untimed, one micro-batch each, so the measured batches find a
        warm engine and a non-empty state to probe."""
        landing = self.fresh("landing")
        self.state = state = self.fresh("state")
        self.ckpt = os.path.join(state, "_checkpoint")
        os.makedirs(landing)
        self.landing = landing
        self.landed: dict[str, int] = {}   # landed file -> documents
        self.batches: dict[int, tuple[float, float]] = {}

        def step(batch_df, batch_id: int) -> None:
            t0 = time.time()
            with self.tracer.span("streaming.ingest_batch_step",
                                  op=batch_id):
                self.ingest.ingest_batch_step(self.spark, batch_df,
                                              batch_id, state)
            self.batches[batch_id] = (t0, time.time())

        self.query = (
            self._stream(landing).writeStream.foreachBatch(step)
            .option("checkpointLocation", self.ckpt)
            .trigger(processingTime=f"{self.TRIGGER_S} seconds").start())
        for k, src in enumerate(self.warm_files):
            self._land(src, f"warm-{k}.parquet")
            self._await_commits(k + 1)

    def _await_commits(self, n_files: int) -> None:
        deadline = time.time() + self.COMMIT_TIMEOUT_S
        while (len(_committed_files(self.ckpt)) < n_files
               and time.time() < deadline and self.query.isActive):
            time.sleep(0.05)

    def measure(self) -> None:
        self.t_measure = time.time()
        q = self.query
        n = int(self.seconds // self.LAND_EVERY_S) + 1
        self.files = self.pool[:n]
        self.due: dict[str, float] = {}
        self.lag: list[float] = []
        try:
            # start just after a trigger boundary (the trigger clock is
            # aligned to multiples of its interval), so every file waits
            # the same time for its trigger on every run
            start = (time.time() // self.TRIGGER_S + 1) * self.TRIGGER_S \
                + 0.05
            for k, src in enumerate(self.files):
                t_due = start + k * self.LAND_EVERY_S
                time.sleep(max(0.0, t_due - time.time()))
                name = f"land-{k:04d}.parquet"
                self._land(src, name)
                self.due[name] = t_due
                self.lag.append(time.time() - t_due)
            self._await_commits(len(self.warm_files) + len(self.files))
        finally:
            q.stop()
        self.file_batch = _committed_files(self.ckpt)
        ids = {self.file_batch[n] for n in self.due if n in self.file_batch}
        self.progress = [p for p in q.recentProgress if p["batchId"] in ids]
        self.batches = {b: t for b, t in self.batches.items() if b in ids}
        # a batch commits at the end of its trigger (the progress
        # report's trigger start + triggerExecution)
        ends = {p["batchId"]: _iso_epoch(p["timestamp"])
                + p["durationMs"]["triggerExecution"] / 1000.0
                for p in self.progress}
        # every document of a file has its file's latency: one sample
        # per file stands for all of them
        for name, t_due in self.due.items():
            b = self.file_batch.get(name)
            if b in ends:
                self.latencies.append(ends[b] - t_due)
        busy = sum(p["durationMs"]["triggerExecution"]
                   for p in self.progress) / 1000.0
        self.work_per_s = (len(ids) * self.docs_per_file / busy
                           if busy else 0.0)

    def _survivors(self) -> list:
        return [r["doc_id"] for r in self.ingest.read_survivors(
            self.spark, self.state).select("doc_id").collect()]

    def check(self) -> None:
        """Survivors equal the batch tier over the same documents: the
        gate, then ``apply_near_dedup``; every landed file committed."""
        from toymapreduce_go_spark.operators.dedup import apply_near_dedup
        docs = self.spark.read.parquet(*self.warm_files, *self.files)
        want = {r["doc_id"] for r in apply_near_dedup(
            self.ingest.gate_filter(docs)).select("doc_id").collect()}
        got = self._survivors()
        self.attempted = sum(self.landed.values())
        self.failed = (sum(n for name, n in self.landed.items()
                           if name not in self.file_batch)
                       + len(set(got) ^ want) + len(got) - len(set(got)))
        self.n_survivors = len(want)

    def layer_metrics(self) -> dict:
        from pyspark.sql import functions as F

        with open(os.path.join(self.input_dir, "expected.json")) as fh:
            dup_of = json.load(fh)["dup_of"]
        # planted copies (of an original landed in the run) the
        # incremental step dropped, from its own survivors table
        landed = {r["doc_id"] for r in self.spark.read.parquet(
            *self.warm_files, *self.files).select("doc_id").collect()}
        copies = [int(a) for a, b in dup_of.items() if int(a) in landed]
        kept = set(self._survivors())
        n_docs, n_pass = self.ingest.read_telemetry(
            self.spark, self.state).agg(F.sum("n_docs"),
                                        F.sum("n_pass")).collect()[0]
        dur = defaultdict(list)
        for p in self.progress:
            for k, v in p["durationMs"].items():
                dur[k].append(v / 1000.0)

        def med(k: str) -> float:
            return statistics.median(dur[k]) if dur[k] else 0.0

        # backlog at each batch start: files landed, not yet in a batch
        backlog = 0
        for b, (t0, _) in self.batches.items():
            landed = sum(t < t0 for t in self.due.values())
            done = sum(x < b for x in self.file_batch.values())
            backlog = max(backlog, landed - done)
        self.op_layers = [self.monitor.window(t0, t1)
                          for t0, t1 in self.batches.values()]
        _, state_bytes = dir_stats(self.state)
        files, nbytes = dir_stats(os.path.join(self.state, "survivors"))
        return {
            **self.engine_metrics([t1 - t0 for t0, t1 in
                                   self.batches.values()]),
            "dedup.planted_recall": sum(c not in kept for c in copies)
            / max(len(copies), 1),
            "streaming.docs_in": n_docs,
            "streaming.docs_gated": n_pass,
            "streaming.docs_kept": self.n_survivors,
            "textstats.gate_pass_share": n_pass / max(n_docs, 1),
            "sinks.output_bytes": nbytes,
            "sinks.files_written": files,
            "streaming.trigger_s": med("triggerExecution"),
            "streaming.add_batch_s": med("addBatch"),
            "streaming.planning_s": med("queryPlanning"),
            "streaming.wal_commit_s": med("walCommit")
            + med("commitOffsets"),
            "streaming.telemetry_step_s": statistics.median(
                self.tracer.durations("streaming.quality_batch_step",
                                      self.t_measure)),
            "streaming.dedup_step_s": statistics.median(
                self.tracer.durations("streaming.near_dedup_batch_step",
                                      self.t_measure)),
            "streaming.backlog_files": backlog,
            "streaming.state_bytes": state_bytes,
            "bench.generator_lag_s": max(self.lag),
        }

    def traced_steps(self) -> None:
        """Wrap the two sub-steps ``ingest_batch_step`` composes with
        spans (traced run only; the module looks them up at call
        time)."""
        for attr in ("quality_batch_step", "near_dedup_batch_step"):
            inner = getattr(self.ingest, attr)
            name = f"streaming.{attr}"

            def wrapped(*a, _inner=inner, _name=name, **kw):
                with self.tracer.span(_name):
                    return _inner(*a, **kw)
            setattr(self.ingest, attr, wrapped)


def _committed_files(ckpt: str) -> dict[str, int]:
    """file name -> batch id for every file whose micro-batch committed,
    read from the checkpoint: the file source's metadata log (one JSON
    line per file) joined with the commit log (one file per batch)."""
    def listing(*parts: str) -> list[str]:
        d = os.path.join(ckpt, *parts)
        return [n for n in (os.listdir(d) if os.path.isdir(d) else [])
                if not n.startswith(".")]
    done = {int(n) for n in listing("commits") if n.isdigit()}
    out: dict[str, int] = {}
    for name in listing("sources", "0"):
        try:
            with open(os.path.join(ckpt, "sources", "0", name)) as fh:
                lines = fh.read().splitlines()
        except FileNotFoundError:   # compacted away while listing
            continue
        for line in lines:
            if line.startswith("{"):
                e = json.loads(line)
                if e["batchId"] in done:
                    out[os.path.basename(e["path"])] = e["batchId"]
    return out


def _iso_epoch(ts: str) -> float:
    from datetime import datetime
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


WORKLOADS = {w.name: w for w in (MapReduceText, CorpusBuild, StreamIngest)}
