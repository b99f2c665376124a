"""The benchmark workloads.

Each workload generates its inputs from the seed, checks the program's
outputs once (untimed), and then runs *units* in a closed loop: a unit is
one pass over the workload's seats (batch workloads) or one full drain of
the document stream (``stream_funnel``). Inside a unit every seat call or
micro-batch starts only after the previous one has completed.

Timing rule, the same for lazy and eager seats: the clock starts before the
seat call. ``build_s`` is the call (driver-side plan construction plus any
eager work the call does) and ``exec_s`` the noop sink that runs the plan.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import numpy as np

from perfbench import checks, gen
from perfbench.layers import JobTags, Py4jCounter, Spans, dir_stats

SeatFn = Callable[[object, str], object]


@dataclass
class Op:
    """One seat call or one micro-batch."""

    name: str
    build_s: float
    exec_s: float
    failed: bool = False

    @property
    def total_s(self) -> float:
        return self.build_s + self.exec_s


@dataclass
class Unit:
    """One pass or drain: wall clock, its operations, traced layer data."""

    wall_s: float
    ops: list[Op]
    layers: dict[str, float] = field(default_factory=dict)


@dataclass
class Tracer:
    """What a traced unit records with: spans, job tags, py4j counts."""

    spans: Spans
    tags: JobTags
    py4j: Py4jCounter


def _noop_sink(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _sum(recs: list[dict], key: str) -> float:
    return float(sum(r[key] for r in recs))


def layer_record(build: list[dict], execute: list[dict], build_s: float, sink_s: float, wall_s: float, cores: int) -> dict[str, float]:
    """Fold a unit's REST records into its layer numbers. ``build`` are the
    records of jobs run inside calls (eager work), ``execute`` the rest."""
    allr = build + execute
    run_s = _sum(allr, "run_ms") / 1e3
    return {
        "catalog.input_bytes": _sum(allr, "input_bytes"),
        "catalog.scan_tasks": _sum(allr, "scan_tasks"),
        "driver.build_s": build_s,
        "driver.build_jobs": _sum(build, "jobs"),
        "sched.jobs": _sum(allr, "jobs"),
        "sched.stages": _sum(allr, "stages"),
        "sched.tasks": _sum(allr, "tasks"),
        "sched.core_util": run_s / (wall_s * cores),
        "sched.scheduler_delay_s": _sum(allr, "sched_delay_s"),
        "exec.sink_s": sink_s,
        "exec.run_s": run_s,
        "exec.cpu_s": _sum(allr, "cpu_ns") / 1e9,
        "exec.gc_s": _sum(allr, "gc_ms") / 1e3,
        "exchange.shuffle_write_bytes": _sum(allr, "shuffle_write_bytes"),
        "exchange.shuffle_read_bytes": _sum(allr, "shuffle_read_bytes"),
        "exchange.spill_bytes": _sum(allr, "spill_mem_bytes") + _sum(allr, "spill_disk_bytes"),
        "exchange.fetch_wait_s": _sum(allr, "fetch_wait_ms") / 1e3,
        "pyworker.est_s": _sum(allr, "pyworker_est_s"),
    }


class DedupCuration:
    """The LLM-curation dedup family over a corpus with a fixed share of
    exact duplicates and near-duplicate chains, as a closed loop of passes
    over the registered seats."""

    name = "dedup_curation"
    N_DOCS = 800
    N_EMB = 100
    #: fixed shares; the seed decides which docs and which edits
    EXACT_SHARE, CHAIN_SHARE, CHAIN_LEN = 0.10, 0.20, 6
    seats = [
        "e7d_dedup_funnel",
        "e9d_verified_clusters_capped",
        "e35d_semdedup_auto",
        "e4g_char_ngram_stats",
    ]
    n_checks = len(seats)

    def __init__(self, seed: int, work_dir: str, cores: int):
        self.seed, self.work_dir, self.cores = seed, work_dir, cores
        self.inputs: gen.Inputs | None = None

    def generate(self, out_dir: str) -> gen.Inputs:
        texts = gen.corpus_texts(
            self.seed, self.N_DOCS, self.EXACT_SHARE, self.CHAIN_SHARE, self.CHAIN_LEN
        )
        tables = {
            "documents": gen.documents_table(self.seed, texts),
            "embeddings": gen.embeddings_table(self.seed, self.N_EMB, 0.10),
        }
        return gen.write_tables(tables, out_dir)

    def seat_fns(self) -> dict[str, SeatFn]:
        from wx20222_bigdata_spark.registry import all_queries

        q = all_queries()
        return {s: q[s] for s in self.seats}

    @property
    def input_rows(self) -> int:
        return sum(self.inputs.rows.values())

    # -- checks ---------------------------------------------------------
    def start_oracles(self) -> None:
        """Start the DuckDB oracles over the generated inputs on a thread;
        they need no Spark, so they overlap the check pass."""
        from wx20222_bigdata_spark.registry import all_oracles

        oracles = all_oracles()
        sqls = {n: oracles[n] for n in self.seats}
        pool = ThreadPoolExecutor(max_workers=1)
        self._oracles = pool.submit(
            checks.run_oracles, self.inputs, sqls, self.cores, os.path.join(self.work_dir, "tmp")
        )
        pool.shutdown(wait=False)

    def check(self, spark) -> list[str]:
        """Run every seat once (the untimed warm-up pass) and check its
        output against the oracles started by :meth:`start_oracles`.
        Returns the failure reasons, empty when every check holds."""
        failures, outputs = [], {}
        for name, fn in self.seat_fns().items():
            try:
                outputs[name] = fn(spark, self.inputs.sf_dir).toPandas()
            except Exception as e:  # a seat that raises fails its check
                failures.append(f"{name}: raised {type(e).__name__}: {e}")
        try:
            expected = self._oracles.result()
        except Exception as e:  # the oracle side failed: every oracled seat is unchecked
            return failures + [f"{n}: oracle raised {type(e).__name__}: {e}" for n in outputs]
        for name, pdf in outputs.items():
            reason = checks.compare_frames(name, pdf, expected[name])
            if reason:
                failures.append(reason)
        return failures

    # -- the closed loop ------------------------------------------------
    def run_unit(self, spark, tracer: Tracer | None = None) -> Unit:
        ops: list[Op] = []
        seat_tags: dict[str, tuple[str, str]] = {}
        sf_dir = self.inputs.sf_dir
        calls0 = tracer.py4j.calls if tracer else 0
        t_pass = time.perf_counter()
        for name, fn in self.seat_fns().items():
            failed = False
            t0 = t1 = time.perf_counter()
            try:
                if tracer is None:
                    df = fn(spark, sf_dir)
                    t1 = time.perf_counter()
                    _noop_sink(df)
                else:
                    with tracer.spans.span(f"seat:{name}"):
                        with tracer.spans.span(f"call:{name}"), tracer.tags.tag(f"{name}:build") as tb:
                            df = fn(spark, sf_dir)
                        t1 = time.perf_counter()
                        with tracer.spans.span(f"sink:{name}"), tracer.tags.tag(f"{name}:exec") as te:
                            _noop_sink(df)
                    seat_tags[name] = (tb, te)
            except Exception:  # counted; the loop goes on to the next seat
                failed = True
            t2 = time.perf_counter()
            ops.append(Op(name, t1 - t0, t2 - t1, failed))
        wall = time.perf_counter() - t_pass
        unit = Unit(wall, ops)
        if tracer is not None:
            calls = tracer.py4j.calls - calls0
            recs = tracer.tags.read()
            tracer.tags.tags.clear()
            build = [recs[b] for b, _ in seat_tags.values()]
            execute = [recs[e] for _, e in seat_tags.values()]
            unit.layers = layer_record(
                build, execute, sum(o.build_s for o in ops), sum(o.exec_s for o in ops), wall, self.cores
            )
            unit.layers["driver.py4j_calls"] = float(calls)
            for o in ops:
                unit.layers[f"seat.{o.name}.build_s"] = o.build_s
                unit.layers[f"seat.{o.name}.exec_s"] = o.exec_s
            if "e9d_verified_clusters_capped" in seat_tags:
                b, e = seat_tags["e9d_verified_clusters_capped"]
                unit.layers["clusters.jobs"] = float(recs[b]["jobs"] + recs[e]["jobs"])
        return unit


STREAM_SCHEMA = "doc_id bigint, source string, text string"


class StreamFunnel:
    """``streaming.jobs.streaming_curation_funnel`` driven by
    ``availableNow`` over one pre-written file per micro-batch."""

    name = "stream_funnel"
    N_BATCHES = 8
    BATCH_DOCS = 1500
    RECUR_SHARE = 0.2
    n_checks = 1

    def __init__(self, seed: int, work_dir: str, cores: int):
        self.seed, self.work_dir, self.cores = seed, work_dir, cores
        self.inputs: gen.Inputs | None = None
        self._drains = 0

    @property
    def stream_dir(self) -> str:
        return os.path.join(self.inputs.sf_dir, "stream_in")

    @property
    def input_rows(self) -> int:
        return self.N_BATCHES * self.BATCH_DOCS

    def generate(self, out_dir: str) -> gen.Inputs:
        """``documents.parquet`` (the batch twin's input) plus one file per
        micro-batch under ``stream_in/``, with modification times pinned to
        batch order (file sources order by them)."""
        texts, batches = gen.stream_texts(self.seed, self.N_BATCHES, self.BATCH_DOCS, self.RECUR_SHARE)
        docs = gen.documents_table(self.seed, texts)
        stream_dir = os.path.join(out_dir, "stream_in")
        parts = {
            f"part-{b:05d}": docs.slice(lo, hi - lo).select(["doc_id", "source", "text"])
            for b, (lo, hi) in enumerate(batches)
        }
        written = gen.write_tables(parts, stream_dir)
        for b in range(len(batches)):
            t = 1_600_000_000 + b
            os.utime(os.path.join(stream_dir, f"part-{b:05d}.parquet"), (t, t))
        table = gen.write_tables({"documents": docs}, out_dir)
        return gen.Inputs(out_dir, gen.combined_hash([table, written]), table.rows)

    def _drain(self, spark, tracer: Tracer | None):
        from wx20222_bigdata_spark.streaming.jobs import (
            make_curation_funnel_batch,
            streaming_curation_funnel,
        )

        self._drains += 1
        root = os.path.join(self.work_dir, f"drain{self._drains}")
        shutil.rmtree(root, ignore_errors=True)
        d = {k: os.path.join(root, k) for k in ("index", "out", "state", "ckpt")}
        stream = (
            spark.readStream.schema(STREAM_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(self.stream_dir)
        )
        writer = streaming_curation_funnel(stream, d["index"], d["out"], d["state"], d["ckpt"])
        if tracer is not None:
            # the same callable the funnel builds, wrapped in a tag and a
            # span; foreachBatch on the returned writer replaces the original
            inner = make_curation_funnel_batch(d["index"], d["out"], d["state"], d["ckpt"])

            def traced_batch(batch_df, batch_id):
                with tracer.tags.tag(f"batch{batch_id}"), tracer.spans.span(f"microbatch:{batch_id}"):
                    inner(batch_df, batch_id)

            writer = writer.foreachBatch(traced_batch)
        calls0 = tracer.py4j.calls if tracer else 0
        t0 = time.perf_counter()
        q = writer.start()
        q.awaitTermination()
        wall = time.perf_counter() - t0
        self.py4j_calls = (tracer.py4j.calls - calls0) if tracer else 0
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        progress = [p for p in q.recentProgress if (p.get("numInputRows") or 0) > 0]
        if len(progress) != self.N_BATCHES:  # the drain did not see the stated input
            raise RuntimeError(f"{len(progress)} micro-batches, expected {self.N_BATCHES}")
        return d, wall, progress

    def start_oracles(self) -> None:
        """The stream's oracle is its Spark batch twin, run in :meth:`check`."""

    def check(self, spark) -> list[str]:
        """One full drain; it must run one micro-batch per file, and its
        final state table must equal the batch twin ``e7c_funnel_accounting``
        over the same documents."""
        from wx20222_bigdata_spark.registry import all_queries

        try:
            d, _, _ = self._drain(spark, None)
        except Exception as e:
            return [f"stream_funnel: drain raised {type(e).__name__}: {e}"]
        failures = []
        cols = ["n_raw", "n_quality", "n_admitted", "admitted_tokens"]
        got = {r["source"]: tuple(r[c] for c in cols) for r in spark.read.parquet(f"{d['state']}/current").collect()}
        want = {
            r["source"]: tuple(r[c] for c in cols)
            for r in all_queries()["e7c_funnel_accounting"](spark, self.inputs.sf_dir).collect()
        }
        if got != want or not got:
            failures.append("stream_funnel: final state differs from the e7c_funnel_accounting twin")
        shutil.rmtree(os.path.dirname(d["index"]), ignore_errors=True)
        return failures

    def run_unit(self, spark, tracer: Tracer | None = None) -> Unit:
        try:
            d, wall, progress = self._drain(spark, tracer)
        except Exception:
            return Unit(float("nan"), [Op("drain", 0.0, 0.0, True)])
        ops = [Op(f"batch{p['batchId']}", 0.0, p["durationMs"]["triggerExecution"] / 1e3) for p in progress]
        unit = Unit(wall, ops)
        if tracer is not None:
            unit.layers = self._layers(spark, tracer, d, wall, progress)
        shutil.rmtree(os.path.dirname(d["index"]), ignore_errors=True)
        return unit

    def _layers(self, spark, tracer: Tracer, d: dict, wall: float, progress: list[dict]) -> dict[str, float]:
        recs = tracer.tags.read()
        tracer.tags.tags.clear()

        def med(key: str) -> float:
            return statistics.median(p["durationMs"].get(key, 0) for p in progress) / 1e3

        durs = [p["durationMs"]["triggerExecution"] for p in progress]
        warm = durs[1:]  # the first batch also plans the query
        half = len(warm) // 2
        growth = statistics.median(warm[half:]) / statistics.median(warm[:half]) if half else 1.0
        n_index, index_bytes = dir_stats(d["index"])
        written = sum(dir_stats(d[k])[1] for k in ("index", "out", "state"))
        state = spark.read.parquet(f"{d['state']}/current").groupBy().sum("n_raw", "n_admitted").first()
        add = sum(p["durationMs"].get("addBatch", 0) for p in progress) / 1e3
        trig = sum(durs) / 1e3
        out = layer_record([], list(recs.values()), trig - add, add, wall, self.cores)
        out.update(
            {
                "driver.py4j_calls": float(self.py4j_calls),
                "stream.add_batch_s": med("addBatch"),
                "stream.planning_s": med("queryPlanning"),
                "stream.wal_commit_s": med("walCommit"),
                "stream.index_files": float(n_index),
                "stream.index_bytes": float(index_bytes),
                "stream.bytes_written": float(written),
                "stream.admit_ratio": state[1] / state[0],
                "stream.batch_growth": growth,
            }
        )
        return out


WORKLOADS = {w.name: w for w in (DedupCuration, StreamFunnel)}


def tail(values: list[float]) -> tuple[float, float, int]:
    """The highest percentile of (50, 75, 90, 95, 99) with at least ten
    samples beyond it: (value, percentile, sample count)."""
    n = len(values)
    if not n:
        return float("nan"), 50.0, 0
    best = 50.0
    for p in (50.0, 75.0, 90.0, 95.0, 99.0):
        if n * (1 - p / 100) >= 10:
            best = p
    return float(np.percentile(values, best)), best, n
