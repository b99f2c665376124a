#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload dedup_curation --seed 1 --seconds 5 --trace 0

Runs one workload of ``BENCHMARK.json`` in one process on ``local[N]``
(N = the CPUs this process may use): sets up (a session on a freshly
launched JVM plus seeded input generation) several times, checks the
program's outputs once, then
runs the workload's closed loop until ``--seconds`` have been measured.
The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. A traced run alternates traced and
untraced units, reports the difference of their median walls as the
tracing overhead, and writes its spans and per-unit layer records to
``.perfbench/traces/``. Everything it writes stays under ``.perfbench/``
in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SETUPS = 2
#: driver heap, pinned (-Xms = -Xmx) so GC sizing is the same in every run
HEAP = "2g"
#: units of the end-to-end metrics the summary line prints beside the ones
#: BENCHMARK.json gates: ``failed_frac`` is 0 on a correct run, so it has no
#: relative bound, and the percentile of ``batch_tail_s`` depends on the
#: sample count
UNGATED_UNITS = {"batch_tail_s": "s", "failed_frac": "ratio"}


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def start_session(work: Path, cores: int):
    from wx20222_bigdata_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.port": "0",
            "spark.ui.retainedJobs": "20000",
            "spark.ui.retainedStages": "20000",
            "spark.local.dir": str(work / "spark-local"),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.driver.memory": HEAP,
            "spark.driver.extraJavaOptions": f"-Xms{HEAP} -Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Close the py4j gateway and wait for the driver JVM, which exits when
    its stdin closes, so no process outlives it. The next session then
    launches a JVM of its own."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    try:
        gateway.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def _median(values) -> float:
    """The median, or NaN when every operation failed: the run still
    reports, with ``correct`` false."""
    values = list(values)
    return statistics.median(values) if values else float("nan")


def e2e_metrics(units, rows: int, setup_s: float, peak_rss_bytes: int, attempted: int, failed: int) -> dict:
    from perfbench.workloads import tail

    ok = [u for u in units if u.wall_s == u.wall_s]  # drop failed drains (NaN)
    durs = [o.total_s for u in ok for o in u.ops if not o.failed]
    tail_v, tail_p, tail_n = tail(durs)
    return {
        "setup_s": setup_s,
        "wall_s": _median(u.wall_s for u in ok),
        "rows_per_s": _median(rows / u.wall_s for u in ok),
        "batch_p50_s": _median(durs),
        "batch_tail_s": tail_v,
        "failed_frac": failed / attempted,
        "peak_rss_mb": peak_rss_bytes / 2**20,
        "_tail": {"percentile": tail_p, "samples": tail_n},
    }


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not (ROOT / "wx20222_bigdata_spark").is_dir():
        print(f"perfbench: no wx20222_bigdata_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    import wx20222_bigdata_spark.session  # noqa: F401  imported once, before the set-up clock runs

    from perfbench.layers import JobTags, Py4jCounter, MemorySampler, Spans, calib_probe
    from perfbench.workloads import WORKLOADS, Tracer

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    bench_cfg = json.loads((ROOT / "BENCHMARK.json").read_text())
    run_id = f"{args.workload}-seed{args.seed}-pid{os.getpid()}"
    work = ROOT / ".perfbench" / run_id
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "warehouse"):
        (work / d).mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    tempfile.tempdir = None
    # the spark-submit launcher JVM would otherwise write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)

    wl = WORKLOADS[args.workload](args.seed, str(work), cores)
    spans = Spans(run_id)
    spark = None
    try:
        # -- set-up, several times, each on its own JVM; the median is setup_s
        setup, starts, hashes = [], [], set()
        for i in range(SETUPS):
            if spark is not None:
                spark.stop()
                stop_jvm()
            with spans.span("setup", index=i):
                t0 = time.perf_counter()
                with spans.span("session_start"):
                    spark = start_session(work, cores)
                t1 = time.perf_counter()
                with spans.span("input_generation"):
                    inputs = wl.generate(str(work / f"inputs{i}"))
                t2 = time.perf_counter()
            setup.append(t2 - t0)
            starts.append(t1 - t0)
            hashes.add(inputs.sha256)
            if i == 0:  # the workload reads the first set
                wl.inputs = inputs
            else:
                shutil.rmtree(inputs.sf_dir)

        # -- checks (untimed; also the warm-up) ----------------------------
        wl.start_oracles()
        with spans.span("checks"):
            failures = wl.check(spark)
        if len(hashes) != 1:
            failures.append("generator: the same seed gave different inputs")
        # on the warm JVM, like the stamp after the loop, so the two compare
        calib_before = calib_probe(spark)

        # -- the measured closed loop --------------------------------------
        tracer = None
        if args.trace:
            tracer = Tracer(spans, JobTags(spark, run_id), Py4jCounter(spark))
        untraced, traced = [], []
        mem = MemorySampler()
        with mem.sampling():
            t_start = time.perf_counter()
            while True:
                # traced runs alternate untraced/traced units and end on an
                # untraced one, so both sides sit at the same point of the
                # JVM's warm-up on average
                if tracer is not None and len(untraced) > len(traced):
                    with tracer.py4j.counting(), spans.span("unit", index=len(traced)):
                        traced.append(wl.run_unit(spark, tracer))
                    continue
                untraced.append(wl.run_unit(spark))
                if time.perf_counter() - t_start >= args.seconds and (tracer is None or traced):
                    break
        calib_after = calib_probe(spark)
    finally:
        if spark is not None:
            spark.stop()
            stop_jvm()
        shutil.rmtree(work, ignore_errors=True)

    ops = [o for u in untraced + traced for o in u.ops]
    n_failed_ops = sum(o.failed for o in ops)
    attempted = wl.n_checks + len(ops)
    failed = len(failures) + n_failed_ops
    e2e = e2e_metrics(untraced, wl.input_rows, statistics.median(setup), mem.peak_bytes, attempted, failed)
    units = {m["name"]: m["unit"] for m in bench_cfg["end_to_end"]} | UNGATED_UNITS
    summary = {
        "workload": args.workload,
        "seed": args.seed,
        "input_sha256": wl.inputs.sha256,
        "cores": cores,
        "units": {"untraced": len(untraced), "traced": len(traced)},
        "unit_walls_s": [u.wall_s for u in untraced],
        "unit_ops_s": [[round(o.total_s, 3) for o in u.ops] for u in untraced],
        "phases_s": {r["name"]: r["end"] - r["start"] for r in spans.records if r["parent"] is None and r["name"] != "unit"},
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in e2e.items() if k in units},
        "batch_tail": e2e["_tail"],
        "host.calib_s": {"before": calib_before, "after": calib_after},
        "failures": failures,
    }
    print("perfbench summary " + json.dumps(summary, separators=(",", ":")))

    if args.trace:
        per_layer = {m["name"]: m for m in bench_cfg["per_layer"]}
        values = {
            name: statistics.median(u.layers.get(name, 0.0) for u in traced)
            for name in per_layer
        }
        values["session.start_s"] = statistics.median(starts)
        values["host.calib_s"] = (calib_before + calib_after) / 2
        values["trace.overhead_s"] = statistics.median(u.wall_s for u in traced) - e2e["wall_s"]
        out_dir = ROOT / ".perfbench" / "traces"
        out_dir.mkdir(parents=True, exist_ok=True)
        trace = {
            "summary": summary,
            "per_layer": values,
            "units": [{"wall_s": u.wall_s, "layers": u.layers} for u in traced],
            "self_time_s": spans.self_times(),
            "spans": spans.records,
        }
        (out_dir / f"{args.workload}-seed{args.seed}.json").write_text(json.dumps(trace, indent=1))
        metrics = {k: {"value": values[k], "unit": per_layer[k]["unit"]} for k in per_layer}
    else:
        names = [m["name"] for m in bench_cfg["end_to_end"]]
        metrics = {k: {"value": e2e[k], "unit": units[k]} for k in names}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
