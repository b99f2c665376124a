"""Outside-in per-layer collectors.

Nothing here reaches into the program under test. Each collector observes
a layer from the benchmark's side of a public boundary:

- :class:`JobTags` sets ``SparkContext.addJobTag`` around a call and reads
  the tagged jobs back from Spark's own REST status API
  (``/jobs`` → ``stageIds`` → ``/stages``);
- :class:`Py4jCounter` counts the driver's py4j round trips by wrapping the
  gateway client's ``send_command``;
- :class:`Spans` records named spans around the benchmark's own calls;
- :class:`MemorySampler` samples the proportional set size of this process
  and all of its descendants (the driver JVM and its Python workers) from
  ``/proc``;
- :func:`calib_probe` times a fixed, data-independent Spark job.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime, timezone

#: Stage counters that :func:`stage_totals` sums (REST field → key).
_STAGE_SUMS = {
    "numTasks": "tasks",
    "executorRunTime": "run_ms",
    "executorCpuTime": "cpu_ns",
    "jvmGcTime": "gc_ms",
    "inputBytes": "input_bytes",
    "shuffleReadBytes": "shuffle_read_bytes",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "memoryBytesSpilled": "spill_mem_bytes",
    "diskBytesSpilled": "spill_disk_bytes",
    "shuffleFetchWaitTime": "fetch_wait_ms",
}


def _rest_time(s: str | None) -> float | None:
    if not s:
        return None
    return datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%f%Z").replace(tzinfo=timezone.utc).timestamp()


def stage_totals(stages: list[dict]) -> dict[str, float]:
    """Sum the executed (non-skipped) stages' counters.

    ``scan_tasks`` counts tasks of stages that read input bytes;
    ``sched_delay_s`` sums each stage's wait between submission and its
    first task launch; ``pyworker_est_s`` is executor run time the JVM task
    thread spent neither on CPU, in GC nor waiting on shuffle fetches —
    for stages that host a Python UDF that gap is the Python worker.
    """
    out = {k: 0.0 for k in _STAGE_SUMS.values()}
    out.update(stages=0, scan_tasks=0, sched_delay_s=0.0, pyworker_est_s=0.0)
    for st in stages:
        if st.get("status") != "COMPLETE":
            continue
        out["stages"] += 1
        for field, key in _STAGE_SUMS.items():
            out[key] += st.get(field, 0) or 0
        if (st.get("inputBytes") or 0) > 0:
            out["scan_tasks"] += st.get("numTasks", 0)
        sub = _rest_time(st.get("submissionTime"))
        first = _rest_time(st.get("firstTaskLaunchedTime"))
        if sub is not None and first is not None:
            out["sched_delay_s"] += max(0.0, first - sub)
        gap_ms = (
            st.get("executorRunTime", 0)
            - st.get("executorCpuTime", 0) / 1e6
            - st.get("jvmGcTime", 0)
            - st.get("shuffleFetchWaitTime", 0)
        )
        out["pyworker_est_s"] += max(0.0, gap_ms) / 1e3
    return out


class JobTags:
    """Tag the jobs a call submits and read them back over REST."""

    def __init__(self, spark, prefix: str):
        self._sc = spark.sparkContext
        self._base = f"{self._sc.uiWebUrl}/api/v1/applications/{self._sc.applicationId}"
        self._prefix = prefix
        self.tags: list[str] = []

    @contextmanager
    def tag(self, name: str):
        tag = f"{self._prefix}:{name}"
        self.tags.append(tag)
        self._sc.addJobTag(tag)
        try:
            yield tag
        finally:
            self._sc.removeJobTag(tag)

    def _get(self, path: str):
        with urllib.request.urlopen(self._base + path, timeout=30) as r:
            return json.load(r)

    def read(self, settle_s: float = 10.0) -> dict[str, dict]:
        """Per tag: ``jobs`` (count) plus :func:`stage_totals` of its jobs'
        stages. Polls until every tagged job and stage has finished and two
        reads agree, because the status store is fed asynchronously."""
        wanted = set(self.tags)
        deadline = time.monotonic() + settle_s
        prev = None
        while True:
            jobs = [j for j in self._get("/jobs") if wanted & set(j.get("jobTags", []))]
            stages = {s["stageId"]: s for s in self._get("/stages")}
            snap = (
                sorted((j["jobId"], j["status"]) for j in jobs),
                sorted((k, s["status"], s.get("numCompleteTasks")) for k, s in stages.items()),
            )
            done = all(j["status"] != "RUNNING" for j in jobs) and all(
                stages[i]["status"] not in ("ACTIVE", "PENDING")
                for j in jobs
                for i in j["stageIds"]
                if i in stages
            )
            if (done and snap == prev) or time.monotonic() > deadline:
                break
            prev = snap
            time.sleep(0.05)
        out = {}
        for tag in self.tags:
            mine = [j for j in jobs if tag in j.get("jobTags", [])]
            ids = sorted({i for j in mine for i in j["stageIds"]})
            rec = stage_totals([stages[i] for i in ids if i in stages])
            rec["jobs"] = len(mine)
            out[tag] = rec
        return out


class Py4jCounter:
    """Count py4j commands the driver sends while :meth:`counting`."""

    def __init__(self, spark):
        self._client = spark.sparkContext._gateway._gateway_client
        self.calls = 0

    @contextmanager
    def counting(self):
        orig = self._client.send_command

        def send_command(*a, **kw):
            self.calls += 1
            return orig(*a, **kw)

        self._client.send_command = send_command
        try:
            yield self
        finally:
            del self._client.send_command  # back to the class method


class Spans:
    """In-memory spans: name, start, end, parent, run id. Written out once,
    when the run ends."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.records: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.records),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.records.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus the union of the
        intervals its children cover."""
        kids: dict[int, list[dict]] = {}
        for r in self.records:
            if r["parent"] is not None:
                kids.setdefault(r["parent"], []).append(r)
        out: dict[str, float] = {}
        for r in self.records:
            covered, edge = 0.0, r["start"]
            for c in sorted(kids.get(r["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], edge), min(c["end"], r["end"])
                if hi > lo:
                    covered += hi - lo
                    edge = hi
            out[r["name"]] = out.get(r["name"], 0.0) + (r["end"] - r["start"]) - covered
        return out


def _tree_pss_bytes(root: int) -> int:
    """Proportional set size of ``root`` and all its descendants. PSS splits
    pages shared between processes (forked Python workers share most of
    theirs with the daemon) so the sum counts each page once."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(d))
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


class MemorySampler:
    """Peak summed PSS of this process tree (the benchmark, the driver JVM
    and its Python workers), sampled on a thread while :meth:`sampling` is
    active."""

    #: Reading ``smaps_rollup`` walks the driver JVM's page tables (tens of
    #: ms with a 2 GiB heap); sampling more often slowed the runs it measured.
    INTERVAL_S = 0.5

    def __init__(self):
        self.peak_bytes = 0

    @contextmanager
    def sampling(self):
        stop = threading.Event()

        def loop():
            while not stop.is_set():
                self.peak_bytes = max(self.peak_bytes, _tree_pss_bytes(os.getpid()))
                stop.wait(self.INTERVAL_S)

        t = threading.Thread(target=loop, name="memory-sampler", daemon=True)
        t.start()
        try:
            yield self
        finally:
            stop.set()
            t.join(timeout=5)


def calib_probe(spark, repeats: int = 3) -> float:
    """Median wall time of a fixed, data-independent job (codegen hash plus
    one small shuffle over all cores). Recorded beside each run so a host
    window's drift can be told apart from a code change; never used to
    scale any metric."""
    samples = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        (
            spark.range(0, 4_000_000)
            .selectExpr("xxhash64(id) % 1000 AS h", "xxhash64(id * 7) % 64 AS b")
            .groupBy("b")
            .agg({"h": "sum"})
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        samples.append(time.perf_counter() - t0)
    return statistics.median(samples)


def dir_stats(path: str) -> tuple[int, int]:
    """(data file count, total bytes) under ``path``; hidden and ``_``
    files (checksums, markers) are counted in bytes but not as files."""
    n = size = 0
    for dirpath, _, files in os.walk(path):
        for name in files:
            size += os.path.getsize(os.path.join(dirpath, name))
            if not name.startswith((".", "_")):
                n += 1
    return n, size
