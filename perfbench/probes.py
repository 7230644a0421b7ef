"""Measurement helpers that read the engine from outside.

* ``Spans``: in-memory spans (name, start, end, parent), written out once at
  the end of a run.
* ``StageReader``: per-job-group stage metrics from Spark's own status store
  (works with the UI disabled).
* ``RssSampler``: peak resident memory of the driver JVM plus every process
  it spawned (the Python workers).
* ``CatalogProbe``: counts and times ``catalog.load`` calls by wrapping the
  name every operator module imported.
* ``CountingTransport``: the mock RFC server, counting what it serves.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time
from collections import defaultdict
from collections.abc import Iterator
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

from guidance_for_sap_data_integration_and_management_on_aws_spark import catalog
from guidance_for_sap_data_integration_and_management_on_aws_spark.sources.rfc import MockRfcTransport


class Spans:
    def __init__(self) -> None:
        self.records: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str) -> Iterator[None]:
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.records), "name": name, "parent": parent, "start": time.monotonic()}
        self.records.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.monotonic()

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.records, fh)


STAGE_FIELDS = (
    "cpu_s",
    "run_s",
    "gc_s",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
    "tasks",
    "jobs",
)


class StageReader:
    """Sums the stage metrics of the jobs a timed call starts.  Each call's
    jobs are tagged with a job group named after it, but collected by job
    id, as every job started between entry and exit: a streaming query's
    micro-batches run on the query's own thread under a group of its own.
    Calls run one at a time."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._ssc = self.sc._jsc.sc()
        self._tracker = self.sc._jsc.statusTracker()

    def _next_job_id(self) -> int:
        return self._ssc.dagScheduler().numTotalJobs()

    @contextmanager
    def group(self, name: str) -> Iterator[dict]:
        out: dict = {}
        first = self._next_job_id()
        self.sc.setJobGroup(name, name)
        try:
            yield out
        finally:
            self.sc.setJobGroup("", "")
            out.update(self._collect(range(first, self._next_job_id())))

    def _collect(self, jobs: range) -> dict:
        self._ssc.listenerBus().waitUntilEmpty()
        store = self._ssc.statusStore()
        stages = set()
        for j in jobs:
            info = self._tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds())
        tot = dict.fromkeys(STAGE_FIELDS, 0.0)
        tot["jobs"] = float(len(jobs))
        for s in stages:
            try:
                st = store.lastStageAttempt(s)
            except Py4JJavaError:
                continue  # never submitted (skipped before the store saw it)
            tot["cpu_s"] += st.executorCpuTime() / 1e9
            tot["run_s"] += st.executorRunTime() / 1e3
            tot["gc_s"] += st.jvmGcTime() / 1e3
            tot["shuffle_write_bytes"] += st.shuffleWriteBytes()
            tot["shuffle_read_bytes"] += st.shuffleLocalBytesRead() + st.shuffleRemoteBytesRead()
            tot["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            tot["tasks"] += st.numCompleteTasks()
        return tot


def _descendants(root: int) -> list[int]:
    children = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue  # exited while we looked
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        children[ppid].append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


class RssSampler:
    """Samples the summed RSS of ``pid`` and its descendants on a thread."""

    def __init__(self, pid: int, interval: float = 0.5) -> None:
        self.pid, self.interval = pid, interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, sum(_rss_bytes(p) for p in _descendants(self.pid)))
            self._stop.wait(self.interval)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


class CatalogProbe:
    """Wraps ``catalog.load`` wherever the package imported it, counting
    calls and their driver-side time; ``restore`` puts the originals back."""

    def __init__(self) -> None:
        self.loads = 0
        self.load_s = 0.0
        original = catalog.load

        def load(*args, **kwargs):
            t = time.perf_counter()
            try:
                return original(*args, **kwargs)
            finally:
                self.load_s += time.perf_counter() - t
                self.loads += 1

        self._patched = [
            (mod, attr)
            for name, mod in list(sys.modules.items())
            if name.startswith(catalog.__package__) and mod is not None
            for attr, val in vars(mod).items()
            if val is original
        ]
        for mod, attr in self._patched:
            setattr(mod, attr, load)
        self._original = original

    def restore(self) -> None:
        for mod, attr in self._patched:
            setattr(mod, attr, self._original)


class CountingTransport(MockRfcTransport):
    """The mock RFC server, counting the rows and pages it serves into two
    Spark accumulators (metadata-only calls are not counted)."""

    def __init__(self, n_rows: int, rows_acc, pages_acc) -> None:
        super().__init__(n_rows)
        self.rows_acc, self.pages_acc = rows_acc, pages_acc

    def call(self, *args, **kwargs) -> dict:
        res = super().call(*args, **kwargs)
        if not kwargs.get("no_data"):
            self.rows_acc.add(len(res[res["OUT_TABLE"]]))
            self.pages_acc.add(1)
        return res
