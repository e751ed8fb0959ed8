"""Per-call Spark accounting, read from the driver's status store.

A call's jobs are the jobs whose ids lie above the highest id known
before the call. The range is used instead of ``setJobGroup``: the
package starts some of its jobs on plain ``ThreadPoolExecutor``
threads (``Graph.counts``, ``export.save_bucketed``, the ingest delta
checkpoints), which do not inherit a job group, but every job still
gets the next id. The benchmark has one client thread, so no other
call's jobs fall into the range.

The status store is filled by the asynchronous listener bus, so each
read first waits for the bus to drain. The store keeps only the last
1000 jobs and stages, so each call's stages are read as soon as the
call returns. All of this works with ``spark.ui.enabled=false``.
"""

from __future__ import annotations

import time
from collections import defaultdict

from py4j.protocol import Py4JJavaError

# Stage-level counters summed per call: StageData accessor -> record key.
_STAGE_FIELDS = (
    ("executorRunTime", "executor_run_ms"),
    ("executorCpuTime", "executor_cpu_ns"),
    ("shuffleReadBytes", "shuffle_bytes"),
    ("shuffleWriteBytes", "shuffle_bytes"),
    ("memoryBytesSpilled", "spill_bytes"),
    ("diskBytesSpilled", "spill_bytes"),
)


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(pid: int) -> float:
    """Peak resident set size (VmHWM) of process ``pid``, in MiB."""
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def jvm_gc_ms(spark) -> int:
    """Total collection time of every JVM garbage collector, in ms. In
    local mode the executors live in the driver JVM, so this covers
    executor and driver collections alike."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(int(beans.get(i).getCollectionTime()) for i in range(beans.size()))


def storage(spark) -> tuple[int, int]:
    """(cached blocks, bytes) still held by persisted and checkpointed
    RDDs — the residue a long-lived session carries."""
    infos = spark._jsc.sc().getRDDStorageInfo()
    blocks = nbytes = 0
    for info in infos:
        blocks += int(info.numCachedPartitions())
        nbytes += int(info.memSize()) + int(info.diskSize())
    return blocks, nbytes


class Tracer:
    """Records one row of Spark accounting per traced call.

    ``span(layer, fn, *args)`` runs ``fn(*args)``, times it from
    outside and attributes to it every job it started. The rows stay
    in memory; ``by_layer`` aggregates them at the end of a run.
    """

    def __init__(self, spark):
        self._spark = spark
        self._sc = spark._jsc.sc()
        self._store = self._sc.statusStore()
        self._jvm = spark._jvm
        self.rows: list[dict] = []

    def _drain(self) -> None:
        self._sc.listenerBus().waitUntilEmpty()

    def _jobs(self):
        return self._store.jobsList(self._jvm.java.util.ArrayList())

    def mark(self) -> tuple[int, int]:
        """(highest job id, highest stage id) the store knows now."""
        self._drain()
        jobs = self._jobs()
        if jobs.isEmpty():
            return -1, -1
        head = jobs.head()
        sids = head.stageIds()
        top = max((int(sids.apply(k)) for k in range(sids.length())), default=-1)
        return int(head.jobId()), top

    def span(self, layer: str, fn, *args, **kwargs):
        j0, s0 = self.mark()
        t0 = time.time()
        p0 = time.perf_counter()
        out = fn(*args, **kwargs)
        wall = time.perf_counter() - p0
        self.rows.append(self.collect(layer, j0, s0, t0, wall))
        return out

    def collect(self, layer: str, j0: int, s0: int, t0: float, wall: float) -> dict:
        """Account the jobs above watermark (j0, s0) to one call."""
        self._drain()
        jobs = self._jobs()
        row = defaultdict(float)
        row["layer"] = layer
        row["wall_s"] = wall
        first_submit = None
        stage_ids = set()
        i, n = 0, jobs.length()
        while i < n:
            job = jobs.apply(i)
            if int(job.jobId()) <= j0:
                break
            row["jobs"] += 1
            sub = job.submissionTime()
            if sub.isDefined():
                ms = int(sub.get().getTime())
                first_submit = ms if first_submit is None else min(first_submit, ms)
            sids = job.stageIds()
            for k in range(sids.length()):
                sid = int(sids.apply(k))
                if sid > s0:
                    stage_ids.add(sid)
            i += 1
        empty_tasks = self._jvm.java.util.ArrayList()
        no_q = self._spark._sc._gateway.new_array(self._jvm.double, 0)
        for sid in sorted(stage_ids):
            try:
                attempts = self._store.stageData(sid, False, empty_tasks, False, no_q)
            except Py4JJavaError:
                continue  # evicted from the store; its counters are lost
            for a in range(attempts.length()):
                st = attempts.apply(a)
                if str(st.status().toString()) == "SKIPPED":
                    continue
                row["stages"] += 1
                row["tasks"] += int(st.numCompleteTasks())
                for accessor, key in _STAGE_FIELDS:
                    row[key] += int(getattr(st, accessor)())
        # Driver time before the first job: Python plan construction
        # plus Catalyst planning of the first action.
        if first_submit is None:
            row["plan_s"] = wall
        else:
            row["plan_s"] = min(wall, max(0.0, first_submit / 1000.0 - t0))
        return dict(row)

    def by_layer(self, rows=None) -> dict[str, dict]:
        """Per-layer sums and call counts over ``rows`` (default: all)."""
        agg: dict[str, dict] = {}
        for r in self.rows if rows is None else rows:
            a = agg.setdefault(r["layer"], defaultdict(float))
            a["calls"] += 1
            for k, v in r.items():
                if k != "layer":
                    a[k] += v
        return agg
