"""Spark-side probes of the benchmark: session lifecycle, job and stage
figures from the status store, JVM heap/GC/thread readings, cache cleanup
between ops and the Spark form of the output fingerprint.

Every figure is read from outside the program; the status store works over
py4j with ``spark.ui.enabled=false``."""

from __future__ import annotations

import contextlib
import gc
import os
import subprocess
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

from perfbench.stats import HASH_MOD


def start_session(work_dir: str, cpus: int):
    """The engine's own session factory (``osm_cut_spark.session``) with
    the settings a shared benchmark host needs: a bounded driver heap and
    Spark's scratch space inside ``work_dir``."""
    from osm_cut_spark.session import get_session

    local = os.path.join(work_dir, "spark-local")
    os.makedirs(local, exist_ok=True)
    return get_session(
        app_name="perfbench",
        cpus=cpus,
        extra_conf={
            "spark.driver.memory": "3g",
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(local, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # the traced run reads every job of an op back from the store
            "spark.ui.retainedJobs": "5000",
            "spark.ui.retainedStages": "10000",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait until the gateway JVM (and with it the Python
    worker daemons it forked) has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is None:
        return
    if proc.stdin is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)


@dataclass(frozen=True)
class Job:
    job_id: int
    group: str | None
    name: str
    start: float
    end: float
    stage_ids: tuple[int, ...]


@dataclass
class StageTotals:
    tasks: int = 0
    cpu_s: float = 0.0
    run_s: float = 0.0
    shuffle_mb: float = 0.0
    max_task_s: float = 0.0


def _opt(o, default=None):
    return o.get() if o.isDefined() else default


class StatusReader:
    """Reads jobs and stages of the running application from its status
    store.  Call ``sync()`` before reading: the store is filled by the
    asynchronous listener bus."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._ssc = self.sc._jsc.sc()
        self._store = self._ssc.statusStore()
        self._jvm = spark._jvm

    def sync(self) -> None:
        self._ssc.listenerBus().waitUntilEmpty(30_000)

    def jobs(self, start: float, end: float) -> list[Job]:
        """Finished jobs submitted inside the wall-clock window [start, end]
        (seconds since the epoch, as ``time.time()`` reads them)."""
        out = []
        seq = self._store.jobsList(None)
        for i in range(seq.size()):
            j = seq.apply(i)
            sub = _opt(j.submissionTime())
            if sub is None:
                continue
            t0 = sub.getTime() / 1000.0
            if not (start - 0.001 <= t0 <= end + 0.001):
                continue
            done = _opt(j.completionTime())
            t1 = done.getTime() / 1000.0 if done is not None else end
            ids = j.stageIds()
            out.append(
                Job(
                    job_id=j.jobId(),
                    group=_opt(j.jobGroup()),
                    name=j.name(),
                    start=t0,
                    end=t1,
                    stage_ids=tuple(ids.apply(k) for k in range(ids.size())),
                )
            )
        out.sort(key=lambda r: r.job_id)
        return out

    def stages(self, jobs: list[Job], task_max: bool = False) -> StageTotals:
        """Totals over the completed stages of ``jobs``; a stage shared by
        several jobs counts once, skipped stages not at all."""
        tot = StageTotals()
        seen: set[int] = set()
        for job in jobs:
            for sid in job.stage_ids:
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    s = self._store.lastStageAttempt(sid)
                except Py4JJavaError:  # stage evicted or never submitted
                    continue
                if s.status().toString() != "COMPLETE":
                    continue
                tot.tasks += s.numCompleteTasks()
                tot.cpu_s += s.executorCpuTime() / 1e9
                tot.run_s += s.executorRunTime() / 1e3
                tot.shuffle_mb += s.shuffleWriteBytes() / 1e6
                if task_max:
                    tasks = self._store.taskList(sid, s.attemptId(), 1 << 30)
                    for k in range(tasks.size()):
                        d = _opt(tasks.apply(k).duration(), 0)
                        tot.max_task_s = max(tot.max_task_s, d / 1e3)
        return tot

    # ---- JVM-wide readings -------------------------------------------------

    def gc_seconds(self) -> float:
        """Collection time of every JVM garbage collector so far."""
        beans = self._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(0, beans.get(i).getCollectionTime()) for i in range(beans.size())) / 1e3

    def jvm_threads(self) -> int:
        return self._jvm.java.lang.management.ManagementFactory.getThreadMXBean().getThreadCount()

    def heap_after_gc_mb(self) -> float:
        """Retained heap: used heap right after a full collection."""
        self._jvm.System.gc()
        rt = self._jvm.java.lang.Runtime.getRuntime()
        return (rt.totalMemory() - rt.freeMemory()) / 1e6

    def persisted_count(self) -> int:
        """RDDs (cached DataFrames included) still persisted."""
        return self.sc._jsc.getPersistentRDDs().size()

    def release_all(self, spark) -> None:
        """Unpersist whatever an op left cached and collect Python garbage,
        so that no op is served from a predecessor's cache.  The JVM side
        is collected by ``heap_after_gc_mb``."""
        spark.catalog.clearCache()
        rdds = self.sc._jsc.getPersistentRDDs()
        for rdd in list(rdds.values()):
            rdd.unpersist(True)
        gc.collect()


def fingerprint_cols(*cols):
    """Aggregate columns (rows, hashsum): the Spark form of
    ``stats.fingerprint`` over ``xxhash64(*cols)`` row hashes."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*cols)
    return (
        F.count(F.lit(1)).alias("fp_rows"),
        F.coalesce(F.sum(F.pmod(h, F.lit(HASH_MOD))), F.lit(0)).alias("fp_sum"),
    )


def set_job_group(sc, group: str | None) -> None:
    """Tag the calling thread's next jobs with ``group`` (None clears it).
    Jobs of threads the program starts itself do not inherit the tag."""
    if group is None:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    else:
        sc.setJobGroup(group, group)


@dataclass
class Span:
    name: str
    op: str
    parent: str | None
    group: str
    start: float
    end: float = 0.0
    values: dict = field(default_factory=dict)

    def owns(self, job: Job) -> bool:
        """A job belongs to the span whose group it carries and to every
        enclosing span."""
        return job.group is not None and (
            job.group == self.group or job.group.startswith(self.group + ".")
        )


class Tracer:
    """In-memory spans around the benchmark's calls into each layer.  A
    span runs its calls under a job group nested in the enclosing one
    (``pb.op3.cut_job.sink.extract.output``), so the status store can
    attribute each job to its span; the enclosing group is restored on
    exit."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._open: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str, op: str):
        outer = self.sc.getLocalProperty("spark.jobGroup.id")
        rec = Span(
            name,
            op,
            self._open[-1].name if self._open else "op",
            f"{outer or 'pb.' + op}.{name}",
            time.time(),
        )
        set_job_group(self.sc, rec.group)
        self._open.append(rec)
        try:
            yield rec
        finally:
            rec.end = time.time()
            self._open.pop()
            set_job_group(self.sc, outer)
            self.spans.append(rec)
