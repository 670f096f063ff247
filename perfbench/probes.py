"""Outside-in probes for the benchmark: the process tree from ``/proc``,
spans around calls into sparkfusion, Spark's status store, and a streaming
query listener. Nothing here changes what the measured program does."""

from __future__ import annotations

import os
import threading
import time
from datetime import datetime

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def read_procs() -> dict[int, tuple[int, int, int, int, str]]:
    """pid -> (ppid, cpu jiffies incl. reaped children, rss bytes, start
    time, command name) for every process visible in ``/proc``."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                s = f.read()
        except OSError:
            continue
        comm = s[s.index("(") + 1 : s.rindex(")")]
        rest = s[s.rindex(")") + 2 :].split()
        cpu = sum(int(x) for x in rest[11:15])
        out[int(d)] = (int(rest[1]), cpu, int(rest[21]) * _PAGE, int(rest[19]), comm)
    return out


def descendants(procs: dict, root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for pid, p in procs.items():
        children.setdefault(p[0], []).append(pid)
    found, stack = [], [root]
    while stack:
        pid = stack.pop()
        if pid in procs:
            found.append(pid)
            stack.extend(children.get(pid, []))
    return found


def pss_bytes(pid: int, fallback: int) -> int:
    """Proportional set size: RSS with pages shared between processes (the
    forked PySpark workers and their daemon) split among them, so a sum over
    a tree counts each page once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return fallback


class ProcTree:
    """Samples this process's tree (the client Python, the Spark JVM and its
    Python workers) in a background thread: peak summed PSS, plus the set
    of PySpark worker processes seen and their CPU."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_rss = 0
        self.peak_parts: dict[str, float] = {}
        self.jvm_pid: int | None = None
        self.workers: dict[tuple[int, int], int] = {}  # (pid, start) -> cpu jiffies
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def reset_peak(self) -> None:
        with self._lock:
            self.peak_rss = 0

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def sample(self) -> int:
        """Take one sample; returns the tree's CPU jiffies."""
        procs = read_procs()
        tree = descendants(procs, os.getpid())
        # java and python only: a helper the JVM forks (readlink, chmod) shares
        # the JVM's memory until it execs, and would count it twice
        pss = {p: pss_bytes(p, procs[p][2]) for p in tree
               if procs[p][4] == "java" or procs[p][4].startswith("python")}
        rss = sum(pss.values())
        with self._lock:
            if rss > self.peak_rss:
                self.peak_rss = rss
                self.peak_parts = {}  # process name -> MB at the peak
                for p, b in pss.items():
                    comm = procs[p][4]
                    self.peak_parts[comm] = self.peak_parts.get(comm, 0) + b / 2**20
            if self.jvm_pid is not None:
                for pid in descendants(procs, self.jvm_pid):
                    _, cpu, _, start, comm = procs[pid]
                    if comm.startswith("python"):
                        self.workers[(pid, start)] = cpu
        return sum(procs[p][1] for p in tree)

    def worker_totals(self) -> tuple[int, float]:
        """(worker processes seen so far, their CPU seconds)."""
        self.sample()
        with self._lock:
            return len(self.workers), sum(self.workers.values()) / _CLK


def cpu_seconds(jiffies: int) -> float:
    return jiffies / _CLK


class Tracer:
    """In-memory spans: name, start, end, parent, run, pass and query.
    The caller writes them out when the run ends."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def span(self, name: str, **attrs):
        return _Span(self, name, attrs)


class _Span:
    def __init__(self, tracer: Tracer, name: str, attrs: dict):
        self.tracer, self.rec = tracer, {"name": name, **attrs}

    def __enter__(self):
        t = self.tracer
        self.rec.update(
            id=len(t.spans), parent=t._stack[-1] if t._stack else None,
            run=t.run_id, start=time.time(),
        )
        t.spans.append(self.rec)
        t._stack.append(self.rec["id"])
        return self.rec

    def __exit__(self, *exc):
        self.rec["end"] = time.time()
        self.tracer._stack.pop()
        return False


STAGE_FIELDS = {
    # metric name -> (StageData getter, scale to the reported unit)
    "operators.tasks": ("numTasks", 1),
    "operators.failed_tasks": ("numFailedTasks", 1),
    "operators.executor_run_s": ("executorRunTime", 1e-3),
    "operators.executor_cpu_s": ("executorCpuTime", 1e-9),
    "operators.gc_s": ("jvmGcTime", 1e-3),
    "operators.shuffle_read_bytes": ("shuffleReadBytes", 1),
    "operators.shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "operators.spill_bytes": ("diskBytesSpilled", 1),
    "sources.input_bytes": ("inputBytes", 1),
    "sources.input_records": ("inputRecords", 1),
    "sources.output_bytes": ("outputBytes", 1),
    "sources.output_records": ("outputRecords", 1),
}


class StatusStore:
    """Reads jobs and their stages from Spark's status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.bus = self.sc._jsc.sc().listenerBus()
        self.next_job = 0
        self.seen_stages: set[int] = set()

    def drain(self) -> None:
        """Wait until the listener events posted so far have been handled."""
        self.bus.waitUntilEmpty(10_000)

    def new_jobs(self) -> list[dict]:
        """Every job submitted since the last call, with its stage totals."""
        self.drain()
        jobs, misses, jid = [], 0, self.next_job
        while misses < 4:  # job ids are dense; tolerate a short gap
            try:
                job = self.store.job(jid)
            except Exception:  # py4j error wrapping NoSuchElementException
                misses += 1
                jid += 1
                continue
            misses = 0
            jid += 1
            self.next_job = jid
            sub = job.submissionTime()
            rec = {
                "job": job.jobId(),
                "group": job.jobGroup().get() if job.jobGroup().isDefined() else None,
                "submitted": sub.get().getTime() / 1000 if sub.isDefined() else None,
                "operators.stages": 0,
            }
            rec.update({k: 0 for k in STAGE_FIELDS})
            for sid in str(job.stageIds().mkString(",")).split(","):
                if not sid or int(sid) in self.seen_stages:
                    continue
                self.seen_stages.add(int(sid))
                try:
                    st = self.store.lastStageAttempt(int(sid))
                except Exception:  # stage never submitted
                    continue
                if str(st.status().toString()) == "SKIPPED":
                    continue
                rec["operators.stages"] += 1
                for name, (getter, scale) in STAGE_FIELDS.items():
                    rec[name] += getattr(st, getter)() * scale
                rec["operators.spill_bytes"] += st.memoryBytesSpilled()
            jobs.append(rec)
        return jobs

    def cache(self) -> tuple[int, int]:
        """(persisted RDDs, bytes they hold in memory and on disk)."""
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        held = sum(i.memSize() + i.diskSize() for i in infos)
        return len(self.sc._jsc.getPersistentRDDs()), held


def make_stream_listener():
    """A ``StreamingQueryListener`` that keeps one record per micro-batch
    progress report, stamped with the batch's start time."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def __init__(self):
            self.batches: list[dict] = []

        def onQueryStarted(self, event):
            pass

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            d = p.durationMs
            ts = datetime.strptime(p.timestamp, "%Y-%m-%dT%H:%M:%S.%fZ")
            self.batches.append(
                {
                    "start": (ts - datetime(1970, 1, 1)).total_seconds(),
                    "streaming.input_rows": p.numInputRows,
                    "streaming.trigger_s": d.get("triggerExecution", 0) / 1000,
                    "streaming.add_batch_s": d.get("addBatch", 0) / 1000,
                    "streaming.state_commit_s": sum(
                        s.commitTimeMs for s in p.stateOperators
                    ) / 1000,
                    "streaming.state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                }
            )

    return ProgressLog()
