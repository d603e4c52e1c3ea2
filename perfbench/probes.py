"""Measurements taken from outside the package.

- ``RssSampler``: peak resident memory of this process tree (the JVM
  and Python workers included), sampled from /proc on a thread. Each
  process counts its proportional set size, so pages that forked Python
  workers share with their parent are counted once.
- ``JobProbe``: per-op Spark job, stage and task counters read from the
  driver's status store after the op, attributed by job id: one client
  runs one op at a time, so every job id issued inside an op's window
  belongs to it, whichever thread submitted it. Jobs whose stages wrote
  output bytes are the op's sink writes.
- ``StreamProbe``: micro-batch progress through a
  ``StreamingQueryListener``.
- ``layer_split``: splits one op's wall time into DataFrame build,
  Catalyst planning, time inside jobs and driver gap.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql.streaming import StreamingQueryListener


def _tree_pids(root: int) -> list[int]:
    pids, stack = [], [root]
    while stack:
        pid = stack.pop()
        pids.append(pid)
        try:
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/children") as f:
                    stack.extend(int(c) for c in f.read().split())
        except OSError:
            continue
    return pids


def _pss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_rss_bytes(root: int | None = None) -> int:
    total = 0
    for pid in _tree_pids(root or os.getpid()):
        try:
            total += _pss_bytes(pid)
        except (OSError, ValueError):  # the process has exited
            continue
    return total


class RssSampler:
    """Peak of ``tree_rss_bytes`` over the sampler's lifetime."""

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes())
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_bytes())


def _opt(o):
    return o.get() if o.isDefined() else None


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clipped_seconds(intervals: list[tuple[float, float]], lo: float,
                    hi: float) -> float:
    return union_seconds([
        (max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi
    ])


class JobProbe:
    """Reads the jobs a SparkContext ran since the last ``take``."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self.store = self._jsc.statusStore()
        # job ids are consecutive; a marker job gives the next one
        self.sc.setJobGroup("perfbench-marker", "perfbench-marker")
        spark.range(1).count()
        self.next_job = max(
            self.sc.statusTracker().getJobIdsForGroup("perfbench-marker")
        ) + 1

    def _job(self, job_id: int):
        try:
            return self.store.job(job_id)
        except Exception:  # py4j NoSuchElementException: no such job yet
            return None

    def take(self, group: str) -> dict:
        """Jobs issued since the previous call, with their stages. Jobs
        whose stages wrote output (file sinks) are also listed apart."""
        self._jsc.listenerBus().waitUntilEmpty()
        jobs = []
        while True:
            jd = self._job(self.next_job)
            if jd is None:
                break
            self.next_job += 1
            sub, end = _opt(jd.submissionTime()), _opt(jd.completionTime())
            ids = jd.stageIds()
            jobs.append({
                "start": sub.getTime() / 1000.0 if sub else None,
                "end": end.getTime() / 1000.0 if end else None,
                "group": _opt(jd.jobGroup()),
                "stages": [ids.apply(i) for i in range(ids.size())],
            })
        out = {
            "jobs": len(jobs),
            "jobs_untagged": sum(j["group"] != group for j in jobs),
            "stages": 0, "tasks": 0, "task_run_s": 0.0, "task_cpu_s": 0.0,
            "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
            "spill_bytes": 0, "task_failures": 0, "output_bytes": 0,
        }
        written: dict[int, int] = {}  # stage id -> output bytes
        for sid in sorted({i for j in jobs for i in j["stages"]}):
            try:
                attempts = self.store.stageData(sid, False, None, False, None)
            except Exception:  # stage evicted from the store
                continue
            for i in range(attempts.size()):
                s = attempts.apply(i)
                if s.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
                out["task_failures"] += s.numFailedTasks()
                out["task_run_s"] += s.executorRunTime() / 1000.0
                out["task_cpu_s"] += s.executorCpuTime() / 1e9
                out["shuffle_read_bytes"] += s.shuffleReadBytes()
                out["shuffle_write_bytes"] += s.shuffleWriteBytes()
                out["spill_bytes"] += (
                    s.memoryBytesSpilled() + s.diskBytesSpilled()
                )
                written[sid] = written.get(sid, 0) + s.outputBytes()
        out["output_bytes"] = sum(written.values())
        done = [j for j in jobs if j["start"] is not None and j["end"] is not None]
        out["intervals"] = [(j["start"], j["end"]) for j in done]
        out["write_intervals"] = [
            (j["start"], j["end"]) for j in done
            if any(written.get(i, 0) for i in j["stages"])
        ]
        return out


def layer_split(t0: float, t_built: float, t_planned: float, t_end: float,
                intervals: list[tuple[float, float]]) -> dict:
    """Split ``[t0, t_end]`` (``time.time()`` seconds, the clock of the
    status store's job timestamps) into four parts that do not
    overlap: build and planning outside jobs, the union of job intervals,
    and the rest of the action outside jobs (driver gap). ``sum_s`` adds
    the four independently, so it exceeds ``wall_s`` by exactly the job
    time that falls outside the op's window: it checks the attribution."""
    busy = union_seconds(intervals)
    build_wall = t_built - t0
    build = build_wall - clipped_seconds(intervals, t0, t_built)
    plan = (t_planned - t_built) - clipped_seconds(intervals, t_built, t_planned)
    gap = (t_end - t_planned) - clipped_seconds(intervals, t_planned, t_end)
    return {
        "wall_s": t_end - t0,
        "build_wall_s": build_wall,
        "build_s": build,
        "plan_s": plan,
        "job_busy_s": busy,
        "gap_s": gap,
        "sum_s": build + plan + busy + gap,
    }


class StreamProbe(StreamingQueryListener):
    """Collects every micro-batch progress report."""

    def __init__(self) -> None:
        self.batches: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        ops = p.stateOperators or []
        self.batches.append({
            "duration_s": p.batchDuration / 1000.0,
            "input_rows": p.numInputRows,
            "state_rows": sum(o.numRowsTotal for o in ops),
            "commit_s": sum(o.commitTimeMs for o in ops) / 1000.0,
            "memory_bytes": sum(o.memoryUsedBytes for o in ops),
        })

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def summary(self, since: int = 0) -> dict:
        """Totals over the batches reported after the first ``since``."""
        b = self.batches[since:]
        return {
            "batches": len(b),
            "durations": [x["duration_s"] for x in b],
            "state_rows": sum(x["state_rows"] for x in b),
            "state_commit_s": sum(x["commit_s"] for x in b),
            "state_memory_bytes": max((x["memory_bytes"] for x in b), default=0),
            "input_rows": sum(x["input_rows"] for x in b),
        }
