"""Measurement helpers that observe the program from outside.

- ``Tracer``: one span per call at a layer boundary (name, start, end,
  parent), kept in memory and written once when the run ends.
- ``EventLog``: reads the Spark event log of a traced session and groups
  jobs, stages and tasks by the job description the benchmark set around
  each call.
- ``RssSampler``: peak RSS of a driver process tree, read from ``/proc``.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time


class Tracer:
    """In-memory span recorder; the caller writes ``spans`` out at the end."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()


@contextlib.contextmanager
def job_description(spark, desc: str):
    """Tag every Spark job started inside the block with ``desc``."""
    sc = spark.sparkContext
    sc.setJobDescription(desc)
    try:
        yield
    finally:
        sc.setJobDescription(None)


class EventLog:
    """Jobs, stages and tasks of one Spark event log, by job description."""

    def __init__(self, path: str) -> None:
        self.jobs: dict[int, str | None] = {}  # job id -> description
        self.stages: dict[int, dict] = {}
        self.tasks: dict[int, list[dict]] = {}
        stage_desc: dict[int, str] = {}
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    desc = (e.get("Properties") or {}).get("spark.job.description")
                    self.jobs[e["Job ID"]] = desc
                    for sid in e["Stage IDs"]:
                        stage_desc[sid] = desc
                elif kind == "SparkListenerStageCompleted":
                    si = e["Stage Info"]
                    scopes = []
                    for r in si.get("RDD Info", []):
                        if r.get("Scope"):
                            scopes.append(json.loads(r["Scope"]).get("name", ""))
                    self.stages[si["Stage ID"]] = {
                        "start": si.get("Submission Time", 0) / 1e3,
                        "end": si.get("Completion Time", 0) / 1e3,
                        "scopes": scopes,
                    }
                elif kind == "SparkListenerTaskEnd":
                    m = e.get("Task Metrics") or {}
                    info = e["Task Info"]
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    self.tasks.setdefault(e["Stage ID"], []).append(
                        {
                            "run_s": m.get("Executor Run Time", 0) / 1e3,
                            "start": info["Launch Time"] / 1e3,
                            "end": info["Finish Time"] / 1e3,
                            "in_rows": (m.get("Input Metrics") or {}).get("Records Read", 0),
                            "shuffle_read_bytes": sr.get("Local Bytes Read", 0)
                            + sr.get("Remote Bytes Read", 0),
                            "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
                        }
                    )
        for sid, st in self.stages.items():
            st["desc"] = stage_desc.get(sid)

    def stages_of(self, desc: str) -> list[dict]:
        """Completed (not skipped) stages of the jobs tagged ``desc``."""
        out = []
        for sid in sorted(self.stages):
            st = self.stages[sid]
            if st["desc"] == desc and sid in self.tasks:
                out.append({"id": sid, **st, "task_list": self.tasks[sid]})
        return out

    def counts(self, desc: str) -> dict:
        stages = self.stages_of(desc)
        return {
            "jobs": sum(1 for d in self.jobs.values() if d == desc),
            "stages": len(stages),
            "tasks": sum(len(s["task_list"]) for s in stages),
        }


class RssSampler:
    """Peak resident memory of a driver process tree: the driver, its JVM
    and the Python workers, each group's peak summed.

    Only ``java`` and ``python*`` processes count: a JVM that forks a shell
    command shows, until the exec, as a second process with the JVM's whole
    RSS. Peaks are taken per group because the groups peak at different
    moments and a 0.2 s sample rarely lands on all of them at once.
    """

    def __init__(self, pid: int, interval_s: float = 0.2) -> None:
        self.pid = pid
        self.interval_s = interval_s
        self.peak_by_group = {"driver": 0, "jvm": 0, "workers": 0}
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @property
    def peak_bytes(self) -> int:
        return sum(self.peak_by_group.values())

    def _sample(self) -> dict[str, int]:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
            children.setdefault(ppid, []).append(int(name))
        groups = dict.fromkeys(self.peak_by_group, 0)
        todo = [self.pid]
        while todo:
            p = todo.pop()
            todo.extend(children.get(p, ()))
            try:
                with open(f"/proc/{p}/comm") as f:
                    comm = f.read().strip()
                with open(f"/proc/{p}/statm") as f:
                    rss = int(f.read().split()[1]) * self._page
            except OSError:
                continue
            if p == self.pid:
                groups["driver"] += rss
            elif comm == "java":
                groups["jvm"] += rss
            elif comm.startswith("python"):
                groups["workers"] += rss
        return groups

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            for g, rss in self._sample().items():
                self.peak_by_group[g] = max(self.peak_by_group[g], rss)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
