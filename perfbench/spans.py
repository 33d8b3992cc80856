"""Span tracing from outside the package.

The benchmark wraps every call into a layer's public function in a span:
name, start, end, parent span and request id, held in memory.  Each span
runs under its own Spark job group, so the jobs it launched can be read
back afterwards from Spark's status store (works with the UI off), along
with their stages' executor CPU, GC time, shuffle bytes and input rows.
CPU time of the JVM's Python worker processes is read from ``/proc`` at
each span boundary.

With tracing off, ``span`` is an empty context manager, so the untraced
run measures the same work without any of this.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

_CLK = os.sysconf("SC_CLK_TCK")


def descendants() -> list[tuple[int, str, list[str]]]:
    """(pid, comm, stat fields) of every process below this one."""
    procs = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue
        # comm may hold spaces; it is enclosed in the outermost parentheses
        comm = raw[raw.index("(") + 1: raw.rindex(")")]
        fields = raw[raw.rindex(")") + 2:].split()
        procs[int(name)] = (int(fields[1]), comm, fields)
    me = os.getpid()
    out = []
    for pid, (ppid, comm, fields) in procs.items():
        p = ppid
        while p in procs and p != me:
            p = procs[p][0]
        if p == me and pid != me:
            out.append((pid, comm, fields))
    return out


def python_worker_cpu_s() -> float:
    """utime+stime of the live Python worker processes, plus the reaped
    workers' time their parent (the PySpark daemon) has collected."""
    total = 0
    for _, comm, f in descendants():
        if comm.startswith("python"):
            total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _CLK


def peak_rss_mb() -> float:
    """Peak resident set (VmHWM) of this driver process plus the JVM."""
    pids = [os.getpid()] + [p for p, comm, _ in descendants() if comm == "java"]
    kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024.0


def _covered(start: float, end: float, intervals: list[tuple[float, float]]) -> float:
    """Length of [start, end] covered by the union of ``intervals``."""
    segs = sorted((max(a, start), min(b, end)) for a, b in intervals if b > start and a < end)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in segs:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


class Tracer:
    """Records spans and, after the run, attributes Spark jobs to them."""

    def __init__(self, spark, enabled: bool) -> None:
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.request_id = 0
        self.pass_no = 0
        self.probe = False  # spans of calls forced on their own, outside a pass

    def next_request(self) -> None:
        self.request_id += 1

    def _set_group(self, group: str | None) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", group)
        self.sc.setLocalProperty("spark.job.description", group)

    @contextmanager
    def span(self, name: str):
        """Time one call into a layer; its Spark jobs run in a job group
        named after the span."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "name": name,
            "id": len(self.spans),
            "parent": parent["id"] if parent else None,
            "request": self.request_id,
            "pass": self.pass_no,
            "group": f"perfbench:{name}#{len(self.spans)}",
            "window": False,
            "probe": self.probe,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec["group"])
        rec["py0"] = python_worker_cpu_s()
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            rec["py1"] = python_worker_cpu_s()
            self._stack.pop()
            self._set_group(parent["group"] if parent else None)

    def add_span(self, name: str, start: float, end: float, group: str, parent: dict | None) -> dict:
        """A span whose bounds were observed after the fact (a pipeline
        stage's manifest marker, a stream micro-batch).  Its jobs are
        those of ``group`` submitted inside [start, end]."""
        rec = {
            "name": name,
            "id": len(self.spans),
            "parent": parent["id"] if parent else None,
            "request": parent["request"] if parent else self.request_id,
            "pass": self.pass_no,
            "group": group,
            "window": True,
            "probe": self.probe,
            "start": start,
            "end": end,
            "py0": 0.0,
            "py1": 0.0,
        }
        self.spans.append(rec)
        return rec

    def harvest(self) -> None:
        """Attach jobs and stage metrics to every span.  Window spans
        claim their jobs first, so a parent keeps only the jobs that ran
        outside its children."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        by_group: dict[str, list[int]] = {}
        job_info: dict[int, tuple[float, float, list[int]]] = {}

        def jobs_of(group: str) -> list[int]:
            if group not in by_group:
                by_group[group] = sorted(tracker.getJobIdsForGroup(group))
            return by_group[group]

        def info(jid: int) -> tuple[float, float, list[int]]:
            if jid not in job_info:
                jd = store.job(jid)
                sub = jd.submissionTime().get().getTime() / 1000.0
                comp = jd.completionTime()
                end = comp.get().getTime() / 1000.0 if comp.isDefined() else sub
                stages = list(tracker.getJobInfo(jid).stageIds)
                job_info[jid] = (sub, end, stages)
            return job_info[jid]

        claimed: set[int] = set()
        order = [s for s in self.spans if s["window"]] + [s for s in self.spans if not s["window"]]
        for s in order:
            jids = []
            for jid in jobs_of(s["group"]):
                if jid in claimed:
                    continue
                sub = info(jid)[0]
                if s["window"] and not (s["start"] <= sub <= s["end"]):
                    continue
                jids.append(jid)
            claimed.update(jids)
            s["jobs"] = jids
        seen_stages: set[int] = set()
        for s in sorted(self.spans, key=lambda r: r["start"]):
            m = dict(cpu=0.0, gc=0.0, shuffle_write=0, input_records=0, output_bytes=0)
            for jid in s["jobs"]:
                for sid in info(jid)[2]:
                    if sid in seen_stages:
                        continue  # a skipped stage re-listed by a later job
                    seen_stages.add(sid)
                    try:
                        st = store.lastStageAttempt(sid)
                    except Py4JJavaError:  # no attempt recorded: the stage never ran
                        continue
                    if st.status().toString() == "SKIPPED":
                        continue
                    m["cpu"] += st.executorCpuTime() / 1e9
                    m["gc"] += st.jvmGcTime() / 1e3
                    m["shuffle_write"] += st.shuffleWriteBytes()
                    m["input_records"] += st.inputRecords()
                    m["output_bytes"] += st.outputBytes()
            s.update(m)
        for s in self.spans:
            kids = [c for c in self.spans if c["parent"] == s["id"]]
            dur = s["end"] - s["start"]
            child_iv = [(c["start"], c["end"]) for c in kids]
            job_iv = [info(j)[:2] for j in s["jobs"]]
            s["self_s"] = dur - _covered(s["start"], s["end"], child_iv)
            s["driver_s"] = dur - _covered(s["start"], s["end"], child_iv + job_iv)
            s["python_cpu_s"] = max(0.0, (s["py1"] - s["py0"]) - sum(c["py1"] - c["py0"] for c in kids))

    def per_pass(self, passes: list, include_probes: bool = True) -> dict[str, dict[str, float]]:
        """Per span name, each measure summed over the given passes and
        divided by their number."""
        out: dict[str, dict[str, float]] = {}
        n = max(1, len(passes))
        for s in self.spans:
            if s["pass"] not in passes or (s["probe"] and not include_probes):
                continue
            agg = out.setdefault(s["name"], {})
            for key, val in (
                ("self_s", s["self_s"]),
                ("driver_s", s["driver_s"]),
                ("jobs", len(s["jobs"])),
                ("jvm_cpu_s", s["cpu"]),
                ("python_cpu_s", s["python_cpu_s"]),
                ("gc_s", s["gc"]),
                ("shuffle_write_bytes", s["shuffle_write"]),
                ("input_records", s["input_records"]),
                ("output_bytes", s["output_bytes"]),
            ):
                agg[key] = agg.get(key, 0.0) + val / n
        return out
