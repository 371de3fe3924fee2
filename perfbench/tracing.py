"""Tracing for the benchmark's traced run.

Everything here lives in the benchmark process and reads what Spark
already records; nothing in the package is edited:

* ``Tracer`` keeps spans (name, start, end, parent) in memory and
  writes them out at the end; ``self_times`` gives each span name's
  self time (its duration minus its children's).
* ``Py4jCounter`` wraps the py4j client's ``send_command`` to count
  driver-to-JVM round trips.
* ``StreamListener`` is a ``StreamingQueryListener`` collecting
  micro-batch progress.
* ``SparkReader`` reads job, stage and task counters from the
  scheduler and the app status store, and SQL metrics of plan nodes
  from the SQL status store, for the ids created inside a span.
"""

from __future__ import annotations

import datetime
import json
import re
import statistics
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

MB = 1e6


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "start": time.perf_counter(), "end": None, "parent": parent}
        rec.update(attrs)
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def add(self, name: str, start: float, end: float, parent: int | None) -> None:
        """Record a span whose bounds were taken elsewhere."""
        self.spans.append({"name": name, "start": start, "end": end, "parent": parent})

    def self_times(self, root: int) -> dict[str, float]:
        """Self time per span name over the subtree under ``root``."""
        inside = {root}
        for i in range(root + 1, len(self.spans)):
            if self.spans[i]["parent"] in inside:
                inside.add(i)
        child = dict.fromkeys(inside, 0.0)
        for i in inside:
            p = self.spans[i]["parent"]
            if i != root and p in child:
                child[p] += self.spans[i]["end"] - self.spans[i]["start"]
        out: dict[str, float] = {}
        for i in inside:
            s = self.spans[i]
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - child[i]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


class Py4jCounter:
    """Counts py4j ``send_command`` calls while ``active``."""

    def __init__(self, spark) -> None:
        self.calls = 0
        self.active = False
        client = spark.sparkContext._gateway._gateway_client
        inner = client.send_command

        def send_command(*args, **kwargs):
            if self.active:
                self.calls += 1
            return inner(*args, **kwargs)

        client.send_command = send_command


def _epoch_s(iso: str) -> float:
    return datetime.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


class StreamListener(StreamingQueryListener):
    """Micro-batch progress of every streaming query in the session.
    Times come from the events' JVM timestamps, not from when the
    listener bus delivers them."""

    def __init__(self) -> None:
        self.started: dict[str, float] = {}
        self.finished: dict[str, float] = {}
        self.batches = 0
        self.batch_ms = 0
        self.state_rows: dict[str, int] = {}

    def onQueryStarted(self, event) -> None:
        self.started[str(event.id)] = _epoch_s(event.timestamp)

    def onQueryProgress(self, event) -> None:
        p = event.progress
        qid = str(p.id)
        self.batches += 1
        self.batch_ms += p.batchDuration
        self.state_rows[qid] = sum(s.numRowsTotal for s in p.stateOperators)
        end = _epoch_s(p.timestamp) + p.batchDuration / 1000
        self.finished[qid] = max(end, self.finished.get(qid, end))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def take(self) -> dict[str, float]:
        """Counters since the last call: the final state size and the
        drain time (start to end of the last batch) summed over queries."""
        out = {
            "streaming.batches": self.batches,
            "streaming.batch_s": self.batch_ms / 1000,
            "streaming.state_rows": sum(self.state_rows.values()),
            "streaming.drain_s": sum(
                end - self.started[q] for q, end in self.finished.items() if q in self.started
            ),
        }
        self.batches, self.batch_ms = 0, 0
        self.state_rows.clear()
        self.started.clear()
        self.finished.clear()
        return out


_NUM = re.compile(r"([\d.,]+)\s*([A-Za-z]*)")
_SCALE = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4,
    "": 1.0,
}


def parse_metric(text: str) -> float:
    """Total of a SQL metric as the status store renders it: ``'1,000'``,
    ``'80 ms'`` or ``'total (min, med, max ...)\\n2.5 s (...)'``; seconds
    for timings, bytes for sizes."""
    m = _NUM.search(text.split("\n", 1)[-1])
    if m is None:
        return 0.0
    return float(m.group(1).replace(",", "")) * _SCALE.get(m.group(2), 1.0)


class SparkReader:
    """Counters Spark records for the jobs, stages and SQL executions
    created between two ``mark()`` calls."""

    def __init__(self, spark) -> None:
        self.jsc = spark.sparkContext._jsc.sc()
        self.dag = self.jsc.dagScheduler()
        self.store = self.jsc.statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()

    def mark(self) -> tuple[int, int, int]:
        return (
            self.dag.nextJobId(),  # py4j hands the AtomicInteger over as an int
            self.dag.nextStageId(),
            self.sql.executionsCount(),
        )

    def settle(self) -> None:
        """Wait until the listener bus has delivered every event."""
        self.jsc.listenerBus().waitUntilEmpty()

    def stages(self, s0: int, s1: int) -> list[dict]:
        """Stages created in [s0, s1) that ran to completion."""
        out = []
        for sid in range(s0, s1):
            try:
                st = self.store.lastStageAttempt(sid)
            except Exception:  # evicted or never registered
                continue
            if st.status().toString() != "COMPLETE":
                continue
            sub, done = st.submissionTime(), st.completionTime()
            wall = (
                (done.get().getTime() - sub.get().getTime()) / 1000
                if sub.isDefined() and done.isDefined()
                else 0.0
            )
            out.append(
                {
                    "id": sid,
                    "attempt": st.attemptId(),
                    "wall": wall,
                    "tasks": st.numTasks(),
                    "run_s": st.executorRunTime() / 1000,
                    "cpu_s": st.executorCpuTime() / 1e9,
                    "gc_s": st.jvmGcTime() / 1000,
                    "input_b": st.inputBytes(),
                    "shuffle_read_b": st.shuffleReadBytes(),
                    "shuffle_write_b": st.shuffleWriteBytes(),
                    "spill_b": st.diskBytesSpilled(),
                }
            )
        return out

    def skew(self, stage: dict) -> float:
        """Max over median task duration of one stage."""
        tasks = self.store.taskList(stage["id"], stage["attempt"], 1 << 20)
        ms = []
        for i in range(tasks.size()):
            d = tasks.apply(i).duration()
            if d.isDefined():
                ms.append(d.get())
        med = statistics.median(ms) if ms else 0
        return max(ms) / med if med else 1.0

    def sql_nodes(self, e0: int, e1: int) -> dict[str, float]:
        """Scan time and Python-worker metrics of the plan nodes of the
        SQL executions registered in [e0, e1)."""
        out = {
            "scan_s": 0.0,
            "python_s": 0.0,
            "python_sent_b": 0.0,
            "python_recv_b": 0.0,
            "python_rows": 0.0,
        }
        if e1 <= e0:
            return out
        execs = self.sql.executionsList(e0, e1 - e0)
        for i in range(execs.size()):
            eid = execs.apply(i).executionId()
            values = self.sql.executionMetrics(eid)
            nodes = self.sql.planGraph(eid).allNodes()
            for j in range(nodes.size()):
                node = nodes.apply(j)
                found: dict[str, float] = {}
                metrics = node.metrics()
                for k in range(metrics.size()):
                    m = metrics.apply(k)
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        found[m.name()] = parse_metric(v.get())
                if "data returned from Python workers" in found:
                    out["python_s"] += found.get("time to run Python workers", 0.0)
                    out["python_sent_b"] += found.get("data sent to Python workers", 0.0)
                    out["python_recv_b"] += found["data returned from Python workers"]
                    out["python_rows"] += found.get("number of output rows", 0.0)
                out["scan_s"] += found.get("scan time", 0.0)
        return out


def exec_metrics(reader: SparkReader, m0: tuple, m1: tuple) -> dict[str, float]:
    """The ``exec.*`` and ``functions.*`` counters between two marks."""
    stages = reader.stages(m0[1], m1[1])
    nodes = reader.sql_nodes(m0[2], m1[2])
    return {
        "exec.jobs": m1[0] - m0[0],
        "exec.stages": len(stages),
        "exec.tasks": sum(s["tasks"] for s in stages),
        "exec.task_run_s": sum(s["run_s"] for s in stages),
        "exec.task_cpu_s": sum(s["cpu_s"] for s in stages),
        "exec.gc_s": sum(s["gc_s"] for s in stages),
        "exec.scan_s": nodes["scan_s"],
        "exec.input_mb": sum(s["input_b"] for s in stages) / MB,
        "exec.shuffle_write_mb": sum(s["shuffle_write_b"] for s in stages) / MB,
        "exec.shuffle_read_mb": sum(s["shuffle_read_b"] for s in stages) / MB,
        "exec.spill_mb": sum(s["spill_b"] for s in stages) / MB,
        "functions.python_s": nodes["python_s"],
        "functions.python_sent_mb": nodes["python_sent_b"] / MB,
        "functions.python_recv_mb": nodes["python_recv_b"] / MB,
        "functions.python_rows": nodes["python_rows"],
        "_stages": stages,
    }
