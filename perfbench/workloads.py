"""The benchmark's workloads: inputs, the correctness gate, and one
operation run plain (timed) or traced.

``wordcount`` runs the paper's whole job, ``operators.mapreduce.run_job``
with every reference quirk on (Q1 trailing-token drop, Q2 line fusion,
Q3 first-char partitioner) and 8 reducers, over a Zipf-vocabulary text.
It is the one workload that reads text through the row-at-a-time
Python path of ``sources.text.chunked_lines`` and writes files, and it
builds almost no plan.

``pipeline_small`` runs registry queries through the noop sink over
fixture-shaped tables of sf0.001 size, where plan building, Catalyst,
job scheduling, micro-batch overhead and Python-worker traffic dominate
execution. README.md says why each query is in the list.
"""

from __future__ import annotations

import collections
import os
import shutil
import statistics
import time

from pyspark.sql import DataFrameWriter
from pyspark.sql.streaming import StreamingQuery

import gen
import tracing as tr
from nthu_cs542200_parallel_programming_hw4_mapreduce_spark import registry
from nthu_cs542200_parallel_programming_hw4_mapreduce_spark.operators import mapreduce as mr
from tools.parity import compare, duck_con

PLAN_MODULES = ("core", "streaming", "text", "dedup", "similarity")


def _zero_layers() -> dict[str, float]:
    names = [
        "plans.build_s", "plans.build_jobs", "plans.py4j_calls",
        *(f"plans.{m}.build_s" for m in PLAN_MODULES),
        "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
        "exec.s", "exec.jobs", "exec.stages", "exec.tasks", "exec.task_run_s",
        "exec.task_cpu_s", "exec.gc_s", "exec.scan_s", "exec.input_mb",
        "exec.shuffle_write_mb", "exec.shuffle_read_mb", "exec.spill_mb",
        "functions.python_s", "functions.python_sent_mb",
        "functions.python_recv_mb", "functions.python_rows",
        "sources.text.chunk_s", "mapreduce.map_s", "mapreduce.reduce_s",
        "mapreduce.commit_s", "mapreduce.shuffle_mb", "mapreduce.reduce_skew",
    ]
    return dict.fromkeys(names, 0.0)


class TraceContext:
    """Everything the traced run attaches to one session."""

    def __init__(self, spark) -> None:
        self.tracer = tr.Tracer()
        self.reader = tr.SparkReader(spark)
        self.py4j = tr.Py4jCounter(spark)
        self.streams = tr.StreamListener()
        spark.streams.addListener(self.streams)


def _add_exec(layers: dict, em: dict) -> None:
    for k, v in em.items():
        if not k.startswith("_"):
            layers[k] += v


class Pipeline:
    """Registry queries through the noop sink."""

    name = "pipeline_small"
    QUERIES = (
        "agg_count",
        "event_window",
        "dedup_exact",
        "arrow_map_batches",
        "kmeans_assign",
        "streaming_stateful",
    )

    def __init__(self, work: str, seed: int) -> None:
        self.sf_dir = os.path.join(work, "tables")
        self.inputs = gen.write_tables(self.sf_dir, seed)
        self.input_bytes = sum(t["bytes"] for t in self.inputs.values())
        self.queries = registry.all_queries()
        self.ops = list(self.QUERIES)

    def gate(self, spark) -> list[str]:
        """Check every query once: oracle-backed ones must match their
        DuckDB oracle, rows-only ones must complete. Returns failures."""
        oracles = registry.all_oracles()
        con = duck_con(self.sf_dir)
        failures = []
        for name in self.ops:
            try:
                got = self.queries[name](spark, self.sf_dir).toPandas()
                if name in oracles:
                    problems = compare(name, got, con.execute(oracles[name]).df())
                    if problems:
                        failures.append(f"{name}: {problems[0]}")
            except Exception as e:  # a failing query is a gate result
                failures.append(f"{name}: raised {type(e).__name__}: {e}")
        con.close()
        return failures

    def verify(self) -> list[str]:
        """The noop sink keeps no output; the gate checked the results."""
        return []

    def run(self, spark, name: str) -> None:
        self.queries[name](spark, self.sf_dir).write.format("noop").mode("overwrite").save()

    def run_traced(self, spark, name: str, ctx: TraceContext, layers: dict) -> None:
        t, reader = ctx.tracer, ctx.reader
        fn = self.queries[name]
        module = fn.__module__.rsplit(".", 1)[-1]
        drains: list[tuple[float, int]] = []  # (seconds, jobs) of each stream drain
        original_drain = StreamingQuery.processAllAvailable

        def drain(query):
            # a streaming query drains while its DataFrame is built: that is
            # execution, so it leaves the plans.* figures
            ctx.py4j.active = False
            m = reader.mark()
            with t.span("streaming.drain") as rec:
                try:
                    return original_drain(query)
                finally:
                    drains.append((time.perf_counter() - rec["start"], reader.mark()[0] - m[0]))
                    ctx.py4j.active = True

        with t.span("op", query=name):
            m0 = reader.mark()
            ctx.py4j.active = True
            StreamingQuery.processAllAvailable = drain
            try:
                with t.span("plans.build", module=module) as build:
                    df = fn(spark, self.sf_dir)
            finally:
                StreamingQuery.processAllAvailable = original_drain
                ctx.py4j.active = False
            m_build = reader.mark()
            with t.span("catalyst.plan"):
                qe = df._jdf.queryExecution()
                qe.executedPlan()
                phases = qe.tracker().phases()
            with t.span("exec.run") as run:
                df.write.format("noop").mode("overwrite").save()
            with t.span("trace.read"):
                reader.settle()
                m1 = reader.mark()
                em = tr.exec_metrics(reader, m0, m1)
                for phase in ("analysis", "optimization", "planning"):
                    got = phases.get(phase)
                    if got.isDefined():
                        layers[f"catalyst.{phase}_s"] += got.get().durationMs() / 1000
        drain_s = sum(s for s, _ in drains)
        build_s = build["end"] - build["start"] - drain_s
        layers["plans.build_s"] += build_s
        layers[f"plans.{module}.build_s"] += build_s
        layers["plans.build_jobs"] += m_build[0] - m0[0] - sum(j for _, j in drains)
        layers["exec.s"] += run["end"] - run["start"] + drain_s
        _add_exec(layers, em)
        layers["_stages"].extend(em["_stages"])


def reference_outputs(text_path: str, chunk_size: int, reducers: int) -> list[str]:
    """Pure-Python WordCount under quirks Q1-Q3: the expected content of
    each reducer file, sorted ascending by word."""
    with open(text_path) as f:
        lines = f.read().split("\n")[:-1]
    counts: collections.Counter[str] = collections.Counter()
    for i in range(0, len(lines), chunk_size):
        counts.update("".join(lines[i : i + chunk_size]).split(" ")[:-1])  # Q2, Q1
    files: list[list[str]] = [[] for _ in range(reducers)]
    for word, n in sorted(counts.items()):
        files[(ord(word[0]) if word else 0) % reducers].append(f"{word} {n}\n")  # Q3
    return ["".join(f) for f in files]


#: The reference's event-log vocabulary and each row's field count.
LOG_ARITY = {
    "Start_Job": 9,
    "Dispatch_MapTask": 4,
    "Complete_MapTask": 4,
    "Dispatch_ReduceTask": 4,
    "Complete_ReduceTask": 4,
    "Finish_Job": 3,
}


class Wordcount:
    """The faithful MapReduce job, one operation per job."""

    name = "wordcount"
    REDUCERS = 8
    CHUNK_LINES = 50
    LINES = 20_000

    def __init__(self, work: str, seed: int) -> None:
        self.work = work
        self.inputs = gen.write_wordcount(
            os.path.join(work, "text"), seed, self.LINES, self.CHUNK_LINES
        )
        self.input_bytes = self.inputs["bytes"]
        self.expected = reference_outputs(
            self.inputs["input"], self.CHUNK_LINES, self.REDUCERS
        )
        self.ops = ["wordcount"]
        self.pending: list[str] = []
        self._runs = 0

    def _config(self) -> mr.JobConfig:
        self._runs += 1
        return mr.JobConfig(
            job_name="wc",
            num_reducer=self.REDUCERS,
            delay=0,
            input_path=self.inputs["input"],
            chunk_size=self.CHUNK_LINES,
            locality_config=self.inputs["locality"],
            output_dir=os.path.join(self.work, "out", str(self._runs)),
            drop_trailing_token=True,
            fuse_chunk_lines=True,
            partition_fn="first_char",
        )

    def check(self, out_dir: str) -> str | None:
        """None when the reducer files and the event log are right."""
        try:
            outputs = []
            for r in range(self.REDUCERS):
                with open(os.path.join(out_dir, f"wc-{r + 1}.out")) as f:
                    outputs.append(f.read())
            with open(os.path.join(out_dir, "wc-log.out")) as f:
                rows = [line.split(",") for line in f.read().splitlines()]
        except OSError as e:
            return f"missing output: {e}"
        for r, (got, want) in enumerate(zip(outputs, self.expected)):
            if got != want:
                return f"reducer {r + 1} output differs from the reference count"
        kinds = collections.Counter(r[1] for r in rows if len(r) > 1)
        bad = [r for r in rows if LOG_ARITY.get(r[1] if len(r) > 1 else "") != len(r)]
        bad += [r for r in rows if not r[0].isdigit()]
        want = {
            "Start_Job": 1,
            "Finish_Job": 1,
            "Dispatch_MapTask": self.inputs["chunks"],
            "Complete_MapTask": self.inputs["chunks"],
            "Dispatch_ReduceTask": self.REDUCERS,
            "Complete_ReduceTask": self.REDUCERS,
        }
        if bad or kinds != want or rows[0][1] != "Start_Job" or rows[-1][1] != "Finish_Job":
            return "event log does not follow the reference vocabulary"
        return None

    def gate(self, spark) -> list[str]:
        try:
            self.run(spark, "wordcount")
        except Exception as e:
            return [f"wordcount: raised {type(e).__name__}: {e}"]
        return self.verify()

    def verify(self) -> list[str]:
        """Check, then delete, every output written since the last call."""
        failures = []
        for out_dir in self.pending:
            problem = self.check(out_dir)
            if problem:
                failures.append(f"wordcount: {problem}")
            shutil.rmtree(out_dir, ignore_errors=True)
        self.pending.clear()
        return failures

    def run(self, spark, name: str) -> dict:
        cfg = self._config()
        out = mr.run_job(spark, cfg)
        self.pending.append(cfg.output_dir)  # a job that raised is counted once
        return out

    def run_traced(self, spark, name: str, ctx: TraceContext, layers: dict) -> None:
        t, reader = ctx.tracer, ctx.reader
        cfg = self._config()
        marks = {}
        status_end = []
        originals = (mr.wordcount_df, mr.chunked_lines, mr._group_task_ms, DataFrameWriter.text)

        def wordcount_df(spark_, cfg_):
            ctx.py4j.active = True
            with t.span("plans.build", module="mapreduce") as rec:
                try:
                    return originals[0](spark_, cfg_)
                finally:
                    ctx.py4j.active = False
                    marks["build"] = reader.mark()
                    marks["build_span"] = rec

        def chunked_lines(*a, **kw):
            with t.span("sources.text.chunk") as rec:
                out = originals[1](*a, **kw)
            marks["chunk"] = rec
            return out

        def group_task_ms(*a, **kw):
            with t.span("mapreduce.status"):
                out = originals[2](*a, **kw)
            status_end.append(time.perf_counter())
            return out

        def text(self_, *a, **kw):
            with t.span("exec.run") as rec:
                marks["write_m0"] = reader.mark()
                out = originals[3](self_, *a, **kw)
            marks["write"] = rec
            return out

        mr.wordcount_df, mr.chunked_lines, mr._group_task_ms = (
            wordcount_df, chunked_lines, group_task_ms,
        )
        DataFrameWriter.text = text
        job_idx = len(t.spans)
        try:
            with t.span("mapreduce.job") as job:
                m0 = reader.mark()
                out = mr.run_job(spark, cfg)
        finally:
            mr.wordcount_df, mr.chunked_lines, mr._group_task_ms, DataFrameWriter.text = (
                originals
            )
        self.pending.append(cfg.output_dir)
        t.add("mapreduce.commit", status_end[-1], job["end"], job_idx)
        with t.span("trace.read"):
            reader.settle()
            m1 = reader.mark()
            em = tr.exec_metrics(reader, m0, m1)
            write_stages = [s for s in em["_stages"] if s["id"] >= marks["write_m0"][1]]
            reduce_stage = max(write_stages, key=lambda s: s["id"])

        def span_s(rec: dict) -> float:
            return rec["end"] - rec["start"]

        layers["plans.build_s"] += span_s(marks["build_span"])
        layers["plans.build_jobs"] += marks["build"][0] - m0[0]
        layers["exec.s"] += span_s(marks["write"])
        _add_exec(layers, em)
        layers["_stages"].extend(em["_stages"])
        layers["sources.text.chunk_s"] += span_s(marks["chunk"])
        layers["mapreduce.map_s"] += sum(
            s["wall"] for s in em["_stages"] if s is not reduce_stage
        )
        layers["mapreduce.reduce_s"] += reduce_stage["wall"]
        layers["mapreduce.commit_s"] += job["end"] - status_end[-1]
        layers["mapreduce.shuffle_mb"] += sum(s["shuffle_write_b"] for s in em["_stages"]) / tr.MB
        ms = out["reduce_task_ms"]
        if ms and statistics.median(ms):
            layers["mapreduce.reduce_skew"] = max(ms) / statistics.median(ms)


WORKLOADS = {w.name: w for w in (Wordcount, Pipeline)}


def new_layers() -> dict:
    layers = _zero_layers()
    layers["_stages"] = []
    return layers
