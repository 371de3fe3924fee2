"""Faithful MapReduce surface — the reference's whole API, on Spark.

``run_job`` mirrors the reference CLI contract exactly
(``mpirun ./hw4 JOB_NAME NUM_REDUCER DELAY INPUT_FILE CHUNK_SIZE
LOCALITY_CONFIG OUTPUT_DIR``, hw4.cc:42-49) and generalizes the
hard-coded pipeline hooks (hw4.cc:32-40: split/map/partition/sort/
group/reduce) into pluggable functions, with the reference's semantic
quirks behind explicit flags (SURVEY.md §2.3/§7.4):

* Q1 ``drop_trailing_token`` — tokenizer drops each chunk's last token
  (hw4.cc:460-465 only emits a token when a following space exists).
* Q2 ``fuse_chunk_lines`` — lines concatenate with no separator
  (hw4.cc:72).
* Q3 ``partition_fn='first_char'`` — reducer = ord(word[0]) % R
  (hw4.cc:479; the skew the PDF admits to). ``'hash'`` = the
  commented-out proper hash (hw4.cc:477-478) via Spark's default.
* Q4/Q6/Q7 (racy shuffle files, redundant reads, task-count-from-
  locality-file) are defects, not semantics — not reproduced; the
  locality table is still parsed and logged for O2/O12 parity.

Output contract (O11, hw4.cc:350-357): one text file per reducer named
``{output_dir}/{job_name}-{r}.out`` (r is 1-based), lines
``"word count"``, ascending by word within the file (descending when
``sort_ascending=False`` — the ``ascend`` flag of hw4.cc:411-415).

Event log (O14): ``{output_dir}/{job_name}-log.out`` CSV with the
reference's exact vocabulary (hw4.cc:84-203): Start_Job,
Dispatch_MapTask, Complete_MapTask, Dispatch_ReduceTask,
Complete_ReduceTask, Finish_Job.

Physically this is Spark end-to-end: the shuffle replaces the
append-mode text files (O6/O7), executor task slots replace the pthread
pools (O13), and reducer r is write task r: the pid column routes each
row straight to shuffle partition pid, a JVM-side (spillable) sort
orders each partition, and task r's part file becomes reducer r+1's
output file. With
the default hooks no row reaches a Python worker, from the text scan
(``sources.text.chunked_lines`` reads with ``spark.read.text``) to the
file write; the only Python-side work is the driver's plan building.
For an input of one scan block (any file up to 4 MB at default
settings) that building runs no job, and the map side (chunking,
tokenizing, counting) runs in the scan task, so the pid exchange is
the job's only shuffle, as in the reference's O1-O7; an input of
several blocks adds one bounded collect of one row per scan block for
the line index. RDDs and Python workers appear only under the
user-supplied ``map_fn``/``custom_reduce`` hooks.
"""

from __future__ import annotations

import os
import shutil
import time
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.text import chunked_lines, read_locality_table

# The thread-local properties ``SparkContext.setJobGroup`` sets.
_JOB_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


@dataclass
class JobConfig:
    """Mirror of the 7 CLI args (hw4.cc:42-49) + quirk/hook flags."""

    job_name: str
    num_reducer: int
    delay: int  # accepted and ignored — dead code in the reference (O15)
    input_path: str
    chunk_size: int
    locality_config: str | None
    output_dir: str
    # quirk flags (SURVEY.md §7.4) — defaults are the *fixed* semantics
    drop_trailing_token: bool = False
    fuse_chunk_lines: bool = False
    partition_fn: str = "hash"  # 'hash' | 'first_char'
    sort_ascending: bool = True
    # fully-custom hooks, generalizing the hard-coded slots of hw4.cc:32-40
    # (the reference's variants only exist as commented-out code,
    # hw4.cc:385-397, 477-478). When set, the map/reduce stages run as
    # Python closures on the RDD path — the sanctioned escape hatch for
    # user code; the default (None) path stays fully JVM-side.
    map_fn: Callable[[str], tuple[str, int]] | None = None
    custom_reduce: Callable[[list[int]], int] | None = None


def tokenize(chunks: DataFrame, cfg: JobConfig) -> DataFrame:
    """O3 split (hw4.cc:457-466): single-space tokenizer over chunk
    strings → (chunk_id, word).

    Faithful Q1: the reference emits a token only when a following space
    exists, so the final field of split(chunk, ' ') is always discarded
    — including empty fields from runs of spaces, which ARE emitted as
    empty-string words. Fixed mode emits every non-empty token.
    """
    toks = F.split("chunk", " ")
    if cfg.drop_trailing_token:
        words = F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0)))
        out = chunks.select("chunk_id", F.explode(words).alias("word"))
    else:
        out = chunks.select("chunk_id", F.explode(toks).alias("word")).filter(
            F.col("word") != ""
        )
    return out


def map_pairs(words: DataFrame) -> DataFrame:
    """O4 map (hw4.cc:468-474): word → (word, 1)."""
    return words.select("word", F.lit(1).alias("one"))


def partition_id(cfg: JobConfig) -> F.Column:
    """O5 partition (hw4.cc:476-487). ``first_char``: ASCII of the first
    character mod R (Q3 — empty word ⇒ '\\0' ⇒ 0, matching C++
    ``int(key[0])`` on an empty std::string's NUL terminator). ``hash``:
    non-negative pmod of Spark's hash — the commented-out
    std::hash variant's moral equivalent."""
    r = cfg.num_reducer
    if cfg.partition_fn == "first_char":
        return F.coalesce(F.ascii(F.substring("word", 1, 1)), F.lit(0)) % r
    return F.pmod(F.hash("word"), F.lit(r))


def reduce_agg() -> F.Column:
    """O9+O10 group/reduce (hw4.cc:359-382): SUM over the 1s. Other
    reductions go through the ``custom_reduce`` hook, which sees the
    record's real values (SURVEY.md §7.4)."""
    return F.sum("one").cast("long").alias("cnt")


def wordcount_df(spark: SparkSession, cfg: JobConfig) -> DataFrame:
    """The logical job O1→O10 as a DataFrame: (word, cnt, pid).

    Default path: everything declarative — Catalyst plans the shuffle +
    partial aggregation the reference hand-rolls. With custom
    ``map_fn``/``custom_reduce`` hooks the map/reduce stages run as
    Python closures (RDD path); note ``groupByKey`` there reproduces the
    reference's no-combiner dataflow exactly (every pair crosses the
    shuffle, hw4.cc O10 note), whereas the default path gets map-side
    combine for free."""
    chunks = chunked_lines(spark, cfg.input_path, cfg.chunk_size, cfg.fuse_chunk_lines)
    words = tokenize(chunks, cfg)
    if cfg.map_fn is None and cfg.custom_reduce is None:
        counted = map_pairs(words).groupBy("word").agg(reduce_agg())
    else:
        mf = cfg.map_fn or (lambda w: (w, 1))
        rf = cfg.custom_reduce or (lambda vs: sum(vs))
        counted = (
            words.rdd.map(lambda r: mf(r["word"]))
            .groupByKey()
            .mapValues(lambda vs: rf(list(vs)))
            .map(lambda t: (t[0], int(t[1])))
            .toDF(["word", "cnt"])
        )
    return counted.withColumn("pid", partition_id(cfg))


def _group_task_ms(spark: SparkSession, group: str) -> dict[int, list[int]]:
    """Real per-task wall durations (ms) for every stage run under a job
    group, read from the driver's AppStatusStore — the store behind the
    Spark UI, populated by the scheduler's TaskEnd events whether or not
    the UI is on. Reached via the JVM gateway (``sc._jsc.sc()
    .statusStore()``; Scala ``private[spark]`` is public in bytecode).
    Returns {stage_id: [task ms…]} in task-index (partition) order,
    completed tasks only; empty on any store hiccup so callers can fall
    back to aggregate timing."""
    sc = spark.sparkContext
    out: dict[int, list[int]] = {}
    try:
        tracker = sc.statusTracker()
        stage_ids: list[int] = []
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.extend(info.stageIds)
        # the status store is filled from the listener bus; let it catch
        # up with the job's last TaskEnd events before reading
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        store = sc._jsc.sc().statusStore()
        for sid in sorted(set(stage_ids)):
            tasks = store.taskList(sid, 0, 1 << 20)
            by_index: dict[int, int] = {}
            for i in range(tasks.size()):
                task = tasks.apply(i)
                d = task.duration()
                if d.isDefined():
                    by_index[task.index()] = int(d.get())
            if by_index:
                out[sid] = [by_index[i] for i in sorted(by_index)]
    except Exception:
        return {}
    return out


def run_job(spark: SparkSession, cfg: JobConfig) -> dict[str, object]:
    """Execute the full faithful job: DataFrame pipeline → per-reducer
    sorted text files + CSV event log. Returns {artifact: path} plus the
    measured ``map_task_ms``/``reduce_task_ms`` lists.

    Event-log timing fidelity: the reference logs each map task's OWN
    elapsed ms (hw4.cc:153 — the worker thread times its chunk). Here
    the whole pipeline runs under one Spark job group and the per-task
    durations come from the scheduler's own TaskEnd records
    (``_group_task_ms``): the final write stage has exactly
    ``num_reducer`` tasks and task r writes reducer r+1 alone (the
    repartition by pid passes pid through as the partition id), so
    Complete_ReduceTask row r+1 carries task r's real time;
    Complete_MapTask rows carry the upstream stages' real
    task times, attributed to chunk ids by index — exact chunk↔task
    attribution is undefined under Spark's own input coalescing, so the
    *values* are real per-task measurements while the *pairing* is
    positional (documented deviation). If the status store yields nothing
    the rows fall back to the aggregate stage elapsed. Vocabulary,
    field shapes, and event ordering match the reference exactly
    (pinned by tests/test_mapreduce.py)."""
    os.makedirs(cfg.output_dir, exist_ok=True)
    log_path = os.path.join(cfg.output_dir, f"{cfg.job_name}-log.out")
    t0 = time.time()
    events: list[str] = []

    def log(*fields: object) -> None:
        events.append(",".join(str(f) for f in (int(time.time()), *fields)))

    log(
        "Start_Job",
        cfg.job_name,
        cfg.num_reducer,
        cfg.delay,
        cfg.input_path,
        cfg.chunk_size,
        cfg.locality_config or "-",
        cfg.output_dir,
    )

    locality = (
        read_locality_table(cfg.locality_config) if cfg.locality_config else {}
    )
    for chunk_id, node_id in sorted(locality.items()):
        log("Dispatch_MapTask", chunk_id, node_id)

    t_map = time.time()
    group = f"mr-{cfg.job_name}-{id(cfg)}-{int(t_map * 1000)}"
    sc = spark.sparkContext
    prior = {k: sc.getLocalProperty(k) for k in _JOB_GROUP_PROPS}
    sc.setJobGroup(group, f"faithful mapreduce {cfg.job_name}")
    try:
        result = wordcount_df(spark, cfg)
        # O8 per-reducer sort + O11 exact file contract — fully JVM-side
        # (a Python `sorted()` per reducer would hold a hot first-char
        # partition, the whole point of Q3, in one worker's memory). One
        # exchange routes each row to partition pid (pid is already in
        # [0, R), so no hashing), Tungsten's SPILLABLE UnsafeExternalSorter
        # orders (word, cnt) within each partition, and write task r
        # writes part-{r:05d}: reducer r+1's file. PLANS.md records the
        # plan shape.
        order = (
            [F.col("word").asc(), F.col("cnt").asc()]
            if cfg.sort_ascending
            else [F.col("word").desc(), F.col("cnt").desc()]
        )
        staged = (
            result.repartitionById(cfg.num_reducer, "pid")
            .sortWithinPartitions(*order)
            .select(F.concat_ws(" ", "word", "cnt").alias("value"))
        )
        out_tmp = os.path.join(cfg.output_dir, f"_{cfg.job_name}_parts")
        if os.path.exists(out_tmp):  # leftover from an interrupted run
            shutil.rmtree(out_tmp)
        staged.write.text(out_tmp)
    finally:  # a build that raises must not leave its group on the thread
        for k, v in prior.items():
            sc.setLocalProperty(k, v)

    # Per-task ms from the scheduler's own records: last stage = the
    # R-task write (reduce), earlier stages = map work (chunking,
    # tokenizing, partial aggregation).
    stage_ms = _group_task_ms(spark, group)
    agg_map_ms = int((time.time() - t_map) * 1000)
    if len(stage_ms) >= 2:
        reduce_sid = max(stage_ms)
        map_task_ms = [m for sid in sorted(stage_ms)[:-1] for m in stage_ms[sid]]
        reduce_task_ms = stage_ms[reduce_sid]
    else:
        map_task_ms, reduce_task_ms = [], []
    for idx, chunk_id in enumerate(sorted(locality)):
        ms = map_task_ms[idx % len(map_task_ms)] if map_task_ms else agg_map_ms
        log("Complete_MapTask", chunk_id, ms)

    t_red = time.time()
    outputs: dict[str, object] = {
        "map_task_ms": map_task_ms,
        "reduce_task_ms": reduce_task_ms,
    }
    written = sorted(p for p in os.listdir(out_tmp) if p.startswith("part-"))
    for r in range(cfg.num_reducer):
        log("Dispatch_ReduceTask", r + 1, (r % max(cfg.num_reducer, 1)) + 1)
        dst = os.path.join(cfg.output_dir, f"{cfg.job_name}-{r + 1}.out")
        parts = [
            os.path.join(out_tmp, p) for p in written if p.startswith(f"part-{r:05d}-")
        ]
        if len(parts) == 1:
            os.replace(parts[0], dst)
        else:  # 0 parts: reducer got no data — contract still wants a file;
            # >1 parts can only arise from maxRecordsPerFile-style splits
            with open(dst, "w") as out_f:
                for p in parts:
                    with open(p) as in_f:
                        shutil.copyfileobj(in_f, out_f)
        outputs[f"reducer_{r + 1}"] = dst
        ms = (
            reduce_task_ms[r % len(reduce_task_ms)]
            if reduce_task_ms
            else int((time.time() - t_red) * 1000)
        )
        log("Complete_ReduceTask", r + 1, ms)

    # clean the staging dir (_SUCCESS, any leftover _temporary/ subdir)
    shutil.rmtree(out_tmp)

    log("Finish_Job", int((time.time() - t0) * 1000))
    with open(log_path, "w") as f:
        f.write("\n".join(events) + "\n")
    outputs["log"] = log_path
    return outputs


def main(argv: list[str] | None = None) -> int:
    """CLI mirroring the reference invocation (hw4.cc:42-49):

        python -m ...operators.mapreduce JOB_NAME NUM_REDUCER DELAY \
            INPUT_FILE CHUNK_SIZE LOCALITY_CONFIG OUTPUT_DIR [--faithful]

    ``--faithful`` turns on every reference quirk at once (Q1 trailing-
    token drop, Q2 delimiter-less fusion, Q3 first-char partitioner) —
    the bit-compatible mode; default is the fixed semantics.
    """
    import argparse

    from ..session import get_spark

    p = argparse.ArgumentParser(
        prog="mapreduce",
        description="Faithful MapReduce job runner (reference CLI contract)",
    )
    p.add_argument("job_name")
    p.add_argument("num_reducer", type=int)
    p.add_argument("delay", type=int)
    p.add_argument("input_path")
    p.add_argument("chunk_size", type=int)
    p.add_argument("locality_config")
    p.add_argument("output_dir")
    p.add_argument("--faithful", action="store_true")
    p.add_argument("--descending", action="store_true")
    a = p.parse_args(argv)
    cfg = JobConfig(
        job_name=a.job_name,
        num_reducer=a.num_reducer,
        delay=a.delay,
        input_path=a.input_path,
        chunk_size=a.chunk_size,
        locality_config=a.locality_config,
        output_dir=a.output_dir,
        drop_trailing_token=a.faithful,
        fuse_chunk_lines=a.faithful,
        partition_fn="first_char" if a.faithful else "hash",
        sort_ascending=not a.descending,
    )
    outputs = run_job(get_spark(f"mr-{a.job_name}"), cfg)
    for k, v in sorted(outputs.items()):
        print(f"{k}\t{v}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
