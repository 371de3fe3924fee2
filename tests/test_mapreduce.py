"""Faithful-mode file-contract + quirk tests (SURVEY.md §5.2.3/.4).

The expected outputs are produced by a pure-Python hand-simulation of
the reference's semantics (hw4.cc:457-487, 350-357) on tiny inputs —
tokenizer quirks Q1/Q2, first-char partitioner Q3, ascending/descending
sort, ``"word count"`` formatting.
"""

import gzip
import os
import random
import re
from collections import Counter

import pytest
from pyspark.errors import AnalysisException, PySparkException

from nthu_cs542200_parallel_programming_hw4_mapreduce_spark.operators.mapreduce import (
    JobConfig,
    run_job,
)
from nthu_cs542200_parallel_programming_hw4_mapreduce_spark.sources.text import chunked_lines
from tools.explain_dump import written_plan

LINES = [
    "apple banana apple cherry ",
    "banana date egg ",
    "fig grape apple ",
    "egg fig banana date ",
]


def reference_sim(lines, chunk_size, num_reducer, *, drop_trailing, fuse):
    """Hand-simulation of hw4.cc's map path: chunk (Q2), tokenize (Q1),
    count, partition by ord(word[0]) % R (Q3)."""
    sep = "" if fuse else " "
    chunks = [
        sep.join(lines[i : i + chunk_size]) for i in range(0, len(lines), chunk_size)
    ]
    words = []
    for chunk in chunks:
        if drop_trailing:
            # hw4.cc:460-465: emit token before each space; drop the rest
            parts = chunk.split(" ")
            words.extend(parts[:-1])  # empties included — faithful
        else:
            words.extend(w for w in chunk.split(" ") if w)
    counts = Counter(words)
    files = {r: [] for r in range(num_reducer)}
    for word, cnt in counts.items():
        pid = (ord(word[0]) if word else 0) % num_reducer
        files[pid].append((word, cnt))
    return {r: sorted(pairs) for r, pairs in files.items()}


@pytest.fixture
def input_file(tmp_path):
    p = tmp_path / "input.txt"
    p.write_text("\n".join(LINES) + "\n")
    return str(p)


@pytest.fixture
def locality_file(tmp_path):
    p = tmp_path / "locality.txt"
    p.write_text("1 2\n2 5\n")
    return str(p)


def run(spark, tmp_path, input_file, locality_file, **flags):
    cfg = JobConfig(
        job_name="wc",
        num_reducer=3,
        delay=0,
        input_path=input_file,
        chunk_size=2,
        locality_config=locality_file,
        output_dir=str(tmp_path / "out"),
        **flags,
    )
    return cfg, run_job(spark, cfg)


def read_out(path):
    with open(path) as f:
        return [
            (line.rsplit(" ", 1)[0], int(line.rsplit(" ", 1)[1]))
            for line in f.read().splitlines()
            if line
        ]


def test_file_contract_faithful(spark, tmp_path, input_file, locality_file):
    cfg, outputs = run(
        spark,
        tmp_path,
        input_file,
        locality_file,
        drop_trailing_token=True,
        fuse_chunk_lines=True,
        partition_fn="first_char",
    )
    expected = reference_sim(LINES, 2, 3, drop_trailing=True, fuse=True)
    for r in range(3):
        path = os.path.join(cfg.output_dir, f"wc-{r + 1}.out")
        assert os.path.exists(path), f"missing reducer file {r + 1}"
        got = read_out(path)
        assert got == expected[r], f"reducer {r}: {got} != {expected[r]}"
        # internally sorted ascending (hw4.cc:333)
        assert got == sorted(got)


def test_fixed_mode_counts(spark, tmp_path, input_file, locality_file):
    """Default flags fix Q1/Q2: every token counted, lines separated."""
    cfg, _ = run(spark, tmp_path, input_file, locality_file, partition_fn="first_char")
    expected = reference_sim(LINES, 2, 3, drop_trailing=False, fuse=False)
    all_got = []
    for r in range(3):
        all_got += read_out(os.path.join(cfg.output_dir, f"wc-{r + 1}.out"))
    assert sorted(all_got) == sorted(p for pairs in expected.values() for p in pairs)
    # trailing-space input means every word survives even under Q1, so
    # fixed-mode total must equal the raw token count
    assert sum(c for _, c in all_got) == sum(len(l.split()) for l in LINES)


def test_quirk_q1_drops_trailing_token(spark, tmp_path, locality_file):
    """Without trailing spaces, Q1 visibly eats each chunk's last token."""
    p = tmp_path / "nospace.txt"
    p.write_text("alpha beta\ngamma delta\n")  # no trailing spaces
    cfg = JobConfig(
        "q1", 2, 0, str(p), 1, str(locality_file), str(tmp_path / "o1"),
        drop_trailing_token=True, partition_fn="first_char",
    )
    run_job(spark, cfg)
    got = []
    for r in (1, 2):
        got += read_out(os.path.join(cfg.output_dir, f"q1-{r}.out"))
    # chunk 'alpha beta' → only 'alpha'; 'gamma delta' → only 'gamma'
    assert sorted(got) == [("alpha", 1), ("gamma", 1)]


def test_quirk_q2_fuses_lines(spark, tmp_path, locality_file):
    p = tmp_path / "fuse.txt"
    p.write_text("one two\nthree four\n")  # no trailing spaces
    cfg = JobConfig(
        "q2", 2, 0, str(p), 2, str(locality_file), str(tmp_path / "o2"),
        fuse_chunk_lines=True, partition_fn="first_char",
    )
    run_job(spark, cfg)
    got = []
    for r in (1, 2):
        got += read_out(os.path.join(cfg.output_dir, f"q2-{r}.out"))
    # 'one two' + 'three four' fuse to 'one twothree four'
    assert sorted(got) == [("four", 1), ("one", 1), ("twothree", 1)]


def test_sort_descending(spark, tmp_path, input_file, locality_file):
    cfg, _ = run(
        spark, tmp_path, input_file, locality_file,
        partition_fn="first_char", sort_ascending=False,
    )
    for r in range(3):
        got = read_out(os.path.join(cfg.output_dir, f"wc-{r + 1}.out"))
        assert got == sorted(got, reverse=True)


def test_event_log_vocabulary(spark, tmp_path, input_file, locality_file):
    """FIXTURES.md A4: assert vocabulary/arity, not timings."""
    cfg, outputs = run(spark, tmp_path, input_file, locality_file)
    lines = open(outputs["log"]).read().splitlines()
    kinds = [l.split(",")[1] for l in lines]
    assert kinds[0] == "Start_Job" and kinds[-1] == "Finish_Job"
    assert kinds.count("Dispatch_MapTask") == 2  # one per locality entry (Q7 parity)
    assert kinds.count("Complete_MapTask") == 2
    assert kinds.count("Dispatch_ReduceTask") == 3
    assert kinds.count("Complete_ReduceTask") == 3
    arity = {
        "Start_Job": 9, "Dispatch_MapTask": 4, "Complete_MapTask": 4,
        "Dispatch_ReduceTask": 4, "Complete_ReduceTask": 4, "Finish_Job": 3,
    }
    for l in lines:
        parts = l.split(",")
        assert len(parts) == arity[parts[1]], l


def test_hash_partitioner_covers_all_words(spark, tmp_path, input_file, locality_file):
    cfg, _ = run(spark, tmp_path, input_file, locality_file, partition_fn="hash")
    all_got = []
    for r in range(3):
        all_got += read_out(os.path.join(cfg.output_dir, f"wc-{r + 1}.out"))
    assert sum(c for _, c in all_got) == sum(len(l.split()) for l in LINES)


def test_custom_map_and_reduce_hooks(spark, tmp_path, input_file, locality_file):
    """Pluggable map/reduce closures (the generalization of hw4.cc:32-40):
    map word → (first_letter, len(word)), reduce → max — per-initial
    longest word length, validated against a pure-Python model."""
    cfg = JobConfig(
        "hooks", 2, 0, input_file, 2, locality_file, str(tmp_path / "oh"),
        partition_fn="first_char",
        map_fn=lambda w: (w[0], len(w)),
        custom_reduce=max,
    )
    run_job(spark, cfg)
    got = {}
    for r in (1, 2):
        got.update(dict(read_out(os.path.join(cfg.output_dir, f"hooks-{r}.out"))))
    expected = {}
    for line in LINES:
        for w in line.split():
            expected[w[0]] = max(expected.get(w[0], 0), len(w))
    assert got == expected


def test_event_log_per_task_timings(spark, tmp_path, input_file, locality_file):
    """hw4.cc:153 contract: Complete_MapTask/Complete_ReduceTask rows
    carry per-task ms. The values must be the scheduler's own TaskEnd
    measurements (surfaced in run_job's return), not one shared
    aggregate (the round-2 deviation): reduce rows map 1:1 onto the
    R-task write stage; map rows cycle through the upstream stages'
    real task times."""
    cfg, outputs = run(spark, tmp_path, input_file, locality_file)
    map_ms, red_ms = outputs["map_task_ms"], outputs["reduce_task_ms"]
    assert map_ms and all(isinstance(m, int) and m >= 0 for m in map_ms)
    # the pid repartition pins the write stage to exactly R tasks
    assert len(red_ms) == cfg.num_reducer
    lines = open(outputs["log"]).read().splitlines()
    logged_map = [
        int(l.split(",")[3]) for l in lines if l.split(",")[1] == "Complete_MapTask"
    ]
    logged_red = [
        int(l.split(",")[3]) for l in lines if l.split(",")[1] == "Complete_ReduceTask"
    ]
    assert logged_map == [map_ms[i % len(map_ms)] for i in range(len(logged_map))]
    assert logged_red == red_ms


def test_empty_input_writes_empty_reducer_files(spark, tmp_path, locality_file):
    """An empty input file gives an empty chunk frame, R empty reducer
    files and a well-formed event log."""
    p = tmp_path / "empty.txt"
    p.write_text("")
    cfg = JobConfig(
        "empty", 3, 0, str(p), 2, locality_file, str(tmp_path / "oe"),
        drop_trailing_token=True, fuse_chunk_lines=True, partition_fn="first_char",
    )
    assert chunked_lines(spark, str(p), 2).collect() == []
    outputs = run_job(spark, cfg)
    for r in range(3):
        with open(outputs[f"reducer_{r + 1}"]) as f:
            assert f.read() == ""
    kinds = [l.split(",")[1] for l in open(outputs["log"]).read().splitlines()]
    assert kinds[0] == "Start_Job" and kinds[-1] == "Finish_Job"
    assert kinds.count("Complete_MapTask") == 2
    assert kinds.count("Complete_ReduceTask") == 3


def test_chunks_follow_file_order_across_scan_blocks(spark, tmp_path, locality_file):
    """Chunk ids and line order inside a chunk are the file's order even
    when the scan is split into many blocks: CRLF line ends, a non-ASCII
    first character (Q3's ascii must equal Python's ord) and a last line
    with no trailing newline."""
    rng = random.Random(7)
    lines = ["épée un deux"] + [
        " ".join(rng.choice(["a", "bb", "ccc", "dddd", "été"]) for _ in range(rng.randint(0, 8)))
        + rng.choice(["", " "])
        for _ in range(199)
    ]
    p = tmp_path / "crlf.txt"
    with open(p, "w", encoding="utf-8", newline="") as f:
        f.write("\r\n".join(lines))
    chunk_size = 7
    key = "spark.sql.files.maxPartitionBytes"
    prior = spark.conf.get(key)
    spark.conf.set(key, "300")
    try:
        blocks = spark.read.text(str(p)).select("_metadata.file_block_start").distinct()
        assert blocks.count() > 10
        for fuse in (False, True):
            sep = "" if fuse else " "
            want = [
                (i // chunk_size + 1, sep.join(lines[i : i + chunk_size]))
                for i in range(0, len(lines), chunk_size)
            ]
            got = chunked_lines(spark, str(p), chunk_size, fuse)
            assert sorted(tuple(r) for r in got.collect()) == want
        cfg = JobConfig(
            "crlf", 3, 0, str(p), chunk_size, locality_file, str(tmp_path / "oc"),
            drop_trailing_token=True, fuse_chunk_lines=True, partition_fn="first_char",
        )
        run_job(spark, cfg)
    finally:
        spark.conf.set(key, prior)
    expected = reference_sim(lines, chunk_size, 3, drop_trailing=True, fuse=True)
    for r in range(3):
        assert read_out(os.path.join(cfg.output_dir, f"crlf-{r + 1}.out")) == expected[r]


def test_chunks_fail_when_scan_blocks_change(spark, tmp_path):
    """The line index is built for one set of scan blocks; running the
    frame on other blocks fails rather than misnumbering lines."""
    p = tmp_path / "lines.txt"
    p.write_text("".join(f"line {i}\n" for i in range(200)))
    chunks = chunked_lines(spark, str(p), 5)
    key = "spark.sql.files.maxPartitionBytes"
    prior = spark.conf.get(key)
    spark.conf.set(key, "300")
    try:
        with pytest.raises(PySparkException, match="scan blocks"):
            chunks.collect()
    finally:
        spark.conf.set(key, prior)


def job_ids(spark):
    """Ids of the ungrouped jobs the status tracker has seen, read once
    the listener bus has delivered every event posted so far."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return set(sc.statusTracker().getJobIdsForGroup(None))


def build_jobs(spark, path, chunk_size):
    """Ids of the jobs that building ``chunked_lines`` over ``path`` starts."""
    before = job_ids(spark)
    chunked_lines(spark, path, chunk_size)
    return job_ids(spark) - before


def exchanges(plan):
    """The argument line of every Exchange node in a formatted plan."""
    return re.findall(r"^\(\d+\) Exchange\n(?:Input \[.*\n)?Arguments: (.*)$", plan, re.M)


def assert_faithful_output(cfg, lines):
    expected = reference_sim(lines, cfg.chunk_size, cfg.num_reducer, drop_trailing=True, fuse=True)
    for r in range(cfg.num_reducer):
        got = read_out(os.path.join(cfg.output_dir, f"{cfg.job_name}-{r + 1}.out"))
        assert got == expected[r], f"reducer {r}"


def faithful(name, path, chunk_size, locality_file, tmp_path):
    return JobConfig(
        name, 3, 0, str(path), chunk_size, locality_file, str(tmp_path / f"o-{name}"),
        drop_trailing_token=True, fuse_chunk_lines=True, partition_fn="first_char",
    )


def test_failed_build_restores_job_group(spark, tmp_path, locality_file):
    """A job whose build raises (here a missing input) leaves the
    thread's job group as it found it, so later jobs are not
    attributed to the failed one."""
    sc = spark.sparkContext
    sc.setJobGroup("outer", "outer work")
    try:
        cfg = faithful("missing", tmp_path / "no-such-file.txt", 2, locality_file, tmp_path)
        with pytest.raises(AnalysisException):
            run_job(spark, cfg)
        assert sc.getLocalProperty("spark.jobGroup.id") == "outer"
        assert sc.getLocalProperty("spark.job.description") == "outer work"
    finally:
        for k in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(k, None)


def test_one_block_input_builds_without_jobs(spark, input_file):
    """The line index of a one-block input needs no count: building the
    chunk frame starts no Spark job."""
    assert build_jobs(spark, input_file, 2) == set()


def test_one_block_input_shuffles_only_on_pid(spark, tmp_path, input_file, locality_file):
    """A one-block input runs its map side (chunking, tokenizing,
    counting) in the scan task: the pid repartition is the written
    plan's only exchange, as the reference's map task shuffles once."""
    cfg = faithful("one", input_file, 2, locality_file, tmp_path)
    plan = written_plan(spark, cfg)
    found = exchanges(plan)
    assert len(found) == 1 and "REPARTITION_BY_NUM" in found[0], found
    assert "ENSURE_REQUIREMENTS" not in plan
    assert_faithful_output(cfg, LINES)


def test_multi_block_input_keeps_count_job_and_exchanges(spark, tmp_path, locality_file):
    """An input of several scan blocks still counts each block's lines
    in a build-time job and keeps the chunk and word exchanges."""
    lines = [f"w{i % 13} x{i % 7} " for i in range(200)]
    p = tmp_path / "many.txt"
    p.write_text("\n".join(lines) + "\n")
    cfg = faithful("many", p, 7, locality_file, tmp_path)
    key = "spark.sql.files.maxPartitionBytes"
    prior = spark.conf.get(key)
    spark.conf.set(key, "300")
    try:
        assert build_jobs(spark, str(p), 7)
        plan = written_plan(spark, cfg)
    finally:
        spark.conf.set(key, prior)
    found = exchanges(plan)
    assert sum("ENSURE_REQUIREMENTS" in e for e in found) == 2, found
    assert sum("REPARTITION_BY_NUM" in e for e in found) == 1, found
    assert_faithful_output(cfg, lines)


def test_large_gzip_input_keeps_exchanges(spark, tmp_path, locality_file):
    """A gzip file is one block however large, so it needs no count
    job; but one larger than ``spark.sql.files.maxPartitionBytes`` is
    not squeezed into one task and keeps its chunk and word exchanges."""
    rng = random.Random(11)
    lines = [
        " ".join(rng.choice(["ab", "cd", "ef", "gh", "ij", "été"]) + str(rng.randint(0, 99)) for _ in range(6)) + " "
        for _ in range(300)
    ]
    p = tmp_path / "big.txt.gz"
    with gzip.open(p, "wt", encoding="utf-8") as f:
        f.write("\n".join(lines) + "\n")
    assert os.path.getsize(p) > 300
    cfg = faithful("gz", p, 9, locality_file, tmp_path)
    key = "spark.sql.files.maxPartitionBytes"
    prior = spark.conf.get(key)
    spark.conf.set(key, "300")
    try:
        assert build_jobs(spark, str(p), 9) == set()
        plan = written_plan(spark, cfg)
    finally:
        spark.conf.set(key, prior)
    assert sum("ENSURE_REQUIREMENTS" in e for e in exchanges(plan)) == 2
    assert_faithful_output(cfg, lines)


def test_chunks_of_path_with_space_and_percent(spark, tmp_path):
    """The one-block index key is the scan's URL-encoded
    ``_metadata.file_path``; a path that needs encoding still chunks."""
    lines = [f"l{i} a b" for i in range(10)]
    p = tmp_path / "in put%25 x.txt"
    p.write_text("\n".join(lines) + "\n")
    got = chunked_lines(spark, str(p), 3)
    want = [(i // 3 + 1, " ".join(lines[i : i + 3])) for i in range(0, 10, 3)]
    assert sorted(tuple(r) for r in got.collect()) == want


def test_reduce_task_r_writes_reducer_r_plus_1(spark, tmp_path, locality_file, monkeypatch):
    """Reducer r+1's file is written by write task r alone. On an input
    whose first characters cover every residue mod 8, each write task's
    recordsWritten equals the line count of its own reducer file, so
    Complete_ReduceTask row r+1 logs the time of the task that wrote it."""
    letters = [chr(c) for c in range(ord("a"), ord("a") + 16)]
    assert {ord(c) % 8 for c in letters} == set(range(8))
    lines = [" ".join(f"{c}{(i * 7 + j) % 5}" for j, c in enumerate(letters)) + " " for i in range(40)]
    p = tmp_path / "residues.txt"
    p.write_text("\n".join(lines) + "\n")
    cfg = JobConfig(
        "res", 8, 0, str(p), 3, locality_file, str(tmp_path / "or"),
        drop_trailing_token=True, fuse_chunk_lines=True, partition_fn="first_char",
    )
    sc = spark.sparkContext
    groups = []
    set_group = sc.setJobGroup

    def capture(group, *a, **kw):
        groups.append(group)
        return set_group(group, *a, **kw)

    monkeypatch.setattr(sc, "setJobGroup", capture)
    outputs = run_job(spark, cfg)
    assert_faithful_output(cfg, lines)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    stage_ids = {s for j in tracker.getJobIdsForGroup(groups[0]) for s in tracker.getJobInfo(j).stageIds}
    tasks = sc._jsc.sc().statusStore().taskList(max(stage_ids), 0, 1 << 20)
    written = {}
    for i in range(tasks.size()):
        task = tasks.apply(i)
        if task.status() == "SUCCESS":
            written[task.index()] = task.taskMetrics().get().outputMetrics().recordsWritten()
    file_lines = {r: len(read_out(outputs[f"reducer_{r + 1}"])) for r in range(8)}
    assert all(file_lines.values())
    assert written == file_lines
