"""Benchmark entry point: one workload, one seed, one fresh process.

    python3 perfbench/run.py --workload {wordcount,pipeline_small} \
        --seed N --seconds S --trace {0,1} [--cores K]

Run from the repository root. The run generates its inputs from the
seed under ``.perfbench/`` in the current directory, sets Spark up once
(JVM start, ``session.get_spark`` on ``local[K]`` and a Python-worker
warm-up: ``setup_s``), checks every output of the workload once outside
the timed region, runs ``WARMUP_PASSES`` untimed warm-up passes, then
repeats passes over the workload's operations until ``S`` seconds have
gone by.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end metrics of BENCHMARK.json; with ``--trace 1`` they are its
per-layer metrics, from passes that alternate plain and traced. The line
before it carries the run context (cores, load, the fixed-work
calibration bracketing the timed region, input sizes, every timed
sample, and with ``--trace 0`` the figures in seconds that the bounded
metrics divide by the reference job).
The traced run also writes its spans to ``.perfbench/spans-*.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
TICK = os.sysconf("SC_CLK_TCK")
#: Untimed passes after the gate, so the JIT is past its steepest
#: warm-up before timing starts.
WARMUP_PASSES = 1
#: Size of ``reference_job``, and how often it runs after each plain
#: pass: its time is mostly job overhead, and two samples a pass steady
#: the median the bounded metrics divide by.
REF_ROWS = 20_000
REF_PER_PASS = 2


def _percentile(values: list[float], p: int) -> float:
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[p - 1]


def _tree_pids(root: int) -> list[int]:
    parent: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            parent.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(parent.get(pid, []))
    return out


def machine_ticks() -> tuple[int, int, int]:
    """(busy, stolen, total) CPU ticks of the whole machine so far, from
    ``/proc/stat``. Busy is user, nice, system, irq and softirq time;
    stolen is the time the hypervisor gave this machine's CPUs to other
    guests."""
    with open("/proc/stat") as f:
        t = [int(x) for x in f.readline().split()[1:9]]
    return t[0] + t[1] + t[2] + t[5] + t[6], t[7], sum(t)


def tree_peak_rss_mb() -> float:
    """Sum over the live process tree of each process's peak resident
    memory (VmHWM), read once: an upper bound on the tree's peak."""
    total_kb = 0
    for pid in _tree_pids(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except (OSError, IndexError, ValueError):
            continue
    return total_kb * 1024 / 1e6


def _prepare_env(work: str) -> None:
    """Keep every file Spark and its Python workers write inside ``work``
    and make the package importable in the workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    for var in list(os.environ):
        if var.startswith("SPARK_GRAFT_"):
            del os.environ[var]
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # every JVM: the launcher's and Spark's (no hsperfdata under /tmp)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"


def _warm(spark, cores: int) -> None:
    spark.range(0, cores, 1, cores).mapInPandas(
        lambda it: it, schema="id long"
    ).write.format("noop").mode("overwrite").save()


def _stop(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None


def setup(cores: int) -> tuple[object, dict[str, float]]:
    """JVM start, ``session.get_spark`` and the Python-worker warm-up."""
    from nthu_cs542200_parallel_programming_hw4_mapreduce_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", cpus=cores)
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    _warm(spark, cores)
    t2 = time.perf_counter()
    return spark, {
        "setup_s": t2 - t0,
        "session.start_s": t1 - t0,
        "session.python_warm_s": t2 - t1,
    }


def _plain_pass(wl, spark, res: dict) -> None:
    busy0, steal0, total0 = machine_ticks()
    t0 = time.perf_counter()
    for op in wl.ops:
        res["attempted"] += 1
        a = time.perf_counter()
        try:
            wl.run(spark, op)
        except Exception as e:  # counted, reported, and the run goes on
            res["failed"] += 1
            print(f"perfbench: {op} raised {type(e).__name__}: {e}", file=sys.stderr)
        res["op_walls"].setdefault(op, []).append(time.perf_counter() - a)
    res["plain_walls"].append(time.perf_counter() - t0)
    busy1, steal1, total1 = machine_ticks()
    res["plain_cpu"].append((busy1 - busy0) / TICK)
    res["steal"].append((steal1 - steal0) / max(1, total1 - total0))
    for _ in range(REF_PER_PASS):
        busy0 = machine_ticks()[0]
        a = time.perf_counter()
        reference_job(spark)
        res["ref_walls"].append(time.perf_counter() - a)
        res["ref_cpu"].append((machine_ticks()[0] - busy0) / TICK)


def reference_job(spark) -> None:
    """A fixed Spark job that uses no code of the package: a Python map,
    a shuffle and a count through the same JVM and Python workers. Every
    plain pass ends with ``REF_PER_PASS`` of them, and the bounded metrics
    are stated in units of its time, so a host that runs slower, which
    slows it as much as the workload, cancels out of them."""
    from operator import add

    sc = spark.sparkContext
    pairs = sc.parallelize(range(REF_ROWS), sc.defaultParallelism).map(lambda x: (x % 64, 1))
    if pairs.reduceByKey(add, sc.defaultParallelism).count() != 64:
        raise RuntimeError("the reference job counted wrong")


def _traced_pass(wl, spark, ctx, res: dict) -> None:
    from workloads import new_layers

    layers = new_layers()
    ctx.reader.settle()
    ctx.streams.take()  # drop events of the plain passes
    root = len(ctx.tracer.spans)
    with ctx.tracer.span("pass") as span:
        for op in wl.ops:
            res["attempted"] += 1
            try:
                wl.run_traced(spark, op, ctx, layers)
            except Exception as e:
                res["failed"] += 1
                print(f"perfbench: {op} raised {type(e).__name__}: {e}", file=sys.stderr)
    res["traced_walls"].append(span["end"] - span["start"])
    _finish_layers(layers, ctx, root)
    res["layer_passes"].append(layers)


def _results() -> dict:
    return {
        "plain_walls": [], "plain_cpu": [], "steal": [], "op_walls": {},
        "ref_walls": [], "ref_cpu": [],
        "traced_walls": [], "layer_passes": [], "attempted": 0, "failed": 0,
    }


def timed_passes(wl, spark, seconds: float, trace_ctx=None) -> dict:
    """``WARMUP_PASSES`` untimed passes, then passes until ``seconds``
    elapse; with ``trace_ctx`` those alternate plain and traced, ending on
    a traced one. Warm-up operations count in ``attempted`` and
    ``failed`` but give no samples."""
    warm = _results()
    for _ in range(WARMUP_PASSES):
        _plain_pass(wl, spark, warm)
    res = _results()
    res["attempted"], res["failed"] = warm["attempted"], warm["failed"]
    res["warmup_passes"] = len(warm["plain_walls"])
    t_end = time.perf_counter() + seconds
    while True:
        _plain_pass(wl, spark, res)
        if trace_ctx is not None:
            _traced_pass(wl, spark, trace_ctx, res)
        if time.perf_counter() >= t_end:
            return res


def _finish_layers(layers: dict, ctx, root: int) -> None:
    """Per-pass values that need the whole pass."""
    stages = layers.pop("_stages")
    longest = max(stages, key=lambda s: s["wall"], default=None)
    layers["exec.stage_skew"] = ctx.reader.skew(longest) if longest else 1.0
    layers["plans.py4j_calls"] = ctx.py4j.calls
    ctx.py4j.calls = 0
    layers.update(ctx.streams.take())
    selfs = ctx.tracer.self_times(root)
    wall = ctx.tracer.spans[root]["end"] - ctx.tracer.spans[root]["start"]
    uncovered = sum(selfs.get(name, 0.0) for name in ("pass", "op", "mapreduce.job"))
    layers["trace.uncovered_share"] = uncovered / wall
    layers["trace.read_s"] = selfs.get("trace.read", 0.0)
    for name in ("op", "plans.build", "catalyst.plan", "exec.run", "sources.text.chunk",
                 "mapreduce.job", "mapreduce.status", "mapreduce.commit"):
        layers[f"self.{name}_s"] = selfs.get(name, 0.0)


def end_to_end(wl, res: dict, setup_m: dict) -> dict[str, float]:
    """Each operation's time is the lower quartile of its timed samples:
    the host's slow spells and the JIT's tail only ever add time, and the
    quartile keeps them out without resting on the single luckiest
    sample, as a minimum would. ``wall_s`` sums those over a pass. The
    ``_ref`` figures divide by the median of ``reference_job``'s samples:
    they come after a warm pass, so they have no such tail, and they
    stray to both sides."""
    per_op = [_percentile(walls, 25) for walls in res["op_walls"].values()]
    wall = sum(per_op)
    ref = statistics.median(res["ref_walls"])
    cpu = _percentile(res["plain_cpu"], 25)
    ref_cpu = statistics.median(res["ref_cpu"])
    p50, p90 = statistics.median(per_op), _percentile(per_op, 90)
    return {
        "wall_s": wall,
        "setup_s": setup_m["setup_s"],
        "input_mb_per_s": wl.input_bytes / 1e6 / wall,
        "query_p50_s": p50,
        "query_p90_s": p90,
        "cpu_s": cpu,
        "ref_s": ref,
        "ref_cpu_s": ref_cpu,
        "wall_ref": wall / ref,
        "query_p50_ref": p50 / ref,
        "query_p90_ref": p90 / ref,
        "cpu_ref": cpu / ref_cpu,
    }


def per_layer(res: dict, setup_m: dict) -> dict[str, float]:
    passes = res["layer_passes"]
    out = {k: statistics.median(p[k] for p in passes) for k in passes[0]}
    out["session.start_s"] = setup_m["session.start_s"]
    out["session.python_warm_s"] = setup_m["session.python_warm_s"]
    out["trace.overhead_s"] = statistics.median(res["traced_walls"]) - statistics.median(
        res["plain_walls"]
    )
    return out


def _declared(kind: str) -> list[dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)[kind]


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", type=int, default=2)
    a = p.parse_args(argv)

    sys.path[:0] = [ROOT, HERE]
    try:
        import bench
        import workloads
    except ImportError as e:
        print(f"perfbench: run from the repository root ({e})", file=sys.stderr)
        return 2
    if a.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {a.workload!r}", file=sys.stderr)
        return 2
    cores = max(1, min(a.cores, os.cpu_count() or 1))
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    _prepare_env(work)
    spark = None
    try:
        wl = workloads.WORKLOADS[a.workload](work, a.seed)
        spark, setup_m = setup(cores)
        t_gate = time.perf_counter()
        gate_failures = wl.gate(spark)
        gate_s = time.perf_counter() - t_gate
        for msg in gate_failures:
            print(f"perfbench: gate: {msg}", file=sys.stderr)
        ctx = workloads.TraceContext(spark) if a.trace else None
        load1 = os.getloadavg()[0]
        calib = bench._calib_mt_ms()
        res = timed_passes(wl, spark, a.seconds, ctx)
        peak_rss_mb = tree_peak_rss_mb()
        calib_end = bench._calib_mt_ms()
        check_failures = wl.verify()
        for msg in check_failures:
            print(f"perfbench: check: {msg}", file=sys.stderr)
        if ctx is not None:
            ctx.tracer.dump(os.path.join(ROOT, ".perfbench", f"spans-{a.workload}-{a.seed}.json"))
        failed = len(gate_failures) + len(check_failures) + res["failed"]
        attempted = len(wl.ops) + res["attempted"]
        computed = (
            per_layer(res, setup_m) if a.trace else end_to_end(wl, res, setup_m)
        )
        metrics = {}
        for m in _declared("per_layer" if a.trace else "end_to_end"):
            metrics[m["name"]] = {"value": float(computed[m["name"]]), "unit": m["unit"]}
        context = {
            "workload": a.workload,
            "seed": a.seed,
            "nproc": os.cpu_count(),
            "k": cores,
            "load1": load1,
            "load1_end": os.getloadavg()[0],
            "calib_mt_ms": calib,
            "calib_mt_ms_end": calib_end,
            "warmup_passes": res["warmup_passes"],
            "pass_walls": res["plain_walls"],
            "pass_steal": res["steal"],
            "traced_passes": len(res["layer_passes"]),
            "op_walls": res["op_walls"],
            "ref_walls": res["ref_walls"],
            "gate_s": gate_s,
            "fail_ratio": failed / attempted,
            "peak_rss_mb": peak_rss_mb,
            "input_bytes": wl.input_bytes,
            "inputs": wl.inputs,
        }
        if not a.trace:
            context["figures"] = {k: v for k, v in computed.items() if k not in metrics}
        print(json.dumps({"context": context}))
        print(
            json.dumps(
                {
                    "correct": failed == 0,
                    "attempted": attempted,
                    "failed": failed,
                    "metrics": metrics,
                }
            )
        )
        return 0
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
