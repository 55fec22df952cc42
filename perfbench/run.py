"""Same-machine benchmark for the engine in ``hadoop_3_3_6_spark``.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 20 --trace 0

Run from the root of a checkout.  Each invocation is one fresh driver
process at ``local[<nproc>]``:

1. a child process generates the seed's inputs and the oracle digests
   (once per seed, cached under ``.perfbench_work/``);
2. the session is set up once, after the inputs are ready: ``get_spark``
   launches the JVM, then every table is warmed up (``setup_s``);
3. the workload's job sequence runs once, cold, in that session;
   that pass is what the metrics measure.  ``--seconds`` is accepted
   for the command-line contract; the pass length is set by the jobs;
4. every job's result is checked outside the timed region.

The last line of stdout is the result: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``).  The full record, with the
machine stamp and every job latency, is appended to
``.perfbench_work/results.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
INPUTS = os.path.join(WORK, "inputs")
PACKAGE = os.path.join(ROOT, "hadoop_3_3_6_spark")

sys.path.insert(0, HERE)

from workloads import TERASORT, WORKLOADS  # noqa: E402


def declared_metrics(trace: bool) -> dict[str, str]:
    """Metric name -> unit, as ``BENCHMARK.json`` declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


# ------------------------------------------------------------- prepare


def prepare(seed: int, workload: str) -> dict:
    """Generate the seed's inputs and expected results in a child
    process (see ``inputs.prepare``), so DuckDB's memory never counts
    in the driver process's, and return the expected results."""
    jobs = ",".join(WORKLOADS[workload])
    proc = subprocess.run([sys.executable, os.path.join(HERE, "inputs.py"), INPUTS, str(seed), jobs])
    if proc.returncode != 0:
        raise SystemExit(f"input preparation failed (exit code {proc.returncode})")
    with open(os.path.join(INPUTS, f"seed-{seed}", "expected.json")) as f:
        return json.load(f)


# --------------------------------------------------------------- stamp


def machine_stamp(spark) -> dict:
    """What must match for two results to be compared."""
    import pyarrow
    import pyspark

    with open("/proc/meminfo") as f:
        mem_kib = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    work_fs = os.statvfs(WORK)
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_gib": round(mem_kib / 2**20, 1),
        "work_fs_gib": round(work_fs.f_blocks * work_fs.f_frsize / 2**30, 1),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
    }


def cpu_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs,
    since boot.  Host contention that slows a run shows here."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


# ----------------------------------------------------------------- run


def configure_environment(run_dir: str, nproc: int, trace: bool) -> None:
    """Everything the driver, the JVM and the Python workers write goes
    under ``run_dir``; workers import the package from the checkout
    whatever their working directory."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(nproc),
        SPARK_GRAFT_LOCAL_DIR=os.path.join(run_dir, "spark-local"),
        SPARK_GRAFT_WAREHOUSE=os.path.join(run_dir, "warehouse"),
        SPARK_GRAFT_UI="true" if trace else "false",
        TMPDIR=tmp,
        # no hsperfdata files in /tmp
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        # the driver JVM logs where its heap lies, so the memory sampler
        # can tell the Java heap from the rest
        PYSPARK_SUBMIT_ARGS=f'--driver-java-options "-Xlog:gc+heap+coops=debug:file={heap_log(run_dir)}" pyspark-shell',
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    os.chdir(run_dir)
    sys.path.insert(0, ROOT)


def heap_log(run_dir: str) -> str:
    return os.path.join(run_dir, "jvm-heap.log")


class Runner:
    """One workload in one driver process."""

    def __init__(self, workload: str, seed: int, expected: dict, trace: bool, run_dir: str):
        from inputs import tables_dir, tera_dir
        from trace import Tracer

        self.jobs = WORKLOADS[workload]
        self.tables = tables_dir(INPUTS, seed)
        self.records = tera_dir(INPUTS, seed)
        self.expected = expected
        self.run_dir = run_dir
        self.tracer = Tracer(f"{workload}-{seed}-{os.getpid()}", enabled=trace)
        self.call_spans: list[int] = []
        self.listener = None
        self.failures: list[str] = []
        self.attempted = 0

    def setup(self) -> tuple[object, float, float]:
        """``get_spark``, which launches the JVM, then a warm-up of every
        table.  Returns the session, the set-up time and the
        ``get_spark`` time."""
        from hadoop_3_3_6_spark.session import TABLE_NAMES, get_spark, load_table

        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        t1 = time.perf_counter()
        for name in TABLE_NAMES:
            load_table(spark, name, self.tables)
        return spark, time.perf_counter() - t0, t1 - t0

    def _job(self, spark, name: str) -> tuple[float, object] | None:
        """Run one job, construction then action, timed.  Returns its
        latency and its result (a TeraSort's is its output directory),
        or None when it raised."""
        from hadoop_3_3_6_spark.plans.queries import QUERIES

        self.attempted += 1
        try:
            t0 = time.time()
            if name == TERASORT:
                from hadoop_3_3_6_spark.sources.terasort import terasort

                df = terasort(spark.read.parquet(self.records))
                t1 = time.time()
                result = os.path.join(self.run_dir, "out", name)
                df.write.mode("overwrite").parquet(result)
            else:
                df = QUERIES[name](spark, self.tables)
                t1 = time.time()
                result = df.toArrow()
            t2 = time.time()
        except Exception as exc:  # a job that raises is a failed job; keep measuring the rest
            self.failures.append(f"{name}: {type(exc).__name__}: {str(exc)[:300]}")
            return None
        root = self.tracer.add(name, "bench", t0, t2)
        self.call_spans.append(self.tracer.add("build", "plans.build", t0, t1, root))
        self.call_spans.append(self.tracer.add("action", "plans.action", t1, t2, root))
        return t2 - t0, result

    def run_pass(self, spark) -> dict[str, tuple[float, object]]:
        """The job sequence once, cold, one job at a time."""
        done = {}
        for name in self.jobs:
            outcome = self._job(spark, name)
            if outcome is not None:
                done[name] = outcome
        return done

    def check(self, done: dict[str, tuple[float, object]]) -> dict[str, float]:
        """Check every result; returns the latencies of the correct jobs."""
        from check import check_job

        latencies = {}
        for name, (latency, result) in done.items():
            problem = check_job(name, result, self.expected)
            if problem:
                self.failures.append(f"{name}: {problem}")
            else:
                latencies[name] = latency
        return latencies


def end_to_end(latencies: dict[str, float], setup_s: float, peak_rest: int) -> dict:
    return {
        "wall_s": sum(latencies.values()),
        "job_p50_s": statistics.median(latencies.values()),
        "setup_s": setup_s,
        "peak_rss_nonheap_mb": peak_rest / 2**20,
    }


SELF_LAYERS = ("bench", "plans.build", "plans.action", "spark.job", "spark.stage")


def per_layer(runner: Runner, spark, start_s: float, wall_s: float, peak_heap: int) -> dict:
    """Layer numbers of the pass of a traced run.  Its self times add
    up to its ``wall_s``."""
    from trace import SparkRest, attach_spark_spans, layer_self_times, sql_layer_metrics, stage_layer_metrics
    from trace import streaming_metrics

    sc = spark.sparkContext
    rest = SparkRest(sc.uiWebUrl, sc.applicationId)
    rest.settle()
    stages = rest.stages()
    jobs = rest.jobs()
    attached = attach_spark_spans(runner.tracer, jobs, stages, runner.call_spans)
    stage_ids = {sid for j in jobs if j["jobId"] in attached for sid in j.get("stageIds", [])}
    out: dict[str, float] = {"spark.jobs": float(len(attached))}
    out.update(stage_layer_metrics(stages, stage_ids))
    out.update(sql_layer_metrics(rest.sql(), attached))
    runner.listener.settle()
    out.update(streaming_metrics(runner.listener.progress))
    spans = runner.tracer.spans
    self_t = layer_self_times(spans)
    for layer in SELF_LAYERS:
        out[f"self.{layer.replace('.', '_')}_s"] = self_t.get(layer, 0.0)
    out["plans.build_s"] = sum(s.end - s.start for s in spans if s.layer == "plans.build")
    out["plans.driver_s"] = sum(self_t.get(layer, 0.0) for layer in ("bench", "plans.build", "plans.action"))
    out["session.start_s"] = start_s
    out["spark.heap_peak_mb"] = peak_heap / 2**20
    out["trace.wall_s"] = wall_s
    out["trace.self_sum_s"] = sum(self_t.values())
    return out


def stop_spark(spark) -> None:
    """Stop the session, then the JVM behind it, and wait for it to end."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def run(args) -> dict:
    from pyspark import SparkContext

    from trace import MemorySampler, heap_range

    nproc = len(os.sched_getaffinity(0))
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    configure_environment(run_dir, nproc, bool(args.trace))
    runner = Runner(args.workload, args.seed, prepare(args.seed, args.workload), bool(args.trace), run_dir)
    spark = None
    try:
        spark, setup_s, start_s = runner.setup()
        stamp = machine_stamp(spark)
        if args.trace:
            from trace import streaming_listener

            runner.listener = streaming_listener()
            spark.streams.addListener(runner.listener)
        jvm = SparkContext._gateway.proc.pid
        steal0, t0 = cpu_steal_s(), time.time()
        with MemorySampler(os.getpid(), jvm, heap_range(heap_log(run_dir))) as mem:
            done = runner.run_pass(spark)
        steal_share = (cpu_steal_s() - steal0) / ((time.time() - t0) * os.cpu_count())
        latencies = runner.check(done)
        e2e = end_to_end(latencies, setup_s, mem.peak_rest)
        if args.trace:
            metrics = per_layer(runner, spark, start_s, e2e["wall_s"], mem.peak_heap)
            runner.tracer.write(os.path.join(WORK, "traces", f"{runner.tracer.run_id}.jsonl"))
        else:
            metrics = e2e
    finally:
        if spark is not None:
            stop_spark(spark)
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
    result = {
        "correct": not runner.failures,
        "attempted": runner.attempted,
        "failed": len(runner.failures),
        "metrics": {
            name: {"value": metrics[name], "unit": unit} for name, unit in declared_metrics(bool(args.trace)).items()
        },
    }
    record = dict(result, workload=args.workload, seed=args.seed, trace=args.trace, seconds=args.seconds,
                  stamp=stamp, latencies=latencies, failures=runner.failures, steal_share=steal_share,
                  peak_heap_mb=mem.peak_heap / 2**20)
    with open(os.path.join(WORK, "results.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    for line in runner.failures:
        print(f"FAILED {line}", file=sys.stderr)
    return result


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)
    if not os.path.isdir(PACKAGE):
        print(f"perfbench: no engine package at {PACKAGE}; run from the root of a full checkout", file=sys.stderr)
        return 2
    os.makedirs(WORK, exist_ok=True)
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
