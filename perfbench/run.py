"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Steps, in one process and one
SparkSession on ``local[<cores available>]``:

1. generate inputs (not timed; cached under ``.bench_build/perfbench``);
2. set up: start the session, load the query modules, warm-up passes,
   the first of which checks every query's output;
3. timed passes for ``--seconds`` (at least the workload's
   ``min_passes``), each operation preceded by ``release_all()`` and
   ``clearCache()``; up to ``2 * --seconds`` while an operation has
   fewer than ``min_passes`` uncontended runs (see ``STEAL_LIMIT``). Every
   ``gtfs_nightly`` run, warm-up and timed, is checked as it finishes
   (the check is not timed).

With ``--trace 1``, step 3 is instead TRACED_PASSES untraced passes
alternating with as many traced ones.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics untraced, per-layer metrics
traced). See perfbench/README.md for what each metric means.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE_DIR = os.path.join(ROOT, "ntd_gtfs_to_socrata_spark")
CACHE = os.path.join(ROOT, ".bench_build", "perfbench")
TRACED_PASSES = 1
# An operation run during which the hypervisor held back more than this
# share of the machine's CPU time (steal, from /proc/stat) is contended.
# On a shared 4-vCPU host, `iterative_dedup` passes at 10-25% steal took
# 1.4 to 2.5 times as long as passes at under 2%: such a run measures the
# host, not the program.
STEAL_LIMIT = 0.02

END_TO_END_UNITS = {"setup_s": "s", "run_s": "s", "write_amp": "ratio"}


def pin_env(run_dir: str) -> dict[str, str]:
    """Fix the environment the engine reads, before any JVM starts."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    env = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        # the engine's 16g default can exceed physical memory
        "SPARK_GRAFT_DRIVER_MEM": f"{max(1, min(4, phys // (4 << 30)))}g",
        # Python workers import the package
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
    }
    for d in (env["SPARK_LOCAL_DIRS"], env["TMPDIR"]):
        os.makedirs(d, exist_ok=True)
    os.environ.update(env)
    return env


def cpu_ticks() -> tuple[int, int]:
    """Stolen and total CPU ticks of the machine since boot, from
    /proc/stat; (0, 0) where it cannot be read."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return 0, 0
    return ticks[7], sum(ticks)


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    return (after[0] - before[0]) / max(1, after[1] - before[1])


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


class Bench:
    min_passes = 3

    def __init__(self, args, spark, data_dir: str, data_bytes: int):
        self.args = args
        self.spark = spark
        self.data_dir = data_dir
        self.data_bytes = data_bytes
        self.attempted = 0
        self.failures: list[str] = []
        self.steal: dict[str, float] = {}  # of each operation's latest run
        from ntd_gtfs_to_socrata_spark.operators.stagecache import release_all

        self.release_all = release_all

    def _clean(self) -> None:
        self.release_all()
        self.spark.catalog.clearCache()

    def fail(self, op: str, why: str) -> None:
        self.failures.append(f"{op}: {why}")
        print(f"FAILED {op}: {why}", file=sys.stderr)

    def passes(self, seconds: float) -> tuple[list[dict[str, float]],
                                              list[dict[str, float]], range]:
        """Repeat ``one_pass`` for ``seconds`` (at least ``min_passes``
        times), and on up to ``2 * seconds`` while an operation has fewer
        than ``min_passes`` uncontended runs. Returns per-pass {operation:
        wall seconds}, per-pass {operation: steal share} and the job ids
        of the last pass (the status store keeps only the latest jobs)."""
        from perfbench.trace import JobReader

        reader = JobReader(self.spark)
        out: list[dict[str, float]] = []
        steal: list[dict[str, float]] = []
        t0 = time.perf_counter()
        while True:
            elapsed = time.perf_counter() - t0
            clean = min(sum(s.get(n, 1.0) <= STEAL_LIMIT for s in steal) for n in self.names)
            if len(out) >= self.min_passes and elapsed >= seconds and (
                    clean >= self.min_passes or elapsed >= 2 * seconds):
                break
            first_job = reader.next_job_id()
            out.append(self.one_pass())
            steal.append({n: self.steal[n] for n in out[-1]})
        reader.drain()
        return out, steal, range(first_job, reader.next_job_id())


class QueryBench(Bench):
    # Pass times keep falling for ~20 passes as the JVM compiles the
    # planner and scheduler paths, steeply over the first five; timing
    # starts after those, a fixed count so every run times the same
    # stretch of that curve.
    warm_passes = 5

    def __init__(self, args, spark, data_dir, data_bytes, names, expected):
        super().__init__(args, spark, data_dir, data_bytes)
        from ntd_gtfs_to_socrata_spark.queries import REGISTRY

        self.registry = REGISTRY
        self.names = names
        self.expected = expected
        self.rng = random.Random(args.seed)  # the order of queries in a pass

    def warm(self) -> None:
        """``warm_passes`` untimed passes, the first of which checks
        every query's output."""
        self.check()
        for _ in range(self.warm_passes - 1):
            self.one_pass()

    def check(self) -> None:
        """Row count and value hash of every query against expected.json."""
        from perfbench.workloads import result_digest

        for name in self.names:
            self._clean()
            self.attempted += 1
            try:
                got = result_digest(self.registry[name](self.spark, self.data_dir))
            except Exception:  # noqa: BLE001 - a failing query is counted, not fatal
                self.fail(name, traceback.format_exc(limit=3))
                continue
            if got != self.expected.get(name):
                self.fail(name, f"rows/hash {got} != expected {self.expected.get(name)}")

    def one_pass(self, tracer=None) -> dict[str, float]:
        order = list(self.names)
        self.rng.shuffle(order)
        times = {}
        for name in order:
            self._clean()
            self.attempted += 1
            ticks = cpu_ticks()
            t0 = time.perf_counter()
            try:
                if tracer is None:
                    df = self.registry[name](self.spark, self.data_dir)
                    df.write.format("noop").mode("overwrite").save()
                else:
                    with tracer.span("queries", name):
                        df = self.registry[name](self.spark, self.data_dir)
                    with tracer.span("action", name):
                        df.write.format("noop").mode("overwrite").save()
            except Exception:  # noqa: BLE001
                self.fail(name, traceback.format_exc(limit=3))
                continue
            times[name] = time.perf_counter() - t0
            self.steal[name] = steal_share(ticks, cpu_ticks())
        return times


class GtfsBench(Bench):
    min_passes = 2  # a night takes 7-13 s

    def __init__(self, args, spark, data_dir, data_bytes, expected, work_dir):
        super().__init__(args, spark, data_dir, data_bytes)
        from perfbench.workloads import GtfsNight

        self.night = GtfsNight(data_dir, work_dir)
        self.expected = expected
        self.names = ["nightly_run"]

    def warm(self) -> None:
        """One untimed run of the same night (checked like every run)."""
        self.one_pass()

    def one_pass(self, tracer=None) -> dict[str, float]:
        self.night.reset()  # not timed
        self._clean()
        self.attempted += 1
        span = None if tracer is None else (lambda name: tracer.span("action", name))
        ticks = cpu_ticks()
        t0 = time.perf_counter()
        try:
            reported = self.night.run(self.spark, span)
        except Exception:  # noqa: BLE001
            self.fail("nightly_run", traceback.format_exc(limit=3))
            return {}
        wall = time.perf_counter() - t0
        self.steal["nightly_run"] = steal_share(ticks, cpu_ticks())
        for why in self.night.check(self.spark, reported, self.expected):
            self.fail("nightly_run", why)
        return {"nightly_run": wall}


def uncontended(passes: list[dict[str, float]], steal: list[dict[str, float]],
                k: int) -> list[dict[str, float]]:
    """``passes`` cut down, for each operation, to its runs with steal
    share at most STEAL_LIMIT if there are at least ``k`` of them, else
    to its ``k`` runs with the least steal."""
    kept: list[dict[str, float]] = [{} for _ in passes]
    for name in {n for p in passes for n in p}:
        runs = [i for i, p in enumerate(passes) if name in p]
        clean = [i for i in runs if steal[i][name] <= STEAL_LIMIT]
        if len(clean) < k:
            clean = sorted(runs, key=lambda i: steal[i][name])[:k]
        for i in clean:
            kept[i][name] = passes[i][name]
    return kept


def run_s(passes: list[dict[str, float]], names: list[str]) -> float:
    """A workload pass as the sum over operations of each operation's
    median wall time across passes."""
    return sum(statistics.median(p[n] for p in passes if n in p) for n in names
               if any(n in p for p in passes))


def write_amp(reader, job_ids, data_bytes: int) -> float:
    t = reader.read(job_ids)
    return (t.output_bytes + t.shuffle_write_bytes) / data_bytes


def prepare_inputs(workload: str, seed: int, run_dir: str):
    from perfbench import gen

    if workload == "gtfs_nightly":
        data_dir = os.path.join(run_dir, "gtfs_inputs")
        expected = gen.write_gtfs(data_dir, seed)
        return data_dir, expected["input_bytes"], expected
    from perfbench.workloads import QUERY_TABLES

    data_dir = os.path.join(CACHE, "tables")
    gen.write_tables(data_dir)
    data_bytes = sum(os.path.getsize(os.path.join(data_dir, f"{t}.parquet"))
                     for t in QUERY_TABLES[workload])
    with open(os.path.join(ROOT, "perfbench", "expected.json")) as f:
        expected = json.load(f)
    return data_dir, data_bytes, expected


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(PACKAGE_DIR):
        print(f"engine package not found at {PACKAGE_DIR}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import QUERY_WORKLOADS, WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; known: {WORKLOADS}", file=sys.stderr)
        return 2

    os.makedirs(CACHE, exist_ok=True)
    run_dir = os.path.join(CACHE, f"run-{os.getpid()}")
    spark = None
    try:
        env = pin_env(run_dir)
        os.chdir(run_dir)  # stray relative writes (spark-warehouse) land here
        t_gen = time.perf_counter()
        data_dir, data_bytes, expected = prepare_inputs(args.workload, args.seed, run_dir)
        gen_s = time.perf_counter() - t_gen

        from ntd_gtfs_to_socrata_spark.queries import load_all_query_modules
        from ntd_gtfs_to_socrata_spark.session import get_spark

        t_session = time.time()
        spark = get_spark(f"perfbench-{args.workload}")
        t_session_end = time.time()
        load_all_query_modules()
        if args.workload == "gtfs_nightly":
            bench = GtfsBench(args, spark, data_dir, data_bytes, expected,
                              os.path.join(run_dir, "gtfs_work"))
        else:
            bench = QueryBench(args, spark, data_dir, data_bytes,
                               QUERY_WORKLOADS[args.workload], expected)
        bench.warm()
        setup_s = time.perf_counter() - T_START - gen_s
        print(f"env {json.dumps(env)}")

        if args.trace:
            metrics = traced_metrics(bench, (t_session, t_session_end))
        else:
            from perfbench.trace import JobReader

            all_passes, steal, last_pass_jobs = bench.passes(args.seconds)
            timed = uncontended(all_passes, steal, bench.min_passes)
            amp = write_amp(JobReader(spark), last_pass_jobs, data_bytes)
            e2e = {"setup_s": setup_s, "run_s": run_s(timed, bench.names), "write_amp": amp}
            print(f"{args.workload}: setup_s={setup_s:.3f} run_s={e2e['run_s']:.3f} "
                  f"({len(all_passes)} passes) write_amp={amp:.4f} inputs={data_bytes} B")
            print("steal share per operation run: " + json.dumps(
                {n: [round(s[n], 3) for s in steal if n in s] for n in bench.names}))
            print("per-operation [min, median, max] s of the runs run_s uses: " + json.dumps(
                {n: [round(f(p[n] for p in timed if n in p), 3)
                     for f in (min, statistics.median, max)]
                 for n in bench.names if any(n in p for p in timed)}))
            metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in e2e.items()}
        result = {
            "correct": not bench.failures,
            "attempted": bench.attempted,
            "failed": len(bench.failures),
            "metrics": metrics,
        }
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


def traced_metrics(bench, session_span: tuple[float, float]) -> dict:
    """Alternate TRACED_PASSES untraced and traced passes, so both see the
    same warm-up. Per-layer values are medians over the traced passes;
    ``trace.overhead_s`` is traced minus untraced ``run_s``."""
    from perfbench.trace import LAYERS, Tracer, instrument, layer_metrics

    tracer = Tracer(bench.spark)
    tracer.add_span("session", "session.get_spark", *session_span)
    session_spans = list(tracer.spans)
    instrument(tracer)
    cores = bench.spark.sparkContext.defaultParallelism
    per_pass: list[dict[str, float]] = []
    plain: list[dict[str, float]] = []
    traced: list[dict[str, float]] = []
    for _ in range(TRACED_PASSES):
        tracer.enabled = False
        plain.append(bench.one_pass())
        tracer.enabled = True
        start = len(tracer.spans)
        traced.append(bench.one_pass(tracer))
        spans = session_spans + tracer.spans[start:]
        m = layer_metrics(spans, cores)
        m["sources.read_amp"] = sum(m[f"{layer}.input_bytes"] for layer in LAYERS
                                    if f"{layer}.input_bytes" in m) / bench.data_bytes
        build = sum(s.t1 - s.t0 for s in spans if s.layer == "queries" and s.parent is None)
        act = sum(s.t1 - s.t0 for s in spans if s.layer == "action" and s.parent is None)
        m["queries.build_frac"] = build / (build + act) if build + act else 0.0
        per_pass.append(m)
    out_path = os.path.join(CACHE, f"trace-{bench.args.workload}-{bench.args.seed}.json")
    with open(out_path, "w") as f:
        json.dump([s.to_json() for s in tracer.spans], f)
    traced_s, plain_s = run_s(traced, bench.names), run_s(plain, bench.names)
    print(f"traced run_s={traced_s:.3f} untraced run_s={plain_s:.3f} "
          f"spans={len(tracer.spans)} -> {out_path}")
    metrics = {k: {"value": statistics.median(m[k] for m in per_pass), "unit": unit_of(k)}
               for k in per_pass[0]}
    metrics["trace.overhead_s"] = {"value": traced_s - plain_s, "unit": "s"}
    return metrics


def unit_of(metric: str) -> str:
    counter = metric.split(".", 1)[1]
    if counter.endswith("_s"):
        return "s"
    if counter.endswith("_bytes"):
        return "bytes"
    if counter in ("core_util", "read_amp", "build_frac"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
