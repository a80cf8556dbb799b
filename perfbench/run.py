#!/usr/bin/env python3
"""The repo benchmark: one workload, one fresh Spark process, one seed.

    python3 perfbench/run.py --workload etl_relational --seed 1 --seconds 8 --trace 0

Run from the repository root. A run sets up a session, makes one cold
pass over the workload's queries, warms up, makes the timed passes that
``--seconds`` buys, then checks every query's output once through
``parity.check_query``. Each query is called through its registry
``fn`` and materialized with a noop write, as ``bench.py`` does.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` is a separate
run that prints the per-layer metrics (see ``tracing.py``). The last line
of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``.

Everything the run writes goes under ``.perfbench_work/`` in the
repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import subprocess
import sys
import tempfile
import time
from contextlib import contextmanager

from pyspark import SparkContext

import proctree
import reference
import stats
import tracing
from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
SF_DIR = os.path.join(HERE, "data", "sf0.1")

WARMUP_PASSES = 2      # untimed passes after the cold one
PASS_BUDGET_S = 2.0    # --seconds buys one timed pass per this many seconds
MIN_TIMED_PASSES = 4   # the trend check compares two halves of two
SETUP_SAMPLES = 2      # fresh launches behind the setup_s median
POST_REFERENCE_SAMPLES = 4  # reference kernel samples after the JVM stops


def _confine_to_checkout() -> None:
    """Point every scratch location of Python, Spark and the JVM under
    WORK, so the run writes only inside the checkout."""
    dirs = {k: os.path.join(WORK, k) for k in ("tmp", "spark-local", "jvm-tmp")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = dirs["tmp"]
    tempfile.tempdir = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["spark-local"]
    # every JVM spark-submit starts, its launcher included; no perf data
    # files, which HotSpot would otherwise write under /tmp; and a fixed
    # set of JIT compiler threads, started with the JVM and never stopped,
    # so that proctree can tell their CPU time apart (compiled code and
    # the compile policy are the same as with the default)
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={dirs['jvm-tmp']} -XX:-UsePerfData "
                                       "-XX:-UseDynamicNumberOfCompilerThreads")
    os.environ["PYSPARK_SUBMIT_ARGS"] = "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))


def _import_package():
    """Import the package from this checkout, or exit without a result."""
    sys.path.insert(0, ROOT)
    try:
        import glue_etl_pyspark_spark as pkg
        from glue_etl_pyspark_spark import parity, registry, session
        from glue_etl_pyspark_spark.streaming import ops as stream_ops
    except ImportError as e:
        sys.exit(f"perfbench: cannot import glue_etl_pyspark_spark from {ROOT}: {e}")
    if not os.path.abspath(pkg.__file__).startswith(ROOT + os.sep):
        sys.exit(f"perfbench: glue_etl_pyspark_spark resolved outside {ROOT}: {pkg.__file__}")
    if not os.path.isdir(SF_DIR):
        sys.exit(f"perfbench: tables missing at {SF_DIR}")
    # stream drains stage their file-source links under this root
    stream_ops.STAGE_ROOT = os.path.join(WORK, "stream_stage")
    return parity, registry, session


def cpu_ticks() -> dict[str, int]:
    """Host-wide CPU time counters from /proc/stat, in clock ticks."""
    with open("/proc/stat") as f:
        fields = f.readline().split()[1:]
    names = ("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal")
    return dict(zip(names, map(int, fields)))


def process_age() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / proctree.CLK_TCK


def setup_session(session, registry):
    """Build the session and load the registry; the times of both calls
    and the process age once both have returned."""
    t0 = time.time()
    spark = session.get_spark(app_name="perfbench")
    t1 = time.time()
    specs = registry.load_all()
    t2 = time.time()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, specs, {"setup_s": process_age(), "get_spark_s": t1 - t0,
                          "load_all_s": t2 - t1, "start": t0, "ready": t2}


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def setup_probe() -> None:
    """``--setup-probe``: one fresh launch; prints its setup times."""
    _confine_to_checkout()
    _, registry, session = _import_package()
    spark, _, times = setup_session(session, registry)
    print(json.dumps({k: times[k] for k in ("setup_s", "get_spark_s", "load_all_s")}), flush=True)
    stop_session(spark)


def fresh_setup_samples(n: int) -> list[float]:
    """Setup time of ``n`` fresh launches of this script, one at a time."""
    samples = []
    for _ in range(n):
        out = subprocess.run([sys.executable, os.path.abspath(__file__), "--setup-probe"],
                             stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
                             timeout=120, check=True, cwd=ROOT).stdout
        samples.append(json.loads(out.strip().splitlines()[-1])["setup_s"])
    return samples


def _brief(e: Exception) -> str:
    return f"{type(e).__name__}: {(str(e).splitlines() or [''])[0]}"


class Runner:
    """Runs queries one at a time and records times and failures."""

    def __init__(self, spark, specs, queries, seed: int, tracer=None):
        self.spark, self.specs, self.queries = spark, specs, queries
        self.rng = random.Random(seed)
        self.tracer = tracer
        self.attempted = 0
        self.failures: list[tuple[str, str]] = []

    def order(self) -> list[str]:
        return self.rng.sample(self.queries, len(self.queries))

    def _fail(self, name: str, detail: str) -> None:
        self.failures.append((name, detail))
        print(f"# FAILED {name}: {detail}", flush=True)

    @contextmanager
    def _span(self, traced: bool, spans: list, name: str, parent=None, **attrs):
        """A tracer span around the block when ``traced``, else nothing."""
        if not traced:
            yield
            return
        with self.tracer.span(name, parent, **attrs) as span:
            yield
        spans.append(span)

    def run_pass(self, traced: bool = False, order: list[str] | None = None):
        """One pass, in ``order`` or else a seeded one; returns
        ``(wall_s, {query: wall_s}, pass_span, spans)``. ``spans`` holds
        the call and materialize spans of a traced pass."""
        times: dict[str, float] = {}
        spans: list = []
        pass_span = self.tracer.add("pass", time.time(), 0.0) if traced else None
        start = time.perf_counter()
        for name in order or self.order():
            self.spark.catalog.clearCache()
            self.attempted += 1
            try:
                t0 = time.perf_counter()
                with self._span(traced, spans, "queries.call", pass_span, query=name):
                    df = self.specs[name].fn(self.spark, SF_DIR)
                with self._span(traced, spans, "queries.materialize", pass_span, query=name):
                    df.write.mode("overwrite").format("noop").save()
                times[name] = time.perf_counter() - t0
            except Exception as e:  # a failing query is counted, not fatal
                self._fail(name, _brief(e))
        wall = time.perf_counter() - start
        if pass_span is not None:
            pass_span.end = pass_span.start + wall
        return wall, times, pass_span, spans

    def check(self, parity, con):
        """Run each query once through ``parity.check_query``; returns
        ``({query: wall_s}, spans)``."""
        times: dict[str, float] = {}
        spans: list = []
        for name in self.order():
            self.spark.catalog.clearCache()
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                with self._span(self.tracer is not None, spans, "parity.check_query", query=name):
                    res = parity.check_query(self.spark, SF_DIR, name, con=con)
            except Exception as e:
                self._fail(name, f"check raised {_brief(e)}")
                continue
            finally:
                times[name] = time.perf_counter() - t0
            if not res.ok:
                self._fail(name, f"output check: {res.detail}")
        return times, spans


def check_outputs(runner: Runner, parity) -> tuple[dict[str, float], list]:
    """``runner.check`` over one oracle connection. The connection spills
    inside the checkout and is bounded, so a runaway oracle fails its
    check instead of filling memory or disk."""
    con = parity.duckdb_connect(SF_DIR)
    try:
        con.execute(f"SET temp_directory='{os.path.join(WORK, 'duckdb_tmp')}'")
        con.execute("SET max_temp_directory_size='4GB'")
        con.execute("SET memory_limit='4GB'")
        return runner.check(parity, con)
    finally:
        con.close()


def timed_pass_count(seconds: float) -> int:
    """Timed passes that ``seconds`` buys. Fixed by the arguments, not by
    the clock, so every run, on either side of a change, times the same
    work and pools the same number of query samples."""
    return max(MIN_TIMED_PASSES, round(seconds / PASS_BUDGET_S))


def alternating_passes(runner: Runner, count: int):
    """``count`` passes as ``(traced, pass)``; every second one is traced."""
    return [(i % 2 == 1, runner.run_pass(traced=i % 2 == 1)) for i in range(count)]


def result_line(correct: bool, attempted: int, failed: int, metrics: dict[str, tuple[float, str]]) -> str:
    return json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    })


def run_timed(args, workload, parity, registry, session) -> int:
    phases = {}
    with proctree.PeakSampler() as sampler:
        spark, specs, setup = setup_session(session, registry)
        runner = Runner(spark, specs, list(workload.queries), args.seed)
        # the cold pass keeps the declared order, as a scheduled job script
        # does: its first query pays the JVM's class loading, so a seeded
        # order would make the cold pass vary with the seed
        cold, cold_times, _, _ = runner.run_pass(order=list(workload.queries))
        t = time.perf_counter()
        for _ in range(WARMUP_PASSES):
            runner.run_pass()
        phases["warm-up"] = time.perf_counter() - t
        t, ticks = time.perf_counter(), cpu_ticks()
        passes, pass_cpu, pass_bg, pass_steal, refs = [], [], [], [], []
        bg_threads, sampler_cpu = set(), 0.0
        for _ in range(timed_pass_count(args.seconds)):
            refs.append(reference.sample())
            cpu0, bg0, n0 = proctree.cpu_seconds()
            sampler0, steal0 = sampler.cpu_s, cpu_ticks()["steal"]
            passes.append(runner.run_pass())
            cpu1, bg1, n1 = proctree.cpu_seconds()
            sampler1 = sampler.cpu_s
            # the JVM's background threads and the RSS sampler's own
            # thread are left out
            pass_cpu.append((cpu1 - cpu0) - (bg1 - bg0) - (sampler1 - sampler0))
            pass_bg.append(bg1 - bg0)
            pass_steal.append((cpu_ticks()["steal"] - steal0) / proctree.CLK_TCK)
            bg_threads |= {n0, n1}
            sampler_cpu += sampler1 - sampler0
        phases["timed"] = time.perf_counter() - t
        ticks = {k: v - ticks[k] for k, v in cpu_ticks().items()}
        # the check runs the DuckDB oracles inside this process: their
        # memory is the checker's, not the engine's, so the peak stops here
        peak_rss_mb = sampler.peak_rss_mb
        t = time.perf_counter()
        check_times, _ = check_outputs(runner, parity)
        phases["check"] = time.perf_counter() - t
        t = time.perf_counter()
        stop_session(spark)
        phases["stop"] = time.perf_counter() - t
    # more samples of the host's speed, now that no JVM competes with them
    refs += [reference.sample() for _ in range(POST_REFERENCE_SAMPLES)]
    t = time.perf_counter()
    setups = [setup["setup_s"]] + fresh_setup_samples(SETUP_SAMPLES - 1)
    phases["setup samples"] = time.perf_counter() - t

    walls = [p[0] for p in passes]
    samples = [t for p in passes for t in p[1].values()]
    failed = len(runner.failures)
    tail_v, tail_p, n = stats.tail(samples)
    metrics = {
        "setup_s": (stats.median(setups), "s"),
        "pass_cpu_norm_s": (reference.rescale(stats.median(pass_cpu), stats.median(refs)), "s"),
        "ok_share": (stats.ok_share(workload.queries, [q for q, _ in runner.failures]), "share"),
    }
    print(f"# workload {workload.name} seed {args.seed}: {len(passes)} timed passes after 1 cold "
          f"and {WARMUP_PASSES} warm-up pass(es); {len(workload.queries)} queries per pass")
    print(f"# setup samples (s): {', '.join(f'{s:.3f}' for s in setups)}")
    # one sample a run, so the host's noise goes straight into it: printed,
    # not emitted as a metric
    print(f"# cold pass (s): {cold:.3f}")
    print("# phase walls (s): " + ", ".join(f"{k} {v:.1f}" for k, v in phases.items()))
    # the JVM's resident size follows its collector's heap sizing and moves
    # by a fifth or more from run to run: printed, not emitted as a metric
    print(f"# peak RSS of the process tree up to the check: {peak_rss_mb:.0f} MB; "
          f"peak Python worker processes: {sampler.window_workers}")
    print("# host CPU during the timed passes (core-s): " + ", ".join(
        f"{k} {v / proctree.CLK_TCK:.1f}" for k, v in ticks.items() if k in ("user", "system", "idle", "steal")))
    # the wall-time figures are printed, not emitted: a neighbour's load
    # moves them by a quarter or more for minutes at a time, while the
    # kernel leaves the CPU it steals out of the pass CPU, and the
    # reference kernel takes out how fast the host runs
    print(f"# pass_s (median timed pass wall): {stats.median(walls):.3f} s")
    print(f"# timed pass walls (s): {', '.join(f'{w:.3f}' for w in walls)}")
    print(f"# timed pass CPU of the process tree, background threads left out (core-s): "
          f"{', '.join(f'{c:.2f}' for c in pass_cpu)}; median {stats.median(pass_cpu):.3f}")
    print(f"# reference kernel CPU before each timed pass, then after the JVM stopped (s): "
          f"{', '.join(f'{r:.4f}' for r in refs)}; median {stats.median(refs):.4f}, "
          f"nominal {reference.NOMINAL_S}")
    print(f"# pass_cpu_norm_s = {stats.median(pass_cpu):.3f} * {reference.NOMINAL_S} / {stats.median(refs):.4f}")
    print(f"# timed pass CPU of the JVM's background threads (JIT, concurrent GC; "
          f"{'/'.join(map(str, sorted(bg_threads)))} threads) (core-s): {', '.join(f'{c:.2f}' for c in pass_bg)}")
    print(f"# CPU of the RSS sampler over the timed passes (core-s): {sampler_cpu:.2f}")
    print(f"# host steal per timed pass (core-s): {', '.join(f'{c:.2f}' for c in pass_steal)}")
    per_query = {q: stats.median([p[1][q] for p in passes if q in p[1]]) for q in workload.queries}
    print("# per query, cold and median timed (s): " + ", ".join(
        f"{q} {cold_times.get(q, float('nan')):.2f}/{t:.2f}" for q, t in per_query.items()))
    print("# output check per query (s): " + ", ".join(f"{q} {t:.2f}" for q, t in check_times.items()))
    print(f"# trend: second-half median / first-half median - 1 = {stats.trend(walls):+.3f}")
    # too few query runs make a tail
    print(f"# query p50: {stats.median(samples):.3f} s; "
          f"query tail: p{tail_p:.1f} of n={n} query runs = {tail_v:.3f} s")
    print(f"# failed_share = {stats.failed_share(runner.attempted, failed):.4f} "
          f"({failed} of {runner.attempted} query runs)")
    for name, detail in runner.failures:
        print(f"# failing query: {name}: {detail}")
    for k, (v, u) in metrics.items():
        print(f"{k} = {v:.4f} {u}")
    print(result_line(failed == 0, runner.attempted, failed, metrics), flush=True)
    return 0


def run_traced(args, workload, parity, registry, session) -> int:
    run_id = f"{workload.name}-seed{args.seed}-{int(time.time())}"
    tracer = tracing.Tracer(run_id)
    with proctree.PeakSampler() as sampler:
        with tracer.span("run", workload=workload.name, seed=args.seed) as root:
            spark, specs, setup = setup_session(session, registry)
            layer_spans = [
                tracer.add("session.get_spark", setup["start"], setup["start"] + setup["get_spark_s"], root),
                tracer.add("registry.load_all", setup["ready"] - setup["load_all_s"], setup["ready"], root),
            ]
            rest = tracing.SparkRest(spark)
            events = tracing.StreamEvents()
            spark.streams.addListener(events)
            runner = Runner(spark, specs, list(workload.queries), args.seed, tracer)
            cold = runner.run_pass(order=list(workload.queries))[0]
            for _ in range(WARMUP_PASSES):
                runner.run_pass()

            untraced, traced, per_pass, per_query = [], [], [], {}
            sampler.mark()
            # an even count near the timed run's; every second pass is traced
            count = 2 * ((timed_pass_count(args.seconds) + 1) // 2)
            for is_traced, (wall, _, pass_span, spans) in alternating_passes(runner, count):
                if not is_traced:
                    untraced.append(wall)
                    continue
                layer_spans += spans
                t0 = time.perf_counter()
                events.settle()
                snap = rest.snapshot()
                traced.append(wall + time.perf_counter() - t0)
                tracer.attach_spark([pass_span] + spans, snap, events)
                m = tracing.window_metrics(pass_span.start, pass_span.end, snap, events)
                calls = [s for s in spans if s.name == "queries.call"]
                mats = [s for s in spans if s.name == "queries.materialize"]
                m["queries.call_s"] = sum(s.dur for s in calls)
                m["queries.materialize_s"] = sum(s.dur for s in mats)
                m["queries.call_self_s"] = sum(tracer.self_time(s) for s in calls)
                m["queries.materialize_self_s"] = sum(tracer.self_time(s) for s in mats)
                per_pass.append(m)
                mat_of = {s.attrs["query"]: s for s in mats}
                for c in calls:
                    mat = mat_of.get(c.attrs["query"])
                    if mat is None:  # its noop write failed
                        continue
                    q = tracing.window_metrics(c.start, mat.end, snap, events)
                    q["queries.call_s"], q["queries.materialize_s"] = c.dur, mat.dur
                    per_query.setdefault(c.attrs["query"], []).append(q)
            workers = sampler.mark()  # peak over the timed passes
            rss_mb = sampler.peak_rss_mb  # before the check's DuckDB oracles

            _, checks = check_outputs(runner, parity)
            events.settle()
            snap = rest.snapshot()
            tracer.attach_spark(checks, snap, events)
            layer_spans += checks
            heap_mb = tracing.jvm_heap_peak_mb(snap)
        stop_session(spark)

    metrics: dict[str, tuple[float, str]] = {}
    for name in tracing.LAYER_METRICS:
        if name == "session.get_spark_s":
            v = setup["get_spark_s"]
        elif name == "registry.load_all_s":
            v = setup["load_all_s"]
        elif name == "queries.cold_pass_s":
            v = cold
        elif name == "mem.jvm_heap_peak_mb":
            v = heap_mb
        elif name == "mem.rss_peak_mb":
            v = rss_mb
        elif name == "mem.python_workers":
            v = workers
        else:
            v = stats.median([m[name] for m in per_pass])
        metrics[name] = (float(v), trace_unit(name))
    failed = len(runner.failures)

    print(f"# traced run {run_id}: {len(traced)} traced and {len(untraced)} untraced timed passes")
    for name, detail in runner.failures:
        print(f"# failing query: {name}: {detail}")
    print(f"# tracing overhead: traced pass_s - untraced pass_s = "
          f"{stats.median(traced) - stats.median(untraced):+.3f} s "
          f"({stats.median(traced):.3f} vs {stats.median(untraced):.3f})")
    print("# self time by layer span over the traced passes (s): name  count  total  self")
    for name in ("session.get_spark", "registry.load_all", "queries.call", "queries.materialize",
                 "parity.check_query"):
        sel = [s for s in layer_spans if s.name == name]
        if sel:
            print(f"#   {name:22s} {len(sel):4d} {sum(s.dur for s in sel):8.3f} "
                  f"{sum(tracer.self_time(s) for s in sel):8.3f}")
    cols = ("queries.call_s", "queries.materialize_s", "driver.jobs", "exec.stages", "exec.tasks",
            "exec.run_s", "exchange.shuffle_write_mb", "io.output_rows", "python.nodes", "stream.batches")
    print("# per query (median over traced passes): " + "  ".join(cols))
    for q, rows in sorted(per_query.items()):
        print(f"#   {q:30s} " + "  ".join(f"{stats.median([r[c] for r in rows]):.3f}" for c in cols))
    for k, (v, u) in metrics.items():
        print(f"{k} = {v:.4f} {u}")
    path = os.path.join(WORK, f"trace-{workload.name}-seed{args.seed}.json")
    tracer.dump(path)
    print(f"# spans written to {os.path.relpath(path, ROOT)}")
    print(result_line(failed == 0, runner.attempted, failed, metrics), flush=True)
    return 0


def trace_unit(name: str) -> str:
    for suffix, unit in (("_s", "s"), ("_mb", "MB"), ("busy_cores", "cores")):
        if name.endswith(suffix):
            return unit
    return "count"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--setup-probe", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    if args.setup_probe:
        setup_probe()
        return 0
    if args.workload is None:
        ap.error("--workload is required")
    _confine_to_checkout()
    parity, registry, session = _import_package()
    run = run_traced if args.trace else run_timed
    return run(args, WORKLOADS[args.workload], parity, registry, session)


if __name__ == "__main__":
    sys.exit(main())
