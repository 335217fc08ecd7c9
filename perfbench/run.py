"""Benchmark: catalog queries end to end, one workload per process.

    python3 perfbench/run.py --workload stream_ingest --seed 1 --seconds 6 --trace 0

Run from the root of a checkout.  One run:

1. sets up the session: imports, JVM launch, ``get_spark`` and a warm-up
   query, timed from the top of this file;
2. writes the workload's inputs under ``perfbench/.work`` from the seed;
3. runs one cold pass (``cold_pass_s``), then timed passes until
   ``--seconds`` of them have run, at least ``MIN_PASSES`` (``pass_s`` is
   their median).  Each query is built with
   ``catalog.queries()[name](spark, input_dir)`` and forced through the
   ``noop`` sink; the cache clears between queries sit outside the timed
   window.  The results of the cold pass and of the first timed pass are
   collected after each query's timer stops;
4. after the session stops, compares those results with each query's
   DuckDB oracle;
5. times ``SETUPS - 1`` more set-ups, each in a fresh process started
   with ``--setup-only``, and reports the median of all ``SETUPS`` as
   ``setup_s``.  Each full set-up costs about 10 s, so ``SETUPS`` is
   what the time budget of a run allows (README.md);
6. removes every ``.cache`` entry and work file it created.

The last stdout line is one JSON object; the line before it records the
seed, the input's content hash, the cpu count and Spark's
defaultParallelism.  ``--trace 1`` reports the per-layer metrics instead
(see ``trace.py``).  Exit status is 1 when any query raised or disagreed
with its oracle, 2 when the engine cannot be imported.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from dataclasses import dataclass  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import inputs, oracle, trace  # noqa: E402

SETUPS = 2
MIN_PASSES = 2
BASE_SEED = 42


@dataclass(frozen=True)
class Workload:
    queries: tuple[str, ...]
    sf: float  # scale factor of the generated base tables
    resample: int = 0  # documents resample factor, driven by --seed
    fresh_input: bool = False  # every pass reads a new copy at a new path


# BENCHMARK.json gates iterative_dedup_graph and stream_ingest; keyword_scan
# runs by hand.  The query lists are cut to fit the benchmark's time budget
# (README.md, "Why two gated workloads").
WORKLOADS = {
    "keyword_scan": Workload(
        queries=(
            "industry_counts",
            "keyword_breakdown",
            "top_posts_per_industry",
            "channel_audit",
            "top_channels_by_views",
            "word_frequency_by_industry",
            "events_daily_counts",
        ),
        sf=0.1,
        resample=10,
    ),
    "iterative_dedup_graph": Workload(
        queries=(
            "winnowing_dup_groups",
            "purchase_reachability",
        ),
        sf=0.002,
    ),
    "stream_ingest": Workload(
        queries=(
            "stateful_user_stats",
            "stream_ingest_dedup",
        ),
        sf=0.001,
        fresh_input=True,
    ),
}

END_TO_END = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "pass_s": "s",
    "query_geomean_s": "s",
    "py_peak_rss_mb": "MB",
}


def cache_entries(cache_root: str) -> set[str]:
    """``.cache`` entries two levels deep (``family/key`` or a top-level
    ``jsonl_<key>``-style directory), relative to ``cache_root``."""
    out: set[str] = set()
    if not os.path.isdir(cache_root):
        return out
    for top in os.listdir(cache_root):
        out.add(top)
        p = os.path.join(cache_root, top)
        if os.path.isdir(p):
            out.update(os.path.join(top, k) for k in os.listdir(p))
    return out


def tree_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def remove_new_entries(cache_root: str, before: set[str], existed: bool) -> None:
    if not existed:
        shutil.rmtree(cache_root, ignore_errors=True)
        return
    # parents first: a new family directory takes its keys with it
    for rel in sorted(cache_entries(cache_root) - before, key=len):
        p = os.path.join(cache_root, rel)
        if os.path.isdir(p):
            shutil.rmtree(p, ignore_errors=True)
        elif os.path.exists(p):
            os.remove(p)


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def stop_spark(spark) -> None:
    """Stop the session and wait until its JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        # the JVM exits when its stdin closes
        proc.stdin.close()
        proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


class Bench:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.wl = WORKLOADS[args.workload]
        self.cpus = len(os.sched_getaffinity(0))
        self.cache_root = os.path.join(ROOT, ".cache")
        self.failures: list[str] = []
        self.attempted = 0
        self.setups: list[float] = []
        self.tracer = None
        self.windows: list[tuple[float, float, float]] = []
        self.results: list[tuple[int, str, tuple]] = []

    # -- session ---------------------------------------------------------
    def conf(self) -> dict[str, str]:
        tmp = os.path.join(self.work, "tmp")
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.work, "local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        }
        if self.args.trace:
            log_dir = os.path.join(self.work, "eventlog")
            os.makedirs(log_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        return conf

    def setup(self):
        """Process start to session ready: imports, JVM launch, get_spark
        and a warm-up query."""
        from database_per_keyword_analysis_spark.session import get_spark

        t = time.perf_counter()
        spark = get_spark(f"perfbench-{self.args.workload}", extra_conf=self.conf())
        self.get_spark_s = time.perf_counter() - t
        spark.range(0, 200_000, numPartitions=self.cpus).selectExpr(
            "sum(id) AS s"
        ).collect()
        self.setups.append(time.perf_counter() - _T0)
        return spark

    def more_setups(self) -> None:
        """The other ``SETUPS - 1`` set-ups, each in a fresh process timed
        the same way, run after this process's JVM has exited."""
        cmd = [
            sys.executable, os.path.abspath(__file__), "--workload", self.args.workload,
            "--seed", str(self.args.seed), "--seconds", "0", "--setup-only",
        ]
        for _ in range(SETUPS - 1):
            out = subprocess.run(
                cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=60, check=True
            )
            self.setups.append(json.loads(out.stdout.strip().splitlines()[-1])["setup_s"])

    # -- inputs ----------------------------------------------------------
    def prepare_inputs(self) -> None:
        base = os.path.join(self.work, "base")
        inputs.write_base(base, self.wl.sf, BASE_SEED)
        if self.wl.resample:
            self.input0 = os.path.join(self.work, "in")
            inputs.resample_documents(base, self.input0, self.wl.resample, self.args.seed)
        else:
            self.input0 = base
        self.base = base
        self.input_hash = inputs.content_hash(self.input0)

    def input_for_pass(self, k: int) -> str:
        if not self.wl.fresh_input:
            return self.input0
        d = os.path.join(self.work, f"pass{k}")
        shutil.copytree(self.base, d)
        return d

    # -- passes ----------------------------------------------------------
    def run_pass(self, spark, k: int, check: bool, traced: bool) -> dict[str, float]:
        from database_per_keyword_analysis_spark import catalog, materialize

        in_dir = self.input_for_pass(k)
        order = list(self.wl.queries)
        # the cold pass keeps the listed order: whichever query runs first
        # pays the JVM's warm-up, so a shuffled cold pass is not comparable
        # from run to run
        if k > 0:
            random.Random(self.args.seed * 1000 + k).shuffle(order)
        qs = catalog.queries()
        if traced:
            self.tracer.install(type(spark.range(1)))
        times: dict[str, float] = {}
        try:
            for name in order:
                self.attempted += 1
                w0 = time.time()
                t0 = time.perf_counter()
                try:
                    df = qs[name](spark, in_dir)
                    t1 = time.perf_counter()
                    w1 = time.time()
                    if traced:
                        df._jdf.queryExecution().executedPlan()
                        t_plan = time.perf_counter()
                    df.write.format("noop").mode("overwrite").save()
                    t2 = time.perf_counter()
                    times[name] = t2 - t0
                    if traced:
                        self.windows.append((w0 * 1e3, w1 * 1e3, time.time() * 1e3))
                        sp = self.tracer.spans
                        sp["catalog.construct_s"] += t1 - t0
                        sp["catalyst.plan_s"] += t_plan - t1
                        sp["exec.sink_s"] += t2 - t_plan
                    if check:
                        self.results.append((k, name, oracle.canonical(df)))
                except Exception:
                    self.fail(k, name, traceback.format_exc(limit=3))
                finally:
                    spark.catalog.clearCache()
                    materialize.release_materialized()
        finally:
            if traced:
                self.tracer.uninstall()
        return times

    def check_results(self) -> None:
        """Compare the collected results with the DuckDB oracle.  Runs
        after the peak RSS is read, so DuckDB's memory is not counted."""
        want = oracle.expected(self.input0, list(self.wl.queries))
        for k, name, got in self.results:
            bad = oracle.diff(got, want[name])
            if bad:
                self.fail(k, name, bad)

    def fail(self, k: int, name: str, why: str) -> None:
        self.failures.append(name)
        print(f"FAILED pass {k} {name}: {why}", file=sys.stderr, flush=True)

    def traced_cache_pass(self, spark, k: int, check: bool) -> dict[str, float]:
        before = cache_entries(self.cache_root)
        times = self.run_pass(spark, k, check, traced=True)
        new = cache_entries(self.cache_root) - before
        # count index/checkpoint roots, not the family dirs holding them
        roots = {r for r in new if not any(r.startswith(o + os.sep) for o in new if o != r)}
        self.tracer.counts["cache.builds"] += len(roots)
        self.tracer.spans["cache.mb_written"] += sum(
            tree_bytes(os.path.join(self.cache_root, r)) for r in roots
        ) / (1024.0 * 1024.0)
        return times

    # -- run -------------------------------------------------------------
    def run(self) -> dict:
        spark = self.setup()
        self.default_parallelism = spark.sparkContext.defaultParallelism
        self.prepare_inputs()

        traced_run = bool(self.args.trace)
        if traced_run:
            self.tracer = trace.Tracer()
            cold_times = self.traced_cache_pass(spark, 0, check=True)
        else:
            cold_times = self.run_pass(spark, 0, check=True, traced=False)

        passes: list[dict[str, float]] = []
        traced_passes: list[dict[str, float]] = []
        k = 1
        # At least MIN_PASSES, so one slow pass does not decide pass_s.
        # A traced run alternates untraced and traced passes (at least one
        # of each) so the tracing overhead is measured in-process.
        while (
            len(passes) < MIN_PASSES
            or sum(sum(p.values()) for p in passes) < self.args.seconds
            or (traced_run and not traced_passes)
        ):
            if traced_run and passes and len(traced_passes) < len(passes):
                traced_passes.append(self.traced_cache_pass(spark, k, check=False))
            else:
                passes.append(self.run_pass(spark, k, check=(k == 1), traced=False))
            k += 1

        jvm_pid = spark._jvm.ProcessHandle.current().pid()
        jvm_rss = vm_hwm_mb(jvm_pid)
        app_id = spark.sparkContext.applicationId
        stop_spark(spark)
        py_rss = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        self.check_results()
        if not traced_run:
            self.more_setups()

        totals = [sum(p.values()) for p in passes]
        per_query = {
            q: statistics.median(p[q] for p in passes if q in p)
            for q in self.wl.queries
            if any(q in p for p in passes)
        }
        self.info = {
            "workload": self.args.workload,
            "seed": self.args.seed,
            "input_hash": self.input_hash,
            "cpus": self.cpus,
            "defaultParallelism": self.default_parallelism,
            "timed_passes": len(passes),
            "traced_passes": len(traced_passes),
            "pass_totals_s": [round(x, 3) for x in totals],
            "failed_frac": len(self.failures) / self.attempted,
            "jvm_peak_rss_mb": round(jvm_rss, 1),
            "setups_s": [round(s, 4) for s in self.setups],
            "query_median_s": {q: round(v, 4) for q, v in per_query.items()},
            "cold_query_s": {q: round(v, 4) for q, v in cold_times.items()},
        }
        if not traced_run:
            vals = {
                "setup_s": statistics.median(self.setups),
                "cold_pass_s": sum(cold_times.values()),
                "pass_s": statistics.median(totals),
                "query_geomean_s": math.exp(
                    statistics.fmean(math.log(v) for v in per_query.values())
                )
                if per_query
                else 0.0,
                "py_peak_rss_mb": py_rss,
            }
            return {n: {"value": vals[n], "unit": u} for n, u in END_TO_END.items()}

        log = os.path.join(self.work, "eventlog", app_id)
        vals = trace.event_log_metrics(log, self.windows, self.default_parallelism)
        vals.update(self.tracer.spans)
        vals.update(self.tracer.counts)
        traced_total = statistics.median(sum(p.values()) for p in traced_passes)
        vals["session.get_spark_s"] = self.get_spark_s
        vals["trace.pass_s"] = traced_total
        # the first timed pass still carries JIT warm-up and every traced
        # pass runs after it, so it is left out of the comparison
        vals["trace.overhead_s"] = traced_total - statistics.median(totals[1:])
        return {
            n: {"value": float(vals.get(n, 0.0)), "unit": u} for n, u in trace.PER_LAYER.items()
        }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--setup-only", action="store_true",
        help="time one session set-up, print it as JSON and exit",
    )
    args = ap.parse_args(argv)

    try:
        import database_per_keyword_analysis_spark  # noqa: F401
        import tools.check_oracle  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Python workers are separate interpreters started by the JVM: they
    # find the engine through PYTHONPATH wherever the benchmark runs.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))

    # a terminated run still cleans up (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    bench = Bench(args, work)
    if args.setup_only:
        try:
            stop_spark(bench.setup())
        finally:
            shutil.rmtree(work, ignore_errors=True)
        print(json.dumps({"setup_s": bench.setups[0]}), flush=True)
        return 0
    cache_before = cache_entries(bench.cache_root)
    cache_existed = os.path.isdir(bench.cache_root)
    try:
        metrics = bench.run()
    finally:
        remove_new_entries(bench.cache_root, cache_before, cache_existed)
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)

    correct = not bench.failures
    print(json.dumps({"info": bench.info}), flush=True)
    print(
        json.dumps({
            "correct": correct,
            "attempted": bench.attempted,
            "failed": len(bench.failures),
            "metrics": metrics,
        }),
        flush=True,
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
