"""Benchmark of the analyzer's user paths, end to end and layer by layer.

    python3 perfbench/run.py --workload ingest|registry \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. One process generates the workload's
inputs from the seed, starts a local[2] Spark session and warms it up with
a cold first pass and a second one (together `setup_s`), then repeats
passes of the workload for at least S seconds, and at least three, through
the program's public entry points: `cli.main([...])` in-process for
`ingest` (extract -> process -> analyze), and the `driver_queries.queries()`
callables for `registry`. Outputs are checked outside the timed region.
The last line of stdout is one JSON object {correct, attempted, failed,
metrics}; the line before it carries evidence that is not a metric:
host-load probes at the start and end, the input size, and the workload's
named metrics (extract_s, sweep_s, ...).

--trace 0 reports the end-to-end metrics: `setup_s` and `pass_s`, the wall
time of a timed pass, summed over its steps from each step's median.
--trace 1 alternates untraced passes with traced ones and reports the
per-layer metrics: spans around each layer's public calls record wall and
self time plus the Spark status-store counters of the stages the span
covered. Traced passes force each layer's lazy result inside its span, so
they run slower than the untraced ones, by `trace.overhead_frac`.
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import gzip
import io
import json
import os
import re
import shutil
import statistics
import sys
import tempfile
import time
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
INGEST_FILES = 40
# Spark task slots. The host gives a few vCPUs; the driver JVM's JIT, GC and
# the report's eight chart threads need some of them beside the tasks, and
# on these small inputs two slots run a pass as fast as four.
CPUS = 2
# passes in set-up: the cold first pass, and one more because the second
# still runs 10-40% slower than the later ones while the JIT compiles the
# planning paths of analyze and of the registry queries
WARM_PASSES = 2
# untraced passes a run measures at least, whatever --seconds says; the
# median of three is robust to one pass slowed by the host
MIN_PASSES = 3
DRIVER_MEMORY = "4g"
N_CHARTS = 30  # a correct ingest report has every analyzer's chart
REGISTRY_DATA = os.path.join(HERE, "data", "sf0.01")
PROCESS_FLAGS = [
    "--remove-query", "--rename-schemas", "--rename-catalogs",
    "--remove-locations", "--rename-user", "--rename-partitions",
]
SPANS = ("extract", "process", "read", "silver", "flatten", "analyzers", "emit",
         "registry.build", "registry.plan", "registry.execute")
SPAN_EXTRAS = {
    "extract": ("output_bytes", "output_files", "kept_ratio"),
    "process": ("output_bytes",),
    "silver": ("cached_bytes", "shuffle_bytes"),
    "flatten": ("rows",),
    "analyzers": ("shuffle_bytes", "spill_bytes", "chart_s_p50", "chart_s_max"),
    "emit": ("report_bytes",),
    "registry.execute": ("shuffle_bytes", "spill_bytes"),
}
FAMILIES = ("a", "k", "p", "s", "x", "xs")
# the workloads' named metrics, timed on the untraced passes; the traced run
# reports all of them, 0 where the workload does not have the step.
# peak_pss_mb spans the whole run. The JVM's heap grows as its collector
# chooses, so across seeds its IQR/median was 0.09-0.24 on a 4-vCPU VM.
# pass_cpu_s, the CPU time of the whole process tree per pass, includes the
# JIT's compile threads, so it keeps falling for many passes after the wall
# time has settled; across ten seeds its IQR/median was 0.43-0.55 on a
# 4-vCPU VM.
NAMED = {"pass_cpu_s": "s", "extract_s": "s", "process_s": "s", "analyze_s": "s", "docs_per_s": "docs/s",
         "sweep_s": "s", "query_s_p50": "s", "query_s_p95": "s", "failed_frac": "fraction",
         "peak_pss_mb": "MB"}


def _quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (numpy's default method)."""
    v = sorted(values)
    pos = (len(v) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def _pass_s(passes: list[list[Step]], key: str = "wall_s") -> float:
    """Time of one pass: the sum over its steps of each step's median over
    the passes, so a step slowed in one pass and another step slowed in
    another both drop out."""
    return sum(statistics.median(getattr(p[i], key) for p in passes) for i in range(len(passes[0])))


def _dir_bytes(path: str) -> tuple[int, int]:
    files = glob.glob(os.path.join(path, "part-*"))
    return sum(os.path.getsize(f) for f in files), len(files)


def _jsonl_count(path: str) -> int:
    n = 0
    for f in glob.glob(os.path.join(path, "part-*.json.gz")):
        with gzip.open(f, "rt") as fh:
            n += sum(1 for line in fh if line.strip())
    return n


def _check_report(path: str, expected: dict) -> list[str]:
    with open(path) as f:
        m = re.search(r'<script id="payload" type="application/json">(.*?)</script>', f.read(), re.S)
    if not m:
        return [f"{path}: no report payload"]
    doc = json.loads(m.group(1).replace("<\\/", "</"))
    problems = []
    if len(doc["charts"]) != N_CHARTS:
        problems.append(f"report has {len(doc['charts'])} charts, expected {N_CHARTS}")
    if doc["errors"]:
        problems.append(f"report errors: {doc['errors']}")
    got = doc["structure"]["metrics"]
    for k, want in expected.items():
        v = got.get(k)
        if v is None or abs(v - want) > 1e-9 * max(1.0, abs(want)):
            problems.append(f"structure.metrics.{k}: got {v}, expected {want}")
    return problems


@dataclass
class Step:
    """One timed operation: a cli command or a registry query."""

    name: str
    wall_s: float
    cpu_s: float  # CPU time of the whole process tree while it ran


class Run:
    """State one run shares across its passes: session, tracer, counts."""

    def __init__(self, spark, work: str) -> None:
        self.spark = spark
        self.work = work
        self.tracer = None
        self.traced = False
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if self.traced:
            with self.tracer.span(name) as s:
                yield s
        else:
            yield None

    def step(self, label: str, fn, *args):
        """One operation: (Step, result). An exception counts as a failed
        operation and gives result None."""
        from perfbench.trace import tree_cpu_s

        self.attempted += 1
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        try:
            out = fn(*args)
        except Exception as e:  # noqa: BLE001 — count it, keep the run going
            self.failed += 1
            self.problems.append(f"{label}: {type(e).__name__}: {e}"[:400])
            out = None
        wall = time.perf_counter() - t0
        return Step(label, wall, tree_cpu_s() - c0), out


class IngestWorkload:
    """extract -> process -> analyze through `cli.main`, with spans patched
    around the layers' entry points in traced passes."""

    def __init__(self, run: Run, seed: int) -> None:
        from perfbench import inputs

        self.run = run
        self.land = os.path.join(run.work, "landing")
        self.summary = os.path.join(run.work, "summary")
        self.processed = os.path.join(run.work, "processed")
        self.report = os.path.join(run.work, "report.html")
        self.n_inputs = INGEST_FILES
        self.expected = inputs.make_ingest(self.land, seed, INGEST_FILES)
        self.items = self.expected.n_queries

    def _cli(self, argv: list[str]) -> str:
        from presto_workload_analyzer_spark import cli

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            rc = cli.main(argv)
        if rc != 0:
            raise RuntimeError(f"cli {argv[0]} exited {rc}")
        return buf.getvalue()

    def run_pass(self) -> list[Step]:
        with self.run.span("extract") as s:
            extract, out = self.run.step("extract", self._cli, ["extract", "-i", self.land, "-o", self.summary])
            if s is not None and out:
                s.counters["output_bytes"], s.counters["output_files"] = _dir_bytes(self.summary)
                s.counters["kept_ratio"] = int(re.search(r"extracted (\d+)", out).group(1)) / self.n_inputs
        with self.run.span("process") as s:
            process, _ = self.run.step(
                "process", self._cli, ["process", "-i", self.summary, "-o", self.processed, *PROCESS_FLAGS]
            )
            if s is not None:
                s.counters["output_bytes"] = _dir_bytes(self.processed)[0]
        analyze, _ = self.run.step("analyze", self._cli, ["analyze", "-i", self.processed, "-o", self.report])
        return [extract, process, analyze]

    def check(self) -> list[str]:
        problems = []
        for label, path in (("summary", self.summary), ("processed", self.processed)):
            n = _jsonl_count(path)
            if n != self.expected.valid_docs:
                problems.append(f"{label} has {n} records, expected {self.expected.valid_docs}")
        return problems + _check_report(self.report, self.expected.metrics())

    def after_pass(self) -> None:
        # each cli command is a fresh process for a user: drop the silver
        # caches the previous analyze left behind
        self.run.spark.catalog.clearCache()

    @contextlib.contextmanager
    def instrument(self):
        """Spans around the layers' public calls, for a traced pass."""
        from presto_workload_analyzer_spark import cli
        from presto_workload_analyzer_spark.report import emitter

        run, tracer = self.run, self.run.tracer
        orig_read, orig_silver = cli.read_summary_jsonl, cli.build_silver
        orig_report, orig_write = cli.build_report, cli.write_report
        orig_chart = emitter._chart_payload
        charts: list[float] = []

        # the summary read is lazy: its scan and JSON parse run in the
        # silver cache fill
        def read(spark, path):
            with run.span("read"):
                return orig_read(spark, path)

        # build_silver caches queries, operators and plan_nodes: their fills
        # are forced here, where analyze would run them in its first chart.
        # tasks is not cached, so its flatten runs inside each analyzer that
        # reads it and counts under analyzers.
        def silver(summary, *a, **kw):
            with run.span("silver") as s:
                tables = orig_silver(summary, *a, **kw)
                tables["queries"].count()
                tables["operators"].count()
                s.counters["cached_bytes"] = sum(
                    i.memSize() + i.diskSize() for i in run.spark.sparkContext._jsc.sc().getRDDStorageInfo()
                )
            with run.span("flatten") as s:
                s.counters["rows"] = tables["plan_nodes"].count()
            return tables

        def chart(*a, **kw):
            t0 = time.perf_counter()
            try:
                return orig_chart(*a, **kw)
            finally:
                t1 = time.perf_counter()
                tracer.child_interval(t0, t1)
                charts.append(t1 - t0)

        def report(*a, **kw):
            charts.clear()
            with run.span("analyzers") as s:
                out = orig_report(*a, **kw)
                s.counters["chart_s_p50"] = statistics.median(charts)
                s.counters["chart_s_max"] = max(charts)
            return out

        def write(rep, path):
            with run.span("emit") as s:
                orig_write(rep, path)
                s.counters["report_bytes"] = os.path.getsize(path)

        cli.read_summary_jsonl, cli.build_silver = read, silver
        cli.build_report, cli.write_report = report, write
        emitter._chart_payload = chart
        try:
            yield
        finally:
            cli.read_summary_jsonl, cli.build_silver = orig_read, orig_silver
            cli.build_report, cli.write_report = orig_report, orig_write
            emitter._chart_payload = orig_chart

    def named(self, passes: list[list[Step]]) -> dict:
        out = {f"{s.name}_s": (statistics.median(p[i].wall_s for p in passes), "s")
               for i, s in enumerate(passes[0])}
        out["docs_per_s"] = (self.items / _pass_s(passes), "docs/s")
        return out


class RegistryWorkload:
    """The registered driver queries listed in registry.txt, over the
    committed sf0.01 tables. Each query runs on its own QueryExecution:
    every row is computed and counted, and the count is checked against
    the oracle row count listed beside the query."""

    def __init__(self, run: Run, seed: int) -> None:
        from presto_workload_analyzer_spark import driver_queries

        del seed  # the tables are fixed; the workload has no seeded input
        self.run = run
        with open(os.path.join(HERE, "registry.txt")) as f:
            entries = (ln.split("#")[0].split() for ln in f)
            self.rows = {e[0]: int(e[1]) for e in entries if e}
        self.names = list(self.rows)
        registered = driver_queries.queries()
        unknown = sorted(set(self.names) - set(registered))
        if unknown:
            raise SystemExit(f"registry.txt names unregistered queries: {unknown}")
        self.fns = {n: registered[n] for n in self.names}
        self.items = self.n_inputs = len(self.names)
        self.problems: list[str] = []

    def _query(self, name: str) -> int:
        with self.run.span("registry.build"):
            df = self.fns[name](self.run.spark, REGISTRY_DATA)
        qe = df._jdf.queryExecution()
        if self.run.traced:
            with self.run.span("registry.plan"):
                qe.executedPlan()
        with self.run.span("registry.execute"):
            return qe.toRdd().count()

    def run_pass(self) -> list[Step]:
        steps = []
        for n in self.names:
            step, rows = self.run.step(n, self._query, n)
            steps.append(step)
            if rows is not None and rows != self.rows[n]:
                self.problems.append(f"{n}: {rows} rows, oracle {self.rows[n]}")
            if self.run.traced:
                self.run.tracer.add(f"registry.{re.match(r'[a-z]+', n).group()}", "wall_s", step.wall_s)
        return steps

    def check(self) -> list[str]:
        problems, self.problems = self.problems, []
        return problems

    def after_pass(self) -> None:
        pass

    @contextlib.contextmanager
    def instrument(self):
        yield  # the registry's spans are opened by _query itself

    def named(self, passes: list[list[Step]]) -> dict:
        walls = [s.wall_s for p in passes for s in p]
        return {
            "sweep_s": (_pass_s(passes), "s"),
            "query_s_p50": (statistics.median(walls), "s"),
            "query_s_p95": (_quantile(walls, 0.95), "s"),
        }


WORKLOADS = {"ingest": IngestWorkload, "registry": RegistryWorkload}


def _session(work: str):
    from presto_workload_analyzer_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        cpus=CPUS,
        extra_conf={
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # a bounded heap keeps the process tree's memory, and so
            # peak_pss_mb, from following the collector's whims
            "spark.driver.memory": DRIVER_MEMORY,
        },
    )


def _stop(spark) -> None:
    """Stop the session and wait for the JVM, and the Python workers it
    forked, to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — subprocess.TimeoutExpired
            proc.kill()
            proc.wait()


def _measure(args, work: str, trace) -> tuple[dict, dict]:
    run = Run(None, work)
    t0 = time.perf_counter()
    wl = WORKLOADS[args.workload](run, args.seed)
    generate_s = time.perf_counter() - t0

    # memory is sampled from the session start on, not over the generator,
    # and only in traced runs: the sampler's /proc walks over the JVM's
    # threads would slow the timed passes of the untraced ones
    with trace.MemorySampler() if args.trace else contextlib.nullcontext() as mem:
        t0 = time.perf_counter()
        run.spark = _session(work)
        try:
            session_s = time.perf_counter() - t0
            t0 = time.perf_counter()
            for _ in range(WARM_PASSES):
                wl.run_pass()
                run.problems.extend(wl.check())
                wl.after_pass()
            warm_up_s = time.perf_counter() - t0
            setup_s = session_s + warm_up_s
            probe_start = trace.host_probe()

            if args.trace:
                run.tracer = trace.Tracer(trace.StatusStore(run.spark))
            plain, traced = [], []
            t_end = time.perf_counter() + args.seconds

            def schedule():
                if args.trace:
                    # untraced and traced passes in the order ABBA, so a trend
                    # across passes cancels out of trace.overhead_frac
                    yield from (False, True, True, False)
                else:
                    while time.perf_counter() < t_end or len(plain) < MIN_PASSES:
                        yield False

            for run.traced in schedule():
                if run.traced:
                    run.tracer.begin_pass()
                with wl.instrument() if run.traced else contextlib.nullcontext():
                    steps = wl.run_pass()
                (traced if run.traced else plain).append(steps)
                run.problems.extend(wl.check())
                wl.after_pass()
            probe_end = trace.host_probe()
        finally:
            _stop(run.spark)

    named = wl.named(plain)
    named.update(
        failed_frac=(run.failed / run.attempted, "fraction"),
        setup_s=(setup_s, "s"),
        pass_cpu_s=(_pass_s(plain, "cpu_s"), "s"),
    )
    if args.trace:
        named["peak_pss_mb"] = (mem.peak_bytes / 2**20, "MB")
        metrics = _per_layer(run.tracer, plain, traced, trace.CORE)
        metrics.update({k: named.get(k, (0.0, unit)) for k, unit in NAMED.items()})
    else:
        metrics = {
            "setup_s": named["setup_s"],
            "pass_s": (_pass_s(plain), "s"),
        }
    evidence = {
        "workload": args.workload, "seed": args.seed, "cpus": CPUS, "trace": args.trace,
        "inputs": wl.n_inputs, "items": wl.items, "generate_s": generate_s,
        "session_s": session_s, "warm_up_s": warm_up_s,
        "pass_walls": [sum(s.wall_s for s in p) for p in plain],
        "traced_pass_walls": [sum(s.wall_s for s in p) for p in traced],
        "step_samples": sum(len(p) for p in plain),
        "host": {"start": probe_start, "end": probe_end},
        "named_metrics": {k: {"value": v, "unit": u} for k, (v, u) in named.items()},
        "problems": run.problems[:20],
    }
    result = {
        "correct": not run.problems and run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, evidence


def _per_layer(tracer, plain, traced, core) -> dict:
    med = tracer.medians()
    out = {}
    for span in SPANS:
        row = med.get(span, {})
        for key in core + SPAN_EXTRAS.get(span, ()):
            out[f"{span}.{key}"] = (row.get(key, 0.0), _unit(key))
    for fam in FAMILIES:
        out[f"registry.{fam}.wall_s"] = (med.get(f"registry.{fam}", {}).get("wall_s", 0.0), "s")
    out["trace.overhead_frac"] = (_pass_s(traced) / _pass_s(plain) - 1, "fraction")
    return out


def _unit(key: str) -> str:
    if key.endswith("_s") or key.startswith("chart_s"):
        return "s"
    if key.endswith("bytes"):
        return "bytes"
    if key.endswith("ratio"):
        return "fraction"
    return "count"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import tests.queryinfo_fixtures  # noqa: F401 — builders of the ingest documents
        from presto_workload_analyzer_spark import cli  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench import trace

    scratch = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(scratch, f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # keep every temporary file inside the checkout; Python workers need the
    # package on their path
    os.environ.update(
        TMPDIR=tmp,
        # every JVM started, the launcher's too: no /tmp/hsperfdata files
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    tempfile.tempdir = tmp
    try:
        result, evidence = _measure(args, work, trace)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(scratch)
    print(json.dumps({"evidence": evidence}))
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
