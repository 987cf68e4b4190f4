"""Benchmark the spark-lanes engine end to end, and layer by layer.

    python3 lanebench/run.py --workload python_boundary --seed 1 --seconds 12 --trace 0

Run from the repository root. One process, one client, closed loop on
``local[nproc]`` over the sf0.1 fixtures that TESTDATA.md lists: build a
query with ``queries()[name](spark, sf)``, collect it with ``toPandas()``,
then build the next. ``--seed`` shuffles the query order of every pass.
The runner times only its own calls into the engine and reads Spark's
trackers afterwards; it changes nothing inside the engine.

A run is: three set-ups (the first from process start; the other two stop
the session and redo every step on the running JVM), a timed trivial
action for the box stamp, one cold pass, untimed warm-up passes, then a
window of whole timed passes. Every result is checked against its DuckDB
oracle outside the timed regions. With ``--trace 1`` every second pass
of the window is traced, and the run reports the per-layer metrics.

The last line of stdout is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``; the line before it stamps the
box state. Spark's local dirs, the JVM tmpdir and Python's TMPDIR live
under ``.lanebench/tmp``, which is wiped when a run starts, and the run
waits for the JVM and its Python workers to exit before it returns."""

from __future__ import annotations

import argparse
import json
import os
import random
import shlex
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from importlib import import_module

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, REPO)

from lanebench import box, stats  # noqa: E402
from lanebench.oracle import Oracle  # noqa: E402
from lanebench.trace import Trace  # noqa: E402
from lanebench.workloads import WORKLOADS  # noqa: E402

SCRATCH = os.path.join(REPO, ".lanebench")
ENGINE = "shippinglanes_spark"
# Set-up's warm query: scans the largest table and belongs to no workload.
WARM_QUERY = "agg_global"
SETUPS = 3
FLOOR_PROBES = 5
BUILD_PACKAGES = ("operators", "functions", "streaming", "sources")
# Per-layer totals summed over the queries of one traced pass.
PASS_LAYERS = (
    *(f"{p}.build_s" for p in BUILD_PACKAGES),
    "build.jobs", "build.tasks",
    "spark.analysis_ms", "spark.optimization_ms", "spark.planning_ms",
    "spark.exec_s", "spark.jobs", "spark.stages", "spark.tasks",
    "spark.task_run_s", "spark.failed_tasks", "spark.shuffle_write_mb",
    "spark.spill_mb", "spark.output_mb",
    "python.time_s", "python.sent_mb", "python.received_mb",
    "collect.s", "collect.rows",
    "streaming.batches", "streaming.state_rows", "streaming.late_drops",
)


def fixture_dir() -> str:
    """The sf0.1 fixture directory that TESTDATA.md lists."""
    with open(os.path.join(REPO, "TESTDATA.md")) as f:
        for line in f:
            cells = [c.strip() for c in line.split("|")]
            if len(cells) > 3 and cells[1] == "0.1":
                path = cells[2].strip("`").rstrip("/")
                if not os.path.isdir(path):
                    raise FileNotFoundError(f"fixture directory {path}")
                return path
    raise ValueError("TESTDATA.md lists no sf0.1 directory")


def confine(tmp: str) -> None:
    """Point every scratch location of Spark, the JVM and Python at a
    freshly wiped ``tmp`` before the JVM starts."""
    shutil.rmtree(tmp, ignore_errors=True)
    dirs = {d: os.path.join(tmp, d)
            for d in ("local", "java", "python", "warehouse")}
    for d in dirs.values():
        os.makedirs(d)
    os.environ["TMPDIR"] = dirs["python"]
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join((
        "--conf", shlex.quote(
            f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={dirs['java']}"),
        "--conf", shlex.quote(f"spark.sql.warehouse.dir={dirs['warehouse']}"),
        "pyspark-shell",
    ))


def _identity(batches):
    yield from batches


class Engine:
    """The engine as a caller sees it: a session, the query registry and
    the ten table plans, set up from scratch by ``set_up``."""

    def __init__(self, sf_dir: str, trace: Trace):
        self.sf_dir = sf_dir
        self.trace = trace
        self.spark = None
        self.queries = {}
        self.setups: list[dict[str, float]] = []

    def set_up(self, started: float | None = None) -> None:
        """Start the session, load the registry, build the table plans,
        boot the Python workers and run the warm query. ``started`` is
        the perf_counter time of process start for the first set-up; a
        later one first stops the session and unloads the engine, then
        starts the clock."""
        if self.spark is not None:
            self.spark.stop()
            for mod in [m for m in sys.modules
                        if m == ENGINE or m.startswith(ENGINE + ".")]:
                del sys.modules[mod]
        if started is None:
            started = time.perf_counter()
        root = self.trace.add(f"setup {len(self.setups)}", "setup",
                              time.time() - (time.perf_counter() - started),
                              0)
        times = {}
        cores = len(os.sched_getaffinity(0))

        def step(name, fn):
            t, w = time.perf_counter(), time.time()
            out = fn()
            times[f"{name}_s"] = time.perf_counter() - t
            self.trace.add(f"setup {len(self.setups)}", name, w, time.time(),
                           root)
            return out

        self.spark = step("session.start", lambda: import_module(
            f"{ENGINE}.session").get_spark(app_name="lanebench", cpus=cores))
        self.queries = step("registry.load", lambda: import_module(
            f"{ENGINE}.registry").all_queries())
        io = import_module(f"{ENGINE}.io")
        step("io.tables", lambda: io.tables(self.spark, self.sf_dir))
        step("python.boot", lambda: self.spark.range(0, cores, 1, cores)
             .mapInPandas(_identity, "id long").collect())
        step("warm_query", lambda: self.queries[WARM_QUERY].fn(
            self.spark, self.sf_dir).toPandas())
        times["setup_s"] = time.perf_counter() - started
        self.trace.spans[root].end = time.time()
        self.setups.append(times)

    def floor_probe(self) -> list[float]:
        """Times of a trivial one-job action."""
        out = []
        for _ in range(FLOOR_PROBES):
            t = time.perf_counter()
            self.spark.range(1).count()
            out.append(time.perf_counter() - t)
        return out

    def shut_down(self) -> None:
        """Stop the session and wait for the JVM to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


class Pass:
    """Per-query times and, on a traced pass, per-layer totals."""

    def __init__(self, label: str = ""):
        self.label = label
        self.times: list[float] = []
        self.names: list[str] = []
        self.layers = dict.fromkeys(PASS_LAYERS, 0.0)
        self.batch_ms: list[float] = []
        self.build_s = 0.0


class Client:
    """The single closed-loop client."""

    def __init__(self, engine: Engine, oracle: Oracle, rng: random.Random):
        self.engine = engine
        self.oracle = oracle
        self.rng = rng
        self.probe = None
        self.attempted = 0
        self.failures: list[str] = []
        self.passes: list[Pass] = []

    def run_pass(self, names, label: str, traced: bool = False) -> Pass:
        order = list(names)
        self.rng.shuffle(order)
        out = Pass(label)
        self.passes.append(out)
        if traced:
            if self.probe is None:
                from lanebench.spark_probe import SparkProbe

                self.probe = SparkProbe(self.engine.spark)
            self.probe.listen(True)
        for name in order:
            self._run_one(name, label, out, traced)
        if traced:
            self.probe.listen(False)
        return out

    def _run_one(self, name: str, label: str, out: Pass, traced: bool):
        eng = self.engine
        q = eng.queries[name]
        self.attempted += 1
        marks = [self.probe.mark()] if traced else []
        try:
            t0, w0 = time.perf_counter(), time.time()
            df = q.fn(eng.spark, eng.sf_dir)
            t1, w1 = time.perf_counter(), time.time()
            if traced:
                marks.append(self.probe.mark())
            pdf = df.toPandas()
            t2, w2 = time.perf_counter(), time.time()
            if traced:
                marks.append(self.probe.mark())
                self._record(name, q, label, df, marks, pdf, out,
                             (w0, w1, w2), (t1 - t0, t2 - t1))
            ok = self.oracle.check(name, q.oracle, pdf)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            ok = False
        if not ok:
            self.failures.append(f"{label}:{name}")
            return
        out.times.append(t2 - t0)
        out.names.append(name)
        out.build_s += t1 - t0

    def _record(self, name, q, label, df, marks, pdf, out, walls, secs):
        st = self.probe.read(df, *marks)
        tr = self.engine.trace
        build_s, collect_s = secs
        w0, w1, w2 = walls
        root = tr.add(f"{label}:{name}", "query", w0, w2)
        build = tr.add(f"{label}:{name}", "build", w0, w1, root)
        collect = tr.add(f"{label}:{name}", "collect", w1, w2, root)
        for span, start, end in st.spans:
            tr.add(f"{label}:{name}", span, start, end,
                   build if start < w1 else collect)
        lay = out.layers
        package = q.fn.__module__.split(".")[1]
        if package in BUILD_PACKAGES:
            lay[f"{package}.build_s"] += build_s
        lay["build.jobs"] += st.build_jobs
        lay["build.tasks"] += st.build_tasks
        for phase in ("analysis", "optimization", "planning"):
            lay[f"spark.{phase}_ms"] += st.phases_ms.get(phase, 0.0)
        for key in ("exec_s", "jobs", "stages", "tasks", "task_run_s",
                    "failed_tasks", "shuffle_write_mb", "spill_mb",
                    "output_mb"):
            lay[f"spark.{key}"] += getattr(st, key)
        lay["python.time_s"] += st.python_s
        lay["python.sent_mb"] += st.python_sent_mb
        lay["python.received_mb"] += st.python_received_mb
        lay["collect.s"] += collect_s
        lay["collect.rows"] += len(pdf)
        lay["streaming.batches"] += st.batches
        lay["streaming.state_rows"] += st.state_rows
        lay["streaming.late_drops"] += st.late_drops
        out.batch_ms.extend(st.batch_ms)


def end_to_end(setups: list[dict[str, float]], cold: Pass,
               plain: list[Pass]) -> dict[str, float]:
    """The end-to-end metrics of an untraced run, plus the percentile
    ``query_tail_s`` stands at."""
    samples = [t for p in plain for t in p.times]
    tail_pct, tail_s = stats.tail(samples)
    return {
        "setup_s": statistics.median(s["setup_s"] for s in setups),
        "cold_pass_s": sum(cold.times),
        "query_p50_s": statistics.median(samples),
        "query_tail_s": tail_s,
        "tail_percentile": tail_pct,
        "queries_per_s": len(samples) / sum(samples),
    }


def per_layer(traced: list[Pass], untraced: list[Pass],
              setups: list[dict[str, float]], rss: dict[str, float],
              attempted: int, failed: int) -> dict[str, float]:
    """Medians over the traced passes of each per-pass layer total."""
    rows = []
    for p in traced:
        lay = dict(p.layers)
        total = sum(p.times)
        lay["build.share"] = p.build_s / total if total else 0.0
        lay["python.share"] = (lay["python.time_s"] / lay["spark.task_run_s"]
                               if lay["spark.task_run_s"] else 0.0)
        lay["streaming.batch_p50_ms"] = (statistics.median(p.batch_ms)
                                         if p.batch_ms else 0.0)
        rows.append(lay)
    out = {k: statistics.median(r[k] for r in rows) for k in rows[0]}
    for key in ("session.start_s", "registry.load_s", "io.tables_s",
                "python.boot_s"):
        out[key] = statistics.median(s[key] for s in setups)
    out["python.worker_rss_peak_mb"] = rss["worker"]
    out["spark.driver_rss_peak_mb"] = rss["jvm"]
    out["peak_rss_mb"] = rss["total"]
    traced_s = statistics.median(sum(p.times) for p in traced)
    plain_s = statistics.median(sum(p.times) for p in untraced)
    out["tracing.overhead_pct"] = 100.0 * (traced_s / plain_s - 1.0)
    out["fail_ratio"] = failed / attempted
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    started = time.perf_counter() - box.process_age_s()
    ticks0 = box.cpu_ticks()
    work = WORKLOADS[args.workload]
    sf_dir = fixture_dir()
    confine(os.path.join(SCRATCH, "tmp"))
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    trace = Trace()
    engine = Engine(sf_dir, trace)
    oracle = Oracle(REPO, sf_dir, os.path.join(SCRATCH, "oracle"))
    rss = box.PeakRss()
    if args.trace:
        rss.start()
    try:
        engine.set_up(started)
        for _ in range(SETUPS - 1):
            engine.set_up()
        missing = [n for n in work.queries
                   if n not in engine.queries or not engine.queries[n].oracle]
        if missing:
            raise KeyError(f"no oracle-checked query named {missing}")
        floor = engine.floor_probe()
        client = Client(engine, oracle, random.Random(args.seed))
        cold = client.run_pass(work.queries, "cold")
        for i in range(work.warmup):
            client.run_pass(work.queries, f"warmup{i}")
        passes = work.window(args.seconds)
        plain, traced = [], []
        for i in range(passes):
            on = bool(args.trace) and i % 2 == 1
            p = client.run_pass(work.queries, f"pass{i}", traced=on)
            (traced if on else plain).append(p)
        ticks1 = box.cpu_ticks()
    finally:
        if args.trace:
            rss.stop()
        children = [p for p in box.descendants(os.getpid())
                    if p != os.getpid()]
        if engine.spark is not None:
            engine.shut_down()
        oracle.close()
        box.wait_gone(children, timeout=30)

    samples = [t for p in plain for t in p.times]
    stamp = {
        **box.cpu_shares(ticks0, ticks1),
        "loadavg": os.getloadavg(),
        "nproc": len(os.sched_getaffinity(0)),
        "floor_probe_s": floor,
        "passes": passes,
        "setups_s": [s["setup_s"] for s in engine.setups],
        "failures": client.failures,
    }
    if args.trace:
        values = per_layer(traced, plain, engine.setups, rss.peaks_mb(),
                           client.attempted, len(client.failures))
    else:
        values = end_to_end(engine.setups, cold, plain)
        stamp["tail_percentile"] = values.pop("tail_percentile")
        stamp["n"] = len(samples)
    os.makedirs(os.path.join(SCRATCH, "out"), exist_ok=True)
    stem = os.path.join(SCRATCH, "out",
                        f"{work.name}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w") as f:
        json.dump({"stamp": stamp, "values": values, "setups": engine.setups,
                   "passes": {p.label: dict(zip(p.names, p.times))
                              for p in client.passes}}, f)
    if args.trace:
        trace.write(stem + ".spans.json")
        print("lanebench self_s " + json.dumps(trace.self_s()))
    print("lanebench stamp " + json.dumps(stamp))
    units = {m["name"]: m["unit"] for m in wanted}
    print(json.dumps({
        "correct": not client.failures,
        "attempted": client.attempted,
        "failed": len(client.failures),
        "metrics": {k: {"value": values[k], "unit": u}
                    for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
