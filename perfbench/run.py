"""Benchmark of the warehouse engine on one workload.

    python3 perfbench/run.py --workload olap_cube --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One run:

1. copies the input tables, the package's sf0.01 test fixture kept in
   ``data/``, into its work directory; ``--seed`` only draws face orders;
2. starts a Spark session on ``local[nproc]`` with the environment pinned
   (``pin_env``);
3. verification pass: every face of the workload is collected once and
   compared with its DuckDB oracle (``tests/oracle_harness.compare``);
4. one untimed warm-up pass, run like the timed ones;
5. timed passes: one client runs the faces in a closed loop, each pass in
   a new order drawn from the seed. The number of passes is fixed by
   ``--seconds`` and the workload's nominal pass time (``timed_passes``),
   never by how fast the host runs, so every run times the same passes. A
   face is timed, in wall and CPU time, from the call that builds it to
   the end of its noop write, with a ``probe`` of the host's speed just
   before and after it.

All CPU times below count Spark's JVM, its Python workers and this
process. The end-to-end metrics are ``norm_cpu_s``, the median over the
timed passes of the CPU seconds a pass costs, each face's share scaled by
its probe to the reference speed PROBE_S, and ``setup_s``, the CPU seconds
of steps 2 to 4 (the oracle queries excluded). The unscaled median is
``client.cpu_s``. It and the client's wall-clock view, ``client.wall_s``
(median pass), ``client.latency_p50_s`` (median face run) and
``client.latency_tail_s`` (mean of the slowest quarter of face runs), and
the wall time of the set-up (``session.start_s``, ``session.warm_s``) are
reported with the per-layer metrics: on a shared 4-vCPU host the wall
times moved with the CPU time other guests took (up to 90% slower at 24%
steal), and unscaled CPU time with the host's speed, so they spread too
much between runs to carry a bound.

With ``--trace 1`` the timed passes run untraced and traced as U T T U (at
least four), traced ones through ``spans.py`` and an event log read by
``engine.py``; the run then reports the per-layer metrics and the tracing
overhead instead of the end-to-end metrics.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``; a fuller record of the run is
written to ``.perfbench/<workload>-s<seed>-t<trace>.json``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import resource
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT_DIR = os.path.join(ROOT, ".perfbench")
DATA_DIR = os.path.join(HERE, "data")
DRIVER_MEM = "3g"
# The driver JVM compiles with C1 only. With the default tiered C2 a
# minute-long run times mostly the JIT's warm-up: on olap_cube the CPU of a
# pass fell from 17-20 s to 10-13 s over three timed passes and its spread
# between runs was ~0.2 of the median; with C1 alone a pass cost 8-10 s of
# CPU and spread ~0.1.
JIT = "-XX:TieredStopAtLevel=1"
# The host's speed drifts: the same pure-Python loop, alone on one vCPU with
# no steal, cost 1.05-1.41 s of CPU within ten seconds, and a pass's CPU time
# moved with it. The benchmark times a fixed loop (``probe``) next to every
# face and scales face CPU times to a host on which the loop costs PROBE_S,
# about what it costs on an idle 4-vCPU host of the kind the bounds were set
# on. Over ten seeds this cut the spread (IQR/median) of the pass CPU from
# 0.15 to 0.08 on olap_cube and from 0.11 to 0.04 on etl_star.
PROBE_LOOP = 200_000
PROBE_S = 0.025
CLK_TCK = os.sysconf("SC_CLK_TCK")

sys.path.insert(0, HERE)

import workloads as W  # noqa: E402

# Per-layer metrics of the traced run, with units.
TRACE_UNITS = {
    "session.start_s": "s", "session.warm_s": "s",
    "client.cpu_s": "s", "client.probe_s": "s",
    "client.wall_s": "s", "client.latency_p50_s": "s",
    "client.latency_tail_s": "s",
    "queries.construct_s": "s", "queries.self_s": "s",
    "queries.py4j_calls": "count", "queries.eager_jobs": "count",
    "queries.scratch_dirs": "count",
    "mdx.parse_s": "s", "mdx.parse_calls": "count", "mdx.query_s": "s",
    **{
        f"operators.{m}.{k}": u
        for m in ("dedup", "similarity", "curation", "olap", "aggnav",
                  "surrogate", "scd", "star", "dataset")
        for k, u in (("calls", "count"), ("self_s", "s"))
    },
    "ml.calls": "count", "ml.fit_s": "s",
    "sources.load_table_calls": "count", "sources.load_table_s": "s",
    "sources.read_s": "s", "sources.write_s": "s",
    "engine.execute_s": "s", "engine.py4j_calls": "count",
    "engine.jobs": "count", "engine.stages": "count", "engine.tasks": "count",
    "engine.empty_task_share": "ratio", "engine.task_run_s": "s",
    "engine.gc_s": "s", "engine.input_bytes": "B", "engine.output_bytes": "B",
    "engine.shuffle_read_bytes": "B", "engine.shuffle_write_bytes": "B",
    "engine.spill_bytes": "B", "engine.exchanges": "count",
    "engine.leaked_rdds": "count", "engine.jvm_peak_rss_mb": "MB",
    "trace.overhead_s": "s", "trace.spans": "count",
}
E2E_UNITS = {"setup_s": "s", "norm_cpu_s": "s"}


def pin_env(work: str) -> dict[str, str]:
    """Set the environment the program runs in and return it. Everything
    Spark, the package and its Python workers write goes under ``work``."""
    env = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        "PYSPARK_PYTHON": sys.executable,
    }
    os.environ.update(env)
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return env


def session_conf(work: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={work}/tmp -Dderby.system.home={work} {JIT}"
        ),
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(f"{work}/events")
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{work}/events",
            "spark.eventLog.compress": "false",
        })
    return conf


def proc_table() -> dict[int, tuple[int, int]]:
    """Every live process: pid -> (parent pid, CPU ticks spent by it and
    by its children it has reaped), read from /proc."""
    out = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    f = fh.read().rsplit(")", 1)[1].split()
            except OSError:  # the process ended while we looked
                continue
            out[int(d)] = (int(f[1]), sum(int(x) for x in f[11:15]))
    return out


def descendants(pid: int, table: dict | None = None) -> set[int]:
    """Pids of every live process below ``pid``."""
    table = proc_table() if table is None else table
    out, todo = set(), [pid]
    while todo:
        p = todo.pop()
        kids = [c for c, (pp, _) in table.items() if pp == p]
        out.update(kids)
        todo += kids
    return out


def own_cpu_s() -> float:
    """CPU seconds spent so far by this process, every thread."""
    t = os.times()
    return t.user + t.system


def tree_cpu_s(pid: int) -> float:
    """CPU seconds spent so far by process ``pid`` (Spark's JVM, every
    thread), the processes below it (Python workers) and this process."""
    table = proc_table()
    ticks = sum(table[p][1] for p in descendants(pid, table) | {pid} if p in table)
    return ticks / CLK_TCK + own_cpu_s()


def probe() -> float:
    """CPU seconds of a fixed pure-Python loop: the host's current speed."""
    t = time.thread_time()
    x = 0
    for i in range(PROBE_LOOP):
        x = (x * 31 + i) % 1_000_003
    return time.thread_time() - t


def timed_passes(seconds: float, pass_s: float, trace: bool) -> int:
    """Timed passes of a run: ``seconds`` worth at the workload's nominal
    pass time, at least two (four for a traced run, U T T U)."""
    return max(4 if trace else 2, math.ceil(seconds / pass_s))


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM and the Python workers it
    started, and wait until all of them have exited."""
    gateway = spark.sparkContext._gateway
    below = descendants(gateway.proc.pid)
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    gateway.proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while below and time.monotonic() < deadline:
        below = {p for p in below if os.path.exists(f"/proc/{p}")}
        time.sleep(0.05)


def table_rows(sf_dir: str) -> dict[str, int]:
    import pyarrow.parquet as pq

    return {
        f.removesuffix(".parquet"): pq.read_metadata(os.path.join(sf_dir, f)).num_rows
        for f in sorted(os.listdir(sf_dir))
    }


def cpu_jiffies() -> list[int]:
    """The host-wide ``cpu`` line of /proc/stat."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the host's hypervisor gave to other guests between
    two ``cpu_jiffies`` readings (the ``steal`` column of /proc/stat)."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(1, sum(d))


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


class Bench:
    """One workload run against one Spark session."""

    def __init__(self, spark, sf_dir: str, tmp: str, tracer):
        from datawarehousefinal_spark import queries as Q

        self.spark = spark
        self.Q = Q
        self.sf_dir = sf_dir
        self.tmp = tmp
        self.tracer = tracer
        self.jsc = spark.sparkContext._jsc
        self.jvm_pid = spark.sparkContext._gateway.proc.pid
        self.attempted = 0
        self.oracle_cpu_s = 0.0  # DuckDB and the result check, in this process
        self.failures: list[dict] = []
        self.rdd_base: set[str] = set()
        self.dirs_seen: set[str] = set()
        self.windows: list[tuple[float, float, str]] = []

    def _fail(self, face: str, phase: str, why: str) -> None:
        self.failures.append({"face": face, "phase": phase, "why": why})
        print(f"FAIL {phase} {face}: {why}", file=sys.stderr, flush=True)

    def leak_probe(self) -> tuple[int, int]:
        """Persisted RDDs and ``dwf_*`` scratch dirs a face left behind,
        then the untimed cache clear between faces."""
        rdds = self.persisted_rdds()
        dirs = {d for d in os.listdir(self.tmp) if d.startswith("dwf_")}
        left = (len(rdds - self.rdd_base), len(dirs - self.dirs_seen))
        self.spark.catalog.clearCache()
        self.rdd_base = self.persisted_rdds()
        self.dirs_seen = dirs
        return left

    def persisted_rdds(self) -> set[str]:
        ids = self.jsc.getPersistentRDDs().keySet().toString()  # "[3, 7]"
        return {i.strip() for i in ids.strip("[]").split(",") if i.strip()}

    def verify(self, face: str) -> float | None:
        """Collect ``face`` and check it; return the Spark-side seconds
        (oracle time excluded), or None on failure."""
        import oracle_harness

        self.attempted += 1
        fn = self.Q.QUERIES[face]
        marks: dict[str, float] = {}
        oracle_connect = oracle_harness.duckdb_connect

        def connect(sf_dir):  # compare() opens DuckDB once Spark is done
            marks.setdefault("spark_done", time.perf_counter())
            marks.setdefault("oracle_cpu0", own_cpu_s())
            return oracle_connect(sf_dir)

        t0 = time.perf_counter()
        oracle_harness.duckdb_connect = connect
        try:
            r = oracle_harness.compare(
                self.spark, self.sf_dir, fn, self.Q.ORACLES[face]
            )
            if not r["ok"]:
                self._fail(face, "verify", json.dumps(
                    {k: r[k] for k in ("rows_spark", "rows_oracle",
                                       "cols_match", "hash_match")}))
                return None
        except Exception:  # a failing face is counted, the run goes on
            self._fail(face, "verify", traceback.format_exc(limit=3))
            return None
        finally:
            if "oracle_cpu0" in marks:
                self.oracle_cpu_s += own_cpu_s() - marks["oracle_cpu0"]
            oracle_harness.duckdb_connect = oracle_connect
            self.leak_probe()
        return marks["spark_done"] - t0

    def timed(self, face: str, traced: bool) -> dict | None:
        """Build and execute ``face`` once; None on failure."""
        self.attempted += 1
        fn = self.Q.QUERIES[face]
        tr = self.tracer if traced else None
        rec: dict = {"face": face}
        p0 = probe()
        try:
            w0, t0, u0 = time.time(), time.perf_counter(), tree_cpu_s(self.jvm_pid)
            if tr:
                tr.face = face
                c0 = tr.py4j_calls
                span = tr.begin("queries", face)
            try:
                df = fn(self.spark, self.sf_dir)
            finally:
                if tr:
                    tr.end(span)
            w1, t1 = time.time(), time.perf_counter()
            if tr:
                c1 = tr.py4j_calls
                span = tr.begin("engine", "execute")
            try:
                df.write.format("noop").mode("overwrite").save()
            finally:
                if tr:
                    tr.end(span)
            w2, t2, u2 = time.time(), time.perf_counter(), tree_cpu_s(self.jvm_pid)
        except Exception:
            self._fail(face, "timed", traceback.format_exc(limit=3))
            self.leak_probe()
            return None
        rec.update(construct_s=t1 - t0, execute_s=t2 - t1, latency_s=t2 - t0,
                   cpu_s=u2 - u0, probe_s=(p0 + probe()) / 2)
        rec["norm_cpu_s"] = rec["cpu_s"] * PROBE_S / rec["probe_s"]
        if tr:
            rec.update(construct_py4j=c1 - c0, execute_py4j=tr.py4j_calls - c1,
                       open_spans=tr.open_spans)
            self.windows += [(w0 * 1000, w1 * 1000, "construct"),
                             (w1 * 1000, w2 * 1000, "execute")]
        rec["leaked_rdds"], rec["scratch_dirs"] = self.leak_probe()
        return rec


def layer_metrics(tracer, traced: list[dict], n_passes: int) -> dict[str, float]:
    """Per-layer metrics from the spans of the traced passes, per pass."""
    tot = tracer.layer_totals()

    def per_pass(x: float) -> float:
        return x / n_passes

    def self_s(layer: str) -> float:
        return per_pass(tot[layer]["self_s"]) if layer in tot else 0.0

    def calls(layer: str) -> float:
        return per_pass(tot[layer]["calls"]) if layer in tot else 0.0

    parse_calls, parse_s = tracer.name_totals("mdx", "parse_mdx")
    m = {
        "queries.construct_s": per_pass(sum(r["construct_s"] for r in traced)),
        "queries.self_s": self_s("queries"),
        "queries.py4j_calls": per_pass(sum(r["construct_py4j"] for r in traced)),
        "queries.scratch_dirs": per_pass(sum(r["scratch_dirs"] for r in traced)),
        "mdx.parse_s": per_pass(parse_s),
        "mdx.parse_calls": per_pass(parse_calls),
        "mdx.query_s": self_s("mdx") - per_pass(parse_s),
        "ml.calls": calls("ml"),
        "ml.fit_s": self_s("ml"),
        "sources.load_table_calls": calls("sources.load_table"),
        "sources.load_table_s": self_s("sources.load_table"),
        "sources.read_s": self_s("sources.read"),
        "sources.write_s": self_s("sources.write"),
        "engine.execute_s": per_pass(sum(r["execute_s"] for r in traced)),
        "engine.py4j_calls": per_pass(sum(r["execute_py4j"] for r in traced)),
        "engine.leaked_rdds": per_pass(sum(r["leaked_rdds"] for r in traced)),
        "trace.spans": per_pass(len(tracer.spans)),
    }
    for key in TRACE_UNITS:
        parts = key.split(".")
        if parts[0] == "operators":
            layer = f"operators.{parts[1]}"
            m[key] = calls(layer) if parts[2] == "calls" else self_s(layer)
    return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(W.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", choices=("0.01", "0.001"), default=W.SF,
                    help="input scale factor (the self-test runs at 0.001)")
    args = ap.parse_args(argv)
    for need in ("datawarehousefinal_spark/__init__.py", "tests/oracle_harness.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}", file=sys.stderr)
            return 2

    wl = W.WORKLOADS[args.workload]
    trace = bool(args.trace)
    work = os.path.join(OUT_DIR, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return run(args, wl, trace, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, wl: dict, trace: bool, work: str) -> int:
    env = pin_env(work)
    sf_dir = os.path.join(work, "data")
    shutil.copytree(os.path.join(DATA_DIR, f"sf{args.sf}"), sf_dir)
    rows = table_rows(sf_dir)
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]

    import pyspark

    from datawarehousefinal_spark.session import get_spark

    tracer = None
    if trace:
        from spans import Tracer

        tracer = Tracer()
    rng = random.Random(args.seed)
    faces = list(wl["faces"])

    t0, setup_cpu0 = time.perf_counter(), own_cpu_s()
    spark = get_spark(app_name="perfbench", extra_conf=session_conf(work, trace))
    start_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    try:
        jvm_pid = spark.sparkContext._gateway.proc.pid
        java_version = spark.sparkContext._jvm.System.getProperty("java.version")
        bench = Bench(spark, sf_dir, env["TMPDIR"], tracer)

        orders = [rng.sample(faces, len(faces))]
        t_verify = time.perf_counter()
        warm = [bench.verify(f) for f in orders[0]]
        warm_s = sum(s for s in warm if s is not None)
        # One untimed pass more: the first executions after the verification
        # still cost 15-25% more CPU than the next ones (the JIT is warming).
        t_warm = time.perf_counter()
        orders.append(rng.sample(faces, len(faces)))
        warm_pass = [r for r in (bench.timed(f, False) for f in orders[1]) if r]
        setup_cpu_s = tree_cpu_s(jvm_pid) - setup_cpu0 - bench.oracle_cpu_s

        passes: list[dict] = []
        t_start, cpu0 = time.perf_counter(), cpu_jiffies()
        for _ in range(timed_passes(args.seconds, wl["pass_s"], trace)):
            # Traced runs alternate untraced and traced passes as U T T U, so
            # the overhead estimate is not skewed by any drift over the run.
            traced = trace and len(passes) % 4 in (1, 2)
            order = rng.sample(faces, len(faces))
            orders.append(order)
            jiffies = cpu_jiffies()
            if traced:
                tracer.install()
            try:
                recs = [bench.timed(f, traced) for f in order]
            finally:
                if traced:
                    tracer.uninstall()
            ok = [r for r in recs if r is not None]
            passes.append({"traced": traced, "records": ok,
                           "steal_share": steal_share(jiffies, cpu_jiffies()),
                           "wall_s": sum(r["latency_s"] for r in ok),
                           "cpu_s": sum(r["cpu_s"] for r in ok),
                           "norm_cpu_s": sum(r["norm_cpu_s"] for r in ok)})

        cpu1 = cpu_jiffies()
        phase_s = {"start": start_s, "verify": t_warm - t_verify,
                   "warm": t_start - t_warm,
                   "timed": time.perf_counter() - t_start}
        jvm_rss = vm_hwm_mb(jvm_pid)
        py_rss = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    finally:
        stop_spark(spark)

    plain = [p for p in passes if not p["traced"]]
    by_face: dict[str, list[float]] = {}
    for p in plain:
        for r in p["records"]:
            by_face.setdefault(r["face"], []).append(r["latency_s"])
    if not by_face:
        print("perfbench: no face completed a timed run", file=sys.stderr)
        return 1
    failed = len(bench.failures)
    lats = sorted((x for lat in by_face.values() for x in lat), reverse=True)
    metrics = {
        "setup_s": setup_cpu_s,
        "norm_cpu_s": statistics.median(p["norm_cpu_s"] for p in plain),
    }
    client = {
        "client.cpu_s": statistics.median(p["cpu_s"] for p in plain),
        "client.probe_s": statistics.median(
            r["probe_s"] for p in plain for r in p["records"]
        ),
        "client.wall_s": statistics.median(p["wall_s"] for p in plain),
        "client.latency_p50_s": statistics.median(lats),
        # A run holds a few dozen samples at most, too few for a percentile
        # above the median with ten samples beyond it: the tail is the mean
        # of the slowest quarter of the face runs (the mean beyond p75).
        "client.latency_tail_s": statistics.fmean(lats[: max(1, len(lats) // 4)]),
    }
    units = E2E_UNITS
    if trace:
        from engine import Windows, engine_metrics, read_events

        tp = [p for p in passes if p["traced"]]
        traced = [r for p in tp for r in p["records"]]
        eng = engine_metrics(read_events(f"{work}/events"), Windows(bench.windows))
        per = layer_metrics(tracer, traced, len(tp))
        per.update(client)
        per.update({
            "session.start_s": start_s,
            "session.warm_s": warm_s,
            "queries.eager_jobs": eng.pop("eager_jobs") / len(tp),
            "engine.empty_task_share": eng.pop("empty_task_share"),
            "engine.jvm_peak_rss_mb": jvm_rss,
            "trace.overhead_s": (
                statistics.median(p["wall_s"] for p in tp) - client["client.wall_s"]
            ),
        })
        per.update({f"engine.{k}": v / len(tp) for k, v in eng.items()})
        metrics, units = per, TRACE_UNITS
        face_layers: dict = {}
        for s in tracer.spans:
            layers = face_layers.setdefault(s.face, {})
            layers[s.layer] = layers.get(s.layer, 0.0) + s.self_s

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": int(trace), "sf": args.sf, "rows": rows, "env": env,
        "nproc": len(os.sched_getaffinity(0)), "pyspark": pyspark.__version__,
        "java": java_version, "python_peak_rss_mb": py_rss,
        "jvm_peak_rss_mb": jvm_rss, "phase_s": phase_s,
        "timed_steal_share": steal_share(cpu0, cpu1),
        "warm_pass": warm_pass,
        "oracle_cpu_s": bench.oracle_cpu_s,
        "orders": orders, "verify_spark_s": dict(zip(orders[0], warm)),
        "passes": passes, "failures": bench.failures, "metrics": metrics,
    }
    if trace:
        record["face_layer_self_s"] = face_layers
        record["unclosed_spans"] = tracer.unclosed()
    os.makedirs(OUT_DIR, exist_ok=True)
    name = f"{args.workload}-s{args.seed}-t{int(trace)}.json"
    with open(os.path.join(OUT_DIR, name), "w") as fh:
        json.dump(record, fh, indent=1)
    print(f"perfbench: nproc {record['nproc']}, pyspark {pyspark.__version__}, "
          f"java {java_version}, {failed} failed; full record in "
          f"{os.path.relpath(os.path.join(OUT_DIR, name), ROOT)}", flush=True)

    result = {
        "correct": failed == 0,
        "attempted": bench.attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
