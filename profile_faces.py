"""Profile registered faces, one JSON record per face, on the benchmark's tracer.

    python profile_faces.py --sf perfbench/data/sf0.01 --out PROFILE.json \\
        [FACE ...] [--order sorted|reversed|seed:N] [--passes N] \\
        [--explain DIR] [--abba OTHER_TREE]

One Spark session (``perfbench/run.py``'s ``session_conf`` with its event
log) runs every face once cold, in ``--order`` (default: all of
``QUERIES``, sorted), then ``--passes`` more times in the same order. Each
call is ``run.Bench.timed`` under ``setJobGroup(face)``, traced by
``spans.Tracer``. A record has a ``cold`` section (the face's first call in
the session) and a ``warm`` section (the fastest later call). Each section
holds the call's timings, py4j calls and leaks from ``Bench.timed``, the
self time of each traced layer, the jobs, stages, tasks, shuffle, spill and
exchanges of ``engine.engine_metrics`` over the call's windows, and three
JVM deltas: Janino compiles with their mean ms, classes loaded and JIT ms.

``--explain DIR`` writes each face's ``explain("formatted")`` to
``DIR/<face>.txt`` after the passes. ``--abba OTHER_TREE`` runs the list in
subprocesses alternating A (this tree) and B (the package imported from
``OTHER_TREE``) as A B B A ..., ``--passes`` pairs of one cold and one warm
call each, and reports per face the medians of both sides, B's wins and
A's interquartile range.

The core count and driver memory are the session's defaults
(``SPARK_GRAFT_CPUS``, ``SPARK_GRAFT_DRIVER_MEM``). Spark's event log,
local dirs and temporary files live in one directory removed at exit;
nothing else is written but ``--out`` and ``--explain``.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
from collections import Counter

import py4j.clientserver as cs
import py4j.protocol as proto

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(HERE, "perfbench"))

import engine  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402

ENGINE_KEYS = ("jobs", "eager_jobs", "stages", "tasks", "task_run_s", "gc_s",
               "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
               "exchanges")
ABBA_KEYS = ("latency_s", "norm_cpu_s")


def ordered(faces: list[str], order: str) -> list[str]:
    if order == "sorted":
        return sorted(faces)
    if order == "reversed":
        return sorted(faces, reverse=True)
    if order.startswith("seed:"):
        return random.Random(int(order[5:])).sample(sorted(faces), len(faces))
    raise ValueError(f"--order {order!r}: want sorted, reversed or seed:N")


class JvmCounters:
    """Janino compiles and their times, classes loaded and JIT ms of the
    driver JVM, read over py4j."""

    def __init__(self, spark):
        jvm = spark.sparkContext._jvm
        mf = jvm.java.lang.management.ManagementFactory
        self.arrays = jvm.java.util.Arrays
        self.janino = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        self.classes = mf.getClassLoadingMXBean()
        self.jit = mf.getCompilationMXBean()

    def read(self) -> tuple:
        times = self.arrays.toString(self.janino.getSnapshot().getValues())
        return (self.janino.getCount(), Counter(times.strip("[]").split(", ")),
                self.classes.getTotalLoadedClassCount(),
                self.jit.getTotalCompilationTime())

    @staticmethod
    def delta(a: tuple, b: tuple) -> dict:
        # The histogram keeps a sample of compile times (all of them until
        # it holds 1028, then mostly the newest): the mean is over the times
        # added between the two reads that the sample kept.
        new = [int(v) for v in (b[1] - a[1]).elements() if v]
        return {"janino_compiles": b[0] - a[0],
                "janino_mean_ms": statistics.fmean(new) if new and b[0] > a[0] else 0.0,
                "classes_loaded": b[2] - a[2], "jit_ms": b[3] - a[3]}


def uncounting_gc(send, tracer):
    """``send`` that takes back the tracer's count of py4j's own frees.
    py4j frees the Java object of each garbage-collected proxy with a
    command sent from a background thread, so those commands land in
    whichever face runs when Python's cycle collector does: they moved the
    construct count of 127 of 310 faces between two orders of the same
    registry, by up to 512 calls."""
    free = proto.MEMORY_COMMAND_NAME + proto.MEMORY_DEL_SUBCOMMAND_NAME

    def uncounted(conn, command, *args, **kwargs):
        if command.startswith(free):
            tracer.py4j_calls -= 1
        return send(conn, command, *args, **kwargs)

    return uncounted


def profile(args, faces: list[str], work: str) -> list[dict]:
    """Run ``faces`` cold, then ``args.passes`` times warm; one record each."""
    from datawarehousefinal_spark.session import get_spark

    conf = run.session_conf(work, trace=True)
    # The benchmark's C1-only JIT flag shrinks the JVM's code cache to 48 MB,
    # which a registry-long session filled within 45 s: the JVM then stopped
    # compiling, and once failed a task with "Out of space in CodeCache". 240 MB
    # is what the JVM reserves with its default JIT.
    conf["spark.driver.extraJavaOptions"] += " -XX:ReservedCodeCacheSize=240m"
    spark = get_spark(app_name="profile_faces", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    tracer = spans.Tracer()
    calls: list[dict] = []
    try:
        bench = run.Bench(spark, args.sf, os.environ["TMPDIR"], tracer)
        jvm = JvmCounters(spark)
        send = cs.ClientServerConnection.send_command
        cs.ClientServerConnection.send_command = uncounting_gc(send, tracer)
        tracer.install()
        try:
            for p in range(1 + args.passes):
                for face in faces:
                    spark.sparkContext.setJobGroup(face, face)
                    w0, s0, j0 = len(bench.windows), len(tracer.spans), jvm.read()
                    rec = bench.timed(face, traced=True)
                    jvm_d = JvmCounters.delta(j0, jvm.read())
                    if rec is None:
                        rec = {"face": face, "error": bench.failures[-1]["why"]}
                    layers = spans.Tracer(spans=tracer.spans[s0:]).layer_totals()
                    calls.append(dict(rec, jvm=jvm_d, layers=dict(layers),
                                      windows=bench.windows[w0:]))
                    print(f"profile_faces: pass {p} {face} "
                          f"{rec.get('latency_s', float('nan')):.2f} s",
                          file=sys.stderr, flush=True)
            if args.explain:
                explain(spark, bench, faces, args.explain)
        finally:
            tracer.uninstall()
            cs.ClientServerConnection.send_command = send
    finally:
        run.stop_spark(spark)
    for c, eng in zip(calls, engine_by_call(os.path.join(work, "events"), calls)):
        c["engine"] = {k: eng[k] for k in ENGINE_KEYS}
    out = []
    for i, face in enumerate(faces):
        cold, *warm = calls[i::len(faces)]
        ok = [c for c in warm if "error" not in c]
        rec = {"face": face, "passes": len(ok)}
        for name, c in (("cold", cold), ("warm", min(ok, key=lambda c: c["latency_s"])
                                          if ok else warm[0])):
            if "error" in c:
                rec["error"] = c["error"]
            else:
                rec[name] = {k: v for k, v in c.items() if k not in ("face", "windows")}
        out.append(rec)
    return out


def engine_by_call(events_dir: str, calls: list[dict]) -> list[dict]:
    """``engine.engine_metrics`` of each call over its own windows. The log
    is streamed once and cut where a job or SQL execution of another call
    starts, since a whole-registry log outgrows memory as one list."""
    owner = engine.Windows([(s, e, i) for i, c in enumerate(calls)
                            for s, e, _ in c["windows"]])
    out = [engine.engine_metrics([], engine.Windows([]))] * len(calls)
    cur, bucket = None, []

    def flush():
        if cur is not None:
            out[cur] = engine.engine_metrics(bucket, engine.Windows(calls[cur]["windows"]))

    for root, _dirs, files in os.walk(events_dir):
        for name in sorted(files):
            with open(os.path.join(root, name)) as fh:
                for line in fh:
                    try:
                        e = json.loads(line)
                    except ValueError:  # a line cut short by shutdown
                        continue
                    kind = e.get("Event")
                    t = (e["Submission Time"] if kind == "SparkListenerJobStart"
                         else e["time"] if kind == engine.SQL_START else None)
                    if t is not None and owner.phase(t) != cur:
                        flush()
                        cur, bucket = owner.phase(t), []
                    bucket.append(e)
    flush()
    return out


def explain(spark, bench, faces: list[str], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for face in faces:
        spark.sparkContext.setJobGroup(face, face)
        buf = io.StringIO()
        try:
            df = bench.Q.QUERIES[face](spark, bench.sf_dir)
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
        except Exception as e:  # a failing face is noted, the others go on
            buf.write(f"error: {e!r}\n")
        with open(os.path.join(out_dir, f"{face}.txt"), "w") as fh:
            fh.write(buf.getvalue())
        bench.leak_probe()


def abba(args, faces: list[str], work: str) -> dict:
    """Alternate this tree (A) and ``args.abba`` (B) in subprocesses."""
    runs = []
    for pair in range(args.passes):
        for side in ("AB" if pair % 2 == 0 else "BA"):
            tree = HERE if side == "A" else os.path.abspath(args.abba)
            out = os.path.join(work, f"{pair}{side}.json")
            env = dict(os.environ, PYTHONPATH=os.pathsep.join(
                filter(None, (tree, os.environ.get("PYTHONPATH")))))
            # -P: the package comes from PYTHONPATH, not this script's dir.
            subprocess.run(
                [sys.executable, "-P", os.path.abspath(__file__), *faces,
                 "--sf", args.sf, "--order", args.order, "--passes", "1",
                 "--out", out], env=env, check=True)
            with open(out) as fh:
                runs.append({"side": side, "pair": pair, "tree": tree,
                             "faces": json.load(fh)["faces"]})
    summary = {}
    for face in faces:
        summary[face] = s = {}
        for key in ABBA_KEYS:
            v = {(r["side"], r["pair"]): f["warm"][key]
                 for r in runs for f in r["faces"] if f["face"] == face and "warm" in f}
            pairs = [(v["A", p], v["B", p]) for p in range(args.passes)
                     if ("A", p) in v and ("B", p) in v]
            if not pairs:
                continue
            a, b = zip(*pairs)
            q = statistics.quantiles(a, n=4) if len(a) > 1 else [a[0]] * 3
            s[key] = {"a_median": statistics.median(a), "b_median": statistics.median(b),
                      "b_wins": sum(y < x for x, y in pairs), "pairs": len(pairs),
                      "a_iqr": q[2] - q[0]}
    return {"runs": runs, "summary": summary}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("faces", nargs="*", help="default: every registered face")
    ap.add_argument("--sf", required=True, help="input tables, e.g. perfbench/data/sf0.01")
    ap.add_argument("--out", required=True)
    ap.add_argument("--order", default="sorted", help="sorted, reversed or seed:N")
    ap.add_argument("--passes", type=int, default=2, help="warm passes (ABBA: pairs)")
    ap.add_argument("--explain", metavar="DIR")
    ap.add_argument("--abba", metavar="OTHER_TREE")
    args = ap.parse_args(argv)
    args.sf = os.path.abspath(args.sf)
    if args.passes < 1:
        ap.error("--passes must be at least 1")
    if args.abba and args.explain:
        ap.error("--explain does not apply to --abba")

    from datawarehousefinal_spark import queries as Q

    unknown = [f for f in args.faces if f not in Q.QUERIES]
    if unknown:
        ap.error(f"unknown face(s): {', '.join(unknown)}")
    try:
        faces = ordered(args.faces or list(Q.QUERIES), args.order)
    except ValueError as e:
        ap.error(str(e))

    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))  # run the cleanup
    work = tempfile.mkdtemp(prefix="profile_faces-")
    try:
        if args.abba:
            doc = {"order": args.order, "pairs": args.passes, **abba(args, faces, work)}
        else:
            tree = os.path.dirname(os.path.dirname(os.path.abspath(Q.__file__)))
            os.environ.update(
                SPARK_LOCAL_DIRS=os.path.join(work, "local"),
                TMPDIR=os.path.join(work, "tmp"),
                PYSPARK_PYTHON=sys.executable,
                PYTHONPATH=os.pathsep.join(
                    filter(None, (tree, os.environ.get("PYTHONPATH")))))
            for d in ("local", "tmp"):
                os.makedirs(os.path.join(work, d))
            tempfile.tempdir = None  # re-read TMPDIR
            doc = {"sf": os.path.relpath(args.sf), "order": args.order, "passes": args.passes,
                   "nproc": len(os.sched_getaffinity(0)),
                   "env": {k: os.environ.get(k) for k in
                           ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM")},
                   "faces": profile(args, faces, work)}
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(args.out, "w") as fh:
        head = json.dumps({k: v for k, v in doc.items() if k != "faces"})
        if "faces" in doc:  # one line per face
            fh.write(head[:-1] + ', "faces": [\n'
                     + ",\n".join(json.dumps(r) for r in doc["faces"]) + "\n]}\n")
        else:
            fh.write(head + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
