"""Closed-loop benchmark of the keep/drop/scrub engine.

    python3 perfbench/run.py --workload pairs_pipeline --seed 1 --seconds 10 --trace 0

Runs one workload on ``local[<nproc>]`` from this single client process:
each operation starts only after the previous one finished.  Set-up
(session start plus the first, cold operation) is timed on its own;
inputs are generated from ``--seed`` beforehand and cached on disk.
Warm operations run for ``--seconds`` seconds; their outputs are checked
after the timed region.  The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics of BENCHMARK.json with ``--trace 0``, its per-layer
metrics with ``--trace 1``.  Lines before it print every metric by name
and unit, the input properties and the run's provenance.

This is not the legacy ``bench.py`` (frozen 22-query timer pinned to 32
cores): see perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HEAP = "4g"
CANARY_ROWS = 600_000  # sf0.1's lineitem


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def spark_conf(work: str, event_log: str | None) -> dict[str, str]:
    """Session settings on top of the package's ``get_spark``: a fixed
    heap, no console progress, JVM temp files and the event log inside
    the run's work dir."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.driver.memory": HEAP,
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            # no /tmp/hsperfdata_<user> file either
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData"
        ),
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def jvm_live_heap_mb(spark) -> float:
    """Heap the driver JVM still holds after two full collections: the
    live set (cached frames, broadcasts, models)."""
    jvm = spark._jvm
    for _ in range(2):
        jvm.java.lang.System.gc()
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return bean.getHeapMemoryUsage().getUsed() / 2**20


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc status")


def provenance(spark, input_meta: dict, cache: str) -> dict:
    import pyspark

    import bench
    import __spark_entry__ as entry
    from perfbench import inputs

    def git(*args):
        try:
            return subprocess.run(
                ["git", "-C", ROOT, *args], capture_output=True, text=True, check=True
            ).stdout.strip()
        except (OSError, subprocess.CalledProcessError):
            return None

    sha = git("rev-parse", "HEAD")
    status = git("status", "--porcelain") if sha else None
    # the package and entry sources, hashed: identifies the program when
    # the checkout is not a git repository
    src = inputs.content_hash(os.path.join(ROOT, "stop_sync_osm_atlas_spark"))

    # bench.py's host-drift canaries on sf0.1-sized generated tables:
    # one wall each against bench.py's pinned walls (ungated)
    canary_dir, _ = inputs.cached(cache, "canary", 42, CANARY_ROWS, inputs.build_canary)
    walls = {}
    for q in bench.CANARY_PINNED:
        t = time.perf_counter()
        getattr(entry, q)(spark, canary_dir).count()
        walls[q] = time.perf_counter() - t
    ratio = statistics.mean(walls[q] / p for q, p in bench.CANARY_PINNED.items())
    return {
        "git_sha": sha,
        "git_dirty": None if status is None else bool(status),
        "package_sha256": src,
        "inputs": {k: v["content_sha256"] for k, v in input_meta.items()},
        "nproc": nproc(),
        "driver_heap": HEAP,
        "spark": spark.version,
        "pyspark": pyspark.__version__,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "canary_walls_s": {q: round(w, 4) for q, w in walls.items()},
        "canary_ratio": round(ratio, 3),
    }


class Run:
    def __init__(self, args, out):
        self.args = args
        self.out = out
        self.cache = os.path.join(HERE, ".cache")
        self.work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
        self.attempted = 0
        self.failed = 0
        self.f1s: list[float] = []

    def say(self, msg: str) -> None:
        print(msg, file=self.out, flush=True)

    def op(self, fn, *a):
        """One operation: -> (wall seconds, result) or (None, None) when
        it raised; a raise counts as a failed operation."""
        self.attempted += 1
        t = time.perf_counter()
        try:
            res = fn(*a)
        except Exception:
            traceback.print_exc()
            self.failed += 1
            return None, None
        return time.perf_counter() - t, res

    def checked(self, check, *res) -> None:
        """Check one operation's output; a failed check or a check that
        raised counts as a failed operation."""
        try:
            f1, err = check(*res)
        except Exception as exc:
            traceback.print_exc()
            f1, err = 0.0, f"check raised {exc!r}"
        self.f1s.append(f1)
        if err:
            self.failed += 1
            self.say(f"check failed: {err}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["pairs_pipeline", "corpus_prep"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    # a SIGTERM still runs the finally blocks: the JVM is stopped and
    # waited for, the work dir removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    # Results go to the original stdout; everything else the process or
    # the JVM prints is sent to stderr, so the JSON line stays last.
    out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    try:
        import stop_sync_osm_atlas_spark  # noqa: F401
        import __spark_entry__  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine package is not importable: {exc}", file=sys.stderr)
        return 2

    run = Run(args, out)
    os.makedirs(run.work, exist_ok=True)
    # Spark's shuffle/spill dirs and every temp file (JVM and Python
    # workers) stay inside the run's work dir
    os.environ["TMPDIR"] = os.path.join(run.work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run.work, "local")
    try:
        return execute(run)
    finally:
        shutil.rmtree(run.work, ignore_errors=True)


def stop_jvm(spark) -> None:
    """Stop the session, then the py4j gateway JVM itself, and wait for
    it: the JVM otherwise outlives this process by a moment."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def execute(run: Run) -> int:
    from perfbench import workloads as W
    from stop_sync_osm_atlas_spark.session import get_spark

    args = run.args
    traced = args.trace == 1
    cls = {"pairs_pipeline": W.PairsPipeline, "corpus_prep": W.CorpusPrep}[args.workload]
    wl = cls(run.cache, args.seed)
    stream = W.StreamReplay(run.cache, args.seed) if traced and cls is W.CorpusPrep else None
    input_meta = dict(wl.input_meta, **(stream.input_meta if stream else {}))

    cores = nproc()
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    event_log = os.path.join(run.work, "eventlog") if traced else None
    t0 = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        master=f"local[{cores}]",
        extra_conf=spark_conf(run.work, event_log),
    )
    try:
        wl.warm(spark, run.work)
        setup_s = time.perf_counter() - t0
        if traced:
            spans = trace_run(run, spark, wl, stream)
        else:
            walls = timed_loop(run, spark, wl)
        rss, live = jvm_peak_rss_mb(spark), jvm_live_heap_mb(spark)
        prov = provenance(spark, input_meta, run.cache)
        app_id = spark.sparkContext.applicationId
    finally:
        stop_jvm(spark)

    run.say(f"workload {args.workload} seed {args.seed} on local[{cores}], heap {HEAP}")
    for k, m in input_meta.items():
        run.say(f"input {k}: {json.dumps(m['properties'], sort_keys=True)}")
    run.say(f"provenance: {json.dumps(prov, sort_keys=True)}")
    run.say(f"metric failed_ops_frac = {run.failed / run.attempted:.4f} ratio "
            f"({run.failed} of {run.attempted} operations)")
    run.say(f"metric jvm_peak_rss_mb = {rss:.1f} MB, jvm_live_heap_mb = {live:.1f} MB "
            f"(driver JVM at a {HEAP} heap)")
    if traced:
        memory = {"driver_jvm.peak_rss_mb": rss}
        metrics = finish_trace(run, spans, event_log, app_id, cores, memory)
    else:
        rate = wl.rows / statistics.median(walls) if walls else 0.0
        metrics = {
            "rows_per_s": {"value": rate, "unit": "rows/s"},
            "decision_f1": {"value": min(run.f1s, default=0.0), "unit": "ratio"},
            "setup_s": {"value": setup_s, "unit": "s"},
        }
        run.say(
            f"metric {wl.alias} = {rate:.2f} {wl.unit} (median of {len(walls)} operations "
            f"of {wl.rows} rows; walls {[round(w, 3) for w in walls]})"
        )
    for k, m in metrics.items():
        run.say(f"metric {k} = {m['value']:.6g} {m['unit']}")
    run.say(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


def timed_loop(run: Run, spark, wl) -> list[float]:
    """Operations back to back within ``--seconds``: at least one, and
    another only while the median wall so far still fits before the
    deadline, so the operation count does not hinge on whether one
    operation ends just before it.  Outputs are checked after the timed
    region.  -> walls of the operations that completed."""
    walls, results = [], []
    deadline = time.perf_counter() + run.args.seconds
    while True:
        wall, res = run.op(wl.run, spark, os.path.join(run.work, f"op{run.attempted}"))
        if wall is not None:
            walls.append(wall)
            results.append(res)
        left = deadline - time.perf_counter()
        if left <= 0 or (walls and statistics.median(walls) > left):
            break
    for res in results:
        run.checked(wl.check, res)
    return walls


def trace_run(run: Run, spark, wl, stream) -> dict:
    """Untraced (U) and traced (T) operations alternate U T U ... U for
    ``--seconds``; the layer probes then run once, on the last traced
    output.  The untraced walls on both sides of each traced one are the
    base of the tracing overhead (the engine still warms up op by op)."""
    from perfbench.trace import Tracer, make_query_listener

    tracer = Tracer(spark.sparkContext)
    plain, parents = [], []
    last = None

    def untraced() -> None:
        wall, res = run.op(wl.run, spark, os.path.join(run.work, f"op{run.attempted}"))
        if wall is not None:
            plain.append(wall)
            run.checked(wl.check, res)

    @contextmanager
    def spans_installed():
        undo = wl.install_spans(tracer)
        try:
            yield
        finally:
            for u in undo:
                u()

    def traced(out):
        with spans_installed():
            return wl.traced(spark, tracer, out)

    deadline = time.perf_counter() + run.args.seconds
    untraced()
    while True:
        first = len(tracer.spans)
        wall, res = run.op(traced, os.path.join(run.work, f"op{run.attempted}"))
        if wall is not None:
            parents.append(tracer.spans[first])
            if last is not None:
                run.checked(wl.check, last)
            last = res
        untraced()
        if time.perf_counter() >= deadline:
            break
    if last is not None:
        with spans_installed():
            run.op(wl.probes, spark, tracer, last, run.work)
        run.checked(wl.check, last)
    if stream is not None:
        queries = make_query_listener()
        spark.streams.addListener(queries)

        def replay():
            stream.warm(spark)
            return stream.traced(spark, tracer, queries)

        wall, res = run.op(replay)
        if wall is not None:
            run.checked(stream.check, *res)
            for parent, metric, rows in stream.rates:
                p = [sp for sp in tracer.spans if sp.name == parent][-1]
                run.say(f"metric {metric} = {rows / p.wall:.2f} rows/s "
                        f"(one traced operation of {rows} rows)")
    return {"tracer": tracer, "plain": plain, "parents": parents}


def finish_trace(run: Run, spans: dict, event_log: str, app_id: str, cores: int, memory: dict) -> dict:
    from perfbench import layers as L
    from perfbench.trace import event_log_file, rollup

    tracer = spans["tracer"]
    groups = rollup(event_log_file(event_log, app_id))
    path = os.path.join(HERE, ".work", f"spans-{run.args.workload}-s{run.args.seed}.json")
    tracer.dump(path)
    metrics, units, table = L.per_layer(
        tracer.spans, groups, cores, spans["plain"], spans["parents"], memory
    )
    for line in table:
        run.say(line)
    run.say(f"spans written to {os.path.relpath(path, ROOT)}")
    return {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}


if __name__ == "__main__":
    sys.exit(main())
