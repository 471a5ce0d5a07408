"""Benchmark entry point.

    python3 perfbench/run.py --workload {ingest,scan} \
        --seed N --seconds S --trace {0,1}

Run from the root of a source checkout. The benchmark makes its inputs from
``--seed``, runs one workload as a closed loop with one client for
``--seconds``, checks every output and prints, as the last line of standard
output, one JSON object with the keys ``correct``, ``attempted``, ``failed``
and ``metrics``.

- ``--trace 0``: the end-to-end metrics of ``BENCHMARK.json``.
- ``--trace 1``: its per-layer metrics. This builds the
  inputs of both workloads and of the lookup and dedup layer studies, runs
  the layer study of layers.py, then the chosen workload's loop with
  tracing on for every other operation, so the tracing overhead is
  measured in the same run. Spans and the layer table
  are written to ``.perfbench_out/``.

Everything the run writes stays inside the checkout: inputs, sinks and
Spark's scratch space go to ``.perfbench_work/`` (removed at exit), spans
and the determinism record to ``.perfbench_out/``. The run stops the JVM
and waits for every process it started before it exits.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import spec  # noqa: E402
from perfbench.procstat import tree_pss_mb  # noqa: E402

# untimed operations after the first, before the measured loop
WARMUP_SECONDS = 4.0
# Heap of the driver JVM, sized from a measured need rather than the engine's
# default (24g), which the JVM fills at its own pace, so that its resident
# set would depend on how long a run lasts. Measured on a 4-core box at
# scale 1: the live heap after a full GC is 95-110 MB; with 512m rather
# than 1g the operation times agree within their noise, GC takes ~1.4 s
# instead of ~1.1 s of a 40 s run, and the JVM's resident set varies by
# ~60 MB between runs instead of ~250 MB. The JVM's share of peak_rss_mb is
# therefore close to this cap plus its off-heap memory; a heap regression
# shows in the traced run's jvm.gc_s and jvm.heap_peak_mb.
DRIVER_MEM = "512m"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=spec.WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--scale", type=float, default=1.0,
        help="input size relative to the benchmark's (tests use a small one)",
    )
    return p.parse_args(argv)


def sandbox(work: str) -> None:
    """Point every scratch directory of Python, the JVM and Spark into
    ``work``, and make the checkout importable by Spark's Python workers.
    Must run before pyspark starts the JVM."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import tempfile

    tempfile.tempdir = None


def start_spark(work: str):
    """The engine's session at the box's full parallelism; returns (spark,
    seconds it took)."""
    from hadoop_etl_udfs_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        cores=len(os.sched_getaffinity(0)),
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    return spark, time.perf_counter() - t0


def build(name: str, spark, work: str, seed: int, scale: float, pages=None):
    """Make the inputs of one workload under ``work``; ``pages`` reuses an
    existing pages table."""
    from perfbench import workloads as w

    if name == "dedup":
        return w.Dedup(spark, work, seed, max(64, round(w.DEDUP_DOCS * scale)))
    if pages is None:
        n = max(4 * w.LOOKUP_CHUNKS, round(w.PAGES_DOCS * scale))
        pages = w.PagesTable(spark, os.path.join(work, "pages"), seed, n)
    if name == "ingest":
        return w.Ingest(spark, work, pages)
    if name == "scan":
        return w.Scan(spark, work, pages)
    return w.Lookup(spark, work, pages, seed)


class Tally:
    """Operations attempted and failed; failures are reported on stderr."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def add(self, what: str, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            for p in problems:
                print(f"perfbench: FAILED {what}: {p}", file=sys.stderr)


def attempt(tally: Tally, what: str, fn):
    """Run ``fn`` (returning (result, problems)); an exception is a failed
    operation, not the end of the run."""
    try:
        out, problems = fn()
    except Exception as e:  # noqa: BLE001 - the run goes on and reports it
        traceback.print_exc(file=sys.stderr)
        out, problems = None, [f"{type(e).__name__}: {e}"]
    tally.add(what, problems)
    return out


def closed_loop(
    wl, seconds: float, tracers: list, tally: Tally, memory: list | None = None
) -> list[list[float]]:
    """Run ``wl`` back to back for ``seconds`` (at least once per tracer),
    operation i under ``tracers[i % len(tracers)]``. Returns the latencies
    in seconds of the operations that completed, one list per tracer.
    With ``memory``, the process tree's resident set is sampled into it
    after every operation (outside the timed part)."""
    lat: list[list[float]] = [[] for _ in tracers]

    def one(i: int):
        t0 = time.perf_counter()
        out = wl.run(i, tracers[i % len(tracers)])
        lat[i % len(tracers)].append(time.perf_counter() - t0)
        return None, wl.check(out, i)

    end = time.perf_counter() + seconds
    i = 0
    while i < len(tracers) or time.perf_counter() < end:
        attempt(tally, f"{wl.name} operation {i}", lambda: one(i))
        if memory is not None:
            memory.append(tree_pss_mb())
        i += 1
    return lat


def guard_counts(path: str, counts: dict | None) -> list[str]:
    """Determinism across runs: the first run of a seed records the
    workload's deterministic counts at ``path``; every later run must
    repeat them."""
    if counts is None:
        return ["no deterministic counts were recorded"]
    now = json.loads(json.dumps(counts, sort_keys=True))
    if os.path.exists(path):
        with open(path) as f:
            before = json.load(f)
        if before != now:
            return [f"deterministic counts differ from an earlier run of this seed: {now} != {before}"]
        return []
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(now, f, sort_keys=True)
    return []


def code_version(root: str = ROOT) -> str:
    """Hash of the engine's and the benchmark's Python sources. The
    determinism record is kept per version of the code, so that only runs
    of the same code must agree: a change that alters the stored bytes or
    the codec mix starts a record of its own."""
    h = hashlib.sha256()
    for top in ("hadoop_etl_udfs_spark", "perfbench"):
        for d, dirs, files in os.walk(os.path.join(root, top)):
            dirs[:] = sorted(x for x in dirs if x != "__pycache__")
            for f in sorted(files):
                if f.endswith(".py"):
                    path = os.path.join(d, f)
                    h.update(os.path.relpath(path, root).encode() + b"\0")
                    with open(path, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()[:16]


def counts_record(name: str, args) -> str:
    return os.path.join(
        ROOT, ".perfbench_out", "counts", code_version(),
        f"{name}-seed{args.seed}-scale{args.scale:g}.json",
    )


def run_untraced(spark, args, work: str, session_s: float, tally: Tally) -> tuple[dict, int]:
    """Set-up, then the closed loop. Returns the end-to-end metrics and the
    number of operations timed.

    Set-up time is what a user pays before the first answer: the session
    start, the input build and the first (checked) operation. It is taken
    once per run: the build also pays for the cold JVM and Python workers
    (most of its 10-20 s), and repeating it would not fit the benchmark's
    time budget. Further operations run for WARMUP_SECONDS untimed, because
    the operation time keeps falling for several seconds after the first
    (JIT compilation, first touch of worker memory).

    Peak memory is the largest proportional resident set of the process
    tree (procstat.tree_pss_mb) over samples taken after set-up and after
    every operation."""
    from perfbench.workloads import OFF

    t0 = time.perf_counter()
    wl = build(args.workload, spark, work, args.seed, args.scale)
    build_s = time.perf_counter() - t0
    attempt(tally, f"{args.workload} first operation", lambda: (None, wl.setup_problems + wl.check(wl.run(0, OFF), 0)))
    first_s = time.perf_counter() - t0 - build_s
    memory = [tree_pss_mb()]
    closed_loop(wl, WARMUP_SECONDS, [OFF], tally, memory)
    lat = closed_loop(wl, args.seconds, [OFF], tally, memory)[0]
    tally.add("determinism across runs", guard_counts(counts_record(args.workload, args), wl.counts))
    if not lat:
        raise RuntimeError("no operation completed")
    print(
        f"perfbench: session start {session_s:.2f} s, input build {build_s:.2f} s, "
        f"first operation {first_s:.2f} s, operations (ms) " + ", ".join(f"{x * 1e3:.0f}" for x in lat),
        file=sys.stderr,
    )
    return {
        "setup_s": session_s + build_s + first_s,
        "mb_per_s": wl.data_mb / statistics.median(lat),
        "stored_bytes_per_input_byte": wl.counts["stored_bytes"] / wl.pages.input_bytes,
        "peak_rss_mb": max(memory),
    }, len(lat)


def run_traced(spark, args, work: str, tally: Tally) -> dict:
    """Inputs of both workloads and of the lookup and dedup studies, the
    layer study, then the chosen workload's loop with every other operation
    traced."""
    from perfbench import layers
    from perfbench.trace import Tracer
    from perfbench.workloads import OFF

    run_id = uuid.uuid4().hex[:12]
    tracer = Tracer(run_id)
    wls = {}
    with tracer.span("setup"):
        wls["ingest"] = build("ingest", spark, work, args.seed, args.scale)
        for name in ("scan", "lookup", "dedup"):
            wls[name] = build(name, spark, work, args.seed, args.scale, pages=wls["ingest"].pages)
    for name, wl in wls.items():
        tally.add(f"{name} set-up", wl.setup_problems)
    metrics: dict[str, float] = {}
    for what, fn in (
        ("ingest layers", lambda: layers.ingest_layers(tracer, wls["ingest"], work)),
        ("scan layers", lambda: layers.scan_layers(tracer, wls["scan"])),
        ("lookup layers", lambda: layers.lookup_layers(tracer, wls["lookup"])),
        ("dedup layers", lambda: layers.dedup_layers(tracer, wls["dedup"])),
    ):
        with tracer.span(what):
            metrics.update(attempt(tally, what, fn) or {})
    for name, wl in wls.items():
        tally.add(f"{name} determinism across runs", guard_counts(counts_record(name, args), wl.counts))
    off, on = closed_loop(wls[args.workload], args.seconds, [OFF, tracer], tally)
    if off and on:
        metrics["trace.overhead_ratio"] = statistics.median(on) / statistics.median(off)
    metrics["trace.spans"] = len(tracer.spans)
    metrics.update(jvm_memory(spark))

    out = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out, exist_ok=True)
    stem = os.path.join(out, f"spans-{args.workload}-seed{args.seed}-{run_id}")
    tracer.write(stem + ".jsonl")
    lines = [f"{'span':64} {'calls':>5} {'total_s':>9} {'self_s':>9}"]
    lines += [
        f"{r['name'][:64]:64} {r['calls']:5d} {r['total_s']:9.3f} {r['self_s']:9.3f}"
        for r in tracer.table()
    ]
    with open(stem + ".table.txt", "w") as f:
        f.write("\n".join(lines) + "\n")
    print("\n".join(lines), file=sys.stderr)
    return metrics


def jvm_memory(spark) -> dict:
    """Time the driver JVM spent in garbage collection, and the sum of its
    heap pools' peak use, from its management beans. With the heap capped
    (DRIVER_MEM), a JVM-side memory regression shows here first."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return {
        "jvm.gc_s": sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1e3,
        "jvm.heap_peak_mb": sum(
            p.getPeakUsage().getUsed()
            for p in mf.getMemoryPoolMXBeans()
            if p.getType().toString() == "Heap memory"
        ) / 2**20,
    }


def stop_spark(spark) -> None:
    """Stop Spark, end the JVM and wait until every process this run
    started has exited."""
    from pyspark import SparkContext

    from perfbench.procstat import descendants, wait_ended

    started = descendants()
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    wait_ended(started, timeout=60)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "hadoop_etl_udfs_spark", "__init__.py")):
        print(
            f"perfbench: the engine package hadoop_etl_udfs_spark/ is not in {ROOT};"
            " run the benchmark from a source checkout",
            file=sys.stderr,
        )
        return 2
    if args.seconds <= 0 or args.scale <= 0:
        print("perfbench: --seconds and --scale must be positive", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    sandbox(work)
    tally = Tally()
    spark = None
    try:
        spark, session_s = start_spark(work)
        if args.trace:
            metrics, n_ops = run_traced(spark, args, work, tally), None
        else:
            metrics, n_ops = run_untraced(spark, args, work, session_s, tally)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    units = spec.PER_LAYER if args.trace else spec.END_TO_END
    missing = sorted(set(units) - set(metrics))
    if missing:
        print(f"perfbench: no value for {missing}", file=sys.stderr)
        return 1
    print(
        f"perfbench: {args.workload} seed={args.seed} trace={args.trace} "
        f"operations timed={n_ops} attempted={tally.attempted} failed={tally.failed} "
        f"failed_frac={tally.failed / max(1, tally.attempted):.4f}",
        file=sys.stderr,
    )
    result = {
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
