"""Repository benchmark: one workload per run, seeded inputs, checked
outputs, one JSON result line.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0

Runs from the repository root on ``local[<cores>]`` with one client
process. The run generates its inputs from ``--seed`` into a temporary
directory under ``.perfbench/`` (removed at exit), starts the session
``SETUPS`` times, each in a fresh JVM, runs the workload's untimed warm-up
rounds, then measures whole rounds until ``--seconds`` have elapsed. Every
operation's output is checked outside its timing; a failed check or an
exception counts in ``failed``. After every operation the engine's caches are released, and
before the next one the run checks that no cached relation or persisted
RDD survived.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs the same
measurement with spans on and reports the per-layer metrics; its host
stamp carries the traced-minus-untraced difference of each end-to-end
metric against the untraced run of the same workload and seed, when that
run's record is in ``.perfbench/results/``. The last stdout line is the
result object; the line before it is the host stamp. The full record, and
with tracing the raw spans, jobs and stages, are written to
``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# cold session starts per run; setup_s is their median. Each costs a JVM
# launch, 5-7 s on 4 vCPUs, so a third would add a tenth to every run
SETUPS = 2

E2E_UNITS = {"setup_s": "s", "op_geomean_s": "s", "items_per_s": "1/s"}
_FIELD_UNITS = {"wall_s": "s", "driver_s": "s", "plan_s": "s", "jobs": "count",
                "stages": "count", "cpu_s": "s", "shuffle_mb": "MB"}


def layer_names() -> list[str]:
    from perfbench.workloads import QUERY_MODULES

    return (["app", "operators", "sources.sinks"]
            + [f"queries.{m}" for m in QUERY_MODULES]
            + ["queries.llm_pipeline.build_corpus", "streaming.admit_batch",
               "streaming.admit_neardup_batch", "streaming.compact"])


def per_layer_units() -> dict[str, str]:
    from perfbench.workloads import FUNNEL_STAGES

    units = {f"{L}.{f}": u for L in layer_names() for f, u in _FIELD_UNITS.items()}
    units.update({f"llm_pipeline.funnel.{s}": "docs" for s in FUNNEL_STAGES})
    units.update({"streaming.admit_ratio": "ratio",
                  "streaming.index_bytes_per_admitted_doc": "B/doc",
                  "session.get_spark_s": "s", "process.peak_rss_mb": "MB",
                  "trace.stage_coverage": "ratio"})
    return units


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _steal_s() -> float:
    """CPU time the hypervisor took from this machine since boot, summed
    over its cores (``/proc/stat``)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _cache_survivors(spark) -> int:
    """Cached relations plus persisted RDDs still alive."""
    cached = 0 if spark._jsparkSession.sharedState().cacheManager().isEmpty() else 1
    return cached + len(spark.sparkContext._jsc.getPersistentRDDs())


class Tally:
    def __init__(self):
        self.labels: list[str] = []
        self.walls: list[float] = []
        self.items: list[float] = []
        self.attempted = self.failed = self.passes = 0
        self.errors: list[str] = []

    def fail(self, label: str, err: str) -> None:
        self.failed += 1
        if len(self.errors) < 10:
            self.errors.append(f"{label}: {err}")
        print(f"FAILED {label}: {err}", file=sys.stderr, flush=True)


def run_ops(spark, tracer, ops, tally: Tally) -> None:
    from vat_etl_spark.session import release_engine_caches

    for op in ops:
        tally.attempted += 1
        survivors = _cache_survivors(spark)
        if survivors:
            tally.fail(op.label, f"{survivors} cached relations/RDDs survived the last operation")
            release_engine_caches(spark)
        wall, t0 = None, time.perf_counter()
        try:
            with tracer.operation(tally.attempted, op.label):
                t0 = time.perf_counter()
                res = op.run(spark, tracer)
                wall = time.perf_counter() - t0
            op.check(res)
        except Exception as e:  # counted, then the run goes on
            if wall is None:
                wall = time.perf_counter() - t0
            tally.fail(op.label, f"{type(e).__name__}: {e}"[:500])
            traceback.print_exc(file=sys.stderr)
        release_engine_caches(spark)
        tally.labels.append(op.label)
        tally.walls.append(wall)
        tally.items.append(op.items)


def measure(w, spark, tracer, seconds: float) -> Tally:
    """Whole passes until ``seconds`` have elapsed, at least one. Passes
    stay whole so that every operation type is measured as often, at the
    same points of the JVM's warm-up, in every run."""
    tally = Tally()
    t0 = time.perf_counter()
    while tally.passes == 0 or time.perf_counter() - t0 < seconds:
        run_ops(spark, tracer, w.pass_ops(spark, w.WARM_PASSES + tally.passes), tally)
        tally.passes += 1
    return tally


def e2e(tally: Tally, setup_s: float) -> dict[str, float]:
    """From each operation type's median wall over the timed rounds, so a
    single slow operation does not move a run. The geometric mean weighs
    every type alike, so in a mix no single slow type dominates it;
    ``items_per_s`` is a round's items over the sum of the medians."""
    walls: dict[str, list[float]] = {}
    items: dict[str, float] = {}
    for label, wall, n in zip(tally.labels, tally.walls, tally.items):
        walls.setdefault(label, []).append(wall)
        items[label] = n
    med = {label: statistics.median(ws) for label, ws in walls.items()}
    return {
        "setup_s": setup_s,
        "op_geomean_s": statistics.geometric_mean(med.values()),
        "items_per_s": sum(items.values()) / sum(med.values()),
    }


def run(args, tmp: str) -> tuple[dict, dict, object]:
    # half the cores run tasks; the rest keep the driver's JVM and Python
    # threads, GC and the Python workers off the task threads' cores, so a
    # run measures the engine rather than the scheduler
    cores = max(1, len(os.sched_getaffinity(0)) // 2)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "4g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["VAT_ETL_INDEX_DIR"] = os.path.join(tmp, "indexes")
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(tmp, "py-tmp")
    os.makedirs(tempfile.tempdir)
    # every file the run writes stays in ``tmp``; -XX:-UsePerfData stops the
    # JVMs writing their hsperfdata file under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    load_start, steal_start = os.getloadavg(), _steal_s()

    import pyspark

    from perfbench.trace import LAYER_FIELDS, Tracer
    from perfbench.workloads import WORKLOADS
    from vat_etl_spark.session import get_spark

    phases = {}
    t_phase = time.perf_counter()

    def phase(name: str) -> None:
        nonlocal t_phase
        now = time.perf_counter()
        phases[name] = now - t_phase
        t_phase = now

    w = WORKLOADS[args.workload](tmp, args.seed)
    w.prepare()
    phase("prepare_s")

    # every start is cold: the JVM of the one before has exited, so each
    # pays the launch a user pays; the last session runs the workload
    spark, setups = None, []
    for _ in range(SETUPS):
        if spark is not None:
            spark.stop()
            _stop_jvm()
        t0 = time.perf_counter()
        spark = get_spark("perfbench", extra_conf=conf)
        setups.append(time.perf_counter() - t0)
    setup_s = statistics.median(setups)
    jvm_pid = spark._jvm.ProcessHandle.current().pid()
    phase("setups_s")

    warm = Tally()
    run_ops(spark, Tracer(spark, enabled=False), w.warm_up(spark), warm)
    phase("warm_s")

    tracer = Tracer(spark, enabled=bool(args.trace))
    tally = measure(w, spark, tracer, args.seconds)
    metrics = e2e(tally, setup_s)
    peak_rss_mb = _vm_hwm_mb("self") + _vm_hwm_mb(jvm_pid)
    phase("measure_s")
    per_layer: dict[str, float] = {}
    overhead = None
    if args.trace:
        tot, coverage = tracer.layer_totals(layer_names())
        for L, vals in tot.items():
            for f in LAYER_FIELDS:
                per_layer[f"{L}.{f}"] = vals[f] / tally.passes
        counters = w.counters()
        for name in per_layer_units():
            per_layer.setdefault(name, float(counters.get(name, 0.0)))
        per_layer["session.get_spark_s"] = setup_s
        per_layer["process.peak_rss_mb"] = peak_rss_mb
        per_layer["trace.stage_coverage"] = coverage
        untraced = _result_path(args.workload, args.seed, 0)
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)["host"]
            # results from different core counts are never compared
            if base["cores_used"] == cores:
                overhead = {k: metrics[k] - base["e2e"][k] for k in metrics}

    attempted, failed = warm.attempted + tally.attempted, warm.failed + tally.failed
    stamp = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": bool(args.trace), "nproc": os.cpu_count(), "cores_used": cores,
        "spark": pyspark.__version__,
        "java": spark._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "loadavg_start": load_start, "loadavg_end": os.getloadavg(),
        "steal_s": _steal_s() - steal_start,
        "setups_s": setups, "phases_s": phases, "passes": tally.passes,
        "failed_frac": failed / attempted, "errors": warm.errors + tally.errors,
        "e2e": metrics, "peak_rss_mb": peak_rss_mb, "tracing_overhead": overhead,
        "warm_walls_s": list(zip(warm.labels, warm.walls)),
        "op_walls_s": list(zip(tally.labels, tally.walls)),
        "counters": w.counters(),
    }
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": per_layer if args.trace else metrics,
    }
    spark.stop()
    return result, stamp, tracer


def _result_path(workload: str, seed: int, trace: int) -> str:
    return os.path.join(ROOT, ".perfbench", "results", f"{workload}-seed{seed}-trace{trace}.json")


def _stop_jvm() -> None:
    """Shut the py4j gateway and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def _terminate(*_) -> None:
    """A terminated run still removes its inputs and stops its JVM; a
    second signal must not interrupt that cleanup."""
    signal.signal(signal.SIGTERM, signal.SIG_IGN)
    sys.exit(143)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "vat_etl_spark", "__init__.py")):
        print("perfbench: run from a checkout of the repository "
              "(vat_etl_spark/ not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench")
    os.makedirs(os.path.join(work, "results"), exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"run-{args.workload}-", dir=work)
    signal.signal(signal.SIGTERM, _terminate)
    try:
        result, stamp, tracer = run(args, tmp)
    finally:
        _stop_jvm()
        shutil.rmtree(tmp, ignore_errors=True)
    path = _result_path(args.workload, args.seed, args.trace)
    with open(path, "w") as f:
        json.dump({"result": result, "host": stamp}, f, indent=1)
    if args.trace:
        tracer.dump(path.replace(".json", "-spans.json"))
    units = per_layer_units() if args.trace else E2E_UNITS
    for name, value in result["metrics"].items():
        print(f"{name:56s} {value:14.6g} {units[name]}")
    print(json.dumps({"host": stamp}))
    result["metrics"] = {k: {"value": v, "unit": units[k]} for k, v in result["metrics"].items()}
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
