"""Run one benchmark workload and print its result as the last stdout line.

Usage (from the repository root):

    python3 perfbench/run.py --workload facade --seed 1 --seconds 8 --trace 0

One process = one Spark session on ``local[nproc]``:

1. set-up: engine import, ``get_spark``, one trivial job (``setup_s``);
2. inputs generated from ``--seed`` into ``.perfbench_work/`` (untimed);
3. the first, cold unit (``first_run_s``);
4. warm units until ``--seconds`` have passed (``run_s`` = their median);
5. the output check on the last unit's outputs.

``--trace 1`` makes a separate kind of run for the per-layer metrics: after
one untimed warm-up unit, warm units alternate traced and untraced (at least
two and one), the layer metrics are the medians over the traced units, and
``trace.overhead_s`` is the traced-minus-untraced median unit time.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
DRIVER_MEM = "2g"


def _env_setup(work: str) -> None:
    """Pin cores and keep every file the run writes inside ``work``."""
    ncpu = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(ncpu)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # Python workers start from the JVM's environment: give them the package.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    sys.path.insert(0, ROOT)


def _rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM")


def _stop(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits on stdin EOF
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "hg_data_pipelines_spark")):
        print("perfbench: hg_data_pipelines_spark not found next to perfbench/", file=sys.stderr)
        return 2
    from workloads import WORKLOADS  # perfbench/ is sys.path[0]

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    loadavg = os.getloadavg()
    os.makedirs(WORK_ROOT, exist_ok=True)
    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _env_setup(work)

    # Spark logs (and progress) go to a file; ERROR lines are counted.
    log_path = os.path.join(work, "spark.log")
    real_stderr = os.dup(2)
    log_fd = os.open(log_path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC)
    os.dup2(log_fd, 2)
    session = {}
    try:
        result, detail = _run(args, work, loadavg, session)
    except Exception:
        traceback.print_exc()
        result = None
    finally:
        if "spark" in session:
            try:
                _stop(session["spark"])
            except Exception:
                traceback.print_exc()
        sys.stderr.flush()
        os.dup2(real_stderr, 2)
        os.close(log_fd)
    if result is None:
        with open(log_path, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-60:]))
        shutil.rmtree(work, ignore_errors=True)
        return 1
    with open(log_path, errors="replace") as f:
        errors = sum(1 for line in f if " ERROR " in line)
    if args.trace:
        result["metrics"]["log.error_lines"] = detail["layers"]["log.error_lines"] = errors
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]
    # Layers a workload bypasses report 0 (e.g. queries.* on facade).
    result["metrics"] = {
        m["name"]: {"value": result["metrics"].get(m["name"], 0), "unit": m["unit"]}
        for m in declared
    }
    shutil.rmtree(work, ignore_errors=True)
    if not os.listdir(WORK_ROOT):
        os.rmdir(WORK_ROOT)
    print(json.dumps(detail, sort_keys=True))
    print(json.dumps(result))
    return 0


def _run(args, work, loadavg, session):
    import numpy as np

    from hg_data_pipelines_spark import jobs  # noqa: F401  (the engine import)
    from hg_data_pipelines_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        },
    )
    session["spark"] = spark
    get_spark_s = time.perf_counter() - t
    spark.range(1).count()
    setup_s = time.perf_counter() - T_START

    from tracing import Tracer, spark_totals
    from workloads import WORKLOADS

    sc = spark.sparkContext
    env = {
        "nproc": len(os.sched_getaffinity(0)),
        "spark.master": sc.master,
        "defaultParallelism": sc.defaultParallelism,
        "spark.sql.shuffle.partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "spark_version": spark.version,
        "java_version": sc._jvm.System.getProperty("java.version"),
        "driver_memory": DRIVER_MEM,
        "loadavg_before": loadavg,
    }
    wl = WORKLOADS[args.workload]()
    t = time.perf_counter()
    sizes = wl.prepare(np.random.default_rng(args.seed), work)
    phases = {"prepare_s": time.perf_counter() - t}

    off, on = Tracer(spark, False), Tracer(spark, True)
    attempted = failed = 0
    times = {"cold": [], "warmup": [], "warm": [], "traced": []}
    roots, errors = [], []

    def unit(kind):
        nonlocal attempted, failed
        attempted += 1
        tracer = on if kind == "traced" else off
        t0 = time.perf_counter()
        try:
            root = wl.unit(spark, tracer)
        except Exception as e:
            failed += 1
            errors.append(f"{kind}: {type(e).__name__}: {e}"[:300])
            traceback.print_exc()
            return
        times[kind].append(time.perf_counter() - t0)
        if root is not None:
            roots.append(root)

    unit("cold")
    if args.trace:
        # Keeps the second unit's leftover warm-up out of the overhead estimate.
        unit("warmup")
    t_warm = time.perf_counter()
    while True:
        if args.trace:
            kind = "traced" if len(times["traced"]) <= len(times["warm"]) else "warm"
            done = len(times["warm"]) >= 1 and len(times["traced"]) >= 2
        else:
            kind, done = "warm", len(times["warm"]) >= 1
        if done and time.perf_counter() - t_warm >= args.seconds:
            break
        if failed >= 3:
            break
        unit(kind)
    t = time.perf_counter()
    problems = wl.check(spark) if failed < attempted else ["no unit completed"]
    phases["check_s"] = time.perf_counter() - t
    if problems:
        failed += 1

    jvm_rss = _rss_mb(sc._gateway.proc.pid)
    py_rss = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "env": env,
        "inputs": sizes,
        "units": {k: [round(x, 4) for x in v] for k, v in times.items()},
        "phases": {k: round(v, 3) for k, v in phases.items()},
        "problems": problems[:20],
        "errors": errors,
    }
    if not args.trace:
        metrics = {
            "setup_s": setup_s,
            "first_run_s": times["cold"][0] if times["cold"] else 0.0,
            "run_s": _median(times["warm"]),
        }
    else:
        per_unit = []
        for root in roots:
            m = wl.layer_metrics(on, root)
            spans = on.descendants(root)
            for k, v in spark_totals(spans, root.t0, root.t1).items():
                m[f"spark.{k}"] = v
            m["trace.attributed_frac"] = 1.0 - root.self_s / root.wall
            per_unit.append(m)
        metrics = {}
        for k in sorted(set().union(*per_unit)) if per_unit else ():
            vals = [m.get(k, 0.0) for m in per_unit]
            metrics[k] = _median(vals)
            if k.endswith(("jobs", "stages", "tasks", "calls", "files")):
                detail.setdefault("count_range", {})[k] = [min(vals), max(vals)]
        metrics["session.get_spark_s"] = get_spark_s
        metrics["trace.unit_s"] = _median(times["traced"])
        metrics["trace.overhead_s"] = _median(times["traced"]) - _median(times["warm"])
        metrics["memory.jvm_peak_rss_mb"] = jvm_rss
        metrics["memory.python_peak_rss_mb"] = py_rss
        # Every layer metric the workload produced, declared or not (the
        # hand-run curation workload's stages and operators are not).
        detail["layers"] = {k: round(v, 4) for k, v in metrics.items()}
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    return result, detail


if __name__ == "__main__":
    sys.exit(main())
