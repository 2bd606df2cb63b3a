"""Engine benchmark: one run of one workload.

    python3 perfbench/run.py --workload headline --seed 1 --seconds 10 --trace 0 [--out results.jsonl]

Run from the root of a checkout.  The run generates its inputs from the
seed under .perfbench_work/, builds the Spark session and runs a first
job nine times (the first setup launches the JVM, the next eight rebuild
the session in it), then runs closed rounds of the workload's ops back
to back until `--seconds` have passed (at least one round).  `total_s`
is the first round, in which every op runs for the first time in the
process, first-use costs included.  Every op's output is checked outside
the timed region, and later rounds must repeat the first's exactly.  The
last stdout line is the result object; with `--out`, the full record
(per-round op times, output hashes, environment) is appended as one JSON
line for perfbench/report.py.

`--trace 1` turns on the Spark event log and span wrappers and reports
the per-layer metrics instead of the end-to-end ones.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from contextlib import nullcontext  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SETUPS = 9


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=("headline", "lloyd_multiblock"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--out", help="append the full run record to this JSON-lines file")
    return p.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def cpu_steal() -> dict:
    """Aggregate CPU jiffies from /proc/stat: steal and total."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    return {"steal": vals[7] if len(vals) > 7 else 0, "total": sum(vals)}


def loadavg() -> str:
    with open("/proc/loadavg") as fh:
        return fh.read().strip()


def configure_env(work: Path, trace: bool) -> None:
    """Everything Spark and its Python workers need, set before the JVM
    starts: the checkout on every worker's import path, all scratch
    space inside the checkout, and (traced runs) the event log."""
    for sub in ("spark-local", "tmp", "events"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(nproc()))
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    # every JVM, spark-submit's launcher included: temp files in the
    # checkout, no hsperfdata under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
    submit = []
    if trace:
        for conf in ("spark.eventLog.enabled=true", f"spark.eventLog.dir=file://{work / 'events'}",
                     "spark.eventLog.compress=false", "spark.eventLog.logBlockUpdates.enabled=true"):
            submit += ["--conf", conf]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])


def light_warmup(spark) -> None:
    """One small SQL aggregate across every slot: the session's first
    job, so the setup time includes scheduler and executor start."""
    n = spark.sparkContext.defaultParallelism
    spark.range(0, 4 * n, 1, n).selectExpr("id % 7 AS g").groupBy("g").count().collect()


def jvm_vmhwm_mb(spark) -> float:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is None:
        return 0.0
    with open(f"/proc/{proc.pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def stop_spark(spark) -> None:
    """Stop the session, then the JVM the Python gateway launched, and
    wait for it to exit (its Python workers exit with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def environment(seed: int) -> dict:
    import numpy
    import pyarrow
    import pyspark

    # the benchmark's checkout need not be a git repository; the ceiling
    # keeps git from finding a repository above it
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=30,
            env=os.environ | {"GIT_CEILING_DIRECTORIES": str(ROOT.parent)},
        ).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        commit = "unknown"
    gen_hash = hashlib.sha256()
    for f in ("gen.py", "workloads.py"):
        gen_hash.update((HERE / f).read_bytes())
    return {
        "nproc": nproc(),
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "pyspark": pyspark.__version__, "numpy": numpy.__version__, "pyarrow": pyarrow.__version__,
        "python": sys.version.split()[0], "commit": commit, "seed": seed,
        "generator_sha256": gen_hash.hexdigest()[:16],
    }


def run(args, wl, work: Path) -> dict:
    steal0, load0 = cpu_steal(), loadavg()
    t = time.perf_counter()
    inp = wl.generate(str(work / "in"), args.seed)
    gen_s = time.perf_counter() - t
    configure_env(work, bool(args.trace))

    from kmeans_mapreduce_spark.session import get_spark, quiet_audited_window_warnings

    # A setup is a session build and a first job.  The first setup also
    # pays for the interpreter, the imports and the JVM launch; the later
    # ones rebuild the session in that JVM after an untimed spark.stop().
    # setup_s is the median; relaunching the JVM for every setup (about
    # 10 s each on 4 cores) would not fit the benchmark's run budget.
    spark, builds, warmups, setups = None, [], [], []
    for i in range(SETUPS):
        if spark is not None:
            spark.stop()
        tb = time.perf_counter()
        spark = get_spark("perfbench")
        quiet_audited_window_warnings(spark)
        builds.append(time.perf_counter() - tb)
        tw = time.perf_counter()
        light_warmup(spark)
        warmups.append(time.perf_counter() - tw)
        # the first setup runs from process start, less input generation
        setups.append(time.perf_counter() - (T_START + gen_s if i == 0 else tb))
    java = spark.sparkContext._jvm.System.getProperty("java.version")

    failures: list[dict] = []
    attempted = 0
    hashes: dict[str, str] = {}

    def attempt(op):
        nonlocal attempted
        attempted += 1
        t = time.perf_counter()
        try:
            out = op.run(spark)
        except Exception as exc:
            failures.append({"op": op.name, "error": f"{type(exc).__name__}: {exc}"[:2000]})
            traceback.print_exc(file=sys.stderr)
            return None, time.perf_counter() - t
        return out, time.perf_counter() - t

    def check(op, out) -> None:
        """Check an output outside the timed region; every later round
        over the same inputs must repeat the first round's exactly."""
        if out is None:
            return
        h = _hash_output(out)
        if hashes.setdefault(op.name, h) != h:
            failures.append({"op": op.name, "error": "output differs between rounds"})
        traced, tracer.active = tracer.active, False
        try:
            problems = op.check(out)
        except Exception as exc:
            problems = [f"check raised {type(exc).__name__}: {exc}"]
        finally:
            tracer.active = traced
        if problems:
            failures.append({"op": op.name, "error": "; ".join(problems)[:2000]})

    from spans import Tracer

    tracer = Tracer()
    ops = wl.ops(inp, args.seed)
    if args.trace:
        import layers

        layers.install(tracer)
        tracer.active = True
    rounds: list[dict] = []
    outputs: dict = {}
    t_meas = time.perf_counter()
    while True:
        times = {}
        for op in ops:
            with tracer.span(f"op:{op.name}") if tracer.active else nullcontext():
                out, times[op.name] = attempt(op)
            check(op, out)
            outputs[op.name] = out
        spark.catalog.clearCache()
        rounds.append(times)
        tracer.active = False  # the per-layer metrics cover the first round
        if time.perf_counter() - t_meas >= args.seconds:
            break

    # The first round is timed cold, as a job submitted to a fresh session
    # runs: it pays for class loading, code generation and Python worker
    # start.  Its total was steadier across seeds than that of a round
    # after an untimed priming round, and priming would not fit the
    # benchmark's run budget.
    e2e = {"setup_s": statistics.median(setups), "total_s": sum(rounds[0].values())}

    extras = {}
    if args.trace and all(out is not None for out in outputs.values()):
        extras = wl.trace_extras(spark, inp, outputs)
    vmhwm = jvm_vmhwm_mb(spark)
    stop_spark(spark)

    env = environment(args.seed) | {
        "java": java, "loadavg_before": load0, "loadavg_after": loadavg(),
        "steal_before": steal0, "steal_after": cpu_steal(), "jvm_vmhwm_mb": vmhwm,
        "gen_s": gen_s,
    }
    record = {
        "workload": wl.name, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "e2e": e2e, "rounds": rounds, "setups": setups, "builds": builds, "warmups": warmups,
        "attempted": attempted, "failures": failures,
        "output_hashes": hashes,
        "iterations": {k: v.iterations for k, v in outputs.items() if hasattr(v, "iterations")},
        "env": env,
    }
    if args.trace:
        import layers
        from spans import EventLog

        session = {"first_setup_s": setups[0], "build_s": statistics.median(builds),
                   "warmup_s": statistics.median(warmups)}
        ev = EventLog(str(work / "events"))
        record["metrics"] = layers.metrics(tracer, ev, nproc(), extras, session, e2e, vmhwm)
        record["units"] = {m: layers.UNITS[m] for m in record["metrics"]}
    else:
        record["metrics"] = e2e
        record["units"] = {m: "s" for m in e2e}
    return record


def _hash_output(out) -> str:
    """Centroids bit for bit; tables by tools/compare.py's row-order-free
    hash of every cell at full precision."""
    from workloads import MllibFit, digest, rows_of, table_hash

    if isinstance(out, MllibFit):
        out = out.sizes
    if hasattr(out, "centroids"):
        return digest(out.centroids)
    return table_hash(*rows_of(out))


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "kmeans_mapreduce_spark" / "__init__.py").is_file():
        print(f"perfbench: no kmeans_mapreduce_spark package under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path[:0] = [str(HERE), str(ROOT)]
    import workloads

    wl = workloads.WORKLOADS[args.workload]
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    try:
        record = run(args, wl, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for f in record["failures"]:
        print(f"perfbench: FAILED {f['op']}: {f['error']}", file=sys.stderr)
    for m, v in record["metrics"].items():
        print(f"perfbench: {args.workload} {m} = {v:.6g} {record['units'][m]}", file=sys.stderr)
    if args.out:
        with open(args.out, "a") as fh:
            fh.write(json.dumps(record) + "\n")
    print(json.dumps({
        "correct": not record["failures"],
        "attempted": record["attempted"],
        "failed": len(record["failures"]),
        "metrics": {m: {"value": v, "unit": record["units"][m]} for m, v in record["metrics"].items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
