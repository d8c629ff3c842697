"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One run is one fresh process with one
Spark session, so every run starts with no cached storage. Set-up
(session start, C-kernel load, one discarded operation of the timed
size on the next seed's inputs, and input generation) is timed as
`setup_s`. The discarded operation warms what `session.warm_up` would
(Python workers, shuffle and Arrow buffers) with the real kernels, and
also the JIT and codegen of the timed operation's own plans.
The timed loop then runs operations until `--seconds` have passed
(at least one). With `--trace 1` the timed loop runs under the
benchmark-side tracer and the run reports per-layer metrics instead of
end-to-end ones, and writes its spans to `.perfbench/out/`.

Everything the run writes stays under `.perfbench/` in the working
directory. The last line of standard output is the result object; the
line before it is a report with host sizing and timing detail.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import sys
import time
import traceback
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))

CORES = 4                 # the host size the benchmark is written for
DRIVER_MEM = "4g"         # local mode: the driver heap is the whole executor
DEADLINE_S = 170          # a run must end within 180 s


def metric_names(kind: str) -> list[tuple[str, str]]:
    """(name, unit) of every metric of one kind in BENCHMARK.json."""
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        return [(m["name"], m["unit"]) for m in json.load(f)[kind]]


def host_env(root: str) -> dict:
    """Size the run to this host and keep every file it writes inside
    `root/.perfbench`. Must run before pyspark starts a JVM."""
    work = os.path.join(root, ".perfbench")
    tmp, local, out = (os.path.join(work, d) for d in ("tmp", "spark-local", "out"))
    for d in (tmp, local, out):
        os.makedirs(d, exist_ok=True)
    nproc = len(os.sched_getaffinity(0))
    # One core stays free for the driver JVM's JIT and GC threads and the
    # Python driver: on a 4-core host a near-dup pass took 7.7 s with 3
    # task threads against 8.9 s with 4 (median of five seeds each), and
    # a resolve took the same time.
    cores = max(1, min(CORES, nproc) - 1)
    os.environ.update({
        "TMPDIR": tmp,  # C-kernel cache and pyspark's own temp files
        "SPARK_LOCAL_DIRS": local,
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        # the launcher JVM would otherwise write /tmp/hsperfdata_<user>
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "SPARK_GRAFT_CPUS": str(cores),
        # Python workers import the package from the checkout
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p),
    })
    return {"nproc": nproc, "cores": cores, "driver_mem": DRIVER_MEM,
            "spark_local_dirs": local, "tmpdir": tmp, "out_dir": out,
            "load_generators": 1}


def start_spark(env: dict):
    from entity_resolver_spark.session import get_spark

    return get_spark(
        app_name="perfbench", cores=env["cores"],
        extra_conf={
            # -UsePerfData: as for the launcher JVM. The whole heap is
            # committed and touched at start, so first-touch page faults
            # fall in set-up instead of in whichever operation grows it.
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={env['tmpdir']} -XX:-UsePerfData"
                f" -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch",
            "spark.ui.showConsoleProgress": "false",
            # keep every job and stage for the per-layer read-back
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def held_storage(spark) -> tuple[float, int]:
    """(MB in memory plus on disk, number of RDDs) the session holds."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    mb = sum(i.memSize() + i.diskSize() for i in infos) / (1024.0 * 1024.0)
    return mb, len(infos)


def drop_storage(spark) -> None:
    """Unpersist every RDD the session holds (checkpoints included)."""
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    for rdd in list(rdds.values()):
        rdd.unpersist(True)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def cpu_ticks() -> tuple[int, int] | None:
    """(stolen, total) CPU ticks of the host so far, where /proc/stat
    exists. Steal is time this machine's virtual CPUs were ready to run
    but its hypervisor ran something else."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(v) for v in f.readline().split()[1:]]
    except OSError:
        return None
    return ticks[7], sum(ticks)


def percentile_report(samples: list[float]) -> dict:
    """Median, plus the highest percentile that still has at least ten
    samples beyond it (None when there are too few samples)."""
    n = len(samples)
    s = sorted(samples)
    high = None
    for pct in (99.9, 99, 95, 90, 75, 50):
        if n * (100 - pct) / 100 >= 10:
            high = {"pct": pct, "value": s[min(n - 1, int(n * pct / 100))]}
            break
    return {"p50": statistics.median(s), "high": high, "n": n, "samples": samples}


def run(args) -> int:
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "entity_resolver_spark", "__init__.py")):
        print(f"perfbench: no entity_resolver_spark package under {root}; "
              "run from the repository root", file=sys.stderr)
        return 2
    t_setup = time.perf_counter()
    env = host_env(root)
    sys.path.insert(0, root)
    sys.path.insert(0, HERE)

    from entity_resolver_spark.functions import ckernels
    import workloads

    sizes = workloads.TINY if args.tiny else workloads.FULL
    parts = {}
    mark = time.perf_counter()

    def lap(name):
        nonlocal mark
        now = time.perf_counter()
        parts[name] = now - mark
        mark = now

    spark = start_spark(env)
    try:
        lap("session_s")
        compiled = not os.path.exists(ckernels._so_path())
        ckernels.load_lib()
        lap("c_kernels_s")
        make = workloads.WORKLOADS[args.workload]
        # discarded operation, the timed one's size on the next seed's
        # inputs: JIT, codegen and worker memory
        discard = make(spark, args.seed + 1, sizes)
        discard.setup()
        discard.step()
        drop_storage(spark)  # timing starts from a session holding nothing
        lap("discarded_op_s")
        wl = make(spark, args.seed, sizes)
        wl.setup()
        lap("inputs_s")
        setup_s = time.perf_counter() - t_setup

        tracer = None
        if args.trace:
            from layertrace import Tracer

            tracer = Tracer(spark, f"{args.workload}-{args.seed}")
            tracer.install()
        samples, attempted, failed, turns = [], 0, 0, 0
        ticks = cpu_ticks()
        t_loop = time.perf_counter()
        while not attempted or time.perf_counter() - t_loop < args.seconds:
            t0 = time.perf_counter()
            try:
                with tracer.span(f"op:{args.workload}") if tracer else nullcontext():
                    step = wl.step()
            except Exception:
                traceback.print_exc(file=sys.stderr)
                attempted, failed = attempted + 1, failed + 1
                continue
            finally:
                if tracer is not None:
                    tracer.stop()  # time between operations belongs to no layer
            samples.append(time.perf_counter() - t0)
            attempted += step.attempted
            failed += step.failed
            turns += step.turns
        if tracer is not None:
            tracer.uninstall()
        if not samples:
            raise RuntimeError(f"all {attempted} operations failed")
        busy = sum(samples)
        if ticks is not None:
            stolen, total = (b - a for a, b in zip(ticks, cpu_ticks()))
            env["steal_pct_timed"] = 100.0 * stolen / max(total, 1)
        storage_mb, storage_rdds = held_storage(spark)
        quality = wl.quality()

        report = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "host": env, "c_kernel_compiled_in_setup": compiled, "setup_parts": parts,
            "op_wall_s": percentile_report(samples),
            "held_storage_mb": storage_mb, "held_rdds": storage_rdds,
        }
        if tracer is None:
            values = {
                "setup_s": setup_s,
                "turns_per_s": turns / busy,
                "pairwise_f1": quality["pairwise_f1"],
                "batch_p50_s": statistics.median(samples),
                "assign_recall": quality["assign_recall"],
            }
            names = metric_names("end_to_end")
        else:
            from layertrace import layer_metrics

            values = layer_metrics(spark, tracer, wl, samples, storage_mb, storage_rdds)
            path = os.path.join(env["out_dir"], f"spans-{args.workload}-{args.seed}.json")
            tracer.dump(path)
            report["spans"] = os.path.relpath(path, root)
            names = metric_names("per_layer")
        print(json.dumps(report))
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {n: {"value": float(values.get(n, 0.0)), "unit": u} for n, u in names},
        }))
        return 0
    finally:
        stop_spark(spark)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["neardup_docs", "resolve_mixed"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="smallest inputs, for the benchmark's own smoke tests")
    args = ap.parse_args()

    def on_deadline(signum, frame):
        raise TimeoutError(f"run exceeded {DEADLINE_S} s")

    def on_term(signum, frame):
        raise SystemExit(128 + signum)  # unwinds through stop_spark

    signal.signal(signal.SIGALRM, on_deadline)
    signal.signal(signal.SIGTERM, on_term)
    signal.alarm(DEADLINE_S)
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
