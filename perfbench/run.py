"""Benchmark runner: one workload, one seed, one run.

    python3 perfbench/run.py --workload queries --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The runner builds its inputs from the
seed (cached under ``perfbench/_work/fixtures`` behind a completion
marker keyed by the generator arguments), drives the workload through
the engine's public entry points, checks every output, and prints as
its last line one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
BENCHMARK.json; with ``--trace 1`` the per-layer metrics, and the spans
are written to ``perfbench/_work/results/<workload>-seed<N>-spans.json``.
The line before it is the capture stamp and every metric of the run.

Everything the run writes stays under ``perfbench/_work``; the run's own
directory (Spark local dirs, warehouse, checkpoint, streaming tables,
temp files) is deleted when it ends.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")

#: A run whose 1-minute load average at start exceeds this many times
#: the CPU count is stamped ``loaded``.
LOADED_PER_CPU = 1.0
#: Fixture directories kept in the cache (oldest evicted first).
FIXTURES_KEPT = 8


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _configure(run_dir: str, cpus: int, driver_mem: str) -> None:
    """Point every scratch location of Spark, the JVM and Python at the
    run directory, before pyspark is imported."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(run_dir, "warehouse")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_mem
    # every JVM of the run (spark-submit's launcher too): temp files in
    # the run directory, no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = "--conf spark.ui.showConsoleProgress=false pyspark-shell"


def _evict_stale(work: str) -> None:
    """Remove run directories of processes that no longer exist, and the
    oldest fixture directories beyond FIXTURES_KEPT."""
    for d in os.listdir(work):
        if d.startswith("run-"):
            try:
                os.kill(int(d[4:]), 0)
            except (ValueError, ProcessLookupError):
                shutil.rmtree(os.path.join(work, d), ignore_errors=True)
            except PermissionError:
                pass
    fx = os.path.join(work, "fixtures")
    dirs = sorted((os.path.getmtime(os.path.join(fx, d)), d) for d in os.listdir(fx))
    for _, d in dirs[:max(0, len(dirs) - FIXTURES_KEPT)]:
        shutil.rmtree(os.path.join(fx, d), ignore_errors=True)


def _stop_jvm() -> None:
    """Close the py4j gateway and wait until the JVM has exited: it exits
    when its stdin pipe closes, and its Python workers exit with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def _cpu_times() -> tuple[int, int] | None:
    """(steal, total) CPU ticks of the host since boot, or None off Linux."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return None
    return ticks[7], sum(ticks)


def _git_head(root: str) -> str | None:
    try:
        with open(os.path.join(root, ".git", "HEAD")) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(root, ".git", ref[5:])) as f:
                return f.read().strip()
        return ref
    except OSError:
        return None


def main(argv=None) -> int:
    args = parse_args(argv)
    for sub in ("fixtures", "results"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    _evict_stale(WORK)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(run_dir)
    try:
        sys.path.insert(0, ROOT)
        sys.path.insert(0, HERE)
        import workloads

        if args.workload not in workloads.WORKLOADS:
            raise SystemExit(f"unknown workload {args.workload!r}; "
                             f"expected one of {sorted(workloads.WORKLOADS)}")
        _configure(run_dir, workloads.CPUS, workloads.DRIVER_MEM)
        import mr_py_spark  # noqa: F401  (fail before generating inputs)
        load_start, cpu_start = os.getloadavg(), _cpu_times()
        run = workloads.Run(args, run_dir, os.path.join(WORK, "fixtures"), T_START)
        try:
            workloads.WORKLOADS[args.workload](run)
        finally:
            _stop_jvm()
        load_end, cpu_end = os.getloadavg(), _cpu_times()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    base = os.path.join(WORK, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}")
    stamp = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "git_head": _git_head(ROOT),
        "cpus": workloads.CPUS, "nproc": os.cpu_count(),
        "driver_mem": workloads.DRIVER_MEM, "generator": run.info.pop("generator", None),
        "loadavg": {"start": list(load_start), "end": list(load_end)},
        "loaded_threshold": LOADED_PER_CPU * workloads.CPUS,
        "loaded": load_start[0] > LOADED_PER_CPU * workloads.CPUS,
        # share of CPU time the hypervisor gave to other guests during the run
        "cpu_steal_frac": (None if not (cpu_start and cpu_end)
                           else (cpu_end[0] - cpu_start[0]) / max(1, cpu_end[1] - cpu_start[1])),
        "gen_s": run.gen_s, "wall_s": time.perf_counter() - T_START,
        "failures": run.failures,
        "end_to_end": run.e2e, "per_layer": run.layer, **run.info,
    }
    if args.trace:
        run.tracer.write(base + "-spans.json")
        stamp["spans_file"] = os.path.relpath(base + "-spans.json", ROOT)
    with open(base + ".json", "w") as f:
        json.dump(stamp, f, indent=1)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    chosen = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = run.layer if args.trace else run.e2e
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in chosen}
    print(json.dumps(stamp))
    print(json.dumps({"correct": not run.failures, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
