"""Benchmark entry point: one workload, one seed, in this fresh process.

    python3 benchmark/run.py --workload {build,serve,curate} --seed N \
        --seconds S --trace {0,1}

Run from the root of a checkout.  All scratch files live under
``.bench_work/`` in the checkout and are removed at exit; the detail record
and, with ``--trace 1``, the span dump are written to ``.bench_out/``.  The
last line of stdout is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with every end-to-end metric of BENCHMARK.json (``--trace 0``) or every
per-layer metric (``--trace 1``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import time
import traceback
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=("build", "serve", "curate"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def host_memory_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def cpu_times() -> list[int]:
    """The host's summed CPU times from /proc/stat (user ... steal)."""
    with open("/proc/stat") as fh:
        return [int(v) for v in fh.readline().split()[1:9]]


def configure_env(work: str) -> dict:
    """Sizes Spark for the host it runs on and keeps every scratch file in ``work``.
    Must run before pyspark starts the JVM."""
    cpus = len(os.sched_getaffinity(0))
    # local mode runs tasks in the driver JVM.  An eighth of RAM, at most
    # 2 GB, leaves room for the Python workers and the other processes on
    # the host.  The heap is committed and touched at start (-Xms = -Xmx,
    # AlwaysPreTouch): otherwise the JVM's RSS follows how far the collector
    # happened to grow the heap, which moved peak RSS by 15% between runs
    mem_mb = max(1024, min(2048, host_memory_mb() // 8))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": f"{mem_mb}m",
        "SPARK_EXECUTOR_MEMORY": f"{mem_mb}m",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "SPARK_SUBMIT_OPTS": " ".join(
            o
            for o in (os.environ.get("SPARK_SUBMIT_OPTS"), f"-Djava.io.tmpdir={tmp}", f"-Xms{mem_mb}m", "-XX:+AlwaysPreTouch")
            if o
        ),
    }
    os.environ.update(env)
    tempfile.tempdir = tmp
    return {"nproc": cpus, "host_memory_mb": host_memory_mb(), "spark_memory_mb": mem_mb}


def start_spark(work: str):
    from searchengine_spark import session

    def package_zip() -> str:
        # same archive session.package_zip builds, but inside the work dir
        pkg = os.path.join(ROOT, "searchengine_spark")
        out = os.path.join(work, "searchengine_spark_pkg.zip")
        with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as zf:
            for dirpath, _, names in os.walk(pkg):
                for n in names:
                    if n.endswith(".py"):
                        full = os.path.join(dirpath, n)
                        zf.write(full, os.path.relpath(full, ROOT))
        return out

    session.package_zip = package_zip
    return session.get_spark("benchmark")


def stop_spark(spark) -> None:
    """Stops the context, then the JVM (it exits when its stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def reap_children(timeout_s: float = 30) -> None:
    from benchmark.observe import descendants

    me = os.getpid()
    deadline = time.monotonic() + timeout_s
    while descendants(me) and time.monotonic() < deadline:
        time.sleep(0.1)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        kids = descendants(me)
        if not kids:
            return
        for pid in kids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(1)
    for pid in descendants(me):
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass


class Capture:
    """Sends fd 1 and fd 2 (inherited by the JVM and its workers) to files,
    so the result stays the last stdout line whatever they print."""

    def __init__(self, work: str):
        self.paths = {fd: os.path.join(work, f"fd{fd}.log") for fd in (1, 2)}
        self.saved: dict[int, int] = {}

    def __enter__(self) -> "Capture":
        sys.stdout.flush()
        sys.stderr.flush()
        for fd, path in self.paths.items():
            self.saved[fd] = os.dup(fd)
            f = os.open(path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
            os.dup2(f, fd)
            os.close(f)
        return self

    def __exit__(self, *exc) -> None:
        sys.stdout.flush()
        sys.stderr.flush()
        for fd, saved in self.saved.items():
            os.dup2(saved, fd)
            os.close(saved)

    def text(self, fd: int) -> str:
        with open(self.paths[fd], "rb") as fh:
            return fh.read().decode(errors="replace")


def declared_metrics(trace: int) -> dict[str, str]:
    """Metric name -> unit, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    # a kill still stops Spark and removes the work directory (finally blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "searchengine_spark")):
        print(f"benchmark: no searchengine_spark/ package under {ROOT}", file=sys.stderr)
        return 2
    declared = declared_metrics(args.trace)
    sys.path.insert(0, ROOT)
    from benchmark import workloads
    from benchmark.observe import RssSampler

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".bench_out")
    os.makedirs(work)
    os.makedirs(out_dir, exist_ok=True)
    cpu0 = cpu_times()
    error = None
    run = None
    metrics: dict = {}
    try:
        host = configure_env(work)
        with Capture(work) as cap:
            try:
                with RssSampler() as rss:
                    t0 = time.perf_counter()
                    spark = start_spark(work)
                    spark_start_s = time.perf_counter() - t0
                    try:
                        run = workloads.Run(spark, work, args.seed, args.seconds, bool(args.trace))
                        metrics = workloads.WORKLOADS[args.workload](run)
                    finally:
                        stop_spark(spark)
            except Exception:
                error = traceback.format_exc()
        stderr = cap.text(2)
        reap_children()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if error is not None:
        sys.stderr.write(stderr[-20000:] + "\n" + error)
        return 1

    cpu = [b - a for a, b in zip(cpu0, cpu_times())]
    codegen_errors = stderr.count("ERROR CodeGenerator")
    # an expression that fails to compile falls back to interpreted
    # evaluation, silently ~10x slower: the run does not count
    run.check("stderr", f"{codegen_errors} 'ERROR CodeGenerator' lines" if codegen_errors else None)
    warning_lines = sum(1 for line in stderr.splitlines() if "Warning" in line or " WARN " in line)
    if args.trace:
        metrics = {**run.layer, **workloads.trace_metrics(run)}
    else:
        metrics["peak_rss_mb"] = rss.peak / 2**20
    if set(metrics) != set(declared):
        raise RuntimeError(f"metrics {sorted(set(metrics) ^ set(declared))} differ from BENCHMARK.json")

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    detail = {
        "workload": args.workload,
        **run.detail,
        **host,
        "spark_start_s": spark_start_s,
        "peak_rss_mb": rss.peak / 2**20,
        # CPU taken by other machines on this host's cores during the run:
        # runs with more steal read slower
        "cpu_steal_share": cpu[7] / max(1, sum(cpu)),
        "stderr_warning_lines": warning_lines,
        "stderr_codegen_errors": codegen_errors,
        "faults": run.faults,
    }
    if args.trace:
        detail["trace_overhead_share"] = metrics["trace.overhead_share"]
        run.tracer.dump(os.path.join(out_dir, f"{tag}-spans.jsonl"))
    with open(os.path.join(out_dir, f"{tag}-detail.json"), "w") as fh:
        json.dump(detail, fh, indent=1, default=str)
    if run.failed:
        sys.stderr.write("benchmark: failed checks:\n  " + "\n  ".join(run.faults) + "\n")
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {name: {"value": metrics[name], "unit": declared[name]} for name in declared},
    }
    print("detail " + json.dumps(detail, default=str))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
