"""Benchmark of the engine's two user paths.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads:

- ``sync_resync``: nightly re-sync of the sync sites x {Patient, Condition,
  MedicationRequest, Observation} from a churned "next day" source against a
  stand-in FHIR store seeded with the converged state.
- ``catalog_heavy``: one analytics catalog entry per operator module the
  catalog layer names, no HTTP.

Each sync pass is what a site-sync operator runs: a paged snapshot read
(``sources.fhir.snapshot_via_http``), ``job.run_job`` without a writer (the
plan build), and ``load.http_writer.write_action_plan`` over the plan, which
runs the pipelines inside the writer's tasks. A catalog pass runs every
entry's ``plans.catalog()[name].spark`` and counts its rows.

Every pass is checked; failures count into ``failed``. The last stdout line
is one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``, the per-layer metrics of a
separate traced run with ``--trace 1``). Spans of traced runs are written to
``.bench_work/traces/``. Exits non-zero without a result line when the
engine is not importable.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import urllib.request  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# driver heap: enough for the inputs, small enough for a shared host
DRIVER_MEMORY = "2g"
# end-to-end metrics (reported with --trace 0) and their units
END_TO_END = {"run_s": "s", "writes_per_s": "1/s", "setup_s": "s"}


def load_config() -> dict:
    """Workload definitions and input sizes (``config.json``)."""
    with open(os.path.join(HERE, "config.json")) as f:
        return json.load(f)


def _timing_line(name: str, values: list[float]) -> str:
    """Median, and the highest percentile with at least ten samples above it."""
    vals, n = sorted(values), len(values)
    line = f"# {name}: median {statistics.median(vals):.4f} over n={n} passes ({', '.join(f'{v:.3f}' for v in values)})"
    if n < 11:
        return line + "; no percentile beyond the median has ten samples above it"
    return line + f"; p{100 * (n - 10) // n} {vals[n - 11]:.4f}"


class Store:
    """Client and process handle for ``store.py``."""

    def __init__(self) -> None:
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "store.py")],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        self.url = f"http://127.0.0.1:{int(self.proc.stdout.readline().split()[1])}"

    def admin(self, op: str, data: bytes | None = None):
        """GET ``/_admin/<op>``, or POST ``data`` to it."""
        req = urllib.request.Request(f"{self.url}/_admin/{op}", data=data)
        with urllib.request.urlopen(req, timeout=120) as resp:
            return json.loads(resp.read() or b"{}")

    def stats(self) -> dict:
        return self.admin("stats")

    def close(self) -> None:
        try:
            self.admin("shutdown")
        except Exception:  # noqa: BLE001 — fall through to terminate
            self.proc.terminate()
        self.proc.stdin.close()
        try:
            self.proc.wait(timeout=20)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
        self.proc.stdout.close()


def peak_rss_mib(spark) -> float:
    """High-water RSS of this Python process plus the driver JVM."""
    import resource

    py_kib = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kib = 0
    with open(f"/proc/{jvm_pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kib = int(line.split()[1])
    return (py_kib + jvm_kib) / 1024.0


def become_subreaper() -> None:
    """Make this process the parent of every orphaned descendant (Linux
    ``PR_SET_CHILD_SUBREAPER``), so :func:`reap_descendants` can wait for
    the Python workers the JVM forks even after the JVM is gone."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(36, 1, 0, 0, 0) != 0:  # PR_SET_CHILD_SUBREAPER
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def _children() -> list[int]:
    me, out = os.getpid(), []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            if int(stat.rsplit(")", 1)[1].split()[1]) == me:
                out.append(int(d))
    return out


def reap_descendants(grace_s: float = 30.0) -> None:
    """Wait until every process this one started, directly or not, has
    ended; after ``grace_s`` kill whatever is left."""
    deadline = time.time() + grace_s
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.time() > deadline:
            for child in _children():
                with contextlib.suppress(ProcessLookupError):
                    os.kill(child, signal.SIGKILL)
        time.sleep(0.05)


def stop_spark(spark) -> None:
    """Stop Spark and wait for its JVM to exit. ``spark.stop()`` alone
    leaves the JVM running until it reads the end of its standard input."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def start_spark(work: str):
    from cnics_to_fhir_spark.session import build_session

    cores = len(os.sched_getaffinity(0))  # nproc
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    # the Python workers import the engine from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("SPARK_DRIVER_MEM", DRIVER_MEMORY)
    tmp = os.path.join(work, "tmp")
    return build_session(
        "perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.local.dir": os.path.join(work, "local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        },
    )


def measure(spark, bench, seconds: float, trace: int, trace_path: str) -> dict:
    """Set up ``bench`` and make its timed passes; with ``trace``, split
    ``seconds`` between untraced passes and a separate traced run whose
    spans go to ``trace_path``. Returns the result object."""
    import workloads

    bench.setup()
    setup_s = time.time() - T_START
    timed = bench.run_passes(seconds / (2 if trace else 1), tracer=None)
    run_s, per_s = workloads.summary(timed)
    print(_timing_line("pass wall", [p["run_s"] for p in timed]))
    print(f"# setup_s: {setup_s:.4f}")
    if not trace:
        metrics = {"run_s": run_s, "writes_per_s": per_s, "setup_s": setup_s}
        units = END_TO_END
    else:
        from spans import Tracer

        tracer = Tracer(spark)
        traced = bench.run_passes(seconds / 2, tracer=tracer)
        metrics = bench.layer_metrics(traced, tracer)
        metrics["tracing_overhead_s"] = workloads.summary(traced)[0] - run_s
        metrics["failed_share"] = bench.failed / bench.attempted
        metrics["peak_rss_mib"] = peak_rss_mib(spark)
        units = workloads.per_layer_units(load_config()["workloads"]["catalog_heavy"]["entries"])
        os.makedirs(os.path.dirname(trace_path), exist_ok=True)
        tracer.dump(trace_path)
    print(f"# failed_share: {bench.failed / bench.attempted:.6f} ({bench.failed}/{bench.attempted})")
    return {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": metrics.get(k, 0.0), "unit": u} for k, u in units.items()},
    }


def main(argv: list[str] | None = None) -> int:
    config = load_config()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(config["workloads"]))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # SIGTERM unwinds through the finally below, which stops Spark and the
    # store and waits for every process they started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cfg = config["workloads"][args.workload]

    sys.path.insert(0, ROOT)
    try:
        import cnics_to_fhir_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    import workloads

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # every temporary file of this process, the JVM and the Python workers
    # stays inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    become_subreaper()
    spark = store = None
    try:
        spark = start_spark(work)
        print(f"# setup step spark session: {time.time() - T_START:.2f}s", flush=True)
        if cfg["kind"] == "sync":
            store = Store()
            bench = workloads.SyncBench(spark, store, work, args.seed, cfg)
        else:
            bench = workloads.CatalogBench(spark, work, cfg)  # the corpus is fixed; no seed
        trace_path = os.path.join(ROOT, ".bench_work", "traces", f"{args.workload}-seed{args.seed}.jsonl")
        result = measure(spark, bench, args.seconds, args.trace, trace_path)
    finally:
        try:
            if store is not None:
                store.close()
            if spark is not None:
                stop_spark(spark)
        finally:
            reap_descendants()
            shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
