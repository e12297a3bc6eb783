"""CloudFront pipeline benchmark: ingest throughput, dashboard freshness and
panel latency, with per-layer traces.

Usage (from the repository root):

    python3 cfbench/run.py --workload ingest_backfill --seed 1 --seconds 10 --trace 0

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
A line starting ``# run:`` before it describes the host, versions and
inputs. Work files go to ``.cfbench_work/`` and span dumps to
``.cfbench_out/`` in the current directory.
"""

from __future__ import annotations

PROCESS_START = __import__("time").time()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import time  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

#: units of every metric the benchmark emits; BENCHMARK.json lists the same
END_TO_END = {
    "setup_s": "s",
    "ingest_rec_per_s": "rec/s",
    "freshness_p50_s": "s",
    "freshness_p99_s": "s",
    "panel_latency_p50_s": "s",
}

#: per-layer metric -> (unit, the end-to-end metric it should move)
PER_LAYER = {
    "session.get_spark_s": ("s", "setup_s"),
    "sources.cf_logs.build_s": ("s", "ingest_rec_per_s"),
    "sources.cf_logs.read_s": ("s", "ingest_rec_per_s"),
    "sources.cf_logs.parse_s": ("s", "ingest_rec_per_s"),
    "sources.cf_logs.lines_in": ("count", "ingest_rec_per_s"),
    "sources.cf_logs.null_ts_lines": ("count", "ingest_rec_per_s"),
    "sources.cf_logs.clean_ratio": ("ratio", "ingest_rec_per_s"),
    "streaming.ingest.batches": ("count", "freshness_p50_s"),
    "streaming.ingest.batch_s_p50": ("s", "freshness_p50_s"),
    "streaming.ingest.batch_s_max": ("s", "freshness_p99_s"),
    "streaming.ingest.add_batch_s": ("s", "ingest_rec_per_s"),
    "streaming.ingest.planning_s": ("s", "freshness_p50_s"),
    "streaming.ingest.offsets_s": ("s", "freshness_p50_s"),
    "streaming.ingest.commit_s": ("s", "freshness_p50_s"),
    "streaming.ingest.state_rows": ("count", "ingest_rec_per_s"),
    "streaming.ingest.state_mem_B": ("B", "ingest_rec_per_s"),
    "streaming.ingest.late_rows_dropped": ("count", "ingest_rec_per_s"),
    "streaming.ingest.dedup_ratio": ("ratio", "ingest_rec_per_s"),
    "streaming.ingest.sink_files": ("count", "panel_latency_p50_s"),
    "streaming.ingest.records_per_file": ("count", "panel_latency_p50_s"),
    "streaming.ingest.sink_B_per_record": ("B", "panel_latency_p50_s"),
    "streaming.ingest.executor_run_s": ("s", "ingest_rec_per_s"),
    "streaming.ingest.gc_s": ("s", "ingest_rec_per_s"),
    "streaming.ingest.shuffle_write_B": ("B", "ingest_rec_per_s"),
    "streaming.ingest.spill_B": ("B", "ingest_rec_per_s"),
    "functions.timestream.q1_build_s": ("s", "panel_latency_p50_s"),
    "functions.timestream.q2_build_s": ("s", "panel_latency_p50_s"),
    "functions.timestream.q1_exec_s": ("s", "panel_latency_p50_s"),
    "functions.timestream.q2_exec_s": ("s", "panel_latency_p50_s"),
    "functions.timestream.q1_input_B": ("B", "panel_latency_p50_s"),
    "functions.timestream.q2_input_B": ("B", "panel_latency_p50_s"),
    "functions.timestream.q1_tasks": ("count", "panel_latency_p50_s"),
    "functions.timestream.q2_tasks": ("count", "panel_latency_p50_s"),
    "functions.timestream.wait_s": ("s", "panel_latency_p50_s"),
    # the counter reads a traced run adds between its timed operations
    "trace.overhead_s": ("s", "none: trace-only counter reads"),
}


def host() -> dict:
    """Cores as ``nproc`` counts them and the memory the host has."""
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f
                      if line.startswith("MemTotal:"))
    cores = len(os.sched_getaffinity(0))
    # a sixth of the host for the driver heap, between 1 and 4 GiB: the
    # session's 48g default assumes a much larger host
    heap_mb = max(1024, min(4096, mem_kb // 1024 // 6))
    return {"cores": cores, "mem_mb": mem_kb // 1024, "heap_mb": heap_mb}


def peak_rss_mb() -> float:
    """Peak resident memory of this process plus that of the JVM it
    launched, read once when the run ends (Python workers not counted)."""
    import resource

    from pyspark import SparkContext

    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        with open(f"/proc/{proc.pid}/status") as f:
            kb += next(int(line.split()[1]) for line in f
                       if line.startswith("VmHWM:"))
    return round(kb / 1024, 1)


def definitions_sha() -> str:
    """Hash of the workload definitions and constants: the benchmark's
    own sources and BENCHMARK.json."""
    h = hashlib.sha256()
    for p in sorted(HERE.glob("*.py")) + [ROOT / "BENCHMARK.json"]:
        if p.exists():
            h.update(p.name.encode() + p.read_bytes())
    return h.hexdigest()[:16]


def program_id() -> dict:
    """The commit when the checkout is a git repository, and a hash of the
    package sources either way."""
    h = hashlib.sha256()
    pkg = ROOT / "aws_cloudfront_realtime_monitoring_spark"
    for p in sorted(pkg.rglob("*.py")):
        h.update(str(p.relative_to(ROOT)).encode() + p.read_bytes())
    commit = None
    if (ROOT / ".git").exists():
        out = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                             capture_output=True, text=True)
        commit = out.stdout.strip() or None
    return {"commit": commit, "package_sha": h.hexdigest()[:16]}


class Run:
    """State of one benchmark run, passed to the workload."""

    def __init__(self, args, work: Path):
        from tracing import Tracer

        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.work = work
        self.tracer = Tracer(f"{args.workload}-{args.seed}-{os.getpid()}",
                             args.trace == 1)
        self.host = host()
        self.spark = None
        self.gen_s = 0.0
        self.setup_s = None
        self.timed_start = None
        self.timed_s = None
        self.sink_rows = 0
        self.panels: list[dict] = []
        self.metrics: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.info: dict = {}
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def path(self, *parts: str) -> str:
        return str(self.work.joinpath(*parts))

    def start_spark(self) -> None:
        from aws_cloudfront_realtime_monitoring_spark.session import get_spark

        t0 = time.perf_counter()
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark(
                "cfbench", cpus=self.host["cores"], extra_conf={
                    "spark.driver.memory": f"{self.host['heap_mb']}m",
                    "spark.local.dir": self.path("spark-local"),
                    "spark.sql.warehouse.dir": self.path("warehouse"),
                    "spark.driver.extraJavaOptions":
                        f"-XX:-UsePerfData -Djava.io.tmpdir={self.path('tmp')}",
                })
        self.layers["session.get_spark_s"] = time.perf_counter() - t0
        sys.path.insert(0, str(ROOT))
        import __spark_entry__

        __spark_entry__._ship_package(self.spark)

    def setup_done(self) -> None:
        self.timed_start = time.time()
        self.setup_s = self.timed_start - PROCESS_START - self.gen_s

    def timed_end(self) -> None:
        self.timed_s = time.time() - self.timed_start

    def check(self, what: str, ok: bool, attempted: int,
              failed: int | None = None) -> None:
        """Count ``attempted`` operations and the ones that failed."""
        self.attempted += attempted
        bad = (0 if ok else max(attempted, 1)) if failed is None else failed
        self.failed += bad
        if bad:
            self.failures.append(what)

    def sink_files(self, sink: str) -> list[str]:
        """The files a Spark read of the sink sees (its committed files)."""
        return sorted(f.removeprefix("file://")
                      for f in self.spark.read.parquet(sink).inputFiles())

    def panel_metrics(self) -> None:
        import statistics

        lat = [p["end"] - p["start"] for p in self.panels if p["timed"]]
        self.metrics["panel_latency_p50_s"] = statistics.median(lat)
        # too few panels for a steady p90: recorded, not a bounded metric
        self.info["panel_latency_p90_s"] = statistics.quantiles(
            lat, n=10, method="inclusive")[8]
        self.info["panels"] = len(lat)
        self.info["panel_s"] = [round(x, 3) for x in lat]


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    for q in spark.streams.active:
        q.stop()
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["ingest_backfill", "live_dashboard"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "aws_cloudfront_realtime_monitoring_spark").is_dir():
        print(f"cfbench: the package is not in {ROOT}; run from a checkout "
              "of the repository", file=sys.stderr)
        return 2
    cwd = Path.cwd()
    work = cwd / ".cfbench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    # keep every temp file (py4j, the package zip, the JVM) in the work dir
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["TZ"] = "UTC"
    time.tzset()
    sys.path[:0] = [str(HERE), str(ROOT)]

    import workloads

    run = Run(args, work)
    try:
        getattr(workloads, args.workload)(run)
        run.metrics["setup_s"] = run.setup_s
        run.layers["trace.overhead_s"] = run.tracer.read_s
        info = {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace, **run.host,
            "pyspark": __import__("pyspark").__version__,
            "java": run.spark._jvm.System.getProperty("java.version"),
            **program_id(), "definitions_sha": definitions_sha(),
            "gen_s": round(run.gen_s, 3), "timed_s": round(run.timed_s, 3),
            "total_s": round(time.time() - PROCESS_START, 3),
            "peak_rss_mb": peak_rss_mb(),
            "failures": run.failures, **run.info,
        }
        if args.trace:
            info["moves"] = {k: v[1] for k, v in PER_LAYER.items()}
            run.tracer.write(str(
                cwd / ".cfbench_out" / f"spans-{run.tracer.run_id}.json"))
    finally:
        if run.spark is not None:
            stop_spark(run.spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            (cwd / ".cfbench_work").rmdir()
        except OSError:
            pass
    if args.trace:
        metrics = {k: {"value": run.layers[k], "unit": u}
                   for k, (u, _) in PER_LAYER.items()}
    else:
        metrics = {k: {"value": run.metrics[k], "unit": u}
                   for k, u in END_TO_END.items()}
    print("# run: " + json.dumps(info, default=str))
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
