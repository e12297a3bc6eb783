"""Measured streaming ingest throughput (VERDICT r7 item #4).

BASELINE.md derives the reference's ingest ceiling: ~1000 rec/s per
Kinesis shard, processed by a single-threaded Lambda row loop. This
tool MEASURES the repo's sustained parse->sink rate so the "the parser
scales it" claim carries a number instead of an argument:

- synthesize wire-format TSV files from the sf0.1 events table (the
  exact 40-field lines cf_parse_wire_roundtrip round-trips), split into
  ``--files`` text files with ASCENDING mtimes (the file source orders
  by mtime; same-tick ties replay out of order -- measurement-hygiene
  memory), plus a 10x corpus from the scale-sweep events when present;
- run the production path ``stream_log_lines`` (readStream text ->
  parse_log_lines) into the production exactly-once partitioned parquet
  sink (``write_partitioned_parquet`` itself, its trigger overridden to
  availableNow so the run drains the backlog and terminates), and into
  flat parquet for the parse-limited rate;
- report total records / wall seconds, min wall across ``--runs``
  (same min-of-N + load-gate discipline as bench.py).

The wall time INCLUDES session-fixed costs (stream startup, checkpoint
commits, parquet footer writes), so the rec/s printed is a LOWER bound
on sustained throughput -- conservative in the right direction for a
comparison against the reference ceiling.

Usage: python tools/measure_stream_throughput.py [--files 32] [--runs 3]
Prints a markdown table + one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))
sys.path.insert(0, str(REPO / "tools"))  # for the scale_sweep builder

from aws_cloudfront_realtime_monitoring_spark.session import get_spark
from aws_cloudfront_realtime_monitoring_spark.sources.tables import load_table


# the ONE load-gate implementation lives in bench.py; duplicating it
# forked the constants once already (r8 review)
from bench import _wait_for_quiet_box  # noqa: E402


def build_replay_dir(spark, sf_dir: str, out_dir: str, n_files: int) -> int:
    """Write the synthesized wire lines as ``n_files`` text files with
    strictly ascending mtimes; returns the line count."""
    from aws_cloudfront_realtime_monitoring_spark.plans.core import _synth_wire_lines

    events = load_table(spark, sf_dir, "events")
    lines = _synth_wire_lines(events)
    staging = out_dir + ".staging"
    lines.repartition(n_files).write.mode("overwrite").text(staging)
    os.makedirs(out_dir, exist_ok=True)
    n = 0
    parts = sorted(Path(staging).glob("part-*.txt"))
    base = time.time() - len(parts) - 10
    for i, p in enumerate(parts):
        dst = os.path.join(out_dir, f"replay-{i:05d}.txt")
        shutil.move(str(p), dst)
        os.utime(dst, (base + i, base + i))  # pin replay order
        with open(dst, "rb") as f:
            n += sum(1 for _ in f)
    shutil.rmtree(staging)
    return n


def timed_drain(spark, replay_dir: str, work: str,
                partitioned: bool) -> tuple[float, int]:
    """One full parse->parquet drain of the replay dir via the
    production availableNow path; returns (wall seconds, rows sunk).

    ``partitioned=True`` runs the production sink,
    ``write_partitioned_parquet``: the D6 layout (event_date /
    event_hour), rows clustered on the partition keys so each batch
    writes one file per hour it touches. ``partitioned=False`` sinks
    flat parquet: the parse-limited rate."""
    from aws_cloudfront_realtime_monitoring_spark.streaming.ingest import (
        stream_log_lines,
        write_partitioned_parquet,
    )

    parsed = stream_log_lines(spark, replay_dir, max_files_per_trigger=None)
    out = os.path.join(work, "sink")
    ckpt = os.path.join(work, "ckpt")
    t0 = time.time()
    if partitioned:
        writer = write_partitioned_parquet(parsed, out, ckpt)
    else:
        writer = (
            parsed.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
        )
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination()
    wall = time.time() - t0
    n_sunk = spark.read.parquet(out).count()
    shutil.rmtree(work)
    return wall, n_sunk


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--files", type=int, default=32)
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--copies", type=int, default=10,
                    help="salted-copy count for the scaled corpus "
                         "(10 = ~sf1, the BASELINE.md row; 100 = ~sf10, "
                         "the r11 second-decade cell)")
    args = ap.parse_args()

    load, still_loaded = _wait_for_quiet_box()
    print(f"# start load: {load:.2f} (flagged: {still_loaded})", file=sys.stderr)
    spark = get_spark("stream_throughput")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    corpora = [("sf0.1", "/root/testdata/sf0.1")]
    # the scaled corpus comes from the sweep BUILDER, whose source-stat
    # stamps rebuild it when testdata regenerated -- a bare _SUCCESS
    # check would silently measure last round's stale corpus (r8 review)
    from scale_sweep import build_scaled_events_orders

    corpora.append(
        (f"~sf{args.copies / 10:g}",
         build_scaled_events_orders(spark, "/root/testdata/sf0.1",
                                    args.copies, tables=("events",)))
    )

    results = {}
    tmp_root = tempfile.mkdtemp(prefix="stream_tp_")
    try:
        for label, sf_dir in corpora:
            replay = os.path.join(tmp_root, f"replay_{label.replace('~', 'x')}")
            n = build_replay_dir(spark, sf_dir, replay, args.files)
            # one UNTIMED drain first: the replay text was just written,
            # so the first mode measured would otherwise pay the cold
            # page-cache read of the whole corpus (r11: the ~sf10 flat
            # cell measured 2x slower than the partitioned cell that ran
            # after it on a warm cache) -- bench.py's warm-up discipline
            warm = os.path.join(tmp_root, f"warm_{label.replace('~', 'x')}")
            timed_drain(spark, replay, warm, False)
            for mode, partitioned in (("flat", False), ("partitioned", True)):
                walls = []
                for r in range(args.runs):
                    work = os.path.join(
                        tmp_root, f"work_{label.replace('~', 'x')}_{mode}_{r}"
                    )
                    wall, n_sunk = timed_drain(spark, replay, work, partitioned)
                    assert n_sunk == n, f"sink lost rows: {n_sunk} != {n}"
                    walls.append(wall)
                    print(f"# {label}/{mode}: {n} rec in {wall:.2f}s "
                          f"({n / wall:,.0f} rec/s)", file=sys.stderr)
                best = min(walls)
                results[f"{label}/{mode}"] = {
                    "records": n,
                    "wall_s": round(best, 3),
                    "rec_per_s": round(n / best),
                    "rec_per_s_per_core": round(n / best / cpus, 1),
                }
    finally:
        shutil.rmtree(tmp_root, ignore_errors=True)

    print("| Corpus / sink | Records | Wall (min of "
          f"{args.runs}) | rec/s | rec/s/core | x reference ceiling |")
    print("|---|---|---|---|---|---|")
    for label, r in results.items():
        print(f"| {label} | {r['records']:,} | {r['wall_s']:.2f} s "
              f"| {r['rec_per_s']:,} | {r['rec_per_s_per_core']:,} "
              f"| {r['rec_per_s'] / 1000:,.0f}x |")
    print(json.dumps({"stream_throughput": results, "cpus": cpus,
                      "reference_ceiling_rec_s": 1000}))


if __name__ == "__main__":
    main()
