"""The benchmark's workloads. Each takes a ``Run`` (see run.py), makes its
inputs from the seed, sets up, measures for ``run.seconds`` seconds and
checks the program's outputs.

ingest_backfill (closed loop): drains a seeded backlog through
``stream_log_lines`` -> ``dedup_stream`` -> ``write_partitioned_parquet``
with an availableNow trigger, then reads the fresh sink with a Q1 and a
Q2 panel; repeated while another round fits in the time.

live_dashboard (open loop for writes, closed loop for reads): a lander
thread renames wire files into the watch directory of the same ingest
query, run on its default processing-time trigger, at a fixed rate that
does not slow when the program slows; one dashboard client with no think
time alternates Q1 and Q2 over the sink meanwhile.
"""

from __future__ import annotations

import os
import statistics
import threading
import time

import duckdb

import gen
import panels
from tracing import (batch_interval, overlap, progress_events,
                   files_by_batch, stage_metrics)

from aws_cloudfront_realtime_monitoring_spark.schema import storage_name
from aws_cloudfront_realtime_monitoring_spark.sources.cf_logs import parse_log_lines
from aws_cloudfront_realtime_monitoring_spark.streaming.ingest import (
    KAFKA_DEFAULTS, dedup_stream, stream_log_lines, write_partitioned_parquet,
)

#: large enough that per-line work (parse, dedup state, sink) is about
#: half of a drain, small enough that a run fits the time budget (sizes
#: in README.md)
BACKLOG_LINES = 300_000
#: about 7.5 MB a file; more, smaller files add fixed cost per drain
BACKLOG_FILES = 16
#: the warm-up drains every WARM_STRIDE-th backlog line
WARM_STRIDE = 50
HISTORY_LINES = 3_000
HISTORY_FILES = 8
LIVE_SHARDS = 5
LIVE_LINES_PER_FILE = 1_000
#: one file per shard per second: 5 shards x 1,000 rec/s
LIVE_FILE_PERIOD_S = 1.0 / LIVE_SHARDS
TRIGGER_S = KAFKA_DEFAULTS["trigger_seconds"]
#: Q2's $__timeFilter window: the last 30 minutes before the span end
Q2_WINDOW_S = 1800


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty list."""
    s = sorted(values)
    k = max(0, min(len(s) - 1, int(-(-q * len(s) // 100)) - 1))
    return s[k]


def weighted_percentile(pairs: list[tuple[float, int]], q: float) -> float:
    """Nearest-rank percentile of values given as (value, count)."""
    pairs = sorted(pairs)
    total = sum(c for _, c in pairs)
    rank = max(1, -(-q * total // 100))
    seen = 0
    for v, c in pairs:
        seen += c
        if seen >= rank:
            return v
    return pairs[-1][0]


def duck() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET threads = 2")
    return con


def start_ingest(run, watch: str, name: str, available_now: bool):
    """The production ingest query over ``watch``; returns (query, sink,
    checkpoint)."""
    sink, ckpt = run.path(name, "sink"), run.path(name, "ckpt")
    with run.tracer.span("sources.cf_logs.build"):
        parsed = stream_log_lines(run.spark, watch, max_files_per_trigger=None)
    writer = write_partitioned_parquet(dedup_stream(parsed), sink, ckpt)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start(), sink, ckpt


def panel(run, kind: str, sink: str, now: str | None,
          q2_from: str, q2_to: str, timed: bool = True) -> list:
    """One dashboard panel; returns its rows."""
    spark = run.spark
    group = f"{run.workload}:{kind}:{len(run.panels)}"
    spark.sparkContext.setJobGroup(group, kind)
    t0 = time.time()
    with run.tracer.span(f"panel.{kind}"):
        with run.tracer.span(f"functions.timestream.{kind}_build") as build:
            narrow = panels.narrow_sink(spark, sink)
            df = (panels.q1_frame(narrow, now) if kind == "q1"
                  else panels.q2_frame(spark, narrow, q2_from, q2_to))
        with run.tracer.span(f"functions.timestream.{kind}_exec") as exe:
            rows = df.collect()
    rec = {"kind": kind, "start": t0, "end": time.time(), "timed": timed}
    if run.tracer.enabled:
        rec["build_s"] = build.end - build.start
        rec["exec_s"] = exe.end - exe.start
        with run.tracer.reading():
            rec["stages"] = stage_metrics(spark, group)
    run.panels.append(rec)
    return rows


def ingest_layers(run, events: list[dict], groups: list[str], sink: str,
                  lines_in: int, data: list[dict]) -> None:
    """streaming.ingest.* from progress events (``data``: the measured
    batches), the sink and the status store (``groups``: the queries' run
    ids, which Spark uses as their job groups)."""
    L = run.layers
    dur = [p["durationMs"] for p in data]
    L["streaming.ingest.batches"] = len(data)
    L["streaming.ingest.batch_s_p50"] = statistics.median(
        p["batchDuration"] for p in data) / 1e3
    L["streaming.ingest.batch_s_max"] = max(p["batchDuration"] for p in data) / 1e3
    L["streaming.ingest.add_batch_s"] = statistics.median(
        d.get("addBatch", 0) for d in dur) / 1e3
    L["streaming.ingest.planning_s"] = statistics.median(
        d.get("queryPlanning", 0) for d in dur) / 1e3
    L["streaming.ingest.offsets_s"] = statistics.median(
        d.get("latestOffset", 0) + d.get("getBatch", 0) for d in dur) / 1e3
    L["streaming.ingest.commit_s"] = statistics.median(
        d.get("walCommit", 0) + d.get("commitOffsets", 0) for d in dur) / 1e3
    ops = data[-1].get("stateOperators", [])
    L["streaming.ingest.state_rows"] = sum(o["numRowsTotal"] for o in ops)
    L["streaming.ingest.state_mem_B"] = sum(o["memoryUsedBytes"] for o in ops)
    L["streaming.ingest.late_rows_dropped"] = sum(
        o.get("numRowsDroppedByWatermark", 0)
        for p in events for o in p.get("stateOperators", []))
    files = [os.path.join(d, f) for d, _, fs in os.walk(sink)
             if "_spark_metadata" not in d for f in fs if f.endswith(".parquet")]
    rows = run.sink_rows
    L["streaming.ingest.dedup_ratio"] = rows / lines_in
    L["streaming.ingest.sink_files"] = len(files)
    L["streaming.ingest.records_per_file"] = rows / len(files)
    L["streaming.ingest.sink_B_per_record"] = sum(
        os.path.getsize(f) for f in files) / rows
    with run.tracer.reading():
        stages = [stage_metrics(run.spark, g) for g in groups]
    for k in ("executor_run_s", "gc_s", "shuffle_write_B", "spill_B"):
        L[f"streaming.ingest.{k}"] = sum(st[k] for st in stages)


def panel_layers(run, batch_spans: list[tuple[float, float]]) -> None:
    L = run.layers
    timed = [p for p in run.panels if p.get("timed")]
    for kind in ("q1", "q2"):
        recs = [p for p in timed if p["kind"] == kind]
        for part in ("build", "exec"):
            L[f"functions.timestream.{kind}_{part}_s"] = statistics.median(
                r[f"{part}_s"] for r in recs)
        L[f"functions.timestream.{kind}_input_B"] = statistics.median(
            r["stages"]["input_B"] for r in recs)
        L[f"functions.timestream.{kind}_tasks"] = statistics.median(
            r["stages"]["tasks"] for r in recs)
    L["functions.timestream.wait_s"] = sum(
        overlap((p["start"], p["end"]), batch_spans) for p in timed) / len(timed)


def cf_logs_layers(run, corpus: str, model: gen.Model) -> None:
    """sources.cf_logs.*: batch drains of the corpus (text read alone, then
    read + parse) and the parser's data-quality counts."""
    from pyspark.sql import functions as F

    spark = run.spark

    def noop(df) -> float:
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    read_s = noop(spark.read.text(corpus))
    parse_s = noop(parse_log_lines(spark.read.text(corpus))) - read_s
    parsed = parse_log_lines(spark.read.text(corpus))
    always = [storage_name(n) for n in gen.ALWAYS_WRITTEN_TYPED]
    clean = F.lit(True)
    for c in always:
        clean = clean & F.col(c).isNotNull()
    row = parsed.agg(
        F.count("*").alias("n"),
        F.count_if(F.col("timestamp").isNull()).alias("null_ts"),
        F.count_if(clean).alias("clean"),
    ).collect()[0]
    L = run.layers
    L["sources.cf_logs.build_s"] = statistics.median(
        s.end - s.start for s in run.tracer.spans
        if s.name == "sources.cf_logs.build")
    L["sources.cf_logs.read_s"] = read_s
    L["sources.cf_logs.parse_s"] = parse_s
    L["sources.cf_logs.lines_in"] = row.n
    L["sources.cf_logs.null_ts_lines"] = row.null_ts
    L["sources.cf_logs.clean_ratio"] = row.clean / row.n
    # a gate too: the parser must count what the generator wrote
    run.check("cf_logs line count", row.n == model.lines, 1)
    run.check("cf_logs clean lines", row.clean == model.clean_lines, 1)


def ingest_backfill(run) -> None:
    t0 = time.time()
    g = gen.WireGenerator(run.seed)
    lines = g.span_lines(BACKLOG_LINES, gen.BACKLOG_END_MS)
    backlog = run.path("backlog")
    file_lines = {os.path.basename(f): n for f, n in
                  gen.write_files(lines, backlog, BACKLOG_FILES).items()}
    gen.write_files(lines[::WARM_STRIDE], run.path("warm"), BACKLOG_FILES)
    del lines
    model = g.model
    run.gen_s = time.time() - t0

    run.start_spark()
    end_s = gen.BACKLOG_END_MS // 1000
    now, q2_from = panels.ts_str(end_s), panels.ts_str(end_s - Q2_WINDOW_S)
    # warm-up: one drain of a slice and one panel of each kind
    q, sink, _ = start_ingest(run, run.path("warm"), "warm", True)
    q.awaitTermination()
    for kind in ("q1", "q2"):
        panel(run, kind, sink, now, q2_from, now, timed=False)
    run.setup_done()

    con = duck()
    expected_q1 = {k: v for k, v in model.bytes_by_edge_hour.items()
                   if k[1] >= end_s - 24 * 3600}
    fresh: list[tuple[float, int]] = []
    rates: list[float] = []
    all_events: list[dict] = []
    groups: list[str] = []
    drains = 0
    # at least one drain; another only if it should end within the time
    while drains < 1 or (time.time() - run.timed_start
                         + iteration_s <= run.seconds):
        t_start = time.time()
        with run.tracer.span("streaming.ingest.drain"):
            q, sink, ckpt = start_ingest(run, backlog, f"drain{drains}", True)
            q.awaitTermination()
        wall = time.time() - t_start
        rates.append(model.lines / wall)
        with run.tracer.reading():
            events = progress_events(q)
        all_events += events
        groups.append(str(q.runId))
        # a backlog record is due when its drain starts; each batch's end
        # counts once per line of the files it read
        ends = {p["batchId"]: batch_interval(p)[1] for p in events}
        batch_lines: dict[int, int] = {}
        for name, b in files_by_batch(ckpt).items():
            batch_lines[b] = batch_lines.get(b, 0) + file_lines[name]
        fresh += [(ends[b] - t_start, n) for b, n in batch_lines.items()]
        q1 = panel(run, "q1", sink, now, q2_from, now)
        q2 = panel(run, "q2", sink, now, q2_from, now)
        # the gates read the sink after the panels, outside their measurement
        files = run.sink_files(sink)
        run.check("backfill Q1 vs model", panels.q1_rows(q1) == expected_q1, 1)
        run.check("backfill Q2 vs DuckDB", panels.q2_rows(q2)
                  == panels.duck_q2(con, files, q2_from, now), 1)
        summary = panels.duck_sink_summary(con, files)
        run.sink_rows = summary["rows"]
        bad = panels.record_failures(summary, model.ids, model.no_id_rows)
        run.check("backfill sink records", bad == 0, model.rows, bad)
        run.check("backfill sink bytes by (edge, hour)",
                  summary["bytes_by_edge_hour"] == model.bytes_by_edge_hour, 1)
        drains += 1
        iteration_s = time.time() - t_start
    run.timed_end()

    run.metrics["ingest_rec_per_s"] = statistics.median(rates)
    run.metrics["freshness_p50_s"] = weighted_percentile(fresh, 50)
    run.metrics["freshness_p99_s"] = weighted_percentile(fresh, 99)
    run.panel_metrics()
    run.info.update(drains=drains, backlog_lines=model.lines,
                    model_rows=model.rows)
    if run.tracer.enabled:
        data = [p for p in all_events if p["numInputRows"] > 0]
        ingest_layers(run, all_events, groups, sink, model.lines, data)
        panel_layers(run, [])
        cf_logs_layers(run, backlog, model)


class Lander(threading.Thread):
    """Renames pre-written files into the watch directory on a fixed
    schedule and records how late each rename ran."""

    def __init__(self, schedule: list[tuple[float, str, str]], staging: str,
                 watch: str):
        super().__init__(daemon=True)
        self.schedule = schedule
        self.staging = staging
        self.watch = watch
        self.late: list[float] = []
        self.error: Exception | None = None

    def run(self) -> None:
        try:
            for due, name, text in self.schedule:
                tmp = os.path.join(self.staging, name)
                with open(tmp, "w") as f:
                    f.write(text)
                delay = due - time.time()
                if delay > 0:
                    time.sleep(delay)
                os.rename(tmp, os.path.join(self.watch, name))
                self.late.append(time.time() - due)
        except Exception as e:  # reported by the workload, not lost
            self.error = e


def live_dashboard(run) -> None:
    t0 = time.time()
    g = gen.WireGenerator(run.seed)
    hist_end_ms = int(t0 * 1000)
    watch = run.path("watch")
    gen.write_files(g.span_lines(HISTORY_LINES, hist_end_ms), watch,
                    HISTORY_FILES, prefix="history")
    g.go_live()
    n_files = int(run.seconds / LIVE_FILE_PERIOD_S)
    bodies = [[g.line(0).split("\t", 1)[1] for _ in range(LIVE_LINES_PER_FILE)]
              for _ in range(n_files)]
    model = g.model
    run.gen_s = time.time() - t0

    run.start_spark()
    hist_end_s = hist_end_ms / 1000
    q2_to = panels.ts_str(hist_end_s)
    q2_from = panels.ts_str(hist_end_s - Q2_WINDOW_S)
    q, sink, ckpt = start_ingest(run, watch, "live", False)
    # setup drains the history: wait for its batch to commit
    deadline = time.time() + 170
    while q.lastProgress is None or q.lastProgress["numInputRows"] == 0:
        if time.time() > deadline or q.exception() is not None:
            raise RuntimeError(f"history drain did not finish: {q.exception()}")
        time.sleep(0.1)
    for kind in ("q1", "q2"):
        panel(run, kind, sink, None, q2_from, q2_to, timed=False)
    run.setup_done()

    # land on trigger boundaries: the first file just after one, the last
    # just before the boundary run.seconds later
    boundary = (int(time.time() + 0.5) // TRIGGER_S + 1) * TRIGGER_S
    start = boundary + 0.05
    schedule = []
    for j, body in enumerate(bodies):
        due = start + j * LIVE_FILE_PERIOD_S
        stamp = f"{int(due * 1000) // 1000}.{int(due * 1000) % 1000:03d}\t"
        schedule.append((due, f"live-{j:05d}.txt",
                         "".join(stamp + b + "\n" for b in body)))
    staging = run.path("staging")
    os.makedirs(staging, exist_ok=True)
    lander = Lander(schedule, staging, watch)
    # idle until the boundary: warming more panels here would make the
    # warm-up, and so the timed panels' speed, depend on the wait
    while time.time() < start:
        time.sleep(0.005)
    run.timed_start = start
    lander.start()
    # the client keeps reading until every live file is committed, then
    # reads one more Q1 and Q2: over the final sink, they are the gate's
    # results. A live file counts as processed when the batch that read it
    # started within one trigger after the last landing.
    last_due = schedule[-1][0]
    names = [name for _, name, _ in schedule]
    deadline = last_due + TRIGGER_S + 90
    final: dict[str, list] = {}
    final_now = None
    n_timed = 0
    while len(final) < 2:
        if final_now is None and time.time() >= start + run.seconds:
            by_batch = files_by_batch(ckpt)
            events = progress_events(q)
            starts = {p["batchId"]: batch_interval(p)[0] for p in events
                      if p["numInputRows"] > 0}
            pending = [n for n in names if by_batch.get(n) not in starts]
            if not pending and not q.exception():
                final_now = panels.ts_str(time.time())
            elif time.time() > deadline or q.exception():
                break
        kind = ("q1", "q2")[n_timed % 2]
        try:
            rows = panel(run, kind, sink, final_now, q2_from, q2_to)
            run.check("live panel", True, 1)
            if final_now is not None:
                final[kind] = rows
        except Exception as e:  # a failed panel is counted, the run goes on
            run.check(f"live panel {kind}: {e}", False, 1)
        n_timed += 1
    lander.join(timeout=30)
    run.check(f"lander: {lander.error}",
              lander.error is None and not lander.is_alive(), 1)
    run.timed_end()
    q.stop()
    run.check(f"live query: {q.exception()}", q.exception() is None, 1)

    ends = {p["batchId"]: batch_interval(p)[1] for p in events
            if p["numInputRows"] > 0}
    fresh = []
    live_batches = set()
    late_files = 0
    for due, name, _ in schedule:
        b = by_batch.get(name)
        if b not in ends or starts[b] > last_due + TRIGGER_S:
            late_files += 1
            continue
        fresh.append((ends[b] - due, LIVE_LINES_PER_FILE))
        live_batches.add(b)
    live = [p for p in events if p["batchId"] in live_batches
            and p["numInputRows"] > 0]
    run.check("live records left unprocessed", late_files == 0,
              0, late_files * LIVE_LINES_PER_FILE)

    con = duck()
    files = run.sink_files(sink)
    summary = panels.duck_sink_summary(con, files)
    run.sink_rows = summary["rows"]
    bad = panels.record_failures(summary, model.ids, model.no_id_rows)
    run.check("live sink records exactly once", bad == 0, model.rows, bad)
    run.check("live final Q1 vs DuckDB", "q1" in final and panels.q1_rows(
        final["q1"]) == panels.duck_q1(con, files, final_now), 1)
    run.check("live final Q2 vs DuckDB", "q2" in final and panels.q2_rows(
        final["q2"]) == panels.duck_q2(con, files, q2_from, q2_to), 1)

    # delivered rate: live lines over the time from the first landing to
    # the commit of the last batch that read them
    run.metrics["ingest_rec_per_s"] = len(fresh) * LIVE_LINES_PER_FILE / (
        max(ends[b] for b in live_batches) - start)
    run.metrics["freshness_p50_s"] = weighted_percentile(fresh, 50)
    run.metrics["freshness_p99_s"] = weighted_percentile(fresh, 99)
    run.panel_metrics()
    run.info.update(live_files=len(schedule), batches=[
        [p["batchId"], round(batch_interval(p)[0] - start, 3),
         p["batchDuration"] / 1e3, p["numInputRows"]] for p in events],
                    lander_late_max_s=max(lander.late),
                    lander_late_p99_s=percentile(lander.late, 99),
                    model_rows=model.rows)
    if run.tracer.enabled:
        ingest_layers(run, events, [str(q.runId)], sink, model.lines, live)
        panel_layers(run, [batch_interval(p) for p in events
                           if p["numInputRows"] > 0])
        cf_logs_layers(run, watch, model)
