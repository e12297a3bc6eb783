"""Tests of the benchmark itself (no Spark session needed).

Run from the repository root: ``python3 -m pytest cfbench -q``.
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path
from types import SimpleNamespace

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE), str(HERE.parent)]

import gen  # noqa: E402
import panels  # noqa: E402
import run as bench_run  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402
from pyspark.sql import Row  # noqa: E402

N = 3000


def corpus(seed: int = 7) -> tuple[list[str], gen.Model]:
    g = gen.WireGenerator(seed)
    return g.span_lines(N, gen.BACKLOG_END_MS), g.model


def test_generator_is_deterministic_per_seed():
    a, ma = corpus(7)
    b, mb = corpus(7)
    c, _ = corpus(8)
    assert a == b and ma == mb
    assert a != c


def test_generator_shape_and_model():
    lines, m = corpus()
    full = [ln for ln in lines if ln.count("\t") == len(gen.FIELD_NAMES) - 1]
    assert len(lines) - len(full) == m.truncated > 0
    assert 0 < m.duplicates < 0.03 * N and 0 < m.late < 0.05 * N
    # the model's dedup: every line is a distinct record, a redelivery or
    # an id-less truncated line
    assert m.rows == N - m.duplicates
    assert len({ln.split("\t")[10] for ln in full}) <= len(gen.EDGES)


def sink_table(lines: list[str]) -> pa.Table:
    """What a correct ingest writes, spelled in plain Python: parse the
    fields the gates read and keep the first line of each request id."""
    seen, cols = set(), {"x_edge_request_id": [], "x_edge_location": [],
                         "timestamp": [], "sc_bytes": []}
    for line in lines:
        tok = line.split("\t")
        rid = tok[11] if len(tok) > 11 else None
        if rid is not None:
            if rid in seen:
                continue
            seen.add(rid)
        cols["x_edge_request_id"].append(rid)
        cols["x_edge_location"].append(tok[10] if len(tok) > 10 else None)
        cols["timestamp"].append(int(tok[0].replace(".", "")) * 1000)
        cols["sc_bytes"].append(int(tok[4]))
    return pa.table({
        **{k: cols[k] for k in ("x_edge_request_id", "x_edge_location")},
        "timestamp": pa.array(cols["timestamp"], pa.timestamp("us")),
        "sc_bytes": pa.array(cols["sc_bytes"], pa.int64()),
    })


@pytest.fixture()
def sink(tmp_path):
    lines, model = corpus()
    path = str(tmp_path / "part-0.parquet")
    pq.write_table(sink_table(lines), path)
    return [path], model, tmp_path


def test_sink_gate_passes_a_correct_sink(sink):
    files, model, _ = sink
    summary = panels.duck_sink_summary(workloads.duck(), files)
    assert panels.record_failures(summary, model.ids, model.no_id_rows) == 0
    assert summary["bytes_by_edge_hour"] == model.bytes_by_edge_hour


def test_sink_gate_fails_on_a_dropped_record(sink):
    files, model, tmp = sink
    table = pq.read_table(files[0])
    dropped = str(tmp / "dropped.parquet")
    pq.write_table(table.slice(1), dropped)
    summary = panels.duck_sink_summary(workloads.duck(), [dropped])
    assert panels.record_failures(summary, model.ids, model.no_id_rows) == 1
    assert summary["bytes_by_edge_hour"] != model.bytes_by_edge_hour


def test_sink_gate_fails_on_a_duplicated_record(sink):
    files, model, tmp = sink
    table = pq.read_table(files[0])
    doubled = str(tmp / "doubled.parquet")
    pq.write_table(pa.concat_tables([table, table.slice(0, 1)]), doubled)
    summary = panels.duck_sink_summary(workloads.duck(), [doubled])
    assert panels.record_failures(summary, model.ids, model.no_id_rows) == 1


def q1_spark_rows(expected: dict) -> list[Row]:
    from datetime import datetime, timezone

    return [Row(x_edge_location=e,
                binned_time=datetime.fromtimestamp(h, timezone.utc).replace(tzinfo=None),
                sum_bytes=s) for (e, h), s in expected.items()]


def test_panel_gate_fails_on_a_perturbed_value(sink):
    files, model, _ = sink
    end = gen.BACKLOG_END_MS // 1000
    now = panels.ts_str(end)
    duck = panels.duck_q1(workloads.duck(), files, now)
    expected = {k: v for k, v in model.bytes_by_edge_hour.items()
                if k[1] >= end - 24 * 3600}
    assert duck == expected
    rows = q1_spark_rows(expected)
    assert panels.q1_rows(rows) == duck
    bad = list(rows)
    bad[0] = Row(**{**bad[0].asDict(), "sum_bytes": bad[0].sum_bytes + 1})
    assert panels.q1_rows(bad) != duck


def test_q2_gate_fails_on_a_wrong_oracle_row(sink):
    files, _, _ = sink
    end = gen.BACKLOG_END_MS // 1000
    lo, hi = panels.ts_str(end - 1800), panels.ts_str(end)
    duck = panels.duck_q2(workloads.duck(), files, lo, hi)
    assert duck and all(pts for pts in duck.values())
    from datetime import datetime, timezone

    rows = [Row(x_edge_location=e, series=[
        Row(time=datetime.fromtimestamp(us / 1e6, timezone.utc).replace(tzinfo=None),
            value=v) for us, v in pts]) for e, pts in duck.items()]
    assert panels.q2_rows(rows) == duck
    wrong = dict(duck)
    edge = next(iter(wrong))
    wrong[edge] = wrong[edge][1:]
    assert panels.q2_rows(rows) != wrong


def test_failed_checks_count_against_attempted():
    r = SimpleNamespace(attempted=0, failed=0, failures=[])
    check = bench_run.Run.check
    check(r, "ok", True, 10)
    check(r, "one bad", False, 1)
    check(r, "records", False, 100, 3)
    assert (r.attempted, r.failed) == (111, 4)
    assert r.failures == ["one bad", "records"]


def test_metric_names_match_benchmark_json():
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == bench_run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == {
        k: u for k, (u, _) in bench_run.PER_LAYER.items()}
    assert [w["name"] for w in spec["workloads"]] == [
        "ingest_backfill", "live_dashboard"]
    for w in spec["workloads"]:
        assert callable(getattr(workloads, w["name"]))


def test_self_time_subtracts_the_union_of_children():
    assert tracing.self_time(0, 10, []) == 10
    assert tracing.self_time(0, 10, [(1, 3), (2, 5)]) == 6
    assert tracing.self_time(0, 10, [(1, 2), (4, 6)]) == 7
    # children are clipped to the parent
    assert tracing.self_time(0, 10, [(-5, 2), (9, 20)]) == 7
    assert tracing.overlap((0, 10), [(8, 12)]) == 2


def test_tracer_records_nested_spans(tmp_path):
    t = tracing.Tracer("r", True)
    with t.span("outer") as outer:
        with t.span("inner"):
            pass
    inner = t.spans[1]
    assert inner.parent == outer.index and inner.run_id == "r"
    t.write(str(tmp_path / "spans.json"))
    dumped = json.loads((tmp_path / "spans.json").read_text())
    assert dumped[0]["self_s"] == pytest.approx(
        (outer.end - outer.start) - (inner.end - inner.start))
    assert dumped[1]["self_s"] == pytest.approx(inner.end - inner.start)
    off = tracing.Tracer("r", False)
    with off.span("x") as sp:
        assert sp is None
    assert off.spans == []


def test_files_map_to_micro_batches_through_the_offset_log(tmp_path):
    src = tmp_path / "sources" / "0"
    off = tmp_path / "offsets"
    src.mkdir(parents=True)
    off.mkdir()
    for k, names in enumerate([["a", "b"], ["c"]]):
        (src / str(k)).write_text("v1\n" + "\n".join(
            json.dumps({"path": f"file:///w/{n}", "timestamp": 0, "batchId": k})
            for n in names))
    # micro-batch 1 found no new file; 2 read source offset 1
    for b, log_offset in [(0, 0), (1, 0), (2, 1)]:
        (off / str(b)).write_text(f'v1\n{{}}\n{{"logOffset":{log_offset}}}')
    assert tracing.files_by_batch(str(tmp_path)) == {"a": 0, "b": 0, "c": 2}


def test_percentiles():
    assert workloads.percentile([3, 1, 2, 4], 50) == 2
    assert workloads.percentile(list(range(1, 11)), 90) == 9
    assert workloads.weighted_percentile([(1.0, 99), (5.0, 1)], 99) == 1.0
    assert workloads.weighted_percentile([(1.0, 98), (5.0, 2)], 99) == 5.0


def test_write_files_keeps_order(tmp_path):
    lines = [f"l{i}" for i in range(10)]
    paths = gen.write_files(lines, str(tmp_path), 3)
    back = [ln for p in paths for ln in open(p).read().split()]
    assert back == lines and list(paths.values()) == [4, 4, 2]
    assert sorted(os.listdir(tmp_path)) == [os.path.basename(p) for p in paths]
