"""BENCHMARK.json agrees with spec.py and keeps to its format rules."""

import json
import os
import re

import spec

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def test_benchmark_json_is_generated_from_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        assert json.load(f) == spec.benchmark_json()


def test_format_limits():
    b = spec.benchmark_json()
    assert set(b) == {"command", "paths", "run_seconds", "workloads",
                      "end_to_end", "per_layer"}
    assert 1 <= b["run_seconds"] <= 60
    assert 2 <= len(b["workloads"]) <= 8
    assert 1 <= len(b["end_to_end"]) <= 16
    assert 1 <= len(b["per_layer"]) <= 128
    names = [w["name"] for w in b["workloads"]]
    names += [m["name"] for m in b["end_to_end"] + b["per_layer"]]
    assert len(names) == len(set(names))
    assert all(NAME.fullmatch(n) for n in names)
    for w in b["workloads"]:
        assert set(w) == {"name", "why"}
        assert len(w["why"]) <= 200 and "\n" not in w["why"]
    for m in b["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    for m in b["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    for m in b["end_to_end"] + b["per_layer"]:
        assert UNIT.fullmatch(m["unit"])
        assert m["better"] in ("lower", "higher")
    setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"]
    assert setup == [{"name": "setup_s", "unit": "s", "better": "lower",
                      "bound": max(m["bound"] for m in b["end_to_end"])}]
    assert len(json.dumps(b)) <= 64 * 1024


def test_every_per_layer_metric_is_produced():
    import layers

    produced = set(layers.SPAN_METRICS.values()) | {
        "changes.collect.ms", "log.read_commit.calls",
        "snapshot.build.calls_per_op", "snapshot.files",
        "scan.files_scanned_ratio", "writer.checkpoint.calls",
        "writer.files_per_commit", "dv.files_written", "dv.bytes_written",
        "spark.jobs_per_op", "spark.tasks_per_op", "trace.spans_per_op"}
    run_level = {"session.get_spark_s", "setup.tables_s", "setup.warmup_s",
                 "spark.jvm_peak_rss_mb",
                 "op.fail_ratio", "op.write_amp_bytes_per_row",
                 "trace.overhead_ms"} | {
        f"op.{k}_p50_ms" for k in
        ("plan", "lookup", "travel", "append", "delete", "cdf")}
    assert {m.name for m in spec.PER_LAYER} == produced | run_level
