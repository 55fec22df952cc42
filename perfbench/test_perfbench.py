"""Tests of the benchmark's own logic (not of the engine).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import statistics
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from check import check_job, digest, validate_terasort_files  # noqa: E402
from compare import main as compare_main, quartile_spread  # noqa: E402
from inputs import tera_checksum, tera_records  # noqa: E402
from run import declared_metrics, end_to_end  # noqa: E402
from trace import Span, layer_self_times, metric_value, split_pss_bytes, stage_layer_metrics  # noqa: E402
from trace import streaming_metrics  # noqa: E402


def test_end_to_end_metrics_of_a_pass():
    m = end_to_end({"a": 1.0, "b": 4.0, "c": 2.0, "d": 3.0}, 1.5, 3 * 2**20)
    assert m == {"wall_s": 10.0, "job_p50_s": 2.5, "setup_s": 1.5, "peak_rss_nonheap_mb": 3.0}
    # exactly the end-to-end metrics BENCHMARK.json declares
    assert set(m) == set(declared_metrics(trace=False))


def test_split_pss_separates_the_java_heap():
    smaps = (
        b"00400000-00500000 r-xp 00000000 08:01 1 /usr/bin/java\n"
        b"Rss:                 100 kB\nPss:                  60 kB\nPss_Dirty:            10 kB\n"
        b"600000000-640000000 rw-p 00000000 00:00 0 \n"
        b"Rss:                5000 kB\nPss:                5000 kB\n"
        b"640000000-800000000 ---p 00000000 00:00 0 \n"
        b"Pss:                   0 kB\n"
        b"7f0000000000-7f0000100000 rw-p 00000000 00:00 0 \n"
        b"Pss:                 300 kB\nSwapPss:               7 kB\n"
    )
    heap, total = split_pss_bytes(smaps, (0x600000000, 0x800000000))
    assert heap == 5000 * 1024
    assert total == (60 + 5000 + 300) * 1024


def test_quartile_spread():
    values = [10.0, 11.0, 9.0, 10.5, 9.5, 10.0, 10.2, 9.8, 10.1, 9.9]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    assert quartile_spread(values) == pytest.approx((q3 - q1) / q2)
    assert quartile_spread([5.0] * 10) == 0.0


def test_digest_ignores_row_and_column_order():
    a = pa.table({"k": [1, 2, 3], "v": ["x", "y", None]})
    b = pa.table({"v": [None, "x", "y"], "k": [3, 1, 2]})
    assert digest(a) == digest(b)


def test_a_wrong_value_or_type_changes_the_digest():
    base = pa.table({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5]})
    assert digest(base) != digest(pa.table({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5000001]}))
    assert digest(base) != digest(pa.table({"k": [1, 2, 4], "v": [0.5, 1.5, 2.5]}))
    # an integer column never equals a float column with the same values
    assert digest(pa.table({"k": [1, 2]})) != digest(pa.table({"k": [1.0, 2.0]}))
    # null is not zero, and a missing row is not a duplicate one
    assert digest(pa.table({"k": [0, 1]})) != digest(pa.table({"k": [None, 1]}))
    assert digest(pa.table({"k": [1, 1, 2]})) != digest(pa.table({"k": [1, 2, 2]}))


def test_digest_equates_spark_and_duckdb_encodings():
    ts = pa.array([0, 1_000_000], pa.timestamp("us", tz="UTC"))
    naive = pa.array([0, 1_000_000], pa.timestamp("us"))
    assert digest(pa.table({"t": ts})) == digest(pa.table({"t": naive}))
    assert digest(pa.table({"n": pa.array([1, 2], pa.int32())})) == digest(pa.table({"n": pa.array([1, 2], pa.int64())}))
    s = pa.array(["a", "b"], pa.string())
    assert digest(pa.table({"s": s})) == digest(pa.table({"s": s.cast(pa.large_string())}))


def test_a_wrong_hash_is_a_failed_job():
    result = pa.table({"k": [1, 2]})
    expected = {"q": digest(result)}
    assert check_job("q", result, expected) is None
    assert check_job("q", pa.table({"k": [1, 3]}), expected) == "result differs from the oracle"


def _write_parts(tmp_path, parts):
    for i, keys in enumerate(parts):
        pq.write_table(
            pa.table({"key": keys, "value": ["v" * 90] * len(keys)}), tmp_path / f"part-{i:05d}.parquet"
        )
    whole = pa.table({"key": [k for p in parts for k in p], "value": ["v" * 90] * sum(map(len, parts))})
    return whole.num_rows, tera_checksum(whole)


def test_terasort_validator_accepts_sorted_files(tmp_path):
    rows, cksum = _write_parts(tmp_path, [["a", "b", "c"], ["c", "d"], [], ["x"]])
    assert validate_terasort_files(str(tmp_path), rows, cksum) == []


def test_terasort_validator_rejects_unsorted_file(tmp_path):
    rows, cksum = _write_parts(tmp_path, [["a", "c", "b"], ["d"]])
    problems = validate_terasort_files(str(tmp_path), rows, cksum)
    assert problems == ["part-00000.parquet: 1 keys out of order within the file"]
    expected = {"terasort": {"rows": rows, "checksum": cksum}}
    assert check_job("terasort", str(tmp_path), expected) == problems[0]


def test_terasort_validator_rejects_order_across_files(tmp_path):
    # each file sorted, but the files out of order: what a reader that
    # packs splits in another order would not notice
    rows, cksum = _write_parts(tmp_path, [["m", "n"], ["a", "b"]])
    problems = validate_terasort_files(str(tmp_path), rows, cksum)
    assert problems == ["part-00001.parquet: first key sorts before the last key of part-00000.parquet"]


def test_terasort_validator_rejects_lost_or_changed_records(tmp_path):
    rows, cksum = _write_parts(tmp_path, [["a", "b"]])
    assert validate_terasort_files(str(tmp_path), rows + 1, cksum) == [f"row count {rows} != {rows + 1}"]
    assert validate_terasort_files(str(tmp_path), rows, cksum + 1) == ["checksum differs from the input's"]


def test_tera_records_are_seeded_100_byte_records():
    a, b, c = tera_records(7, rows=50), tera_records(7, rows=50), tera_records(8, rows=50)
    assert a.equals(b) and not a.equals(c)
    assert {len(k) for k in a.column("key").to_pylist()} == {10}
    assert {len(v) for v in a.column("value").to_pylist()} == {90}


def _span(i, parent, layer, start, end):
    return Span(i, parent, f"s{i}", layer, start, end, "r")


def test_self_times_add_up_to_root_durations():
    spans = [
        _span(0, None, "bench", 0.0, 10.0),
        _span(1, 0, "plans.build", 0.0, 4.0),
        _span(2, 0, "plans.action", 4.0, 10.0),
        _span(3, 2, "spark.job", 5.0, 9.0),
        # overlapping stages are counted once
        _span(4, 3, "spark.stage", 5.5, 7.0),
        _span(5, 3, "spark.stage", 6.0, 8.0),
        # a child running past its parent is clipped to the parent
        _span(6, 1, "spark.job", 3.0, 4.5),
        _span(7, None, "bench", 20.0, 21.0),
    ]
    t = layer_self_times(spans)
    assert t["plans.build"] == pytest.approx(3.0)
    assert t["plans.action"] == pytest.approx(2.0)
    assert t["spark.job"] == pytest.approx(1.0 + 1.5)
    assert t["spark.stage"] == pytest.approx(2.5)
    assert t["bench"] == pytest.approx(1.0)
    assert sum(t.values()) == pytest.approx(11.0)


def test_metric_value_parses_spark_display_strings():
    assert metric_value("6") == 6
    assert metric_value("1,234") == 1234
    assert metric_value("total (min, med, max (stageId: taskId))\n1.5 KiB (0.0 B, 512.0 B, 1024.0 B (stage 1.0: task 2))") == 1536
    assert metric_value("total (min, med, max (stageId: taskId))\n2.5 s (1 ms, 3 ms, 2.0 s (stage 1.0: task 2))") == 2.5
    assert metric_value("total (min, med, max (stageId: taskId))\n17 ms (0 ms, 1 ms, 9 ms (stage 3.0: task 7))") == pytest.approx(0.017)


def test_error_counting_in_stage_metrics():
    stages = [
        {"stageId": 1, "status": "COMPLETE", "numCompleteTasks": 3, "numFailedTasks": 1, "numKilledTasks": 0},
        {"stageId": 2, "status": "SKIPPED", "numCompleteTasks": 0, "numFailedTasks": 0, "numKilledTasks": 0},
        {"stageId": 3, "status": "COMPLETE", "numCompleteTasks": 4, "numFailedTasks": 0, "numKilledTasks": 0},
    ]
    m = stage_layer_metrics(stages, {1, 2})
    assert m["spark.stages"] == 1
    assert m["spark.tasks"] == 4
    assert m["spark.tasks_failed"] == 1
    assert m["spark.tasks_succeeded_ratio"] == 0.75


def test_streaming_metrics_take_state_from_each_querys_last_batch():
    progress = [
        {"id": "a", "batch": 0, "time": 10.0, "input_rows": 10, "durations": {"addBatch": 100, "commitOffsets": 5, "walCommit": 5},
         "state": [{"rows": 3, "mem": 100, "stores": 4}]},
        {"id": "a", "batch": 1, "time": 11.0, "input_rows": 0, "durations": {"addBatch": 50}, "state": [{"rows": 2, "mem": 90, "stores": 4}]},
        {"id": "b", "batch": 0, "time": 12.0, "input_rows": 7, "durations": {}, "state": []},
    ]
    m = streaming_metrics(progress)
    assert m["streaming.batches"] == 3
    assert m["streaming.input_rows"] == 17
    assert m["streaming.state_rows"] == 2
    assert m["streaming.state_stores"] == 4
    assert m["streaming.commit_s"] == pytest.approx(0.01)
    assert m["streaming.add_batch_s"] == pytest.approx(0.15)


def test_compare_refuses_results_from_different_machines(tmp_path):
    def record(nproc):
        return {"workload": "w", "trace": 0, "stamp": {"nproc": nproc}, "metrics": {"wall_s": {"value": 1.0, "unit": "s"}}}

    same, other = tmp_path / "a.jsonl", tmp_path / "b.jsonl"
    same.write_text(json.dumps(record(4)) + "\n")
    other.write_text(json.dumps(record(32)) + "\n")
    assert compare_main([str(same), str(same)]) == 0
    assert compare_main([str(same), str(other)]) == 1
