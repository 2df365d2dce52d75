"""Tests of the benchmark's own code (no Spark needed).

    python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE.parent), str(HERE)]

import gen  # noqa: E402
import procstat  # noqa: E402
import run  # noqa: E402
from spans import Span, covered, read_event_log, self_times  # noqa: E402


def _files_bytes(paths):
    return [Path(p).read_bytes() for p in paths]


@pytest.mark.parametrize("name", ["global", "probe", "keyed"])
def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path, name):
    spec = gen.TableSpec(name, 20_000, 2, keyed=name == "keyed",
                         absent_share=0.5 if name == "probe" else 0.0)
    a = gen.write_files(spec, gen.make_table(spec, 7), str(tmp_path / "a"))
    b = gen.write_files(spec, gen.make_table(spec, 7), str(tmp_path / "b"))
    c = gen.write_files(spec, gen.make_table(spec, 8), str(tmp_path / "c"))
    assert _files_bytes(a) == _files_bytes(b)
    assert all(x != y for x, y in zip(_files_bytes(a), _files_bytes(c)))


def test_generated_tables_have_the_intended_shape():
    spec = gen.TableSpec("keyed", 200_000, 4, keyed=True)
    cols = gen.make_table(spec, 3)
    assert cols["lens"].sum() == len(cols["tokens"]) >= 200_000
    assert cols["lens"].min() >= gen.MIN_LEN and cols["lens"].max() <= gen.MAX_LEN
    assert 0 <= cols["tokens"].min() and cols["tokens"].max() < gen.VOCAB
    hot = (cols["source"] == 0).mean()
    assert abs(hot - gen.HOT_SHARE) < 0.05
    probe = gen.make_table(gen.TableSpec("probe", 200_000, 1, absent_share=0.5), 3)["tokens"]
    assert abs((probe >= gen.ABSENT_LO).mean() - 0.5) < 0.02


def test_self_time_subtracts_union_of_children():
    spans = [
        Span(0, "op", "op", 0.0, 10.0, None),
        Span(1, "op", "a", 1.0, 3.0, 0),
        Span(2, "op", "b", 2.0, 5.0, 0),  # overlaps a: union [1, 5]
        Span(3, "op", "c", 7.0, 8.0, 0),
        Span(4, "op", "d", 9.5, 12.0, 0),  # clipped to the parent's end
        Span(5, "op", "e", 1.5, 2.5, 1),  # grandchild: only a's self time
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - (4.0 + 1.0 + 0.5))
    assert st[1] == pytest.approx(2.0 - 1.0)
    assert st[5] == pytest.approx(1.0)
    assert covered([], 0.0, 1.0) == 0.0
    assert covered([(0.0, 1.0), (1.0, 2.0)], 0.0, 2.0) == pytest.approx(2.0)


def test_parse_stat_handles_spaces_and_parens_in_comm():
    tick = os.sysconf("SC_CLK_TCK")
    line = (
        f"4242 (py worker) (x)) S 17 4242 4242 0 -1 4194560 100 0 0 0 "
        f"{3 * tick} {2 * tick} {tick} 0 20 0 1 0 123 456 789"
    )
    st = procstat.parse_stat(line)
    assert (st.pid, st.comm, st.ppid) == (4242, "py worker) (x)", 17)
    assert st.cpu_s == pytest.approx(6.0)


def test_tree_contains_this_process():
    me = os.getpid()
    assert me in [st.pid for st in procstat.tree()]
    assert procstat.cpu_sample().total_s > 0


def test_event_log_stages_grouped_by_operation(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "op-0"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2], "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Shuffle Write Metrics": {"Shuffle Records Written": 3, "Shuffle Bytes Written": 30}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Shuffle Write Metrics": {"Shuffle Records Written": 2, "Shuffle Bytes Written": 20}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
            "Shuffle Read Metrics": {"Total Records Read": 5}}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 0, "Submission Time": 1000, "Completion Time": 3000, "Number of Tasks": 2,
            "RDD Info": [{"Name": "FileScanRDD"}]}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 1, "Submission Time": 3000, "Completion Time": 3500, "Number of Tasks": 1,
            "RDD Info": [{"Name": "ShuffledRowRDD"}]}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 2, "Submission Time": 4000, "Completion Time": 4100, "Number of Tasks": 1}},
    ]
    log = tmp_path / "app"
    log.write_text("".join(json.dumps(e) + "\n" for e in events))
    jobs, stages = read_event_log(str(log))
    assert jobs == {"op-0": 1}
    assert [(s.stage_id, s.scans_files) for s in stages] == [(0, True), (1, False)]
    assert (stages[0].shuffle_records_written, stages[0].shuffle_bytes_written) == (5, 50)
    assert stages[1].max_task_records_read == 5
    assert stages[0].end - stages[0].start == pytest.approx(2.0)


def test_benchmark_json_matches_the_metrics_the_runner_prints():
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    from workloads import WORKLOADS

    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)


def test_calm_picks_quiet_ops_or_the_least_stolen():
    def reps(steals):
        return [run.Rep(f"op-{i}", 1.0, procstat.CpuSample(0, 0), s, None) for i, s in enumerate(steals)]

    quiet = run.calm(reps([0.0, 0.2, 0.005, 0.01, 0.3]))
    assert [r.op_id for r in quiet] == ["op-0", "op-2", "op-3"]
    stolen = run.calm(reps([0.2, 0.05, 0.3, 0.02, 0.1]))
    assert sorted(r.op_id for r in stolen) == ["op-1", "op-3", "op-4"]
