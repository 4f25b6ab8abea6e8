"""Tests of the benchmark's own code.

    python3 -m pytest perfbench -q

The first group needs no Spark. The second starts one local session and
runs every workload briefly, so it takes a few minutes.
"""

from __future__ import annotations

import json
import os
import sys

import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import run as runner  # noqa: E402
from perfbench import workloads as wl  # noqa: E402
from perfbench.stats import check_metric_name, percentile, tail  # noqa: E402
from perfbench.trace import AppCpu, Recorder, self_times, union_length  # noqa: E402


class FakeProbe:
    def mark(self):
        return 0

    def counts(self, mark, t0, t1):
        return {"jobs": 1, "task_busy_s": 0.0, "driver_gap_s": 0.0,
                "shuffle_write_bytes": 0, "input_records": 0}


class TickClock:
    """Advances one unit on every read, so spans have distinct edges."""

    def __init__(self):
        self.t = 0.0

    def __call__(self):
        self.t += 1.0
        return self.t


def traced_recorder() -> Recorder:
    rec = Recorder("test-run", probe=FakeProbe(), clock=TickClock())
    with rec.span("wl.job"):
        rec.call("layer.a", lambda: 1)
        with rec.span("phase"):
            rec.call("layer.b", lambda: 2)
            rec.call("layer.c", lambda: 1 / 0)
        rec.call("layer.a", lambda: 3)
    return rec


def test_every_span_nests_inside_its_parent():
    rec = traced_recorder()
    by_id = {sp.span_id: sp for sp in rec.spans}
    assert len(rec.spans) == 6
    for sp in rec.spans:
        assert sp.run_id == "test-run"
        assert sp.start <= sp.end
        if sp.parent is not None:
            parent = by_id[sp.parent]
            assert parent.start <= sp.start and sp.end <= parent.end, (sp, parent)
    assert [by_id[sp.parent].name for sp in rec.spans if sp.name == "layer.b"] == ["phase"]


def test_self_time_non_negative_and_layer_wall_within_parent():
    rec = traced_recorder()
    selfs = self_times(rec.spans)
    by_id = {sp.span_id: sp for sp in rec.spans}
    for sp in rec.spans:
        assert selfs[sp.span_id] >= 0
        if sp.parent is not None:
            assert sp.end - sp.start <= by_id[sp.parent].end - by_id[sp.parent].start
    children_wall = sum(sp.end - sp.start for sp in rec.spans if sp.parent == 0)
    job = rec.spans[0]
    assert selfs[0] == pytest.approx((job.end - job.start) - children_wall)


def test_layer_shares_are_within_their_root():
    shares = runner.layer_shares(traced_recorder().spans)
    assert set(shares) == {"wl.job"}
    assert set(shares["wl.job"]) == {"layer.a", "phase"}
    assert 0 < sum(shares["wl.job"].values()) <= 1


def test_per_layer_figures_do_not_depend_on_loop_length():
    def loop(n_jobs):
        rec = Recorder("r", probe=FakeProbe(), clock=TickClock())
        for _ in range(n_jobs):
            with rec.span("wl.job"):
                rec.call("sources.readers", lambda: 1)
                rec.call("sources.readers", lambda: 2)
        return runner.per_call(runner.layer_table(rec)["sources.readers"])

    one, three = loop(1), loop(3)
    assert one == three
    assert one["calls"] == 2 and one["jobs"] == 1
    assert runner.per_call(runner.layer_table(Recorder("r"))["recsys.train_als"])["calls"] == 0


def test_failed_call_is_recorded_not_raised():
    rec = traced_recorder()
    assert [c.ok for c in rec.calls] == [True, True, False, True]
    assert [sp.failed for sp in rec.spans if sp.name == "layer.c"] == [True]


def test_deadline_cancels_and_fails_the_call():
    import threading

    released = threading.Event()
    rec = Recorder("r", cancel=released.set)
    ok, err = rec.call("slow", lambda: released.wait(5.0), deadline_s=0.2)
    assert not ok and "no result within" in str(err)
    assert rec.calls[-1].wall < 5.0


def test_failed_set_up_call_fails_the_run_and_counts(tmp_path, capsys):
    class Broken:
        name, min_jobs = "recommend", 1

        def prepare(self, ctx):
            pass

        def warmup(self, ctx):
            ctx.untimed("setup.write", lambda: 1 / 0)

    args = runner.parse_args(["--workload", "recommend", "--seed", "1", "--seconds", "1"])
    code = runner.run(args, None, 1, str(tmp_path), str(tmp_path), 0.0, workload=Broken())
    result = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert code == 1
    assert result == {"correct": False, "attempted": 1, "failed": 1, "metrics": {}}


def test_app_cpu_counts_child_processes_live_and_reaped():
    import subprocess

    cpu = AppCpu(os.getpid())
    c0 = cpu()
    # the child burns 0.5 s of CPU, says so, and stays alive a while
    burn = ("import time; e = time.process_time() + 0.5\n"
            "while time.process_time() < e: pass\n"
            "print('burnt', flush=True); time.sleep(2)")
    child = subprocess.Popen([sys.executable, "-c", burn], stdout=subprocess.PIPE, text=True)
    assert child.stdout.readline().strip() == "burnt"
    live = cpu()
    child.wait()
    child.stdout.close()
    assert live - c0 >= 0.4
    assert cpu() >= live


def test_untraced_recorder_keeps_no_spans():
    rec = Recorder("r")
    with rec.span("job"):
        rec.call("layer", lambda: None)
    assert rec.spans == [] and len(rec.calls) == 1


def test_union_and_percentiles():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([]) == 0
    assert percentile([1, 2, 3, 4], 50) == 2.5
    assert tail(list(range(19))) == (50.0, 9, 19)
    p, _v, n = tail([float(i) for i in range(200)])
    assert (p, n) == (95.0, 200)


def test_metric_names_are_well_formed():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    assert len(names) == len(set(names))
    for name in names:
        check_metric_name(name)
    with pytest.raises(ValueError):
        check_metric_name("bad name")
    per_layer = {m["name"] for m in bench["per_layer"]}
    emitted = {f"{layer}.{k}" for layer in runner.LAYERS for k in runner.LAYER_FIELDS}
    emitted |= set(runner.EXTRA_METRICS) | {"host.kernel_s", "trace.overhead_ratio"}
    assert emitted == per_layer
    assert {m["name"] for m in bench["end_to_end"]} == {
        "setup_s", "job_cpu_s", "main_step_cpu_s"}


def test_wrong_expected_frame_is_reported():
    a = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5]})
    assert wl.frames_equal(a, a.iloc[::-1]) is None
    assert "column v" in wl.frames_equal(a, a.assign(v=[0.5, 1.25]))
    assert "rows" in wl.frames_equal(a, a.iloc[:1])
    assert wl.multiset_diff(a, a) == 0
    assert wl.multiset_diff(a, pd.concat([a, a.iloc[:1]])) == 1


# ---------------------------------------------------------------------------
# Spark: a short run of every workload, and a wrong result failing a run
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    runner.private_dirs("tests", 0)
    session = runner.start_spark(runner.nproc())
    yield session
    runner.stop_spark(session)


def run_workload(spark, tmp_path, name, capsys, workload=None):
    args = runner.parse_args(["--workload", name, "--seed", "3", "--seconds", "0.1",
                              "--trace", "1"])
    out_dir = tmp_path / "out"
    out_dir.mkdir(exist_ok=True)
    code = runner.run(args, spark, runner.nproc(), str(tmp_path / "work"), str(out_dir),
                      1.0, workload=workload)
    result = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    return code, result


class SmallRecommend(wl.Recommend):
    SHAPE = (300, 100, 0.5)


class SmallIngest(wl.IngestChurn):
    N_ORDERS = 4000


@pytest.mark.parametrize("name,factory,layers", [
    # a traced recommend run also runs the analytics mix
    ("recommend", SmallRecommend, {"recsys.train_als", "sources.readers", "operators.stats",
                                   "recsys.predict_evaluate", *wl.ANALYTICS_LAYERS}),
    ("ingest_churn", SmallIngest, {"sources.snapshot_sink", "sources.snapshot_table.read_cdc",
                                   "sources.snapshot_table.merge_upsert",
                                   "sources.materialized_view.refresh.fold"}),
])
def test_smoke_run_of_each_workload(spark, tmp_path, capsys, name, factory, layers):
    code, result = run_workload(spark, tmp_path, name, capsys, factory())
    assert code == 0 and result["correct"] is True, result
    assert result["attempted"] >= 1 and result["failed"] == 0
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == declared
    called = {k[:-len(".calls")] for k, v in result["metrics"].items()
              if k.endswith(".calls") and v["value"]}
    assert layers <= called, result["metrics"]
    assert list(tmp_path.glob("out/spans-*.jsonl"))


def test_wrong_expected_result_fails_the_run(spark, tmp_path, capsys):
    wrong = {name: pd.DataFrame({"x": [1]}) for name in wl.ANALYTICS_MIX}
    workload = SmallRecommend(mix=wl.AnalyticsMix(wrong))
    code, result = run_workload(spark, tmp_path, "recommend", capsys, workload)
    assert code == 1
    assert result["correct"] is False
