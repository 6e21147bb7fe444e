"""Self-tests of the benchmark at a tiny size.

    python -m pytest perfbench -q        (from the root of the checkout)

They check that one command prints every metric of BENCHMARK.json by
name and unit, that the generator's expected state matches what it puts
on the wire, and that the correctness gate fires on a corrupted sink.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import cdcgen  # noqa: E402

SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def _run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace), "--scale", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize(
    "workload,trace",
    [(w["name"], t) for w in SPEC["workloads"] for t in (0, 1)],
)
def test_prints_every_metric_with_its_unit(workload, trace):
    out = _run(workload, trace)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    want = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {n: m["unit"] for n, m in out["metrics"].items()} == {
        m["name"]: m["unit"] for m in want
    }
    for name, m in out["metrics"].items():
        assert isinstance(m["value"], float), name
        if not trace:
            assert m["value"] > 0, name


def test_expected_state_matches_the_wire():
    """Replaying the rendered lines gives the state ChangeStream reports."""
    stream = cdcgen.ChangeStream(7, 50)
    lines = [cdcgen.render(ev) for ev in stream.fill() + stream.changes(2000)]
    state: dict[int, int] = {}
    for line in lines:
        ev = json.loads(line)
        if ev["event_type"] == "delete":
            del state[ev["pk"]]
        elif ev["event_type"] != "update_before":
            state[ev["pk"]] = ev["val"]
    assert state == stream.live
    assert cdcgen.digest(state) == cdcgen.digest(stream.live)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    import run

    run_dir = str(tmp_path_factory.mktemp("perfbench"))
    shutil.rmtree(run_dir)
    os.makedirs(run_dir)
    saved = dict(os.environ)
    os.environ.update(run.pinned_env(run_dir))
    from maxscale_cdc_spark.session import get_spark

    session = get_spark("perfbench-selftest")
    yield session
    session.stop()
    os.environ.clear()
    os.environ.update(saved)


def test_gate_fires_on_corrupted_sink(spark, tmp_path):
    import worker

    args = type("Args", (), {"scale": "tiny", "trace": 0, "seed": 5})
    os.environ["PERFBENCH_RUN_DIR"] = str(tmp_path)
    run = worker.Run(args)
    run.spark = spark
    batches, expected = worker.served_batches(5, 400, 60)
    assert len(batches) > 2
    sink = worker.filled_sink(run, str(tmp_path / "sink"), batches)
    want = cdcgen.digest(expected)
    worker.check_sink(run, sink, want, "intact")
    assert run.failed == 0

    pk, val = next(iter(expected.items()))
    bad = spark.createDataFrame([(pk, 1 << 40, "update_after", val + 1)], worker.STATE_SCHEMA)
    sink.merge(bad, 99)
    worker.check_sink(run, sink, want, "corrupted")
    assert run.failed == 1 and "corrupted" in run.problems[0]
