"""Self-test of the benchmark harness at toy size.

Run from the repository root::

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

Checks that every workload in BENCHMARK.json prints exactly the metric
names and units BENCHMARK.json declares (untraced and traced), and that
the correctness gates reject a corrupted result: a tier row dropped, a
decoded value flipped, a stale packed table, a wrong read.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys
from types import SimpleNamespace

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

from inputs import ReadOp, make_round  # noqa: E402
from workloads import REVISE_MONTH, Run, check_read  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _result(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, *SPEC["command"][1:], "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace),
         "--size", "toy"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_printed_metrics_match_benchmark_json(workload, trace):
    res = _result(workload, trace)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0
    assert res["attempted"] >= 1
    declared = SPEC["per_layer" if trace else "end_to_end"]
    assert list(res["metrics"]) == [m["name"] for m in declared]
    for m in declared:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)) and math.isfinite(got["value"])
        if not trace:
            assert got["value"] > 0, m["name"]


def test_exits_nonzero_without_the_program(tmp_path):
    bench = tmp_path / "perfbench"
    bench.mkdir()
    (tmp_path / "BENCHMARK.json").write_text(json.dumps(SPEC))
    for name in ("run.py", "workloads.py", "inputs.py", "tracing.py"):
        (bench / name).write_text(open(os.path.join(BENCH, name)).read())
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "extend",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


# ------------------------------------------------------------------ gates


def _op(kind, month=None):
    return ReadOp(kind, "doc0000000001", month)


def _rows(vals, start_day=1):
    return [
        {"ts": f"2019-11-{d:02d}", "v_mean": v}
        for d, v in enumerate(vals, start_day)
    ]


def test_read_gate_rejects_dropped_row_and_flipped_value():
    vals = [1.5, 2.25, 3.0]
    expect = {("daily", "doc0000000001", "2019-11"): (3, math.fsum(vals))}
    op = _op("daily_month", "2019-11")
    assert check_read(expect, op, _rows(vals)) == []
    assert check_read(expect, op, _rows(vals[:-1]))
    assert check_read(expect, op, _rows([1.5, -2.25, 3.0]))
    assert check_read(expect, op, list(reversed(_rows(vals))))


def test_read_gate_checks_the_gap_fill_grid():
    vals = [1.5, 2.25]
    expect = {("daily", "doc0000000001", "2019-11"): (2, math.fsum(vals))}
    op = _op("daily_month_gapfill", "2019-11")
    full = _rows(vals) + [{"ts": f"2019-11-{d:02d}", "v_mean": None} for d in range(3, 31)]
    assert check_read(expect, op, full) == []
    assert check_read(expect, op, full[:-1])


@pytest.fixture(scope="module")
def toy(tmp_path_factory):
    """A toy pipeline built and gated the way the workloads do it."""
    from c3s_sm_spark.session import get_spark

    spark = get_spark(app_name="perfbench-selftest", master="local[2]",
                      extra_conf={"spark.driver.memory": "1g"})
    work = str(tmp_path_factory.mktemp("perfbench"))
    run = Run(spark, work, seed=3, seconds=1, size="toy")
    run.setup_corpus()
    p = run.build(os.path.join(work, "pipe"))
    yield SimpleNamespace(spark=spark, run=run, p=p)
    spark.stop()


def test_build_gate_rejects_a_dropped_tier_row(toy):
    from pyspark.sql import functions as F

    assert toy.run.check_build(toy.p) == []
    daily = toy.p.tiers["daily"]
    head = daily.head()
    df = daily.read(toy.spark)
    one = df.orderBy("doc_id", "ts").limit(1).collect()[0]
    month = df.where(F.col("pmonth") == one["pmonth"]).where(
        (F.col("doc_id") != one["doc_id"]) | (F.col("ts") != one["ts"])
    )
    daily.overwrite_partitions(month.localCheckpoint(), replace_grain=1)
    try:
        assert any("nobs" in e for e in toy.run.check_build(toy.p))
    finally:
        daily.rollback(head)


def test_build_gate_rejects_a_flipped_decoded_value(toy, monkeypatch):
    from c3s_sm_spark.functions import codecs

    decode = codecs.decode_vals

    def flipped(blob):
        out = decode(blob).copy()
        out[0] = -out[0] - 1.0
        return out

    monkeypatch.setattr(codecs, "decode_vals", flipped)
    assert any("packed daily" in e for e in toy.run.check_build(toy.p))


def test_round_gate_rejects_a_stale_packed_table(toy):
    rnd = make_round(3, toy.run.corpus, 1, revise_month=REVISE_MONTH)
    toy.run.play_round(toy.p, toy.run.frames(rnd))
    assert toy.run.check_round(toy.p, rnd) == []
    packed = toy.p.packed["daily"]
    before = packed.snapshots()[-2]["snapshot_id"]
    packed.rollback(before)
    assert "packed daily is stale" in toy.run.check_round(toy.p, rnd)
