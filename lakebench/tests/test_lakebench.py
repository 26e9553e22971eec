"""Tests of the benchmark itself: generator determinism, metric names,
the span accounting, and a smoke run of every workload on tiny inputs.

    python -m pytest lakebench/tests -q

The smoke runs start Spark (about a minute each); ``-k 'not smoke'``
runs the fast tests only.
"""

from __future__ import annotations

import filecmp
import functools
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import gen_ghcn  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402
from aws_lakehouse_spark import catalog  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _tree(root: str) -> list[str]:
    return sorted(
        os.path.relpath(os.path.join(d, f), root) for d, _s, fs in os.walk(root) for f in fs
    )


def _same_files(a: str, b: str) -> bool:
    names = _tree(a)
    return names == _tree(b) and all(
        filecmp.cmp(os.path.join(a, n), os.path.join(b, n), shallow=False) for n in names
    )


def test_fixtures_are_the_engine_test_data():
    """Every committed fixture has its recorded checksum, and equals the
    engine's reference test data byte for byte where that data exists."""
    ref_root = os.path.dirname(catalog.DEFAULT_SF_DIR)
    with open(os.path.join(workloads.FIXTURES, "SHA256SUMS")) as fh:
        listed = dict(reversed(line.split()) for line in fh)
    for sf in ("sf0.01", "sf0.001"):
        assert {f"{sf}/{t}.parquet" for t in catalog.TABLES} <= set(listed)
    for rel, digest in listed.items():
        path = os.path.join(workloads.FIXTURES, rel)
        with open(path, "rb") as fh:
            assert hashlib.sha256(fh.read()).hexdigest() == digest, rel
        ref = os.path.join(ref_root, rel)
        if os.path.exists(ref):
            assert filecmp.cmp(path, ref, shallow=False), rel


def test_ghcn_generator_is_deterministic_and_counts_add_up(tmp_path):
    a, _ = gen_ghcn.generate(str(tmp_path / "a"), 3, 40, 7)
    b, _ = gen_ghcn.generate(str(tmp_path / "b"), 3, 40, 7)
    assert _same_files(str(tmp_path / "a"), str(tmp_path / "b"))
    assert [(p.valid_rows, p.corrections, p.withdrawn_station) for p in a] == [
        (p.valid_rows, p.corrections, p.withdrawn_station) for p in b
    ]
    for p in a:
        n = p.new_rows
        assert n == 40 * len(gen_ghcn.ELEMENTS)
        assert p.rows == (p.day + 1) * n
        dropped = round(gen_ghcn.BAD_Q_SHARE * n) + round(gen_ghcn.NULL_SHARE * n)
        assert p.valid_rows == n - dropped == len(p.gold)
        assert p.n_updates + p.n_inserts == len(p.corrections)


def test_ghcn_day_dataset_is_the_year_to_date(tmp_path):
    """Day d's dataset holds day d's files plus every earlier day's files,
    byte for byte as that day wrote them."""
    plans, _ = gen_ghcn.generate(str(tmp_path), 3, 40, 7)
    for prev, cur in zip(plans, plans[1:]):
        old = _tree(prev.source_dir)
        new = _tree(cur.source_dir)
        assert set(old) < set(new)
        assert all(f"part-{cur.day:05d}" in n for n in set(new) - set(old))
        assert all(
            filecmp.cmp(os.path.join(prev.source_dir, n), os.path.join(cur.source_dir, n),
                        shallow=False)
            for n in old
        )


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    e2e = [(m["name"], m["unit"]) for m in spec["end_to_end"]]
    layer = [(m["name"], m["unit"]) for m in spec["per_layer"]]
    assert e2e == run.END_TO_END
    assert layer == run.PER_LAYER
    names = [n for n, _u in e2e + layer + run.LAYER_TABLE_ONLY] + [
        w["name"] for w in spec["workloads"]
    ]
    assert all(NAME.match(n) for n in names), names
    assert len(set(names)) == len(names)
    assert ("setup_s", "s") in e2e


def _span(i, layer, start, end, parent=None, op=1, jobs=(), stages=()):
    sp = spans.Span(id=i, name=f"s{i}", layer=layer, parent=parent, op=op, start=start, end=end)
    sp.jobs = [
        {"jobId": j, "submissionTime": _stamp(a), "completionTime": _stamp(b)}
        for j, (a, b) in enumerate(jobs)
    ]
    sp.stages = list(stages)
    return sp


def _stamp(t: float) -> str:
    from datetime import datetime, timezone

    dt = datetime.fromtimestamp(t, tz=timezone.utc)
    return dt.strftime("%Y-%m-%dT%H:%M:%S.") + f"{dt.microsecond // 1000:03d}GMT"


T0 = 1_700_000_000.0


def _op_spans(late_job_end: float = 8.0):
    t = T0
    root = _span(1, "registry", t, t + 10)
    build = _span(2, "plans", t + 1, t + 3, parent=1, jobs=[(t + 2, t + 2.5)])
    act = _span(3, "spark", t + 4, t + 9, parent=1,
                jobs=[(t + 5, t + 7), (t + 6, t + late_job_end)],
                stages=[{"executorRunTime": 1500, "numCompleteTasks": 4}])
    return [build, act, root]


def test_self_times_add_up_to_the_op_wall():
    rec = spans.op_record(_op_spans())
    self_s = sum(v for k, v in rec.items() if k.endswith(".self_s"))
    assert self_s == pytest.approx(rec["op.wall_s"])
    assert rec["op.wall_s"] == pytest.approx(10)
    assert rec["spark.self_s"] == pytest.approx(3.5)  # 0.5 eager + union of [5,8]
    assert rec["driver.non_job_s"] == pytest.approx(6.5)
    assert rec["plans.build_s"] == pytest.approx(1.5)
    assert rec["plans.eager_jobs"] == 1
    assert rec["driver.self_s"] == pytest.approx(2)  # action time outside its jobs
    assert rec["registry.self_s"] == pytest.approx(3)  # [0,1] + [3,4] + [9,10]
    assert rec["spark.exec_run_s"] == pytest.approx(1.5)
    assert rec["spark.tasks"] == 4
    assert rec["trace.misplaced_jobs"] == rec["trace.stray_jobs"] == 0


def test_a_job_outside_its_span_is_reported():
    # the second job ends 1.5 s after its span (and 0.5 s after the op)
    rec = spans.op_record(_op_spans(late_job_end=10.5))
    assert rec["trace.misplaced_jobs"] == 1
    assert rec["trace.job_s_outside_span"] == pytest.approx(1.5, abs=spans.STAMP_RES_S)
    # a job that never completed is misplaced too
    sps = _op_spans()
    del sps[1].jobs[0]["completionTime"]
    assert spans.op_record(sps)["trace.misplaced_jobs"] == 1


def test_a_job_of_no_span_during_the_op_is_reported():
    def job(at):
        return {"jobId": 99, "submissionTime": _stamp(T0 + at), "completionTime": _stamp(T0 + at + 1)}

    # a job of another group submitted mid-op is stray; one submitted
    # before the op (an earlier op's check) is not
    assert spans.op_record(_op_spans(), [job(3.5)])["trace.stray_jobs"] == 1
    assert spans.op_record(_op_spans(), [job(-2)])["trace.stray_jobs"] == 0


def test_parse_metric():
    assert spans.parse_metric("1,024") == 1024
    assert spans.parse_metric("2.0 KiB") == 2048
    assert spans.parse_metric("total (min, med, max (stageId: taskId))\n1.5 MiB (0 B, 1 B, 2 B)") == 1.5 * 2**20


SMOKE = {
    "star_sql": ["--sf", "0.001"],
    "curation_iterative": ["--sf", "0.001"],
    "medallion_daily": ["--stations", "50"],
}


@functools.lru_cache(maxsize=None)
def _smoke(workload: str, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "5", "--seconds", "0", "--trace", str(trace), *SMOKE[workload]],
        cwd=ROOT, capture_output=True, text=True, timeout=900, check=True,
    ).stdout.strip().splitlines()
    return json.loads(out[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(SMOKE))
def test_smoke_run_emits_every_metric(workload, trace):
    res = _smoke(workload, trace)
    want = run.PER_LAYER if trace else run.END_TO_END
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["attempted"] >= 1
    assert [(n, res["metrics"][n]["unit"]) for n, _u in want] == want
    assert all(isinstance(res["metrics"][n]["value"], float) for n, _u in want)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(SMOKE))
def test_smoke_run_has_no_failed_op(workload, trace):
    res = _smoke(workload, trace)
    assert res["failed"] == 0 and res["correct"]


# sources.writers.sink_partition_overwrite writes with saveAsTable in
# overwrite mode, which replaces the whole table instead of the date
# partitions present. medallion_daily ingests year-to-date drops, on
# which that gives the right table; a feed of one day per drop loses
# every earlier day.
@pytest.mark.xfail(
    strict=True, raises=AssertionError, reason="sink_partition_overwrite replaces the whole table"
)
def test_smoke_daily_delta_drops_keep_earlier_days(tmp_path):
    from aws_lakehouse_spark.session import get_spark
    from aws_lakehouse_spark.sources.pipeline import PipelineConfig, run_pipeline

    plans, _ = gen_ghcn.generate(str(tmp_path / "ghcn"), 2, 40, 3)
    spark = get_spark("lakebench-test", master="local[2]", extra_conf={
        "spark.sql.warehouse.dir": str(tmp_path / "warehouse"),
    })
    try:
        for p in plans:
            delta = tmp_path / f"delta{p.day}"
            for rel in _tree(p.source_dir):
                if f"part-{p.day:05d}" in rel:  # this day's observations only
                    os.makedirs(os.path.dirname(delta / rel), exist_ok=True)
                    shutil.copyfile(os.path.join(p.source_dir, rel), delta / rel)
            run_pipeline(spark, PipelineConfig(
                source_path=str(delta), bronze_root=str(tmp_path / "bronze"),
                dataset=f"observations_{p.obs_date}",
            ))
        rows = spark.table("gold.fact_climate").count()
    finally:
        spark.stop()
    assert rows == sum(p.valid_rows for p in plans)
