"""Tests of the benchmark's own machinery.

Run from the repository root:

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import pytest

BENCH = Path(__file__).resolve().parent.parent
sys.path[:0] = [str(BENCH), str(BENCH.parent)]

import layers  # noqa: E402
import oracle  # noqa: E402

GROUPS = [("CF_DNA_Negative$", "^CF_DNA"), ("CF_RNA_Negative$", "^CF_RNA")]


def _job(job_id: int, submit: float, end: float) -> layers.Job:
    return layers.Job(job_id, submit, end, None)


def test_within_takes_jobs_submitted_inside_the_span():
    span = layers.Span("call", 10.0, 20.0)
    jobs = [_job(0, 9.0, 12.0), _job(1, 10.0, 11.0), _job(2, 19.5, 25.0), _job(3, 20.5, 21.0)]
    assert [j.job_id for j in layers.within(span, jobs)] == [1, 2]


def test_busy_s_is_the_union_of_job_intervals_clipped_to_the_span():
    span = layers.Span("call", 10.0, 20.0)
    jobs = [_job(0, 11.0, 14.0), _job(1, 12.0, 13.0), _job(2, 13.5, 15.0), _job(3, 18.0, 30.0)]
    assert layers.busy_s(span, jobs) == pytest.approx(4.0 + 2.0)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    tmp = tmp_path_factory.mktemp("spark")
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_LOCAL_DIRS", str(tmp))
    from bigbugdata_spark.session import get_spark

    session = get_spark(extra_conf={"spark.ui.showConsoleProgress": "false"})
    yield session
    session.stop()


def test_pool_thread_job_is_attributed_to_the_call_that_ran_it(spark):
    spark.range(10).count()  # a job before the call
    with layers.Span("call") as call, ThreadPoolExecutor(max_workers=2) as ex:
        ex.submit(lambda: spark.range(1000).selectExpr("sum(id)").collect()).result()
    time.sleep(0.01)
    with layers.Span("after") as after:
        spark.range(10).count()

    jobs = layers.spark_jobs(spark)
    inside = layers.within(call, jobs)
    assert len(inside) >= 1
    # job groups cannot attribute it: a pool thread's job carries none
    assert all(j.group is None for j in inside)
    later = {j.job_id for j in layers.within(after, jobs)}
    assert later and not later & {j.job_id for j in inside}
    stages = layers.within(call, layers.spark_stages(spark))
    assert sum(s.tasks for s in stages) >= 1
    assert 0 < layers.busy_s(call, jobs) <= call.wall_s


@pytest.mark.parametrize("mode", ["fidelity", "scale"])
def test_oracle_accepts_the_program_and_rejects_a_changed_cell(spark, tmp_path, mode):
    from bigbugdata_spark.operators.kraken import run_pipeline, write_outputs
    from tests.kraken_fixtures import generate_reports

    paths = sorted(generate_reports(tmp_path / "reports", n_samples=8, n_taxa=200, seed=3))
    expected = oracle.expected_outputs(paths, 15, GROUPS)
    result = run_pipeline(spark, paths, rank="species", n_tophits=15, group_patterns=GROUPS)
    write_outputs(result, str(tmp_path / "out"), "species", mode=mode)
    assert oracle.check_outputs(expected, tmp_path / "out", mode) == []

    combined = tmp_path / "out" / "combined_species.csv"
    if mode == "scale":
        (combined,) = combined.glob("part-*.csv")
    lines = combined.read_text().split("\n")
    cells = lines[1].split(",")
    cells[-1] = str(int(cells[-1]) + 1)
    lines[1] = ",".join(cells)
    combined.write_text("\n".join(lines))
    assert oracle.check_outputs(expected, tmp_path / "out", mode) != []
