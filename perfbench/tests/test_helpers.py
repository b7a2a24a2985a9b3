"""Tests for the benchmark's own helpers.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys
from types import SimpleNamespace

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

from gen import EnvelopeGen, state_hash, write_lines  # noqa: E402
from stats import tail  # noqa: E402
from tracing import ProgressLog  # noqa: E402


def test_tail_keeps_ten_samples_beyond():
    xs = list(range(1, 101))
    t = tail(xs)
    assert t == {"value": 90.0, "percentile": 90.0, "n": 100}
    assert sum(x > t["value"] for x in xs) == 10


def test_tail_on_few_samples():
    assert tail(range(10)) is None
    t = tail([5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 0.0, 10.0])
    assert t["value"] == 0.0 and t["n"] == 11 and t["percentile"] == pytest.approx(9.1)


def _progress(run, source, batch, rows=10):
    return SimpleNamespace(
        progress=SimpleNamespace(
            runId=run,
            batchId=batch,
            numInputRows=rows,
            sources=[SimpleNamespace(description=f"FileStreamSource[file:{source}]")],
        )
    )


def test_progress_of_a_previous_query_is_not_attributed():
    log = ProgressLog()
    log.onQueryProgress(_progress("seed-run", "/t/in/seed", 0, rows=200_000))
    log.onQueryProgress(_progress("chg-run", "/t/in/chg", 0))
    # the seed query's last event arrives after the next query has started
    log.onQueryProgress(_progress("seed-run", "/t/in/seed", 1, rows=0))
    log.onQueryProgress(_progress("chg-run", "/t/in/chg", 1))
    log.onQueryProgress(_progress("chg-run", "/t/in/chg", 2, rows=0))  # idle batch
    got = log.wait_batches("/t/in/chg", 2, timeout=1)
    assert [(str(p.runId), p.batchId) for p in got] == [("chg-run", 0), ("chg-run", 1)]
    assert log.runs_reading("/t/in/seed") == ["seed-run"]


def test_waits_for_every_expected_batch():
    log = ProgressLog()
    log.onQueryProgress(_progress("chg-run", "/t/in/chg", 0))
    with pytest.raises(TimeoutError):
        log.wait_batches("/t/in/chg", 2, timeout=0.2)


def test_generator_emits_every_kind():
    g = EnvelopeGen(3, zipf=1.2)
    g.snapshot(100)
    g.changes(2_000, p_update=0.7, p_delete=0.1, p_insert=0.05, p_malformed=0.05,
              p_replay=0.05, p_late=0.05)
    assert {"r", "c", "u", "d", "replay", "late", "malformed"} <= set(g.emitted)
    assert g.malformed == g.emitted["malformed"]


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from cdc_postgresql_clickhouse_spark import get_spark

    tmp = tmp_path_factory.mktemp("spark")
    s = get_spark(
        app_name="perfbench-test",
        master="local[2]",
        shuffle_partitions=2,
        extra_confs={
            "spark.driver.memory": "1g",
            "spark.ui.enabled": "false",
            "spark.local.dir": str(tmp),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.mark.parametrize("zipf", [0.0, 1.2])
def test_expected_state_matches_engine(spark, tmp_path, zipf):
    from pyspark.sql import functions as F

    from cdc_postgresql_clickhouse_spark.operators.state import current_state, read_state
    from cdc_postgresql_clickhouse_spark.streaming.pipeline import run_cdc_pipeline

    g = EnvelopeGen(11, zipf=zipf)
    write_lines(str(tmp_path / "seed" / "part-0000.json"), g.snapshot(300))
    for i in range(3):
        lines = g.changes(400, p_update=0.6, p_delete=0.15, p_insert=0.05, p_malformed=0.05,
                          p_replay=0.08, p_late=0.07)
        write_lines(str(tmp_path / "chg" / f"part-{i:04d}.json"), lines)
    state, dlq = str(tmp_path / "state"), str(tmp_path / "dlq")
    run_cdc_pipeline(spark, str(tmp_path / "seed"), state, str(tmp_path / "ck0"))
    run_cdc_pipeline(spark, str(tmp_path / "chg"), state, str(tmp_path / "ck1"),
                     dlq_path=dlq, max_files_per_trigger=1)

    rows = (
        current_state(read_state(spark, state))
        .select("booking_id", "status", "is_canceled", F.unix_micros("created_at"),
                F.unix_micros("modified_at"), "version")
        .collect()
    )
    assert len(rows) == len(g.expected_rows())
    assert state_hash(tuple(r) for r in rows) == g.expected_hash()
    assert spark.read.json(dlq).count() == g.malformed > 0
