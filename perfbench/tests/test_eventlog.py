"""The event-log reader is exact on a small captured log.

``data/eventlog_small.jsonl`` is a Spark 4.1 event log of three job
groups (a parquet scan in ``construct``, a two-job aggregate in
``execute``, a mapInPandas pass in ``py``), trimmed to the events and
fields the reader uses.
"""

import os

import pytest

import eventlog

LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog_small.jsonl")


@pytest.fixture(scope="module")
def groups():
    return eventlog.read(LOG)


def test_groups(groups):
    assert set(groups) == {"wl|0|q|construct", "wl|0|q|execute", "wl|0|py|execute"}


def test_construct_group(groups):
    g = groups["wl|0|q|construct"]
    assert (g.jobs, g.stages, g.tasks) == (1, 1, 1)
    assert g.job_s == pytest.approx(0.815, abs=1e-9)
    assert g.run_s == pytest.approx(0.395, abs=1e-9)
    assert g.cpu_s == pytest.approx(0.042343161, abs=1e-12)
    assert g.gc_s == pytest.approx(0.010, abs=1e-9)
    assert g.sql_start is None  # its job ran outside any SQL execution


def test_execute_group(groups):
    g = groups["wl|0|q|execute"]
    assert (g.jobs, g.stages, g.tasks) == (2, 2, 2)
    assert g.job_s == pytest.approx(0.737 + 0.243, abs=1e-9)
    assert g.task_s == pytest.approx(0.683 + 0.186, abs=1e-9)
    assert g.run_s == pytest.approx(0.619 + 0.128, abs=1e-9)
    assert g.cpu_s == pytest.approx((593678328 + 120840857) / 1e9, abs=1e-12)
    assert g.gc_s == pytest.approx(0.018, abs=1e-9)
    assert g.peak_exec_mem_bytes == 67370992
    assert (g.input_bytes, g.shuffle_write_bytes, g.shuffle_read_bytes, g.spill_bytes) == (2397, 102, 102, 0)
    assert (g.scan_ms, g.fetch_wait_ms) == (302, 0)
    assert g.py_tasks == 0
    assert g.max_stage_skew == 1.0
    assert g.sql_start == pytest.approx(1792236967.964, abs=1e-6)


def test_python_group(groups):
    g = groups["wl|0|py|execute"]
    assert (g.jobs, g.stages, g.tasks, g.py_tasks, g.py_input_records) == (1, 1, 1, 1, 59821)
    assert (g.py_sent_bytes, g.py_returned_bytes) == (494648, 479624)
    assert (g.py_start_ms, g.py_init_ms, g.py_run_ms, g.scan_ms) == (1553, 335, 2262, 23)
    assert g.sql_start == pytest.approx(1792236971.231, abs=1e-6)
