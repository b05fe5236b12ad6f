from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from qcflow.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("QCFLOW_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_ORACLE = os.environ.get("QCFLOW_ORACLE_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("qcflow-tests", cpus=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


CLIPS_T2K = str(REPO / ".cache" / "clips_t2k")


@pytest.fixture(scope="session")
def clips_t2k(spark):
    """The shared 2k-clip synthetic table. Materialized here (not only in
    test_qc_pipeline/test_resume) because .cache/ is wiped between driver
    rounds and test_plans.py runs alphabetically first."""
    if not os.path.exists(f"{CLIPS_T2K}/clips.parquet/_SUCCESS"):
        from qcflow import synth

        synth.generate_clips(spark, 2000, CLIPS_T2K, partitions=8)
    return f"{CLIPS_T2K}/clips.parquet"
