"""After a process that ran streaming registry rows exits, nothing they
staged or drained may remain in its temp dir."""

import os
import pathlib
import subprocess
import sys

from tests.conftest import SF_SMALL

REPO = pathlib.Path(__file__).resolve().parents[1]

_RUN = f"""
from crypto_data_ingestion_module_spark.plans.queries import queries
from crypto_data_ingestion_module_spark.session import get_spark

spark = get_spark("stream-leak", cpus=2)
for name in (
    "stream_rollup_1h",
    "stream_ivm_order_customer",
    "stream_cross_venue_spread",
):
    assert queries()[name](spark, {SF_SMALL!r}).count() > 0, name
"""


def test_streaming_rows_leave_no_scratch_after_exit(tmp_path):
    env = dict(os.environ, TMPDIR=str(tmp_path), PYTHONPATH=str(REPO))
    proc = subprocess.run(
        [sys.executable, "-c", _RUN],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert sorted(p.name for p in tmp_path.glob("sgraft_*")) == []
