"""After a process exits, nothing it made may remain in its temp dir:
not the scratch streaming registry rows staged or drained, nor the
package zip shipped to executors."""

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


_SHIP = """
import os, types, zipfile
from crypto_data_ingestion_module_spark import session

shipped = []

def add_py_file(path):
    names = zipfile.ZipFile(path).namelist()
    assert "crypto_data_ingestion_module_spark/session.py" in names, names
    shipped.append(path)

sc = types.SimpleNamespace(addPyFile=add_py_file)
for _ in range(2):
    session._ship_package(types.SimpleNamespace(sparkContext=sc))
assert len(shipped) == 1 and os.path.exists(shipped[0]), shipped
print(shipped[0])
"""


def test_shipped_package_zip_is_removed_at_exit(tmp_path):
    """The zip ``session`` ships to executors lives in a temp dir of its
    process's own, removed when the process exits."""
    env = dict(os.environ, TMPDIR=str(tmp_path), PYTHONPATH=str(REPO))
    proc = subprocess.run(
        [sys.executable, "-c", _SHIP],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    shipped = pathlib.Path(proc.stdout.strip())
    assert shipped.parent.parent == tmp_path
    assert sorted(tmp_path.iterdir()) == []
