"""The streaming rows' staged inputs, run scratch and checkpoints must
not outlive the process: ``plans.stream_fixtures`` keeps the only
registry of them and sweeps it at exit.  Pure filesystem tests — no
Spark."""

import ast
import atexit
import pathlib
import tempfile

import pytest

from crypto_data_ingestion_module_spark.plans import stream_fixtures as sf

PLANS = pathlib.Path(sf.__file__).parent


@pytest.fixture
def tmp_tempdir(tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(sf, "_DIRS", {})
    return tmp_path


def test_run_dir_removes_the_previous_run_and_sweep_removes_the_rest(
    tmp_tempdir,
):
    first = pathlib.Path(sf.run_dir("x"))
    (first / "lake").mkdir()
    second = pathlib.Path(sf.run_dir("x"))
    other = pathlib.Path(sf.run_dir("y"))
    assert not first.exists() and second.is_dir() and other.is_dir()
    assert second.name.startswith("sgraft_stream_x_run_")

    staged_root = tmp_tempdir / "sgraft_stream_s_cached"
    (staged_root / "in").mkdir(parents=True)
    sf._DIRS[("staged", "s", "/sf")] = str(staged_root)

    sf._sweep()
    sf._sweep()  # a double sweep is harmless
    assert not sf._DIRS
    assert not list(tmp_tempdir.glob("sgraft_*"))


def test_staged_hit_skips_make_parts_and_failed_miss_leaves_nothing(
    tmp_tempdir,
):
    root = tmp_tempdir / "sgraft_stream_s_cached"
    sf._DIRS[("staged", "s", "/sf")] = str(root)

    def boom():
        raise RuntimeError("make_parts ran")

    assert sf.staged("s", "/sf", boom) == str(root / "in")
    with pytest.raises(RuntimeError):
        sf.staged("s", "/other", boom)
    assert ("staged", "s", "/other") not in sf._DIRS
    assert not list(tmp_tempdir.glob("sgraft_*"))


class _RaisingStream:
    """Just enough of a streaming DataFrame for ``drain_to_memory``: the
    sink creates its checkpoint dir, then the run raises."""

    class sparkSession:  # noqa: N801
        class catalog:  # noqa: N801
            listTables = staticmethod(lambda: [])

    def _chain(self, *_, **__):
        return self

    writeStream = property(_chain)
    format = queryName = outputMode = trigger = start = _chain

    def option(self, _key, path):
        pathlib.Path(path, "offsets").mkdir(parents=True)
        return self

    def awaitTermination(self):
        raise RuntimeError("query failed")


def test_drain_removes_its_checkpoint_when_the_run_raises(tmp_tempdir):
    with pytest.raises(RuntimeError, match="query failed"):
        sf.drain_to_memory(_RaisingStream(), "stream_x")
    assert not list(tmp_tempdir.glob("sgraft_*"))


def test_sweep_is_registered_for_exit():
    # atexit keeps no public registry; a registered callable can be
    # unregistered, so re-register afterwards for the real exit sweep
    atexit.unregister(sf._sweep)
    atexit.register(sf._sweep)


def test_no_other_plans_module_keeps_stream_scratch():
    offenders = []
    for path in sorted(PLANS.glob("*.py")):
        if path.name == "stream_fixtures.py":
            continue
        tree = ast.parse(path.read_text())
        for node in ast.walk(tree):
            if isinstance(node, ast.Import) and any(
                a.name == "tempfile" for a in node.names
            ):
                offenders.append((path.name, "import tempfile"))
            elif isinstance(node, ast.ImportFrom) and node.module == "tempfile":
                offenders.append((path.name, "from tempfile"))
        for node in tree.body:
            targets = (
                node.targets
                if isinstance(node, ast.Assign)
                else [node.target]
                if isinstance(node, ast.AnnAssign)
                else []
            )
            offenders += [
                (path.name, t.id)
                for t in targets
                if isinstance(t, ast.Name) and t.id.startswith("_STREAM_")
            ]
    assert not offenders
