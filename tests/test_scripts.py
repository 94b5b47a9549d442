"""Tests for the repo's round close-out scripts (no SparkSession).

perf_diff must compare EVERY section present in both artifacts: r7's
1.23x settled-headline drift passed ungated because the diff stopped at
the first common section (sweep) when both files carried sweep AND
headline blocks (ADVICE r7, scripts/perf_diff.py:62).
"""

from __future__ import annotations

import importlib.util
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PERF_DIFF = os.path.join(REPO, "scripts", "perf_diff.py")


def _run(*argv: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, PERF_DIFF, *argv],
        capture_output=True,
        text=True,
    )


def _write(tmp_path, name: str, payload: dict) -> str:
    p = tmp_path / name
    p.write_text(json.dumps(payload))
    return str(p)


def test_headline_only_regression_is_flagged(tmp_path):
    """Both files have sweep AND headline; sweep is clean, headline
    regresses 2x — the diff must flag it (exit 2) and say which."""
    old = _write(
        tmp_path,
        "old.json",
        {
            "sweep": {"q1": 1.0, "q2": 2.0},
            "headline": {"q1": 1.0, "q2": 2.0},
        },
    )
    new = _write(
        tmp_path,
        "new.json",
        {
            "sweep": {"q1": 1.0, "q2": 2.0},
            "headline": {"q1": 2.0, "q2": 2.0},
        },
    )
    res = _run(new, old)
    assert res.returncode == 2, res.stdout + res.stderr
    assert "FLAGGED headline" in res.stdout
    assert "comparing sweep timings" in res.stdout
    assert "comparing headline timings" in res.stdout


def test_sweep_only_regression_still_flagged(tmp_path):
    old = _write(
        tmp_path,
        "old.json",
        {"sweep": {"q1": 1.0}, "headline": {"q1": 1.0}},
    )
    new = _write(
        tmp_path,
        "new.json",
        {"sweep": {"q1": 9.0}, "headline": {"q1": 1.0}},
    )
    res = _run(new, old)
    assert res.returncode == 2, res.stdout + res.stderr
    assert "FLAGGED sweep" in res.stdout


def test_clean_both_sections_exit_zero(tmp_path):
    old = _write(
        tmp_path,
        "old.json",
        {"sweep": {"q1": 1.0}, "headline": {"q1": 1.0}},
    )
    new = _write(
        tmp_path,
        "new.json",
        {"sweep": {"q1": 1.1}, "headline": {"q1": 0.9}},
    )
    res = _run(new, old)
    assert res.returncode == 0, res.stdout + res.stderr


def test_driver_bench_artifact_headline_fallback(tmp_path):
    """A driver BENCH_r{N}.json (parsed headline only) still pairs with
    a full PERF artifact on the headline section."""
    old = _write(
        tmp_path,
        "old.json",
        {"parsed": {"queries": {"q1": 1.0, "q2": 1.0}}},
    )
    new = _write(
        tmp_path,
        "new.json",
        {"sweep": {"q1": 5.0}, "headline": {"q1": 1.0, "q2": 3.0}},
    )
    res = _run(new, old)
    assert res.returncode == 2, res.stdout + res.stderr
    assert "q2" in res.stdout
    # sweep has no counterpart in the driver artifact: must not crash,
    # must still diff the headline
    assert "comparing headline timings" in res.stdout


def test_reach_reports_only_the_def_no_root_reaches(tmp_path):
    """reach.py on a three-file tree: the root calls ``a``, ``a`` calls
    ``b``, nothing calls ``c`` — only ``c`` is reported."""
    pkg = tmp_path / "pkg"
    pkg.mkdir()
    (pkg / "__init__.py").write_text("")
    (pkg / "mod.py").write_text(
        "def a():\n    return b()\n\n\n"
        "def b():\n    return 1\n\n\n"
        "def c():\n    return 2\n"
    )
    (tmp_path / "bench.py").write_text("from pkg.mod import a\n\na()\n")
    res = subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "reach.py"), str(tmp_path)],
        capture_output=True,
        text=True,
    )
    assert res.returncode == 0, res.stderr
    assert res.stdout.splitlines() == [
        f"{os.path.join('pkg', 'mod.py')}: 2 lines",
        "  c (2)",
        "total: 2 lines in 1 test-only top-level defs",
    ]


#: Package defs that only tests reach, per ``scripts/reach.py``, by file
#: under the package.  Wiring one into a pipeline or deleting it shrinks
#: the set (then drop it here); a new test-only def fails the test below.
TEST_ONLY_DEFS = {
    "operators/curation.py": ("materialize_clusters", "read_clusters"),
    "operators/dedup.py": ("dedup_keep_last_window",),
    "operators/graph.py": ("_is_star_forest",),
    "operators/ivm.py": ("recompute_join",),
    "operators/linear.py": ("perceptron_margin",),
    "operators/multimodal.py": (
        "is_wav", "decode_wav_bytes", "is_ppm", "_parse_ppm_header",
        "_grid_luma_features", "decode_ppm_bytes", "resize_ppm_bytes",
        "is_png", "_png_unfilter", "png_to_rgb", "decode_png_bytes",
        "png_to_ppm", "_decode_any", "decode_image_batch", "decode_assets",
        "make_resize_kernel", "resize_assets", "demux_ppm_stream",
        "sample_frames_batch", "sample_frames", "documents_as_assets",
    ),
    "operators/quantize.py": ("dequantize",),
    "operators/rollup.py": ("cascade_partials",),
    "operators/sampling.py": ("stratified_fractions",),
    "operators/similarity.py": ("lsh_bucket",),
    "operators/text_dedup.py": ("char_shingles", "word_shingles", "_hash_i"),
    "plans/extensions.py": ("_curated_q_inline",),
    "plans/queries.py": ("dsum_wide",),
    "session.py": ("load_tables", "register_views"),
    "sources/derivatives.py": ("derivatives_scan", "options_scan"),
    "sources/http.py": ("RecordedTransport",),
    "streaming/metrics.py": ("IngestProgressListener", "register_listener"),
}


def test_test_only_defs_do_not_grow():
    """reach.py on this repo finds no test-only def outside the pinned
    set: code only the tests call does not come back."""
    spec = importlib.util.spec_from_file_location(
        "reach", os.path.join(REPO, "scripts", "reach.py")
    )
    reach = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(reach)
    found = {
        (rel.replace(os.sep, "/"), name)
        for rel, defs in reach.scan(REPO).items()
        for name, _ in defs
    }
    pinned = {
        (f"crypto_data_ingestion_module_spark/{rel}", name)
        for rel, names in TEST_ONLY_DEFS.items()
        for name in names
    }
    assert found <= pinned, sorted(found - pinned)


def test_every_plans_module_imports_first():
    """Each plan module imports on its own in a fresh interpreter: they
    read rows ``plans.queries`` registers before importing them, so the
    package loads the registry first."""
    for mod in ("curation", "extensions", "indicators", "funnel", "relational"):
        res = subprocess.run(
            [
                sys.executable,
                "-c",
                f"import crypto_data_ingestion_module_spark.plans.{mod}\n"
                "from crypto_data_ingestion_module_spark.plans.queries import "
                "QUERY_SPECS\n"
                "print(len(QUERY_SPECS))",
            ],
            capture_output=True,
            text=True,
            cwd=REPO,
        )
        assert res.returncode == 0, (mod, res.stderr[-2000:])
        assert int(res.stdout.split()[-1]) > 0, mod


def test_no_script_puts_a_cwd_relative_path_on_sys_path():
    """Every script finds the package from any directory: a relative or
    ``os.getcwd()`` entry on ``sys.path`` resolves against the caller's
    directory, so the script only runs from the repo root.  Static: the
    scripts are parsed, not run."""
    import ast
    import glob

    bad = []
    for path in sorted(glob.glob(os.path.join(REPO, "scripts", "*.py"))):
        with open(path) as fh:
            tree = ast.parse(fh.read())
        for node in ast.walk(tree):
            if not (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("insert", "append")
                and ast.unparse(node.func.value) == "sys.path"
                and node.args
            ):
                continue
            entry = node.args[-1]
            relative = isinstance(entry, ast.Constant) and not os.path.isabs(
                str(entry.value)
            )
            if relative or "getcwd" in ast.unparse(entry):
                bad.append(f"{os.path.basename(path)}:{node.lineno}")
    assert not bad, bad
