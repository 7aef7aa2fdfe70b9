"""Fast checks of the measurement scripts under scripts/, without a
Spark session: every script imports, the sf1 gate's family table
matches its recorded bounds, and the script CLIs and the package's
``profile`` command reject bad usage before they build a session."""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPTS = os.path.join(REPO, "scripts")


def _run(*args: str) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, *args], cwd=REPO,
                          capture_output=True, text=True, timeout=300)


def test_every_script_imports_without_a_jvm():
    paths = sorted(glob.glob(os.path.join(SCRIPTS, "*.py")))
    assert paths
    code = (
        "import importlib.util, os, sys\n"
        f"sys.path[:0] = [{REPO!r}, {SCRIPTS!r}]\n"
        "for p in sys.argv[1:]:\n"
        "    name = os.path.basename(p)[:-3]\n"
        "    spec = importlib.util.spec_from_file_location(name, p)\n"
        "    spec.loader.exec_module(importlib.util.module_from_spec(spec))\n"
        "from pyspark import SparkContext\n"
        "assert SparkContext._gateway is None, 'a script started a JVM'\n")
    p = _run("-c", code, *paths)
    assert p.returncode == 0, p.stderr[-3000:]


def test_sf1_families_match_recorded_bounds():
    sys.path.insert(0, SCRIPTS)
    from sf1_regression import FAMILIES

    from data_warehouse_project_spark import registry
    names = [q for queries, _, _ in FAMILIES.values() for q in queries]
    assert len(names) == len(set(names))
    with open(os.path.join(REPO, "tests", "sf1_bounds.json")) as f:
        scales = json.load(f)["scales"]
    for sk in ("sf0.1", "sf1.0"):
        assert set(names) == set(scales[sk]), sk
    assert set(names) <= set(registry.queries())


def test_sf1_regression_rejects_unknown_family():
    p = _run(os.path.join(SCRIPTS, "sf1_regression.py"), "--family", "bogus")
    assert p.returncode == 2, p.stderr[-2000:]


def test_measure_requires_a_subcommand():
    p = _run(os.path.join(SCRIPTS, "measure.py"))
    assert p.returncode != 0
    assert "scaling" in p.stderr


def test_profile_rejects_unknown_query_without_a_jvm():
    # a JVM start would log its log4j banner to stderr first
    p = _run("-m", "data_warehouse_project_spark", "profile", "no_such_query")
    assert p.returncode == 2, p.stderr[-2000:]
    assert p.stderr == "unknown query 'no_such_query'; try 'list'\n"
