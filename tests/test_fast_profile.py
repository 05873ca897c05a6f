"""The FAST profile (conftest.py) trims the default sweep only: a test
named explicitly on the command line is collected even when
tests/fast_profile_deselect.json lists it. Collection-only subprocess
runs — no Spark session starts."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_LISTED = "test_snapshot_model::test_random_op_sequences_match_model[0]"


def _collect(args: list[str], cwd: str) -> list[str]:
    env = {k: v for k, v in os.environ.items() if k != "BESK_FULL_SUITE"}
    out = subprocess.run(
        [sys.executable, "-m", "pytest", "--collect-only", "-q",
         "-p", "no:cacheprovider", *args],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=300,
    )
    return out.stdout.splitlines()


def test_listed_case_is_in_the_deselect_list():
    with open(os.path.join(_ROOT, "tests", "fast_profile_deselect.json")) as f:
        assert _LISTED in json.load(f)["deselect"]


@pytest.mark.parametrize("cwd", ["root", "tests"])
def test_named_node_id_is_collected_despite_the_list(cwd):
    # run from the tests dir, pytest roots node ids there
    node = "test_snapshot_model.py::test_random_op_sequences_match_model[0]"
    if cwd == "root":
        node = "tests/" + node
    got = _collect([node], _ROOT if cwd == "root" else os.path.join(_ROOT, "tests"))
    assert node in got


def test_named_function_keeps_all_its_params_and_module_run_still_trims():
    fn = "tests/test_snapshot_model.py::test_random_op_sequences_match_model"
    named = _collect([fn], _ROOT)
    assert f"{fn}[0]" in named and f"{fn}[3]" in named
    module = _collect(["tests/test_snapshot_model.py"], _ROOT)
    assert f"{fn}[0]" not in module
    assert f"{fn}[1]" in module
