"""The benchmark's output check must fail a run whose outputs do not match.

Runs one short benchmark against a copy of expected.json in which one
manifest is corrupted, and asserts that the run reports the mismatch and
exits non-zero. Takes about a minute (it starts Spark):

    python3 -m pytest perfbench/test_output_check.py
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402
from workloads import WORKLOADS, dataset_name  # noqa: E402


def test_corrupted_expected_manifest_fails_the_run(tmp_path, monkeypatch,
                                                   capsys):
    with open(run.EXPECTED) as f:
        doc = json.load(f)
    wl = WORKLOADS["olap_sf0.1"]
    victim = wl["queries"][0]
    manifests = doc["datasets"][dataset_name(wl["sf"])]
    n, rest = manifests[victim].split("-", 1)
    manifests[victim] = f"{int(n) + 1}-{rest}"
    bad = tmp_path / "expected.json"
    bad.write_text(json.dumps(doc))
    monkeypatch.setattr(run, "EXPECTED", str(bad))
    monkeypatch.setattr(sys, "argv", [
        "run.py", "--workload", "olap_sf0.1", "--seed", "1",
        "--seconds", "1", "--trace", "0"])

    with pytest.raises(SystemExit) as exit_info:
        run.main()

    assert exit_info.value.code != 0
    out, err = capsys.readouterr()
    result = json.loads(out.strip().splitlines()[-1])
    assert result["correct"] is False
    # the query runs once in every pass: the first and at least two
    # window passes
    assert result["failed"] >= 3
    assert f"{victim}: state=ResultsAccepted" in err
