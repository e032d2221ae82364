"""Examples run in CI (r10): the version-aware decontamination example
is the end-to-end reproducibility story of the versioning tier (r9
verdict #7) — it asserts its own invariants (monotone gates, pinned-v1
bit-identical replay) and a regression in versioning/decontaminate/
novelty composition fails it loudly. Run as a real subprocess so it
proves the example works exactly as a user would invoke it.

The four subprocesses start when collection ends (the ``subprocess_gate``
marker, tests/conftest.py) and overlap the rest of the suite; the tests
only join and assert."""

import os
import sys

import pytest

from conftest import REPO, SF_DIR


def _example(script: str):
    return pytest.mark.subprocess_gate(
        [sys.executable, os.path.join(REPO, "examples", script), SF_DIR]
    )


@_example("version_decontam.py")
def test_version_decontam_example_runs(gate_output):
    assert "reproducibility: v1 gate replayed" in gate_output


@_example("storage_tour.py")
def test_storage_tour_example_runs(gate_output):
    """The storage tour demonstrates the content-addressed store,
    gated versioned releases (r10: the expectations contract refusing
    a NULL-payload release), and time travel — as a real subprocess."""
    assert "gate refused a bad release" in gate_output
    assert "time travel" in gate_output


@_example("crawl_tour.py")
def test_crawl_tour_example_runs(gate_output):
    """Archive → warc source → HTML extraction → screen → contract-
    gated release, as a real subprocess (r10)."""
    assert "after exact dedup: 500" in gate_output
    assert "release v1 committed: 500 rows" in gate_output


@_example("contract_workflow.py")
def test_contract_workflow_example_runs(gate_output):
    """Deequ's suggest → human-trim → gate loop plus the release card's
    contract audit trail (r11), as a real subprocess."""
    assert "gate refused a broken release" in gate_output
    assert "shipped UNGATED" in gate_output
