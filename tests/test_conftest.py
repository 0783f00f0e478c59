"""The test-tier plumbing in conftest.py: a SLOW_TESTS entry that names a
test which no longer exists must fail collection instead of silently
dropping its test back into the default tier."""

from __future__ import annotations

from types import SimpleNamespace

import conftest


def test_stale_slow_tests_judges_collected_files_only(monkeypatch):
    module = SimpleNamespace(test_kept=lambda: None, test_run=lambda: None)
    monkeypatch.setattr(conftest, "SLOW_TESTS", {
        "tests/test_a.py::test_run",      # collected
        "tests/test_a.py::test_kept",     # exists, narrowed away
        "tests/test_a.py::test_renamed",  # gone from its file
        "tests/test_b.py::test_gone",     # file not collected
    })
    items = [SimpleNamespace(nodeid="tests/test_a.py::test_run", module=module)]
    assert conftest.stale_slow_tests(items) == ["tests/test_a.py::test_renamed"]

