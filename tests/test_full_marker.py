"""The ``full`` marker guard in tests/conftest.py: the batteries run under
``FB_FULL_SUITE`` or an ``-m`` expression that asks for them, and stay
skipped under any other ``-m``."""

from __future__ import annotations

import pytest

pytest_plugins = ["pytester"]


@pytest.fixture
def suite(pytester, monkeypatch):
    monkeypatch.delenv("FB_FULL_SUITE", raising=False)
    pytester.makeini(
        "[pytest]\nmarkers =\n    full: battery\n    slow: slow\n"
    )
    pytester.makeconftest(
        "from tests.conftest import pytest_collection_modifyitems  # noqa: F401\n"
    )
    pytester.makepyfile(
        """
        import pytest

        @pytest.mark.full
        def test_battery():
            pass

        @pytest.mark.full
        @pytest.mark.slow
        def test_slow_battery():
            pass

        def test_plain():
            pass
        """
    )
    return pytester


@pytest.mark.parametrize(
    "args, outcome",
    [
        ((), dict(passed=1, skipped=2)),
        (("-m", "full"), dict(passed=2)),
        (("-m", "full and slow"), dict(passed=1, deselected=2)),
        (("-m", "not full"), dict(passed=1, deselected=2)),
        (("-m", "not slow"), dict(passed=1, skipped=1, deselected=1)),
        (("-m", "slow"), dict(skipped=1, deselected=2)),
    ],
)
def test_full_marker_selection(suite, args, outcome):
    suite.runpytest(*args).assert_outcomes(**outcome)


def test_full_suite_env_runs_batteries(suite, monkeypatch):
    monkeypatch.setenv("FB_FULL_SUITE", "1")
    suite.runpytest().assert_outcomes(passed=3)
