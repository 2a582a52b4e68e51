"""Shared Spark fixture: one local session for the whole test run."""

from __future__ import annotations

import os
import sys

import pytest


def _ensure_protobuf() -> None:
    """Feature-detect a protobuf runtime for transformWithState tests.

    Must run BEFORE the JVM launches: Spark's Python workers inherit
    PYTHONPATH from the gateway process at launch time, and the
    ``tests/_protoshim/sitecustomize.py`` it injects makes
    ``google.protobuf`` importable inside every worker (see its
    docstring). No-op when a real protobuf is installed or when the
    on-disk runtime is absent — the stateful test's skipif then keeps
    its documented environment reason.
    """
    try:
        from google.protobuf import descriptor  # noqa: F401

        return
    except Exception:
        pass
    shim = os.path.join(os.path.dirname(__file__), "_protoshim")
    appengine = "/usr/lib/google-cloud-sdk/platform/google_appengine"
    if not os.path.isdir(appengine):
        return
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p
        for p in (shim, os.environ.get("PYTHONPATH"))
        if p
    )
    # same setup for THIS process (sitecustomize only runs in new ones)
    sys.path.insert(0, shim)
    import sitecustomize  # noqa: F401  (runs _ensure for this process)


_ensure_protobuf()

from big_data_in_agriculture_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


def pytest_terminal_summary(terminalreporter):
    """Print each skip reason once, with its count, so coverage lost to
    an absent input (e.g. the reference bytes) reads as lost, not green."""
    from collections import Counter

    reasons = Counter()
    for rep in terminalreporter.stats.get("skipped", []):
        longrepr = rep.longrepr
        reason = longrepr[2] if isinstance(longrepr, tuple) else str(longrepr)
        reasons[reason.removeprefix("Skipped: ")] += 1
    if not reasons:
        return
    total = sum(reasons.values())
    terminalreporter.write_sep("-", f"{total} skipped, by reason")
    for reason, n in reasons.most_common():
        terminalreporter.write_line(f"{n:4d}  {reason}")
