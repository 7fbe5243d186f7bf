"""Shared check for ``dedup.connected_components_twostar``'s two branches.

Plain function (no fixture) so Hypothesis ``@given`` tests can call it.
"""

from __future__ import annotations

from unittest import mock

from distributed_computing_platform_mapreduce_spark.operators import dedup


def twostar_both_branches(pairs) -> set:
    """Solve ``pairs`` on the driver path (default edge bound) and on the
    star loop (bound 0), assert equal labels and return them as a set of
    ``(id, component)`` tuples."""
    driver = {tuple(r) for r in dedup.connected_components_twostar(pairs).collect()}
    with mock.patch.object(dedup, "_LOCAL_CC_MAX_EDGES", 0):
        star = {tuple(r) for r in dedup.connected_components_twostar(pairs).collect()}
    assert driver == star
    return driver
