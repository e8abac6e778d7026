"""Build a Column tree once per py4j gateway, not once per call.

Every ``F.lit``/``F.col``/lambda node of a Column tree is one py4j round
trip to the JVM, so a builder of a large tree (the NER topic scores, the
ten-pass response cleaner) pays hundreds of round trips per call for work
that depends only on its column names.  Column trees are immutable and
bound to no session, so the same tree can be handed to every caller.
"""

from __future__ import annotations

import functools

from pyspark import SparkContext


def per_gateway(builder):
    """Memoize ``builder(*names)`` on its column-name arguments (all ``str``).

    Each entry records the gateway (``SparkContext._gateway``) its Columns
    were built on; when that is a different object (the JVM was relaunched)
    the builder runs again, so no caller gets a proxy of a dead JVM.  The
    builder must read nothing but its arguments: an input read at build time
    (an environment variable, a model flag) would be frozen into the tree.
    Every caller gets the same object, so a builder returns Columns or
    tuples of them, never a list a caller could change.  Two threads missing at once both build and the last one is kept; both
    trees are equal, so either is correct.
    """
    built: dict[tuple[str, ...], tuple[object, object]] = {}

    @functools.wraps(builder)
    def cached(*names: str):
        gateway = SparkContext._gateway
        hit = built.get(names)
        if hit is None or hit[0] is not gateway:
            hit = (gateway, builder(*names))
            built[names] = hit
        return hit[1]

    return cached
