"""Column-expression helpers shared by the operators."""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F


def let(value: Column, body: Callable[[Column], Column]) -> Column:
    """``body(v)`` with ``v`` bound to ONE evaluation of ``value``.

    Written as ``element_at(transform(array(value), body), 1)``: the value
    becomes the single element of a one-element array and ``body`` sees it
    as a lambda variable, which Catalyst never inlines. A separate
    projection is not a binding — CollapseProject merges it into its
    consumer and substitutes the full expression at every reference, so
    an expression used k times runs k times, and a reference inside a
    per-element lambda (``element_at(value, i)`` in a ``filter``) rebuilds
    ``value`` once per element, O(n²) per row. Through the lambda variable
    each reference is an O(1) read of the already-built value.
    """
    return F.element_at(F.transform(F.array(value), body), 1)
