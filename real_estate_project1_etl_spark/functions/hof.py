"""Higher-order-function helpers for Column expressions."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def bind(value: Column, fn) -> Column:
    """Evaluate ``value`` ONCE per row and hand it to ``fn`` as a bound
    lambda variable.

    Interpreted higher-order functions re-evaluate any OUTER expression
    their lambda references once per array element — a lambda like
    ``i -> concat_ws(' ', slice(w, i, n))`` re-runs the whole
    lower/collapse/split chain that produces ``w`` for every gram,
    turning an O(words) projection into O(words^2) per document
    (measured: the minhash signature build over sf0.1 documents dropped
    3.7 -> 0.6 s when the re-evaluation was removed; the winnowing
    chain, which stacked two such lambdas, dropped ~50x).  Lambda
    VARIABLES, by contrast, are evaluated values — so wrapping the
    expensive expression in a single-element array and binding it via
    ``transform`` makes the inner lambda reference a value, with
    construction semantics otherwise IDENTICAL to the unbound form.
    """
    return F.element_at(F.transform(F.array(value), fn), 1)
