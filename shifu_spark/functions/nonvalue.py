"""The engine's ONE definition of the MISSING value class for doubles.

NULL, NaN, +Infinity and -Infinity are all MISSING (mean-impute in
z-score, the dedicated missing slot in bin lookups, excluded from
moments/correlation/eval points, whole-row exclusion in the Gram) —
Normalizer.java:566-573's "if the value is Infinite or NaN, treat it
as missing" unified with SQL NULL.

This helper exists because the r9/r10 "non-finite population split"
bugs were EXACTLY one private copy of this predicate being updated
while another wasn't (six copies had accreted by r10's code review).
Every operator family imports these; a semantics tweak (say, deciding
subnormals or -0.0 are missing too) happens in one place and the
dirty-frame parity suite (tests/test_properties.py::
TestNonFiniteDirtyFrame) re-proves every family against DuckDB.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_INF = float("inf")


def is_nonvalue(c: Column) -> Column:
    """TRUE when ``c`` (a double Column) is NULL/NaN/±Infinity."""
    return c.isNull() | F.isnan(c) | (F.abs(c) == F.lit(_INF))


def is_value(c: Column) -> Column:
    """TRUE when ``c`` is a finite non-null double — ``~is_nonvalue``
    spelled positively (NULL-safe: NULL yields FALSE, not NULL)."""
    return c.isNotNull() & ~F.isnan(c) & (F.abs(c) != F.lit(_INF))


def clamp_weight_expr(w: Column) -> Column:
    """The eval/weight clamp rule in ONE place: NULL/NaN/±Inf AND
    negative weights -> 1.0 (ConfusionMatrix.java:361-370's
    unparseable/negative clamp, extended to non-finite by the r10
    audit). ``w`` should already be a double (callers try_cast).
    Shared by eval_metrics.clamp_weight and jexl.jexl_weight so the
    rule cannot drift one-sided (r10 review pass 2)."""
    return F.when(is_nonvalue(w) | (w < 0), F.lit(1.0)).otherwise(w)
