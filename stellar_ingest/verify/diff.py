"""State diff for replay verification (SURVEY.md §2 op 46 / op 72):
two table states match iff ``exceptAll`` is empty in BOTH directions
(multiset equality, catches duplicates fingerprints alone might mask).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def states_equal(a: DataFrame, b: DataFrame) -> bool:
    cols = sorted(a.columns)
    if cols != sorted(b.columns):
        return False
    a2, b2 = a.select(*cols), b.select(*cols)
    return a2.exceptAll(b2).isEmpty() and b2.exceptAll(a2).isEmpty()
