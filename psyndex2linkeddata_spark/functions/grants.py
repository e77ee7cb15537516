"""F28 — funder-name canonicalization as a column expression
(the reference's convert_starxml_to_bf.py:814-837 over
modules/mappings.py:418-495): full-name replacement first, then substring
rules — both native (map + when-chain built from the data table).

The grant-number splitter (F21) and the grant noise filter (P10) run
only inside the Arrow emit kernel (emit/arrow.py).
"""

from __future__ import annotations

from itertools import chain

from pyspark.sql import Column, functions as F

from psyndex2linkeddata_spark.data import tables


def canonicalize_funder_name(col: Column) -> Column:
    """F28: exact full-name recode (map), then first-match substring recode
    (when-chain in table order)."""
    full_map = F.create_map(
        *chain.from_iterable(
            (F.lit(a), F.lit(b)) for a, b in tables.funder_names_full_replacelist
        )
    )
    out = F.coalesce(full_map[col], col)
    expr = None
    for substr, repl in tables.funder_names_substr_replacelist:
        cond = out.contains(substr)
        expr = F.when(cond, F.lit(repl)) if expr is None else expr.when(cond, F.lit(repl))
    return expr.otherwise(out) if expr is not None else out

