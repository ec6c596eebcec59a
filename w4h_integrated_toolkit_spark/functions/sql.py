"""SQL text for builders that assemble parsed SQL expressions.

A builder that writes its expressions as SQL strings (``F.expr``,
``selectExpr``, ``filter(str)``) pays one JVM parse per string instead of
several py4j round trips per Column-API node. These two helpers are the
only places such text is made from caller input:

- :func:`ident` quotes a column name, so any legal name (spaces, dots,
  backticks) resolves to exactly that column;
- :func:`literal` renders a Python value as a SQL literal of the same Spark
  type and value that ``F.lit`` gives it, so switching a builder from the
  Column API to SQL text changes neither the literal types Catalyst sees
  nor the results.
"""

from __future__ import annotations

import datetime as _dt
import math
from decimal import Decimal
from typing import Any

from pyspark.sql.types import TimestampType

try:
    import numpy as _np
except ImportError:
    _np = None

__all__ = ["ident", "literal"]

# numpy scalar dtype -> the cast F.lit wraps around the scalar's Python value
_NUMPY_CASTS = {
    "int8": "TINYINT",
    "int16": "SMALLINT",
    "int32": "INT",
    "int64": "BIGINT",
    "float32": "FLOAT",
    "float64": "DOUBLE",
}


def ident(name: str) -> str:
    """Backtick-quoted identifier; an embedded backtick is doubled."""
    return "`" + str(name).replace("`", "``") + "`"


def literal(v: Any) -> str:
    """SQL literal with the Spark type and value ``F.lit(v)`` gives.

    - ``bool`` -> BOOLEAN; ``int`` -> INT when it fits 32 bits, else BIGINT
      (the parser picks the same width ``F.lit`` does);
    - ``float`` -> DOUBLE (``repr`` round-trips every finite double);
    - ``str`` -> STRING with backslash and quote escaped;
    - ``date`` -> DATE; ``datetime`` -> TIMESTAMP via its epoch
      microseconds, so a naive value means the same instant (the Python
      process's local time) it means to ``F.lit``;
    - ``Decimal`` -> DECIMAL of the value's own precision and scale;
    - numpy scalars -> the cast ``F.lit`` applies to the scalar's value.

    Non-finite floats and decimals raise ``ValueError`` (no SQL literal
    spells them); an int outside BIGINT raises too, as ``F.lit`` does.
    """
    if _np is not None and isinstance(v, _np.generic):
        if isinstance(v, _np.bool_):
            return literal(bool(v))
        if isinstance(v, _np.str_):
            return literal(str(v))
        cast = _NUMPY_CASTS.get(v.dtype.name)
        if cast is None:
            raise TypeError(f"no SQL literal for numpy {v.dtype.name} scalar {v!r}")
        return f"CAST({literal(v.item())} AS {cast})"
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        if not -(2**63) <= v < 2**63:
            raise ValueError(f"integer literal {v} is outside BIGINT")
        return str(int(v))
    if isinstance(v, float):
        if not math.isfinite(v):
            raise ValueError(f"non-finite float {v!r} has no SQL literal")
        return f"{float(v)!r}D"
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    if isinstance(v, _dt.datetime):
        return f"timestamp_micros({TimestampType().toInternal(v)}L)"
    if isinstance(v, _dt.date):
        return f"DATE '{v.isoformat()}'"
    if isinstance(v, Decimal):
        if not v.is_finite():
            raise ValueError(f"non-finite decimal {v!r} has no SQL literal")
        return f"{v}BD"
    raise TypeError(f"no SQL literal for {type(v).__name__} value {v!r}")
