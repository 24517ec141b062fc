"""Order-insensitive result checksums.

Cells are normalized with the rules of ``tests/conftest.py``
(Decimal -> float; dates and datetimes -> naive ISO timestamps with
microseconds; lists -> tuples). A checksum is then

* the row count,
* the sum, modulo 2**64, of a 64-bit hash of each row's non-numeric
  cells (so it does not depend on row order), and
* per numeric column (sorted by lower-cased name): the null count, the
  sum and the sum of squares, compared with a relative tolerance of
  1e-6 because two engines may add floats in different orders.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math
import numbers

_MASK = (1 << 64) - 1


def _norm(v):
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat(timespec="microseconds")
    if isinstance(v, datetime.date):
        return datetime.datetime(v.year, v.month, v.day).isoformat(timespec="microseconds")
    if hasattr(v, "to_pydatetime"):  # pandas.Timestamp
        return _norm(v.to_pydatetime())
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return tuple(_norm(x) for x in v)
    if hasattr(v, "item") and not isinstance(v, (str, bytes)):  # numpy scalar
        return v.item()
    return v


def _missing(v) -> bool:
    return v is None or (isinstance(v, float) and math.isnan(v))


def _is_numeric(v) -> bool:
    return isinstance(v, numbers.Number) and not isinstance(v, bool)


def checksum(pdf) -> dict:
    """Checksum of a pandas DataFrame (the result of ``toPandas()`` or of
    DuckDB's ``fetchdf()``)."""
    cols = sorted(pdf.columns, key=str.lower)
    rows = [tuple(_norm(v) for v in r) for r in pdf[cols].itertuples(index=False, name=None)]
    numeric = [
        all(_missing(r[i]) or _is_numeric(r[i]) for r in rows)
        and any(_is_numeric(r[i]) for r in rows)
        for i in range(len(cols))
    ]
    key_hash = 0
    for r in rows:
        key = repr(tuple(None if _missing(v) else str(v) for v, num in zip(r, numeric) if not num))
        key_hash = (key_hash + int.from_bytes(hashlib.blake2b(key.encode(), digest_size=8).digest(), "little")) & _MASK
    sums = {}
    for i, c in enumerate(cols):
        if numeric[i]:
            vals = [float(r[i]) for r in rows if not _missing(r[i])]
            sums[c.lower()] = (len(rows) - len(vals), math.fsum(vals), math.fsum(v * v for v in vals))
    return {"rows": len(rows), "columns": [c.lower() for c in cols], "key_hash": key_hash, "sums": sums}


def mismatch(got: dict, want: dict, rtol: float = 1e-6) -> str | None:
    """None when ``got`` matches ``want``, else a one-line reason."""
    if got["rows"] != want["rows"]:
        return f"row count {got['rows']} != {want['rows']}"
    if got["columns"] != want["columns"]:
        return f"columns {got['columns']} != {want['columns']}"
    if got["key_hash"] != want["key_hash"]:
        return "non-numeric cells differ"
    for c, (nulls, s, sq) in want["sums"].items():
        g = got["sums"].get(c)
        if g is None:
            return f"column {c} is not numeric"
        if g[0] != nulls:
            return f"column {c}: {g[0]} nulls != {nulls}"
        # the sum may cancel to ~0; scale its tolerance by the column's norm
        scale = math.sqrt(sq * max(nulls + want["rows"], 1))
        for a, b in ((g[1], s), (g[2], sq)):
            if not math.isclose(a, b, rel_tol=rtol, abs_tol=max(rtol * scale, 1e-9)):
                return f"column {c}: sum {a!r} != {b!r}"
    return None


def corrupt(want: dict) -> dict:
    """A deliberately wrong expectation, for the self-test."""
    return dict(want, key_hash=(want["key_hash"] + 1) & _MASK)
