"""Order-insensitive output fingerprints.

A fingerprint is the row count plus an md5 over the sorted per-row
digests of the canonical rows: columns in name order, doubles rounded
to ``parity.FLOAT_DECIMALS`` (the oracle compare's tolerance) with
``-0.0`` folded into ``0.0``, nested arrays and maps rendered
recursively. Row order never changes it; any changed, added or dropped
row does.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd

from data_engineer_8_final_project_spark.parity import FLOAT_DECIMALS


def _canon(v):
    if v is None:
        return None
    if isinstance(v, (float, np.floating)):
        f = float(v)
        return "nan" if math.isnan(f) else round(f, FLOAT_DECIMALS) + 0.0
    if isinstance(v, (np.integer, np.bool_)):
        return v.item()
    if isinstance(v, dict):
        return tuple(sorted((str(k), _canon(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, (pd.Timestamp, np.datetime64)):
        return str(pd.Timestamp(v))
    try:
        if pd.isna(v):
            return None
    except (TypeError, ValueError):
        pass
    return v


def fingerprint(pdf: pd.DataFrame) -> dict:
    """``{"rows": n, "hash": md5}`` of a result frame."""
    cols = sorted(pdf.columns)
    digests = sorted(
        hashlib.md5(repr(tuple(_canon(v) for v in row)).encode()).hexdigest()
        for row in pdf[cols].itertuples(index=False, name=None)
    )
    h = hashlib.md5(repr(cols).encode())
    for d in digests:
        h.update(d.encode())
    return {"rows": len(pdf), "hash": h.hexdigest()}


def matches(got: dict, expected: dict) -> bool:
    """Row count always; content hash where one was recorded (queries
    without a DuckDB oracle record the row count only)."""
    if got["rows"] != expected["rows"]:
        return False
    return "hash" not in expected or got["hash"] == expected["hash"]
