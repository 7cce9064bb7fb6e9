"""Every queries() entry must be deterministic across re-execution —
the engine's retry-safety claim (no rand()/uuid4()/now() per row; hash
gates, content ids, plan-folded constants). The driver's oracle gate
hashes a single run, so this is the net that catches nondeterminism.

The two training-dependent queries (k-means init, stubbed feature
extraction) are included too: their *outputs* are also deterministic by
construction (seeded from content hashes).
"""

from __future__ import annotations

import math

import pytest

import __spark_entry__ as entrymod
from scicat_ingestor_spark import queries as Q


def _norm(v):
    """Total-order-safe normalization: every scalar becomes a string so
    heterogeneous columns (None vs float etc.) still sort."""
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(round(v, 9))
    if isinstance(v, (bytearray, bytes)):
        return bytes(v).hex()
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((str(k), _norm(x)) for k, x in v.items()))
    if hasattr(v, "asDict"):  # nested Row
        return _norm(v.asDict(True))
    return str(v)


def _rowset(df):
    cols = sorted(df.columns)
    return sorted(
        tuple(_norm(r[c]) for c in cols) for r in df.collect()
    )


def _param(name):
    missing = Q.missing_inputs(name)
    return pytest.param(
        name,
        marks=pytest.mark.skipif(
            bool(missing), reason=f"missing reference inputs: {', '.join(missing)}"
        ),
    )


@pytest.mark.parametrize("name", [_param(n) for n in sorted(entrymod.queries())])
def test_query_is_deterministic(spark, sf_dir, name):
    fn = entrymod.queries()[name]
    first = _rowset(fn(spark, sf_dir))
    second = _rowset(fn(spark, sf_dir))
    assert first == second, f"{name} differs between executions"
