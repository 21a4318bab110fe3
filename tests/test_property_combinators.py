"""Property-based differential tests for the stream combinators
(SURVEY §5.2 item 6): randomized ragged dict-streams fed to BOTH the
reference generator combinators (reference extends.py:66-91 — ``Append``,
``MergeAll``-as-intended, ``Cross``) and our order-preserving DataFrame
combinators (plans/compiler.py ``ord_append`` / ``zip_merge`` /
``ord_cross``), asserting EXACT sequence equality after the declared
dict↔row normalization (SURVEY §1.4: absent key ≡ NULL).

Known mapping boundary, deliberately outside the generated space: a row
dict can distinguish "key absent" from "key: None" while one Spark NULL
cannot, so for streams whose columns OVERLAP an upstream stream the
combinator contract requires the overriding stream to be schema-complete
(real generator tools always populate their declared Column — e.g.
RangeGE etl.py:525-537 — so this matches every reference pipeline).
Non-overlapping columns are generated ragged on purpose.
"""
from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from tests.conftest import rows_as_dicts

LEFT_COLS = ("a", "b", "x")
RIGHT_COLS = ("x", "y")
_VAL = st.text(alphabet="pqr", min_size=0, max_size=3)

_SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
    derandomize=True,  # fixed corpus: CI-stable, still ~36 distinct streams/op
)


def _stream(cols, ragged_cols=()):
    """Rows over ``cols``; columns in ``ragged_cols`` may be absent."""
    fixed = {c: _VAL for c in cols if c not in ragged_cols}
    optional = {c: _VAL for c in cols if c in ragged_cols}
    return st.lists(st.fixed_dictionaries(fixed, optional=optional), max_size=6)


def _to_df(spark, rows, cols):
    from etlpy_spark.plans.compiler import with_ord

    data = [tuple([i] + [r.get(c) for c in cols]) for i, r in enumerate(rows)]
    schema = "i long, " + ", ".join(f"{c} string" for c in cols)
    return with_ord(spark.createDataFrame(data, schema=schema), "i").drop("i")


def _ordered_dicts(df):
    from etlpy_spark.plans.compiler import finalize

    out = []
    for r in finalize(df, ordered=True).collect():
        d = {k: v for k, v in r.asDict().items() if v is not None}
        out.append(d)
    return out


def _norm(ref_rows):
    return [{k: v for k, v in d.items() if v is not None} for d in ref_rows]


@settings(**_SETTINGS)
@given(left=_stream(LEFT_COLS, ragged_cols=("b", "x")),
       right=_stream(RIGHT_COLS, ragged_cols=("y",)))
def test_append_matches_reference(spark, reference, left, right):
    """Append = concatenation, left stream fully first (extends.py:87-91)."""
    from etlpy_spark.plans.compiler import ord_append

    expect = _norm([dict(r) for r in reference.extends.Append(
        iter([dict(r) for r in left]), iter([dict(r) for r in right]))])
    got = _ordered_dicts(ord_append(_to_df(spark, left, LEFT_COLS),
                                    _to_df(spark, right, RIGHT_COLS)))
    assert got == expect


@settings(**_SETTINGS)
@given(left=_stream(LEFT_COLS, ragged_cols=("b",)), right=_stream(RIGHT_COLS))
def test_zip_merge_matches_reference(spark, left, right):
    """Merge = positional zip, right keys override, length = min — the
    *intended* semantics of extends.MergeAll (extends.py:75-84; the
    upstream body is PEP-479-broken on py>=3.7, so the oracle is the
    same repaired zip the rest of the suite uses)."""
    from etlpy_spark.plans.compiler import zip_merge

    def ref_zip(a, b):
        for t1, t2 in zip(a, b):
            for k in t2:
                t1[k] = t2[k]
            yield t1

    expect = _norm([dict(r) for r in ref_zip(
        [dict(r) for r in left], [dict(r) for r in right])])
    got = _ordered_dicts(zip_merge(_to_df(spark, left, LEFT_COLS),
                                   _to_df(spark, right, RIGHT_COLS)))
    assert got == expect


@settings(**_SETTINGS)
@given(left=_stream(LEFT_COLS, ragged_cols=("b",)), right=_stream(RIGHT_COLS))
def test_cross_matches_reference(spark, reference, left, right):
    """Cross = per left row, the whole right stream laterally, right keys
    override (extends.py:66-73). The reference yields the SAME mutated
    dict object per left row — copied at yield, as any real consumer
    materializing rows must."""
    from etlpy_spark.plans.compiler import ord_cross

    def gene(_row):
        return iter([dict(r) for r in right])

    expect = _norm([dict(r) for r in reference.extends.Cross(
        iter([dict(r) for r in left]), gene)])
    got = _ordered_dicts(ord_cross(_to_df(spark, left, LEFT_COLS),
                                   _to_df(spark, right, RIGHT_COLS)))
    assert got == expect
