"""Property-based comparator tests (hypothesis).

The reference has no property tests (SURVEY.md §5); these pin the
kernel's invariants on arbitrary small inputs:

- reflexivity: compare(a, a) always passes;
- mode agreement: reference / fast / hash produce identical metrics;
- metric identities: passed = ref_rows - ref_except;
  diff_count == 0  <=>  both distinct-row complements empty.
"""

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from hermes_spark import ComparisonConfig, DatasetComparator

# small value domain on purpose: collisions/duplicates/nulls are the
# interesting cases
_value = st.one_of(
    st.none(),
    st.integers(min_value=-3, max_value=3),
    st.sampled_from(["a", "b", ""]),
)
_row = st.tuples(st.integers(min_value=0, max_value=9), _value, _value)
_rows = st.lists(_row, min_size=0, max_size=12)

_SCHEMA = "k int, x int, s string"


def _norm(rows):
    """Coerce the generated value slots to the DataFrame's column types
    (used for BOTH the DataFrame and the python-side oracle sets)."""
    return [
        (
            k,
            x if isinstance(x, int) and not isinstance(x, bool) else None,
            s if isinstance(s, str) else None,
        )
        for k, x, s in rows
    ]


def _df(spark, rows):
    return spark.createDataFrame(rows, _SCHEMA)


def _diff_rows(res):
    return res.result_df.count() if res.result_df is not None else 0


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=_rows)
def test_reflexive(spark, rows):
    rows = _norm(rows)
    df = _df(spark, rows)
    res = DatasetComparator(
        df, df, config=ComparisonConfig(allow_duplicates=True)
    ).compare()
    assert res.passed
    assert res.diff_count == 0
    assert res.passed_count == res.ref_row_count == len(rows)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ref_rows=_rows, act_rows=_rows)
def test_modes_agree_on_arbitrary_inputs(spark, ref_rows, act_rows):
    ref_rows, act_rows = _norm(ref_rows), _norm(act_rows)
    ref, act = _df(spark, ref_rows), _df(spark, act_rows)
    outcomes = {}
    for mode in ("reference", "fast", "hash"):
        cmp = DatasetComparator(
            ref, act,
            config=ComparisonConfig(mode=mode, allow_duplicates=True),
        )
        res = cmp.compare()
        outcomes[mode] = (
            res.ref_row_count,
            res.new_row_count,
            res.ref_duplicate_count,
            res.new_duplicate_count,
            res.passed_count,
            res.diff_count,
        )
        if mode != "reference":
            # fast/hash take diff_count from the metric fold, not from
            # evaluating the diff frame
            assert res.diff_count == _diff_rows(res), mode
        cmp.release()
    assert outcomes["reference"] == outcomes["fast"] == outcomes["hash"], outcomes

    # metric identities (any mode — they agree)
    ref_distinct = {tuple(r) for r in ref_rows}
    act_distinct = {tuple(r) for r in act_rows}
    expect_pass = ref_distinct <= act_distinct and act_distinct <= ref_distinct
    assert (outcomes["fast"][5] == 0) == expect_pass
    assert outcomes["fast"][4] == len(ref_rows) - len(ref_distinct - act_distinct)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    ref_rows=_rows,
    act_rows=_rows,
    keys=st.sampled_from([("k",), ("k", "x")]),
)
def test_diff_count_is_diff_frame_rows_with_duplicate_keys(
    spark, ref_rows, act_rows, keys
):
    """With keys, several distinct rows can share a key on each side, so
    the diff frame's full-outer + flattened-twin joins multiply rows per
    key (``n*n`` with ``n = r*a`` or ``r + a``).  The metric fold's
    ``diff_count`` must still equal the rows the diff frame holds, and
    the reference mode's count of them."""
    ref_rows, act_rows = _norm(ref_rows), _norm(act_rows)
    ref, act = _df(spark, ref_rows), _df(spark, act_rows)
    counts = {}
    for mode in ("reference", "fast", "hash"):
        cmp = DatasetComparator(
            ref, act, keys=keys,
            config=ComparisonConfig(mode=mode, allow_duplicates=True),
        )
        res = cmp.compare()
        counts[mode] = (res.diff_count, _diff_rows(res))
        cmp.release()
    assert counts["fast"][0] == counts["fast"][1], counts
    assert counts["hash"][0] == counts["hash"][1], counts
    assert (
        counts["reference"][0] == counts["fast"][0] == counts["hash"][0]
    ), counts
