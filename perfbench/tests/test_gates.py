import json

import gates

PLANTED = {"ref_rows": 1000, "actual_rows": 995, "ref_only": 10, "actual_only": 5, "changed": 20}


def _result(ref_rows=1000, new_rows=995, passed_rows=970, diff=35, dups=0):
    return {
        "referenceRowCount": ref_rows,
        "newRowCount": new_rows,
        "refDuplicateCount": dups,
        "newDuplicateCount": 0,
        "passed": diff == 0,
        "numberOfDifferences": diff,
        "passedRowsCount": passed_rows,
    }


def test_compare_counts_from_metrics():
    assert gates.compare_counts(_result()) == PLANTED


def test_compare_gate_accepts_the_planted_answer():
    result = _result()
    assert gates.check_compare(result, PLANTED, json.dumps(result)) == []


def test_compare_gate_rejects_wrong_answers():
    right = _result()
    # a missed change: one fewer diff row and one more passed row
    missed = _result(passed_rows=971, diff=34)
    assert gates.check_compare(missed, PLANTED, json.dumps(missed))
    assert gates.check_compare(_result(dups=3), PLANTED, json.dumps(right))
    assert gates.check_compare(right, PLANTED, None)
    assert gates.check_compare(right, PLANTED, json.dumps(_result(diff=0)))


def test_dedup_gate_accepts_clean_survivors():
    survivors = [(0, "a b c"), (1, "d e f"), (3, "g h i")]
    errors, recall = gates.check_dedup(survivors, n_docs=4, near_dup_pairs=[(1, 2)])
    assert errors == [] and recall == 1.0


def test_dedup_gate_rejects_equal_normalized_text():
    survivors = [(0, "a b c"), (1, "  A  B c ")]
    errors, _ = gates.check_dedup(survivors, n_docs=2, near_dup_pairs=[])
    assert any("equal normalized text" in e for e in errors)


def test_dedup_gate_rejects_a_surviving_copy():
    errors, _ = gates.check_dedup([(0, "a"), (5, "b")], n_docs=4, near_dup_pairs=[])
    assert any("exact copies" in e for e in errors)


def test_dedup_gate_rejects_low_recall():
    survivors = [(i, f"doc {i}") for i in range(10)]
    errors, recall = gates.check_dedup(survivors, n_docs=10, near_dup_pairs=[(0, 1), (2, 3)])
    assert recall == 0.0 and any("recall" in e for e in errors)


def test_step_outcomes():
    assert gates.step_outcome("Profile", True, None, []) == "pass"
    assert gates.step_outcome("DatasetComparison", False, "DependeeFailed", "x") == "fail:DependeeFailed"
    assert gates.step_outcome("DatasetComparison", False, None, "{}") == "fail:DatasetsDiffer"
    text = "Expected and actual info files differ.\nReference path: a"
    assert gates.step_outcome("InfoComparison", False, None, text) == "fail:InfoFilesDifferException"
    assert gates.step_outcome("BashPlugin", False, None, "") == "fail:unknown"


def test_e2e_gate_rejects_a_wrong_outcome_and_a_missing_step():
    expected = {"a": "pass", "b": "fail:DependeeFailed"}
    assert gates.check_e2e({"a": "pass", "b": "fail:DependeeFailed"}, expected) == []
    assert gates.check_e2e({"a": "pass", "b": "pass"}, expected)
    assert gates.check_e2e({"a": "pass"}, expected)
    assert gates.check_e2e({"a": "pass", "b": "fail:DependeeFailed", "c": "pass"}, expected)


def test_compare_count_errors_for_identical_inputs():
    same = {"ref_rows": 50, "actual_rows": 50, "ref_only": 0, "actual_only": 0, "changed": 0}
    assert gates.compare_count_errors(_result(50, 50, 50, 0), same) == []
    # a comparison that misses nothing but reports one spurious change
    assert gates.compare_count_errors(_result(50, 50, 49, 1), same)
