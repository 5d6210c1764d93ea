"""Correctness gates: each returns a list of failures, empty when the
answer is right.  The expected values come from the input generators,
never from the code under test."""

from __future__ import annotations

import json

#: measured planted near-duplicate recall is about 0.86 (min_jaccard 0.8,
#: 16 hashes in 4 bands); a drop below this floor is a quality loss
RECALL_FLOOR = 0.75


def compare_counts(result: dict) -> dict:
    """ref-only, actual-only and changed row counts implied by a
    comparison's ``_METRICS`` document.

    The diff frame full-outer-joins the rows each side lacks on the key,
    so a changed key is one diff row made of one row from each side."""
    ref_except = result["referenceRowCount"] - result["passedRowsCount"]
    actual_except = result["newRowCount"] - result["passedRowsCount"]
    diff = result["numberOfDifferences"]
    return {
        "ref_rows": result["referenceRowCount"],
        "actual_rows": result["newRowCount"],
        "ref_only": diff - actual_except,
        "actual_only": diff - ref_except,
        "changed": ref_except + actual_except - diff,
    }


def compare_count_errors(result: dict, expected: dict) -> list[str]:
    """The row counts and edits a comparison reports, against the planted ones."""
    got = compare_counts(result)
    return [f"compare {key}: got {got[key]}, planted {want}" for key, want in expected.items() if got[key] != want]


def check_compare(result: dict, expected: dict, metrics_text: str | None) -> list[str]:
    """The comparison found exactly the planted edits, reported no
    duplicates, and the written ``_METRICS`` file says the same."""
    errors = compare_count_errors(result, expected)
    want_diff = expected["ref_only"] + expected["actual_only"] + expected["changed"]
    if result["numberOfDifferences"] != want_diff:
        errors.append(f"compare diff count: got {result['numberOfDifferences']}, planted {want_diff}")
    if result["refDuplicateCount"] or result["newDuplicateCount"]:
        errors.append("compare reported duplicate keys in unique-key inputs")
    if result["passed"] != (want_diff == 0):
        errors.append(f"compare passed={result['passed']} with {want_diff} planted differences")
    if metrics_text is None:
        errors.append("compare wrote no _METRICS file")
    elif json.loads(metrics_text)["numberOfDifferences"] != result["numberOfDifferences"]:
        errors.append("_METRICS file disagrees with the returned result")
    return errors


def normalize(text: str) -> str:
    """Lower-cased, whitespace-collapsed text: the exact-duplicate key."""
    return " ".join(text.lower().split())


def check_dedup(
    survivors: list[tuple[int, str]], n_docs: int, near_dup_pairs: list[tuple[int, int]]
) -> tuple[list[str], float]:
    """No two survivors share normalized text, no planted exact copy (id
    ``>= n_docs``) survives, and planted near-duplicate recall (pairs
    with at most one survivor) is at least ``RECALL_FLOOR``.  Returns the
    failures and the recall."""
    errors = []
    seen: dict[str, int] = {}
    for doc_id, text in survivors:
        key = normalize(text)
        if key in seen:
            errors.append(f"docs {seen[key]} and {doc_id} survived with equal normalized text")
            break
        seen[key] = doc_id
    copies = sum(1 for doc_id, _ in survivors if doc_id >= n_docs)
    if copies:
        errors.append(f"{copies} planted exact copies survived")
    alive = {doc_id for doc_id, _ in survivors}
    found = sum(1 for a, b in near_dup_pairs if not (a in alive and b in alive))
    recall = found / len(near_dup_pairs) if near_dup_pairs else 1.0
    if recall < RECALL_FLOOR:
        errors.append(f"near-duplicate recall {recall:.3f} below floor {RECALL_FLOOR}")
    return errors, recall


_INFO_DIFFER = "Expected and actual info files differ."


def step_outcome(plugin: str, passed: bool, exception_name: str | None, returned: object) -> str:
    """``"pass"`` or ``"fail:<reason>"`` for one e2e step result.

    The reason is the exception class when the runner recorded one.  Two
    plugins report a failure as a value instead: InfoComparison returns
    the ``InfoFilesDifferException`` text, DatasetComparison a result
    that did not pass."""
    if passed:
        return "pass"
    if exception_name:
        return f"fail:{exception_name}"
    if plugin == "InfoComparison" and str(returned).startswith(_INFO_DIFFER):
        return "fail:InfoFilesDifferException"
    if plugin == "DatasetComparison":
        return "fail:DatasetsDiffer"
    return "fail:unknown"


def check_e2e(outcomes: dict[str, str], expected: dict[str, str]) -> list[str]:
    """Every step ran and ended as the suite expects."""
    errors = []
    for name, want in expected.items():
        got = outcomes.get(name)
        if got != want:
            errors.append(f"step {name!r}: expected {want}, got {got}")
    for name in outcomes.keys() - expected.keys():
        errors.append(f"step {name!r} has no expected outcome")
    return errors
