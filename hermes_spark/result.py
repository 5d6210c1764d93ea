"""Comparison result model.

Mirrors ``datasetComparison/.../ComparisonResult.scala:61-92`` and its JSON
protocol (``ComparisonResult.scala:22-50``): same field names and the same
``_METRICS`` JSON keys (``referenceRowCount``, ``newRowCount``,
``newDuplicateCount``, ``refDuplicateCount``, ``passed``,
``numberOfDifferences``, ``passedRowsCount``, ``passedOptions``,
``additionalInfo``).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import Any, Callable, Optional

from pyspark.sql import Column, DataFrame


@dataclass
class ComparisonResult:
    ref_row_count: int
    new_row_count: int
    ref_duplicate_count: int
    new_duplicate_count: int
    passed_count: int
    used_schema_selector: list[Column] = field(default_factory=list)
    result_df: Optional[DataFrame] = None
    diff_count: int = 0
    passed_options: str = ""
    additional_info: dict[str, str] = field(default_factory=dict)
    #: set by DatasetComparator: frees the executor-storage caches
    #: ``result_df`` is computed from (fast/hash modes persist the
    #: classification; fast mode also the two complements).  Each action
    #: on ``result_df`` computes the diff from them, so call
    #: :meth:`release` after the last one — especially through the
    #: module-level ``compare()`` convenience function, where the
    #: comparator instance (and its ``release()``) is otherwise
    #: unreachable.
    _releaser: Optional[Callable[[], None]] = field(
        default=None, repr=False, compare=False
    )

    @property
    def passed(self) -> bool:
        return self.diff_count == 0

    def release(self) -> None:
        """Unpersist any DataFrames the producing comparator cached on
        behalf of ``result_df``.  Safe to call multiple times; a no-op
        for results not produced by a comparator (e.g. ``from_json``)."""
        if self._releaser is not None:
            self._releaser()

    def get_metadata(self) -> dict[str, Any]:
        return {
            "referenceRowCount": self.ref_row_count,
            "newRowCount": self.new_row_count,
            "newDuplicateCount": self.new_duplicate_count,
            "refDuplicateCount": self.ref_duplicate_count,
            "passed": self.passed,
            "numberOfDifferences": self.diff_count,
            "passedRowsCount": self.passed_count,
            "passedOptions": self.passed_options,
            "additionalInfo": self.additional_info,
        }

    def get_json_metadata(self) -> str:
        return json.dumps(self.get_metadata())

    def get_pretty_json(self) -> str:
        return json.dumps(self.get_metadata(), indent=2)

    @classmethod
    def from_json(cls, payload: str) -> "ComparisonResult":
        data = json.loads(payload)
        return cls(
            ref_row_count=data["referenceRowCount"],
            new_row_count=data["newRowCount"],
            ref_duplicate_count=data["refDuplicateCount"],
            new_duplicate_count=data["newDuplicateCount"],
            passed_count=data["passedRowsCount"],
            diff_count=data["numberOfDifferences"],
            passed_options=data.get("passedOptions", ""),
            additional_info=data.get("additionalInfo", {}),
        )
