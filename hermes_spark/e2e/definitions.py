"""Test-definition model, parsing, scheduling and dependency validation.

Mirrors ``e2eRunner/.../TestDefinition.scala:36-41`` and
``TestDefinitions.scala:22-125``:

- JSON document ``{"vars": {...}, "runs": [...]}``;
- ``#{var}#`` placeholders in the runs section are substituted from
  ``vars`` merged with (and overridden by) extra CLI vars; any
  placeholder left unresolved is an error;
- schedule order is ``(order, pluginName)`` with a 1-based actual order;
- every ``dependsOn`` must reference a test scheduled earlier.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field
from typing import Optional


class TestDefinitionJsonMalformed(Exception):
    pass


class UndefinedVariablesInTestDefinitionJson(Exception):
    def __init__(self, names: set[str]) -> None:
        self.names = names
        super().__init__(
            f"Undefined variables in test definition json: {sorted(names)}"
        )


class TestDefinitionDependenciesOutOfOrder(Exception):
    __test__ = False  # a library class, not a pytest test class

    def __init__(self, names: list[str]) -> None:
        self.names = names
        super().__init__(
            "Tests with dependencies scheduled after them or undefined: "
            f"{names}"
        )


_VARS_PATTERN = re.compile(r"#\{\s*[\w\-]+\s*\}#")


@dataclass(frozen=True)
class TestDefinition:
    name: str
    order: int
    plugin_name: str
    args: tuple[str, ...] = ()
    depends_on: Optional[str] = None
    write_args: Optional[tuple[str, ...]] = None

    @classmethod
    def from_dict(cls, data: dict) -> "TestDefinition":
        try:
            return cls(
                name=data["name"],
                order=int(data["order"]),
                plugin_name=data["pluginName"],
                args=tuple(data.get("args", [])),
                depends_on=data.get("dependsOn"),
                write_args=(
                    tuple(data["writeArgs"]) if "writeArgs" in data else None
                ),
            )
        except KeyError as exc:
            raise TestDefinitionJsonMalformed(
                f"Test definition missing required key {exc}"
            ) from exc


@dataclass(frozen=True)
class TestDefinitionWithOrder:
    definition: TestDefinition
    actual_order: int


@dataclass
class TestDefinitions:
    __test__ = False  # a library class, not a pytest test class

    definitions: list[TestDefinition] = field(default_factory=list)

    # -------------------------------------------------------------- parse

    @classmethod
    def from_string(
        cls, json_string: str, extra_vars: Optional[dict[str, str]] = None
    ) -> "TestDefinitions":
        parsed = json.loads(json_string)
        variables = {**parsed.get("vars", {}), **(extra_vars or {})}
        if "runs" not in parsed:
            raise TestDefinitionJsonMalformed("Runs key not defined")
        runs_string = json.dumps(parsed["runs"])
        for key, value in variables.items():
            runs_string = runs_string.replace(f"#{{{key}}}#", value)
        leftover = set(_VARS_PATTERN.findall(runs_string))
        if leftover:
            raise UndefinedVariablesInTestDefinitionJson(leftover)
        runs = json.loads(runs_string)
        return cls([TestDefinition.from_dict(r) for r in runs])

    @classmethod
    def from_file(
        cls, path: str, extra_vars: Optional[dict[str, str]] = None
    ) -> "TestDefinitions":
        with open(path, encoding="utf-8") as fh:
            return cls.from_string(fh.read(), extra_vars)

    # ----------------------------------------------------------- schedule

    @property
    def size(self) -> int:
        return len(self.definitions)

    def get_plugin_names(self) -> set[str]:
        return {td.plugin_name for td in self.definitions}

    def get_sorted(self) -> list[TestDefinition]:
        return sorted(self.definitions, key=lambda td: (td.order, td.plugin_name))

    def get_sorted_with_index(self) -> list[TestDefinitionWithOrder]:
        return [
            TestDefinitionWithOrder(td, index + 1)
            for index, td in enumerate(self.get_sorted())
        ]

    def ensure_order_and_dependencies_correct(self) -> None:
        seen: list[str] = []
        bad: list[str] = []
        for td in self.get_sorted():
            if td.depends_on is not None and td.depends_on not in seen:
                bad.append(td.name)
            seen.append(td.name)
        if bad:
            raise TestDefinitionDependenciesOutOfOrder(bad)
