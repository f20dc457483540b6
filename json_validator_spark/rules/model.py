"""Rule model — the engine's "schema".

The reference validates a document against a JSON Schema (keyword tree,
interpreted per document by networknt — ``JSONValidator.java:381-397``).
Here a *schema* is declarative data: a flat table of rules, each one
keyword application bound to a target path. Rules are plain Python
objects; they compile to Catalyst Column expressions once per rule set
per SparkContext (the analogue of schema parsing at
``JSONValidator.java:321-345``, except we deliberately cache the
compiled form in ``operators/row_checks.with_violations`` — the
reference disables schema caching per request,
``JSONValidator.java:326,334``).

Target path grammar (JSON-pointer style, mirroring the reference's
``PathType.JSON_POINTER`` locations, ``JSONValidator.java:327``):

- ``/<col>``              top-level document column (doc-level rule)
- ``/spans``              the spans array itself (array-level rule)
- ``/spans/*/<field>``    every span's field (span-level rule)
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from enum import Enum
from typing import Any, Callable

SEVERITIES = ("error", "warning", "info")


def map_subnodes(
    params: dict[str, Any], fn: Callable[[dict[str, Any]], Any]
) -> dict[str, Any]:
    """Copy of a compiled node's ``params`` with ``fn`` applied to every
    nested ``{kind, params}`` node — the one list of where they sit:
    ``schema``, ``schemas``, the values of ``properties`` (per-key) and
    ``mapping`` (discriminator), and the ``when`` conjunctions of
    ``unevaluated*`` ``contributors``. Key order is preserved."""
    out = dict(params)
    if isinstance(params.get("schema"), dict):
        out["schema"] = fn(params["schema"])
    if isinstance(params.get("schemas"), list):
        out["schemas"] = [fn(s) if isinstance(s, dict) else s for s in params["schemas"]]
    for holder in ("properties", "mapping"):
        if isinstance(params.get(holder), dict):
            out[holder] = {
                k: fn(v) if isinstance(v, dict) else v for k, v in params[holder].items()
            }
    if isinstance(params.get("contributors"), list):
        out["contributors"] = [
            {**c, "when": [fn(n) if isinstance(n, dict) else n for n in c.get("when", [])]}
            for c in params["contributors"]
        ]
    return out


def subnodes(params: dict[str, Any]) -> list[dict[str, Any]]:
    """The nested nodes of a compiled node's ``params``, in
    ``map_subnodes`` order."""
    found: list[dict[str, Any]] = []
    map_subnodes(params, found.append)
    return found


class Combination(str, Enum):
    """Schema-set combination approach — ``InputHelper.java:41-53``,
    applied at ``JSONValidator.java:252-296``."""

    ALL = "all"
    ANY = "any"
    ONE_OF = "oneOf"


@dataclass(frozen=True)
class Rule:
    """One keyword application. ``kind`` names a §2.2 vocabulary entry.

    ``params`` are keyword parameters (enum values, regex, bounds, the
    dimension table name for referential rules, thresholds for drift).
    """

    rule_id: str
    target: str
    kind: str
    params: dict[str, Any] = field(default_factory=dict)
    severity: str = "error"
    ruleset: str = "default"

    def __post_init__(self) -> None:
        if self.severity not in SEVERITIES:
            raise ValueError(f"severity must be one of {SEVERITIES}: {self.severity}")
        if not self.target.startswith("/"):
            raise ValueError(f"target must be a JSON-pointer-style path: {self.target}")

    # --- path helpers -------------------------------------------------
    @property
    def level(self) -> str:
        parts = self.target.strip("/").split("/")
        if len(parts) >= 3 and parts[1] == "*":
            return "span"
        return "doc"

    @property
    def column(self) -> str:
        """Top-level column the rule touches (for column pruning)."""
        return self.target.strip("/").split("/")[0]

    @property
    def span_field(self) -> str | None:
        parts = self.target.strip("/").split("/")
        return parts[2] if len(parts) >= 3 and parts[1] == "*" else None

    # --- (de)serialization — the rule-table fixture shape (FIXTURES.md §4)
    def to_row(self) -> dict[str, str]:
        return {
            "rule_id": self.rule_id,
            "target": self.target,
            "kind": self.kind,
            "params": json.dumps(self.params, sort_keys=True),
            "severity": self.severity,
            "ruleset": self.ruleset,
        }

    @classmethod
    def from_row(cls, row: dict[str, Any]) -> "Rule":
        params = row.get("params") or "{}"
        if isinstance(params, str):
            params = json.loads(params)
        return cls(
            rule_id=row["rule_id"],
            target=row["target"],
            kind=row["kind"],
            params=params,
            severity=row.get("severity", "error"),
            ruleset=row.get("ruleset", "default"),
        )


@dataclass(frozen=True)
class RuleSet:
    """A named group of rules plus how groups combine.

    A ``RuleSet`` with multiple ``ruleset`` labels among its rules and a
    ``combination`` is the analogue of the reference's schema set with an
    ALL/ANY/ONE_OF approach (``JSONValidator.java:252-296``).
    """

    rules: tuple[Rule, ...]
    combination: Combination = Combination.ALL
    name: str = "default"

    def __post_init__(self) -> None:
        seen: set[str] = set()
        for r in self.rules:
            if r.rule_id in seen:
                raise ValueError(f"duplicate rule_id: {r.rule_id}")
            seen.add(r.rule_id)

    @property
    def branch_names(self) -> list[str]:
        out: list[str] = []
        for r in self.rules:
            if r.ruleset not in out:
                out.append(r.ruleset)
        return out

    def branch(self, name: str) -> list[Rule]:
        return [r for r in self.rules if r.ruleset == name]

    def columns_touched(self) -> set[str]:
        cols = {r.column for r in self.rules}
        cols.discard("")  # root-anchored ("/") rules touch no column
        for r in self.rules:
            dep = r.params.get("if_target")
            if dep:
                cols.add(dep.strip("/").split("/")[0])
        return cols


@dataclass(frozen=True)
class RuleSetGroup:
    """Conjunction of rule-set groups, each keeping its OWN combination.

    The reference combines a *preconfigured* schema group with a
    *user-provided* group via allOf while each group applies its own
    ALL/ANY/ONE_OF approach (``JSONValidator.java:423-435``; profile
    types like ``userAllOfRequired`` in
    ``etc/dev/test/config.properties:8-11``). Here: a document passes
    iff EVERY member ``RuleSet`` passes under its own combination; the
    surviving violations are the union of each group's combined output.
    """

    groups: tuple[RuleSet, ...]
    name: str = "grouped"

    def __post_init__(self) -> None:
        if not self.groups:
            raise ValueError("RuleSetGroup needs at least one RuleSet")
        seen: set[str] = set()
        for g in self.groups:
            for r in g.rules:
                if r.rule_id in seen:
                    raise ValueError(f"duplicate rule_id across groups: {r.rule_id}")
                seen.add(r.rule_id)

    def columns_touched(self) -> set[str]:
        out: set[str] = set()
        for g in self.groups:
            out |= g.columns_touched()
        return out
