"""Core dataclasses of the rule language.

Mirrors the reference's data model (dq-suite common.py:11-208 — Rule,
GeoRule, RulesDict, DatasetDict, DataQualityRulesDict) as plain frozen-ish
dataclasses with dict-style access for JSON round-tripping, plus this
engine's run-configuration object. Implementation is original (Spark-first
engine, not a GX wrapper).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

SEVERITY_PRIORITY = {"fatal": 3, "error": 2, "warning": 1, "ok": 0}
VALID_SEVERITIES = tuple(SEVERITY_PRIORITY)


def _require(cond: bool, msg: str) -> None:
    if not cond:
        raise ValueError(msg)


@dataclass
class Rule:
    """One declarative rule: ``(rule_name, parameters, severity, norm)``.

    ``rule_name`` is PascalCase (e.g. ``ExpectColumnValuesToNotBeNull``);
    ``parameters`` mirror the GX expectation kwargs of the same name.
    """

    rule_name: str
    parameters: dict[str, Any] = field(default_factory=dict)
    severity: str = "ok"
    norm: int | None = None

    def __post_init__(self) -> None:
        if not isinstance(self.rule_name, str):
            raise TypeError(f"rule_name must be str, got {type(self.rule_name)!r}")
        if not isinstance(self.parameters, dict):
            raise TypeError(f"parameters must be dict, got {type(self.parameters)!r}")
        _require(
            self.severity in VALID_SEVERITIES,
            f"severity must be one of {VALID_SEVERITIES}, got {self.severity!r}",
        )

    def __getitem__(self, key: str) -> Any:
        return getattr(self, key)

    def get(self, key: str, default: Any = None) -> Any:
        return getattr(self, key, default)

    @property
    def column(self) -> str | None:
        return self.parameters.get("column")

    def to_dict(self) -> dict[str, Any]:
        d: dict[str, Any] = {"rule_name": self.rule_name, "parameters": self.parameters}
        if self.severity != "ok":
            d["severity"] = self.severity
        if self.norm is not None:
            d["norm"] = self.norm
        return d


@dataclass
class GeoRule(Rule):
    """Geometry rule — compiles to a violation-row predicate over a WKT/geo
    column (reference: common.py:58-112 uses Databricks ``st_*`` SQL; our
    open-source fallback is a vectorized WKT check, swappable for native ST
    functions where the runtime has them)."""

    rule_type: str = "GeoRule"


@dataclass
class RulesDict:
    """Per-table rule group."""

    unique_identifier: str | list[str]
    table_name: str
    rules: list[Rule]
    mask_columns: list[str] | None = None
    validate_table_schema: str | None = None
    validate_table_schema_url: str | None = None

    def __post_init__(self) -> None:
        if not isinstance(self.table_name, str):
            raise TypeError("table_name must be str")
        if not isinstance(self.unique_identifier, (str, list)):
            raise TypeError("unique_identifier must be str or list[str]")

    def __getitem__(self, key: str) -> Any:
        return getattr(self, key)

    @property
    def unique_identifier_list(self) -> list[str]:
        uid = self.unique_identifier
        return [uid] if isinstance(uid, str) else list(uid)


@dataclass
class DatasetDict:
    name: str
    layer: str

    def __getitem__(self, key: str) -> Any:
        return getattr(self, key)


@dataclass
class TeamDict:
    teamid: str
    teamnaam: str = ""
    teamdescription: str = ""

    def __getitem__(self, key: str) -> Any:
        return getattr(self, key)


@dataclass
class DataQualityRulesDict:
    """The whole rules document: dataset + per-table rule groups + team."""

    dataset: DatasetDict
    tables: list[RulesDict]
    team: TeamDict

    def __getitem__(self, key: str) -> Any:
        return getattr(self, key)

    def table(self, table_name: str) -> RulesDict:
        for t in self.tables:
            if t.table_name == table_name:
                return t
        raise ValueError(f"No RulesDict with table_name={table_name!r}")

    def table_id(self, table_name: str) -> str:
        return f"{self.dataset.name}_{self.dataset.layer}_{table_name}"


@dataclass
class ValidationSettings:
    """Run configuration for one table validation.

    ``violation_mode``:
      - ``"row"`` (default, the scale path): one afwijking row per violating
        source row — fully distributed, bounded by ``violation_limit``.
      - ``"grouped"`` (reference-compat): one afwijking row per unique
        deviating value with all matching ids collected into the
        identifier field (reference: output_transformations.py:575-657) —
        computed with a DataFrame groupBy, never a driver loop.
    """

    table_name: str
    catalog_name: str = "dq"
    validation_name: str = "default"
    run_id: str | None = None
    violation_mode: str = "row"
    violation_limit: int | None = 100_000
    write_results: bool = False
    output_path: str | None = None
    output_format: str = "parquet"
    partition_columns: list[str] | None = None
    baseline_path: str | None = None
    notify_on: str = "failure"
    slack_webhook: str | None = None
    ms_teams_webhook: str | None = None

    def __post_init__(self) -> None:
        _require(self.violation_mode in ("row", "grouped"), "violation_mode must be 'row' or 'grouped'")
        _require(
            self.violation_limit is None or self.violation_limit >= 1,
            f"violation_limit must be None or >= 1, got {self.violation_limit!r}",
        )
        _require(
            self.notify_on in ("all", "failure", "success"),
            "notify_on must be one of ('all', 'failure', 'success')",
        )


def highest_severity(failed_rules: list[Rule]) -> str:
    """Max severity over failed rules; default 'ok'
    (reference: output_transformations.py:847-880)."""
    best = "ok"
    for rule in failed_rules:
        if SEVERITY_PRIORITY[rule.severity] > SEVERITY_PRIORITY[best]:
            best = rule.severity
    return best
