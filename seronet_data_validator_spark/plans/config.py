"""Declarative rule-pack loader: JSON/dict → compiled RuleSet.

The reference drives its validation from CONFIG, not code — each template
sheet maps column names to rule kinds and parameters
(/root/reference/Validation_Rules.py:175-254 dispatches on per-column rule
descriptors). The programmatic ``rulesets.py`` API covers the engine's own
lifecycle; this module restores the reference's config-driven authoring
model: a data team ships a JSON rule pack, the engine compiles it into the
SAME fused single-projection pass (`plans/compile.py`) as hand-written
rules — no Python authoring required, no second execution path to audit.

Pack shape::

    {
      "table": "clips",
      "row_ref": "clip_id",
      "rules": [
        {"rule_id": "C3.id", "column": "clip_id", "check": "id_format",
         "params": {"pattern": "^[0-9]{2}_[0-9]{6}$"}},
        {"rule_id": "C8.date", "column": "recorded", "check": "date",
         "params": {"lower": "2000-01-01"},
         "depends_on": {"column": "has_date", "values": ["Yes"]}}
      ]
    }

``depends_on`` compiles to a `Precondition` (C1 gate + C2 Not-Validated
emission); params pass through to the named check builder verbatim, so the
JSON surface grows automatically with the builder registry.
"""

from __future__ import annotations

import json
from typing import Any, Callable

from seronet_data_validator_spark.plans import rules as R

# name → builder; every entry is one reference primitive (cited in rules.py)
BUILDERS: dict[str, Callable[..., R.CheckFn]] = {
    "id_format": R.check_id_format,
    "in_list": R.check_in_list,
    "registry_membership": R.check_registry_membership,
    "interpretation": R.check_interpretation,
    "date": R.check_date,
    "number": R.check_number,
    "string": R.check_string,
    "required": R.check_required,
    "parent_substr": R.check_parent_substr,
    "column_compare": R.check_column_compare,
    "percent_identity": R.check_percent_identity,
    "duration_triplet": R.check_duration_triplet,
    "regex": R.check_regex,
    "speech_rate": R.check_speech_rate,
}

_LIST_PARAMS = {"values", "registry_prefixes", "substrings", "keys"}


def _normalize_params(params: dict[str, Any]) -> dict[str, Any]:
    # JSON arrays arrive as lists; builders taking Sequence accept them as-is,
    # but tuples keep Rule dataclasses hashable/stable for tests
    return {
        k: tuple(v) if k in _LIST_PARAMS and isinstance(v, list) else v
        for k, v in params.items()
    }


def _precondition(spec: dict[str, Any]) -> R.Precondition:
    return R.Precondition(
        column=spec["column"],
        values=spec.get("values") or None,
        kind=spec.get("kind", "in_list"),
        exempt_values=spec.get("exempt_values", ()),
        emit_not_validated=spec.get("emit_not_validated", True),
    )


def ruleset_from_dict(pack: dict[str, Any]) -> R.RuleSet:
    """Compile a rule-pack dict into a RuleSet. Unknown check names and
    bad params fail HERE, at load time, with the rule_id in the message —
    not at query-analysis time deep inside Catalyst."""
    rs = R.RuleSet(
        table_name=pack["table"],
        row_ref_column=pack.get("row_ref", "clip_id"),
    )
    for spec in pack["rules"]:
        rule_id = spec.get("rule_id", "<missing rule_id>")
        kind = spec.get("check")
        builder = BUILDERS.get(kind)
        if builder is None:
            raise ValueError(
                f"rule {rule_id!r}: unknown check {kind!r}; "
                f"available: {sorted(BUILDERS)}"
            )
        try:
            check = builder(**_normalize_params(spec.get("params", {})))
        except TypeError as e:
            raise ValueError(f"rule {rule_id!r}: bad params for {kind!r}: {e}") from e
        pre = _precondition(spec["depends_on"]) if "depends_on" in spec else None
        rs.add(R.Rule(rule_id, spec["column"], check, precondition=pre))
    return rs


def ruleset_from_json(text_or_path: str) -> R.RuleSet:
    """Load a rule pack from a JSON string or a file path."""
    if text_or_path.lstrip().startswith("{"):
        return ruleset_from_dict(json.loads(text_or_path))
    with open(text_or_path) as f:
        return ruleset_from_dict(json.load(f))
