"""The clips RuleSet: the engine's standing rule table for the input_hint
schema — the analog of the reference's per-sheet dispatch
(/root/reference/Validation_Rules.py:4-61), declared once, compiled to one
fused pass by plans/compile.py.
"""

from __future__ import annotations

import functools

from seronet_data_validator_spark.plans.rules import (
    Rule,
    RuleSet,
    check_id_format,
    check_in_list,
    check_number,
    check_required,
    check_speech_rate,
    check_string,
)
from seronet_data_validator_spark.sources.clips import SAMPLE_RATES, SITES

CLIP_ID_PATTERN = r"^[0-9]{2}_[0-9]{6}_[0-9]{3}$"


def clips_ruleset(*, site_registry: list[str] | None = None) -> RuleSet:
    """Row-level rules for the clips table.

    Mirrors, structurally, the reference's ID-format checks (C3,
    Validation_Rules.py:131-150), categorical membership (C6), numeric range
    (C9), free-text (C10) and required-ness (C14). Uniqueness (C4),
    referential (C15), presence (C17), count reconciliation (C18) and the
    decoded-PCM invariant (C13 analog) run as separate table-level operators
    — see runner.validate_clips.

    Each call returns a fresh RuleSet (``add`` on it does not leak into the
    next call) over the SAME Rule values per site registry, so the
    compiler's per-rule lane memo (plans/compile.py) hits across calls.
    """
    rules = _clips_rules(tuple(site_registry or SITES))
    return RuleSet(table_name="clips", rules=list(rules), row_ref_column="clip_id")


@functools.lru_cache(maxsize=8)
def _clips_rules(site_registry: tuple[str, ...]) -> tuple[Rule, ...]:
    return (
        Rule(
            "C3.clip_id_format",
            "clip_id",
            check_id_format(CLIP_ID_PATTERN, registry_prefixes=site_registry),
        ),
        Rule(
            "C6.sr_hz_allowed",
            "sr_hz",
            check_in_list([str(s) for s in SAMPLE_RATES], case_insensitive=False),
        ),
        Rule("C9.dur_ms_range", "dur_ms", check_number(lower=1, upper=600_000, int_only=True)),
        Rule("C10.transcript_text", "transcript", check_string()),
        Rule("C14.transcript_required", "transcript", check_required(required="Yes")),
        # C13b: cross-modal metadata screen — transcript word count vs
        # declared duration. The fixture's synthetic clips are 50-400 ms
        # with 3-11 words (7.5-220 words/sec), so the band is calibrated to
        # 240; real speech corpora would run ~0.5-6 wps.
        Rule("C13b.speech_rate", "transcript", check_speech_rate("dur_ms", max_wps=240.0)),
        Rule("C14.codec_required", "codec", check_required(required="Yes")),
    )
