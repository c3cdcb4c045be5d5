"""EngineConfig carries only knobs the engine reads."""

from __future__ import annotations

import ast
import dataclasses
from pathlib import Path

from entity_resolver_spark.config import EngineConfig

PACKAGE = Path(__file__).resolve().parent.parent / "entity_resolver_spark"


def test_every_config_field_is_read():
    """A field that no module outside config.py reads is a dead knob:
    setting it changes nothing, silently."""
    read = set()
    for path in PACKAGE.rglob("*.py"):
        if path.name == "config.py":
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Attribute) and isinstance(node.ctx, ast.Load):
                read.add(node.attr)
    dead = [f.name for f in dataclasses.fields(EngineConfig) if f.name not in read]
    assert dead == [], f"EngineConfig fields nothing reads: {dead}"


def test_config_fields_are_the_kept_settings():
    """Each field is a setting some caller sets: the deployment and tuning
    levers. Feature-space widths, seeds and cost-model constants stay module
    constants in config.py — a new field must come with a caller that sets
    it."""
    assert [f.name for f in dataclasses.fields(EngineConfig)] == [
        "rare_shingle_max_df",
        "rare_shingle_k",
        "max_block_size",
        "cc_reliable_every",
        "enhancement_aggressiveness",
        "broadcast_max_records",
        "broadcast_max_bytes",
        "broadcast_hard_max_records",
        "min_edge_confidence",
    ]
