"""Metric names and units as declared in the repository's BENCHMARK.json."""

from __future__ import annotations

import json
import os


def metric_names(root: str, section: str) -> list[tuple[str, str]]:
    with open(os.path.join(root, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    return [(m["name"], m["unit"]) for m in spec[section]]
