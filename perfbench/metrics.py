"""The metric catalogue: every end-to-end and per-layer metric the
benchmark prints, with its unit, as BENCHMARK.json at the checkout root
lists them."""

from __future__ import annotations

import json
import os

SPEC = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")

with open(SPEC, encoding="utf-8") as _fh:
    _spec = json.load(_fh)

END_TO_END = {m["name"]: m["unit"] for m in _spec["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _spec["per_layer"]}
