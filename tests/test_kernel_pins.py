"""The text kernels' outputs match the digests in tests/data/kernel_pins.json.

The pins were written by ``scripts/pin_kernels.py`` before the kernels
they cover were last rewritten; a rewrite must leave every digest
unchanged.  No Spark.
"""

from __future__ import annotations

import json

from scripts.pin_kernels import KERNELS, PINS_PATH, compute_pins, render


def test_kernel_outputs_match_pins():
    with open(PINS_PATH) as f:
        pinned = json.load(f)
    assert compute_pins() == pinned


def test_pins_cover_every_kernel_and_render_stably():
    with open(PINS_PATH) as f:
        text = f.read()
    pinned = json.loads(text)
    assert render(pinned) == text
    for cls, entry in pinned.items():
        # the document classes also pin match_batch over their claims
        batch = {"match_batch"} if cls.startswith("doc.") else set()
        assert set(entry) == set(KERNELS) | {"n"} | batch, cls
        assert entry["n"] > 0, cls
