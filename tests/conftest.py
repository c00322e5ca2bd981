"""Shared test utilities.

``reference_ns`` loads the *pure* extraction functions out of the
read-only reference (``/root/reference/app.py``) by exec'ing their
source in a stubbed namespace (no Flask/OpenCV/OCR imports).  Tests
that use it are differential parity tests; they skip automatically when
the reference checkout is absent so the repo stays standalone.
"""

from __future__ import annotations

import ast
import io
import os
import re
import sys
from contextlib import redirect_stdout
from datetime import datetime

import pytest

REFERENCE_APP = "/root/reference/app.py"

# Integrity pin: parity tests exec source lifted from the (untrusted,
# read-only) reference checkout.  If that file ever changes, skip loudly
# instead of exec'ing unreviewed code in-process.
REFERENCE_SHA256 = "01c12b4112f013ad61eacd5fddf63f17277caf7cbc610b40fd5070609dbcaa48"

# Pure functions we lift from the reference for differential testing.
_PURE_FUNCS = [
    "normalize_dob_format",
    "correct_pan_number",
    "string_matching_percentage",
    "clean_text",
    "extract_financial_data",
    "extract_pan_data",
    "extract_old_pan_data",
    "DigiLockeraadhar",
    "extract_front_page_reissue_adahar",
    "extract_front_page_adahar",
    "extract_full_page_adahar",
    "extract_both_side_adahar",
    "extract_both_side_reissue_adahar",
    "extract_bank_data",
    "get_index",
    "normalize_ifsc",
    "validate_relaxed_ifsc",
    "extract_ifsc_from_prefix",
    "extract_ifsc_code_from_text",
    "extract_name_from_text",
    "extract_address",
    "address_breaker",
    "extract_dl_number",
    "extract_pincode",
    "extract_dl_info",
    "extract_passport_number",
    "extract_surname",
    "extract_given_name",
    "extract_dates",
    "extract_passport_info",
    "extract_address_and_pin",
    "extract_family_members",
]


class _FtfyStub:
    """ftfy stand-in backed by our minimal mojibake fixer (same pattern
    as _FuzzStub): with real ftfy absent on BOTH sides, parity tests
    exercise the surrounding logic against one shared repair."""

    @staticmethod
    def fix_text(text):
        from ocr_api_spark.kernels.common import _fix_text

        return _fix_text(text)


class _FuzzStub:
    """rapidfuzz.fuzz stand-in backed by our exact indel implementation —
    the parity tests for ``string_matching_percentage`` therefore check
    the *surrounding* semantics (None handling, lower/strip)."""

    @staticmethod
    def ratio(s1, s2):
        from ocr_api_spark.kernels.matching import indel_ratio

        return indel_ratio(s1, s2)


def _load_reference_namespace():
    src = open(REFERENCE_APP, encoding="utf-8").read()
    tree = ast.parse(src)
    # Take the LAST definition of each name — Python's call-time binding
    # means the later def is the effective one (SURVEY.md §0.1).
    defs = {}
    for node in tree.body:
        if isinstance(node, ast.FunctionDef) and node.name in _PURE_FUNCS:
            defs[node.name] = ast.get_source_segment(src, node)
    # Module-level constant needed as a default-arg at def time (app.py:4558).
    prefixes_match = re.search(r"BANK_IFSC_PREFIXES\s*=\s*\[[^\]]*\]", src)
    assert prefixes_match, "BANK_IFSC_PREFIXES not found in reference"
    ns = {
        "re": re,
        "datetime": datetime,  # app.py:5096 rebinds to the class
        "ftfy": _FtfyStub(),
        "fuzz": _FuzzStub(),
        "print": lambda *a, **k: None,
    }
    exec(prefixes_match.group(0), ns)
    # convert_to_ddmmyyyy needs dateutil's parser
    try:
        from dateutil import parser

        ns["parser"] = parser
    except ImportError:
        pass
    missing = [n for n in _PURE_FUNCS if n not in defs]
    assert not missing, f"reference functions not found: {missing}"
    buf = io.StringIO()
    with redirect_stdout(buf):
        for name in _PURE_FUNCS:
            exec(compile(defs[name], f"<reference:{name}>", "exec"), ns)
    return ns


@pytest.fixture(scope="session")
def reference_ns():
    if not os.path.exists(REFERENCE_APP):
        pytest.skip("reference checkout not available")
    import hashlib

    digest = hashlib.sha256(open(REFERENCE_APP, "rb").read()).hexdigest()
    if digest != REFERENCE_SHA256:
        pytest.skip(
            f"reference app.py sha256 changed ({digest[:12]}… != pinned "
            f"{REFERENCE_SHA256[:12]}…) — refusing to exec unpinned source"
        )
    return _load_reference_namespace()


def run_ref(ns, name, *args, **kwargs):
    """Call a lifted reference function with stdout silenced (the
    reference prints per call)."""
    buf = io.StringIO()
    with redirect_stdout(buf):
        return ns[name](*args, **kwargs)


def pytest_configure(config):
    config.addinivalue_line("markers", "slow: long-running end-to-end test")
