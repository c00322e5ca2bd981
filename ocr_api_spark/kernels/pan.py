"""PAN card extraction kernels.

Ports of ``extract_pan_data`` (app.py:567-620), ``extract_old_pan_data``
(app.py:509-564) and the endpoint cascade (app.py:2170-2178).
"""

from __future__ import annotations

import re
import string

from ocr_api_spark.kernels.common import (
    alpha_space,
    correct_pan_number,
    normalize_dob_format,
    search_date,
    split_lines,
)

_PAN_RELAXED = re.compile(r"[A-Z]{5}[0-9A-Z]{4}[A-Z]")
_PAN_STRICT = re.compile(r"[A-Z]{5}[0-9]{4}[A-Z]")
_PAN_CLEAN = re.compile(r"[^A-Z0-9]+")

_NEW_PAN_NAME_EXCLUDE = ["GOVT.", "INCOME TAX", "PERMANENT ACCOUNT NUMBER", "CARD", "DATE OF BIRTH", "FATHER"]

# The bytes _scan's lines are made of: split_lines keeps charset A
# ([A-Za-z0-9 /,\n-], every non-ASCII character deleted) and _scan drops ",".
_UNKEPT = bytes(c for c in range(256) if c not in (string.ascii_letters + string.digits + " /\n-").encode())
# upper-case letters read as "A", digits as "0", "-" as "/"
_SHAPE = bytes.maketrans((string.ascii_uppercase + string.digits + "-").encode(), b"A" * 26 + b"0" * 10 + b"/")
_UPPER = bytes.maketrans(string.ascii_lowercase.encode(), string.ascii_uppercase.encode())


def _empty() -> dict:
    return {"ocr_name": "", "ocr_father_name": "", "ocr_dob": "", "ocr_pan_number": ""}


def _try_pan_number(clean_line: str) -> str | None:
    """Relaxed match + OCR repair + strict re-validation (app.py:588-597)."""
    pan_match = _PAN_RELAXED.search(clean_line)
    if pan_match:
        correct_pan = correct_pan_number(pan_match.group(0))
        if len(correct_pan) == 10:
            strict = _PAN_STRICT.search(correct_pan)
            if strict:
                return correct_pan_number(strict.group(0))
    return None


def _holds_evidence(text: str) -> bool:
    """False only when no line of ``_scan`` can hold a relaxed PAN (five
    [A-Z] in a row), a date (``\\d\\d[-/]\\d\\d[-/]\\d\\d\\d\\d``) or a NAME,
    FATHER or TAX anchor.  None of these contains a space or a newline,
    so the sanitised text can be searched whole: a miss there is a miss
    on every line."""
    raw = text.encode("ascii", "ignore")
    shape = raw.translate(_SHAPE, _UNKEPT)
    if b"AAAAA" in shape or b"00/00/0000" in shape:
        return True
    upper = raw.translate(_UPPER, _UNKEPT)
    return b"NAME" in upper or b"FATHER" in upper or b"TAX" in upper


def _scan(text: str) -> tuple[list, list, list, list]:
    """``_scan_lines(text)``, except that a text without evidence scans
    as no lines: both layouts read the all-empty result off those, as
    they would off its lines."""
    if not _holds_evidence(text):
        return [], [], [], []
    return _scan_lines(text)


def _scan_lines(text: str) -> tuple[list, list, list, list]:
    """The per-line reads both layouts share, computed once per text:
    ``split_lines(text)``, then per line ``sanitize_b(line).upper()``,
    ``_try_pan_number(sanitize_b(line))`` and ``search_date(sanitize_b(line))``."""
    lines = split_lines(text)
    # split_lines leaves only charset A, which is charset B plus ",", so
    # sanitize_b(line) is line.replace(",", "")
    joined = "\n".join(lines).replace(",", "")
    clean = joined.split("\n")
    # neither pattern can match across "\n", so a miss on the joined text
    # proves no line matches and the per-line pass is skipped
    pans = [_try_pan_number(c) for c in clean] if _PAN_RELAXED.search(joined) else [None] * len(lines)
    dates = [search_date(c) for c in clean] if search_date(joined) else [None] * len(lines)
    return lines, joined.upper().split("\n"), pans, dates


def _finish(extracted_data: dict) -> dict:
    extracted_data["ocr_name"] = alpha_space(extracted_data["ocr_name"]).strip()
    extracted_data["ocr_father_name"] = alpha_space(extracted_data["ocr_father_name"]).strip()
    extracted_data["ocr_pan_number"] = _PAN_CLEAN.sub("", extracted_data["ocr_pan_number"]).strip()
    return extracted_data


def _pan_data(scan: tuple) -> dict:
    extracted_data = _empty()
    lines, upper, pans, dates = scan
    for i, (line, pan, dob_match) in enumerate(zip(lines, pans, dates)):
        if pan is not None:
            extracted_data["ocr_pan_number"] = pan
            continue
        if dob_match and not extracted_data["ocr_dob"]:
            extracted_data["ocr_dob"] = normalize_dob_format(dob_match)
            continue
        if (
            "NAME" in upper[i]
            and i + 1 < len(lines)
            and not extracted_data["ocr_name"]
            and not any(keyword in line for keyword in _NEW_PAN_NAME_EXCLUDE)
        ):
            extracted_data["ocr_name"] = alpha_space(lines[i + 1]).strip()
            continue
        if "FATHER" in upper[i] and i + 1 < len(lines):
            extracted_data["ocr_father_name"] = alpha_space(lines[i + 1]).strip()

    return _finish(extracted_data)


def _old_pan_data(scan: tuple) -> dict:
    extracted_data = _empty()
    lines, upper, pans, dates = scan
    for i, (line, pan, dob_match) in enumerate(zip(lines, pans, dates)):
        if pan is not None:
            extracted_data["ocr_pan_number"] = pan
            continue
        if dob_match:
            extracted_data["ocr_dob"] = normalize_dob_format(dob_match)
            continue
        if "TAX" in upper[i] and i + 1 < len(lines) and not extracted_data["ocr_name"]:
            if "INDIA" not in upper[i + 1]:
                extracted_data["ocr_name"] = alpha_space(lines[i + 1]).strip()
                # no continue — falls through (reference quirk, app.py:551)
            elif i + 2 < len(lines):
                extracted_data["ocr_name"] = alpha_space(lines[i + 2]).strip()
                continue
        if extracted_data["ocr_name"] and not extracted_data["ocr_dob"]:
            extracted_data["ocr_father_name"] = alpha_space(line).strip()

    return _finish(extracted_data)


def extract_pan_data(text: str) -> dict:
    """New-layout PAN extractor (app.py:567-620): NAME/FATHER label
    anchoring, first-match DOB, relaxed PAN with repair."""
    return _pan_data(_scan(text))


def extract_old_pan_data(text: str) -> dict:
    """Old-layout PAN extractor (app.py:509-564): TAX/INDIA two-line
    anchoring; the father-name line keeps overwriting while a name is
    set and no DOB seen yet (reference quirk, app.py:555-557)."""
    return _old_pan_data(_scan(text))


def extract_pan(text: str) -> dict:
    """The live cascade (app.py:2170-2178): new-layout first, fall back
    to old-layout when no name, then normalize the DOB."""
    scan = _scan(text)
    extracted_data = _pan_data(scan)
    if not extracted_data.get("ocr_name"):
        extracted_data = _old_pan_data(scan)
    extracted_data["ocr_dob"] = normalize_dob_format(extracted_data["ocr_dob"])
    return extracted_data
