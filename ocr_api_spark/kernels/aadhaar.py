"""Aadhaar extraction kernels: the four live layout extractors, the two
reissue variants (present but disabled in the live cascade), and the
cascade itself.

Ports of ``DigiLockeraadhar`` (app.py:639-763),
``extract_front_page_reissue_adahar`` (app.py:767-935),
``extract_front_page_adahar`` (app.py:937-1127),
``extract_full_page_adahar`` (app.py:1131-1318),
``extract_both_side_adahar`` (app.py:1322-1549),
``extract_both_side_reissue_adahar`` (app.py:1553-1760),
cascade: app.py:2697-2722.
"""

from __future__ import annotations

import re

from ocr_api_spark.kernels.common import (
    DOB_TOKENS,
    alpha_space,
    digits_only,
    dob_gate,
    namecheck_8,
    normalize_dob_format,
    sanitize_b,
    split_lines,
)

_NUM_SEP = re.compile(r"[^0-9 /-]+")
_DIGITS_SPACE = re.compile(r"[^0-9 ]+")


def _empty() -> dict:
    return {
        "ocr_name": "",
        "ocr_address": "",
        "ocr_dob": "",
        "ocr_adhar_number": "",
        "ocr_address_for_match": "",
    }


def digilocker_aadhaar(text: str) -> dict:
    """DigiLocker layout (app.py:639-763): exact-label matching for the
    masked number / name / date-of-birth, C/O-S/O-D/O-anchored address
    collected until the CONFIDENTAL stop line (the first collected line
    is duplicated — reference quirk at app.py:709-713)."""
    extracted_data = _empty()
    lines = split_lines(text)
    if not lines or "DIGILOCKER" not in lines[0].upper():
        return extracted_data

    for i, line in enumerate(lines):
        clean_line = sanitize_b(line)

        if "masked aadhaar number" in clean_line.lower():
            if not extracted_data["ocr_adhar_number"]:
                extracted_data["ocr_adhar_number"] = sanitize_b(lines[i + 1]).strip()
                continue

        if "name" == clean_line.lower().strip():
            if not extracted_data["ocr_name"]:
                ocr_name = sanitize_b(lines[i + 1]).strip()
                if "date of birth" in ocr_name.lower() or "photo" in ocr_name.lower():
                    for j in range(1, i):
                        ocr_name = sanitize_b(lines[i - j]).strip().lower()
                        if "date of birth" not in ocr_name and "photo" not in ocr_name:
                            extracted_data["ocr_name"] = ocr_name
                            break
                        if "masked aadhaar number" in ocr_name:
                            break
                else:
                    extracted_data["ocr_name"] = ocr_name
                continue

        if "date of birth" == clean_line.lower().strip():
            if not extracted_data["ocr_dob"]:
                dob = _NUM_SEP.sub("", lines[i + 1]).strip()
                if dob:
                    extracted_data["ocr_dob"] = dob
                elif _NUM_SEP.sub("", lines[i - 1]).strip():
                    extracted_data["ocr_dob"] = _NUM_SEP.sub("", lines[i - 1]).strip()
                elif _NUM_SEP.sub("", lines[i + 2]).strip():
                    extracted_data["ocr_dob"] = _NUM_SEP.sub("", lines[i + 2]).strip()

        # The reference's c/o | s/o | d/o elif chain: identical bodies, each
        # gated on the address still being empty (app.py:694-750).
        if not extracted_data["ocr_address"] and any(
            tok in clean_line.lower().strip() for tok in ("c/o", "s/o", "d/o")
        ):
            for j in range(i + 1, len(lines)):
                clean_line1 = sanitize_b(lines[j])
                if "CONFIDENTAL" in clean_line1.upper():
                    break
                if not extracted_data["ocr_address"]:
                    extracted_data["ocr_address"] = extracted_data["ocr_address"] + clean_line1
                extracted_data["ocr_address_for_match"] = (
                    extracted_data["ocr_address_for_match"] + clean_line1
                )
                extracted_data["ocr_address"] = extracted_data["ocr_address"] + "," + clean_line1

    return extracted_data


def _collect_address_until_pin(extracted_data: dict, lines: list[str], start: int) -> None:
    """Address fold shared by the full-page and both-side extractors
    (app.py:1287-1307): collect sanitized lines, stop after (and include)
    the first line whose digit content is exactly 6 (the PIN line); the
    first collected line is duplicated (reference quirk)."""
    for j in range(start, len(lines)):
        clean_line1 = sanitize_b(lines[j])
        ocr_pin = _DIGITS_SPACE.sub("", clean_line1).strip()
        if "PIN" in clean_line1 and len(ocr_pin) == 6:
            extracted_data["ocr_address"] = extracted_data["ocr_address"] + "," + clean_line1
            extracted_data["ocr_address_for_match"] = (
                extracted_data["ocr_address_for_match"] + clean_line1
            )
            break
        elif len(ocr_pin) == 6:
            extracted_data["ocr_address"] = extracted_data["ocr_address"] + "," + clean_line1
            extracted_data["ocr_address_for_match"] = (
                extracted_data["ocr_address_for_match"] + clean_line1
            )
            break
        if not extracted_data["ocr_address"]:
            extracted_data["ocr_address"] = extracted_data["ocr_address"] + clean_line1
        extracted_data["ocr_address_for_match"] = extracted_data["ocr_address_for_match"] + clean_line1
        extracted_data["ocr_address"] = extracted_data["ocr_address"] + "," + clean_line1


def extract_front_page_adahar(text: str) -> dict:
    """Front-of-card layout (app.py:937-1127): 12-digit line = number,
    DOB-confusion chain, name = line whose next line has exactly 8
    digits *and* carries a DOB-ish token."""
    extracted_data = _empty()
    lines = split_lines(text)
    for i, line in enumerate(lines):
        clean_line = sanitize_b(line)

        adharno = digits_only(clean_line).strip()
        if len(adharno) == 12:
            extracted_data["ocr_adhar_number"] = adharno
            continue

        matched, dob = dob_gate(clean_line, lines, i)
        if matched and dob is not None:
            extracted_data["ocr_dob"] = dob
            continue

        namecheck = namecheck_8(lines, i)
        if (
            len(namecheck) == 8
            and any(tok in sanitize_b(lines[i + 1]).upper().strip() for tok in DOB_TOKENS)
            and not extracted_data["ocr_name"]
            and not extracted_data["ocr_dob"]
        ):
            extracted_data["ocr_name"] = alpha_space(clean_line).strip()
            continue
    return extracted_data


def extract_front_page_reissue_adahar(text: str) -> dict:
    """Reissue front layout (app.py:767-935): like the front page but the
    name gate drops the next-line DOB-token requirement.  Disabled in the
    live cascade (app.py:2716-2717) — kept for parity coverage."""
    extracted_data = _empty()
    lines = split_lines(text)
    for i, line in enumerate(lines):
        clean_line = sanitize_b(line)

        adharno = digits_only(clean_line).strip()
        if len(adharno) == 12:
            extracted_data["ocr_adhar_number"] = adharno
            continue

        matched, dob = dob_gate(clean_line, lines, i)
        if matched and dob is not None:
            extracted_data["ocr_dob"] = dob
            continue

        namecheck = namecheck_8(lines, i)
        if len(namecheck) == 8 and not extracted_data["ocr_name"] and not extracted_data["ocr_dob"]:
            extracted_data["ocr_name"] = alpha_space(clean_line).strip()
            continue
    return extracted_data


def extract_full_page_adahar(text: str) -> dict:
    """eAadhaar letter layout (app.py:1131-1318): number after the
    AADHAAR label, name after an exact "TO" line, address collected from
    two lines past TO until a 6-digit PIN line.  The ``flag`` dance means
    collection starts the iteration after the name line."""
    extracted_data = _empty()
    flag = True
    lines = split_lines(text)
    for i, line in enumerate(lines):
        clean_line = sanitize_b(line)

        if "AADHAAR" in clean_line.upper() and i + 1 < len(lines):
            adharno = digits_only(lines[i + 1]).strip()
            if len(adharno) == 12:
                extracted_data["ocr_adhar_number"] = adharno
                continue

        matched, dob = dob_gate(clean_line, lines, i)
        if matched and dob is not None:
            extracted_data["ocr_dob"] = dob
            continue

        if clean_line.strip().upper() == "TO":
            extracted_data["ocr_name"] = alpha_space(lines[i + 1]).strip()
            flag = False
            continue

        if (
            extracted_data["ocr_name"]
            and not extracted_data["ocr_adhar_number"]
            and not extracted_data["ocr_address"]
            and flag
        ):
            _collect_address_until_pin(extracted_data, lines, i)

        flag = True
    return extracted_data


def _both_side(text: str, require_dob_token: bool) -> dict:
    """Shared body of the both-side extractors (app.py:1322-1549 and
    1553-1760).  Address collection is armed by a prior ADDRESS line
    (the flag is set *after* the collect check, so collection starts the
    iteration following the label) and requires name + number found."""
    extracted_data = _empty()
    flag = False
    lines = split_lines(text)
    for i, line in enumerate(lines):
        clean_line = sanitize_b(line)

        adharno = digits_only(clean_line).strip()
        if len(adharno) == 12:
            extracted_data["ocr_adhar_number"] = adharno
            continue

        matched, dob = dob_gate(clean_line, lines, i)
        if matched and dob is not None:
            extracted_data["ocr_dob"] = dob
            continue

        namecheck = namecheck_8(lines, i)
        if require_dob_token:
            name_hit = len(namecheck) == 8 and any(
                tok in sanitize_b(lines[i + 1]).upper().strip() for tok in DOB_TOKENS
            )
        else:
            name_hit = len(namecheck) == 8
        if name_hit and not extracted_data["ocr_name"] and not extracted_data["ocr_dob"]:
            extracted_data["ocr_name"] = alpha_space(clean_line).strip()
            continue

        if (
            extracted_data["ocr_name"]
            and extracted_data["ocr_adhar_number"]
            and not extracted_data["ocr_address"]
            and flag
        ):
            _collect_address_until_pin(extracted_data, lines, i)

        if "ADDRESS" in clean_line.upper():
            flag = True
    return extracted_data


def extract_both_side_adahar(text: str) -> dict:
    """Both-sides layout (app.py:1322-1549)."""
    return _both_side(text, require_dob_token=True)


def extract_both_side_reissue_adahar(text: str) -> dict:
    """Reissue both-sides layout (app.py:1553-1760); disabled in the live
    cascade (app.py:2706-2707) — kept for parity coverage."""
    return _both_side(text, require_dob_token=False)


def extract_aadhaar(text: str) -> dict:
    """The live 4-stage cascade (app.py:2697-2722).  Gate conditions are
    preserved exactly: the full-page retry fires when name OR address OR
    dob is missing; the both-side retry when name OR address is missing;
    the front-page retry when the name is missing.  The reissue stages
    are commented out in the reference and therefore not in the cascade."""
    extracted_data = digilocker_aadhaar(text)
    if (
        not extracted_data.get("ocr_name")
        or not extracted_data.get("ocr_address")
        or not extracted_data["ocr_dob"]
    ):
        extracted_data = extract_full_page_adahar(text)
    if not extracted_data.get("ocr_name") or not extracted_data.get("ocr_address"):
        extracted_data = extract_both_side_adahar(text)
    if not extracted_data.get("ocr_name"):
        extracted_data = extract_front_page_adahar(text)
    extracted_data["ocr_dob"] = normalize_dob_format(extracted_data["ocr_dob"])
    return extracted_data
