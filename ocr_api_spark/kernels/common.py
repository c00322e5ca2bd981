"""Shared helpers for the extraction kernels.

Ports of the reference's small utility functions.  The reference
(``/root/reference/app.py``) defines ``clean_text`` and
``normalize_dob_format`` twice; Python rebinds at definition time, so
the *second* definition is the effective one for every call made after
module load.  We pin both and name the effective ones plainly.
"""

from __future__ import annotations

import codecs as _codecs
import re

from dateutil import parser as _dateutil_parser


def _sloppy1252_errors(err):
    # cp1252 leaves 0x81/0x8D/0x8F/0x90/0x9D undefined; mojibake
    # produced by a latin-1 mis-decode carries those C1 controls
    # verbatim, so map them back to their raw byte (ftfy's
    # "sloppy-windows-1252" idea)
    ch = err.object[err.start : err.start + 1]
    if "\x80" <= ch <= "\x9f":
        return bytes([ord(ch)]), err.start + 1
    raise err


_codecs.register_error("ocr_api_sloppy1252", _sloppy1252_errors)


def _fix_text(text: str) -> str:
    """The one ``ftfy.fix_text`` stand-in, used whether or not ftfy is
    installed, so a row's text never depends on the executor's
    packages.  Repairs the dominant real-world mojibake class — UTF-8
    bytes mis-decoded as cp1252/latin-1 (possibly more than once:
    'Ã©'→'é', 'â€™'→'’', 'ÃƒÂ©'→'é').  Identity on ASCII (all
    deterministic fixtures) and on genuine single-encoded text ('café',
    'naïve'): re-encoding those to cp1252 yields bytes that are NOT
    valid UTF-8, so the repair round-trip fails closed and the input
    passes through.  That accept-only-if-it-decodes rule is the same
    reasoning ftfy's badness heuristic encodes for this class."""
    fixed = text
    for _ in range(3):  # double-encoding happens; triple is the cap
        if fixed.isascii():
            break
        try:
            raw = fixed.encode("cp1252", errors="ocr_api_sloppy1252")
        except UnicodeEncodeError:
            break
        try:
            decoded = raw.decode("utf-8")
        except UnicodeDecodeError:
            break
        if decoded == fixed:
            break
        fixed = decoded
    return fixed


# --- sanitizers -----------------------------------------------------------
# charset A keeps commas (used for the initial line split, app.py:581);
# charset B drops them (per-line re-clean, app.py:586).
# charset A with newline preserved: lets split_lines sanitize the WHOLE
# text in one sub call and split afterwards (r8) — per-line sub calls
# were the hot spot of the canonical split
_SAN_A_KEEPNL = re.compile(r"[^A-Za-z0-9 /,\n-]+")
_SAN_B = re.compile(r"[^A-Za-z0-9 /-]+")
_ALPHA_SPACE = re.compile(r"[^A-Za-z ]+")
_DIGITS_ONLY = re.compile(r"[^0-9]+")
_DIGITS_SPACE = re.compile(r"[^0-9 ]+")
_DOB_CHARS = re.compile(r"[^0-9 /-]+")
_DATE_RE = re.compile(r"\d{2}[-/]\d{2}[-/]\d{4}")


def sanitize_b(line: str) -> str:
    """``re.sub(r'[^A-Za-z0-9 /-]+', '', line)`` (app.py:586)."""
    return _SAN_B.sub("", line)


def alpha_space(line: str) -> str:
    """``re.sub(r'[^A-Za-z ]+', '', line)`` (app.py:548)."""
    return _ALPHA_SPACE.sub("", line)


def digits_only(line: str) -> str:
    """``re.sub(r'[^0-9]+', '', line)`` (app.py:781)."""
    return _DIGITS_ONLY.sub("", line)


def split_lines(text: str) -> list[str]:
    """The canonical line split every extractor opens with (app.py:581):
    sanitize charset A per line, strip, drop blank lines.

    r8: one whole-text sub (newline kept in the charset) replaces a sub
    call per line; the blank-line filter still tests the ORIGINAL line
    (a line of only-sanitized-away chars stays present as '' in the
    output, exactly as before — reference parity)."""
    san_lines = _SAN_A_KEEPNL.sub("", text).split("\n")
    return [
        s.strip()
        for line, s in zip(text.split("\n"), san_lines)
        if line and not line.isspace()
    ]


# --- date helpers ---------------------------------------------------------


def convert_to_ddmmyyyy(date_str: str) -> str:
    """Lenient date canonicalization via dateutil (app.py:122-127)."""
    try:
        parsed_date = _dateutil_parser.parse(date_str)
        return parsed_date.strftime("%d-%m-%Y")
    except ValueError:
        return "Invalid date format"


def normalize_dob_format(ocr_dob: str) -> str:
    """Effective definition (app.py:347-353; shadows app.py:245-249):
    unconditional ``/`` → ``-`` plus ``strip('-')``."""
    if "/" in ocr_dob:
        return ocr_dob.replace("/", "-").strip("-")
    return ocr_dob


def normalize_dob_format_shadowed(dob: str) -> str:
    """First (shadowed, never effective at runtime) definition
    (app.py:245-249) — kept for documentation and regression tests."""
    if re.match(r"\d{2}/\d{2}/\d{4}", dob):
        return dob.replace("/", "-")
    return dob


def repair_dob_digits(clean_line: str) -> str | None:
    """The DOB repair fallback body repeated in every Aadhaar variant
    (app.py:964-979): digits/sep-only strip, drop a leading ``/``,
    insert ``/`` at index 2 and 5 when missing.  The reference wraps
    this in a bare ``try/except: pass`` — short strings raise
    IndexError and fall through; we return None for that case."""
    ocr_dob = _DOB_CHARS.sub("", clean_line).strip()
    try:
        if ocr_dob[0] == "/":
            ocr_dob = ocr_dob[1:]
        if ocr_dob[2] != "/":
            ocr_dob = ocr_dob[:2] + "/" + ocr_dob[2:]
        if ocr_dob[5] != "/":
            ocr_dob = ocr_dob[:5] + "/" + ocr_dob[5:]
        return normalize_dob_format(ocr_dob)
    except Exception:
        return None


def search_date(line: str) -> str | None:
    """First ``\\d{2}[-/]\\d{2}[-/]\\d{4}`` match in the line (app.py:540)."""
    m = _DATE_RE.search(line)
    return m.group(0) if m else None


# The ordered OCR-confusion gate set for the "DOB" label (app.py:959-1082).
# The reference is an elif chain with identical bodies, so the effective
# predicate is an OR over the tokens.
DOB_TOKENS = ("DOB", "D08", "DB", "D8", "DO", "D0")
# r8: `any(tok in upper ...)` ran a 6-way genexpr per candidate line
# (~82k generator steps per 2000-row batch); one compiled literal
# alternation is boolean-identical (substring presence of ANY token)
_DOB_TOKENS_RX = re.compile("|".join(DOB_TOKENS))


def dob_gate(clean_line: str, lines: list[str], i: int) -> tuple[bool, str | None]:
    """The shared DOB branch of every Aadhaar extractor.

    Returns ``(matched, dob)``.  ``matched`` is True when the gate
    condition holds (token present AND next line carries "MALE"); dob
    is the normalized date or None when the repair path raised (the
    reference then falls through to the remaining per-line checks)."""
    upper = clean_line.upper()
    if _DOB_TOKENS_RX.search(upper) is None:
        return False, None
    if not (i + 1 < len(lines) and "MALE" in sanitize_b(lines[i + 1]).upper().strip()):
        return False, None
    found = search_date(clean_line)
    if found:
        return True, normalize_dob_format(found)
    return True, repair_dob_digits(clean_line)


def namecheck_8(lines: list[str], i: int) -> str:
    """The Aadhaar name-position gate helper (app.py:919-931): digits of
    the next line, with one leading ``0`` then one leading ``8`` dropped
    when longer than 8."""
    namecheck = ""
    if i + 1 < len(lines):
        namecheck = digits_only(lines[i + 1]).strip()
        if len(namecheck) > 8:
            if namecheck[0] == "0":
                namecheck = namecheck[1:]
            if namecheck[0] == "8":
                namecheck = namecheck[1:]
    return namecheck


# --- PAN ------------------------------------------------------------------


def correct_pan_number(pan: str) -> str:
    """OCR-confusion repair for PAN numbers (app.py:252-271): positions
    5-8 map S→5, A→4, T→7; other positions untouched."""
    if not pan or len(pan) != 10:
        return pan
    corrected_pan = list(pan)
    for i in range(5, 9):
        if corrected_pan[i] == "S":
            corrected_pan[i] = "5"
        if corrected_pan[i] == "A":
            corrected_pan[i] = "4"
        if corrected_pan[i] == "T":
            corrected_pan[i] = "7"
    return "".join(corrected_pan)


# --- text cleaners --------------------------------------------------------


def clean_text(text: str) -> str:
    """Effective ``clean_text`` (app.py:4563-4564; shadows app.py:356-362):
    uppercase, newline→space, ``|``→``I``, strip ``.`` and ``:``."""
    return text.upper().replace("\n", " ").replace("|", "I").replace(".", "").replace(":", "")


def clean_text_ftfy(text: str) -> str:
    """First (shadowed) ``clean_text`` (app.py:356-362): ftfy fix +
    ``(cid:N)`` strip + trim.  Still reachable for calls made *before*
    line 4563 executes at import; our pipeline uses it only where the
    reference's PDF-text path (app.py:3212) does."""
    text = _fix_text(text)
    text = re.sub(r"\(cid:\d+\)", "", text)
    return text.strip()


def fix_text(text: str) -> str:
    """``ftfy.fix_text`` as used directly by DL/passport paths
    (app.py:5229, 5526); identity on ASCII."""
    return _fix_text(text)
