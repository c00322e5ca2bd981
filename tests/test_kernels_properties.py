"""Property tests over the kernels (SURVEY.md §5.2.3).

- normalizer idempotence (F5, F11)
- extractor totality on arbitrary printable input *except* the
  positional IndexError paths the reference itself has (those must
  raise — the pipeline catches them per row, like the Flask handler)
- fuzz-ratio metric properties
- the string identities the PAN scan and the boilerplate block flush
  rely on to skip regex work
"""

from __future__ import annotations

import re
import string

from hypothesis import given, settings
from hypothesis import strategies as st

from ocr_api_spark.kernels import bank, boilerplate, common, matching, pan

printable_text = st.text(alphabet=string.printable, max_size=400)
lines_text = st.lists(st.text(alphabet=string.ascii_uppercase + string.digits + " /,-.", max_size=40), max_size=12).map(
    "\n".join
)


@given(printable_text)
@settings(max_examples=300, deadline=None)
def test_normalize_dob_idempotent(s):
    once = common.normalize_dob_format(s)
    assert common.normalize_dob_format(once) == once


@given(st.text(alphabet=string.ascii_uppercase + string.digits + "|: ​", max_size=30))
@settings(max_examples=300, deadline=None)
def test_normalize_ifsc_idempotent(s):
    once = bank.normalize_ifsc(s)
    assert bank.normalize_ifsc(once) == once


@given(printable_text)
@settings(max_examples=200, deadline=None)
def test_pan_extractors_total(s):
    # The PAN extractors never index past their own line list — total.
    out = pan.extract_pan_data(s)
    assert set(out) == {"ocr_name", "ocr_father_name", "ocr_dob", "ocr_pan_number"}
    pan.extract_old_pan_data(s)


@given(printable_text)
@settings(max_examples=200, deadline=None)
def test_financial_and_ifsc_total(s):
    bank.extract_financial_data(s)
    bank.extract_bank_data(s)
    bank.extract_ifsc_code_from_text(s)


@given(printable_text, printable_text)
@settings(max_examples=300, deadline=None)
def test_indel_ratio_metric(a, b):
    r = matching.indel_ratio(a, b)
    assert 0.0 <= r <= 100.0
    assert r == matching.indel_ratio(b, a)
    assert matching.indel_ratio(a, a) == 100.0


@given(printable_text)
@settings(max_examples=100, deadline=None)
def test_boilerplate_total(s):
    out = boilerplate.extract_main_text("<html><body><p>" + s + "</p></body></html>")
    assert isinstance(out, str)


# text mixing the PAN kernels' charsets with the separators and Unicode
# whitespace that str.split, str.strip and regex \s could disagree on
odd_chars = st.one_of(
    st.sampled_from(list(string.ascii_letters + string.digits + " /,-.\n\r\t\v\f")),
    st.sampled_from(["\x1c", "\x1d", "\x1e", "\x1f", "\x85", "\xa0", "\u2028", "\u3000", "\u200b"]),
    st.characters(),
)
odd_text = st.text(alphabet=odd_chars, max_size=300)


@given(odd_text)
@settings(max_examples=500, deadline=None)
def test_sanitize_b_is_comma_drop_on_split_lines(s):
    for line in common.split_lines(s):
        assert common.sanitize_b(line) == line.replace(",", "")


@given(odd_text)
@settings(max_examples=500, deadline=None)
def test_str_split_join_equals_whitespace_regex(s):
    assert " ".join(s.split()) == re.sub(r"\s+", " ", s).strip()


# lines that often hold, or nearly hold, a PAN or a date
pan_date_line = st.lists(
    st.one_of(
        st.sampled_from(["ABCDE1234F", "ABCDE", "1234F", "12/05/1990", "12-05", "/1990", "\n"]),
        st.text(odd_chars, max_size=12),
    ),
    max_size=6,
).map("".join)


@given(st.lists(pan_date_line, max_size=8))
@settings(max_examples=150, deadline=None)
def test_pan_and_date_patterns_never_span_lines(lines):
    clean = [common.sanitize_b(line) for line in lines]
    joined = "\n".join(clean)
    for rx in (pan._PAN_RELAXED, common._DATE_RE):
        assert (rx.search(joined) is None) == all(rx.search(c) is None for c in clean)


def test_regex_whitespace_class_is_str_isspace():
    """Every code point: regex \\s and str.isspace agree, so str.split()
    and re.sub(r"\\s+", ...) cut at the same places."""
    ws = re.compile(r"\s")
    assert not [hex(cp) for cp in range(0x110000) if (ws.fullmatch(chr(cp)) is not None) != chr(cp).isspace()]


# text that often holds, or nearly holds, what the PAN cascade reads:
# PAN and date tokens, anchors in any case, and characters sanitisation
# deletes (",", ".", "·", non-ASCII) inside any of them
evidence_text = st.lists(
    st.one_of(
        st.sampled_from(
            ["ABCDE1234F", "ABCDE", "ABCD", "12/05/1990", "12-05-1990", "12/05", "/1990", "NAME", "name", "Na.me",
             "FATHER", "fat·her", "TAX", "T,AX", "ta", "x", "é", ",", "·", " ", "\n", "\r", "\xa0", "0", "9"]
        ),
        st.text(odd_chars, max_size=6),
    ),
    max_size=30,
).map("".join)


@given(evidence_text)
@settings(max_examples=1000, deadline=None)
def test_pan_emptiness_check_never_hides_evidence(s):
    """``_holds_evidence`` says "none" only when no line of the full scan
    holds a relaxed PAN, a date or an anchor, and then every PAN layout
    reads the all-empty result the full scan gives."""
    lines, upper, _, _ = pan._scan_lines(s)
    clean = [line.replace(",", "") for line in lines]
    found = (
        any(pan._PAN_RELAXED.search(c) or common.search_date(c) for c in clean)
        or any("NAME" in u or "FATHER" in u or "TAX" in u for u in upper)
    )
    if found:
        assert pan._holds_evidence(s)
    full = pan._scan_lines(s)
    assert pan._pan_data(pan._scan(s)) == pan._pan_data(full)
    assert pan._old_pan_data(pan._scan(s)) == pan._old_pan_data(full)
