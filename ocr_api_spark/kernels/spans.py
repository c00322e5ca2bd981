"""Span-annotation kernel.

Port of ``get_index`` (app.py:1886-1925): for each (label, value) pair
find every literal occurrence of the value in the text and emit
``(start, end, label)`` tuples; the reference stringifies the list.
"""

from __future__ import annotations

import re

def find_indices(text: str, word: str):
    """app.py:1899-1902 — all escaped-literal spans, None when absent."""
    matches = [match.span() for match in re.finditer(re.escape(word), text)]
    return matches if matches else None


def get_index(
    text: str,
    PAN: str,
    first_NAME: str,
    middle_NAME: str,
    last_NAME: str,
    FATHER_first_NAME: str,
    FATHER_middle_NAME: str,
    FATHER_last_NAME: str,
    dob: str,
) -> str:
    """app.py:1886-1925 — stringified ``[(start, end, label), ...]``."""
    positions = {}
    result_list = []
    for label, word in [
        ("PAN", PAN),
        ("first_NAME", first_NAME),
        ("middle_NAME", middle_NAME),
        ("last_NAME", last_NAME),
        ("FATHER_first_NAME", FATHER_first_NAME),
        ("FATHER_middle_NAME", FATHER_middle_NAME),
        ("FATHER_last_NAME", FATHER_last_NAME),
        ("DOB", dob),
    ]:
        if word:
            indices = find_indices(text, word)
            if indices:
                positions[label] = indices
                for start, end in indices:
                    result_list.append((start, end, label))
    return str(result_list)


def span_records(text: str, labelled_values: list[tuple[str, str]]) -> list[dict]:
    """Structured variant for the Spark column type
    ``array<struct<start:int, end:int, label:string>>`` — same search
    semantics as ``get_index``, typed rows instead of ``str(list)``."""
    out: list[dict] = []
    for label, word in labelled_values:
        if word:
            indices = find_indices(text, word)
            if indices:
                for start, end in indices:
                    out.append({"start": start, "end": end, "label": label})
    return out
