"""Pin the text kernels' outputs to digests, so a rewrite can prove it
changed no byte.

For each seeded input class, every input is run through every kernel in
``KERNELS``: the PAN, boilerplate, aadhaar, bank, financial, DL and
passport extractors, and the PDF text layer (``clean_text(pdf_text(...))``
of the input laid out by ``pdf_from_text``).  Each output (or the
exception's class name) is serialised with ``json.dumps(..., sort_keys=True)``
and folded into one sha256 per (class, kernel).  The ``doc.<family>``
classes also pin ``match_batch`` over the ``extract_batch`` output, scored
against the generator's claims as the fused UDF scores them.  The classes:

- ``pages_html`` / ``pages_text``: ``generate_pages(heavy_pages=True)``
  web pages, and the text the boilerplate kernel resolves them to;
- ``doc.<family>``: texts from every ``sources.doctexts.GENERATORS`` family;
- ``adversarial_text`` / ``adversarial_html``: seeded strings built from
  commas, ``\\x1c``-``\\x1f``, ``\\x85``, NBSP, ideographic space, tabs,
  entities, stray ``<``, PAN-shaped tokens, dates and the label words
  the extractors anchor on;
- ``evidence_text``: web paragraphs carrying what the PAN cascade reads —
  PAN-shaped tokens, dates with either separator, NAME/FATHER/TAX in
  mixed case or split by characters sanitisation deletes, runs of
  capitals, and non-ASCII letters inside PAN and date tokens;
- ``evidence_html``: web pages carrying those tokens and the markup a
  tokenizer must treat as stdlib ``html.parser`` does: ``<!DOCTYPE>``,
  comments (one unterminated at the end), ``<![CDATA[``, ``<?pi>``,
  upper-case tags, a stray ``<`` inside ``<a>``, entities next to ``<``
  and an unterminated ``<script>``.

No Spark; runs in seconds.

    python scripts/pin_kernels.py           # rewrite tests/data/kernel_pins.json
    python scripts/pin_kernels.py --check   # exit 1 if any digest differs
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import pandas as pd  # noqa: E402

from ocr_api_spark.kernels import aadhaar, bank, boilerplate, dl, pan, passport  # noqa: E402
from ocr_api_spark.kernels.common import clean_text  # noqa: E402
from ocr_api_spark.operators.extract import extract_batch, match_batch  # noqa: E402
from ocr_api_spark.sources.doctexts import (  # noqa: E402
    FAMILY_DOC_TYPE,
    GENERATORS,
    rand_date,
    rand_pan,
    web_paragraph,
)
from ocr_api_spark.sources.pages import CLAIMS_COLUMNS, generate_pages  # noqa: E402
from ocr_api_spark.sources.pdftext import pdf_from_text, pdf_text  # noqa: E402

PINS_PATH = os.path.join(REPO, "tests", "data", "kernel_pins.json")
SEED = 20261017
N_PAGES = 120
N_PER_FAMILY = 60
N_ADVERSARIAL = 1500
N_EVIDENCE = 600


def _pdf_text_layer(text: str) -> str:
    return clean_text(pdf_text(pdf_from_text(text, compress=len(text) % 2 == 1)))


KERNELS = {
    "extract_pan": pan.extract_pan,
    "extract_pan_data": pan.extract_pan_data,
    "extract_old_pan_data": pan.extract_old_pan_data,
    "extract_main_text": boilerplate.extract_main_text,
    # every block's text and word count, kept or not
    "block_features": boilerplate.block_features,
    "extract_aadhaar": aadhaar.extract_aadhaar,
    "extract_bank_data": bank.extract_bank_data,
    "extract_financial_data": bank.extract_financial_data,
    "extract_longest_account_number": bank.extract_longest_account_number,
    "extract_dl_info": dl.extract_dl_info,
    # the pipeline reads both passport sides from the row's one text
    "extract_passport": lambda text: passport.extract_passport(text, text),
    # half the inputs are laid out with /FlateDecode content streams
    "pdf_text": _pdf_text_layer,
}

# separators and whitespace that split, strip or regex classes may treat
# differently: \x1c-\x1f and \x85 are str.isspace and str.splitlines
# breaks, NBSP and U+3000 are Unicode spaces, \v \f \r are ASCII ones
_ODD_SPACE = [",", ", ", "\t", "\x1c", "\x1d", "\x1e", "\x1f", "\x85", "\xa0", "　", "\v", "\f", "\r", " "]
_LABELS = ["NAME", "Name", "FATHER", "FATHER'S NAME", "INCOME TAX", "TAX", "INDIA", "GOVT.", "DATE OF BIRTH", "CARD"]
_MARKUP = ["&amp;", "&lt;", "&#65;", "&#x42;", "&nbsp;", "<", "< ", "</", "<3", "a<b", ">", "\"", "'"]
_TAGS = [
    "<p>", "</p>", "<div>", "</div>", "<p/ >", "<br/>", "<br>", "<hr>", "<h1>", "</h1>", "<h2 class=t>",
    '<a href="/x">', "<a href='/y?a=1&amp;b=2'>", "<a href=/z>", "</a>", "<nav>", "</nav>", "<footer>",
    "</footer>", "<script>var a = '<p>';</script>", "<style>p{x:1}</style>", "<!-- c -->", "<!DOCTYPE html>",
    '<p title="a > b">', "<p class=\"q\" data-x='&quot;'>", "<div\nclass=x\n>", "<li>", "<td>", "<P>", "<A HREF=x>",
    "<p", "<a href=\"unterminated", "</p  >", "<table><tr><td>", "<br/ >", "<img src=x/>", "<?pi?>",
]
_WORDS = ["alpha", "BETA", "gamma", "123", "4567", "AB", "données", "中文", "x/y", "a-b", "q.r", "|", ":"]


def _adv_token(rng: random.Random, html: bool) -> str:
    r = rng.random()
    if r < 0.25:
        return rng.choice(_ODD_SPACE)
    if r < 0.35:
        return rng.choice(_LABELS)
    if r < 0.45:
        return rand_pan(rng, confuse=rng.random() < 0.5)
    if r < 0.52:
        return rand_date(rng)
    if r < 0.62:
        return rng.choice(_TAGS if html else _MARKUP)
    if r < 0.72:
        return "\n" * rng.randint(1, 3)
    if r < 0.77:
        return " " * rng.randint(1, 4)
    return rng.choice(_WORDS)


def _adversarial(rng: random.Random, n: int, html: bool) -> list[str]:
    return ["".join(_adv_token(rng, html) for _ in range(rng.randint(0, 60))) for _ in range(n)]


# what the PAN cascade reads: anchors in any case or split by characters
# sanitisation deletes (".", "·", ",", "'", non-ASCII), near-misses it keeps
# apart ("-", " ", newline), and runs of capitals with and without five
_EVIDENCE_WORDS = [
    "NAME", "Name", "name", "nAmE", "Na.me", "N·AME", "NAMÉ", "Father's Name", "FATHER", "father", "FAT·HER",
    "Fa'ther", "FA-THER", "TAX", "Tax", "tax", "T,AX", "TA X", "TÄX", "INCOME TAX", "INDIA", "GOVT.",
    "ABCDE", "ABCD", "HELLO WORLD", "ÉCOLE", "WORLDWIDE", "A B C D E", "NA\nME", "T\nAX",
]


def _spoil(token: str, rng: random.Random) -> str:
    """Put a character sanitisation deletes inside a PAN or date token."""
    k = rng.randint(1, len(token) - 1)
    return token[:k] + rng.choice(["é", "·", ",", "ß", ".", "中"]) + token[k:]


def _evidence_token(rng: random.Random) -> str:
    r = rng.random()
    if r < 0.2:
        return rand_pan(rng, confuse=rng.random() < 0.5)
    if r < 0.25:
        return rand_pan(rng).lower()
    if r < 0.4:
        return rand_date(rng, rng.choice(["/", "-"]))
    if r < 0.55:
        return _spoil(rand_pan(rng) if rng.random() < 0.5 else rand_date(rng), rng)
    return rng.choice(_EVIDENCE_WORDS)


def _evidence_paragraphs(rng: random.Random, n_paras: int) -> list[str]:
    """Web paragraphs; most texts get a few evidence tokens, inline or
    on their own line, and the rest none."""
    paras = [web_paragraph(rng, rng.randint(10, 60), intl=rng.random() < 0.2) for _ in range(n_paras)]
    if rng.random() < 0.7:
        for _ in range(rng.randint(1, 4)):
            i = rng.randrange(len(paras))
            words = paras[i].split(" ")
            token = _evidence_token(rng)
            words.insert(rng.randint(0, len(words)), f"\n{token}\n" if rng.random() < 0.5 else token)
            paras[i] = " ".join(words)
    return paras


# markup whose tokenization stdlib html.parser defines: declarations,
# comments, CDATA sections, processing instructions, upper-case tags, a
# stray "<" inside a link, entities against "<"
_EVIDENCE_MARKUP = [
    "<!DOCTYPE html>", "<!doctype HTML PUBLIC '-//W3C//DTD'>", "<!-- note <p> -->", "<!---->", "<!--x--!>",
    "<![CDATA[ a < b ]]>", "<?php echo 1; ?>", "<?xml version='1.0'?>", "<P>", "</P>", "<DIV CLASS=x>",
    "</DIV>", "<A HREF=/x>up</A>", "<a href=/s>a < b</a>", "<a>x<y</a>", "<a href=/t>< p</a>", "&amp;<",
    "&lt;<b>bold</b>", "&#60;<br>", "AT&T<br>", "&amp<p>", "x&nbsp;<", "<BR/>", "<H2>Head</H2>", "</ a>",
    "<Script>var s = '<p>';</SCRIPT >", "<STYLE>p{}</style>", "<!>", "<! bogus >", "</>",
]
# unterminated constructs at the end of input, which stdlib handles in close()
_EVIDENCE_TAILS = [
    "", "", "<!-- unterminated", "<script>var a = 1; <p>tail", "<![CDATA[ open", "<?pi open", "<!DOCTYPE",
    "<p class='open", "</p", "<", "&amp", "<style>p { x: 1 }", "<a href=/u>link <",
]


def _evidence_html(rng: random.Random) -> str:
    parts = ["<!DOCTYPE html>" if rng.random() < 0.5 else "", "<html><body>"]
    for para in _evidence_paragraphs(rng, rng.randint(2, 8)):
        parts.append(rng.choice(["<p>", "<P>", "<div>", "<LI>"]) + para)
        for _ in range(rng.randint(0, 3)):
            parts.append(rng.choice(_EVIDENCE_MARKUP))
        parts.append(rng.choice(["</p>", "</P>", "</div>", ""]))
    parts.append("</body></html>" if rng.random() < 0.5 else "")
    parts.append(rng.choice(_EVIDENCE_TAILS))
    return "".join(parts)


def pin_inputs() -> dict[str, list[str]]:
    """The seeded inputs, by class.  Deterministic across runs."""
    pages, _, _ = generate_pages(N_PAGES, seed=SEED, web_fraction=1.0, heavy_pages=True)
    html = [b.decode("utf-8") for b in pages["html"]]
    classes = {
        "pages_html": html,
        "pages_text": [boilerplate.extract_main_text(h) for h in html],
    }
    for family, gen in GENERATORS.items():
        rng = random.Random(f"{SEED}:{family}")
        classes[f"doc.{family}"] = [gen(rng)[0] for _ in range(N_PER_FAMILY)]
    rng = random.Random(f"{SEED}:adversarial")
    classes["adversarial_text"] = _adversarial(rng, N_ADVERSARIAL, html=False)
    classes["adversarial_html"] = _adversarial(rng, N_ADVERSARIAL, html=True)
    rng = random.Random(f"{SEED}:evidence")
    classes["evidence_text"] = ["\n".join(_evidence_paragraphs(rng, rng.randint(1, 8))) for _ in range(N_EVIDENCE)]
    classes["evidence_html"] = [_evidence_html(rng) for _ in range(N_EVIDENCE)]
    return classes


def doc_claims() -> dict[str, tuple[list[str], list[dict]]]:
    """Per family: the pinned texts again, with the generator's claims."""
    out = {}
    for family, gen in GENERATORS.items():
        rng = random.Random(f"{SEED}:{family}")
        pairs = [gen(rng) for _ in range(N_PER_FAMILY)]
        out[family] = ([text for text, _ in pairs], [truth for _, truth in pairs])
    return out


def match_outputs(family: str, texts: list[str], truths: list[dict]) -> list[dict]:
    """``match_batch`` over ``extract_batch``, wired as the fused UDF
    wires them, with the claims columns ``generate_pages`` writes."""
    doc_types = pd.Series([FAMILY_DOC_TYPE[family]] * len(texts))
    out = extract_batch(pd.Series(texts), doc_types)
    records = out[["pan", "aadhaar", "bank", "financial"]].to_dict("records")
    extracted = pd.Series([m if s == "Completed" else None for m, s in zip(records, out["status"].tolist())])
    claims = [
        pd.Series([truth.get(col, "") for truth in truths])
        for col in CLAIMS_COLUMNS[2:11]  # name .. account_number
    ]
    return match_batch(doc_types, extracted, *claims).to_dict("records")


def _output(fn, text: str):
    try:
        return fn(text)
    except Exception as e:  # a kernel that raises must keep raising the same class
        return {"raised": type(e).__name__}


def _digest(outputs) -> str:
    h = hashlib.sha256()
    for out in outputs:
        h.update(json.dumps(out, sort_keys=True).encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


def compute_pins() -> dict:
    pins = {}
    for cls, texts in pin_inputs().items():
        entry = {"n": len(texts)}
        for name, fn in KERNELS.items():
            entry[name] = _digest(_output(fn, text) for text in texts)
        pins[cls] = entry
    for family, (texts, truths) in doc_claims().items():
        pins[f"doc.{family}"]["match_batch"] = _digest(match_outputs(family, texts, truths))
    return pins


def render(pins: dict) -> str:
    return json.dumps(pins, sort_keys=True, indent=1) + "\n"


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--check", action="store_true", help="compare with the pinned file instead of writing it")
    args = p.parse_args(argv)
    pins = compute_pins()
    if not args.check:
        os.makedirs(os.path.dirname(PINS_PATH), exist_ok=True)
        with open(PINS_PATH, "w") as f:
            f.write(render(pins))
        print(f"wrote {PINS_PATH}: {len(pins)} classes")
        return 0
    with open(PINS_PATH) as f:
        pinned = json.load(f)
    diffs = [
        f"{cls}.{key}"
        for cls in sorted(set(pins) | set(pinned))
        for key in sorted(set(pins.get(cls, {})) | set(pinned.get(cls, {})))
        if pins.get(cls, {}).get(key) != pinned.get(cls, {}).get(key)
    ]
    for d in diffs:
        print(f"DIFF {d}")
    print(f"{len(diffs)} of {sum(len(v) for v in pinned.values())} pins differ")
    return 1 if diffs else 0


if __name__ == "__main__":
    sys.exit(main())
