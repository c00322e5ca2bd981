"""Pin the text kernels' outputs to digests, so a rewrite can prove it
changed no byte.

For each seeded input class, every input is run through
``pan.extract_pan``, ``pan.extract_pan_data``, ``pan.extract_old_pan_data``,
``boilerplate.extract_main_text`` and ``boilerplate.block_features``; each
output (or the exception's class name) is serialised with
``json.dumps(..., sort_keys=True)`` and folded into one sha256 per
(class, kernel).  The classes:

- ``pages_html`` / ``pages_text``: ``generate_pages(heavy_pages=True)``
  web pages, and the text the boilerplate kernel resolves them to;
- ``doc.<family>``: texts from every ``sources.doctexts.GENERATORS`` family;
- ``adversarial_text`` / ``adversarial_html``: seeded strings built from
  commas, ``\\x1c``-``\\x1f``, ``\\x85``, NBSP, ideographic space, tabs,
  entities, stray ``<``, PAN-shaped tokens, dates and the label words
  the extractors anchor on.

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

from ocr_api_spark.kernels import boilerplate, pan  # noqa: E402
from ocr_api_spark.sources.doctexts import GENERATORS, rand_date, rand_pan  # noqa: E402
from ocr_api_spark.sources.pages import generate_pages  # noqa: E402

PINS_PATH = os.path.join(REPO, "tests", "data", "kernel_pins.json")
SEED = 20261017
N_PAGES = 120
N_PER_FAMILY = 60
N_ADVERSARIAL = 1500

KERNELS = {
    "extract_pan": pan.extract_pan,
    "extract_pan_data": pan.extract_pan_data,
    "extract_old_pan_data": pan.extract_old_pan_data,
    "extract_main_text": boilerplate.extract_main_text,
    # every block's text and word count, kept or not
    "block_features": boilerplate.block_features,
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
    return classes


def _output(fn, text: str):
    try:
        return fn(text)
    except Exception as e:  # a kernel that raises must keep raising the same class
        return {"raised": type(e).__name__}


def compute_pins() -> dict:
    pins = {}
    for cls, texts in pin_inputs().items():
        entry = {"n": len(texts)}
        for name, fn in KERNELS.items():
            h = hashlib.sha256()
            for text in texts:
                h.update(json.dumps(_output(fn, text), sort_keys=True).encode("utf-8"))
                h.update(b"\n")
            entry[name] = h.hexdigest()
        pins[cls] = entry
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
