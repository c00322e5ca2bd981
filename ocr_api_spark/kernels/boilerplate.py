"""HTML main-content extraction (boilerplate stripping).

The new capability the Spark pipeline adds in front of the reference's
field extractors (BASELINE.json north_star): batched HTML tokenization
→ block segmentation → text/link-density scoring → boilerplate
classification.  The classifier is the NumWordsRules decision list from
the Boilerpipe paper (Kohlschütter, Fankhauser, Nejdl: "Boilerplate
Detection using Shallow Text Features", WSDM 2010) — a deterministic
function of (previous, current, next) block word counts and link
densities, plus tag-heuristic pruning of known-chrome subtrees.

Pure Python (stdlib ``html.parser``), deterministic, so golden fixtures
are byte-exact.  Invoked batch-wise from an Arrow pandas UDF.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from html.parser import HTMLParser

# Subtrees that are chrome by construction — pruned outright.
PRUNE_TAGS = frozenset(
    {
        "script",
        "style",
        "noscript",
        "template",
        "svg",
        "iframe",
        "form",
        "button",
        "select",
        "option",
        "nav",
        "header",
        "footer",
        "aside",
    }
)

# Tags that terminate the current text block.
BLOCK_TAGS = frozenset(
    {
        "p",
        "div",
        "article",
        "section",
        "main",
        "li",
        "ul",
        "ol",
        "table",
        "tr",
        "td",
        "th",
        "h1",
        "h2",
        "h3",
        "h4",
        "h5",
        "h6",
        "pre",
        "blockquote",
        "br",
        "hr",
        "figure",
        "figcaption",
        "dl",
        "dt",
        "dd",
    }
)

# r8 fast-path tag scanner: tag name, then an attribute region this
# regex can PROVE the stdlib attribute loop would consume in full —
# bare attributes and single/double-quoted values with no embedded
# charrefs/brackets/quotes.  Anything else falls back to the stdlib
# parse_starttag, so behavior stays byte-identical; the fast path just
# skips building the (unused) attribute list.
_TAGNAME = re.compile(r"([a-zA-Z][^\t\n\r\f />\x00]*)")
_SIMPLE_ATTRS = re.compile(
    r"(?:\s+[^\s/>=\"'<&]+"  # attribute name
    r"(?:\s*=\s*(?:\"[^\"&<>]*\"|'[^'&<>]*'|[^\s>\"'`=<&]+))?"  # optional simple value
    r")*\s*(/?)>$"
)


@dataclass
class Block:
    """One text block with the shallow features the classifier needs."""

    text: str = ""
    num_words: int = 0
    link_chars: int = 0
    total_chars: int = 0
    headline: bool = False

    @property
    def link_density(self) -> float:
        if self.total_chars == 0:
            return 0.0
        return self.link_chars / self.total_chars


class _BlockParser(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: list[Block] = []
        self._text_parts: list[str] = []
        self._link_chars = 0
        self._anchor_depth = 0
        self._prune_depth = 0
        self._headline_depth = 0
        self._is_headline = False

    def _flush(self) -> None:
        # str.split() cuts at exactly the code points regex \s matches
        # (str.isspace; tests sweep all of Unicode), so " ".join(words)
        # is re.sub(r"\s+", " ", raw).strip() of the block's raw text
        words = "".join(self._text_parts).split()
        self._text_parts = []
        link_chars = self._link_chars
        self._link_chars = 0
        is_headline = self._is_headline
        self._is_headline = False
        if not words:
            return
        text = " ".join(words)
        self.blocks.append(
            Block(
                text=text,
                num_words=len(words),
                link_chars=link_chars,
                total_chars=len(text),
                headline=is_headline,
            )
        )

    def parse_starttag(self, i):
        """Fast path over stdlib: our handlers never read attributes, so
        when ``_SIMPLE_ATTRS`` proves the stdlib attribute loop would
        consume the whole tag, skip it (the per-attribute tolerant-regex
        scan was ~40% of parse time).  Everything it cannot prove —
        charrefs in values, stray quotes/brackets, malformed ends —
        falls back to the stdlib implementation unchanged."""
        endpos = self.check_for_whole_start_tag(i)
        if endpos < 0:
            return endpos
        rawdata = self.rawdata
        m = _TAGNAME.match(rawdata, i + 1)
        if not m:
            return super().parse_starttag(i)
        am = _SIMPLE_ATTRS.match(rawdata, m.end(), endpos)
        if am is None or am.end() != endpos:
            return super().parse_starttag(i)
        tag = m.group(1).lower()
        self.lasttag = tag
        if am.group(1):  # self-closing "/>"
            self.handle_startendtag(tag, [])
        else:
            self.handle_starttag(tag, [])
            if tag in self.CDATA_CONTENT_ELEMENTS:
                self.set_cdata_mode(tag)
        return endpos

    def handle_starttag(self, tag, attrs):
        if tag in PRUNE_TAGS:
            self._flush()
            self._prune_depth += 1
            return
        if self._prune_depth:
            return
        if tag == "a":
            self._anchor_depth += 1
            return
        if tag in BLOCK_TAGS:
            self._flush()
            if tag in ("h1", "h2", "h3", "h4", "h5", "h6"):
                self._headline_depth += 1
                self._is_headline = True

    def handle_endtag(self, tag):
        if tag in PRUNE_TAGS:
            if self._prune_depth:
                self._prune_depth -= 1
            return
        if self._prune_depth:
            return
        if tag == "a":
            if self._anchor_depth:
                self._anchor_depth -= 1
            return
        if tag in BLOCK_TAGS:
            self._flush()
            if tag in ("h1", "h2", "h3", "h4", "h5", "h6") and self._headline_depth:
                self._headline_depth -= 1

    def handle_data(self, data):
        if self._prune_depth:
            return
        self._text_parts.append(data)
        if self._anchor_depth:
            self._link_chars += len(" ".join(data.split()))

    def close(self):
        super().close()
        self._flush()


def segment_blocks(html: str) -> list[Block]:
    """Tokenize HTML into text blocks with word/link statistics."""
    parser = _BlockParser()
    try:
        parser.feed(html)
        parser.close()
    except Exception:
        # Malformed markup: keep whatever blocks were built — extraction
        # must be total (the reference swallows parse errors likewise).
        parser._flush()
    return parser.blocks


def classify_blocks(blocks: list[Block]) -> list[bool]:
    """NumWordsRules decision list (Boilerpipe, WSDM 2010 §4): a block is
    content iff its link density and its neighbours' word counts say so."""
    verdicts: list[bool] = []
    n = len(blocks)
    for i, curr in enumerate(blocks):
        prev = blocks[i - 1] if i > 0 else Block()
        nxt = blocks[i + 1] if i + 1 < n else Block()
        if curr.link_density <= 0.333333:
            if prev.link_density <= 0.555556:
                content = curr.num_words > 16 or nxt.num_words > 15 or prev.num_words > 4
            else:
                content = curr.num_words > 40 or nxt.num_words > 17
        else:
            content = False
        verdicts.append(content)
    return verdicts


def extract_main_text(html: str) -> str:
    """HTML → main-content text, newline-joined per block — the same IR
    shape as the reference's OCR text (``"\\n".join(lines)``,
    app.py:2167), so the downstream field extractors are agnostic to
    which branch produced the text."""
    blocks = segment_blocks(html)
    verdicts = classify_blocks(blocks)
    kept = [b.text for b, v in zip(blocks, verdicts) if v]
    return "\n".join(kept)


def block_features(html: str) -> list[dict]:
    """Typed per-block features for the spans/metrics tables."""
    blocks = segment_blocks(html)
    verdicts = classify_blocks(blocks)
    return [
        {
            "text": b.text,
            "num_words": b.num_words,
            "link_density": round(b.link_density, 6),
            "headline": b.headline,
            "is_content": v,
        }
        for b, v in zip(blocks, verdicts)
    ]
