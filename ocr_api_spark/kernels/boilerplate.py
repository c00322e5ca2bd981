"""HTML main-content extraction (boilerplate stripping).

The new capability the Spark pipeline adds in front of the reference's
field extractors (BASELINE.json north_star): batched HTML tokenization
→ block segmentation → text/link-density scoring → boilerplate
classification.  The classifier is the NumWordsRules decision list from
the Boilerpipe paper (Kohlschütter, Fankhauser, Nejdl: "Boilerplate
Detection using Shallow Text Features", WSDM 2010) — a deterministic
function of (previous, current, next) block word counts and link
densities, plus tag-heuristic pruning of known-chrome subtrees.

Pure Python and deterministic, so golden fixtures are byte-exact.  The
tokenizer is the module's own: it emits the events stdlib
``html.parser`` emits (differentially tested against it), without that
module's per-position bookkeeping or attribute lists, which the block
handlers never read.  Invoked batch-wise from an Arrow pandas UDF.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from html import unescape

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

# The tokenizer below emits the events stdlib ``html.parser`` (CPython
# 3.11, ``convert_charrefs=True``, one ``feed`` then ``close``) emits for
# the same text: tag names lower-cased, data cut and unescaped where it
# cuts it, and nothing for comments, declarations or processing
# instructions.  Its patterns are that module's, so a tag ends where
# stdlib's would.
#
# A start tag of the common form: a name, then attributes that are bare
# or carry a quoted value, separated by ASCII whitespace.  For these
# stdlib reads the same name and the same end, so the patterns below are
# only needed for the rest.
_PLAIN_START_TAG = re.compile(
    r"""<([a-zA-Z][-.a-zA-Z0-9:_]*)"""
    r"""(?:[\t\n\r\f ]+[a-zA-Z_:][-.a-zA-Z0-9_:]*(?:[\t\n\r\f ]*=[\t\n\r\f ]*(?:"[^"]*"|'[^']*'))?)*"""
    r"""[\t\n\r\f ]*(/?)>"""
)
# a start tag's extent: name, then attributes (locatestarttagend_tolerant)
_START_TAG_END = re.compile(
    r"""
  <[a-zA-Z][^\t\n\r\f />\x00]*       # tag name
  (?:[\s/]*                          # optional whitespace before attribute name
    (?:(?<=['"\s/])[^\s/>][^\s/=>]*  # attribute name
      (?:\s*=+\s*                    # value indicator
        (?:'[^']*'                   # LITA-enclosed value
          |"[^"]*"                   # LIT-enclosed value
          |(?!['"])[^>\s]*           # bare value
         )
        \s*                          # possibly followed by a space
       )?(?:\s|/(?!>))*
     )*
   )?
  \s*                                # trailing whitespace
""",
    re.VERBOSE,
)
# the tag name, then the attributes one at a time as stdlib's attribute
# loop reads them (tagfind_tolerant, then attrfind_tolerant repeated; each
# repetition atomic, as each loop step is a fresh match)
_START_TAG_ATTRS = re.compile(
    r"(?>([a-zA-Z][^\t\n\r\f />\x00]*)(?:\s|/(?!>))*)"
    r"""(?>(?<=['"\s/])[^\s/>][^\s/=>]*(?:\s*=+\s*(?:'[^']*'|"[^"]*"|(?!['"])[^>\s]*))?(?:\s|/(?!>))*)*"""
)
# an end tag's name: "</ name >" exactly (endtagfind), else the name
# that starts right after "</" (tagfind_tolerant)
_END_TAG = re.compile(r"</\s*([a-zA-Z][-.a-zA-Z0-9:_]*)\s*>")
_LOOSE_END_TAG_NAME = re.compile(r"([a-zA-Z][^\t\n\r\f />\x00]*)")
_COMMENT_CLOSE = re.compile(r"--\s*>")
_DECL_NAME = re.compile(r"[a-zA-Z][-_.a-zA-Z0-9]*\s*")
_MARKED_SECTION_CLOSE = re.compile(r"]\s*]\s*>")
_MS_MARKED_SECTION_CLOSE = re.compile(r"]\s*>")
# script and style hold raw text up to their own end tag
_CDATA_END = {tag: re.compile(r"</\s*%s\s*>" % tag, re.I) for tag in ("script", "style")}
_ASCII_LETTERS = frozenset("abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ")
# after a start tag's attributes, these mean the tag is cut off
_START_TAG_CUT = frozenset("abcdefghijklmnopqrstuvwxyz=/ABCDEFGHIJKLMNOPQRSTUVWXYZ")


def _start_tag(html: str, i: int) -> tuple[int, str | None, bool]:
    """The start tag at ``i`` as ``(end, tag, self_closing)``.  ``tag`` is
    None when stdlib reads the text up to ``end`` as data instead, and
    ``end`` is -1 when the tag is cut off."""
    j = _START_TAG_END.match(html, i).end()
    nxt = html[j : j + 1]
    if nxt == ">":
        k = j + 1
    elif nxt == "/":
        if not html.startswith("/>", j):
            return -1, None, False
        k = j + 2
    elif nxt == "" or nxt in _START_TAG_CUT:
        return -1, None, False
    else:
        k = j if j > i else i + 1
    m = _START_TAG_ATTRS.match(html, i + 1)
    end = html[m.end() : k].strip()
    if end == ">" or end == "/>":
        return k, m.group(1).lower(), end == "/>"
    return k, None, False


def _markup_end(html: str, i: int) -> int | None:
    """End of the ``<!`` construct at ``i`` (not a comment), -1 when it
    is cut off, or None where stdlib raises (a ``<![`` marked section
    without a keyword it knows)."""
    if html.startswith("<![", i):
        j = i + 3
        if j == len(html):
            return -1
        m = _DECL_NAME.match(html, j)
        if m is None:
            return None
        if m.end() == len(html):
            return -1
        name = m.group().strip().lower()
        if name in ("temp", "cdata", "ignore", "include", "rcdata"):
            m = _MARKED_SECTION_CLOSE.search(html, j)
        elif name in ("if", "else", "endif"):
            m = _MS_MARKED_SECTION_CLOSE.search(html, j)
        else:
            return None
        return m.end() if m else -1
    # <!doctype ...> and bogus comments both run to the next ">"
    gt = html.find(">", i + 9 if html[i : i + 9].lower() == "<!doctype" else i + 2)
    return gt + 1 if gt >= 0 else -1


def _tokenize(html: str, sink: "_BlockBuilder") -> None:
    """Feed ``sink`` the start-tag, end-tag and data events of ``html``."""
    handle_data = sink.handle_data
    handle_starttag = sink.handle_starttag
    handle_endtag = sink.handle_endtag
    find = html.find
    n = len(html)
    i = 0
    while i < n:
        j = find("<", i)
        if j < 0:
            handle_data(unescape(html[i:]))
            return
        if i < j:
            handle_data(unescape(html[i:j]))
        i = j
        c = html[i + 1 : i + 2]
        if c in _ASCII_LETTERS:
            m = _PLAIN_START_TAG.match(html, i)
            if m is not None:
                k, tag, self_closing = m.end(), m.group(1).lower(), m.group(2)
            else:
                k, tag, self_closing = _start_tag(html, i)
            if tag is None:
                if k >= 0:
                    handle_data(html[i:k])
            elif self_closing:
                handle_starttag(tag)
                handle_endtag(tag)
            else:
                handle_starttag(tag)
                cdata_end = _CDATA_END.get(tag)
                while cdata_end is not None:
                    m = cdata_end.search(html, k)
                    if m is None:
                        return  # an unclosed script/style swallows the rest
                    j = m.start()
                    if k < j:
                        handle_data(html[k:j])
                    k = m.end()
                    if _END_TAG.match(html, j):
                        handle_endtag(tag)
                        cdata_end = None
                    else:
                        # matched only case-insensitively ("ſ" is "s"):
                        # stdlib passes it on as data and reads on
                        handle_data(html[j:k])
        elif c == "/":
            m = _END_TAG.match(html, i)
            if m is not None:
                handle_endtag(m.group(1).lower())
                k = m.end()
            else:
                k = find(">", i + 1)
                if k >= 0:
                    m = _LOOSE_END_TAG_NAME.match(html, i + 2)
                    if m:  # else "</>" or a bogus comment, both skipped
                        handle_endtag(m.group(1).lower())
                    k += 1
        elif html.startswith("<!--", i):
            m = _COMMENT_CLOSE.search(html, i + 4)
            k = m.end() if m else -1
        elif c == "?":
            k = find(">", i + 2)
            if k >= 0:
                k += 1
        elif c == "!":
            k = _markup_end(html, i)
            if k is None:
                return
        else:
            # a "<" that opens nothing is data of its own
            handle_data("<")
            i += 1
            continue
        if k < 0:
            # cut-off markup reads as data, up to and including the next
            # ">", else up to the next "<", else just the "<"
            k = find(">", i + 1)
            if k < 0:
                k = find("<", i + 1)
                if k < 0:
                    k = i + 1
            else:
                k += 1
            handle_data(unescape(html[i:k]))
        i = k


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


class _BlockBuilder:
    """The tokenizer's handlers: they cut the event stream into blocks.
    Named as stdlib ``HTMLParser``'s handlers, so a subclass of both
    reads the same events through the stdlib tokenizer."""

    def __init__(self) -> None:
        super().__init__()
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

    def handle_starttag(self, tag, attrs=None):
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


def segment_blocks(html: str) -> list[Block]:
    """Tokenize HTML into text blocks with word/link statistics.  Total:
    where stdlib ``html.parser`` would raise (an unknown ``<![`` marked
    section), the blocks read so far are kept, as the reference keeps
    what it parsed before a parse error."""
    builder = _BlockBuilder()
    _tokenize(html, builder)
    builder._flush()
    return builder.blocks


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
    """Every block, kept or not, with the features the classifier read
    and its verdict (``scripts/pin_kernels.py`` pins these)."""
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
