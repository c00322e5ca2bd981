"""Differential test: the boilerplate kernel's own tokenizer against stdlib
``html.parser``.

The reference is a plain ``HTMLParser`` subclass that adds the kernel's
block handlers and overrides nothing else, fed once and closed as any
caller would.  Both must produce the same blocks, and the tokenizer must
emit the same start-tag, end-tag and data events: data is cut where
stdlib cuts it, and the cuts feed each block's link-character count.
``segment_blocks`` is total, so a tokenizer that drifted from stdlib
would return pages silently changed; here they fail instead.
"""

from __future__ import annotations

from html.parser import HTMLParser

from hypothesis import given, settings
from hypothesis import strategies as st

from ocr_api_spark.kernels import boilerplate
from ocr_api_spark.sources.pages import generate_pages


class _StdlibBlocks(boilerplate._BlockBuilder, HTMLParser):
    """The block handlers on the stdlib tokenizer."""


class _Events:
    def __init__(self) -> None:
        super().__init__()
        self.events: list[tuple[str, str]] = []

    def handle_starttag(self, tag, attrs=None):
        self.events.append(("start", tag))

    def handle_endtag(self, tag):
        self.events.append(("end", tag))

    def handle_data(self, data):
        self.events.append(("data", data))


class _StdlibEvents(_Events, HTMLParser):
    pass


def _stdlib_run(parser, html: str):
    try:
        parser.feed(html)
        parser.close()
    except Exception:  # stdlib raises on unknown "<![" sections; keep what was read
        pass
    return parser


def _stdlib_blocks(html: str) -> list[boilerplate.Block]:
    parser = _stdlib_run(_StdlibBlocks(), html)
    parser._flush()
    return parser.blocks


def _assert_same(html: str) -> None:
    expected = _stdlib_run(_StdlibEvents(), html).events
    events = _Events()
    boilerplate._tokenize(html, events)
    assert events.events == expected, html
    assert boilerplate.segment_blocks(html) == _stdlib_blocks(html), html


ADVERSARIAL_TAGS = [
    '<p title="a &amp; b">',
    "<p title='x &#39; y'>",
    '<a href="/q?a=1&b=2">',
    "<a href=/bare&amp;x>",
    '<p data-x="it\'s">',
    "<p data-x='say \"hi\"'>",
    '<p title="a > b">',
    '<p title="<b>">',
    "<p class=x class=y>",
    "<p/ >",
    "<br/>",
    "<br / >",
    "<img src=x/>",
    "<div\nclass=x\n>",
    "<div\tid=t>",
    "<div\x0bid=t>",
    '<div\x0bid="t">',
    "<p\xa0class=x>",
    "<p\xa0hidden>",
    '<p class="x"\x1cid="y">',
    "<p\x85>",
    "<P CLASS=Up>",
    "<p =x>",
    "<p a=`b`>",
    "</",
    "</p  >",
    "</ p>",
    "</>",
    "</3>",
    "</a b>",
    "<",
    "< p>",
    "<3",
    "<p",
    '<a href="unterminated',
    "<p class='open",
    "<script>if (a < b && c > d) { x = '</p>'; }</script>",
    "<style>p > a { content: '<br>' }</style>",
    "<script>s = '</nav> words a script holds, not the page';</script>",
    "<style>/* </footer> */ p { x: 1 }</style>",
    "<script src=x.js></script>",
    "<script>unterminated <p>",
    "<SCRIPT>var s = '<p>';</Script >",
    "<script>a</ſcript>b</script>",
    "<script/>",
    "<!-- <p> -->",
    "<!-- unterminated <p> comment",
    "<!---->",
    "<!--x--!>",
    "<!DOCTYPE html>",
    "<!doctype HTML PUBLIC '-//W3C//DTD'>",
    "<!DOCTYPE",
    "<![CDATA[ a < b ]]>",
    "<![CDATA[ open",
    "<![if !IE]>",
    "<![unknown[ x ]]>",
    "<![",
    "<!>",
    "<! bogus >",
    "<?xml version='1.0'?>",
    "<?php echo 1; ?>",
    "<?pi open",
    "<nav><a href=/n>menu</a></nav>",
    "<a href=/s>a < b</a>",
    "<a>x<y</a>",
    "&amp;<",
    "&lt;<b>bold</b>",
    "&#60;<br>",
    "AT&T<br>",
    "&amp<p>",
    "&amp",
    "<H1>",
    "</H1>",
    "<h1>",
    "</h1>",
    "<a>",
    "</a>",
]
WORDS = ["alpha", "beta gamma", "  ", "\n", "&amp;", "&#65;", "&nbsp;", "x<y", "données", "\xa0", "\x1c", "word " * 20]


def test_fast_path_matches_stdlib_on_generated_pages():
    for heavy in (False, True):
        pages, _, _ = generate_pages(60, seed=11, web_fraction=1.0, heavy_pages=heavy)
        assert len(pages) == 60
        for html in pages["html"]:
            _assert_same(html.decode("utf-8"))


def test_fast_path_matches_stdlib_on_each_adversarial_tag():
    for tag in ADVERSARIAL_TAGS:
        _assert_same(f"<html><body><p>{'lead words ' * 10}<a href=/l>{tag}{'link words ' * 5}</a></p></body></html>")
        _assert_same(f"<html><body><p>{'lead words ' * 10}{tag}{'tail words ' * 10}</p></body></html>")
        _assert_same(f"<p>{'lead words ' * 10}{tag}")
        _assert_same(tag)


@given(st.lists(st.sampled_from(ADVERSARIAL_TAGS + WORDS), max_size=40).map("".join))
@settings(max_examples=400, deadline=None)
def test_fast_path_matches_stdlib_on_tag_soup(html):
    _assert_same(html)


def test_unknown_marked_section_keeps_the_blocks_before_it():
    """Where stdlib raises, ``segment_blocks`` keeps what it read."""
    blocks = boilerplate.segment_blocks(f"<p>{'kept words ' * 20}</p><![unknown[ x ]]><p>{'lost ' * 20}</p>")
    assert [b.text for b in blocks] == [("kept words " * 20).strip()]
