"""Differential test: ``_BlockParser``'s fast ``parse_starttag`` against the
stdlib one it short-cuts.

The fast path leans on ``HTMLParser`` internals (``check_for_whole_start_tag``,
``set_cdata_mode``), and ``segment_blocks`` swallows every exception to
keep extraction total.  If an interpreter upgrade changed those internals,
pages would come back silently truncated; here they fail instead.
"""

from __future__ import annotations

from html.parser import HTMLParser

from hypothesis import given, settings
from hypothesis import strategies as st

from ocr_api_spark.kernels import boilerplate
from ocr_api_spark.sources.pages import generate_pages


class _StdlibStartTag(boilerplate._BlockParser):
    parse_starttag = HTMLParser.parse_starttag


def _blocks(parser_cls, html: str) -> list[boilerplate.Block]:
    parser = parser_cls()
    try:  # as segment_blocks does
        parser.feed(html)
        parser.close()
    except Exception:
        parser._flush()
    return parser.blocks


def _assert_same(html: str) -> None:
    fast = _blocks(boilerplate._BlockParser, html)
    assert fast == boilerplate.segment_blocks(html)
    assert fast == _blocks(_StdlibStartTag, html), html


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
    "<P CLASS=Up>",
    "<p =x>",
    "<p a=`b`>",
    "</",
    "</p  >",
    "</ p>",
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
    "<!-- <p> -->",
    "<!DOCTYPE html>",
    "<?xml version='1.0'?>",
    "<nav><a href=/n>menu</a></nav>",
    "<h1>",
    "</h1>",
    "<a>",
    "</a>",
]
WORDS = ["alpha", "beta gamma", "  ", "\n", "&amp;", "&#65;", "&nbsp;", "x<y", "données", "\xa0", "\x1c", "word " * 20]


def test_fast_path_matches_stdlib_on_generated_pages():
    for heavy in (False, True):
        pages, _, _ = generate_pages(60, seed=11, web_fraction=1.0, heavy_pages=heavy)
        for html in pages["html"]:
            _assert_same(html.decode("utf-8"))


def test_fast_path_matches_stdlib_on_each_adversarial_tag():
    for tag in ADVERSARIAL_TAGS:
        _assert_same(f"<html><body><p>{'lead words ' * 10}{tag}{'tail words ' * 10}</p></body></html>")
        _assert_same(tag)


@given(st.lists(st.sampled_from(ADVERSARIAL_TAGS + WORDS), max_size=40).map("".join))
@settings(max_examples=400, deadline=None)
def test_fast_path_matches_stdlib_on_tag_soup(html):
    _assert_same(html)
