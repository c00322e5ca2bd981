"""PDF→raster on the repo's own codec stack (S3; reference
app.py:419-443): write→rasterize round-trips, the 1/2-page merge and
reject logic, placement geometry, and untrusted-bytes boundaries."""

from __future__ import annotations

import numpy as np
import pytest

from ocr_api_spark.sources.pdfraster import (
    convert_pdf_to_image,
    rasterize_pdf_pages,
    write_image_pdf,
)
from ocr_api_spark.sources.pdftext import MiniPdfError


def _img(h, w, seed=0, gray=False):
    rng = np.random.default_rng(seed)
    shape = (h, w) if gray else (h, w, 3)
    return rng.integers(0, 256, shape, dtype=np.uint8)


def test_flate_roundtrip_exact_rgb_and_gray():
    for gray in (False, True):
        img = _img(48, 64, seed=1, gray=gray)
        pdf = write_image_pdf([img], codec="flate")
        pages = rasterize_pdf_pages(pdf)
        assert len(pages) == 1
        want = np.repeat(img[..., None], 3, 2) if gray else img
        assert pages[0].shape == (48, 64, 3)
        assert np.array_equal(pages[0], want)


def test_lzw_roundtrip_exact():
    img = _img(32, 40, seed=2)
    pages = rasterize_pdf_pages(write_image_pdf([img], codec="lzw"))
    assert np.array_equal(pages[0], img)


def test_jpeg_embedding_roundtrips_through_own_codec():
    """/DCTDecode bytes come from the repo's encoder, so rasterizing
    must reproduce exactly what decode_jpeg yields for those bytes."""
    from ocr_api_spark.kernels.jpeg import decode_jpeg, encode_jpeg

    img = _img(40, 56, seed=3)
    pdf = write_image_pdf([img], codec="jpeg", quality=85)
    pages = rasterize_pdf_pages(pdf)
    assert np.array_equal(pages[0], decode_jpeg(encode_jpeg(img, quality=85)))


def test_two_page_vertical_merge_white_canvas():
    """app.py:428-438: widths max, heights summed, white background,
    page 2 at (0, h1)."""
    img1 = _img(30, 64, seed=4)
    img2 = _img(20, 40, seed=5)
    pdf = write_image_pdf([img1, img2], codec="flate")
    merged = convert_pdf_to_image(pdf)
    assert merged.shape == (50, 64, 3)
    assert np.array_equal(merged[:30, :64], img1)
    assert np.array_equal(merged[30:, :40], img2)
    # the strip right of the narrower page 2 stays white
    assert (merged[30:, 40:] == 255).all()


def test_single_page_returns_page_and_three_pages_reject():
    img = _img(16, 16, seed=6)
    assert np.array_equal(convert_pdf_to_image(write_image_pdf([img], codec="flate")), img)
    assert convert_pdf_to_image(write_image_pdf([img, img, img], codec="flate")) is None


def test_dpi_rescale_is_nearest_neighbor():
    """Rasterizing at 2x the embedding dpi doubles the geometry with
    pixel-center nearest sampling (each source pixel becomes 2x2)."""
    img = _img(8, 10, seed=7)
    pages = rasterize_pdf_pages(write_image_pdf([img], dpi=300, codec="flate"), dpi=600)
    assert pages[0].shape == (16, 20, 3)
    assert np.array_equal(pages[0], np.repeat(np.repeat(img, 2, 0), 2, 1))


def test_partial_placement_leaves_white_margins():
    """An image placed over part of the page leaves the rest white —
    the cm translation maps through PDF's y-up coordinates."""
    img = np.zeros((10, 10, 3), dtype=np.uint8)
    # hand-build: 100x100pt page at 72 dpi (1pt = 1px), image at
    # x=20..30pt, y=60..70pt (PDF y-up) → canvas rows 30..40, cols 20..30
    pdf = _raw_pdf(
        mediabox="0 0 100 100",
        content=b"q 10 0 0 10 20 60 cm /Im0 Do Q",
        img=img,
    )
    page = rasterize_pdf_pages(pdf, dpi=72)[0]
    assert page.shape == (100, 100, 3)
    assert (page[30:40, 20:30] == 0).all()
    assert (page[:30] == 255).all() and (page[40:] == 255).all()
    assert (page[30:40, :20] == 255).all() and (page[30:40, 30:] == 255).all()


def test_rotated_ctm_rejected_not_poison():
    img = _img(8, 8, seed=8)
    pdf = _raw_pdf(
        mediabox="0 0 100 100",
        content=b"q 0 8 -8 0 50 50 cm /Im0 Do Q",  # 90-degree rotation
        img=img,
    )
    with pytest.raises(MiniPdfError, match="axis-aligned"):
        rasterize_pdf_pages(pdf, dpi=72)


def test_garbage_and_truncated_pdfs_never_poison():
    """Untrusted-bytes boundary: anything that isn't a clean PDF either
    raises MiniPdfError or degrades to a (possibly empty/partial) page
    list — no other exception may escape into a Spark task."""
    with pytest.raises(MiniPdfError):
        rasterize_pdf_pages(b"not a pdf at all")
    good = write_image_pdf([_img(16, 16, seed=9)], codec="flate")
    for cut in range(0, len(good), 37):
        for tail in (b"", b"\xff\x00garbage", good[cut // 2 :]):
            try:
                pages = rasterize_pdf_pages(good[:cut] + tail)
            except MiniPdfError:
                continue
            assert isinstance(pages, list)
            for p in pages:
                assert p.dtype == np.uint8 and p.ndim == 3


def test_one_bit_gray_scan():
    """1-bit /DeviceGray — the classic document-scan depth — expands to
    0/255 like the PNG path does."""
    import zlib as _z

    bits = np.zeros((4, 16), dtype=np.uint8)
    bits[1, 3] = bits[2, 12] = 1
    packed = np.packbits(bits, axis=1).tobytes()
    pdf = _raw_pdf(
        mediabox="0 0 16 4",
        content=b"q 16 0 0 4 0 0 cm /Im0 Do Q",
        img_raw=_z.compress(packed),
        img_dict=(
            b"<< /Type /XObject /Subtype /Image /Width 16 /Height 4 "
            b"/ColorSpace /DeviceGray /BitsPerComponent 1 /Filter /FlateDecode "
        ),
    )
    page = rasterize_pdf_pages(pdf, dpi=72)[0]
    assert np.array_equal(page[..., 0], (bits * 255).astype(np.uint8))


def test_sample_cap_rejects_geometry_bomb():
    pdf = _raw_pdf(
        mediabox="0 0 100 100",
        content=b"q 100 0 0 100 0 0 cm /Im0 Do Q",
        img_raw=b"\x00" * 16,
        img_dict=(
            b"<< /Type /XObject /Subtype /Image /Width 90000 /Height 90000 "
            b"/ColorSpace /DeviceRGB /BitsPerComponent 8 /Filter /FlateDecode "
        ),
    )
    with pytest.raises(MiniPdfError, match="sample cap"):
        rasterize_pdf_pages(pdf, dpi=72)


def _raw_pdf(mediabox: str, content: bytes, img=None, img_raw=None, img_dict=None) -> bytes:
    """Hand-rolled single-page PDF with one image XObject, for cases the
    fixture writer deliberately refuses to produce."""
    import zlib as _z

    if img is not None:
        gray = img.ndim == 2
        samples = (img[..., None] if gray else img[:, :, ::-1]).tobytes()
        img_raw = _z.compress(samples)
        cs = b"/DeviceGray" if gray else b"/DeviceRGB"
        img_dict = (
            b"<< /Type /XObject /Subtype /Image /Width %d /Height %d "
            b"/ColorSpace %s /BitsPerComponent 8 /Filter /FlateDecode "
            % (img.shape[1], img.shape[0], cs)
        )
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        (
            b"<< /Type /Page /Parent 2 0 R /MediaBox [%s] /Contents 4 0 R "
            b"/Resources << /XObject << /Im0 5 0 R >> >> >>" % mediabox.encode()
        ),
        b"<< /Length %d >>\nstream\n%s\nendstream" % (len(content), content),
        img_dict + b"/Length %d >>\nstream\n%s\nendstream" % (len(img_raw), img_raw),
    ]
    out = bytearray(b"%PDF-1.4\n")
    for i, body in enumerate(objs, start=1):
        out += b"%d 0 obj\n%s\nendobj\n" % (i, body)
    out += b"%%EOF\n"
    return bytes(out)


def test_indirect_and_inherited_resources():
    """Review r4: real writers spell /Resources as an indirect ref or
    inherit it from the /Pages node; both must resolve to the XObject."""
    import zlib as _z

    img = _img(6, 8, seed=21)
    samples = _z.compress(img[:, :, ::-1].tobytes())
    content = b"q 8 0 0 6 0 0 cm /Im0 Do Q"
    common = (
        b"4 0 obj\n<< /Length %d >>\nstream\n%s\nendstream\nendobj\n"
        b"5 0 obj\n<< /Type /XObject /Subtype /Image /Width 8 /Height 6 "
        b"/ColorSpace /DeviceRGB /BitsPerComponent 8 /Filter /FlateDecode "
        b"/Length %d >>\nstream\n%s\nendstream\nendobj\n"
        b"6 0 obj\n<< /XObject << /Im0 5 0 R >> >>\nendobj\n%%%%EOF\n"
    ) % (len(content), content, len(samples), samples)

    indirect = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /MediaBox [0 0 8 6] "
        b"/Contents 4 0 R /Resources 6 0 R >>\nendobj\n" + common
    )
    assert np.array_equal(rasterize_pdf_pages(indirect, dpi=72)[0], img)

    inherited = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 /Resources 6 0 R >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /MediaBox [0 0 8 6] "
        b"/Contents 4 0 R >>\nendobj\n" + common
    )
    assert np.array_equal(rasterize_pdf_pages(inherited, dpi=72)[0], img)


def test_offset_mediabox_origin():
    """Review r4: a nonzero-origin /MediaBox must size the canvas from
    the box EXTENT and shift placements into box coordinates."""
    img = np.zeros((10, 10, 3), dtype=np.uint8)
    pdf = _raw_pdf(
        mediabox="5 9 105 109",  # 100x100pt box with origin (5, 9)
        content=b"q 10 0 0 10 25 69 cm /Im0 Do Q",
        img=img,
    )
    page = rasterize_pdf_pages(pdf, dpi=72)[0]
    assert page.shape == (100, 100, 3)
    # x: 25-5=20..30; y-top: 109-69-10=30..40
    assert (page[30:40, 20:30] == 0).all()
    assert (page[:30] == 255).all() and (page[40:] == 255).all()



def test_literal_string_q_does_not_pop_ctm():
    """ADVICE r4: a text string containing a standalone ``Q`` (e.g.
    ``(Mr. Q) Tj``) must not pop the CTM stack — the placement
    interpreter skips literal strings with the text tokenizer's escape
    rules (including nested parens and escaped closers)."""
    img = np.zeros((10, 10, 3), dtype=np.uint8)
    content = (
        b"BT /F1 12 Tf (Mr. Q cm Do \\(nested (deep Q) \\) 8 0 0) Tj ET "
        b"q 10 0 0 10 20 60 cm /Im0 Do Q"
    )
    page = rasterize_pdf_pages(
        _raw_pdf(mediabox="0 0 100 100", content=content, img=img), dpi=72
    )[0]
    assert (page[30:40, 20:30] == 0).all()
    assert (page[:30] == 255).all() and (page[40:] == 255).all()


def test_inline_image_bytes_do_not_perturb_ctm():
    """ADVICE r4: BI..ID..EI sample bytes can spell ``Q``/``cm``/``Do``
    — the interpreter must skip the whole span like the text tokenizer
    does."""
    img = np.zeros((10, 10, 3), dtype=np.uint8)
    content = (
        b"BI /W 2 /H 2 /BPC 8 /CS /G ID Q 9 9 9 9 cm /Im0 Do\nEI\n"
        b"q 10 0 0 10 20 60 cm /Im0 Do Q"
    )
    page = rasterize_pdf_pages(
        _raw_pdf(mediabox="0 0 100 100", content=content, img=img), dpi=72
    )[0]
    assert (page[30:40, 20:30] == 0).all()
    assert (page[:30] == 255).all() and (page[40:] == 255).all()


@pytest.mark.parametrize(
    "inline",
    [
        b"BI /W 2 /H 2 /BPC 8 /CS /G ID \x00\x01\x02)EI\n",  # EI abuts ')'
        b"BI /W 2 /H 2 /BPC 8 /CS /G ID \x00\x01\x02AEI\n",  # 'A' abuts EI
    ],
    ids=["after-paren", "after-word-char"],
)
def test_inline_image_ei_abutting_data_keeps_placement(inline):
    """The text reader's abutting-EI fallbacks, ahead of a placement:
    with no whitespace-delimited EI the skip must still end at the
    abutting one, not eat the ``q … cm /Im0 Do Q`` that follows."""
    img = _img(10, 10, seed=31)
    place = b"q 10 0 0 10 20 60 cm /Im0 Do Q"

    def page(content):
        pdf = _raw_pdf(mediabox="0 0 100 100", content=content, img=img)
        return rasterize_pdf_pages(pdf, dpi=72)[0]

    want = page(place)
    assert np.array_equal(want[30:40, 20:30], img)
    assert np.array_equal(page(inline + place), want)


# sha256 of each writer's output for the fixed inputs below, recorded
# with the writers as they stood before the PDF object layer was shared
# between sources/pdftext.py and sources/pdfraster.py.  The round-trip
# tests and the oracles compute their expected bytes with the writer
# under test, so only these digests catch a change to the bytes
# themselves (zlib level 6 is deterministic for one zlib build).
_WRITER_PINS = {
    "pdf_from_text raw": "c506f57b3b2c4c84b0086af1a0082df1c30a6d2d58d0e2cbf1eb79ff5acbd52f",
    "pdf_from_text flate": "7fde41329bb014739e42314e8e1baf81a879cfebed2b5ea05f1f8cd04d9d5cc0",
    "write_minimal_pdf raw": "e1fec94bbd812c12320118d9a378758b72b7be00d760440a663c9b749db79e99",
    "write_minimal_pdf flate": "6c9360d6eda352795cfc5c9340e4411418b08e3fd14a4b28b343b97c35572777",
    "write_image_pdf jpeg 1": "e2b366ced06fc2a687ac918af869cbbaf6eb121e9a223353681fe64b73bb3529",
    "write_image_pdf jpeg 2": "15df309eac105ca25ded60ef10456bb3a07ec37ad928654e7eccf3874b3e8321",
    "write_image_pdf flate 1": "9680e45a8c6fa0bcd42fe488b62c623d2b2def36196c3fdc84354b417e6782e5",
    "write_image_pdf flate 2": "1b1e9681f3682739d990fe94aefa94046638b98742c9d22cda1a9d282957dde1",
    "write_image_pdf lzw 1": "7630cdc14f35c0257b75d50da1003dd119376324dd06ea4b1228505c98f54ee2",
    "write_image_pdf lzw 2": "d3eb56e3157f1f1106d12cfec01679c54ac229ec6a5be5227d1c5ca60f773c12",
}


def test_writer_bytes_pinned():
    """Both fixture writers, raw and compressed, one and two pages,
    against digests recorded once: every PDF fixture, golden and
    round-trip oracle in the repo is built from these bytes."""
    import hashlib

    from ocr_api_spark.sources.pdftext import pdf_from_text, write_minimal_pdf

    text = (
        "Permanent Account Number ABCPS1234F Name RAVI KUMAR Father "
        "SURESH KUMAR 01/02/1985 (copy) back\\slash"
    )
    spans = [
        [(72.0, 72.0, 12.0, "Name: Ravi (R) \\ Kumar"), (300.5, 100.25, 9.5, "café Ω")],
        [(10.0, 20.0, 14.0, "page two")],
    ]
    one = [_img(12, 16, seed=41)]
    two = [_img(12, 16, seed=42), _img(9, 7, seed=43, gray=True)]
    got = {
        "pdf_from_text raw": pdf_from_text(text),
        "pdf_from_text flate": pdf_from_text(text, compress=True),
        "write_minimal_pdf raw": write_minimal_pdf(spans, page_width=595.0, page_height=842.0),
        "write_minimal_pdf flate": write_minimal_pdf(spans, compress=True),
    }
    for codec in ("jpeg", "flate", "lzw"):
        for imgs in (one, two):
            got[f"write_image_pdf {codec} {len(imgs)}"] = write_image_pdf(imgs, dpi=150, codec=codec)
    assert {k: hashlib.sha256(v).hexdigest() for k, v in got.items()} == _WRITER_PINS
