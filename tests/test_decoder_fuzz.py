"""Poison-pill resistance for the untrusted-byte decoders: random
byte corruption of valid payloads must either still decode or raise
the module's own error type — never an IndexError/ValueError/
OverflowError that would fail a whole Spark task through _Decoder or
the PDF branch.  Deterministic seeds; 200 mutations per format."""

from __future__ import annotations

import zlib

import numpy as np
import pytest

from ocr_api_spark.kernels.jpeg import JpegError, decode_jpeg, encode_jpeg
from ocr_api_spark.kernels.png import PngError, decode_png, encode_png
from ocr_api_spark.sources.pdftext import MiniPdfError, parse_pdf, pdf_from_text


def _img(rng):
    return rng.integers(0, 256, (24, 32, 3), dtype=np.uint8)


@pytest.mark.parametrize(
    "name,make,decode,err",
    [
        ("jpeg_baseline", lambda r: encode_jpeg(_img(r), 85), decode_jpeg, JpegError),
        ("jpeg_progressive", lambda r: encode_jpeg(_img(r), 85, progressive=True), decode_jpeg, JpegError),
        ("jpeg_420_rst", lambda r: encode_jpeg(_img(r), 85, subsample=True, restart_interval=2), decode_jpeg, JpegError),
        ("jpeg_ycck", lambda r: encode_jpeg(r.integers(0, 256, (24, 32, 4), dtype=np.uint8), 85, ycck=True), decode_jpeg, JpegError),
        ("jpeg_cmyk", lambda r: encode_jpeg(r.integers(0, 256, (24, 32, 4), dtype=np.uint8), 85), decode_jpeg, JpegError),
        ("jpeg_cmyk_prog", lambda r: encode_jpeg(r.integers(0, 256, (24, 32, 4), dtype=np.uint8), 85, progressive=True), decode_jpeg, JpegError),
        ("png", lambda r: encode_png(_img(r), filter_types=4), decode_png, PngError),
        ("png_interlaced", lambda r: encode_png(_img(r), interlace=True), decode_png, PngError),
        ("pdf_flate", lambda r: pdf_from_text("hello world this is a test doc with words", compress=True), parse_pdf, MiniPdfError),
        ("pdf_plain", lambda r: pdf_from_text("hello world this is a test doc with words"), parse_pdf, MiniPdfError),
    ],
)
def test_corruption_never_escapes_module_error(name, make, decode, err):
    rng = np.random.default_rng(zlib.crc32(name.encode()))  # stable across runs
    data = make(rng)
    escaped = []
    for trial in range(200):
        b = bytearray(data)
        for _ in range(int(rng.integers(1, 4))):
            b[int(rng.integers(0, len(b)))] = int(rng.integers(0, 256))
        try:
            decode(bytes(b))
        except err:
            pass
        except Exception as e:  # noqa: BLE001 - the point of the test
            escaped.append((trial, type(e).__name__, str(e)[:60]))
    assert not escaped, escaped[:5]


def test_truncation_never_escapes():
    rng = np.random.default_rng(5)
    cases = [
        (encode_jpeg(_img(rng), 85, progressive=True), decode_jpeg, JpegError),
        (encode_png(_img(rng), interlace=True), decode_png, PngError),
        (pdf_from_text("some words here", compress=True), parse_pdf, MiniPdfError),
    ]
    for data, decode, err in cases:
        for cut in range(1, len(data), max(1, len(data) // 60)):
            try:
                decode(data[:cut])
            except err:
                pass


def test_jpeg_many_component_sof_rejected_before_allocation():
    """Review r3b: a corrupt SOF declaring 64+ components under the
    pixel cap must be rejected BEFORE the coefficient planes allocate
    (previously ~1 GB for a 220-byte payload)."""
    import struct
    import tracemalloc

    sof_body = bytes([8]) + struct.pack(">HH", 2000, 2000) + bytes([64])
    for ci in range(64):
        sof_body += bytes([ci + 1, 0x44, 0])
    data = (
        b"\xff\xd8"
        + b"\xff\xc0" + struct.pack(">H", 2 + len(sof_body)) + sof_body
        + b"\xff\xd9"
    )
    tracemalloc.start()
    with pytest.raises(JpegError, match="component frame unsupported"):
        decode_jpeg(data)
    _, peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    assert peak < 32 * 1024 * 1024, peak


def test_png_zlib_bomb_bounded_by_header_geometry():
    """Review r3b: IDAT inflate is bounded by the filtered size the
    header implies, so a small payload inflating to hundreds of MB
    cannot out-allocate the pixel cap."""
    import struct
    import tracemalloc
    import zlib as _z

    ihdr = struct.pack(">IIBBBBB", 10, 10, 8, 0, 0, 0, 0)

    def chunk(ctype, payload):
        return (
            struct.pack(">I", len(payload)) + ctype + payload
            + struct.pack(">I", _z.crc32(ctype + payload) & 0xFFFFFFFF)
        )

    bomb = _z.compress(b"\x00" * (200 * 1024 * 1024), 9)  # ~200 MB inflated
    png = (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr) + chunk(b"IDAT", bomb)
        + chunk(b"IEND", b"")
    )
    tracemalloc.start()
    out = decode_png(png)  # bounded inflate: decodes the declared 10x10
    _, peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    assert out.shape == (10, 10)
    assert peak < 16 * 1024 * 1024, peak


def test_pdf_flate_bomb_rejected():
    import zlib as _z

    bomb = _z.compress(b"A" * (80 * 1024 * 1024), 9)
    pdf = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n"
        b"4 0 obj\n<< /Length " + str(len(bomb)).encode()
        + b" /Filter /FlateDecode >>\nstream\n" + bomb + b"\nendstream\nendobj\n%%EOF\n"
    )
    with pytest.raises(MiniPdfError, match="size bound"):
        parse_pdf(pdf)


@pytest.mark.parametrize("reader", ["parse_pdf", "rasterize_pdf_pages"])
def test_any_parse_failure_is_a_pdf_error(monkeypatch, reader):
    """A parse failure of any class surfaces as MiniPdfError, which
    pdf_raster reports as bad_pdf and clip_all as no pages, instead of
    escaping and failing their task."""
    from ocr_api_spark.sources import pdfraster, pdftext

    def broken(data):
        raise TypeError("unexpected object layout")

    monkeypatch.setattr(pdftext, "_scan_objects", broken)
    read = pdftext.parse_pdf if reader == "parse_pdf" else pdfraster.rasterize_pdf_pages
    with pytest.raises(MiniPdfError, match="TypeError: unexpected object layout"):
        read(pdf_from_text("hello world"))


def test_pdfraster_corruption_never_escapes():
    """The raster path walks object graphs, filter chains, AND image
    codecs — corruption anywhere must surface as MiniPdfError or decode
    gracefully, never another exception through the pdf_raster task."""
    from ocr_api_spark.sources.pdfraster import convert_pdf_to_image, write_image_pdf

    rng = np.random.default_rng(zlib.crc32(b"pdfraster"))
    base_img = rng.integers(0, 256, (20, 28, 3), dtype=np.uint8)
    for codec in ("jpeg", "flate", "lzw"):
        data = write_image_pdf([base_img, base_img], codec=codec)
        escaped = []
        for trial in range(150):
            b = bytearray(data)
            for _ in range(int(rng.integers(1, 4))):
                b[int(rng.integers(0, len(b)))] = int(rng.integers(0, 256))
            try:
                convert_pdf_to_image(bytes(b))
            except MiniPdfError:
                pass
            except Exception as e:  # noqa: BLE001 - the point of the test
                escaped.append((codec, trial, type(e).__name__, str(e)[:60]))
        assert not escaped, escaped[:5]
