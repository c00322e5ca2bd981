"""Synthetic ``pages`` / ``claims`` tables (BASELINE.json input_hint).

Deterministic generator for the Common-Crawl-style input table
``(url string, warc_ts timestamp, html binary, text string, lang
string)`` plus the matching ``claims`` table (FIXTURES.md §2).  Host
frequencies are Zipf-skewed so a handful of hosts are hot — this is
what exercises the pipeline's salting path.

Two row classes:
- *document rows*: ``text`` carries the OCR-text IR (html NULL),
  a claims row exists, ``doc_type`` set per family;
- *web rows*: ``html`` carries a synthetic page (text empty) and the
  boilerplate branch must produce the text; no claims row.

Generation is pandas/pyarrow only (no Spark needed) so tests and the
bench can synthesize inputs cheaply; write once, read with
``spark.read.parquet``.
"""

from __future__ import annotations

import random
from datetime import datetime, timedelta

import pandas as pd

from ocr_api_spark.sources.doctexts import FAMILY_DOC_TYPE, GENERATORS, web_page_html

EPOCH = datetime(2024, 1, 1)
N_HOSTS = 50
# bump when generator output changes — cache keys embed it so stale
# synthetic corpora are never reused across versions
GEN_VERSION = 2
DOC_FAMILIES = list(GENERATORS.keys())
# the claims table's columns, in file order (all strings); fixed here so
# a corpus without document rows still writes the full schema
CLAIMS_COLUMNS = [
    "url",
    "doc_type",
    "name",
    "father_name",
    "dob",
    "pan",
    "adharno",
    "address",
    "ifsc",
    "micr",
    "account_number",
    "company",
    "sources",
    "req_id",
]


def _host(rng: random.Random) -> int:
    """Zipf-ish host id: host 0 gets ~35% of urls, heavy tail after."""
    r = rng.random()
    if r < 0.35:
        return 0
    if r < 0.5:
        return 1
    return rng.randint(2, N_HOSTS - 1)


def generate_pages(n_rows: int, seed: int = 42, web_fraction: float = 0.4, heavy_pages: bool = False):
    """Returns (pages_df, claims_df, golden_df) as pandas DataFrames.

    ``golden_df`` holds the byte-identical target ``extracted_text`` per
    url: for document rows that is the input text itself (the extractors
    consume it verbatim — reference app.py:2167 hands OCR text straight
    to the extractor); for web rows it is the kernel boilerplate output.
    """
    rng = random.Random(seed)
    pages, claims, golden = [], [], []
    for i in range(n_rows):
        h = _host(rng)
        url = f"https://host{h}.example/p/{seed}/{i}"
        warc_ts = EPOCH + timedelta(seconds=i * 7 + h)
        lang = rng.choices(["en", "hi", "und"], weights=[0.9, 0.07, 0.03])[0]
        if rng.random() < web_fraction:
            if heavy_pages:  # production-shaped: ~1k words of content
                html, main_text = web_page_html(rng, n_paras=(8, 16), para_words=(50, 120))
            else:
                html, main_text = web_page_html(rng)
            pages.append(
                {"url": url, "warc_ts": warc_ts, "html": html.encode("utf-8"), "text": "", "lang": lang}
            )
            golden.append({"url": url, "doc_type": "web", "extracted_text": main_text})
        else:
            family = rng.choice(DOC_FAMILIES)
            text, truth = GENERATORS[family](rng)
            doc_type = FAMILY_DOC_TYPE[family]
            pages.append({"url": url, "warc_ts": warc_ts, "html": None, "text": text, "lang": lang})
            golden.append({"url": url, "doc_type": doc_type, "extracted_text": text})
            claims.append(
                {
                    "url": url,
                    "doc_type": doc_type,
                    "name": truth.get("name", ""),
                    "father_name": truth.get("father_name", ""),
                    "dob": truth.get("dob", ""),
                    "pan": truth.get("pan", ""),
                    "adharno": truth.get("adharno", ""),
                    "address": truth.get("address", ""),
                    "ifsc": truth.get("ifsc", ""),
                    "micr": truth.get("micr", ""),
                    "account_number": truth.get("account_number", ""),
                    "company": f"company{rng.randint(1, 20)}",
                    "sources": f"src{rng.randint(0, 9)}",
                    "req_id": f"req-{seed}-{i}",
                }
            )
    pages_df = pd.DataFrame(pages)
    claims_df = pd.DataFrame(claims, columns=CLAIMS_COLUMNS)
    golden_df = pd.DataFrame(golden)
    return pages_df, claims_df, golden_df


def write_pages(
    out_dir: str, n_rows: int, seed: int = 42, web_fraction: float = 0.4, heavy_pages: bool = False
) -> dict:
    """Write pages/claims/golden parquet under ``out_dir``; returns paths."""
    import os

    import pyarrow as pa

    os.makedirs(out_dir, exist_ok=True)
    pages_df, claims_df, golden_df = generate_pages(n_rows, seed, web_fraction, heavy_pages)
    paths = {
        "pages": os.path.join(out_dir, "pages.parquet"),
        "claims": os.path.join(out_dir, "claims.parquet"),
        "golden": os.path.join(out_dir, "golden.parquet"),
    }
    # Spark cannot read pandas' default TIMESTAMP(NANOS) parquet type
    pages_df.to_parquet(paths["pages"], index=False, coerce_timestamps="us", allow_truncated_timestamps=True)
    # an empty object column would be typed null (Spark reads int32)
    claims_schema = pa.schema([(c, pa.string()) for c in CLAIMS_COLUMNS])
    claims_df.to_parquet(paths["claims"], index=False, schema=claims_schema)
    golden_df.to_parquet(paths["golden"], index=False)
    return paths
