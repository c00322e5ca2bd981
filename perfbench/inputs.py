"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of ``(seed, size)``: the same seed
writes the same parquet bytes.  The program under test only ever sees
the parquet files; the pandas frames returned alongside them are the
driver-side ground truth the output checks compare against.

- ``crawl_table``: the production-shaped mixed crawl.  ~40% HTML rows
  in the generator's ``heavy_pages`` form, a few percent ``%PDF``
  text-layer payloads (``html`` set, ``text`` empty), the rest OCR-text
  documents with claims, on Zipf-skewed hosts.
- ``docs_table``: document rows only, every row with a claims row.
- ``near_dup_corpus``: a corpus built the way ``sf0.1/documents.parquet``
  is (short texts over a 30-word vocabulary, 5% near-copies) for the
  dedup tier.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass

import pandas as pd

from ocr_api_spark.kernels.common import clean_text
from ocr_api_spark.sources.pages import generate_pages
from ocr_api_spark.sources.pdftext import pdf_from_text, pdf_text

PDF_FRACTION = 0.03  # of all rows, carved out of the document rows

# the documents corpus, as measured on sf0.1/documents.parquet: its 30
# words (each drawn about equally often), 5% of its docs near-copies, and
# its language mix
CORPUS_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
DUP_FRACTION = 0.05
LANGS = {"en": 0.41, "zh": 0.15, "es": 0.15, "fr": 0.15, "de": 0.14}

# dedup flow parameters (the same as bench_extra.py's flow)
SHINGLE_N = 3
MINHASH_K = 8
BANDS = [(0, 1), (2, 3), (4, 5), (6, 7)]
MAX_BUCKET = 64
JACCARD_MIN = 0.8


@dataclass
class PagesInput:
    pages_path: str
    claims_path: str
    frame: pd.DataFrame  # pages left-joined with claims, NULLs as None
    golden: dict  # url -> generator's extracted_text


@dataclass
class CorpusInput:
    docs_path: str
    frame: pd.DataFrame  # doc_id, text, lang, source


def _write(df: pd.DataFrame, path: str) -> str:
    # Spark cannot read pandas' default TIMESTAMP(NANOS) parquet type
    df.to_parquet(path, index=False, coerce_timestamps="us", allow_truncated_timestamps=True)
    return path


def _with_pdf_rows(pages: pd.DataFrame, golden: pd.DataFrame, seed: int) -> None:
    """Move a seeded few percent of the document rows into ``%PDF``
    text-layer payloads (in place).  The claims row stays, so the PDF
    branch feeds the field extractors; the golden text is the
    driver-side ``clean_text(pdf_text(payload))``."""
    rng = random.Random(f"pdf:{seed}")
    doc_rows = [i for i, h in enumerate(pages["html"]) if h is None]
    share = PDF_FRACTION * len(pages) / max(len(doc_rows), 1)
    for i in doc_rows:
        if rng.random() < share:
            payload = pdf_from_text(pages.at[i, "text"].replace("\n", " "))
            pages.at[i, "html"] = payload
            pages.at[i, "text"] = ""
            golden.at[i, "extracted_text"] = clean_text(pdf_text(payload))


def _pages_input(out_dir: str, pages: pd.DataFrame, claims: pd.DataFrame, golden: pd.DataFrame) -> PagesInput:
    os.makedirs(out_dir, exist_ok=True)
    pages_path = _write(pages, os.path.join(out_dir, "pages.parquet"))
    claims_path = _write(claims, os.path.join(out_dir, "claims.parquet"))
    frame = pages.merge(claims, on="url", how="left")
    frame = frame.astype(object).where(frame.notna(), None)
    return PagesInput(pages_path, claims_path, frame, dict(zip(golden["url"], golden["extracted_text"])))


def crawl_table(out_dir: str, n_rows: int, seed: int) -> PagesInput:
    pages, claims, golden = generate_pages(n_rows, seed, web_fraction=0.4, heavy_pages=True)
    _with_pdf_rows(pages, golden, seed)
    return _pages_input(out_dir, pages, claims, golden)


def docs_table(out_dir: str, n_rows: int, seed: int) -> PagesInput:
    pages, claims, golden = generate_pages(n_rows, seed, web_fraction=0.0)
    return _pages_input(out_dir, pages, claims, golden)


def near_dup_corpus(out_dir: str, n_docs: int, seed: int) -> CorpusInput:
    """Random word docs (10-99 words drawn uniformly from
    ``CORPUS_WORDS``); then ``DUP_FRACTION`` of the docs, chosen at
    random, are overwritten with another doc's text plus the word
    ``dup``.  This is how the shared ``sf0.1/documents.parquet`` is built
    (see README.md for the measured comparison)."""
    rng = random.Random(f"corpus:{seed}")
    texts = [" ".join(rng.choice(CORPUS_WORDS) for _ in range(rng.randint(10, 99))) for _ in range(n_docs)]
    for i in rng.sample(range(n_docs), round(DUP_FRACTION * n_docs)):
        j = rng.randrange(n_docs - 1)
        texts[i] = texts[j + (j >= i)] + " dup"
    frame = pd.DataFrame(
        {
            "doc_id": range(n_docs),
            "text": texts,
            "lang": rng.choices(list(LANGS), weights=list(LANGS.values()), k=n_docs),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": [len(t) for t in texts],
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    return CorpusInput(_write(frame, os.path.join(out_dir, "documents.parquet")), frame)
