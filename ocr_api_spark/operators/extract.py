"""The extraction and match UDF stage.

One Arrow-batched ``pandas_udf`` (``fused_extract_udf``) wraps the pure
kernels: text resolve, field extraction and match, one Python↔JVM
crossing amortized per batch.  A frame is wired into it in one place,
``_with_inputs``: ``with_extraction`` calls the UDF through Spark (the
batch plan, stream, entry queries), and ``extraction_inputs`` feeds
``run_extraction``'s bucket writer, which calls its body.  Regexes
compile once per Python worker at module import (the per-executor
singleton pattern; contrast the reference's per-request PaddleOCR
construction, app.py:2163 — the single biggest throughput lever noted
in SURVEY.md §4.1).

Row-level failures (e.g. the DL IndexError on address-less text,
app.py:5196) are caught *per row* and surfaced as status='Failed',
mirroring the reference's endpoint-level try/except that INSERTs a
Failed row (app.py:2280).  A poison row never kills a partition.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    MapType,
    DoubleType,
    StringType,
    StructField,
    StructType,
)

from ocr_api_spark.kernels import aadhaar, bank, boilerplate, dl, matching, pan, passport

# --- schemas ---------------------------------------------------------------


def _s(*names: str) -> StructType:
    return StructType([StructField(n, StringType(), True) for n in names])


PAN_STRUCT = _s("ocr_name", "ocr_father_name", "ocr_dob", "ocr_pan_number")
AADHAAR_STRUCT = _s("ocr_name", "ocr_address", "ocr_dob", "ocr_adhar_number", "ocr_address_for_match")
BANK_STRUCT = _s("ocr_IFSC", "ocr_MICR", "ocr_Account_Holder_Name", "ocr_account_number")
FINANCIAL_STRUCT = _s("client_name", "micr_code", "ifsc_code", "account_number")
DL_STRUCT = _s("dl_number", "name", "address_line_1", "address_line_2", "address_line_3", "pincode", "date_of_birth")
PASSPORT_STRUCT = StructType(
    [
        StructField("passport_number", StringType(), True),
        StructField("surname", StringType(), True),
        StructField("given_name", StringType(), True),
        StructField("date_of_birth", StringType(), True),
        StructField("date_of_issue", StringType(), True),
        StructField("date_of_expiry", StringType(), True),
        StructField("address", ArrayType(StringType()), True),
        StructField("pin", StringType(), True),
        StructField("father_or_guardian", StringType(), True),
        StructField("mother", StringType(), True),
        StructField("spouse", StringType(), True),
    ]
)

EXTRACT_SCHEMA = StructType(
    [
        StructField("extracted_text", StringType(), True),
        StructField("status", StringType(), False),
        StructField("error", StringType(), True),
        StructField("pan", PAN_STRUCT, True),
        StructField("aadhaar", AADHAAR_STRUCT, True),
        StructField("bank", BANK_STRUCT, True),
        StructField("financial", FINANCIAL_STRUCT, True),
        StructField("dl", DL_STRUCT, True),
        StructField("passport", PASSPORT_STRUCT, True),
    ]
)

MATCH_SCHEMA = StructType(
    [
        StructField("percentages", MapType(StringType(), DoubleType()), True),
        StructField("average_match_percentage", IntegerType(), True),
    ]
)


# --- per-row dispatch (runs inside the Arrow batch) ------------------------


def _extract_pan(text: str) -> dict:
    return {"pan": pan.extract_pan(text)}


def _extract_aadhaar(text: str) -> dict:
    return {"aadhaar": aadhaar.extract_aadhaar(text)}


def _extract_bank(text: str) -> dict:
    info = bank.extract_bank_data(text)
    acct = info.get("ocr_account_number")
    if acct is None:
        # reference leaves the account via EasyOCR longest-run scan
        acct = bank.extract_longest_account_number(text)
    return {
        "bank": {
            "ocr_IFSC": info["ocr_IFSC"],
            "ocr_MICR": info["ocr_MICR"],
            "ocr_Account_Holder_Name": info["ocr_Account_Holder_Name"],
            "ocr_account_number": acct,
        }
    }


def _extract_financial(text: str) -> dict:
    d = bank.extract_financial_data(text)
    return {
        "financial": {
            "client_name": d["Client Name"],
            "micr_code": d["MICR Code"],
            "ifsc_code": d["IFSC Code"],
            "account_number": d["Account Number"],
        }
    }


def _extract_dl(text: str) -> dict:
    d = dl.extract_dl_info(text)
    addr = d["address"]
    return {
        "dl": {
            "dl_number": d["dl_number"],
            "name": d["name"],
            "address_line_1": addr.get("line_1"),
            "address_line_2": addr.get("line_2"),
            "address_line_3": addr.get("line_3"),
            "pincode": d["pincode"],
            "date_of_birth": d["date_of_birth"],
        }
    }


def _extract_passport(text: str) -> dict:
    # single-payload adaptation of the two-image endpoint (app.py:5699-5712):
    # front fields and rear fields both read from the row's text.
    out = passport.extract_passport(text, text)
    info, addr, fam = out["passport_info"], out["address_info"], out["family_info"]
    return {
        "passport": {
            "passport_number": info["passport_number"],
            "surname": info["surname"],
            "given_name": info["given_name"],
            "date_of_birth": info["date_of_birth"],
            "date_of_issue": info["date_of_issue"],
            "date_of_expiry": info["date_of_expiry"],
            "address": addr["address"],
            "pin": addr["pin"],
            "father_or_guardian": fam["father_or_guardian"],
            "mother": fam["mother"],
            "spouse": fam["spouse"],
        }
    }


_DISPATCH = {
    "pan": _extract_pan,
    "aadhaar": _extract_aadhaar,
    "bank": _extract_bank,
    "financial": _extract_financial,
    "dl": _extract_dl,
    "passport": _extract_passport,
}

_EMPTY_ROW = {
    "extracted_text": None,
    "status": "Failed",
    "error": None,
    "pan": None,
    "aadhaar": None,
    "bank": None,
    "financial": None,
    "dl": None,
    "passport": None,
}


def extract_batch(texts: pd.Series, doc_types: pd.Series) -> pd.DataFrame:
    """Batch kernel shared by the pandas UDF and the pytest oracle."""
    rows = []
    for text, doc_type in zip(texts, doc_types):
        row = dict(_EMPTY_ROW)
        if text is None:
            row["error"] = "no text"
            rows.append(row)
            continue
        # claim-less web rows have no doc_type and run the PAN cascade,
        # the reference endpoint's default extractor; a text with no PAN,
        # date or NAME/FATHER/TAX anchor (most web text) returns empty
        # from one pass, without building lines
        fn = _DISPATCH.get(doc_type or "pan", _extract_pan)
        try:
            row.update(fn(text))
            row["extracted_text"] = text
            row["status"] = "Completed"
        except Exception as e:  # noqa: BLE001 - per-row Failed contract
            row["error"] = f"{type(e).__name__}: {e}"
        rows.append(row)
    return pd.DataFrame(rows, columns=list(EXTRACT_SCHEMA.fieldNames()))


def _payload_to_text(payload) -> str | None:
    """Binary payload → text: the S4 PDF text layer for ``%PDF`` payloads
    (per-page extract_text + clean_text, app.py:3202-3212 with the §0.1
    last-def clean_text), HTML boilerplate extraction otherwise."""
    if payload is None:
        return None
    if isinstance(payload, (bytes, bytearray)):
        raw = bytes(payload)
        if raw.startswith(b"%PDF"):
            from ocr_api_spark.kernels.common import clean_text
            from ocr_api_spark.sources.pdftext import MiniPdfError, pdf_text

            try:
                return clean_text(pdf_text(raw))
            except MiniPdfError:
                return None  # undecodable here -> C4 sends it to the OCR branch
        payload = raw.decode("utf-8", errors="replace")
    return boilerplate.extract_main_text(payload)


def match_batch(
    doc_types: pd.Series,
    extracted: pd.Series,
    names: pd.Series,
    father_names: pd.Series,
    dobs: pd.Series,
    pans: pd.Series,
    adharnos: pd.Series,
    addresses: pd.Series,
    ifscs: pd.Series,
    micrs: pd.Series,
    accounts: pd.Series,
) -> pd.DataFrame:
    """Match fold per row: the reference's per-doc-type score sets
    (PAN app.py:2187-2200, Aadhaar app.py:2731-2744, financial
    app.py:3239-3244).

    r8: per-row ``Series.iloc[i]`` lookups were ~half the batch's wall
    (cProfile: 22.7k __getitem__ calls = 0.33 s of a 0.68 s 4000-row
    batch) — each pays pandas' full positional-indexing machinery.  The
    columns are pulled to plain lists once per batch instead; values
    are identical (object-dtype Series round-trip None unchanged)."""
    out = []
    for doc_type, ext, name, father, dob, pan_v, adhar, addr, ifsc, micr, acct in zip(
        doc_types.tolist(),
        extracted.tolist(),
        names.tolist(),
        father_names.tolist(),
        dobs.tolist(),
        pans.tolist(),
        adharnos.tolist(),
        addresses.tolist(),
        ifscs.tolist(),
        micrs.tolist(),
        accounts.tolist(),
    ):
        if ext is None or name is None:
            out.append({"percentages": None, "average_match_percentage": None})
            continue
        try:
            if doc_type == "pan" and ext.get("pan") is not None:
                e = ext["pan"]
                db = {
                    "name": name or "",
                    "father_name": father or "",
                    "dob": dob or "",
                    "pan": pan_v or "",
                }
                res = matching.pan_matching_results(e, db)
                avg = matching.pan_average(e, res)
                out.append({"percentages": {k: float(v) for k, v in res.items()}, "average_match_percentage": avg})
            elif doc_type == "aadhaar" and ext.get("aadhaar") is not None:
                e = ext["aadhaar"]
                db = {
                    "name": name or "",
                    "adharno": adhar or "",
                    "address": addr or "",
                    "dob": dob or "",
                }
                res = matching.aadhaar_matching_results(e, db)
                avg = matching.aadhaar_average(e, res)
                out.append({"percentages": {k: float(v) for k, v in res.items()}, "average_match_percentage": avg})
            elif doc_type == "financial" and ext.get("financial") is not None:
                e = ext["financial"]
                extracted_ref_keys = {
                    "Client Name": e["client_name"],
                    "MICR Code": e["micr_code"],
                    "IFSC Code": e["ifsc_code"],
                    "Account Number": e["account_number"],
                }
                db = {
                    "Client Name": name,
                    "MICR Code": micr,
                    "IFSC Code": ifsc,
                    "Account Number": acct,
                }
                res = matching.financial_matching_results(extracted_ref_keys, db)
                out.append({"percentages": {k: float(v) for k, v in res.items()}, "average_match_percentage": None})
            else:
                out.append({"percentages": None, "average_match_percentage": None})
        except Exception:  # noqa: BLE001
            out.append({"percentages": None, "average_match_percentage": None})
    return pd.DataFrame(out, columns=["percentages", "average_match_percentage"])


FULL_SCHEMA = StructType(list(EXTRACT_SCHEMA.fields) + [StructField("match", MATCH_SCHEMA, True)])


@pandas_udf(FULL_SCHEMA)
def fused_extract_udf(
    texts: pd.Series,
    htmls: pd.Series,
    doc_types: pd.Series,
    names: pd.Series,
    father_names: pd.Series,
    dobs: pd.Series,
    pans: pd.Series,
    adharnos: pd.Series,
    addresses: pd.Series,
    ifscs: pd.Series,
    micrs: pd.Series,
    accounts: pd.Series,
) -> pd.DataFrame:
    """Single-crossing stage: boilerplate (when text is empty) + field
    extraction + match fold in ONE Arrow round trip, so a page-sized
    payload crosses the JVM↔Python boundary once.  Wire it with
    ``with_extraction``."""

    errors = {}

    def resolve(i, text, html):
        if text:
            return text
        try:  # the per-row Failed contract, as in extract_batch
            return _payload_to_text(html)
        except Exception as e:  # noqa: BLE001
            errors[i] = f"{type(e).__name__}: {e}"
            return None

    resolved = pd.Series([resolve(i, t, h) for i, (t, h) in enumerate(zip(texts, htmls))])
    out = extract_batch(resolved, doc_types)
    for i, error in errors.items():  # a row with no text is Failed: name why
        out.at[i, "error"] = error
    # one column→records pass instead of per-row .iloc lookups (which pay
    # a full row materialization per cell on wide Arrow batches)
    match_in = out[["pan", "aadhaar", "bank", "financial"]].to_dict("records")
    statuses = out["status"].tolist()
    out["match"] = match_batch(
        doc_types,
        pd.Series(
            [m if s == "Completed" else None for m, s in zip(match_in, statuses)]
        ),
        names,
        father_names,
        dobs,
        pans,
        adharnos,
        addresses,
        ifscs,
        micrs,
        accounts,
    ).to_dict("records")
    return out


# The claims columns a joined frame carries.  The first nine are the
# match inputs, in fused_extract_udf's argument order.
CLAIM_COLS = [
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


# fused_extract_udf's arguments, in call order
UDF_INPUTS = ["text", "html", "doc_type", *CLAIM_COLS[:9]]
_HTML_WHEN_NEEDED = "CASE WHEN text IS NULL OR length(text) = 0 THEN html END"


def _with_inputs(df: DataFrame) -> DataFrame:
    """``df`` with every input column it lacks as a null string."""
    # SQL strings, and columns taken from the frame: fewer Py4J calls
    # than the Column builders, for the same plan
    missing = [f"CAST(NULL AS STRING) AS {c}" for c in UDF_INPUTS[1:] if c not in df.columns]
    return df.selectExpr("*", *missing) if missing else df


def with_extraction(df: DataFrame) -> DataFrame:
    """``df`` plus an ``extraction`` struct (``FULL_SCHEMA``) from one
    ``fused_extract_udf`` call: the way a frame feeds the fused stage
    through Spark, for the batch plan, the stream and the entry queries
    (``run_extraction`` calls the same body from its writer, on
    ``extraction_inputs``).

    ``html`` reaches the UDF only where ``text`` is null or empty (the
    C4-style lazy fallback), so the HTML parse runs only for rows
    without text.  An input column ``df`` lacks (``html``, ``doc_type``,
    a claim) is added to it as a null string: a null ``doc_type`` runs
    the PAN cascade, and a null claim scores no match."""
    df = _with_inputs(df)
    return df.withColumn(
        "extraction",
        fused_extract_udf(df["text"], F.expr(_HTML_WHEN_NEEDED), *[df[c] for c in UDF_INPUTS[2:]]),
    )


def extraction_inputs(df: DataFrame, keep: list[str]) -> DataFrame:
    """The ``keep`` columns of ``df``, then ``UDF_INPUTS``: what
    ``with_extraction`` hands ``fused_extract_udf``, with the same lazy
    ``html`` and the same null-string defaults, for a body that calls
    ``fused_extract_udf.func`` itself (``plans.bucket_writer``)."""
    df = _with_inputs(df)
    return df.selectExpr(*keep, "text", f"{_HTML_WHEN_NEEDED} AS html", *UDF_INPUTS[2:])
