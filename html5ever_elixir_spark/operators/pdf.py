"""PDF text-extraction operators (north-rule "PDF/layout parse" —
pipeline mandate; not in the HTML-only reference).

Both operators are row functions on the shared row stage
(``operators/stage.py``), like the HTML path: one ``mapInArrow`` call
per Arrow batch, binary payloads end-to-end, 2-column pruned input,
row-level errors (out-of-scope PDFs become an ``error`` value, never a
job failure).
"""

from __future__ import annotations

import hashlib

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..parser.pdf import (
    _UCS2_CMAP_NAMES,
    PdfError,
    encrypt_pdf_aes,
    encrypt_pdf_aes256,
    encrypt_pdf_rc4,
    extract_pdf_text,
    make_cid_pdf,
    make_simple_pdf,
    make_ucs2_pdf,
)
from .stage import row_stage

PDF_PARSED_FIELDS = [
    ("error", pa.string()), ("text", pa.string()),
    ("n_pages", pa.int64()), ("n_bytes", pa.int64()),
]


def _pdf_rows(_, pdf):
    n_bytes = len(pdf) if pdf is not None else 0
    try:
        if pdf is None:
            raise PdfError("null payload")
        text, n_pages = extract_pdf_text(pdf)
    except PdfError as e:
        return [(str(e), None, None, n_bytes)]
    return [(None, text, n_pages, n_bytes)]


def pdf_extract(
    df: DataFrame, id_col: str = "doc_id", pdf_col: str = "pdf"
) -> DataFrame:
    """pdfs(id, pdf binary) → (doc_id, error, text, n_pages, n_bytes)."""
    pruned = df.select(
        F.col(id_col).cast("bigint").alias("doc_id"),
        F.col(pdf_col).alias("pdf"),
    )
    return row_stage(pruned, _pdf_rows, PDF_PARSED_FIELDS)


def docs_to_pdfs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    words_per_line: int = 8,
    encrypt_every: int | None = None,
    cid_every: int | None = None,
    ucs2_every: int | None = None,
) -> DataFrame:
    """Deterministic synthetic PDF corpus from the documents table
    (tests/benchmarks only — no external data): text wrapped every
    ``words_per_line`` words, one Tj per line, Flate-compressed streams.
    The wrap rule is reproducible in SQL, so a DuckDB oracle can predict
    the extraction roundtrip exactly.

    ``encrypt_every=k`` encrypts every k-th doc (doc_id % k == 0) with
    the standard security handler, empty user password — cycling RC4
    (R3/128), AESV2 (V4/R4) and AES-256 (V5/R6, AESV3) by
    (doc_id // k) % 3, so ONE unchanged DuckDB oracle gates all three
    decrypt paths via the extraction roundtrip. AES-256 docs share a
    corpus file_id on purpose: the Algorithm 2.B KDF is designed to be
    expensive (~0.3 s pure-Python), and shared salts let the reader's
    lru_cache pay it once per worker.

    ``cid_every=k`` routes every doc with doc_id % k == 1 through
    :func:`make_cid_pdf` — a Type0 composite font with an EMBEDDED CID
    CMap (mixed 1/2-byte codespace, cidchar+cidrange, 2-byte ToUnicode;
    the crawled-CJK layout, r7) — whose extraction roundtrips to the
    identical text, so the SAME oracle gates it; composes with
    encryption when the residues collide (encrypted CMap streams
    decrypt before font resolution).

    ``ucs2_every=k`` (r8) routes every doc with doc_id % k == 2
    through :func:`make_ucs2_pdf` — a Type0 font with a PREDEFINED
    ``/Encoding /Uni*-UCS2-H`` name (no embedded CMap, no ToUnicode),
    cycling the four public Adobe families by (doc_id // k) % 4; the
    reader decodes the 2-byte UCS-2 codes without external data, so
    the unchanged oracle gates this path too. Checked BEFORE
    ``cid_every`` where residues overlap (deterministic either way)."""

    aes256_fid = hashlib.md5(b"aes256-corpus").digest()

    def rows(did, t):
        words = (t or "").split(" ")
        lines = [
            " ".join(words[i : i + words_per_line])
            for i in range(0, len(words), words_per_line)
        ]
        try:
            if ucs2_every and did is not None and did % ucs2_every == 2:
                pdf = make_ucs2_pdf(
                    lines, _UCS2_CMAP_NAMES[(did // ucs2_every) % 4]
                )
            elif cid_every and did is not None and did % cid_every == 1:
                pdf = make_cid_pdf(lines)
            else:
                pdf = make_simple_pdf(lines)
            if encrypt_every and did is not None \
                    and did % encrypt_every == 0:
                fid = hashlib.md5(str(did).encode()).digest()
                cycle = (did // encrypt_every) % 3
                if cycle == 0:
                    pdf = encrypt_pdf_rc4(pdf, file_id=fid)
                elif cycle == 1:
                    pdf = encrypt_pdf_aes(pdf, file_id=fid)
                else:
                    pdf = encrypt_pdf_aes256(pdf, file_id=aes256_fid)
        except Exception:
            # writer failure → null payload → pdf_extract emits a
            # row-level error, never a job failure
            pdf = None
        return [(pdf,)]

    pruned = docs.select(
        F.col(id_col).cast("bigint").alias("doc_id"),
        F.col(text_col).alias("text"),
    )
    return row_stage(pruned, rows, [("pdf", pa.binary())])
