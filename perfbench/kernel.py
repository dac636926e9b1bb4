"""Driver-side use of the extraction kernel: the correctness oracle and
the one-core layer timings.

The oracle runs ``extract_one.extract_document`` on every generated row
(in the driver, outside every timed section) and hashes the texts
exactly as ``lineage.global_md5`` does, so a Spark run's output can be
compared per url and as one md5.
"""

from __future__ import annotations

import hashlib
import time
from collections.abc import Iterable

from ocr_document_recognition_service_spark import (
    charsets,
    extract_one,
    html_extract,
    pdf_extract,
)
from ocr_document_recognition_service_spark.lineage import SEP
from ocr_document_recognition_service_spark.pipeline import (
    DEFAULT_CHUNK_TARGET,
    DEFAULT_SALT_THRESHOLD,
)

SAMPLE_ROWS = 300  # fixed row sample for the one-core layer timings


def oracle(rows: Iterable[dict]) -> dict[str, tuple[str | None, str | None]]:
    """url -> (text, error) from the pure-Python kernel."""
    out = {}
    for r in rows:
        res = extract_one.extract_document(r["html"], r["lang"])
        out[r["url"]] = (res.text, res.error)
    return out


def texts_md5(texts: dict[str, str | None]) -> str:
    """``lineage.global_md5`` over a url -> text mapping."""
    joined = SEP.join(
        "\x00<null>" if texts[u] is None else texts[u] for u in sorted(texts)
    )
    return hashlib.md5(joined.encode("utf-8")).hexdigest()


def text_md5(text: str | None) -> str | None:
    """Spark's ``md5(text)`` of one extracted text (null stays null)."""
    return None if text is None else hashlib.md5(text.encode("utf-8")).hexdigest()


def compare(want: dict[str, str | None], got: dict[str, str | None]) -> int:
    """Number of urls whose value differs between the oracle and the
    output (a missing or extra url counts as a difference)."""
    bad = sum(1 for u, v in want.items() if u not in got or got[u] != v)
    return bad + sum(1 for u in got if u not in want)


def _is_salted(payload: bytes | None, lang: str | None) -> bool:
    return (
        payload is not None
        and DEFAULT_SALT_THRESHOLD < len(payload) <= extract_one.MAX_PAYLOAD_BYTES
        and not pdf_extract.is_pdf(payload)
        and lang in charsets.LANGS
    )


def layer_timings(rows: list[dict]) -> dict[str, float]:
    """One-core timings of the kernel's public functions on a row sample
    (the first ``SAMPLE_ROWS`` generated rows)."""
    m = dict.fromkeys(
        ("extract_one.docs", "extract_one.errors", "extract_one.split_docs",
         "extract_one.split_s", "html_extract.decode_s",
         "html_extract.blocks_s", "pdf_extract.docs", "pdf_extract.extract_s",
         "charsets.normalize_s", "charsets.detect_s"), 0.0)
    kernel_s = 0.0
    for r in rows:
        payload, lang = r["html"], r["lang"]
        t0 = time.perf_counter()
        res = extract_one.extract_document(payload, lang)
        kernel_s += time.perf_counter() - t0
        m["extract_one.docs"] += 1
        m["extract_one.errors"] += res.error is not None
        if _is_salted(payload, lang):
            t0 = time.perf_counter()
            extract_one.extract_document_split(payload, lang, DEFAULT_CHUNK_TARGET)
            m["extract_one.split_s"] += time.perf_counter() - t0
            m["extract_one.split_docs"] += 1
        if not payload:
            continue
        if pdf_extract.is_pdf(payload):
            t0 = time.perf_counter()
            blocks = pdf_extract.extract_pdf_text(payload)
            m["pdf_extract.extract_s"] += time.perf_counter() - t0
            m["pdf_extract.docs"] += 1
        else:
            t0 = time.perf_counter()
            text = html_extract.sniff_decode(payload)
            t1 = time.perf_counter()
            blocks = html_extract.extract_html_text(text)
            m["html_extract.decode_s"] += t1 - t0
            m["html_extract.blocks_s"] += time.perf_counter() - t1
        joined = " ".join(b for b in blocks if b)
        t0 = time.perf_counter()
        vote = charsets.detect_language(joined)
        t1 = time.perf_counter()
        charsets.normalize_text(joined, lang or vote)
        m["charsets.detect_s"] += t1 - t0
        m["charsets.normalize_s"] += time.perf_counter() - t1
    m["extract_one.docs_per_core_s"] = m["extract_one.docs"] / kernel_s
    return m
