"""Production media decode engines (import-gated).

The sandbox ships no PyPDF2/pdf2image/pytesseract, so tests use the
DeterministicMediaStore (core/decode.py).  This module is the concrete
production plug: when the libraries exist on the executors, it decodes
real bytes with exactly the reference's constants —

- direct PDF text: PyPDF2, first 5 pages (/root/reference/app.py:416-430);
- rasterized OCR: pdf2image at dpi=100, pages 1-2, grayscale,
  thread_count=1 (app.py:786-793) + pytesseract per page;
- image OCR: PIL + pytesseract whole-image (app.py:809-812).

Page caps/headers/acceptance gate stay in core.decode — an engine only
returns raw per-page strings, so parity semantics are engine-independent
(SURVEY.md §4.3.6).  Use from an Arrow UDF with the Iterator
form so engine initialization amortizes per worker.
"""

from __future__ import annotations

import io

from ..core.decode import OcrEngine


def ocr_available() -> bool:
    try:
        import pdf2image  # noqa: F401
        import pypdf  # noqa: F401
        import pytesseract  # noqa: F401

        return True
    except ImportError:
        try:
            import PyPDF2  # noqa: F401
            import pdf2image  # noqa: F401
            import pytesseract  # noqa: F401

            return True
        except ImportError:
            return False


class TesseractEngine(OcrEngine):
    """Real decode over PDF/image bytes; requires poppler + tesseract
    system binaries plus the Python bindings (Dockerfile:4-9 in the
    reference lists the same system deps)."""

    DPI = 100  # app.py:788
    OCR_PAGES = (1, 2)  # app.py:789-790
    GRAYSCALE = True
    THREADS = 1

    def __init__(self) -> None:
        if not ocr_available():
            raise NotImplementedError(
                "TesseractEngine requires pypdf/PyPDF2 + pdf2image + "
                "pytesseract; this environment has none — use "
                "DeterministicMediaStore (tests) instead"
            )

    def pdf_direct_pages(self, blob: bytes) -> list[str]:
        try:
            from pypdf import PdfReader
        except ImportError:
            from PyPDF2 import PdfReader
        reader = PdfReader(io.BytesIO(blob))
        return [(page.extract_text() or "") for page in reader.pages]

    def pdf_ocr_pages(self, blob: bytes) -> list[str]:
        import pdf2image
        import pytesseract

        images = pdf2image.convert_from_bytes(
            blob,
            dpi=self.DPI,
            first_page=self.OCR_PAGES[0],
            last_page=self.OCR_PAGES[1],
            thread_count=self.THREADS,
            grayscale=self.GRAYSCALE,
        )
        return [pytesseract.image_to_string(img) for img in images]

    def image_text(self, blob: bytes) -> str:
        import pytesseract
        from PIL import Image

        return pytesseract.image_to_string(Image.open(io.BytesIO(blob)))
