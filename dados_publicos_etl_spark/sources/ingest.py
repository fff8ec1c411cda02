"""Driver-side ingest utilities (reference S1-S3).

The reference scrapes an index page for a zip link, streams the
download, unzips in memory, and transcodes ISO-8859-1 -> UTF-8 before
landing the CSV in object storage
(/root/reference/src/utils/scraping.py:23-91).  Ingest is inherently
driver-side (zip is not splittable; one small file) — the engine keeps
it as a thin utility that LANDS bytes onto storage, and everything
after that is distributed Spark.

Network access is optional: ``http_fetch`` gates on ``requests`` and
is a no-op offline; the zip/transcode path is pure stdlib and fully
tested offline.
"""

from __future__ import annotations

import io
import zipfile

from dados_publicos_etl_spark.io import put_file


def http_fetch(url: str, chunk_size: int = 8192) -> bytes:
    """Streamed HTTP download into memory (reference scraping.py:51-61).

    Gated on ``requests`` being importable; raises RuntimeError with a
    clear message otherwise (this container is offline).
    """
    try:
        import requests  # type: ignore
    except ImportError as exc:  # pragma: no cover
        raise RuntimeError(
            "http_fetch requires the 'requests' package and network "
            "access; land files manually and use extract_zip_member"
        ) from exc
    buf = io.BytesIO()
    with requests.get(url, stream=True, timeout=60) as resp:
        resp.raise_for_status()
        for chunk in resp.iter_content(chunk_size=chunk_size):
            buf.write(chunk)
    return buf.getvalue()


def find_link(html: str, filename: str) -> str | None:
    """Minimal anchor scan for href="...<filename>" (reference
    scraping.py:33-44 uses BeautifulSoup; an href match needs no
    parser dependency)."""
    import re

    m = re.search(r'href="([^"]*%s)"' % re.escape(filename), html)
    return m.group(1) if m else None


def extract_zip_member(
    payload: bytes,
    member: str | None = None,
    src_encoding: str = "iso-8859-1",
    dst_encoding: str = "utf-8",
) -> bytes:
    """Open a zip from bytes, read one member (first by default), and
    transcode charset (reference scraping.py:63-89: latin-1 government
    CSVs re-encoded UTF-8)."""
    with zipfile.ZipFile(io.BytesIO(payload)) as zf:
        names = zf.namelist()
        if not names:
            raise ValueError("empty zip archive")
        name = member or names[0]
        raw = zf.read(name)
    return raw.decode(src_encoding).encode(dst_encoding)


def land_file(content: bytes, dest_path: str) -> str:
    """Write ingested bytes to the raw layer at any Hadoop URI, in one
    atomic put (``io.put_file``); returns the path for spark.read."""
    put_file(dest_path, content)
    return dest_path
