"""WARC fixture writers for the tests (no warcio offline): well-formed
WARC/1.0 bytes from ``(url, iso_ts, html)`` triples."""

from __future__ import annotations


def make_warc_bytes(
    pages: list[tuple[str, str, str]], charset: str | None = None
) -> bytes:
    """Build a well-formed WARC/1.0 file (warcinfo + one response per
    page). Content-Length is computed over the exact payload bytes, as
    the spec requires. ``charset`` encodes bodies in a non-UTF-8
    charset and declares it in the HTTP Content-Type (the charset-aware
    decode fixture)."""
    return b"".join(make_warc_records(pages, charset))


def make_warc_records(
    pages: list[tuple[str, str, str]], charset: str | None = None
) -> list[bytes]:
    """The per-record byte blocks of ``make_warc_bytes`` (each
    including its leading ``WARC/1.0\\r\\n`` and trailing blank
    line) — gzip each separately for a Common-Crawl-style
    member-per-record ``.warc.gz`` fixture."""
    recs: list[bytes] = []

    def record(headers: list[tuple[str, str]], payload: bytes):
        out = bytearray(b"WARC/1.0\r\n")
        for k, v in headers + [("Content-Length", str(len(payload)))]:
            out.extend(f"{k}: {v}\r\n".encode())
        out.extend(b"\r\n")
        out.extend(payload)
        out.extend(b"\r\n\r\n")
        recs.append(bytes(out))

    record(
        [("WARC-Type", "warcinfo"), ("WARC-Date", "2017-01-01T00:00:00Z")],
        b"software: pii-spark-fixture\r\n",
    )
    ctype = "text/html" + (f"; charset={charset}" if charset else "")
    for url, ts, html in pages:
        body = html.encode(charset or "utf-8")
        http = (
            b"HTTP/1.1 200 OK\r\nContent-Type: " + ctype.encode() +
            b"\r\nContent-Length: " + str(len(body)).encode() + b"\r\n\r\n"
            + body
        )
        record(
            [
                ("WARC-Type", "response"),
                ("WARC-Target-URI", url),
                ("WARC-Date", ts),
            ],
            http,
        )
    return recs
