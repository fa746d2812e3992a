"""RIFF framing, shared by the WAVE, AVI and WebP codecs.

A RIFF file is ``b"RIFF"``, a little-endian u32 size, a four-byte form
type (``WAVE``, ``AVI ``, ``WEBP``) and then chunks: a fourcc, a u32
body size, the body, and one pad byte after an odd-sized body.  A
``LIST`` chunk's body is a four-byte list type followed by chunks.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator


def form(buf: bytes) -> bytes | None:
    """The form type of a RIFF file, or None when ``buf`` is not one."""
    return buf[8:12] if buf[:4] == b"RIFF" else None


def chunks(
    buf: bytes, start: int = 0, end: int | None = None
) -> Iterator[tuple[bytes, bytes, bool]]:
    """Walk the chunks in ``buf[start:end]``, yielding ``(fourcc, body,
    cut)`` for each.  The body never runs past ``end`` or the buffer: a
    chunk whose declared size does is yielded with the bytes that exist
    and ``cut`` True, and ends the walk.  Trailing bytes too short for a
    chunk header are ignored."""
    end = len(buf) if end is None else min(end, len(buf))
    pos = start
    while pos + 8 <= end:
        (size,) = struct.unpack_from("<I", buf, pos + 4)
        stop = pos + 8 + size
        yield buf[pos : pos + 4], buf[pos + 8 : min(stop, end)], stop > end
        if stop > end:
            return
        pos = stop + (size & 1)


def top(buf: bytes) -> Iterator[tuple[bytes, bytes, bool]]:
    """The top-level chunks of a RIFF file, bounded by its declared
    size (see ``chunks``)."""
    return chunks(buf, 12, 8 + struct.unpack_from("<I", buf, 4)[0])


def chunk(fourcc: bytes, data: bytes) -> bytes:
    """One chunk: header, body and the pad byte an odd body needs."""
    pad = b"\x00" * (len(data) & 1)
    return fourcc + struct.pack("<I", len(data)) + data + pad


def file(form_type: bytes, body: bytes) -> bytes:
    """A RIFF file of ``form_type`` holding the chunks in ``body``."""
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + form_type + body
