"""Payload transform kernels: HTTP chunked-transfer decode + content decoding.

Whole-cell (batch) re-expressions of the reference's streaming readers; the
fallback rules are preserved exactly so extracted text is byte-identical:

- gzip member decompress via zlib wbits 16+MAX_WBITS
  (warcio/bufferedreaders.py:9-13)
- deflate with raw-deflate retry on first-byte failure; "not actually
  compressed" passthrough on first-byte failure for gzip
  (warcio/bufferedreaders.py:16-21,134-150)
- chunked decode: any malformed length header / missing chunk terminator =>
  treat decoded-so-far + remainder as non-chunked; data cut off mid-chunk =>
  keep partial chunk and stop (warcio/bufferedreaders.py:277-376)
- content_stream() composition: dechunk if Transfer-Encoding: chunked, then
  content-decode only for supported encodings (warcio/recordloader.py:27-44)
- content-encoding gzip stops at the first gzip member (the buffered reader
  never advances members for content decoding)
"""

from __future__ import annotations

import zlib

try:  # optional, mirrors reference's optional brotli support
    import brotli  # type: ignore

    _HAS_BROTLI = True
except ImportError:  # pragma: no cover
    _HAS_BROTLI = False

_MAX_CHUNK_HEADER = 64


def supported_encodings():
    base = {"gzip", "deflate", "deflate_alt"}
    if _HAS_BROTLI:
        base.add("br")
    return base


def _inflate_blocks(data: bytes, wbits: int):
    """Block-fed inflate of one stream.

    Returns (decoded, consumed_all):
    - failure after partial decode -> partial output (reference emits b'' for
      the failing block and stops reading), consumed_all=False
    - failure before any byte decoded -> (None, _) so the caller can apply
      the not-actually-compressed / raw-deflate fallbacks
    - trailing unused_data (second member) -> consumed_all=False: the
      reference reader never advances members for content decoding.
    """
    d = zlib.decompressobj(wbits)
    out = bytearray()
    block = 16384
    for i in range(0, len(data), block):
        try:
            out += d.decompress(data[i : i + block])
        except zlib.error:
            if not out:
                return None, False
            return bytes(out), False
        if d.unused_data:
            return bytes(out), False
    return bytes(out), True


def decode_content_ex(data: bytes, encoding: str):
    """Decompress per Content-Encoding with warcio fallback rules.

    Returns (decoded, raw_fully_consumed). ``raw_fully_consumed`` mirrors
    whether the reference's content_stream().read() would have drained the
    underlying record stream — which gates digest verification
    (warcio/digestverifyingreader.py:96-106 fires only at limit==0).
    """
    if not data or not encoding:
        return data, True
    encoding = encoding.lower()
    if encoding == "gzip":
        out, consumed = _inflate_blocks(data, 16 + zlib.MAX_WBITS)
        return (data, True) if out is None else (out, consumed)
    elif encoding == "deflate":
        out, consumed = _inflate_blocks(data, zlib.MAX_WBITS)
        if out is None:
            out, consumed = _inflate_blocks(data, -zlib.MAX_WBITS)
        return (data, True) if out is None else (out, consumed)
    elif encoding == "deflate_alt":
        out, consumed = _inflate_blocks(data, -zlib.MAX_WBITS)
        return (data, True) if out is None else (out, consumed)
    elif encoding == "br" and _HAS_BROTLI:
        return brotli.decompress(data), True
    return data, True


def decode_content(data: bytes, encoding: str) -> bytes:
    return decode_content_ex(data, encoding)[0]


def dechunk_ex(data: bytes):
    """HTTP/1.1 chunked-transfer decode of a full body.

    Returns (decoded, was_chunked, raw_fully_consumed). Fallbacks mirror the
    reference: every malformed-header / bad-terminator path degrades to
    decoded-so-far + raw remainder with was_chunked=False; running out of
    data mid-chunk keeps the partial chunk. ``raw_fully_consumed`` is False
    when trailing bytes after the final 0-chunk stay unread.
    """
    out = bytearray()
    pos = 0
    n = len(data)
    while pos < n:
        nl = data.find(b"\n", pos, pos + _MAX_CHUNK_HEADER)
        header = data[pos : nl + 1] if nl != -1 else data[pos : pos + _MAX_CHUNK_HEADER]
        try:
            if header[-2:] != b"\r\n":
                raise ValueError
            size = int(header[:-2].split(b";")[0], 16)
            if size > 2**31:
                raise ValueError
        except ValueError:
            return bytes(out) + data[pos:], False, True
        body_start = pos + len(header)
        if size == 0:
            # final chunk: must be followed by exactly \r\n
            if data[body_start : body_start + 2] != b"\r\n":
                return bytes(out) + data[pos:], False, True
            return bytes(out), True, body_start + 2 >= n
        avail = n - body_start
        if avail < size:
            # cut off mid-chunk: keep what's there, stop
            out += data[body_start:]
            return bytes(out), True, True
        chunk_end = body_start + size
        if data[chunk_end : chunk_end + 2] != b"\r\n":
            return bytes(out) + data[pos:], False, True
        out += data[body_start:chunk_end]
        pos = chunk_end + 2
    return bytes(out), True, True


def extract_content_ex(body: bytes, content_encoding, transfer_encoding):
    """The reference's content_stream() as one function over a full body.

    Returns (content, raw_fully_consumed) — the latter mirrors whether a
    full content read would have drained the raw record stream, which is
    what gates lazy digest verification in the reference.
    """
    if body is None:
        return body, True
    encoding = (content_encoding or "").lower() or None
    if encoding and encoding not in supported_encodings():
        encoding = None
    if transfer_encoding == "chunked":
        data, was_chunked, consumed = dechunk_ex(body)
        if encoding:
            data, dec_consumed = decode_content_ex(data, encoding)
            if was_chunked:
                # chunk loop keeps draining raw regardless of decompressor
                dec_consumed = True
            consumed = consumed and dec_consumed
        return data, consumed
    if encoding:
        return decode_content_ex(body, encoding)
    return body, True


def extract_content(body: bytes, content_encoding, transfer_encoding) -> bytes:
    return extract_content_ex(body, content_encoding, transfer_encoding)[0]


def gzip_member_compress(data: bytes) -> bytes:
    """Compress bytes as one gzip member, level 9 (warcio/warcwriter.py:113-127)."""
    c = zlib.compressobj(9, zlib.DEFLATED, zlib.MAX_WBITS + 16)
    return c.compress(data) + c.flush()


def split_gzip_members(data: bytes):
    """Split a multi-member gzip blob into (offset, comp_len, decoded) tuples.

    Each member is independently decompressible — the property that makes
    .warc.gz splittable (enforced at warcio/archiveiterator.py:35-48).
    A truncated trailing member is returned with whatever decoded.
    """
    members = []
    n = len(data)
    mv = memoryview(data)
    pos = 0              # next unread byte of data
    member_start = 0     # absolute offset of the current member
    carry = b""          # bytes read past the previous member's end
    chunk_size = 1 << 20  # bounded feeds: keeps unused_data copies O(chunk),
    # not O(remaining) — slicing the whole tail per member is O(n^2) on a
    # multi-thousand-member archive

    while carry or pos < n:
        d = zlib.decompressobj(16 + zlib.MAX_WBITS)
        out = []
        fed = 0
        try:
            if carry:
                fed += len(carry)
                out.append(d.decompress(carry))
            while not d.eof and pos < n:
                chunk = mv[pos : pos + chunk_size]
                pos += len(chunk)
                fed += len(chunk)
                out.append(d.decompress(chunk))
        except zlib.error:
            # corrupt member: mirror the reader's "stop decoding" behavior
            # (warcio/bufferedreaders.py:134-150)
            break
        decoded = b"".join(out)
        if not d.eof:
            # truncated trailing member: keep whatever decoded
            if decoded:
                members.append((member_start, n - member_start, decoded))
            break
        rest = d.unused_data
        comp_len = fed - len(rest)
        members.append((member_start, comp_len, decoded))
        member_start += comp_len
        carry = rest
    return members


def is_gzip(data: bytes) -> bool:
    return len(data) >= 2 and data[0] == 0x1F and data[1] == 0x8B
