"""RoaringBitmap (de)serialization + Delta deletion vectors — pure Python.

Delta Lake's row-level deletes ship as **deletion vectors**: per-file
bitmaps of dead row indexes, referenced from ``add`` actions by a
``deletionVector`` descriptor (delta.io PROTOCOL.md §Deletion Vectors).
The bitmap bytes are a **RoaringBitmapArray** — Delta's 64-bit layout
over the standard 32-bit Roaring portable serialization
(github.com/RoaringBitmap/RoaringFormatSpec):

32-bit portable format, implemented exactly:
- cookie u32 LE: ``12346`` (SERIAL_COOKIE_NO_RUNCONTAINER, followed by a
  u32 container count) or ``12347`` (SERIAL_COOKIE: container count - 1
  in the high 16 bits, then a run-container bitset of
  ``(n_containers + 7) // 8`` bytes)
- descriptive headers: per container, u16 key (value >> 16) and
  u16 cardinality - 1
- an offset header (u32 per container) when cookie == 12346 or
  n_containers >= 4 (NO_OFFSET_THRESHOLD)
- containers: **array** (cardinality <= 4096: sorted u16s), **bitmap**
  (8 KiB, 65536 bits), or **run** (u16 n_runs, then (start, length-1)
  u16 pairs)

Delta's RoaringBitmapArray "portable" format on top:
- i64 LE: number of 32-bit bitmaps
- per bitmap: u32 LE key (value >> 32) + the 32-bit portable bytes,
  keys ascending

and the DV FILE layout (storageType "u"/"p"): a 1-byte format version
(1), then per vector: i32 BE size, u32 LE magic ``1681511377``, the
RoaringBitmapArray bytes, i32 BE CRC-32 checksum of (magic + bitmap
bytes). storageType "i" inlines base85(z85)-encoded bytes in the JSON
action itself.

The encoder here picks array vs bitmap vs run containers by size (the
reference implementations' rule) so round-trips cover all three; the
decoder accepts anything spec-legal. Tests pin hand-derived byte
layouts straight from the format spec, plus encode→decode identity over
hypothesis-generated sets.
"""

from __future__ import annotations

import struct
import zlib

SERIAL_COOKIE_NO_RUN = 12346
SERIAL_COOKIE = 12347
_NO_OFFSET_THRESHOLD = 4
DV_MAGIC = 1681511377


# ---------------------------------------------------------------------------
# 32-bit roaring, portable serialization
# ---------------------------------------------------------------------------


def serialize_roaring32(values) -> bytes:
    """Serialize a set/iterable of u32 values (portable format)."""
    containers: dict[int, list[int]] = {}
    for v in values:
        if not 0 <= v < 1 << 32:
            raise ValueError(f"not a u32: {v}")
        containers.setdefault(v >> 16, []).append(v & 0xFFFF)
    keys = sorted(containers)
    bodies: list[bytes] = []
    runflags: list[bool] = []
    for k in keys:
        vals = sorted(set(containers[k]))
        containers[k] = vals
        # run-length encode to choose the smallest representation
        runs: list[tuple[int, int]] = []
        for v in vals:
            if runs and v == runs[-1][0] + runs[-1][1]:
                runs[-1] = (runs[-1][0], runs[-1][1] + 1)
            else:
                runs.append((v, 1))
        run_size = 2 + 4 * len(runs)
        arr_size = 2 * len(vals)
        if run_size < min(arr_size, 8192):
            body = struct.pack("<H", len(runs)) + b"".join(
                struct.pack("<HH", s, ln - 1) for s, ln in runs
            )
            runflags.append(True)
        elif len(vals) <= 4096:
            body = b"".join(struct.pack("<H", v) for v in vals)
            runflags.append(False)
        else:
            bits = bytearray(8192)
            for v in vals:
                bits[v >> 3] |= 1 << (v & 7)
            body = bytes(bits)
            runflags.append(False)
        bodies.append(body)

    n = len(keys)
    out = bytearray()
    has_runs = any(runflags)
    if has_runs:
        out += struct.pack("<I", SERIAL_COOKIE | ((n - 1) << 16))
        bitset = bytearray((n + 7) // 8)
        for i, f in enumerate(runflags):
            if f:
                bitset[i >> 3] |= 1 << (i & 7)
        out += bytes(bitset)
    else:
        out += struct.pack("<I", SERIAL_COOKIE_NO_RUN)
        out += struct.pack("<I", n)
    for k, body in zip(keys, bodies):
        out += struct.pack("<HH", k, len(containers[k]) - 1)
    if not has_runs or n >= _NO_OFFSET_THRESHOLD:
        # offset header: byte position of each container from the start
        pos = len(out) + 4 * n
        for body in bodies:
            out += struct.pack("<I", pos)
            pos += len(body)
    for body in bodies:
        out += body
    return bytes(out)


def deserialize_roaring32(buf: bytes, pos: int = 0) -> tuple[set[int], int]:
    """Decode one portable 32-bit bitmap; returns (values, end position)."""
    (cookie,) = struct.unpack_from("<I", buf, pos)
    pos += 4
    if (cookie & 0xFFFF) == SERIAL_COOKIE:
        n = (cookie >> 16) + 1
        bitset = buf[pos : pos + (n + 7) // 8]
        pos += (n + 7) // 8
        is_run = [bool(bitset[i >> 3] & (1 << (i & 7))) for i in range(n)]
        has_offsets = n >= _NO_OFFSET_THRESHOLD
    elif cookie == SERIAL_COOKIE_NO_RUN:
        (n,) = struct.unpack_from("<I", buf, pos)
        pos += 4
        is_run = [False] * n
        has_offsets = True
    else:
        raise ValueError(f"not a portable roaring bitmap (cookie={cookie})")
    headers = []
    for _ in range(n):
        k, cm1 = struct.unpack_from("<HH", buf, pos)
        pos += 4
        headers.append((k, cm1 + 1))
    if has_offsets:
        pos += 4 * n  # offsets are redundant for a sequential reader
    out: set[int] = set()
    for (k, card), run in zip(headers, is_run):
        base = k << 16
        if run:
            (n_runs,) = struct.unpack_from("<H", buf, pos)
            pos += 2
            for _ in range(n_runs):
                s, lm1 = struct.unpack_from("<HH", buf, pos)
                pos += 4
                out.update(range(base + s, base + s + lm1 + 1))
        elif card <= 4096:
            for _ in range(card):
                (v,) = struct.unpack_from("<H", buf, pos)
                pos += 2
                out.add(base + v)
        else:
            chunk = buf[pos : pos + 8192]
            pos += 8192
            for byte_i, b in enumerate(chunk):
                while b:
                    low = b & -b
                    out.add(base + (byte_i << 3) + low.bit_length() - 1)
                    b ^= low
    return out, pos


# ---------------------------------------------------------------------------
# Delta's 64-bit RoaringBitmapArray ("portable" format)
# ---------------------------------------------------------------------------


def serialize_rbm_array(values) -> bytes:
    buckets: dict[int, set[int]] = {}
    for v in values:
        if not 0 <= v < 1 << 64:
            raise ValueError(f"not a u64: {v}")
        buckets.setdefault(v >> 32, set()).add(v & 0xFFFFFFFF)
    out = bytearray(struct.pack("<q", len(buckets)))
    for k in sorted(buckets):
        out += struct.pack("<I", k)
        out += serialize_roaring32(buckets[k])
    return bytes(out)


def deserialize_rbm_array(buf: bytes) -> set[int]:
    (n,) = struct.unpack_from("<q", buf, 0)
    pos = 8
    out: set[int] = set()
    for _ in range(n):
        (k,) = struct.unpack_from("<I", buf, pos)
        pos += 4
        vals, pos = deserialize_roaring32(buf, pos)
        out.update((k << 32) | v for v in vals)
    if pos != len(buf):
        raise ValueError(
            f"trailing bytes after bitmap array: {pos} != {len(buf)}"
        )
    return out


# ---------------------------------------------------------------------------
# deletion-vector blob: magic + bitmap + CRC, and the on-disk file layout
# ---------------------------------------------------------------------------


def encode_dv_blob(positions) -> bytes:
    """size-prefixed DV payload: i32 BE size, u32 LE magic, bitmap bytes,
    i32 BE CRC-32 of (magic + bitmap)."""
    body = struct.pack("<I", DV_MAGIC) + serialize_rbm_array(positions)
    return (
        struct.pack(">i", len(body))
        + body
        + struct.pack(">I", zlib.crc32(body))
    )


def decode_dv_blob(buf: bytes, offset: int = 0) -> set[int]:
    (size,) = struct.unpack_from(">i", buf, offset)
    body = buf[offset + 4 : offset + 4 + size]
    (magic,) = struct.unpack_from("<I", body, 0)
    if magic != DV_MAGIC:
        raise ValueError(f"bad deletion-vector magic {magic}")
    (crc,) = struct.unpack_from(">I", buf, offset + 4 + size)
    actual = zlib.crc32(body)
    if crc != actual:
        raise ValueError(f"deletion-vector CRC mismatch: {actual} != {crc}")
    return deserialize_rbm_array(body[4:])


def read_blob(path: str, offset: int, length: int | None) -> set[int]:
    """Decode the framed vector at ``offset`` of ``path`` (an Iceberg
    Puffin ``deletion-vector-v1`` blob): ``length`` bytes, or the rest of
    the file when the length is unknown. The frame carries its own size,
    magic and CRC, so ``length`` only bounds the read."""
    with open(path, "rb") as fh:
        fh.seek(int(offset))
        buf = fh.read(int(length)) if length and int(length) > 0 else fh.read()
    return decode_dv_blob(buf, 0)


def write_dv_file(path: str, positions) -> tuple[int, int]:
    """Write a single-vector DV file (format version 1); returns
    (offset, sizeInBytes) for the add action's descriptor — size is the
    DATA size (magic + bitmap), the checksum excluded, per protocol."""
    blob = encode_dv_blob(positions)
    with open(path, "wb") as fh:
        fh.write(b"\x01")
        fh.write(blob)
    return 1, struct.unpack_from(">i", blob, 0)[0]


def read_dv_file(path: str, offset: int) -> set[int]:
    with open(path, "rb") as fh:
        buf = fh.read()
    if buf[0] != 1:
        raise ValueError(f"unsupported deletion-vector file version {buf[0]}")
    return decode_dv_blob(buf, offset)


# ---------------------------------------------------------------------------
# z85 (base85) — the encoding deletionVector descriptors use for inline
# payloads and UUID path suffixes (the ZeroMQ Z85 alphabet, RFC-free but
# published as ZMQ RFC 32 and referenced by PROTOCOL.md)
# ---------------------------------------------------------------------------

_Z85_ALPHABET = (
    "0123456789abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"
    ".-:+=^!/*?&<>()[]{}@%$#"
)
_Z85_DECODE = {c: i for i, c in enumerate(_Z85_ALPHABET)}


def z85_encode(raw: bytes) -> str:
    if len(raw) % 4:
        raise ValueError("z85 input must be a multiple of 4 bytes")
    out = []
    for i in range(0, len(raw), 4):
        (n,) = struct.unpack(">I", raw[i : i + 4])
        chunk = []
        for _ in range(5):
            chunk.append(_Z85_ALPHABET[n % 85])
            n //= 85
        out.extend(reversed(chunk))
    return "".join(out)


def z85_decode(text: str) -> bytes:
    if len(text) % 5:
        raise ValueError("z85 input must be a multiple of 5 chars")
    out = bytearray()
    for i in range(0, len(text), 5):
        n = 0
        for c in text[i : i + 5]:
            n = n * 85 + _Z85_DECODE[c]
        out += struct.pack(">I", n)
    return bytes(out)


# ---------------------------------------------------------------------------
# deletionVector descriptor resolution (PROTOCOL.md §Deletion Vector
# Descriptor Schema): storageType "u" (uuid file under the table),
# "p" (absolute path), "i" (inline z85 payload)
# ---------------------------------------------------------------------------


def dv_positions(descriptor: dict, table_path: str) -> set[int]:
    """Dead row indexes named by an ``add`` action's deletionVector."""
    st = descriptor["storageType"]
    payload = descriptor["pathOrInlineDv"]
    if st == "i":
        # inline: z85 of the DATA (magic + bitmap array), no file framing
        return deserialize_rbm_array(_strip_magic(z85_decode(payload)))
    if st == "p":
        return read_dv_file(payload, int(descriptor.get("offset") or 1))
    if st == "u":
        import os as _os
        import uuid as _uuid

        suffix = payload[-20:]  # z85 of the 16-byte uuid
        prefix = payload[:-20]
        u = _uuid.UUID(bytes=z85_decode(suffix))
        name = f"deletion_vector_{u}.bin"
        path = _os.path.join(table_path, prefix, name) if prefix else (
            _os.path.join(table_path, name)
        )
        return read_dv_file(path, int(descriptor.get("offset") or 1))
    raise ValueError(f"unknown deletionVector storageType {st!r}")


def _strip_magic(body: bytes) -> bytes:
    (magic,) = struct.unpack_from("<I", body, 0)
    if magic != DV_MAGIC:
        raise ValueError(f"bad inline deletion-vector magic {magic}")
    return body[4:]
