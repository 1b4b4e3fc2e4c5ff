"""Minimal FlatBuffers wire-format codec (encoder + accessor), written
from the public FlatBuffers internals spec
(https://flatbuffers.dev/flatbuffers_internals.html) — just enough for
FlatGeobuf's Header/Feature tables: tables with scalar, string, vector
and table fields; size-prefixed roots.

Wire format recap (all little-endian):
- table: int32 soffset at the table position; vtable at pos - soffset
- vtable: uint16 vtable_bytes, uint16 table_bytes, uint16 field offsets
  (relative to the table position; 0 = absent)
- uoffset fields (string/vector/table): uint32 pointing FORWARD
- string: uint32 len, utf-8 bytes, NUL; vector: uint32 count, elements
- size-prefixed buffer: uint32 total size, uint32 root table uoffset

The builder grows back-to-front (prepend), tracking positions as
distance-from-buffer-end, exactly like the reference implementations.
"""

from __future__ import annotations

import struct


class Builder:
    """Back-to-front FlatBuffers builder. All create_*/end_* methods
    return the object's position as distance-from-end; ``finish``
    produces the final bytes."""

    def __init__(self) -> None:
        self._chunks: list[bytes] = []  # reverse order; joined in finish
        self._len = 0
        self.minalign = 1

    def _prepend(self, data: bytes) -> None:
        if data:
            self._chunks.append(bytes(data))
            self._len += len(data)

    def _align(self, size: int, extra: int = 0) -> None:
        """Pad so that after ``extra`` more bytes the buffer length is a
        multiple of ``size`` (distance-from-end alignment; finish() pads
        the front so absolute positions stay aligned too)."""
        if size > self.minalign:
            self.minalign = size
        pad = (-(self._len + extra)) % size
        if pad:
            self._prepend(b"\x00" * pad)

    # ---------------------------------------------------------- leaves

    def create_string(self, s: str) -> int:
        data = s.encode("utf-8") + b"\x00"
        self._align(4, len(data))
        self._prepend(data)
        self._prepend(struct.pack("<I", len(data) - 1))
        return self._len

    def create_scalar_vector(self, packed: bytes, count: int, elem_align: int) -> int:
        """Vector of scalars from pre-packed little-endian bytes."""
        self._align(4, len(packed) + 0)
        self._align(elem_align, len(packed))
        self._prepend(packed)
        self._prepend(struct.pack("<I", count))
        return self._len

    def create_offset_vector(self, offsets: list[int]) -> int:
        """Vector of uoffsets to already-built objects (positions as
        distance-from-end, listed in final element order)."""
        n = len(offsets)
        self._align(4, 4 * n)
        base = self._len + 4 * n
        body = b"".join(
            struct.pack("<I", (base - 4 * i) - t) for i, t in enumerate(offsets)
        )
        self._prepend(body)
        self._prepend(struct.pack("<I", n))
        return self._len

    # ---------------------------------------------------------- tables

    def start_table(self) -> None:
        self._fields: dict[int, tuple[str, object, int]] = {}

    def add_scalar(self, slot: int, fmt: str, value, default=None) -> None:
        if value is None or value == default:
            return
        self._fields[slot] = ("scalar", struct.pack(fmt, value), struct.calcsize(fmt))

    def add_offset(self, slot: int, pos: int | None) -> None:
        if pos is None:
            return
        self._fields[slot] = ("offset", pos, 4)

    def end_table(self) -> int:
        fields = self._fields
        del self._fields
        # inline layout: soffset (4 bytes) first, then fields placed
        # largest-first so each lands naturally aligned within the table
        order = sorted(fields, key=lambda s: (-fields[s][2], s))
        layout: dict[int, int] = {}
        pos = 4
        max_align = 4
        for slot in order:
            size = fields[slot][2]
            max_align = max(max_align, size)
            pos += (-pos) % size
            layout[slot] = pos
            pos += size
        inline = pos
        # place the table block (know its final distance before filling
        # offset fields, whose stored values depend on their location)
        self._align(max_align, inline)
        t_pos = self._len + inline  # distance-from-end of the table start
        block = bytearray(inline)
        for slot, (kind, val, size) in fields.items():
            o = layout[slot]
            if kind == "scalar":
                block[o : o + size] = val
            else:  # uoffset: (field location) - (target)
                block[o : o + 4] = struct.pack("<I", (t_pos - o) - val)
        # vtable
        n_slots = (max(fields) + 1) if fields else 0
        vt = struct.pack("<HH", 4 + 2 * n_slots, inline) + b"".join(
            struct.pack("<H", layout.get(i, 0)) for i in range(n_slots)
        )
        self._prepend(bytes(block))
        assert self._len == t_pos
        self._align(2, len(vt))
        self._prepend(vt)
        v_pos = self._len
        # patch the soffset (table -> vtable, signed, SUBTRACTED): find
        # the table chunk by walking chunk lengths back to distance t_pos
        soff = struct.pack("<i", v_pos - t_pos)
        acc = self._len
        for i in range(len(self._chunks) - 1, -1, -1):
            if acc == t_pos:
                c = bytearray(self._chunks[i])
                c[0:4] = soff
                self._chunks[i] = bytes(c)
                break
            acc -= len(self._chunks[i])
        else:  # pragma: no cover - structural invariant
            raise AssertionError("table block not found for soffset patch")
        return t_pos

    # ---------------------------------------------------------- finish

    def finish(self, root: int, size_prefixed: bool = True) -> bytes:
        self._align(self.minalign, 4 + (4 if size_prefixed else 0))
        self._prepend(struct.pack("<I", self._len + 4 - root))
        if size_prefixed:
            self._prepend(struct.pack("<I", self._len))
        return b"".join(reversed(self._chunks))


# ------------------------------------------------------------- accessor


def field_positions(buf, pos: int, n: int) -> list[int]:
    """Absolute positions of slots 0..n-1 of the table at ``pos`` (0 when
    a slot is absent), from one read of its vtable."""
    (soff,) = struct.unpack_from("<i", buf, pos)
    vt = pos - soff
    (vt_size,) = struct.unpack_from("<H", buf, vt)
    k = max(0, min(n, (vt_size - 4) // 2))
    return [pos + o if o else 0 for o in struct.unpack_from(f"<{k}H", buf, vt + 4)] + [0] * (n - k)


def vector_at(buf, p: int) -> tuple[int, int]:
    """The vector whose offset field sits at ``p`` (0: absent) -> (elements
    start, count); (0, 0) if absent."""
    if not p:
        return 0, 0
    t = p + struct.unpack_from("<I", buf, p)[0]
    return t + 4, struct.unpack_from("<I", buf, t)[0]


class Table:
    """Read-side accessor over a (memoryview of a) flatbuffer."""

    __slots__ = ("buf", "pos")

    def __init__(self, buf, pos: int):
        self.buf = buf
        self.pos = pos

    @classmethod
    def root(cls, buf, base: int = 0) -> "Table":
        (o,) = struct.unpack_from("<I", buf, base)
        return cls(buf, base + o)

    def _field(self, slot: int) -> int | None:
        return field_positions(self.buf, self.pos, slot + 1)[slot] or None

    def scalar(self, slot: int, fmt: str, default=None):
        p = self._field(slot)
        return default if p is None else struct.unpack_from(fmt, self.buf, p)[0]

    def _indirect(self, slot: int) -> int | None:
        p = self._field(slot)
        if p is None:
            return None
        return p + struct.unpack_from("<I", self.buf, p)[0]

    def string(self, slot: int) -> str | None:
        t = self._indirect(slot)
        if t is None:
            return None
        (n,) = struct.unpack_from("<I", self.buf, t)
        return bytes(self.buf[t + 4 : t + 4 + n]).decode("utf-8")

    def vector(self, slot: int) -> tuple[int, int]:
        """-> (elements start, count); (0, 0) if absent."""
        return vector_at(self.buf, self._field(slot) or 0)

    def scalar_vector(self, slot: int, fmt_char: str) -> list:
        start, n = self.vector(slot)
        if n == 0:
            return []
        return list(struct.unpack_from(f"<{n}{fmt_char}", self.buf, start))

    def table_vector(self, slot: int) -> list["Table"]:
        start, n = self.vector(slot)
        out = []
        for i in range(n):
            p = start + 4 * i
            out.append(Table(self.buf, p + struct.unpack_from("<I", self.buf, p)[0]))
        return out
