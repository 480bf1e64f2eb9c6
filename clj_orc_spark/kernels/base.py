"""Codec kernel framework: section packing, dtype bookkeeping, registry.

Every codec is a pair ``encode(column) -> (payload: bytes, meta: dict)`` /
``decode(payload, meta) -> column`` with the invariant
``decode(*encode(x)) == x`` **bit-identical** — the engine's analog of the
reference's round-trip fixture semantics (reference
`test/orc/fixture.clj:38-58` writes known columns, `test/orc/read_test.clj:33-39`
asserts exact per-row equality on read-back).

The codec registry dict is the direct analog of the reference's type-keyed
deserializer dispatch table (`src/orc/col.clj:155-174`), except our kernels are
whole-column numpy ops rather than per-cell interpreted fn dispatch
(`src/orc/core.clj:28-32`).

Column representations at the kernel boundary:

* integer columns: ``np.ndarray`` of any int dtype (or bool);
* string/binary columns: ``StringCol(data: bytes, offsets: np.int64[n+1])`` —
  exactly the offsets+values layout of ORC's ``ListColumnVector`` /
  ``BytesColumnVector`` that the reference slices per row
  (`src/orc/col.clj:110-121`) and of Arrow's variable-width arrays.

``meta`` must be JSON-serializable (it is persisted in the manifest sidecar).
Binary sub-streams never go in ``meta``; they are concatenated into the payload
as *sections* whose byte lengths are recorded in ``meta["sections"]``.
"""

from __future__ import annotations

import zlib
from dataclasses import dataclass

import numpy as np

INT_DTYPES = {
    "int8": np.int8,
    "int16": np.int16,
    "int32": np.int32,
    "int64": np.int64,
    "uint8": np.uint8,
    "uint16": np.uint16,
    "uint32": np.uint32,
    "uint64": np.uint64,
    "bool": np.bool_,
}


@dataclass(frozen=True)
class StringCol:
    """Variable-width column: concatenated UTF-8/binary + int64 offsets.

    ``offsets`` has ``n + 1`` entries; row ``i`` is
    ``data[offsets[i]:offsets[i+1]]`` — the reference's own physical layout for
    byte/list vectors (`src/orc/col.clj:100-102,114-116`).
    """

    data: bytes
    offsets: np.ndarray  # int64, len n+1

    @property
    def n(self) -> int:
        return len(self.offsets) - 1

    def row(self, i: int) -> bytes:
        return self.data[self.offsets[i] : self.offsets[i + 1]]

    def to_list(self) -> list[bytes]:
        o = self.offsets
        d = self.data
        return [bytes(d[o[i] : o[i + 1]]) for i in range(self.n)]

    @staticmethod
    def from_list(items: list[bytes]) -> "StringCol":
        offsets = np.zeros(len(items) + 1, dtype=np.int64)
        if items:
            np.cumsum([len(b) for b in items], out=offsets[1:])
        return StringCol(b"".join(items), offsets)

    @staticmethod
    def from_arrow(arr) -> "StringCol":
        """Zero-ish-copy conversion from a pyarrow String/Binary array."""
        import pyarrow as pa

        if arr.null_count:
            raise ValueError("null strings unsupported (input_hint: non-null)")
        arr = arr.combine_chunks() if isinstance(arr, pa.ChunkedArray) else arr
        if pa.types.is_large_string(arr.type) or pa.types.is_large_binary(arr.type):
            off_dtype = np.int64
        else:
            off_dtype = np.int32
        buffers = arr.buffers()
        offsets = np.frombuffer(
            buffers[1], dtype=off_dtype, count=len(arr) + 1, offset=arr.offset * np.dtype(off_dtype).itemsize
        ).astype(np.int64)
        data_buf = buffers[2] if buffers[2] is not None else b""
        lo, hi = int(offsets[0]), int(offsets[-1])
        data = bytes(memoryview(data_buf)[lo:hi]) if len(data_buf) else b""
        return StringCol(data, offsets - lo)

    def to_arrow(self):
        import pyarrow as pa

        if self.offsets[-1] <= np.iinfo(np.int32).max:
            return pa.Array.from_buffers(
                pa.string(),
                self.n,
                [None, pa.py_buffer(self.offsets.astype(np.int32).tobytes()), pa.py_buffer(self.data)],
            )
        return pa.Array.from_buffers(
            pa.large_string(),
            self.n,
            [None, pa.py_buffer(self.offsets.tobytes()), pa.py_buffer(self.data)],
        )

    def __eq__(self, other) -> bool:
        return (
            isinstance(other, StringCol)
            and self.data == other.data
            and np.array_equal(self.offsets, other.offsets)
        )


#: process-wide selection-policy flag (set by selector.encode_column around
#: each kernel call; task workers are single-threaded, so a module global is
#: race-free).  "speed" policy skips explicit CPU-for-bytes trades inside
#: kernels (currently: PatchedFor's recursive base encoding).
_SPEED_MODE = False


def speed_mode() -> bool:
    return _SPEED_MODE


def set_speed_mode(on: bool) -> None:
    global _SPEED_MODE
    _SPEED_MODE = bool(on)


def pack_sections(*sections: bytes) -> tuple[bytes, list[int]]:
    """Concatenate binary sub-streams; return (payload, section lengths)."""
    return b"".join(sections), [len(s) for s in sections]


def split_sections(payload: bytes, lengths: list[int]) -> list[bytes]:
    out, pos = [], 0
    for ln in lengths:
        out.append(payload[pos : pos + ln])
        pos += ln
    return out


def bit_width(max_residual: int) -> int:
    """Bits needed to represent values in [0, max_residual]."""
    return int(max_residual).bit_length()


def crc32(payload: bytes) -> int:
    return zlib.crc32(payload) & 0xFFFFFFFF


def _ref_u64(ref: int) -> np.uint64:
    """Any Python int (negative, or a uint64 beyond int64-max) → its
    two's-complement uint64 bit pattern."""
    return np.uint64(int(ref) & 0xFFFFFFFFFFFFFFFF)


def _readonly(a: np.ndarray) -> np.ndarray:
    """A non-writable view of ``a``.  The zero-reference fast paths return
    their input reinterpreted, not a copy: a caller writing to the result
    would silently change the source array, so such a write raises."""
    v = a.view()
    v.flags.writeable = False
    return v


def as_unsigned_residuals(arr: np.ndarray, ref: int) -> np.ndarray:
    """``(arr - ref) mod 2**64`` as uint64 — exact for any 64-bit range.

    Wraparound subtraction keeps frame-of-reference exact even when
    ``max - min`` overflows int64 (full-range int64 or uint64 columns).
    With ``ref == 0`` the result may alias ``arr`` and is read-only.
    """
    if arr.dtype == np.uint64:
        a = arr
    else:
        a = arr.astype(np.int64, copy=False).view(np.uint64)
    if ref == 0:
        return _readonly(a)  # no copy
    return a - _ref_u64(ref)  # uint64 wraps mod 2**64


_NARROW_DTYPES = (np.int8, np.uint8, np.int16, np.uint16, np.int32, np.uint32)


def narrow_residuals(arr: np.ndarray, ref: int) -> np.ndarray:
    """Frame-of-reference residuals in the NARROWEST exact dtype: uint32 for
    ≤32-bit inputs (``(arr - ref) mod 2**32`` equals ``arr - ref`` because
    the true residual of a ≤32-bit column always fits 32 bits), uint64
    otherwise.  The int32 token-column hot path does half the memory
    traffic this way; every downstream op (mask/compare/shift/pack) yields
    byte-identical payloads, pinned by tests/test_kernels.py.  With
    ``ref == 0`` the result may alias ``arr`` and is read-only."""
    if arr.dtype in _NARROW_DTYPES:
        if arr.dtype == np.uint32:
            a = arr
        else:
            a = arr.astype(np.int32, copy=False).view(np.uint32)
        if ref == 0:
            return _readonly(a)  # no copy
        return a - np.uint32(int(ref) & 0xFFFFFFFF)
    return as_unsigned_residuals(arr, ref)


def from_unsigned_residuals(res: np.ndarray, ref: int, dtype: str) -> np.ndarray:
    """Inverse of :func:`as_unsigned_residuals`, restoring the exact dtype.

    A uint32 ``res`` (the narrow decode path, 32-bit dtypes only) adds the
    reference mod 2**32 — exact because a ≤32-bit column's values equal
    their value mod 2**32 under the target dtype's view.  With a zero
    reference the result may alias ``res`` and is read-only."""
    if res.dtype == np.uint32:
        r32 = int(ref) & 0xFFFFFFFF
        # zero reference: no addition pass — the residuals ARE the values
        base32 = (_readonly(res) if r32 == 0
                  else res + np.uint32(r32))  # wraps mod 2**32
        if dtype == "uint32":
            return base32
        if dtype == "int32":
            return base32.view(np.int32)
        res = base32.astype(np.uint64)  # non-32-bit dtype: widen, ref done
        ref = 0
    base = (_readonly(res) if int(ref) & 0xFFFFFFFFFFFFFFFF == 0
            else res + _ref_u64(ref))
    np_dtype = INT_DTYPES[dtype]
    if dtype == "bool":
        return base.view(np.int64).astype(np.bool_)
    if dtype == "uint64":
        return base
    return base.view(np.int64).astype(np_dtype)


# --- registry -----------------------------------------------------------

INT_CODECS: dict[str, type] = {}
STR_CODECS: dict[str, type] = {}


def register(kind: str):
    def deco(cls):
        (INT_CODECS if kind == "int" else STR_CODECS)[cls.name] = cls
        return cls

    return deco


def get_codec(name: str):
    return INT_CODECS.get(name) or STR_CODECS[name]
