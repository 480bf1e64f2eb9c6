"""Codec kernel registry — the vectorized analog of the reference's
type-keyed deserializer dispatch table (`src/orc/col.clj:155-174`)."""

from .base import (  # noqa: F401
    INT_CODECS,
    STR_CODECS,
    StringCol,
    crc32,
    get_codec,
)
from .bitpack import ForBitpack, PatchedFor, pack_bits, unpack_bits  # noqa: F401
from .delta import Delta  # noqa: F401
from .dict_ import DictInt, DictStr  # noqa: F401
from .fsst import Fsst  # noqa: F401
from .plain import PlainInt, PlainStr  # noqa: F401
from .rle import Rle  # noqa: F401
from .split import ByteSplit  # noqa: F401


def decode_any(payload: bytes, meta: dict):
    """Decode by the codec name recorded in the meta (manifest) record."""
    return get_codec(meta["codec"]).decode(payload, meta)
