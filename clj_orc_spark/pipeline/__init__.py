"""Encode/decode pipeline: the engine's end-to-end dataflow (SURVEY.md §3.4)."""

from .decode import decode, decode_plan_report  # noqa: F401
from .encode import encode  # noqa: F401
from .verify import (  # noqa: F401
    encoded_size_bytes,
    size_gate,
    verify_digest,
    verify_roundtrip,
)
