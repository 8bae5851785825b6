"""The posting row format has one owner: ``codec.pack_row`` and
``codec.unpack_row``.  No other package module may call the varint or
docid primitives, so a change to the row format stays a one-module
change."""

from __future__ import annotations

import re
from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "legal_text_retrieval_spark"
CODEC = PKG / "index" / "codec.py"
PRIMITIVES = re.compile(r"\b(encode_varint|decode_varint|encode_docids|decode_docids)\s*\(")


def test_only_codec_calls_the_row_primitives():
    offenders = [
        (str(p.relative_to(PKG)), m.group(1))
        for p in PKG.rglob("*.py")
        if p != CODEC
        for m in PRIMITIVES.finditer(p.read_text())
    ]
    assert not offenders, offenders
