"""The posting row format has one owner: ``codec.pack_row`` and
``codec.unpack_row``.  No other package module may call the varint or
docid primitives, so a change to the row format stays a one-module
change.  Likewise the bit-identity-critical accumulation step has one
owner, ``codec.scatter_add``: no other ``index/`` module scatters into
an array with an indexed ``+=``."""

from __future__ import annotations

import re
from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "legal_text_retrieval_spark"
CODEC = PKG / "index" / "codec.py"
SCATTER = re.compile(r"\w\[[^\]]+\]\s*\+=")
PRIMITIVES = re.compile(r"\b(encode_varint|decode_varint|encode_docids|decode_docids)\s*\(")


def test_only_codec_calls_the_row_primitives():
    offenders = [
        (str(p.relative_to(PKG)), m.group(1))
        for p in PKG.rglob("*.py")
        if p != CODEC
        for m in PRIMITIVES.finditer(p.read_text())
    ]
    assert not offenders, offenders


def test_only_codec_scatter_adds():
    offenders = [
        (str(p.relative_to(PKG)), m.group(0))
        for p in (PKG / "index").glob("*.py")
        if p != CODEC
        for m in SCATTER.finditer(p.read_text())
    ]
    assert not offenders, offenders
