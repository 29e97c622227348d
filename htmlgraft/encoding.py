"""Byte-to-string decoding for the parse path — the WHATWG encoding-sniffing
prescan subset (html.spec.whatwg.org "determining the character encoding",
public spec), applied BEFORE tokenizing:

1. a byte-order mark wins (EF BB BF -> utf-8, FE FF -> utf-16-be,
   FF FE -> utf-16-le);
2. else the first ``charset=`` declaration within the first 1024 BYTES
   (case-insensitive, optionally quoted) — with the spec's quirk that a
   utf-16 label found by the prescan is treated as utf-8 (the page was
   decodable enough to find the meta, so it isn't really utf-16);
3. else windows-1252, the spec's default fallback for the web.

This is the SAME verdict the relational ``charset_sniff`` query computes
(htmlgraft/media.py charset_sniff_sql — both sides implement the public
prescan independently); here it is wired into the hot decode so a real
crawl's ~5-10% non-UTF-8 pages stop being silently mojibake'd.

Scale: pure per-row byte work bounded by the 1024-byte scan window; no
state, no allocation beyond the decoded string the parser needs anyway.
"""

from __future__ import annotations

import codecs
import re

# charset= scan over the raw byte window; ASCII-superset byte patterns only
# (the spec's prescan operates on bytes, so this regex runs on bytes too)
_META_CHARSET = re.compile(rb'charset\s*=\s*["\']?([a-zA-Z0-9_.:-]+)')

# WHATWG label -> Python codec, the subset that changes behavior vs a naive
# lookup: the spec maps ALL latin-1/ascii labels to windows-1252 (bytes
# 0x80-0x9F are used as cp1252 on the real web regardless of the label).
_LABELS = {
    "utf-8": "utf-8",
    "utf8": "utf-8",
    "unicode-1-1-utf-8": "utf-8",
    "iso-8859-1": "cp1252",
    "iso8859-1": "cp1252",
    "latin1": "cp1252",
    "latin-1": "cp1252",
    "ascii": "cp1252",
    "us-ascii": "cp1252",
    "ansi_x3.4-1968": "cp1252",
    "windows-1252": "cp1252",
    "cp1252": "cp1252",
    "x-cp1252": "cp1252",
    # prescan quirk: a meta claiming utf-16 is decoded as utf-8 (spec §13.2.3.2)
    "utf-16": "utf-8",
    "utf-16le": "utf-8",
    "utf-16be": "utf-8",
}

_DEFAULT = "cp1252"  # windows-1252, the WHATWG fallback
_SCAN_BYTES = 1024


# Python's names for the WHATWG Encoding Standard's encodings, plus the
# codecs its labels resolve to where Python names them apart (gb2312,
# tis-620, iso8859-11).  Others are no web encoding: utf-7 smuggles
# markup, unicode_escape rewrites backslashes, cp037 is EBCDIC.
_WHATWG_CODECS = frozenset(
    "utf-8 utf-16 utf-16-be utf-16-le ascii cp866 cp874 tis-620 koi8-r "
    "koi8-u mac-roman mac-cyrillic gbk gb2312 gb18030 big5 big5hkscs euc_jp "
    "iso2022_jp shift_jis cp932 euc_kr cp949".split()
    + [f"iso8859-{n}" for n in range(1, 17) if n != 12]
    + [f"cp{n}" for n in range(1250, 1259)])


def _codec_for_label(label: str) -> str | None:
    """WHATWG label -> Python codec (shared by the transport and meta
    branches); None when the label is unrecognized by either table.  A
    label outside ``_LABELS`` counts only if Python resolves it to one of
    ``_WHATWG_CODECS``: WHATWG treats a label it does not know as absent."""
    codec = _LABELS.get(label)
    if codec is None:
        try:
            codec = codecs.lookup(label).name
        except LookupError:
            return None
    return codec if codec in _WHATWG_CODECS else None


def sniff_charset(raw: bytes,
                  transport: str | None = None) -> tuple[str, int, str]:
    """(python_codec, bom_len, source) for a raw page; source is one of
    'bom' | 'transport' | 'meta' | 'default'.  Priority per the WHATWG
    encoding-determination order: a BOM always wins, then the
    TRANSPORT-layer label (the HTTP Content-Type charset parameter a WARC
    response record carries), then the in-page meta prescan, then the
    windows-1252 default.  The bom/meta/default verdicts match
    charset_sniff_sql, so the two implementations stay cross-checkable."""
    if raw[:3] == b"\xef\xbb\xbf":
        return "utf-8", 3, "bom"
    if raw[:2] == b"\xfe\xff":
        return "utf-16-be", 2, "bom"
    if raw[:2] == b"\xff\xfe":
        return "utf-16-le", 2, "bom"
    if transport:
        label = transport.strip().lower()
        # the utf-16-label-means-utf-8 quirk is a PRESCAN rule only; a
        # transport-layer utf-16 declaration is honored as utf-16
        codec = {
            "utf-16": "utf-16-le", "utf-16le": "utf-16-le",
            "utf-16be": "utf-16-be",
        }.get(label) or _codec_for_label(label)
        if codec is not None:
            return codec, 0, "transport"
    m = _META_CHARSET.search(raw[:_SCAN_BYTES])
    if m:
        codec = _codec_for_label(m.group(1).decode("ascii").lower())
        if codec is not None:
            return codec, 0, "meta"
    return _DEFAULT, 0, "default"


def decode_html(raw: bytes, transport: str | None = None) -> str:
    """Decode page bytes per the prescan verdict (errors -> U+FFFD, the
    parser's own FFFD rules then apply downstream as usual)."""
    codec, bom_len, _ = sniff_charset(raw, transport)
    return raw[bom_len:].decode(codec, "replace")
