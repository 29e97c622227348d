"""PDF text extraction over binary columns (north-rule "PDF/layout parse").

The EXTRACTOR is a real, from-scratch parser of the public PDF format
(ISO 32000 subset): it locates content streams by ``stream``/``endstream``
delimiters (robust scan, the strategy real-world extractors use for files
with broken xref tables — and safe by spec, since streams are never packed
inside object streams), inflates ``/FlateDecode`` streams with zlib,
tokenizes the content stream, and reassembles page text from the text
operators — ``BT``/``ET`` blocks, ``Tj``/``'``/``TJ`` show-text (string
literals with the full escape set plus hex strings), and ``Td``/``TD``/
``T*`` line positioning (a vertical move starts a new output line).
Document STRUCTURE goes through the real cross-reference machinery
(``parse_xref`` / ``load_object``): classic xref tables with /Prev update
chains, PDF 1.5+ cross-reference STREAMS (/W field widths, PNG row
predictors) and OBJECT streams (/ObjStm header pairs, FlateDecode) — page
counts come from resolving /Root -> /Pages -> /Count through whatever
container the objects live in, with the raw scan as the broken-file
fallback.  It works on real post-2003 PDFs, not only the synthetic ones.

The SOURCE synthesizes byte-accurate single-page PDFs entirely in Spark
SQL string expressions — zero Python — in TWO structural families: classic
1.4 (top-level objects + xref table) and 1.5 (objects packed in an
uncompressed ObjStm + a binary xref stream built with unhex()).  The
DuckDB oracle recomputes the expected text relationally (the same 8-word
wrap) plus the expected xref_kind/n_objstm_objs per family, so both the
content tokenizer AND the structural machinery surface as value
mismatches; the compressed ObjStm / predictor paths SQL cannot synthesize
are pinned by Python unit tests (tests/test_pdfops.py).

Scale shape: pure map (no shuffle); blobs ride Arrow into pandas; batches
are byte-capped like job.py so one giant PDF cannot balloon a worker.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql.types import LongType, StringType, StructField, StructType

from .bmpops import _inflate
from .job import map_rows
from .pixelops import _unfilter_row

WORDS_PER_LINE = 8

PDF_TEXT_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("text", StringType()),
    StructField("n_pages", LongType()),
    StructField("n_text_shows", LongType()),
    StructField("xref_kind", StringType()),
    StructField("n_objstm_objs", LongType()),
])


# --- SQL-side synthesis ------------------------------------------------------

def _lines_expr(duck: bool) -> str:
    """SQL: documents.text -> array of 8-word lines (shared wrap logic)."""
    w = WORDS_PER_LINE
    if duck:
        return (
            f"list_transform(generate_series(0, ((len(ws) + {w - 1}) // {w}) - 1), "
            f"i -> array_to_string(ws[(i * {w} + 1):(i * {w} + {w})], ' '))"
        )
    return (
        f"transform(sequence(0, cast(floor((size(ws) + {w - 1}) / {w}) as int) - 1), "
        f"i -> array_join(slice(ws, i * {w} + 1, {w}), ' '))"
    )


# --- PDF 1.5 family constants (ObjStm-packed objects; everything except
#     the content stream is document-invariant, so the object stream and
#     its header offsets are precomputed here and embedded as literals) ------

_I_CATALOG = "<< /Type /Catalog /Pages 2 0 R >>"
_I_PAGES = "<< /Type /Pages /Kids [3 0 R] /Count 1 >>"
_I_PAGE = (
    "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
    "/Contents 4 0 R /Resources << /Font << /F1 5 0 R >> >> >>"
)
_I_FONT = "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"


def _objstm_literal() -> str:
    """The constant '6 0 obj ... endobj' object-stream bytes holding the
    catalog/pages/page/font objects (uncompressed — /Filter is optional by
    spec, which is what makes a byte-accurate PURE-SQL synthesis possible;
    the FlateDecode + predictor paths are covered by Python unit tests)."""
    inner = [_I_CATALOG, _I_PAGES, _I_PAGE, _I_FONT]
    offs, pos = [], 0
    for s in inner:
        offs.append(pos)
        pos += len(s) + 1  # objects separated by \n
    body = "\n".join(inner)
    hdr = (
        f"1 {offs[0]} 2 {offs[1]} 3 {offs[2]} 5 {offs[3]}\n"
    )
    data = hdr + body
    return (
        f"6 0 obj\n<< /Type /ObjStm /N 4 /First {len(hdr)} "
        f"/Length {len(data)} >>\nstream\n{data}\nendstream\nendobj\n"
    )


_XREF_STM_HEAD = (
    "7 0 obj\n<< /Type /XRef /Size 8 /W [1 4 1] /Root 1 0 R "
    "/Length 48 >>\nstream\n"
)
# constant rows of the xref stream (W = [1,4,1], big-endian): obj0 free,
# objs 1/2/3/5 are type-2 entries into object stream 6 at indexes 0/1/2/3,
# obj4 (content) is type-1 at the constant offset 9 (right after '%PDF-1.5\n')
_XREF_ROWS_CONST = {
    0: "000000000000",
    1: "020000000600",
    2: "020000000601",
    3: "020000000602",
    4: "010000000900",
    5: "020000000603",
}


def pdf_df(spark, sf_dir: str) -> DataFrame:
    """Synthesize a valid single-page PDF per document in pure Spark SQL,
    two structural families by doc_id % 2:

    * even — classic PDF 1.4: top-level objects, a byte-accurate xref
      TABLE and trailer (the offsets are value-checked end to end now that
      the extractor resolves pages through the xref);
    * odd — PDF 1.5: catalog/pages/page/font packed in an OBJECT STREAM
      (uncompressed, /Filter being optional) and a binary cross-reference
      STREAM (/W [1 4 1], type-2 entries) — the structure every post-2003
      real-world PDF ships; the extractor must walk xref stream -> ObjStm
      -> /Count to report n_pages/xref_kind/n_objstm_objs correctly.

    The content stream (object 4) is identical in both families, so the
    extracted text oracle is family-invariant."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs.createOrReplaceTempView("__pdf_docs")
    nl = "chr(10)"
    objstm = _objstm_literal()
    # SQL string literal: escape backslashes not needed (no backslashes),
    # single quotes absent; newlines spelled via chr(10) concat is heavy —
    # embed with explicit \n escapes instead
    objstm_sql = "'" + objstm.replace("\n", "\\n") + "'"
    xref_head_sql = "'" + _XREF_STM_HEAD.replace("\n", "\\n") + "'"
    const_rows = "".join(_XREF_ROWS_CONST[i] for i in range(6))
    return spark.sql(f"""
        with lines as (
          select doc_id,
                 {_lines_expr(False)} as ls
          from (select doc_id, split(text, ' ') as ws from __pdf_docs)
        ),
        objs as (
          select doc_id,
            concat('%PDF-1.4', {nl}) as hd,
            concat('1 0 obj', {nl},
                   '<< /Type /Catalog /Pages 2 0 R >>', {nl},
                   'endobj', {nl}) as o1,
            concat('2 0 obj', {nl},
                   '<< /Type /Pages /Kids [3 0 R] /Count 1 >>', {nl},
                   'endobj', {nl}) as o2,
            concat('3 0 obj', {nl},
                   '<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] ',
                   '/Contents 4 0 R /Resources << /Font << /F1 5 0 R >> >> >>',
                   {nl}, 'endobj', {nl}) as o3,
            concat('BT /F1 12 Tf 72 720 Td (',
                   array_join(ls, concat(') Tj 0 -14 Td (')),
                   ') Tj ET') as content,
            size(ls) as n_lines
          from lines
        ),
        objs2 as (
          select doc_id, hd, o1, o2, o3, n_lines,
            concat('4 0 obj', {nl},
                   '<< /Length ', cast(length(content) as string), ' >>', {nl},
                   'stream', {nl}, content, {nl}, 'endstream', {nl},
                   'endobj', {nl}) as o4,
            concat('5 0 obj', {nl},
                   '<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>',
                   {nl}, 'endobj', {nl}) as o5
          from objs
        ),
        offs as (
          select doc_id, hd, o1, o2, o3, o4, o5, n_lines,
            length(hd) as f1,
            length(hd) + length(o1) as f2,
            length(hd) + length(o1) + length(o2) as f3,
            length(hd) + length(o1) + length(o2) + length(o3) as f4,
            length(hd) + length(o1) + length(o2) + length(o3) + length(o4) as f5,
            length(hd) + length(o1) + length(o2) + length(o3) + length(o4)
              + length(o5) as fx
          from objs2
        )
        select doc_id, n_lines,
          encode(concat(hd, o1, o2, o3, o4, o5,
            'xref', {nl}, '0 6', {nl},
            '0000000000 65535 f ', {nl},
            lpad(cast(f1 as string), 10, '0'), ' 00000 n ', {nl},
            lpad(cast(f2 as string), 10, '0'), ' 00000 n ', {nl},
            lpad(cast(f3 as string), 10, '0'), ' 00000 n ', {nl},
            lpad(cast(f4 as string), 10, '0'), ' 00000 n ', {nl},
            lpad(cast(f5 as string), 10, '0'), ' 00000 n ', {nl},
            'trailer', {nl}, '<< /Size 6 /Root 1 0 R >>', {nl},
            'startxref', {nl}, cast(fx as string), {nl}, '%%EOF'
          ), 'UTF-8') as pdf
        from offs
        where doc_id % 2 = 0

        union all

        select doc_id, n_lines,
          concat(
            encode(concat('%PDF-1.5', {nl}, o4, {objstm_sql},
                          {xref_head_sql}), 'UTF-8'),
            unhex(concat(
              '{const_rows}',
              '01', lpad(hex(9 + length(o4)), 8, '0'), '00',
              '01', lpad(hex(9 + length(o4) + {len(objstm)}), 8, '0'), '00'
            )),
            encode(concat({nl}, 'endstream', {nl}, 'endobj', {nl},
                          'startxref', {nl},
                          cast(9 + length(o4) + {len(objstm)} as string),
                          {nl}, '%%EOF'), 'UTF-8')
          ) as pdf
        from objs2
        where doc_id % 2 = 1
    """)


# --- real PDF parsing --------------------------------------------------------

# (?<!end): 'endstream' contains 'stream', which must not open a new stream
_STREAM_RE = re.compile(rb"(?<!end)stream\r?\n")
_TOKEN_RE = re.compile(
    rb"\((?:\\.|[^\\()])*\)"      # string literal (with escapes)
    rb"|<[0-9A-Fa-f\s]*>"          # hex string
    rb"|\[|\]"
    rb"|/[^\s/<>()\[\]{}]*"        # name
    rb"|[-+]?[.0-9]+"              # number
    rb"|[A-Za-z'\"*]+",            # operator
    re.DOTALL,  # string literals span raw newlines (and \-EOL continuations)
)
_ESCAPES = {
    b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b", b"f": b"\f",
    b"(": b"(", b")": b")", b"\\": b"\\",
}


def _unescape_string(raw: bytes) -> bytes:
    """PDF string literal body -> bytes (escape set per ISO 32000 7.3.4.2:
    named escapes, 1-3 digit octal, backslash-EOL line continuation)."""
    out = bytearray()
    i, n = 0, len(raw)
    while i < n:
        c = raw[i:i + 1]
        if c != b"\\":
            out += c
            i += 1
            continue
        nxt = raw[i + 1:i + 2]
        if nxt in _ESCAPES:
            out += _ESCAPES[nxt]
            i += 2
        elif nxt.isdigit():
            j = i + 1
            while j < n and j < i + 4 and raw[j:j + 1].isdigit():
                j += 1
            out.append(int(raw[i + 1:j], 8) & 0xFF)
            i = j
        elif nxt in (b"\n", b"\r"):  # line continuation
            i += 2
            if nxt == b"\r" and raw[i:i + 1] == b"\n":
                i += 1
        else:  # lone backslash: dropped
            i += 1
    return bytes(out)


def _decode_hex_string(raw: bytes) -> bytes:
    h = re.sub(rb"\s", b"", raw)
    if len(h) % 2:
        h += b"0"
    return bytes.fromhex(h.decode("ascii"))


def content_text_lines(data: bytes) -> tuple[list[str], int]:
    """Walk a content stream's text operators; returns (lines, n_shows).
    A vertical move (Td/TD with ty != 0, or T*) starts a new line; shown
    strings within a line join with no separator, separate shows on the
    same baseline are the caller's layout concern (our synthesis keeps one
    show per line)."""
    lines: list[str] = []
    cur: list[str] = []
    # operand stack of (kind, value): 's' decoded string bytes, 'n' number
    # bytes, '[' / ']' markers, 'o' other (names)
    stack: list[tuple[str, bytes]] = []
    in_text = False
    n_shows = 0

    def flush():
        if cur:
            lines.append("".join(cur))
            cur.clear()

    def last_string() -> bytes:
        for kind, v in reversed(stack):
            if kind == "s":
                return v
        return b""

    for m in _TOKEN_RE.finditer(data):
        t = m.group()
        c = t[:1]
        if c == b"(":
            stack.append(("s", _unescape_string(t[1:-1])))
        elif c == b"<":
            stack.append(("s", _decode_hex_string(t[1:-1])))
        elif c == b"[" or c == b"]":
            stack.append((t.decode(), t))
        elif c == b"/":
            stack.append(("o", t))
        elif c.isdigit() or c in b"+-.":
            stack.append(("n", t))
        else:  # operator
            if t == b"BT":
                in_text = True
            elif t == b"ET":
                in_text = False
            elif in_text and t in (b"Td", b"TD"):
                # new line iff the vertical displacement is non-zero
                ty = stack[-1][1] if stack and stack[-1][0] == "n" else b"0"
                try:
                    moved = float(ty) != 0.0
                except ValueError:
                    moved = False
                if moved:
                    flush()
            elif in_text and t == b"T*":
                flush()
            elif in_text and (t == b"'" or t == b'"'):
                # quote operators: next line, then show the string operand
                flush()
                cur.append(last_string().decode("latin-1"))
                n_shows += 1
            elif in_text and t == b"Tj":
                cur.append(last_string().decode("latin-1"))
                n_shows += 1
            elif in_text and t == b"TJ":
                # show every string in the most recent [ ... ] group
                # (numbers between them are kerning adjustments, ignored)
                i = len(stack) - 1
                while i >= 0 and stack[i][0] != "[":
                    i -= 1
                cur.extend(
                    v.decode("latin-1")
                    for kind, v in stack[i + 1:] if kind == "s"
                )
                n_shows += 1
            stack.clear()
    flush()
    return lines, n_shows


# --- xref / object machinery (ISO 32000: 7.5.4 classic tables, 7.5.8 xref
#     streams with /W field widths + PNG predictors, 7.5.7 object streams) ---

_OBJ_HEAD_RE = re.compile(rb"[\s%]*(\d+)\s+(\d+)\s+obj\b\s*")
_STARTXREF_RE = re.compile(rb"startxref\s+(\d+)")


def _dict_span(blob: bytes, start: int) -> tuple[int, int]:
    """(open, close_end) byte span of the << ... >> dict at/after start,
    honoring nesting."""
    o = blob.index(b"<<", start)
    depth, i = 0, o
    while i < len(blob):
        if blob[i:i + 2] == b"<<":
            depth += 1
            i += 2
        elif blob[i:i + 2] == b">>":
            depth -= 1
            i += 2
            if depth == 0:
                return o, i
        else:
            i += 1
    raise ValueError("unterminated dict")


def _dict_int(d: bytes, key: bytes) -> int | None:
    m = re.search(rb"/" + key + rb"\s+(\d+)", d)
    return int(m.group(1)) if m else None


def _dict_ref(d: bytes, key: bytes) -> int | None:
    m = re.search(rb"/" + key + rb"\s+(\d+)\s+\d+\s+R", d)
    return int(m.group(1)) if m else None


def _dict_ints_array(d: bytes, key: bytes) -> list[int] | None:
    m = re.search(rb"/" + key + rb"\s*\[([^\]]*)\]", d)
    return [int(x) for x in m.group(1).split()] if m else None


def _object_at(blob: bytes, off: int) -> tuple[bytes, bytes | None]:
    """(dict_bytes, raw_stream_bytes|None) for the indirect object at byte
    ``off``.  Stream extent comes from the dict's /Length (the spec's
    framing — delimiter scans on stream DATA are wrong by spec, exactly
    like WARC Content-Length), with an endstream-search fallback when
    /Length is indirect."""
    m = _OBJ_HEAD_RE.match(blob, off)
    if not m:
        raise ValueError(f"no object at offset {off}")
    d0, d1 = _dict_span(blob, m.end())
    head = blob[d0:d1]
    m2 = re.match(rb"\s*stream(?:\r\n|\n|\r)", blob[d1:])
    if not m2:
        return head, None
    s0 = d1 + m2.end()
    length = _dict_int(head, b"Length")
    if length is not None and blob[s0 + length:s0 + length + 32].lstrip(
            b"\r\n ").startswith(b"endstream"):
        return head, blob[s0:s0 + length]
    end = blob.find(b"endstream", s0)
    if end < 0:
        raise ValueError("unterminated stream")
    return head, blob[s0:end].rstrip(b"\r\n")


def _png_unpredict(data: bytes, columns: int) -> bytes:
    """Undo PNG row predictors over rows of ``columns`` one-byte samples:
    Predictor >= 10 lets every row pick any PNG filter (None, Sub, Up,
    Average, Paeth), undone by the PNG decoder's own row unfilter."""
    rowlen = columns + 1
    out = bytearray()
    # a /Columns wider than the data makes no row: size prev by the data
    prev = bytes(min(columns, len(data)))
    for r in range(0, len(data) - rowlen + 1, rowlen):
        row = bytearray(data[r + 1:r + rowlen])
        _unfilter_row(data[r], row, prev, 1)
        out += row
        prev = row
    return bytes(out)


def _unfilter_stream(head: bytes, data: bytes) -> bytes:
    """Inflate /FlateDecode stream bytes; any other /Filter raises."""
    if b"/Filter" not in head:
        return data
    if b"/FlateDecode" not in head:
        raise NotImplementedError("unsupported stream filter")
    return _inflate(data)[0]


def _decode_stream(head: bytes, data: bytes) -> bytes:
    """Apply /Filter and the /DecodeParms predictor to raw stream bytes."""
    data = _unfilter_stream(head, data)
    pred = _dict_int(head, b"Predictor")
    if pred is not None and pred >= 10:
        data = _png_unpredict(data, _dict_int(head, b"Columns") or 1)
    return data


def _xref_stream_entries(head: bytes, data: bytes, entries: dict) -> None:
    """Decode a cross-reference STREAM's binary rows per /W field widths:
    type 1 -> top-level byte offset; type 2 -> (object stream, index);
    a zero-width type field defaults to 1 per spec.  The /Index counts
    are walked only as far as the rows the decoded stream holds, so the
    walk is linear in the stream whatever the counts say."""
    w = _dict_ints_array(head, b"W")
    size = _dict_int(head, b"Size")
    index = _dict_ints_array(head, b"Index") or [0, size]
    rowlen = sum(w)
    if rowlen <= 0:
        raise ValueError(f"xref stream /W widths {w} sum to {rowlen}")
    left = len(data) // rowlen

    def field(row: bytes, k: int) -> int:
        if w[k] == 0:
            return 1 if k == 0 else 0
        a = sum(w[:k])
        return int.from_bytes(row[a:a + w[k]], "big")

    pos = 0
    for start, count in zip(index[::2], index[1::2]):
        count = max(0, min(count, left))
        left -= count
        for i in range(count):
            row = data[pos:pos + rowlen]
            pos += rowlen
            num = start + i
            if num in entries:  # newer xref section wins
                continue
            t = field(row, 0)
            if t == 1:
                entries[num] = ("top", field(row, 1))
            elif t == 2:
                entries[num] = ("objstm", field(row, 1), field(row, 2))


def _classic_xref_entries(blob: bytes, off: int,
                          entries: dict) -> tuple[bytes, int | None]:
    """Parse a classic xref table section; returns (trailer_dict, prev)."""
    m = re.compile(rb"xref\s*(?:\r\n|\n|\r)").match(blob, off)
    if not m:
        raise ValueError("no xref keyword at startxref offset")
    pos = m.end()
    sub = re.compile(rb"(\d+)\s+(\d+)\s*(?:\r\n|\n|\r)")
    ent = re.compile(rb"(\d{10}) (\d{5}) ([nf])")
    while True:
        sm = sub.match(blob, pos)
        if not sm:
            break
        start, count = int(sm.group(1)), int(sm.group(2))
        pos = sm.end()
        for i in range(count):
            em = ent.match(blob, pos)
            if not em:
                raise ValueError("malformed xref entry")
            pos += 20
            num = start + i
            if em.group(3) == b"n" and num not in entries:
                entries[num] = ("top", int(em.group(1)))
    t = blob.find(b"trailer", pos)
    if t < 0:
        raise ValueError("missing trailer")
    d0, d1 = _dict_span(blob, t)
    trailer = blob[d0:d1]
    return trailer, _dict_int(trailer, b"Prev")


def parse_xref(blob: bytes) -> tuple[dict, bytes, str]:
    """Full cross-reference resolution from the LAST startxref, following
    /Prev chains (newer sections shadow older ones).  Returns
    (entries: {obj_num: ('top', offset) | ('objstm', stm_num, idx)},
    trailer_dict_bytes, kind: 'table' | 'stream')."""
    ms = list(_STARTXREF_RE.finditer(blob))
    if not ms:
        raise ValueError("no startxref")
    off: int | None = int(ms[-1].group(1))
    entries: dict = {}
    trailer = b""
    kind = ""
    seen: set[int] = set()
    while off is not None and off not in seen:
        seen.add(off)
        if re.compile(rb"xref\b").match(blob, off):
            t, prev = _classic_xref_entries(blob, off, entries)
            kind = kind or "table"
        else:
            head, raw = _object_at(blob, off)
            if b"/XRef" not in head:
                raise ValueError("startxref points at a non-XRef object")
            _xref_stream_entries(head, _decode_stream(head, raw), entries)
            t, prev = head, _dict_int(head, b"Prev")
            kind = kind or "stream"
        trailer = trailer or t
        off = prev
    return entries, trailer, kind


def _objstm_objects(blob: bytes, entries: dict, stm_num: int,
                    cache: dict) -> dict:
    """{obj_num: body_bytes} for every object packed in object stream
    ``stm_num`` (header = /N (num, offset) int pairs in the first /First
    bytes of the decoded data)."""
    if stm_num in cache:
        return cache[stm_num]
    kind, off = entries[stm_num][0], entries[stm_num][1]
    if kind != "top":
        raise ValueError("object stream inside an object stream")
    head, raw = _object_at(blob, off)
    data = _decode_stream(head, raw)
    n = _dict_int(head, b"N")
    first = _dict_int(head, b"First")
    header = data[:first].split()
    pairs = [
        (int(header[2 * i]), int(header[2 * i + 1])) for i in range(n)
    ]
    objs = {}
    for i, (num, o) in enumerate(pairs):
        end = first + pairs[i + 1][1] if i + 1 < n else len(data)
        objs[num] = data[first + o:end]
    cache[stm_num] = objs
    return objs


def load_object(blob: bytes, entries: dict, num: int, cache: dict) -> bytes:
    """Object body bytes by number — top-level via its byte offset, or
    pulled out of its (possibly compressed) object stream."""
    e = entries[num]
    if e[0] == "top":
        head, _ = _object_at(blob, e[1])
        return head
    return _objstm_objects(blob, entries, e[1], cache)[num]


def analyze_structure(blob: bytes) -> tuple[str, int, int]:
    """(xref_kind, n_pages, n_objstm_objs) via REAL object resolution:
    parse the xref (classic table or 1.5+ xref stream), load the catalog,
    follow /Root -> /Pages, read /Count — loading through object streams
    when the entries say so.  Any structural failure falls back to the
    robust raw scan ('scan' kind, regex page count), the strategy for
    broken-xref files in the wild."""
    try:
        entries, trailer, kind = parse_xref(blob)
        cache: dict = {}
        root = _dict_ref(trailer, b"Root")
        cat = load_object(blob, entries, root, cache)
        pages = load_object(blob, entries, _dict_ref(cat, b"Pages"), cache)
        count = _dict_int(pages, b"Count")
        if count is None:
            raise ValueError("pages node has no /Count")
        n_objstm = sum(1 for e in entries.values() if e[0] == "objstm")
        return kind, count, n_objstm
    except Exception:
        return "scan", len(re.findall(rb"/Type\s*/Page[^s]", blob)), 0


def extract_pdf_text(blob: bytes) -> tuple[str, int, int, str, int]:
    """Parse one PDF: returns (text, n_pages, n_text_shows, xref_kind,
    n_objstm_objs).  Content streams are found by delimiter scan (robust
    against broken xref, and ISO 32000 7.5.7 guarantees streams are never
    packed inside object streams, so no content hides from it) —
    structural streams (/ObjStm, /XRef) are excluded from the text walk;
    /FlateDecode streams are inflated; any other filter raises (honest
    unsupported-filter signal).  Page counting and xref classification go
    through the real object machinery (``analyze_structure``)."""
    if not blob.startswith(b"%PDF-"):
        raise NotImplementedError("not a PDF")
    lines: list[str] = []
    n_shows = 0
    for m in _STREAM_RE.finditer(blob):
        start = m.end()
        end = blob.find(b"endstream", start)
        if end < 0:
            continue
        data = blob[start:end].rstrip(b"\r\n")
        dict_start = blob.rfind(b"<<", 0, m.start())
        head = blob[dict_start:m.start()] if dict_start >= 0 else b""
        if b"/ObjStm" in head or b"/XRef" in head:
            continue  # structural, never page content
        # no predictor: content has none, and image rows are not 1 B/px
        got, shows = content_text_lines(_unfilter_stream(head, data))
        lines.extend(got)
        n_shows += shows
    xref_kind, n_pages, n_objstm = analyze_structure(blob)
    return "\n".join(lines), n_pages, n_shows, xref_kind, n_objstm


def _pdf_text_row(doc_id, blob):
    return [(doc_id, *extract_pdf_text(bytes(blob)))]


def extract_text_df(pdfs: DataFrame) -> DataFrame:
    """Arrow-batched map over (doc_id, pdf) binary columns."""
    return map_rows(pdfs.select("doc_id", "pdf"), ["doc_id", "pdf"],
                    PDF_TEXT_SCHEMA, _pdf_text_row)


def pdf_extract_text(spark, sf_dir: str) -> DataFrame:
    """Query entry: synthesize PDFs, extract text + per-doc stats."""
    return extract_text_df(pdf_df(spark, sf_dir))


def pdf_extract_oracle_sql() -> str:
    """DuckDB mirror: the expected extracted text is the same 8-word wrap of
    the source text, computed relationally — an independent pin on the
    whole binary round-trip (synthesis offsets, stream scan, tokenizer,
    escape handling, line assembly)."""
    return f"""
      with lines as (
        select doc_id, {_lines_expr(True)} as ls
        from (select doc_id, string_split(text, ' ') as ws from documents)
      )
      select doc_id,
             array_to_string(ls, chr(10)) as text,
             cast(1 as bigint) as n_pages,
             cast(len(ls) as bigint) as n_text_shows,
             case when doc_id % 2 = 0 then 'table' else 'stream' end
               as xref_kind,
             cast(case when doc_id % 2 = 0 then 0 else 4 end as bigint)
               as n_objstm_objs
      from lines
      order by doc_id
    """
