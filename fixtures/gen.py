"""Deterministic synthetic PDF + HTML fixture corpus.

Byte-stable builders (no RNG, no timestamps) for every case in
FIXTURES.md §2-3.  Each PDF case exercises a cited reference
behavior: classic xref tables, xref streams + ObjStm (PDF 1.5),
incremental-update Prev chains, Flate/ASCIIHex filter chains, nested
page trees with a deliberately wrong /Count, Contents arrays,
indirect /Length, WinAnsi/MacRoman bytes, Type0 ToUnicode CMaps
(bfchar + both bfrange forms), the full text-positioning operator set,
table/heading/paragraph layouts, string escapes, and malformed-doc
error cases.  The heavy-tail case produces a multi-page, multi-MB
document for skew-routing tests.
"""

from __future__ import annotations

import zlib


class PdfBuilder:
    """Minimal deterministic PDF 1.4 writer with a classic xref table."""

    def __init__(self, version: str = "1.4"):
        self.objects: dict[int, bytes] = {}
        self.version = version

    def add(self, num: int, body: bytes) -> int:
        self.objects[num] = body
        return num

    def add_stream(self, num: int, dict_extra: bytes, payload: bytes,
                   filters: bytes | None = None) -> int:
        fpart = b" /Filter " + filters if filters else b""
        body = (b"<< /Length %d%s %s >>\nstream\n" % (len(payload), fpart, dict_extra)
                + payload + b"\nendstream")
        return self.add(num, body)

    def build(self) -> bytes:
        out = bytearray(b"%PDF-" + self.version.encode() + b"\n")
        offsets: dict[int, int] = {}
        for num in sorted(self.objects):
            offsets[num] = len(out)
            out += b"%d 0 obj\n" % num + self.objects[num] + b"\nendobj\n"
        xref_off = len(out)
        maxnum = max(self.objects) if self.objects else 0
        out += b"xref\n0 %d\n" % (maxnum + 1)
        out += b"0000000000 65535 f \n"
        for num in range(1, maxnum + 1):
            if num in offsets:
                out += b"%010d 00000 n \n" % offsets[num]
            else:
                out += b"0000000000 65535 f \n"
        out += (b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
                % (maxnum + 1, xref_off))
        return bytes(out)


def _single_page(content: bytes, *, filters: bytes | None = None,
                 payload: bytes | None = None, font_extra: bytes = b"",
                 resources: bytes | None = None) -> bytes:
    b = PdfBuilder()
    b.add(1, b"<< /Type /Catalog /Pages 2 0 R >>")
    b.add(2, b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>")
    res = resources if resources is not None else (
        b"/Resources << /Font << /F1 5 0 R >> >>")
    b.add(3, b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
             b"/Contents 4 0 R " + res + b" >>")
    b.add_stream(4, b"", payload if payload is not None else content, filters)
    b.add(5, b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica" + font_extra + b" >>")
    return b.build()


def _simple_content(lines: list[tuple[float, float, float, str]]) -> bytes:
    """(x, y, size, text) rows → absolute-positioned Tj content."""
    parts = [b"BT"]
    for x, y, size, text in lines:
        esc = text.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")
        parts.append(b"/F1 %s Tf" % _num(size))
        parts.append(b"1 0 0 1 %s %s Tm" % (_num(x), _num(y)))
        parts.append(b"(%s) Tj" % esc.encode("latin-1"))
    parts.append(b"ET")
    return b" ".join(parts)


def _num(v: float) -> bytes:
    s = f"{v:g}"
    return s.encode()


# ---------------------------------------------------------------- PDF cases


def case_min_uncompressed() -> bytes:
    return _single_page(b"BT /F1 12 Tf 100 700 Td (Hello World) Tj ET")


def case_td_lines() -> bytes:
    return _single_page(
        b"BT /F1 10 Tf 50 500 Td (First line of the document body here) Tj "
        b"0 -20 Td (Second line of the document body here) Tj ET"
    )


def case_tj_merge() -> bytes:
    return _single_page(b"BT /F1 12 Tf 100 700 Td [(Hello) -100 (World)] TJ ET")


def case_tj_split() -> bytes:
    return _single_page(b"BT /F1 12 Tf 100 700 Td [(Hello) -2000 (World)] TJ ET")


def case_tm_tstar_quote() -> bytes:
    return _single_page(
        b"BT /F1 12 Tf 14 TL 1 0 0 1 72 720 Tm (Line one via Tm position) Tj "
        b"T* (Line two via T star) Tj "
        b"(Line three via apostrophe) ' "
        b"2 1 (Line four via double quote) \" ET"
    )


def case_flate_stream() -> bytes:
    content = _simple_content([
        (72, 720, 12, "Compressed content stream text line."),
        (72, 704, 12, "It inflates through FlateDecode."),
    ])
    return _single_page(content, filters=b"/FlateDecode", payload=zlib.compress(content))


def case_asciihex_stream() -> bytes:
    content = b"BT /F1 12 Tf 100 700 Td (Hex encoded stream) Tj ET"
    hexed = content.hex().upper().encode()
    # inject whitespace and use the odd-nibble pad rule end marker
    spaced = b" ".join(hexed[i:i + 8] for i in range(0, len(hexed), 8)) + b">"
    return _single_page(content, filters=b"/ASCIIHexDecode", payload=spaced)


def case_filter_chain() -> bytes:
    content = b"BT /F1 12 Tf 100 700 Td (Chained filters content) Tj ET"
    # applied in array order: first ASCIIHexDecode, then FlateDecode
    payload = zlib.compress(content).hex().upper().encode() + b">"
    return _single_page(content, filters=b"[/ASCIIHexDecode /FlateDecode]",
                        payload=payload)


def case_multipage_nested() -> bytes:
    b = PdfBuilder()
    b.add(1, b"<< /Type /Catalog /Pages 2 0 R >>")
    # /Count deliberately wrong (reference counts leaves, document.rs:642-645)
    b.add(2, b"<< /Type /Pages /Kids [3 0 R 6 0 R] /Count 99 >>")
    b.add(3, b"<< /Type /Pages /Kids [4 0 R 8 0 R] /Count 1 >>")
    b.add(4, b"<< /Type /Page /Parent 3 0 R /MediaBox [0 0 612 792] /Contents 5 0 R >>")
    b.add_stream(5, b"", b"BT /F1 12 Tf 72 720 Td (Page one content) Tj ET")
    b.add(6, b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Contents 7 0 R >>")
    b.add_stream(7, b"", b"BT /F1 12 Tf 72 720 Td (Page three content) Tj ET")
    b.add(8, b"<< /Type /Page /Parent 3 0 R /MediaBox [0 0 612 792] /Contents 9 0 R >>")
    b.add_stream(9, b"", b"BT /F1 12 Tf 72 720 Td (Page two content) Tj ET")
    return b.build()


def case_contents_array() -> bytes:
    b = PdfBuilder()
    b.add(1, b"<< /Type /Catalog /Pages 2 0 R >>")
    b.add(2, b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>")
    b.add(3, b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
             b"/Contents [4 0 R 5 0 R] >>")
    # split MID-TOKEN: the '\n' the reference injects between streams
    # (document.rs:735) is what makes this tokenize correctly
    b.add_stream(4, b"", b"BT /F1 12 Tf 72 720 Td (Joined across")
    b.add_stream(5, b"", b"streams) Tj ET")
    return b.build()


def case_incremental_prev() -> bytes:
    """Original doc + incremental update appending a replacement page
    content; the update's xref has a /Prev to the original table
    (document.rs:90-141)."""
    base_builder = PdfBuilder()
    base_builder.add(1, b"<< /Type /Catalog /Pages 2 0 R >>")
    base_builder.add(2, b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>")
    base_builder.add(3, b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Contents 4 0 R >>")
    base_builder.add_stream(4, b"", b"BT /F1 12 Tf 72 720 Td (Original content) Tj ET")
    base = base_builder.build()
    # '\nxref\n' so we don't match the 'xref' inside 'startxref'
    base_xref_off = base.rfind(b"\nxref\n") + 1

    # appended section: new object 4 (replacement content stream)
    new_content = b"BT /F1 12 Tf 72 720 Td (Updated content) Tj ET"
    add = bytearray(base)
    obj4_off = len(add)
    add += (b"4 0 obj\n<< /Length %d >>\nstream\n" % len(new_content)
            + new_content + b"\nendstream\nendobj\n")
    new_xref_off = len(add)
    add += b"xref\n4 1\n%010d 00000 n \n" % obj4_off
    add += (b"trailer\n<< /Size 5 /Root 1 0 R /Prev %d >>\nstartxref\n%d\n%%%%EOF\n"
            % (base_xref_off, new_xref_off))
    return bytes(add)


def case_xrefstream_objstm() -> bytes:
    """PDF 1.5: catalog/pages/page dicts compressed inside an /ObjStm,
    indexed by an xref STREAM with /W [1 2 1] (document.rs:298-446,
    535-611)."""
    content = b"BT /F1 12 Tf 72 720 Td (Object stream page) Tj ET"

    # objects 1..3 live inside object stream 5 at indices 0..2
    inner = [
        (1, b"<< /Type /Catalog /Pages 2 0 R >>"),
        (2, b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>"),
        (3, b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Contents 4 0 R >>"),
    ]
    bodies = b""
    header_pairs = []
    for num, body in inner:
        header_pairs.append(b"%d %d" % (num, len(bodies)))
        bodies += body + b" "
    header = b" ".join(header_pairs) + b"\n"
    objstm_payload = header + bodies
    first = len(header)

    out = bytearray(b"%PDF-1.5\n")
    offsets = {}

    offsets[4] = len(out)
    out += (b"4 0 obj\n<< /Length %d >>\nstream\n" % len(content)
            + content + b"\nendstream\nendobj\n")

    compressed = zlib.compress(objstm_payload)
    offsets[5] = len(out)
    out += (b"5 0 obj\n<< /Type /ObjStm /N 3 /First %d /Length %d /Filter /FlateDecode >>\n"
            b"stream\n" % (first, len(compressed)) + compressed + b"\nendstream\nendobj\n")

    # xref stream object 6: entries for objects 0-6
    xref_off_placeholder = len(out)
    rows = []
    rows.append((0, 0, 0))                     # 0: free
    rows.append((2, 5, 0))                     # 1: in ObjStm 5 idx 0
    rows.append((2, 5, 1))                     # 2: idx 1
    rows.append((2, 5, 2))                     # 3: idx 2
    rows.append((1, offsets[4], 0))            # 4: regular
    rows.append((1, offsets[5], 0))            # 5: regular
    rows.append((1, xref_off_placeholder, 0))  # 6: the xref stream itself
    data = bytearray()
    for t, f2, f3 in rows:
        data += bytes([t]) + f2.to_bytes(2, "big") + f3.to_bytes(1, "big")
    xdata = zlib.compress(bytes(data))
    out += (b"6 0 obj\n<< /Type /XRef /Size 7 /W [1 2 1] /Root 1 0 R "
            b"/Filter /FlateDecode /Length %d >>\nstream\n" % len(xdata)
            + xdata + b"\nendstream\nendobj\n")
    out += b"startxref\n%d\n%%%%EOF\n" % xref_off_placeholder
    return bytes(out)


def case_length_indirect() -> bytes:
    b = PdfBuilder()
    b.add(1, b"<< /Type /Catalog /Pages 2 0 R >>")
    b.add(2, b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>")
    b.add(3, b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Contents 4 0 R >>")
    content = b"BT /F1 12 Tf 72 720 Td (Indirect length stream) Tj ET"
    b.add(4, b"<< /Length 5 0 R >>\nstream\n" + content + b"\nendstream")
    b.add(5, b"%d" % len(content))
    return b.build()


def case_winansi() -> bytes:
    # 0x93/0x94 curly quotes, 0x97 em dash, 0xE9 é via WinAnsi
    content = b"BT /F1 12 Tf 72 720 Td (\x93Quoted\x94 \x97 caf\xe9) Tj ET"
    return _single_page(content, font_extra=b" /Encoding /WinAnsiEncoding")


def case_macroman() -> bytes:
    # 0x8E é, 0xA5 bullet, 0xD0 en dash in MacRoman
    content = b"BT /F1 12 Tf 72 720 Td (caf\x8e \xa5 dash\xd0here) Tj ET"
    return _single_page(content, font_extra=b" /Encoding /MacRomanEncoding")


def case_type0_tounicode() -> bytes:
    cmap = (b"/CIDInit /ProcSet findresource begin\n"
            b"begincmap\n"
            b"2 beginbfchar\n<0041> <0048>\n<0042> <0065>\nendbfchar\n"
            b"1 beginbfrange\n<0050> <0052> <006C>\nendbfrange\n"
            b"1 beginbfrange\n<0060> <0061> [<0021> <003F>]\nendbfrange\n"
            b"endcmap end\n")
    b = PdfBuilder()
    b.add(1, b"<< /Type /Catalog /Pages 2 0 R >>")
    b.add(2, b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>")
    b.add(3, b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Contents 4 0 R "
             b"/Resources << /Font << /F1 5 0 R >> >> >>")
    # CIDs: 0041→H 0042→e 0050→l 0051→m 0052→n 0060→! 0061→?
    content = (b"BT /F1 12 Tf 72 720 Td "
               b"<0041 0042 0050 0050 0051 0052 0060 0061> Tj ET")
    b.add_stream(4, b"", content)
    b.add(5, b"<< /Type /Font /Subtype /Type0 /BaseFont /Test /ToUnicode 6 0 R >>")
    b.add_stream(6, b"", cmap)
    return b.build()


def case_table_page() -> bytes:
    rows = [
        (720, ["Date", "Description", "Amount", "Balance"]),
        (700, ["2024-01-02", "Opening deposit", "1000.00", "1000.00"]),
        (680, ["2024-01-05", "Grocery store", "-42.50", "957.50"]),
        (660, ["2024-01-09", "Salary payment", "2500.00", "3457.50"]),
        (640, ["2024-01-12", "Utility bill", "-120.00", "3337.50"]),
    ]
    xs = [60, 160, 360, 470]
    lines = []
    for y, cells in rows:
        for x, cell in zip(xs, cells):
            lines.append((x, y, 10, cell))
    return _single_page(_simple_content(lines))


def case_headings_page() -> bytes:
    lines = [
        (72, 740, 24, "Document Title Here"),
        (72, 700, 17, "Section Heading Text"),
        (72, 670, 16, "Subsection Heading"),
        (72, 640, 12, "Body paragraph text that forms the bulk of the page and"),
        (72, 624, 12, "continues across multiple adjacent lines of normal prose."),
        (72, 608, 12, "Third body line keeps the body font dominant by chars."),
    ]
    return _single_page(_simple_content(lines))


def case_paragraph_gaps() -> bytes:
    lines = [
        (72, 700, 12, "First paragraph line one with sufficient words."),
        (72, 684, 12, "First paragraph line two continues the thought."),
        # gap of 40 > 12*1.5=18 → paragraph break (layout.rs:228-237)
        (72, 644, 12, "Second paragraph starts after a large vertical gap."),
        (72, 628, 12, "Second paragraph line two completes the fixture."),
    ]
    return _single_page(_simple_content(lines))


def case_string_escapes() -> bytes:
    content = (b"BT /F1 12 Tf 72 720 Td "
               b"(Escapes: \\(parens\\) \\\\back \\164ab octal A\\101 nested (inner) done) Tj "
               b"0 -20 Td <48657820737472696E67> Tj ET")
    return _single_page(content)


def case_malformed_header() -> bytes:
    return b"GIF89a not a pdf %PDF- nope"


def case_malformed_eof() -> bytes:
    return b"%PDF-1.4\nno startxref marker anywhere in this tail"


def case_malformed_xref() -> bytes:
    return b"%PDF-1.4\nxref garbage\nstartxref\n9\n%%EOF\n"


def case_malformed_filter() -> bytes:
    content = b"BT /F1 12 Tf 72 720 Td (hidden) Tj ET"
    return _single_page(content, filters=b"/LZWDecode", payload=content)


def case_heavy_tail(n_pages: int = 60) -> bytes:
    """Multi-page, ~1 MB+ document for skew-routing tests."""
    b = PdfBuilder()
    b.add(1, b"<< /Type /Catalog /Pages 2 0 R >>")
    kids = b" ".join(b"%d 0 R" % (3 + 2 * i) for i in range(n_pages))
    b.add(2, b"<< /Type /Pages /Kids [" + kids + b"] /Count %d >>" % n_pages)
    for i in range(n_pages):
        page_num = 3 + 2 * i
        stream_num = page_num + 1
        b.add(page_num,
              b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
              b"/Contents %d 0 R >>" % stream_num)
        lines = []
        for j in range(40):
            y = 740 - 16 * j
            lines.append((72, y, 12,
                          f"Page {i + 1} body line {j + 1} with deterministic filler "
                          f"text token{j:03d} token{(i * 40 + j) % 97:03d} end."))
        content = _simple_content(lines)
        b.add_stream(stream_num, b"", content, filters=b"/FlateDecode")
        b.objects[stream_num] = (
            b"<< /Length %d /Filter /FlateDecode >>\nstream\n" % len(zlib.compress(content))
            + zlib.compress(content) + b"\nendstream")
    return b.build()


PDF_CASES = {
    "min-uncompressed": case_min_uncompressed,
    "td-lines": case_td_lines,
    "tj-merge": case_tj_merge,
    "tj-split": case_tj_split,
    "tm-tstar-quote": case_tm_tstar_quote,
    "flate-stream": case_flate_stream,
    "asciihex-stream": case_asciihex_stream,
    "filter-chain": case_filter_chain,
    "multipage-nested": case_multipage_nested,
    "contents-array": case_contents_array,
    "incremental-prev": case_incremental_prev,
    "xrefstream-objstm": case_xrefstream_objstm,
    "length-indirect": case_length_indirect,
    "winansi": case_winansi,
    "macroman": case_macroman,
    "type0-tounicode": case_type0_tounicode,
    "table-page": case_table_page,
    "headings-page": case_headings_page,
    "paragraph-gaps": case_paragraph_gaps,
    "string-escapes": case_string_escapes,
    "malformed-header": case_malformed_header,
    "malformed-eof": case_malformed_eof,
    "malformed-xref": case_malformed_xref,
    "malformed-filter": case_malformed_filter,
    "heavy-tail": case_heavy_tail,
}

def build_pdf_corpus() -> dict[str, bytes]:
    return {case_id: fn() for case_id, fn in PDF_CASES.items()}


# ------------------------------------------- extended-filter PDF cases
#
# Fixtures for the opt-in decode extension (engine/filters.py
# ``extended=True``): real-corpus filters the reference errors on
# (decode/mod.rs:45-51).  Deliberately NOT in PDF_CASES: the default
# corpus stays reference-faithful for byte-identity/differential fuzz.
# Each case returns (encoded_pdf, plain_pdf) built from the SAME
# content, so tests can assert extended(encoded) == default(plain).


def _lzw_encode(data: bytes, early: int = 1) -> bytes:
    """PDF-variant LZW encoder (9→12-bit MSB-first codes, 256=clear,
    257=EOD) — fixture-side twin of filters.lzw_decode; width bumps one
    entry early so decoder/encoder stay in lockstep."""
    table: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    next_code = 258
    width = 9
    acc = nbits = 0
    out = bytearray()

    def emit(code: int) -> None:
        nonlocal acc, nbits
        acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            nbits -= 8
            out.append((acc >> nbits) & 0xFF)

    emit(256)
    w = b""
    for ch in data:
        c = bytes([ch])
        if w + c in table:
            w += c
            continue
        emit(table[w])
        table[w + c] = next_code
        next_code += 1
        # decoder widens when ITS table (one entry behind ours) plus
        # early_change reaches 2^width — hence next_code - 1 here
        if (next_code - 1) + early >= (1 << width) and width < 12:
            width += 1
        w = c
    if w:
        emit(table[w])
    emit(257)
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def _a85_encode(data: bytes) -> bytes:
    out = bytearray()
    for i in range(0, len(data), 4):
        chunk = data[i:i + 4]
        k = len(chunk)
        v = int.from_bytes(chunk + b"\x00" * (4 - k), "big")
        if v == 0 and k == 4:
            out += b"z"
            continue
        digits = bytearray(5)
        for j in range(4, -1, -1):
            digits[j] = 0x21 + v % 85
            v //= 85
        out += digits[: k + 1]
    return bytes(out) + b"~>"


def _rl_encode(data: bytes) -> bytes:
    """Naive RunLengthDecode inverse: literal chunks of ≤128 bytes,
    plus one real run so the repeat branch is exercised."""
    out = bytearray()
    i = 0
    while i < len(data):
        # find a run of ≥3 identical bytes
        j = i
        while j < len(data) and j - i < 127 and data[j] == data[i]:
            j += 1
        if j - i >= 3:
            out += bytes([257 - (j - i), data[i]])
            i = j
            continue
        # literal up to next run or 128 bytes
        lit_end = min(len(data), i + 128)
        k = i + 1
        while k < lit_end - 2:
            if data[k] == data[k + 1] == data[k + 2]:
                break
            k += 1
        else:
            k = lit_end
        out += bytes([k - i - 1]) + data[i:k]
        i = k
    return bytes(out) + b"\x80"


def _png_predict(data: bytes, rowlen: int, bpp: int = 1) -> bytes:
    """Forward PNG-predictor transform cycling filter tags
    0/1/2/3/4 per row, so every decoder branch is exercised."""
    out = bytearray()
    prior = bytes(rowlen)
    tags = [0, 1, 2, 3, 4]
    for r, r0 in enumerate(range(0, len(data), rowlen)):
        row = data[r0:r0 + rowlen]
        if len(row) < rowlen:
            row = row + bytes(rowlen - len(row))
        tag = tags[r % len(tags)]
        enc = bytearray(row)
        if tag == 1:
            for j in range(rowlen - 1, bpp - 1, -1):
                enc[j] = (enc[j] - row[j - bpp]) & 0xFF
        elif tag == 2:
            for j in range(rowlen):
                enc[j] = (enc[j] - prior[j]) & 0xFF
        elif tag == 3:
            for j in range(rowlen):
                left = row[j - bpp] if j >= bpp else 0
                enc[j] = (enc[j] - ((left + prior[j]) >> 1)) & 0xFF
        elif tag == 4:
            from pdf_parser_spark.engine.filters import _paeth

            for j in range(rowlen):
                left = row[j - bpp] if j >= bpp else 0
                ul = prior[j - bpp] if j >= bpp else 0
                enc[j] = (enc[j] - _paeth(left, prior[j], ul)) & 0xFF
        out += bytes([tag]) + enc
        prior = row
    return bytes(out)


_EXT_CONTENT = _simple_content([
    (72, 720, 12, "Extended filter content line one."),
    (72, 704, 12, "It decodes only in extended mode."),
])


def case_ext_lzw() -> tuple[bytes, bytes]:
    enc = _single_page(_EXT_CONTENT, filters=b"/LZWDecode",
                       payload=_lzw_encode(_EXT_CONTENT))
    return enc, _single_page(_EXT_CONTENT)


def case_ext_ascii85() -> tuple[bytes, bytes]:
    enc = _single_page(_EXT_CONTENT, filters=b"/ASCII85Decode",
                       payload=_a85_encode(_EXT_CONTENT))
    return enc, _single_page(_EXT_CONTENT)


def case_ext_runlength() -> tuple[bytes, bytes]:
    content = _simple_content([
        (72, 720, 12, "Run length encoded" + "!" * 40),
        (72, 704, 12, "with literal spans too."),
    ])
    enc = _single_page(content, filters=b"/RunLengthDecode",
                       payload=_rl_encode(content))
    return enc, _single_page(content)


def case_ext_chain() -> tuple[bytes, bytes]:
    """[/ASCII85Decode /LZWDecode] applied in array order on decode."""
    payload = _a85_encode(_lzw_encode(_EXT_CONTENT))
    enc = _single_page(_EXT_CONTENT,
                       filters=b"[/ASCII85Decode /LZWDecode]",
                       payload=payload)
    return enc, _single_page(_EXT_CONTENT)


def case_ext_flate_predictor() -> tuple[bytes, bytes]:
    """FlateDecode + PNG /Predictor 12 on the content stream (the
    DecodeParms shape real generators emit for xref streams)."""
    rowlen = 24
    predicted = _png_predict(_EXT_CONTENT, rowlen)
    b = PdfBuilder()
    b.add(1, b"<< /Type /Catalog /Pages 2 0 R >>")
    b.add(2, b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>")
    b.add(3, b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
             b"/Contents 4 0 R /Resources << /Font << /F1 5 0 R >> >> >>")
    # NOTE: the predictor pads the tail row with NULs; harmless for a
    # content stream (NUL is whitespace to the lexer)
    b.add_stream(4, b"/DecodeParms << /Predictor 12 /Columns %d >>" % rowlen,
                 zlib.compress(predicted), filters=b"/FlateDecode")
    b.add(5, b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    return b.build(), _single_page(_EXT_CONTENT)


def case_ext_lzw_early0() -> tuple[bytes, bytes]:
    """LZW with /EarlyChange 0 in DecodeParms (and a payload long
    enough to cross the 9→10-bit width boundary, where early-change
    disagreement corrupts output)."""
    content = _simple_content([
        (72, 720 - 14 * i, 10, f"Width boundary crossing line {i} "
                               f"with enough entropy {i * 37 % 101}")
        for i in range(12)
    ])
    b = PdfBuilder()
    b.add(1, b"<< /Type /Catalog /Pages 2 0 R >>")
    b.add(2, b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>")
    b.add(3, b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
             b"/Contents 4 0 R /Resources << /Font << /F1 5 0 R >> >> >>")
    b.add_stream(4, b"/DecodeParms << /EarlyChange 0 >>",
                 _lzw_encode(content, early=0), filters=b"/LZWDecode")
    b.add(5, b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    return b.build(), _single_page(content)


def case_ext_xrefstream_predictor() -> tuple[bytes, bytes]:
    """Xref STREAM whose entry table is Flate + PNG Predictor 12 —
    the single most common real-corpus pattern the reference cannot
    read (every Acrobat/libharu PDF 1.5+ writer emits this)."""
    content = b"BT /F1 12 Tf 72 720 Td (Predictored xref page) Tj ET"
    plain = _single_page(content)

    out = bytearray(b"%PDF-1.5\n")
    offsets = {}
    for num, body in (
        (1, b"<< /Type /Catalog /Pages 2 0 R >>"),
        (2, b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>"),
        (3, b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Contents 4 0 R >>"),
    ):
        offsets[num] = len(out)
        out += b"%d 0 obj\n" % num + body + b"\nendobj\n"
    offsets[4] = len(out)
    out += (b"4 0 obj\n<< /Length %d >>\nstream\n" % len(content)
            + content + b"\nendstream\nendobj\n")

    xref_off = len(out)
    rows = [(0, 0, 0)] + [(1, offsets[n], 0) for n in (1, 2, 3, 4)]
    rows.append((1, xref_off, 0))  # object 5: the xref stream itself
    entry = bytearray()
    for t, f2, f3 in rows:
        entry += bytes([t]) + f2.to_bytes(2, "big") + f3.to_bytes(1, "big")
    rowlen = 4  # W = [1 2 1]
    xdata = zlib.compress(_png_predict(bytes(entry), rowlen))
    out += (b"5 0 obj\n<< /Type /XRef /Size 6 /W [1 2 1] /Root 1 0 R "
            b"/Filter /FlateDecode "
            b"/DecodeParms << /Predictor 12 /Columns %d >> "
            b"/Length %d >>\nstream\n" % (rowlen, len(xdata))
            + xdata + b"\nendstream\nendobj\n")
    out += b"startxref\n%d\n%%%%EOF\n" % xref_off
    return bytes(out), plain


EXTENDED_PDF_CASES = {
    "ext-lzw": case_ext_lzw,
    "ext-ascii85": case_ext_ascii85,
    "ext-runlength": case_ext_runlength,
    "ext-chain": case_ext_chain,
    "ext-flate-predictor": case_ext_flate_predictor,
    "ext-lzw-early0": case_ext_lzw_early0,
    "ext-xrefstream-predictor": case_ext_xrefstream_predictor,
}


def build_extended_corpus() -> dict[str, tuple[bytes, bytes]]:
    """case_id → (encoded_pdf, plain twin with identical text)."""
    return {case_id: fn() for case_id, fn in EXTENDED_PDF_CASES.items()}


# ---------------------------------------------------------------- HTML cases


def case_html_article() -> bytes:
    return (
        b"<html><head><title>Site</title><style>p{margin:0}</style></head><body>"
        b"<nav><a href='/'>Home</a> <a href='/a'>Archive</a> <a href='/c'>Contact</a></nav>"
        b"<article><h1>Understanding Distributed Extraction</h1>"
        b"<p>Main-content extraction at web scale requires separating the article "
        b"body from the navigation, advertising and footer boilerplate around it.</p>"
        b"<p>Shallow text features such as word count and link density turn out to "
        b"be remarkably effective for this classification task in practice.</p></article>"
        b"<aside><a href='/x'>Related one</a> <a href='/y'>Related two</a></aside>"
        b"<footer>Copyright 2026 Example Site. All rights reserved.</footer>"
        b"</body></html>"
    )


def case_html_link_dense() -> bytes:
    links = b" ".join(b"<a href='/p%d'>Popular post %d</a>" % (i, i) for i in range(12))
    return (
        b"<html><body><div class='widget'>" + links + b"</div>"
        b"<div><p>The only real content on this page is this single paragraph "
        b"of sufficient length that the classifier must keep despite the noise.</p></div>"
        b"<div class='tags'>" + links + b"</div></body></html>"
    )


def case_html_table() -> bytes:
    return (
        b"<html><body><main><h2>Quarterly Results Table</h2>"
        b"<p>The table below summarizes quarterly revenue figures for the "
        b"reporting period with comparisons against the prior year baseline.</p>"
        b"<table><tr><td>Q1</td><td>100</td></tr><tr><td>Q2</td><td>120</td></tr></table>"
        b"<p>Revenue grew steadily across both quarters according to the table, "
        b"which analysts attribute to seasonal demand and improved retention.</p>"
        b"</main></body></html>"
    )


def case_html_megapage(n_sections: int = 2000) -> bytes:
    parts = [b"<html><body><nav><a href='/'>Home</a></nav><main>"]
    for i in range(n_sections):
        parts.append(
            b"<h3>Section %d heading text</h3><p>Deterministic section %d body "
            b"paragraph with enough repeated filler words to classify as content "
            b"block number %d in the megapage heavy-tail fixture.</p>" % (i, i, i)
        )
    parts.append(b"</main><footer>footer boilerplate</footer></body></html>")
    return b"".join(parts)


HTML_CASES = {
    "article-simple": case_html_article,
    "link-dense": case_html_link_dense,
    "table-html": case_html_table,
    "megapage": case_html_megapage,
}


def build_html_corpus() -> dict[str, bytes]:
    return {case_id: fn() for case_id, fn in HTML_CASES.items()}


def build_pages_rows(scale: int = 1) -> list[tuple[str, int, bytes, str, str]]:
    """Rows for the Common-Crawl-style pages table
    ``(url, warc_ts_micros, html, text, lang)`` — BASELINE.json
    input_hint shape.  ``scale`` repeats the corpus with distinct urls
    (deterministic; no RNG)."""
    pdfs = build_pdf_corpus()
    htmls = build_html_corpus()
    base_ts = 1735689600_000000  # 2025-01-01T00:00:00Z in micros, fixed
    rows = []
    i = 0
    for rep in range(scale):
        for case_id, data in list(pdfs.items()) + list(htmls.items()):
            url = f"https://fixtures.test/{case_id}/{rep}"
            rows.append((url, base_ts + i * 1_000_000, data, "", "en"))
            i += 1
    return rows
