"""Deterministic minimal-PDF writer for fixtures and the synthetic pages table.

Emits classic PDFs (xref table, literal/hex strings, optional /FlateDecode)
restricted to the operator surface the kernel pins (SURVEY.md §2.2):
Tj / TJ-with-kerning / ' / " show ops, Td/TD/T* positioning, BT/ET, one
built-in Helvetica font. No randomness — callers pass content explicitly
or derive it from a seeded RNG of their own.

Fixture matrix: FIXTURES.md §3.
"""

from __future__ import annotations

import re
import struct
import zlib

# ── filter encoders (mirror the kernel's decoders; fixtures only) ───────────


def lzw_encode(data: bytes, early: int = 1) -> bytes:
    """PDF LZWDecode-compatible encoder: MSB-first variable-width codes,
    clear (256) first, EOD (257) last, /EarlyChange width growth.

    Linear time: a multi-byte string is keyed by (prefix code, last
    byte), so growing the current match is one int-keyed lookup. Runs of
    one byte advance a whole table entry at a time: the pure runs of a
    byte in the table are always b, bb, …, b^M (each is added as the
    longest one plus b), so a run can jump straight to the longest entry
    it covers."""
    out = bytearray()
    buf = 0
    bits = 0
    width = 9

    def emit(code: int) -> None:
        nonlocal buf, bits
        buf = (buf << width) | code
        bits += width
        while bits >= 8:
            bits -= 8
            out.append((buf >> bits) & 0xFF)
        buf &= (1 << bits) - 1

    table: dict[int, int] = {}      # (prefix << 8) | byte → code, 2+ bytes
    runs: dict[int, list[int]] = {}  # byte b → codes of b, bb, …, b^M (M ≥ 2)
    next_code = 258

    def miss(w: int, ch: int) -> None:
        """The current match w cannot grow by ch: emit it, add w + ch."""
        nonlocal table, runs, next_code, width
        emit(w)
        if next_code >= 4095:  # table full: clear and restart
            emit(256)
            table, runs = {}, {}
            next_code = 258
            width = 9
            return
        table[(w << 8) | ch] = next_code
        run = runs.get(ch)
        if (run[-1] if run else ch) == w:  # w is ch^M, so this is ch^(M+1)
            if run is None:
                runs[ch] = run = [ch]
            run.append(next_code)
        next_code += 1
        # the decoder's table lags the encoder's by exactly one entry
        # (its first post-clear code adds none), so the encoder widens
        # one entry later than its own next_code would suggest
        if next_code - 1 >= (1 << width) - early and width < 12:
            width += 1

    emit(256)  # clear
    n = len(data)
    if n:
        w = data[0]
        i = 1
        while i < n:
            ch = data[i]
            c = table.get((w << 8) | ch)
            if c is not None:
                w = c
                i += 1
                continue
            miss(w, ch)
            w = ch
            i += 1
            if i < n and data[i] == ch:
                # w is ch^1 and r more ch bytes follow
                r = re.compile(re.escape(bytes([ch])) + b"+").match(data, i).end() - i
                while r:
                    run = runs.get(ch)
                    m = len(run) if run else 1
                    if r < m:  # ch^(1+r) is in the table
                        w = run[r]
                        i += r
                        break
                    # grow to ch^m; the ch after it misses
                    i += m
                    r -= m
                    miss(run[-1] if run else ch, ch)
                    w = ch
        emit(w)
    emit(257)  # EOD
    if bits:
        out.append((buf << (8 - bits)) & 0xFF)
    return bytes(out)


def asciihex_encode(data: bytes) -> bytes:
    return data.hex().upper().encode("ascii") + b">"


def ascii85_encode(data: bytes) -> bytes:
    out = bytearray()
    for i in range(0, len(data), 4):
        chunk = data[i : i + 4]
        pad = 4 - len(chunk)
        v = int.from_bytes(chunk + b"\x00" * pad, "big")
        digits = []
        for _ in range(5):
            digits.append(v % 85)
            v //= 85
        group = bytes(33 + d for d in reversed(digits))
        if pad == 0 and group == b"!!!!!":
            out += b"z"
        else:
            out += group[: 5 - pad]
    return bytes(out) + b"~>"


def runlength_encode(data: bytes) -> bytes:
    """Literal-only RLE framing (valid, not compact) + EOD byte."""
    out = bytearray()
    for i in range(0, len(data), 128):
        chunk = data[i : i + 128]
        out.append(len(chunk) - 1)
        out += chunk
    out.append(128)  # EOD
    return bytes(out)


def png_predict_up(data: bytes, row_len: int) -> bytes:
    """Apply the PNG Up filter (type 2) row-wise — the standard xref-stream
    predictor (/Predictor 12)."""
    assert len(data) % row_len == 0
    out = bytearray()
    prev = bytes(row_len)
    for i in range(0, len(data), row_len):
        row = data[i : i + row_len]
        out.append(2)
        out += bytes((row[j] - prev[j]) & 0xFF for j in range(row_len))
        prev = row
    return bytes(out)


STREAM_FILTERS = {
    "FlateDecode": zlib.compress,
    "LZWDecode": lzw_encode,
    "ASCIIHexDecode": asciihex_encode,
    "ASCII85Decode": ascii85_encode,
    "RunLengthDecode": runlength_encode,
}


def _esc(s: str) -> bytes:
    b = s.encode("latin-1", errors="replace")
    return b.replace(b"\\", b"\\\\").replace(b"(", b"\\(").replace(b")", b"\\)")


def content_stream_for_lines(lines: list[str], *, style: str = "td") -> bytes:
    """Build one page's content stream showing `lines` top-to-bottom.

    style:
      'td'    — each line break via `0 -14 Td`, show with Tj
      'tstar' — line breaks via `T*` (after a TL leading set)
      'quote' — first line Tj, subsequent lines via the `'` op
      'tj'    — each line shown as a TJ array split mid-word with kerning
                numbers (which the kernel must ignore)
      'dquote'— lines via the `"` op (word/char spacing operands)
    """
    out = [b"BT", b"/F1 12 Tf"]
    if style == "tstar":
        out.append(b"14 TL")
    out.append(b"72 720 Td")
    for i, line in enumerate(lines):
        if style == "td":
            if i > 0:
                out.append(b"0 -14 Td")
            out.append(b"(" + _esc(line) + b") Tj")
        elif style == "tstar":
            if i > 0:
                out.append(b"T*")
            out.append(b"(" + _esc(line) + b") Tj")
        elif style == "quote":
            if i == 0:
                out.append(b"(" + _esc(line) + b") Tj")
            else:
                out.append(b"(" + _esc(line) + b") '")
        elif style == "dquote":
            if i == 0:
                out.append(b"(" + _esc(line) + b") Tj")
            else:
                out.append(b"0.5 0.1 (" + _esc(line) + b') "')
        elif style == "tj":
            if i > 0:
                out.append(b"0 -14 TD")
            mid = max(1, len(line) // 2)
            a, b = line[:mid], line[mid:]
            out.append(b"[(" + _esc(a) + b") -120 (" + _esc(b) + b")] TJ")
        else:
            raise ValueError(f"unknown style {style!r}")
    out.append(b"ET")
    return b"\n".join(out)


DEFAULT_FONT_OBJ = (
    b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica /Encoding /WinAnsiEncoding >>"
)


def build_pdf(page_streams: list[bytes], *, compress: bool = False,
              stream_filter: str | None = None, font_obj: bytes | None = None,
              trailer_extra: bytes = b"", extra_objects: tuple = (),
              resources_extra: bytes = b"") -> bytes:
    """Assemble a complete PDF from per-page content streams.

    Defaults reproduce the round-1 writer byte-for-byte (golden contract).
    `stream_filter` names any STREAM_FILTERS codec for the content streams;
    `font_obj` overrides object 3 (e.g. a /Differences encoding);
    `trailer_extra` is spliced into the trailer dict (e.g. /Encrypt);
    `resources_extra` is spliced into every page's /Resources dict
    (e.g. an /XObject map for form-XObject fixtures)."""
    objects: list[bytes] = []  # 1-indexed body objects

    n_pages = len(page_streams)
    # object numbering: 1=Catalog, 2=Pages, 3=Font, then per page: Page, Contents
    page_obj_nums = [4 + 2 * i for i in range(n_pages)]
    kids = b" ".join(b"%d 0 R" % n for n in page_obj_nums)

    objects.append(b"<< /Type /Catalog /Pages 2 0 R >>")  # 1
    objects.append(
        b"<< /Type /Pages /Kids [" + kids + b"] /Count %d >>" % n_pages
    )  # 2
    objects.append(font_obj if font_obj is not None else DEFAULT_FONT_OBJ)  # 3
    for i, stream in enumerate(page_streams):
        contents_num = page_obj_nums[i] + 1
        objects.append(
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Resources << /Font << /F1 3 0 R >> " + resources_extra
            + b">> /Contents %d 0 R >>" % contents_num
        )
        if stream_filter is not None:
            data = STREAM_FILTERS[stream_filter](stream)
            filt = b"/Filter /" + stream_filter.encode() + b" "
        elif compress:
            data = zlib.compress(stream)
            filt = b"/Filter /FlateDecode "
        else:
            data = stream
            filt = b""
        objects.append(
            b"<< " + filt + b"/Length %d >>\nstream\n" % len(data) + data + b"\nendstream"
        )
    objects.extend(extra_objects)  # numbered after the page objects
    return assemble_classic_xref(objects, trailer_extra=trailer_extra)


def assemble_classic_xref(
    objects: list[bytes],
    *,
    header: bytes = b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n",
    trailer_extra: bytes = b"",
) -> bytes:
    """Shared object-list → bytes assembly (classic xref table).

    ONE copy of the body/xref/trailer framing for build_pdf AND
    build_encrypted_pdf (the two used to carry drifting duplicates —
    r3 review); byte-for-byte identical to the round-1 writer."""
    buf = bytearray(header)
    offsets = [0]  # object 0 is the free head
    for num, body in enumerate(objects, start=1):
        offsets.append(len(buf))
        buf += b"%d 0 obj\n" % num + body + b"\nendobj\n"
    xref_pos = len(buf)
    n_objs = len(objects) + 1
    buf += b"xref\n0 %d\n" % n_objs
    buf += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        buf += b"%010d 00000 n \n" % off
    buf += (
        b"trailer\n<< /Size %d /Root 1 0 R " % n_objs + trailer_extra
        + b">>\nstartxref\n%d\n%%%%EOF\n" % xref_pos
    )
    return bytes(buf)


def build_pdf_xref_stream(page_streams: list[bytes], *, use_objstm: bool = True,
                          compress: bool = True, predictor: int = 12) -> bytes:
    """Assemble a PDF 1.5 file: cross-reference STREAM (/Type /XRef,
    /W [1 4 2], optional PNG-Up predictor) and, with `use_objstm`, all
    non-stream objects packed into one /ObjStm — the layout virtually
    every post-2005 writer produces (what pdfjs reads for the reference)."""
    n_pages = len(page_streams)
    # numbering: 1=Catalog 2=Pages 3=Font, per page i: 4+2i=Page 5+2i=Contents,
    # then S=ObjStm (if used), X=xref stream
    page_nums = [4 + 2 * i for i in range(n_pages)]
    kids = b" ".join(b"%d 0 R" % n for n in page_nums)
    dict_objs: dict[int, bytes] = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [" + kids + b"] /Count %d >>" % n_pages,
        3: DEFAULT_FONT_OBJ,
    }
    for i in range(n_pages):
        dict_objs[page_nums[i]] = (
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Resources << /Font << /F1 3 0 R >> >> /Contents %d 0 R >>"
            % (page_nums[i] + 1)
        )
    stm_num = 4 + 2 * n_pages
    xref_num = stm_num + (1 if use_objstm else 0)
    size = xref_num + 1

    buf = bytearray(b"%PDF-1.5\n%\xe2\xe3\xcf\xd3\n")
    entries: dict[int, tuple[int, int, int]] = {0: (0, 0, 65535)}  # free head

    def write_obj(num: int, body: bytes) -> None:
        entries[num] = (1, len(buf), 0)
        buf.extend(b"%d 0 obj\n" % num + body + b"\nendobj\n")

    def stream_obj(extra: bytes, data: bytes) -> bytes:
        if compress:
            payload = zlib.compress(data)
            filt = b"/Filter /FlateDecode "
        else:
            payload = data
            filt = b""
        return (
            b"<< " + extra + filt + b"/Length %d >>\nstream\n" % len(payload)
            + payload + b"\nendstream"
        )

    # content streams are always regular objects (streams can't live in an ObjStm)
    for i, stream in enumerate(page_streams):
        write_obj(page_nums[i] + 1, stream_obj(b"", stream))

    if use_objstm:
        nums = sorted(dict_objs)
        bodies = [dict_objs[n] + b"\n" for n in nums]
        offs = []
        pos = 0
        for b in bodies:
            offs.append(pos)
            pos += len(b)
        header = b" ".join(b"%d %d" % (n, o) for n, o in zip(nums, offs)) + b"\n"
        payload = header + b"".join(bodies)
        for idx, n in enumerate(nums):
            entries[n] = (2, stm_num, idx)
        write_obj(
            stm_num,
            stream_obj(
                b"/Type /ObjStm /N %d /First %d " % (len(nums), len(header)), payload
            ),
        )
    else:
        for n in sorted(dict_objs):
            write_obj(n, dict_objs[n])

    # xref stream rows: W = [1 4 2], Index [0 Size]
    xref_pos = len(buf)
    entries[xref_num] = (1, xref_pos, 0)
    rows = bytearray()
    for n in range(size):
        t, f2, f3 = entries.get(n, (0, 0, 65535))
        rows += bytes([t]) + f2.to_bytes(4, "big") + f3.to_bytes(2, "big")
    row_len = 7
    parms = b""
    data = bytes(rows)
    if predictor and predictor >= 10:
        data = png_predict_up(data, row_len)
        parms = b"/DecodeParms << /Predictor %d /Columns %d >> " % (predictor, row_len)
    payload = zlib.compress(data) if compress else data
    filt = b"/Filter /FlateDecode " if compress else b""
    buf.extend(
        b"%d 0 obj\n<< /Type /XRef /Size %d /W [1 4 2] /Root 1 0 R " % (xref_num, size)
        + filt + parms + b"/Length %d >>\nstream\n" % len(payload)
        + payload + b"\nendstream\nendobj\n"
    )
    buf.extend(b"startxref\n%d\n%%%%EOF\n" % xref_pos)
    return bytes(buf)


def build_encrypted_xref_stream_pdf(
    page_streams: list[bytes],
    *,
    method: str = "aes_128",
    user_pw: bytes = b"",
    owner_pw: bytes | None = None,
) -> bytes:
    """PDF 1.5+ layout AND standard-security encryption — the modern
    crawl shape (post-2005 writers emit xref streams; many also
    encrypt). Trailer keys (/Root /Encrypt /ID) live ONLY in the XRef
    stream dict (no `trailer` keyword exists), which per §7.5.8.2 is
    never itself encrypted; content streams are encrypted with
    per-object keys, the /Encrypt dict is a regular unencrypted
    object. Exercises the round-5 reconstruction rule that recovery
    must harvest those keys from /Type /XRef dicts (r5 review)."""
    import hashlib

    from pdf_to_text_spark.kernels import crypto

    v, r, bits, cfm = {
        "rc4_128": (2, 3, 128, None),
        "aes_128": (4, 4, 128, b"AESV2"),
    }[method]
    aes = cfm == b"AESV2"
    p = -44
    id0 = hashlib.md5(b"spark-graft-xrefstream-id:" + method.encode()).digest()
    o = crypto.compute_o(user_pw if owner_pw is None else owner_pw,
                         user_pw, r, bits)
    key = crypto.file_key(user_pw, o, p, id0, r, bits)
    u = crypto.compute_u(key, id0, r)

    def enc(num: int, data: bytes) -> bytes:
        okey = crypto.object_key(key, num, 0, aes=aes)
        if aes:
            iv = hashlib.md5(b"xs-fixture-iv:%d" % num).digest()
            return crypto.aes_cbc_encrypt(okey, iv, data)
        return crypto.rc4(okey, data)

    n_pages = len(page_streams)
    page_nums = [4 + 2 * i for i in range(n_pages)]
    kids = b" ".join(b"%d 0 R" % n for n in page_nums)
    dict_objs: dict[int, bytes] = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [" + kids + b"] /Count %d >>" % n_pages,
        3: DEFAULT_FONT_OBJ,
    }
    for i in range(n_pages):
        dict_objs[page_nums[i]] = (
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Resources << /Font << /F1 3 0 R >> >> /Contents %d 0 R >>"
            % (page_nums[i] + 1)
        )
    stm_num = 4 + 2 * n_pages       # the ObjStm
    enc_num = stm_num + 1           # /Encrypt dict (regular, unencrypted)
    xref_num = enc_num + 1
    size = xref_num + 1

    buf = bytearray(b"%PDF-1.5\n%\xe2\xe3\xcf\xd3\n")
    entries: dict[int, tuple[int, int, int]] = {0: (0, 0, 65535)}

    def write_obj(num: int, body: bytes) -> None:
        entries[num] = (1, len(buf), 0)
        buf.extend(b"%d 0 obj\n" % num + body + b"\nendobj\n")

    def stream_obj(num: int, extra: bytes, data: bytes) -> bytes:
        payload = enc(num, zlib.compress(data))
        return (
            b"<< " + extra + b"/Filter /FlateDecode /Length %d >>\nstream\n"
            % len(payload) + payload + b"\nendstream"
        )

    for i, stream in enumerate(page_streams):
        write_obj(page_nums[i] + 1, stream_obj(page_nums[i] + 1, b"", stream))

    nums = sorted(dict_objs)
    bodies = [dict_objs[n] + b"\n" for n in nums]
    offs = []
    pos = 0
    for b in bodies:
        offs.append(pos)
        pos += len(b)
    header = b" ".join(b"%d %d" % (n, oo) for n, oo in zip(nums, offs)) + b"\n"
    for idx, n in enumerate(nums):
        entries[n] = (2, stm_num, idx)
    write_obj(
        stm_num,
        stream_obj(
            stm_num,
            b"/Type /ObjStm /N %d /First %d " % (len(nums), len(header)),
            header + b"".join(bodies),
        ),
    )
    if v == 4:
        extra = (
            b"/Length %d /CF << /StdCF << /CFM /" % bits + cfm
            + b" /AuthEvent /DocOpen /Length 16 >> >> /StmF /StdCF /StrF /StdCF "
        )
    else:
        extra = b"/Length %d " % bits
    write_obj(
        enc_num,
        b"<< /Filter /Standard /V %d /R %d " % (v, r) + extra
        + b"/O <" + o.hex().encode() + b"> /U <" + u.hex().encode() + b"> "
        + b"/P %d >>" % p,
    )

    xref_pos = len(buf)
    entries[xref_num] = (1, xref_pos, 0)
    rows = bytearray()
    for n in range(size):
        t, f2, f3 = entries.get(n, (0, 0, 65535))
        rows += bytes([t]) + f2.to_bytes(4, "big") + f3.to_bytes(2, "big")
    payload = zlib.compress(bytes(rows))
    buf.extend(
        b"%d 0 obj\n<< /Type /XRef /Size %d /W [1 4 2] /Root 1 0 R "
        % (xref_num, size)
        + b"/Encrypt %d 0 R /ID [<%s> <%s>] " % (
            enc_num, id0.hex().encode(), id0.hex().encode())
        + b"/Filter /FlateDecode /Length %d >>\nstream\n" % len(payload)
        + payload + b"\nendstream\nendobj\n"
    )
    buf.extend(b"startxref\n%d\n%%%%EOF\n" % xref_pos)
    return bytes(buf)


def differences_pdf() -> bytes:
    """Font with an /Encoding /Differences override: codes 1,2,3 remap to
    eacute/ntilde/emdash and 'A' (65) to Gamma; the kernel must decode
    through the glyph table while untouched codes stay latin-1."""
    font = (
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
        b"/Encoding << /BaseEncoding /WinAnsiEncoding "
        b"/Differences [ 1 /eacute /ntilde /emdash 65 /Gamma 200 /uni0394 ] >> >>"
    )
    stream = (
        b"BT /F1 12 Tf 72 720 Td (caf\x01 se\x02or \x03 \x41BC \xc8x) Tj ET"
    )
    return build_pdf([stream], font_obj=font)


def tounicode_pdf() -> bytes:
    """Font with a /ToUnicode CMap: bfchar pairs, a contiguous bfrange,
    and an array-destination bfrange (incl. a two-codepoint target).
    ToUnicode overrides win over the base encoding; unmapped codes stay
    latin-1."""
    cmap = (
        b"/CIDInit /ProcSet findresource begin\n12 dict begin\nbegincmap\n"
        b"1 begincodespacerange\n<00> <FF>\nendcodespacerange\n"
        b"2 beginbfchar\n<01> <0041>\n<02> <20AC>\nendbfchar\n"
        b"2 beginbfrange\n"
        b"<10> <12> <0061>\n"
        b"<23> <24> [<00580059> <005A>]\n"
        b"endbfrange\nendcmap\nend end"
    )
    font = (
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica /ToUnicode 6 0 R >>"
    )
    tu_obj = b"<< /Length %d >>\nstream\n" % len(cmap) + cmap + b"\nendstream"
    stream = b"BT /F1 12 Tf 72 720 Td (\x01\x02 \x10\x11\x12 \x23\x24 rest) Tj ET"
    return build_pdf([stream], font_obj=font, extra_objects=(tu_obj,))


def type0_identity_h_pdf() -> bytes:
    """Type0 (CID) font with /Encoding /Identity-H and a 2-byte
    /ToUnicode CMap — the standard embedded-CJK layout. Show strings are
    hex-encoded 2-byte CIDs; the kernel decodes pairwise (unmapped CIDs
    → U+FFFD)."""
    cmap = (
        b"/CIDInit /ProcSet findresource begin\n12 dict begin\nbegincmap\n"
        b"1 begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n"
        b"3 beginbfchar\n<0001> <4F60>\n<0002> <597D>\n<0003> <0020>\nendbfchar\n"
        b"1 beginbfrange\n<0010> <0012> <4E2D>\nendbfrange\n"
        b"endcmap\nend end"
    )
    font = (
        b"<< /Type /Font /Subtype /Type0 /BaseFont /NotoSansCJK "
        b"/Encoding /Identity-H /DescendantFonts "
        b"[<< /Type /Font /Subtype /CIDFontType2 /BaseFont /NotoSansCJK "
        b"/CIDSystemInfo << /Registry (Adobe) /Ordering (Identity) "
        b"/Supplement 0 >> >>] /ToUnicode 6 0 R >>"
    )
    tu_obj = b"<< /Length %d >>\nstream\n" % len(cmap) + cmap + b"\nendstream"
    stream = (
        b"BT /F1 12 Tf 72 720 Td "
        b"<000100020003001000110012> Tj "
        b"0 -14 Td <0001FFFF> Tj ET"
    )
    return build_pdf([stream], font_obj=font, extra_objects=(tu_obj,))


def build_encrypted_pdf(
    page_streams: list[bytes],
    *,
    method: str = "rc4_128",
    user_pw: bytes = b"",
    owner_pw: bytes | None = None,
    compress: bool = False,
) -> bytes:
    """Assemble a standard-security encrypted PDF (§7.6.3).

    Methods: 'rc4_40' (V1 R2), 'rc4_128' (V2 R3 /Length 128),
    'aes_128' (V4 R4 /StdCF /AESV2), 'aes_256' (V5 R6 /StdCF /AESV3,
    ISO 32000-2 — round 4). `owner_pw=None` applies the spec default
    (no owner password → the user password stands in, Algorithm 3);
    pass b"" to emulate the real-writer corner that computes /O from a
    LITERALLY empty owner password — such docs open via the kernel's
    Algorithm-7 owner-side attempt (round 5). Stream payloads are
    encrypted with the per-object key (V≤4) or the file key directly
    (V5); the /Encrypt dict itself is, per spec, not. IVs, salts, and
    the file /ID are deterministic (content-independent hashes) so
    fixtures are byte-stable."""
    import hashlib

    from pdf_to_text_spark.kernels import crypto

    v, r, bits, cfm = {
        "rc4_40": (1, 2, 40, None),
        "rc4_128": (2, 3, 128, None),
        "aes_128": (4, 4, 128, b"AESV2"),
        # legacy writer: V4 crypt filter whose CF /Length holds BITS (40)
        # where the spec says bytes (5-16) — the kernel's pivot must read
        # it as 40-bit RC4
        "rc4_v4_len40": (4, 4, 40, b"V2"),
        "aes_256": (5, 6, 256, b"AESV3"),
    }[method]
    aes = cfm in (b"AESV2", b"AESV3")
    p = -44  # print+copy denied bits clear; the verifier only hashes it
    id0 = hashlib.md5(b"spark-graft-fixture-id:" + method.encode()).digest()
    v5_extra = b""
    if v == 5:
        key = hashlib.sha256(b"spark-graft-aes256-file-key").digest()
        u, ue = crypto.make_u_ue_r6(user_pw, key, b"uvsalt_0", b"uksalt_0", r)
        o, oe = crypto.make_o_oe_r6(b"owner" if owner_pw is None else owner_pw,
                                    key, u, b"ovsalt_0", b"oksalt_0", r)
        perms = crypto.make_perms_r6(p, True, key)
        v5_extra = (
            b"/OE <" + oe.hex().encode() + b"> /UE <" + ue.hex().encode()
            + b"> /Perms <" + perms.hex().encode() + b"> "
        )
    else:
        o = crypto.compute_o(user_pw if owner_pw is None else owner_pw,
                             user_pw, r, bits)
        key = crypto.file_key(user_pw, o, p, id0, r, bits)
        u = crypto.compute_u(key, id0, r)

    def enc(num: int, data: bytes) -> bytes:
        if aes:
            okey = key if v == 5 else crypto.object_key(key, num, 0, aes=True)
            iv = hashlib.md5(b"fixture-iv:%d" % num).digest()
            return crypto.aes128_cbc_encrypt(okey, iv, data)
        return crypto.rc4(crypto.object_key(key, num, 0, aes=False), data)

    n_pages = len(page_streams)
    page_obj_nums = [4 + 2 * i for i in range(n_pages)]
    kids = b" ".join(b"%d 0 R" % n for n in page_obj_nums)
    objects: list[bytes] = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [" + kids + b"] /Count %d >>" % n_pages,
        DEFAULT_FONT_OBJ,
    ]
    for i, stream in enumerate(page_streams):
        contents_num = page_obj_nums[i] + 1
        objects.append(
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Resources << /Font << /F1 3 0 R >> >> /Contents %d 0 R >>" % contents_num
        )
        data = zlib.compress(stream) if compress else stream
        data = enc(contents_num, data)
        filt = b"/Filter /FlateDecode " if compress else b""
        objects.append(
            b"<< " + filt + b"/Length %d >>\nstream\n" % len(data) + data + b"\nendstream"
        )
    enc_num = len(objects) + 1
    if v == 5:
        extra = (
            b"/Length 256 /CF << /StdCF << /CFM /AESV3 /AuthEvent /DocOpen "
            b"/Length 32 >> >> /StmF /StdCF /StrF /StdCF " + v5_extra
        )
    elif v == 4:
        cf_len = 16 if aes else bits  # bytes for AESV2; legacy bits for V2
        extra = (
            b"/Length %d /CF << /StdCF << /CFM /" % bits + cfm
            + b" /AuthEvent /DocOpen "
            b"/Length %d >> >> /StmF /StdCF /StrF /StdCF " % cf_len
        )
    elif v == 2:
        extra = b"/Length %d " % bits
    else:
        extra = b""
    objects.append(
        b"<< /Filter /Standard /V %d /R %d " % (v, r) + extra
        + b"/O <" + o.hex().encode() + b"> /U <" + u.hex().encode() + b"> "
        + b"/P %d >>" % p
    )
    trailer_extra = (
        b"/Encrypt %d 0 R /ID [<%s> <%s>] " % (enc_num, id0.hex().encode(), id0.hex().encode())
    )
    return assemble_classic_xref(
        objects,
        header=b"%PDF-1.6\n%\xe2\xe3\xcf\xd3\n",
        trailer_extra=trailer_extra,
    )


def predefined_cmap_pdf(
    *, used: bool = True, encoding: str = "UniGB-UCS2-H",
    show_hex: bytes = b"4F60597D", tounicode: bool = False,
) -> bytes:
    """Type0 font with a PREDEFINED CID CMap and no /ToUnicode.

    Unicode-coded encodings (the default UniGB-UCS2-H; any Uni*-UCS2/
    UTF16 name) extract as UTF-16BE of `show_hex` (<4F60597D> → 你好) —
    round-4 kernel surface. Common legacy-coded encodings (GBK-EUC-H,
    90ms-RKSJ-H, ETen-B5-H, KSC-EUC-H, …) extract through the stdlib
    codec their codespace names (round 5) — pass show_hex bytes valid in
    that encoding. Encodings outside both families (e.g. Hojo-EUC-H)
    hit the kernel's distinct unsupported_cmap status when `used`;
    without `used` the font is merely embedded and the document still
    extracts. `tounicode` adds a partial /ToUnicode (bfchar entries for
    'H', 'i' and GBK <C4E3> 你) — the common writer shape 'predefined
    legacy CMap + ToUnicode' that used to get mis-paired through the
    fixed 2-byte wide map (r6 review)."""
    tu_ref = b"/ToUnicode 6 0 R " if tounicode else b""
    font = (
        b"<< /Type /Font /Subtype /Type0 /BaseFont /STSong-Light "
        b"/Encoding /" + encoding.encode() + b" " + tu_ref
        + b"/DescendantFonts "
        b"[<< /Type /Font /Subtype /CIDFontType0 /BaseFont /STSong-Light "
        b"/CIDSystemInfo << /Registry (Adobe) /Ordering (GB1) "
        b"/Supplement 2 >> >>] >>"
    )
    if used:
        stream = b"BT /F1 12 Tf 72 720 Td <" + show_hex + b"> Tj ET"
    else:
        stream = b"BT /F1 12 Tf 72 720 Td ET"
    extra = ()
    if tounicode:
        cmap = (
            b"/CIDInit /ProcSet findresource begin\n"
            b"begincmap\n"
            b"5 beginbfchar\n<48> <0048>\n<69> <0069>\n"
            b"<0048> <0048>\n<0069> <0069>\n<C4E3> <4F60>\nendbfchar\n"
            b"endcmap\nend"
        )
        extra = (
            b"<< /Length %d >>\nstream\n" % len(cmap) + cmap + b"\nendstream",
        )
    return build_pdf([stream], font_obj=font, extra_objects=extra)


def encrypted_pdf() -> bytes:
    """Valid structure + /Encrypt in the trailer → PDFEncryptedError
    ('encrypted' row status), never a confusing downstream failure."""
    return build_pdf(
        [content_stream_for_lines(["secret text"])],
        trailer_extra=b"/Encrypt << /Filter /Standard /V 1 /R 2 >> ",
    )


def simple_pdf(pages: list[list[str]], *, style: str = "td", compress: bool = False) -> bytes:
    """pages = list of pages, each a list of text lines."""
    return build_pdf(
        [content_stream_for_lines(p, style=style) for p in pages], compress=compress
    )


def sucursal_report_pdf(n_blocks: int = 25, *, trailing_unterminated: bool = True,
                        compress: bool = True) -> bytes:
    """The full-dataflow fixture (FIXTURES.md §3 `sucursal_report.pdf`).

    Preamble lines (dropped by segmentation), then n_blocks 'Sucursal …'
    blocks each terminated by the total line (src/main.ts:79,94), then
    optionally one trailing unterminated block (kept, src/main.ts:104-106).
    Deterministic content derived from the block index.
    """
    lines: list[str] = ["Reporte de ventas", "Generado: 2024-01-01", ""]
    for i in range(n_blocks):
        lines.append(f"Sucursal {i:03d} - Centro {i % 7}")
        for j in range(1 + i % 3):
            ean = f"{7790000000000 + i * 131 + j:013d}"
            qty = 1 + (i * 7 + j) % 40
            amt = (qty * (100 + i % 50 * 3 + j)) / 10
            lines.append(f"  EAN {ean} cantidad {qty} importe {amt:.2f}")
        total = sum(
            (1 + (i * 7 + j) % 40) * (100 + i % 50 * 3 + j) / 10 for j in range(1 + i % 3)
        )
        lines.append(f"* Total importe en la sucursal: {total:.2f}")
    if trailing_unterminated:
        lines.append("Sucursal 999 - Pendiente")
        lines.append("  EAN 7799999999999 cantidad 5 importe 12.50")
    # paginate ~40 lines per page to exercise the page join too
    pages = [lines[i : i + 40] for i in range(0, len(lines), 40)]
    return simple_pdf(pages, compress=compress)


def form_xobject_pdf(*, self_cycle: bool = False) -> bytes:
    """Body text inside /Subtype /Form XObjects (VERDICT r2 missing #1):
    page text, a `Do` of form /Fx1 (own /Resources: fonts + a nested
    /Fx2), whose content draws text and `Do`s /Fx2; /Fx2 has NO
    /Resources (inherits /Fx1's — the spec-permitted legacy layout).
    With `self_cycle`, /Fx2's resources point back at /Fx1 and its
    content re-`Do`s it — the kernel must cycle-skip, not hang."""
    inner = b"BT /F1 10 Tf 72 470 Td (inner nested line) Tj ET"
    if self_cycle:
        inner += b"\n/Fx1 Do"
    outer = (
        b"BT /F1 11 Tf 72 520 Td (outer form line one) Tj 0 -14 Td "
        b"(outer form line two) Tj ET\n/Fx2 Do\n"
        b"BT /F1 11 Tf 72 440 Td (outer after inner) Tj ET"
    )
    outer_res = b"/Font << /F1 3 0 R >> /XObject << /Fx2 7 0 R >>"
    if self_cycle:
        outer_res = b"/Font << /F1 3 0 R >> /XObject << /Fx2 7 0 R /Fx1 6 0 R >>"
    outer_obj = (
        b"<< /Type /XObject /Subtype /Form /BBox [0 0 612 792] "
        b"/Resources << " + outer_res + b" >> /Length %d >>\nstream\n" % len(outer)
        + outer + b"\nendstream"
    )
    inner_obj = (
        b"<< /Type /XObject /Subtype /Form /BBox [0 0 612 792] "
        b"/Length %d >>\nstream\n" % len(inner) + inner + b"\nendstream"
    )
    page = (
        b"BT /F1 12 Tf 72 720 Td (page before form) Tj ET\n"
        b"/Fx1 Do\n"
        b"BT /F1 12 Tf 72 400 Td (page after form) Tj ET"
    )
    return build_pdf(
        [page],
        extra_objects=(outer_obj, inner_obj),
        resources_extra=b"/XObject << /Fx1 6 0 R >> ",
    )


def inline_image_pdf() -> bytes:
    """Inline image (BI … ID <binary> EI) whose payload contains '(',
    'BT' and 'Tj' bytes (VERDICT r2 missing #2) — the tokenizer must
    skip the payload wholesale; naive tokenizing would open a bogus
    literal string and swallow the following show op."""
    payload = b"(BT (Tj \xff\x00\x9c\x28\x82 Tj) BT\xfe"  # no ws+EI inside
    stream = (
        b"BT /F1 12 Tf 72 720 Td (before image) Tj ET\n"
        b"BI /W 3 /H 2 /CS /G /BPC 8 /F /AHx ID " + payload + b" EI\n"
        b"BT /F1 12 Tf 72 700 Td (after image) Tj ET"
    )
    return build_pdf([stream])


def form_text_pdf(page_lines: list[str], form_lines: list[str]) -> bytes:
    """Corpus-friendly single-page doc: page_lines, then a `Do` of a form
    XObject drawing form_lines (form inherits the page's resources)."""
    form = content_stream_for_lines(form_lines)
    page = content_stream_for_lines(page_lines) + b"\n/FxA Do"
    form_obj = (
        b"<< /Type /XObject /Subtype /Form /BBox [0 0 612 792] "
        b"/Length %d >>\nstream\n" % len(form) + form + b"\nendstream"
    )
    return build_pdf(
        [page],
        extra_objects=(form_obj,),
        resources_extra=b"/XObject << /FxA 6 0 R >> ",
    )


def inline_image_text_pdf(lines: list[str]) -> bytes:
    """Corpus-friendly single-page doc with an adversarial inline image
    (payload contains '(' 'BT' 'Tj' bytes) between two text blocks."""
    payload = b"(BT (Tj \xff\x00\x9c\x28\x82 Tj) BT\xfe"
    stream = (
        content_stream_for_lines(lines[:1])
        + b"\nBI /W 3 /H 2 /CS /G /BPC 8 ID " + payload + b" EI\n"
        + content_stream_for_lines(lines[1:] or ["tail"])
    )
    return build_pdf([stream])


def corrupt_pdf() -> bytes:
    """Valid header, truncated before the xref — must parse_fail, not crash.

    Round 5 note: xref RECONSTRUCTION does not rescue this fixture —
    recovery rebuilds the object table, but the page's objects are
    physically missing bytes, so access still fails (the pinned
    contract for half-downloaded crawl rows)."""
    good = simple_pdf([["hello", "world"]])
    return good[: len(good) // 2]


def damaged_pdf(base: bytes, mode: str) -> bytes:
    """Apply a recoverable damage class to a complete PDF (round 5 —
    the corpus's reconstruction slice; matrix mirrored in
    tests/test_pdf_kernel.py::test_xref_reconstruction_matrix)."""
    import re as _re

    if mode == "bad_startxref":
        return _re.sub(rb"startxref\s+\d+", b"startxref\n999999", base)
    if mode == "zeroed_offsets":
        return _re.sub(rb"\n\d{10} 00000 n", b"\n" + b"0" * 10 + b" 00000 n", base)
    if mode == "shifted_offsets":
        h = base.find(b"\n", base.find(b"%PDF")) + 1
        return base[:h] + b"% proxy-injected banner line\n" + base[h:]
    raise ValueError(f"unknown damage mode {mode!r}")


def recovered_startxref_pdf() -> bytes:
    """Intact objects, startxref pointing into the void — the round-5
    scan reconstruction recovers the table and extracts (pdfjs
    recovery parity for crawl-damaged files)."""
    return damaged_pdf(
        simple_pdf([["recovered text line one", "line two"]]), "bad_startxref"
    )


def recovered_objstm_pdf() -> bytes:
    """PDF 1.5 file (catalog inside an /ObjStm, no 'trailer' keyword)
    with a damaged startxref: reconstruction must register ObjStm
    contents and find /Root via the catalog scan."""
    good = build_pdf_xref_stream(
        [content_stream_for_lines(["objstm recovery line", "second line"])],
        use_objstm=True,
    )
    return damaged_pdf(good, "bad_startxref")


# ── round 6: embedded font programs (TrueType cmap/post, CFF) ────────────────
# Minimal-but-valid font programs for the no-ToUnicode/no-named-encoding
# fallback (kernels/fonts.py). Layouts follow the public OpenType spec
# (cmap formats 4/6, post v2.0) and Adobe CFF spec (#5176). The builders
# are independent re-implementations of the WRITER side so the test is
# not the parser checking itself.


def _sfnt(tables: dict[bytes, bytes]) -> bytes:
    n = len(tables)
    out = bytearray(b"\x00\x01\x00\x00" + struct.pack(">HHHH", n, 16 * n, 0, 0))
    offset = 12 + 16 * n
    body = bytearray()
    for tag in sorted(tables):
        data = tables[tag]
        out += tag + struct.pack(">III", 0, offset + len(body), len(data))
        body += data + b"\x00" * (-len(data) % 4)
    return bytes(out + body)


def _cmap_format6(first: int, gids: list[int]) -> bytes:
    return struct.pack(
        ">HHHHH", 6, 10 + 2 * len(gids), 0, first, len(gids)
    ) + struct.pack(f">{len(gids)}H", *gids)


def _cmap_format4(mapping: dict[int, int]) -> bytes:
    """Single-code segments + the mandatory terminal 0xFFFF segment,
    all idRangeOffset=0 (glyph = code + delta)."""
    segs = [(c, c, (g - c) & 0xFFFF) for c, g in sorted(mapping.items())]
    segs.append((0xFFFF, 0xFFFF, 1))
    n = len(segs)
    body = struct.pack(f">{n}H", *[e for _s, e, _d in segs]) + b"\x00\x00"
    body += struct.pack(f">{n}H", *[s for s, _e, _d in segs])
    body += struct.pack(f">{n}h", *[d - 0x10000 if d > 0x7FFF else d for _s, _e, d in segs])
    body += b"\x00\x00" * n  # idRangeOffset
    return struct.pack(">HHHHHHH", 4, 14 + len(body), 0, n * 2, 2, 1, 0) + body


def _cmap_format12(mapping: dict[int, int]) -> bytes:
    """Segmented-coverage groups; consecutive codes with consecutive
    gids coalesce into one group (the shape real subsetters emit)."""
    groups: list[list[int]] = []
    for cp in sorted(mapping):
        g = mapping[cp]
        if groups and cp == groups[-1][1] + 1 and g == groups[-1][2] + (cp - groups[-1][0]):
            groups[-1][1] = cp
        else:
            groups.append([cp, cp, g])
    body = b"".join(struct.pack(">III", s, e, g) for s, e, g in groups)
    return struct.pack(">HHIII", 12, 0, 16 + len(body), 0, len(groups)) + body


def _cmap_table(subtables: list[tuple[int, int, bytes]]) -> bytes:
    head = struct.pack(">HH", 0, len(subtables))
    off = 4 + 8 * len(subtables)
    recs, body = b"", b""
    for plat, enc, sub in subtables:
        recs += struct.pack(">HHI", plat, enc, off + len(body))
        body += sub
    return head + recs + body


def _post_v2(glyph_names: list[str | None]) -> bytes:
    """post 2.0; None entries get an out-of-pool index (no name — the
    parser must fall through to the reverse unicode cmap)."""
    pool = [n for n in glyph_names if n and n != ".notdef"]
    head = struct.pack(">I", 0x00020000) + b"\x00" * 28
    idx, seen = [], {}
    for n in glyph_names:
        if n == ".notdef":
            idx.append(0)
        elif n is None:
            idx.append(258 + len(pool) + 17)  # deliberately dangling
        else:
            idx.append(258 + seen.setdefault(n, len(seen)))
    pool = list(dict.fromkeys(pool))
    out = head + struct.pack(f">H{len(idx)}H", len(idx), *idx)
    for n in pool:
        b = n.encode("latin-1")
        out += bytes([len(b)]) + b
    return out


def build_truetype_font_program(
    code_names: dict[int, str | None], uni_map: dict[int, int] | None = None,
    *, symbol: bool = False, uni_fmt12: bool = False,
) -> bytes:
    """sfnt with cmap + post v2.0. Codes map to gids 1..n in sorted
    order; `code_names[c]` is the post glyph name (None = nameless —
    resolvable only through `uni_map`, {codepoint: code}, which becomes
    a (3,1) format-4 subtable — or, with `uni_fmt12`, a (3,10) UCS-4
    format-12 subtable, the shape modern subsetters emit). `symbol`
    swaps the byte subtable for a (3,0) format 4 at 0xF000|code."""
    codes = sorted(code_names)
    gid_of = {c: i + 1 for i, c in enumerate(codes)}
    if symbol:
        byte_sub = (3, 0, _cmap_format4({0xF000 | c: gid_of[c] for c in codes}))
    else:
        lo, hi = codes[0], codes[-1]
        byte_sub = (1, 0, _cmap_format6(
            lo, [gid_of.get(c, 0) for c in range(lo, hi + 1)]
        ))
    subtables = [byte_sub]
    if uni_map:
        uni = {cp: gid_of[c] for cp, c in uni_map.items()}
        if uni_fmt12:
            subtables.append((3, 10, _cmap_format12(uni)))
        else:
            subtables.append((3, 1, _cmap_format4(uni)))
    names: list[str | None] = [".notdef"] + [code_names[c] for c in codes]
    return _sfnt({
        b"cmap": _cmap_table(subtables),
        b"post": _post_v2(names),
    })


def _cff_index_bytes(items: list[bytes]) -> bytes:
    if not items:
        return b"\x00\x00"
    data = b"".join(items)
    off_size = 1 if len(data) + 1 < 256 else 2
    out = struct.pack(">H", len(items)) + bytes([off_size])
    pos = 1
    offs = [1]
    for it in items:
        pos += len(it)
        offs.append(pos)
    for o in offs:
        out += o.to_bytes(off_size, "big")
    return out + data


def build_cff_font_program(
    code_names: dict[int, str], *, standard_sids: dict[str, int] | None = None,
    encoding_format: int = 0, predefined_standard: bool = False,
) -> bytes:
    """Bare CFF: custom Encoding (format 0 or 1), charset format 0,
    one endchar charstring per glyph. Names in `standard_sids` (e.g.
    {"space": 1}) use the standard-strings SID; the rest go through the
    String INDEX (SID 391+). `predefined_standard` OMITS the Encoding
    op entirely (op 16 defaults to 0 = the predefined Standard
    encoding, CFF spec §16) — every name must then carry a
    `standard_sids` entry so the charset restriction matches what the
    predefined table can address."""
    standard_sids = standard_sids or {}
    if predefined_standard and any(
        n not in standard_sids for n in code_names.values()
    ):
        raise ValueError("predefined_standard requires standard_sids for every name")
    codes = sorted(code_names)
    custom: list[str] = []
    sids = []
    for c in codes:
        name = code_names[c]
        if name in standard_sids:
            sids.append(standard_sids[name])
        else:
            if name not in custom:
                custom.append(name)
            sids.append(391 + custom.index(name))
    n_glyphs = len(codes) + 1

    def assemble(charset_off: int, enc_off: int, cs_off: int) -> bytes:
        ops = [(charset_off, 15), (cs_off, 17)]
        if not predefined_standard:
            ops.insert(1, (enc_off, 16))
        top = b""
        for val, op in ops:
            top += b"\x1d" + struct.pack(">i", val) + bytes([op])
        parts = [
            bytes([1, 0, 4, 4]),                       # header
            _cff_index_bytes([b"CUSTOM+Font"]),        # Name INDEX
            _cff_index_bytes([top]),                   # Top DICT INDEX
            _cff_index_bytes([n.encode("latin-1") for n in custom]),
            b"\x00\x00",                               # Global Subr INDEX
        ]
        pre = b"".join(parts)
        charset = b"\x00" + struct.pack(f">{len(sids)}H", *sids)
        if predefined_standard:
            enc = b""
        elif encoding_format == 0:
            enc = b"\x00" + bytes([len(codes)]) + bytes(codes)
        else:  # format 1: one range per code run
            runs: list[tuple[int, int]] = []
            for c in codes:
                if runs and runs[-1][0] + runs[-1][1] + 1 == c:
                    runs[-1] = (runs[-1][0], runs[-1][1] + 1)
                else:
                    runs.append((c, 0))
            enc = b"\x01" + bytes([len(runs)])
            for first, n_left in runs:
                enc += bytes([first, n_left])
        charstrings = _cff_index_bytes([b"\x0e"] * n_glyphs)
        co = len(pre)
        eo = co + len(charset)
        so = eo + len(enc)
        if (charset_off, enc_off, cs_off) != (co, eo, so):
            return assemble(co, eo, so)
        return pre + charset + enc + charstrings

    return assemble(0, 0, 0)


def build_type1_font_program(
    code_names: dict[int, str], *, pfb: bool = False,
    standard: bool = False,
) -> bytes:
    """Type1 cleartext header with a custom /Encoding vector (``dup N
    /name put`` lines, Adobe Type 1 spec §2.3) followed by a fake
    eexec-encrypted blob (never decrypted by the reader — the encoding
    vector is all text extraction needs). `pfb` wraps the output in
    PFB segment headers; `standard` writes StandardEncoding instead."""
    enc = (
        b"/Encoding StandardEncoding def\n"
        if standard
        else (
            b"/Encoding 256 array\n"
            b"0 1 255 {1 index exch /.notdef put} for\n"
            + b"".join(
                b"dup %d /%s put\n" % (c, n.encode("latin-1"))
                for c, n in sorted(code_names.items())
            )
            + b"readonly def\n"
        )
    )
    clear = (
        b"%!PS-AdobeFont-1.0: CustomT1 001.000\n"
        b"/FontName /CUSTOM+T1 def\n/PaintType 0 def\n/FontType 1 def\n"
        b"/FontMatrix [0.001 0 0 0.001 0 0] readonly def\n"
        + enc
        + b"currentdict end\ncurrentfile eexec\n"
    )
    binary = bytes((i * 37 + 11) % 256 for i in range(96))  # opaque blob
    tail = b"0" * 512 + b"\ncleartomark\n"
    if not pfb:
        return clear + binary + tail
    out = bytearray()
    for seg_type, seg in ((1, clear), (2, binary), (1, tail)):
        out += bytes([0x80, seg_type]) + len(seg).to_bytes(4, "little") + seg
    out += bytes([0x80, 3])
    return bytes(out)


_EMBEDDED_CODES = bytes([1, 2, 3, 3, 4, 5, 6, 7])  # → "Hello ΔW"
_EMBEDDED_NAMES: dict[int, str | None] = {
    1: "H", 2: "e", 3: "l", 4: "o", 5: "space", 6: None, 7: "W",
}

# Standard-Encoding fixtures (r6): codes ARE encoding positions.
# b"Hello' \xe1W" → "Hello’ ÆW" (0x27 = quoteright, 0xE1 = AE).
_STD_EMBEDDED_CODES = b"Hello' \xe1W"
_STD_EMBEDDED_SIDS: dict[str, int] = {  # spec Appendix B: ASCII c → c-31
    "H": 41, "e": 70, "l": 77, "o": 80, "quoteright": 8, "space": 1,
    "AE": 138, "W": 56,
}
_STD_EMBEDDED_NAMES: dict[int, str] = {
    ord("H"): "H", ord("e"): "e", ord("l"): "l", ord("o"): "o",
    0x27: "quoteright", 0x20: "space", 0xE1: "AE", ord("W"): "W",
}


def embedded_font_pdf(kind: str = "truetype") -> bytes:
    """One page showing custom codes through a font with NO /ToUnicode,
    NO /Encoding — only the embedded program maps codes to text
    (pre-round-6 extraction: latin-1 mojibake control bytes)."""
    if kind == "truetype":
        prog = build_truetype_font_program(
            _EMBEDDED_NAMES, uni_map={0x0394: 6}
        )
        ff_key, ff_extra = b"/FontFile2", b""
        subtype = b"/TrueType"
    elif kind == "truetype_symbol":
        prog = build_truetype_font_program(
            _EMBEDDED_NAMES, uni_map={0x0394: 6}, symbol=True
        )
        ff_key, ff_extra = b"/FontFile2", b""
        subtype = b"/TrueType"
    elif kind == "truetype_f12":
        # ALL glyphs nameless: the only route to text is the (3,10)
        # format-12 table through the reverse-unicode fallback (r6)
        prog = build_truetype_font_program(
            {c: None for c in _EMBEDDED_NAMES},
            uni_map={0x48: 1, 0x65: 2, 0x6C: 3, 0x6F: 4, 0x20: 5,
                     0x0394: 6, 0x57: 7},
            uni_fmt12=True,
        )
        ff_key, ff_extra = b"/FontFile2", b""
        subtype = b"/TrueType"
    elif kind == "cff":
        names = {c: (n if n else "uni0394") for c, n in _EMBEDDED_NAMES.items()}
        prog = build_cff_font_program(names, standard_sids={"space": 1})
        ff_key, ff_extra = b"/FontFile3", b"/Subtype /Type1C "
        subtype = b"/Type1"
    elif kind in ("type1", "type1_pfb"):
        names = {c: (n if n else "uni0394") for c, n in _EMBEDDED_NAMES.items()}
        prog = build_type1_font_program(names, pfb=kind == "type1_pfb")
        ff_key, ff_extra = b"/FontFile", b""
        subtype = b"/Type1"
    elif kind == "cff_std":
        # r6: predefined STANDARD encoding (Encoding op omitted → 0) over
        # a subsetted charset; codes are Standard-Encoding positions, so
        # 0x27 shows quoteright (’) and 0xE1 AE (Æ) — latin-1 reads both
        # differently, which is the divergence under test. SIDs are
        # hand-derived from the spec table (ASCII c → c-31; AE = 138),
        # independent of the kernel's copy.
        prog = build_cff_font_program(
            _STD_EMBEDDED_NAMES, predefined_standard=True,
            standard_sids=_STD_EMBEDDED_SIDS,
        )
        ff_key, ff_extra = b"/FontFile3", b"/Subtype /Type1C "
        subtype = b"/Type1"
    elif kind == "type1_std":
        # r6: ``/Encoding StandardEncoding def`` in the cleartext header
        prog = build_type1_font_program({}, standard=True)
        ff_key, ff_extra = b"/FontFile", b""
        subtype = b"/Type1"
    else:
        raise ValueError(f"unknown kind {kind!r}")
    std = kind in ("cff_std", "type1_std")
    codes = _STD_EMBEDDED_CODES if std else _EMBEDDED_CODES
    code_keys = _STD_EMBEDDED_NAMES if std else _EMBEDDED_NAMES
    content = b"BT /F1 12 Tf 72 720 Td (" + codes + b") Tj ET"
    # FirstChar/LastChar must span the codes the page actually shows —
    # the std kinds use Standard-Encoding positions 0x20-0xE1, not 1-7
    # (r6 review: a /Widths-reading consumer would mis-handle them)
    font_obj = (
        b"<< /Type /Font /Subtype " + subtype + b" /BaseFont /SUBSET+Custom "
        b"/FirstChar %d /LastChar %d /FontDescriptor 6 0 R >>"
        % (min(code_keys), max(code_keys))
    )
    descriptor = (
        b"<< /Type /FontDescriptor /FontName /SUBSET+Custom /Flags 4 "
        + ff_key + b" 7 0 R >>"
    )
    if ff_key == b"/FontFile":
        # Type1 Table-127 metadata for real: Length1 = cleartext portion
        # (through the eexec line terminator), Length2 = the encrypted
        # blob only, Length3 = the 512-zero trailer + cleartomark when
        # the program carries one (claiming Length3=0 while Length2
        # swallowed the trailer misdescribed 525 bytes of ASCII zeros as
        # ciphertext — r6 review; the original shape even emitted a
        # duplicate /Length1 key hidden by last-wins parsing).
        cut = prog.find(b"eexec")
        l1 = cut + 5 if cut >= 0 else len(prog)
        while l1 < len(prog) and prog[l1 : l1 + 1] in (b"\r", b"\n"):
            l1 += 1
        zi = prog.find(b"0" * 512, l1)
        l3 = len(prog) - zi if zi >= 0 else 0
        fontfile = (
            b"<< /Length %d /Length1 %d /Length2 %d /Length3 %d >>\nstream\n"
            % (len(prog), l1, len(prog) - l1 - l3, l3) + prog + b"\nendstream"
        )
    else:
        fontfile = (
            b"<< " + ff_extra + b"/Length %d /Length1 %d >>\nstream\n"
            % (len(prog), len(prog)) + prog + b"\nendstream"
        )
    return build_pdf(
        [content], font_obj=font_obj, extra_objects=(descriptor, fontfile)
    )


def type3_pdf() -> bytes:
    """One page shown through a /Type3 font: glyphs are tiny content
    streams (/CharProcs), codes map to names ONLY via the required
    /Encoding /Differences (ISO 32000-1 §9.6.5). Text extraction never
    renders the glyph procs — the Differences vector is the whole
    decode path, exactly like any simple font (the reference gets this
    from pdfjs's shared simple-font evaluator, main.ts:149)."""
    glyph = b"<< /Length 14 >>\nstream\n0 0 0 0 0 0 d1\nendstream"
    # values are indirect refs ('7 0 R'), NOT names — '/T /7 0 R' made
    # the value the name /7 plus a stray '0 R', so the dict could not
    # be parsed and the fixture never actually pinned "kernel ignores a
    # well-formed CharProcs" (r6 review)
    charprocs = b"<< /T 7 0 R /y 7 0 R /p 7 0 R /e 7 0 R /space 7 0 R /three 7 0 R >>"
    font_obj = (
        b"<< /Type /Font /Subtype /Type3 /FontBBox [0 0 1000 1000] "
        b"/FontMatrix [0.001 0 0 0.001 0 0] /CharProcs 6 0 R "
        b"/Encoding << /Type /Encoding /Differences "
        b"[65 /T /y /p /e /space /three] >> "
        b"/FirstChar 65 /LastChar 70 "
        b"/Widths [600 600 600 600 600 600] >>"
    )
    # codes 65..70 → T y p e ' ' 3
    content = b"BT /F1 12 Tf 72 720 Td (ABCDEF) Tj ET"
    return build_pdf([content], font_obj=font_obj,
                     extra_objects=(charprocs, glyph))


def incremental_update_xref_stream_pdf() -> bytes:
    """PDF 1.5 file with TWO xref streams: the original (object 6,
    /Root 1 → "old revision text") plus an appended incremental update
    (object 11, HIGHER byte offset, /Root 10 → "new revision text").
    Both the normal load and round-5 reconstruction must honor the
    NEWEST update's /Root — newest means last-in-file by byte offset,
    not lowest object number (r6, ADVICE low: the setdefault harvest
    walked object numbers ascending and could resurrect a stale /Root)."""
    base = bytearray(
        build_pdf_xref_stream(
            [content_stream_for_lines(["old revision text"])],
            use_objstm=False, compress=False, predictor=0,
        )
    )
    old_xref_pos = int(re.search(rb"startxref\s+(\d+)", base).group(1))
    del base[base.rfind(b"startxref"):]

    new_stream = content_stream_for_lines(["new revision text"])
    update_objs = {
        7: b"<< /Length %d >>\nstream\n" % len(new_stream)
           + new_stream + b"\nendstream",
        8: b"<< /Type /Page /Parent 9 0 R /MediaBox [0 0 612 792] "
           b"/Resources << /Font << /F1 3 0 R >> >> /Contents 7 0 R >>",
        9: b"<< /Type /Pages /Kids [8 0 R] /Count 1 >>",
        10: b"<< /Type /Catalog /Pages 9 0 R >>",
    }
    offsets = {}
    for num in sorted(update_objs):
        offsets[num] = len(base)
        base += b"%d 0 obj\n" % num + update_objs[num] + b"\nendobj\n"
    xref_pos = len(base)
    offsets[11] = xref_pos
    rows = b"".join(
        b"\x01" + offsets[n].to_bytes(4, "big") + b"\x00\x00"
        for n in range(7, 12)
    )
    base += (
        b"11 0 obj\n<< /Type /XRef /Size 12 /Index [7 5] /W [1 4 2] "
        b"/Root 10 0 R /Prev %d /Length %d >>\nstream\n" % (old_xref_pos, len(rows))
        + rows + b"\nendstream\nendobj\n"
        + b"startxref\n%d\n%%%%EOF\n" % xref_pos
    )
    return bytes(base)


FIXTURES = {
    "single_page_tj": lambda: simple_pdf([["Hello PDF world", "second line here"]]),
    "multi_page": lambda: simple_pdf(
        [["page one line a", "page one line b"], ["page two"], ["page three end"]]
    ),
    "kerning_tj_array": lambda: simple_pdf(
        [["Kerned headline text", "another kerned line"]], style="tj"
    ),
    "linebreaks_td": lambda: simple_pdf(
        [["alpha", "bravo", "charlie", "delta"]], style="tstar"
    ),
    "quote_ops": lambda: simple_pdf([["first", "second", "third"]], style="quote"),
    "dquote_ops": lambda: simple_pdf([["uno", "dos", "tres"]], style="dquote"),
    "flate_stream": lambda: simple_pdf(
        [["compressed content line", "flate " * 30]], compress=True
    ),
    "escapes": lambda: simple_pdf(
        [["paren (nested) and \\ backslash", "tab\tand newline literal"]]
    ),
    "sucursal_report": lambda: sucursal_report_pdf(25),
    "mega_50p": lambda: simple_pdf(
        [[f"page {p} line {i} " + "x" * 60 for i in range(45)] for p in range(50)],
        compress=True,
    ),
    "corrupt": corrupt_pdf,
    # ── round-5: xref reconstruction (pdfjs recovery parity) ────────────
    "recovered_startxref": recovered_startxref_pdf,
    "recovered_objstm": recovered_objstm_pdf,
    # modern crawl shape: xref-stream layout + encryption (trailer keys
    # only in the XRef stream dict), empty user password → decrypts
    "encrypted_xref_stream": lambda: build_encrypted_xref_stream_pdf(
        [content_stream_for_lines(["modern encrypted layout", "second line"])],
    ),
    # ── round-2 format surface (PDF 1.5+ / filters / encodings) ──────────
    "xref_stream": lambda: build_pdf_xref_stream(
        [content_stream_for_lines([f"xref stream page {p} line {i}" for i in range(4)])
         for p in range(3)],
        use_objstm=False,
    ),
    "objstm": lambda: build_pdf_xref_stream(
        [content_stream_for_lines([f"objstm page {p} line {i}" for i in range(4)])
         for p in range(3)],
        use_objstm=True,
    ),
    "xref_stream_plain": lambda: build_pdf_xref_stream(
        [content_stream_for_lines(["no predictor no flate"])],
        use_objstm=True, compress=False, predictor=0,
    ),
    "lzw_stream": lambda: build_pdf(
        [content_stream_for_lines(["lzw compressed line", "lzw " * 40])],
        stream_filter="LZWDecode",
    ),
    "ascii85_stream": lambda: build_pdf(
        [content_stream_for_lines(["ascii85 armored content", "base eighty five"])],
        stream_filter="ASCII85Decode",
    ),
    "asciihex_stream": lambda: build_pdf(
        [content_stream_for_lines(["ascii hex armored content"])],
        stream_filter="ASCIIHexDecode",
    ),
    "runlength_stream": lambda: build_pdf(
        [content_stream_for_lines(["run length encoded content"])],
        stream_filter="RunLengthDecode",
    ),
    "form_xobject": form_xobject_pdf,
    "inline_image": inline_image_pdf,
    "differences_encoding": differences_pdf,
    "tounicode_cmap": tounicode_pdf,
    "type0_identity_h": type0_identity_h_pdf,
    "encrypted": encrypted_pdf,
    # ── round-3: empty-user-password decryption (pdfjs parity) ──────────
    "encrypted_rc4_40": lambda: build_encrypted_pdf(
        [content_stream_for_lines(["rc4 forty bit secret", "line two ok"])],
        method="rc4_40",
    ),
    "encrypted_rc4_128": lambda: build_encrypted_pdf(
        [content_stream_for_lines(["rc4 one two eight", "café ± señor"])],
        method="rc4_128", compress=True,
    ),
    "encrypted_aes_128": lambda: build_encrypted_pdf(
        [content_stream_for_lines(["aes cbc secret text", "block aligned? no"])],
        method="aes_128", compress=True,
    ),
    "encrypted_password": lambda: build_encrypted_pdf(
        [content_stream_for_lines(["truly locked away"])],
        method="rc4_128", user_pw=b"hunter2",
    ),
    # round 5: the "no-copy" layout — owner password set, user password
    # empty — opens via the normal empty-user chain (the owner password
    # only shapes /O, which feeds the key derivation as opaque bytes)
    "encrypted_owner_set": lambda: build_encrypted_pdf(
        [content_stream_for_lines(["owner locked, user open", "page text"])],
        method="rc4_128", owner_pw=b"no-copy-secret", compress=True,
    ),
    # round 5: real-writer corner — /O computed from a LITERALLY empty
    # owner password while the USER password is set; Algorithm 7
    # recovers the user password from /O with the empty owner password
    "encrypted_owner_empty": lambda: build_encrypted_pdf(
        [content_stream_for_lines(["algorithm seven opens this"])],
        method="aes_128", user_pw=b"userlocked", owner_pw=b"",
        compress=True,
    ),
    # ── round-4: AES-256 V5/R6 (ISO 32000-2 §7.6.4) ─────────────────────
    "encrypted_aes_256": lambda: build_encrypted_pdf(
        [content_stream_for_lines(["aes two fifty six", "hardened hash ø §"])],
        method="aes_256", compress=True,
    ),
    # round 4: explicitly NAMED base encodings (pdfjs parity) — WinAnsi
    # C1 range (smart quotes/€/™) and MacRoman upper range
    # 0xA0/0xAD: Annex D maps them to /space and /hyphen (round 5)
    "winansi_c1": lambda: build_pdf(
        [b"BT /F1 12 Tf 72 720 Td "
         b"(\x93smart\x94 \x96 \x85 \x80 \x99 a\xa0b c\xadd) Tj ET"],
        font_obj=(
            b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
            b"/Encoding /WinAnsiEncoding >>"
        ),
    ),
    "macroman_upper": lambda: build_pdf(
        [b"BT /F1 12 Tf 72 720 Td (caf\x8e \xa5 \xd0 \xc7 p\x8cte \xdb\xca\xf0) Tj ET"],
        font_obj=(
            b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
            b"/Encoding /MacRomanEncoding >>"
        ),
    ),
    # r6: named /StandardEncoding — not a legal Table-114 value but old
    # TeX-era writers emit it (pdfjs accepts); 0x27→’ 0xA4→⁄ 0xE1→Æ
    # prove the Annex D Standard column decoded, not latin-1
    "standard_encoding_named": lambda: build_pdf(
        [b"BT /F1 12 Tf 72 720 Td (Hello' \xa4\xe1W \xaa\xba\xb4) Tj ET"],
        font_obj=(
            b"<< /Type /Font /Subtype /Type1 /BaseFont /Times-Roman "
            b"/Encoding /StandardEncoding >>"
        ),
    ),
    # round 6: symbolic Standard-14 built-in encodings (Annex D.5/D.6)
    # selected by BaseFont name — Greek/math via /Symbol ("αβγ ∀x∈A:
    # x≤Ω ∑ ∫"), dingbats via /ZapfDingbats (checks/stars/arrows)
    "symbol_font": lambda: build_pdf(
        [b"BT /F1 12 Tf 72 720 Td (abg \x22x\xceA: x\xa3W \xe5 \xf2) Tj "
         b"0 -14 Td (\x44 = p r\xb2 \xb9 \xbb) Tj ET"],
        font_obj=b"<< /Type /Font /Subtype /Type1 /BaseFont /Symbol >>",
    ),
    "zapf_dingbats_font": lambda: build_pdf(
        [b"BT /F1 12 Tf 72 720 Td (3 8 % * + \xab \xac \xb6 \xd8) Tj ET"],
        font_obj=b"<< /Type /Font /Subtype /Type1 /BaseFont /ZapfDingbats >>",
    ),
    # round 6: fonts with NEITHER /ToUnicode nor a named encoding — the
    # embedded program (TrueType cmap/post, CFF charset/encoding) is the
    # only mapping; pre-r6 these extracted as latin-1 control-byte
    # mojibake (pdfjs parity via kernels/fonts.py)
    "embedded_truetype": lambda: embedded_font_pdf("truetype"),
    "embedded_truetype_symbol": lambda: embedded_font_pdf("truetype_symbol"),
    "embedded_cff": lambda: embedded_font_pdf("cff"),
    "embedded_type1": lambda: embedded_font_pdf("type1"),
    "embedded_type1_pfb": lambda: embedded_font_pdf("type1_pfb"),
    "embedded_truetype_f12": lambda: embedded_font_pdf("truetype_f12"),
    # r6: predefined StandardEncoding decodes too (CFF Encoding op 0 /
    # Type1 "StandardEncoding def"); only Expert remains a documented cut
    "embedded_cff_std": lambda: embedded_font_pdf("cff_std"),
    "embedded_type1_std": lambda: embedded_font_pdf("type1_std"),
    # r6: /Type3 glyph-proc fonts decode through the ordinary
    # /Differences path (extraction never renders the procs)
    "type3_font": type3_pdf,
    # round 5: predefined CMap outside both decodable families (JIS X
    # 0212 supplement — genuinely needs Adobe's tables) stays the
    # countable unsupported_cmap representative
    "unsupported_cmap": lambda: predefined_cmap_pdf(encoding="Hojo-EUC-H"),
    # round 4: Unicode-coded predefined CMaps extract as UTF-16BE
    "cid_cmap_ucs2": lambda: predefined_cmap_pdf(encoding="UniGB-UCS2-H"),
    "cid_cmap_utf16": lambda: predefined_cmap_pdf(
        encoding="UniJIS-UTF16-H", show_hex=b"D842DFB74F60597D"
    ),
    # round 5: legacy-coded predefined CMaps decode through the stdlib
    # codec their codespace names (kernels/pdf.py _LEGACY_CMAP_CODECS);
    # show strings mix single-byte ASCII with double-byte CJK to pin the
    # variable-width dispatch
    "cid_cmap_gbk": lambda: predefined_cmap_pdf(
        encoding="GBK-EUC-H", show_hex=b"486920C4E3BAC3A3ACCAC0BDE7"
    ),  # "Hi 你好，世界" in GBK
    "cid_cmap_rksj": lambda: predefined_cmap_pdf(
        encoding="90ms-RKSJ-H", show_hex=b"82B182F182C982BF82CD90A28A45"
    ),  # "こんにちは世界" in CP932
    "cid_cmap_big5": lambda: predefined_cmap_pdf(
        encoding="ETen-B5-H", show_hex=b"A741A66EA540ACC9204F4B"
    ),  # "你好世界 OK" in Big5/CP950
    "cid_cmap_euckr": lambda: predefined_cmap_pdf(
        encoding="KSC-EUC-H", show_hex=b"BEC8B3E7C7CFBCBCBFE4"
    ),  # "안녕하세요" in EUC-KR
}


def main(out_dir: str) -> None:
    import pathlib

    out = pathlib.Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    for name, fn in FIXTURES.items():
        (out / f"{name}.pdf").write_bytes(fn())
        print(f"wrote {name}.pdf")


if __name__ == "__main__":
    import sys

    main(sys.argv[1] if len(sys.argv) > 1 else "tests/golden")
