"""Per-token content-stream interpreter, kept as the differential oracle
for ``kernels.pdf._extract_page_text``.

The kernel interprets a content stream in one sweep whose dominant
instructions (``(literal) Tj``, ``num num Td|TD``, ``BT``/``T*``) are fused
into single matches. This module keeps the token-at-a-time formulation
those fusions must stay equivalent to: every token is matched alone,
operands accumulate until an operator consumes them, and show strings
decode through the font map inline. ``tests/test_content_sweep.py``
compares the two on generated streams.
"""

from __future__ import annotations

import re

from pdf_to_text_spark.kernels.pdf import (
    _EI_BARE_RE,
    _EI_RE,
    _LATIN1_TABLE,
    _MAX_FORM_DEPTH,
    PDFUnsupportedCMapError,
    _LegacyCodecMap,
    _Lexer,
    _Translate,
    _UniWideMap,
    _unescape_literal,
    _UnsupportedCMap,
    _Utf16BEMap,
    _WideMap,
)

_CTOK_RE = re.compile(
    rb"""(?:[\x00\t\n\x0c\r ]+|%[^\r\n]*)*+  # ws/comments folded into every
                                       # token (halves hot-loop iterations)
    (?: (?P<str>\((?:[^()\\]|\\.)*\))  # literal string, no nested parens
      | (?P<strop>\()                  # literal string needing full parse
      | <<                             # dict open (operand soup; skipped)
      | >>
      | (?P<hex><[^>]*>)               # hex string
      | (?P<arro>\[) | (?P<arrc>\])
      | (?P<name>/[^\x00\t\n\x0c\r ()<>\[\]{}/%]*)  # name
      | (?P<num>[+-]?(?:\d+\.?\d*|\.\d+))
      | (?P<brace>[{}])                # PostScript-calculator braces (type-4
                                       # function bodies): explicit no-op
      | (?P<op>[^\x00\t\n\x0c\r ()<>\[\]{}/%]+)
    )?
    """,
    re.VERBOSE,
)

# group indices for the int-dispatch loop below
_CTOK_GI = tuple(
    _CTOK_RE.groupindex[g]
    for g in ("str", "strop", "hex", "arro", "arrc", "name", "num", "brace", "op")
)


def extract_page_text(
    content: bytes,
    fonts: dict[str, dict[int, str]] | None = None,
    xobjects: dict | None = None,
    depth: int = 0,
) -> str:
    """Per-token reference interpreter: one regex match and one Python
    dispatch per content-stream token. Same signature and contract as
    the kernel's _extract_page_text (the pinned reflow rules of the
    kernels.pdf module docstring)."""
    lines: list[str] = []
    cur: list[str] = []
    last_str: bytes | None = None   # most recent string operand
    last_num: float | None = None   # most recent numeric operand
    last_name: str | None = None    # most recent name operand (for Tf)
    arr: list | None = None         # open TJ-style array, or None
    arr_strs: list[bytes] = []
    cur_map: dict[int, str] | None = None  # active font's code overrides

    def dec(b: bytes) -> str:
        if cur_map is None:
            return b.decode("latin-1")
        m = cur_map
        if type(m) is _UnsupportedCMap:
            raise PDFUnsupportedCMapError(
                f"text shown through predefined CID CMap /{m.name} "
                "without ToUnicode"
            )
        # NUL codes (a 0x00 show byte is VALID in the legacy codespaces
        # and UTF-16BE) must not put raw \x00 into the extracted-text
        # surface — same contract as the _UniWideMap branch below
        if type(m) is _Utf16BEMap:  # Uni*-UCS2/UTF16: codes ARE Unicode
            return b.decode("utf-16-be", "replace").replace("\x00", "�")
        if type(m) is _LegacyCodecMap:  # GBK-EUC/RKSJ/…: codes ARE the
            return b.decode(m.codec, "replace").replace("\x00", "�")
        if type(m) is _Translate:  # declared WinAnsi/MacRoman base
            return b.decode("latin-1").translate(m.table)
        if type(m) is _UniWideMap:  # Uni* cmap + partial ToUnicode:
            # `is None`, not `or`: an explicit empty ToUnicode mapping
            # must stay blank (same falsy bug as the single-byte path
            # below); NUL (code 0) degrades to U+FFFD — raw \x00 must
            # never reach the golden/oracle text surface
            return "".join(  # unmapped codes ARE the Unicode value
                v
                if (v := m.get(c)) is not None
                else (chr(c) if c and not 0xD800 <= c <= 0xDFFF else "�")
                for i in range(0, len(b) - 1, 2)
                for c in ((b[i] << 8) | b[i + 1],)
            )
        if type(m) is _WideMap:  # Type0: consume 2-byte CIDs
            return "".join(
                m.get((b[i] << 8) | b[i + 1], "�")
                for i in range(0, len(b) - 1, 2)
            )
        t = _LATIN1_TABLE
        # `is None` check, not truthiness: Symbol maps its decorative
        # extender/radicalex codes to EMPTY, and `m.get(x) or t[x]`
        # silently resurrected latin-1 for them
        return "".join(c if (c := m.get(x)) is not None else t[x] for x in b)

    def flush() -> None:
        if cur:
            lines.append("".join(cur))
            cur.clear()

    n = len(content)
    pos = 0
    # hot loop: int dispatch on m.lastindex (group numbers, see _CTOK_GI)
    # instead of string-comparing m.lastgroup — one C-level match + one
    # int compare chain per token, ordered by token frequency
    match = _CTOK_RE.match
    GI_STR, GI_STROP, GI_HEX, GI_ARRO, GI_ARRC, GI_NAME, GI_NUM, GI_BRACE, GI_OP = _CTOK_GI
    while pos < n:
        m = match(content, pos)
        end = m.end()
        if end == pos:  # stray delimiter the grammar rejects — skip one byte
            pos += 1
            continue
        pos = end
        gi = m.lastindex
        if gi is None:  # trailing ws / comment / << >>
            continue
        if gi == GI_NUM:
            tok = m.group(GI_NUM)
            last_num = float(tok) if (b"." in tok) else int(tok)
            continue
        if gi == GI_STR:
            s = _unescape_literal(m.group(GI_STR)[1:-1])
            if arr is not None:
                arr_strs.append(s)
            last_str = s
        elif gi == GI_NAME:
            raw_name = m.group(GI_NAME)[1:]
            if b"#" in raw_name:
                # #xx escapes are legal in ANY name, including operands —
                # resource-dict keys are unescaped by _Lexer._parse_name,
                # so an escaped /F#31 Tf must also resolve to 'F1' or the
                # font/XObject lookup silently misses
                raw_name = re.sub(
                    rb"#([0-9A-Fa-f]{2})",
                    lambda mm: bytes([int(mm.group(1), 16)]),
                    raw_name,
                )
            last_name = raw_name.decode("latin-1")
            continue
        elif gi == GI_STROP:
            lx = _Lexer(content, m.start(GI_STROP))
            s = lx._parse_literal_string()
            pos = lx.pos
            if arr is not None:
                arr_strs.append(s)
            last_str = s
        elif gi == GI_HEX:
            digits = re.sub(rb"[\x00\t\n\x0c\r ]", b"", m.group(GI_HEX)[1:-1])
            if len(digits) % 2:
                digits += b"0"
            try:
                s = bytes.fromhex(digits.decode("ascii"))
            except ValueError:
                continue
            if arr is not None:
                arr_strs.append(s)
            last_str = s
        elif gi == GI_ARRO:
            arr = []
            arr_strs = []
        elif gi == GI_ARRC:
            arr = None
        elif gi == GI_OP:
            op = m.group("op")
            if op == b"BT" or op == b"T*":
                flush()
            elif op in (b"Td", b"TD"):
                if isinstance(last_num, (int, float)) and last_num < 0:
                    flush()
            elif op == b"Tj":
                if last_str is not None:
                    cur.append(dec(last_str))
            elif op == b"TJ":
                for s in arr_strs:
                    cur.append(dec(s))
                arr_strs = []
            elif op == b"'" or op == b'"':
                flush()
                if last_str is not None:
                    cur.append(dec(last_str))
            elif op == b"Tf" and fonts is not None:
                cur_map = fonts.get(last_name) if last_name is not None else None
            elif op == b"Do" and xobjects is not None and last_name is not None:
                sub = xobjects.get(last_name)
                if sub is not None and depth < _MAX_FORM_DEPTH:
                    # form text is emitted in stream order at the Do site;
                    # the form's own BT blocks would flush anyway, and the
                    # caller's text state is untouched by the recursion
                    flush()
                    sub_text = extract_page_text(sub[0], sub[1], sub[2], depth + 1)
                    if sub_text:
                        lines.extend(sub_text.split("\n"))
            elif op == b"ID":
                # inline image (BI … ID <binary> EI): skip the payload to
                # the whitespace-delimited EI so image bytes never reach
                # the tokenizer; fall back to a bare token-boundary EI for
                # writers whose payload abuts the delimiter
                m2 = _EI_RE.search(content, pos) or _EI_BARE_RE.search(content, pos)
                pos = m2.end() if m2 is not None else n
            # BX/EX compatibility sections are explicit no-ops: they only
            # toggle unknown-operator tolerance, which this lenient
            # tokenizer already has
            last_str = None
            last_num = None
            last_name = None
            arr = None
            arr_strs = []
    flush()
    return "\n".join(lines)
