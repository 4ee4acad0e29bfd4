"""Differential tests: the kernel's single-sweep content-stream interpreter
against the per-token oracle it replaced (tests/pdf_content_oracle.py).

Streams are assembled from every token kind the grammar knows, joined by
separators that include none at all, so fused instructions meet their
neighbours at every boundary: numbers running into operators, literals
abutting Tj, operators with trailing regular bytes. Each stream runs
under fonts of every decoder type and under form XObjects, and both
interpreters must return the same text or raise the same exception type.
"""

from hypothesis import given, settings
from hypothesis import strategies as st
from pdf_content_oracle import extract_page_text as oracle_extract

from pdf_to_text_spark.kernels.pdf import (
    _base_encoding_trans,
    _extract_page_text,
    _LazyProgramMap,
    _LegacyCodecMap,
    _Translate,
    _UniWideMap,
    _UnsupportedCMap,
    _Utf16BEMap,
    _WideMap,
)

_LITERALS = [
    b"(Hello)", b"()", b"(caf\xe9 \x93q\x94)", b"(a\\(b\\)c)", b"(a\\\\)",
    b"(tab\\t nl\\n \\053 \\0 \\777x)", b"(line\\\ncont)", b"(cr\\\r\nlf)",
    b"(unknown \\q esc)", b"(raw\nnewline)", b"(ends in \\)", b"(\\)",
    b"(a (nested) b)", b"(deep ((x)) y)", b"(half (open)", b"(unterminated",
    b"(\x00\x01AB\x00)", b"(\xff\xfe)", b"(%not a comment)",
]
_HEX = [b"<48656c6c6f>", b"<48 65\n6c>", b"<486>", b"<zz>", b"<>", b"<4",
        b"<0041 0042>", b"<4E2D>"]
_NUMBERS = [b"0", b"-14", b"14", b"-0", b"-0.0", b"+3", b"1.", b".5", b"-.25",
            b"1.2.3", b"--5", b"12345678901234567", b"-12345678901234567.5",
            b"9" * 5000, b"-" + b"9" * 16]
_NAMES = [b"/F1", b"/F2", b"/F3", b"/F4", b"/F5", b"/F6", b"/F7", b"/F8",
          b"/F9", b"/F#31", b"/Fx", b"/Fy", b"/Missing", b"/"]
_OPS = [b"Td", b"TD", b"T*", b"BT", b"ET", b"Tj", b"TJ", b"'", b'"', b"Tf",
        b"Do", b"TL", b"Tc", b"re", b"f", b"q", b"Q", b"cm", b"BX", b"EX",
        b"Tdx", b"BT\xfe", b"T**", b"Tj'", b"TJ2"]
_OTHER = [b"[", b"]", b"<<", b">>", b"{", b"}", b")", b">", b"<", b"%comment\n",
          b"% x Tj\r", b"BI /W 1 ID \x00(Tj BT\xff EI", b"BI ID (x)EI ",
          b"ID", b"EI"]
# fused forms, written out so they occur often
_FUSED = [b"(Hi) Tj", b"(Hi)Tj", b"0 -14 Td", b"0 14 Td", b"72 720 TD",
          b"1 -2Td", b"-.5 -1.5 TD", b"BT", b"T*", b"(a\\)b) Tj", b"() Tj"]
# font selections and operands left open across an inline image
_SELECT = [b"/F%d 9 Tf" % i for i in range(1, 10)] + [b"(k) ID \x00 EI", b"/F1 ID x EI"]
_SEPS = [b" ", b" ", b"\n", b"", b"\r\n", b"\t", b"\x00", b"\x0c", b"  % c\n"]

_piece = st.one_of(
    st.sampled_from(_LITERALS), st.sampled_from(_HEX), st.sampled_from(_NUMBERS),
    st.sampled_from(_NAMES), st.sampled_from(_OPS), st.sampled_from(_OTHER),
    st.sampled_from(_FUSED), st.sampled_from(_SELECT), st.binary(max_size=3),
)


@st.composite
def _streams(draw, max_pieces=40):
    parts = draw(st.lists(st.tuples(_piece, st.sampled_from(_SEPS)), max_size=max_pieces))
    return b"".join(p + s for p, s in parts)


def _fonts() -> dict:
    """One font per decoder type; built fresh per call because the lazy
    program map fills itself on first miss."""
    return {
        "F1": _Translate(_base_encoding_trans("WinAnsiEncoding")),
        "F2": _Translate(_base_encoding_trans("Symbol")),  # overrides ASCII
        "F3": _WideMap({0x4142: "W", 0x0041: "", 0x4865: "He"}),
        "F4": _UniWideMap({0x4142: "U", 0x0042: ""}),
        "F5": _Utf16BEMap(),
        "F6": _LegacyCodecMap("gbk"),
        "F7": _UnsupportedCMap("Hojo-EUC-H"),
        "F8": {0x41: "Z", 0x42: "", 0x61: "alpha"},
        "F9": _LazyProgramMap({0x48: "h"}, lambda: {0x65: "E", 0x48: "x"}),
        "1": _Translate(_base_encoding_trans("MacRomanEncoding")),
    }


def _outcome(fn, content, fonts, xobjects):
    try:
        return fn(content, fonts, xobjects)
    except Exception as e:  # the exception type is part of the contract
        return type(e)


def _same(content: bytes, form: bytes | None, with_fonts: bool) -> None:
    outs = []
    for fn in (oracle_extract, _extract_page_text):
        fonts = _fonts() if with_fonts else None
        xobjects = None
        if form is not None:
            xobjects = {}
            # Fx is a form; Fy is a form that draws itself (cycle, cut by depth)
            xobjects["Fx"] = (form, _fonts(), None)
            xobjects["Fy"] = (content, fonts, xobjects)
        outs.append(_outcome(fn, content, fonts, xobjects))
    assert outs[0] == outs[1], (content, form, outs)


@settings(max_examples=1500, deadline=None)
@given(_streams(), st.booleans())
def test_sweep_matches_per_token_oracle(content, with_fonts):
    _same(content, None, with_fonts)


@settings(max_examples=300, deadline=None)
@given(_streams(max_pieces=20), _streams(max_pieces=12))
def test_sweep_matches_oracle_through_forms(content, form):
    _same(content, form, True)


def test_sweep_matches_oracle_on_fixed_streams():
    """Boundary cases of the fused forms, each next to the token
    sequence it must stay equivalent to."""
    cases = [
        b"BT /F1 12 Tf 72 720 Td (Hello) Tj 0 -14 Td (World) Tj ET",
        b"BT(a)Tj(b)Tjx(c)Tj'0 -1Td(d)Tj ET",
        b"1.2.3 Td (x) Tj 0 -0 Td (y) Tj 0 -0.0 TD (z) Tj 0 -.1 Td (w) Tj",
        b"12345678901234567 -1 Td (a) Tj 1 -12345678901234567 Td (b) Tj",
        b"(s) 5 Td (t) Tj 5 (u) -1 Td (v) Tj --5 0 Td (w) Tj 5abc 0 -14 Td",
        b"[(a) -120 (b)] TJ [(c)] 0 -1 Td TJ (d) [(e) Tj] TJ",
        b"BT*(a)Tj T**(b)Tj T*(c)Tj (d) Tj 0 -1 Tdx (e) Tj 0 -1 TD1 (f) Tj",
        b"/F2 1 Tf (abc) Tj (abc\xe9) Tj /F1 1 Tf (abc) Tj",
        b"(k) ID \x00 EI Tj [(m) ID x EI TJ /Fx ID x EI Do /F2 ID x EI Tf (a) Tj",
        b"/F2 1 Tf (abc\xe9) Tj /F1 1 Tf (abc\x93) Tj /F#31 1 Tf (\xdb) Tj",
        b"(a) Tj BI /W 1 ID \x00(Tj BT\xff EI (b) Tj BI ID (x)EI (c) Tj",
        b"(a) % c (b) Tj\n Tj (q)\n%x\nTj",
        b"<48 65> Tj <486> Tj <zz> Tj (n (e) s) Tj",
        b"/F7 1 Tf 0 -1 Td /F1 1 Tf (after) Tj /F7 1 Tf (shown) Tj",
        b"1 " + b"9" * 5000 + b" Td (x) Tj",
    ]
    for c in cases:
        _same(c, None, True)
        _same(c, None, False)
        _same(c, b"BT (form) Tj ET", True)
