"""Content-stream tokenizer pinned token for token: each case lists the
exact (type, value) sequence ``pdfparse._tokenize_content`` returns, so a
rewrite of the tokenizer cannot change a token's class or value unseen.
The object lexer reads the same grammar: it must return the same typed
tokens, and its arrays are pinned the same way."""

import random

import pytest

from docprompt_spark import pdfparse


def _typed(tok):
    if type(tok) is pdfparse.InlineImage:
        return ("InlineImage", tok.dict, tok.raw)
    return (type(tok).__name__, tok)


def _n(v):
    return ("Name", v)


def _op(v):
    return ("Op", v)


def _lit(v):
    return ("LitString", v)


def _hex(v):
    return ("HexString", v)


def _s(v):  # structural marker: plain bytes
    return ("bytes", v)


CASES = [
    # numbers: float forms, signed ints, a number running into an operator
    ("num-plus-dot", b"+.5", [("float", 0.5)]),
    ("num-trailing-dot", b"-3.", [("float", -3.0)]),
    ("num-leading-dot", b".5", [("float", 0.5)]),
    ("num-ints", b"0 -7 +4 12", [("int", 0), ("int", -7), ("int", 4), ("int", 12)]),
    ("num-then-op", b"12abc", [("int", 12), _op(b"abc")]),
    ("num-two-floats", b"1.2.3", [("float", 1.2), ("float", 0.3)]),
    ("num-before-delim", b"3[4]", [("int", 3), _s(b"["), ("int", 4), _s(b"]")]),
    # names: empty, adjacent, #xx escapes (§7.3.5)
    ("name-plain", b"/F1 12 Tf", [_n("F1"), ("int", 12), _op(b"Tf")]),
    ("name-empty", b"/ /A", [_n(""), _n("A")]),
    ("name-adjacent", b"/A/B(x)", [_n("A"), _n("B"), _lit(b"x")]),
    ("name-hash-decoded", b"/a#20b", [_n("a b")]),
    ("name-hash-not-hex", b"/a#2 /b#zz /c#", [_n("a#2"), _n("b#zz"), _n("c#")]),
    # literal strings
    ("lit-empty", b"() Tj", [_lit(b""), _op(b"Tj")]),
    ("lit-plain", b"(Hello World)Tj", [_lit(b"Hello World"), _op(b"Tj")]),
    ("lit-escaped-paren", rb"(a\)b)", [_lit(b"a)b")]),
    ("lit-escapes", rb"(\n\r\t\b\f\\\q)", [_lit(b"\n\r\t\b\x0c\\q")]),
    ("lit-nested", b"(a(b)c) Tj", [_lit(b"a(b)c"), _op(b"Tj")]),
    ("lit-octal", rb"(\101\0502\7x)", [_lit(b"A(2\x07x")]),
    ("lit-continuation-lf", b"(ab\\\ncd)", [_lit(b"abcd")]),
    ("lit-continuation-crlf", b"(ab\\\r\ncd)", [_lit(b"abcd")]),
    # hex strings
    ("hex-ws", b"<48 65\n6c>", [_hex(b"Hel")]),
    ("hex-odd", b"<414>", [_hex(b"A@")]),
    ("hex-empty", b"<>", [_hex(b"")]),
    # dicts, arrays, operators
    (
        "dict-bdc",
        b"/Span<</MCID 3>>BDC",
        [_n("Span"), _s(b"<<"), _n("MCID"), ("int", 3), _s(b">>"), _op(b"BDC")],
    ),
    (
        "array-tj",
        b"[(a)-120(b)]TJ",
        [_s(b"["), _lit(b"a"), ("int", -120), _lit(b"b"), _s(b"]"), _op(b"TJ")],
    ),
    ("quote-ops", b"T* (x)' 1 2 (y)\"", [
        _op(b"T*"), _lit(b"x"), _op(b"'"), ("int", 1), ("int", 2), _lit(b"y"), _op(b'"'),
    ]),
    # comments: inside and trailing
    ("comment-mid", b"q % note\nQ", [_op(b"q"), _op(b"Q")]),
    # a comment at the end of the stream yields no token: no character of
    # it leaks out (an unterminated one, or one before a lone ')', neither)
    ("comment-trailing", b"1 0 0 1 5 6 cm % tail\n", [
        ("int", 1), ("int", 0), ("int", 0), ("int", 1), ("int", 5), ("int", 6), _op(b"cm"),
    ]),
    ("comment-at-eof", b"q % it's Q", [_op(b"q")]),
    # a leaked "'" operator would show from an empty operand stack
    ("comment-ends-in-quote", b"q Q % say 'hi'\n", [_op(b"q"), _op(b"Q")]),
    ("comment-before-stop", b"q % 5 Q\n)", [_op(b"q")]),
    # a lone ')' or '{' ends tokenization
    ("stop-rparen", b"q ) Q", [_op(b"q")]),
    ("stop-brace", b"q { Q", [_op(b"q")]),
    # inline images: length from the dict, from /L, and by EI search
    (
        "bi-computed-length",
        b"q BI /W 3 /H 2 /BPC 8 /CS /G ID \x00 EI \xff EI Q",
        [
            _op(b"q"),
            (
                "InlineImage",
                {"Width": 3, "Height": 2, "BitsPerComponent": 8, "ColorSpace": "DeviceGray"},
                b"\x00 EI \xff",
            ),
            _op(b"Q"),
        ],
    ),
    (
        "bi-with-L",
        b"BI /W 4 /H 1 /CS /RGB /F /AHx /L 9 ID 4142 43>Z EI\nET",
        [
            (
                "InlineImage",
                {
                    "Width": 4, "Height": 1, "ColorSpace": "DeviceRGB",
                    "Filter": "ASCIIHexDecode", "Length": 9,
                },
                b"4142 43>Z",
            ),
            _op(b"ET"),
        ],
    ),
    (
        "bi-filtered-no-L",
        b"BI /W 8 /H 1 /F [/A85] /DP <</K -1>> ID 9jqo^~>\nEI BT",
        [
            (
                "InlineImage",
                {
                    "Width": 8, "Height": 1, "Filter": ["ASCII85Decode"],
                    "DecodeParms": {"K": -1},
                },
                b"9jqo^~>",
            ),
            _op(b"BT"),
        ],
    ),
]


@pytest.mark.parametrize("data,want", [c[1:] for c in CASES], ids=[c[0] for c in CASES])
def test_tokenize_content_table(data, want):
    got = [_typed(t) for t in pdfparse._tokenize_content(data)]
    assert got == want
    # Name == str and the float/int split: compare the classes too
    assert [g[0] for g in got] == [w[0] for w in want]



def _value(v):
    if isinstance(v, list):
        return [_value(x) for x in v]
    if isinstance(v, pdfparse.Ref):
        return ("Ref", v.num, v.gen)
    return (type(v).__name__, v)


ARRAY_CASES = [
    (b"[0 0 612 792]", [("int", 0), ("int", 0), ("int", 612), ("int", 792)]),
    (b"[ ]", []),
    (b"[1.5 -2 +3 .5 4.]", [
        ("float", 1.5), ("int", -2), ("int", 3), ("float", 0.5), ("float", 4.0),
    ]),
    (b"[1\x002]", [("int", 1), ("int", 2)]),  # NUL separates tokens too
    (b"[1\t\r\n\x0c2]", [("int", 1), ("int", 2)]),
    (b"[1 [2 3] 4]", [("int", 1), [("int", 2), ("int", 3)], ("int", 4)]),
    (b"[1 0 R 2]", [("Ref", 1, 0), ("int", 2)]),
    (b"[32 /space /A]", [("int", 32), _n("space"), _n("A")]),
]


@pytest.mark.parametrize("data,want", ARRAY_CASES)
def test_object_lexer_arrays(data, want):
    """Arrays of the object lexer: number-only arrays (``/Widths``,
    ``/MediaBox``) and every other array read to the same typed values."""
    assert _value(pdfparse._parse_object(pdfparse._Lexer(data))) == want


def test_object_lexer_malformed_number_in_array_raises():
    with pytest.raises(ValueError):
        pdfparse._parse_object(pdfparse._Lexer(b"[1 2-3]"))


def _lexer_tokens(data):
    """_Lexer.read_token until the data ends, or until no token starts
    (where _tokenize_content stops)."""
    lex = pdfparse._Lexer(data)
    out = []
    while True:
        start = lex.pos
        try:
            out.append(lex.read_token())
        except EOFError:
            return out
        except ValueError:
            if pdfparse._CS_RE.match(data, start) is None:
                return out
            raise


def _outcome(tokenize, data):
    try:
        return [_typed(t) for t in tokenize(data)]
    except ValueError:  # the one error either reader may raise
        return "ValueError"


# the content cases without BI and without a byte where no token starts
_LEXER_CASES = [c for c in CASES if "stop" not in c[0] and not c[0].startswith("bi-")]


@pytest.mark.parametrize(
    "data,want", [c[1:] for c in _LEXER_CASES], ids=[c[0] for c in _LEXER_CASES]
)
def test_object_lexer_reads_content_cases(data, want):
    got = [_typed(t) for t in _lexer_tokens(data)]
    assert got == want
    assert [g[0] for g in got] == [w[0] for w in want]


# fragments over the PDF token alphabet, valid and malformed: numbers,
# lone signs and dots, names with good and bad #xx escapes, keywords,
# strings with escapes (and unterminated), hex strings (and bad ones),
# markers, whitespace, comments, and the bytes where no token starts
_FRAGMENTS = [
    b"0", b"-7", b"+4", b"12", b"1.5", b"-.5", b"3.", b"+", b"-", b".",
    b"/A", b"/", b"/a#20b", b"/F#31", b"/x#", b"/x#4", b"/x#zz", b"/#41#42",
    b"Tj", b"q", b"R", b"obj", b"true", b"null", b"'", b'"', b"T*", b"ID",
    b"\x80\xff", b"()", b"(a)", b"(a(b)c)", b"(a\\)b)", b"(\\101)",
    b"(ab\\\ncd)", b"(open", b"<>", b"<48 65>", b"<414>", b"<4G>", b"<",
    b"<<", b">>", b"[", b"]", b" ", b"\n", b"\r\n", b"\x00", b"\t",
    b"% c\n", b"%x", b")", b"{", b"}", b">",
]
_CHARS = b"0123456789+-.#/()<>[]{}% \n\r\t\x00abTjR\\"


def _random_inputs(n, seed):
    rng = random.Random(seed)
    for i in range(n):
        if i % 2:
            yield bytes(rng.choice(_CHARS) for _ in range(rng.randint(1, 16)))
        else:
            sep = rng.choice([b"", b" "])
            k = rng.randint(1, 10)
            yield sep.join(rng.choice(_FRAGMENTS) for _ in range(k))


@pytest.mark.parametrize("data", [b"(\\", b"(\\12", b"(\\7", b"(\\\r"])
def test_string_ending_inside_an_escape_raises_value_error(data):
    """Data that ends inside a literal string's escape (a lone backslash,
    an octal run, a CR continuation) is malformed, not an index error."""
    for tokenize in (pdfparse._tokenize_content, _lexer_tokens):
        with pytest.raises(ValueError):
            list(tokenize(data))


def test_both_readers_agree_on_random_token_strings():
    """One grammar: over 4,000 seeded strings the object lexer and the
    content tokenizer return the same typed tokens, stop at the same
    byte, and raise alike; ``ValueError`` is the only error either may
    raise."""
    seen = set()
    for data in _random_inputs(4000, seed=20261019):
        want = _outcome(pdfparse._tokenize_content, data)
        assert _outcome(_lexer_tokens, data) == want, data
        seen.add(want if isinstance(want, str) else "tokens")
    assert seen >= {"tokens", "ValueError"}


def test_hash_escaped_font_name_selects_the_font():
    """A content stream may write its font name with #xx escapes
    (§7.3.5): ``/F#31`` is ``/F1``, so the page reads the same words."""
    from docprompt_spark import pdfwrite

    pages = [{"width": 612.0, "height": 792.0, "images": [],
              "text_ops": [{"font": "F1", "size": 10.0, "x": 72.0,
                            "y": 700.0, "mode": "Tm",
                            "segments": ["alpha beta"]}]}]
    pdf = pdfwrite.write_pdf(pages, doc_title="t")
    pf = pdfparse.PdfFile(pdf)
    ref = pf.resolve(pf.page_refs[0])["Contents"]
    body = pf.get_object(ref.num).raw
    assert body.count(b"/F1 10 Tf") == 1
    body = body.replace(b"/F1 10 Tf", b"/F#31 10 Tf")
    # an incremental update (§7.5.6) redefines the content stream
    obj = b"%d 0 obj\n<< /Length %d >>\nstream\n%s\nendstream\nendobj\n" % (
        ref.num, len(body), body,
    )
    xref_at = len(pdf) + len(obj)
    tail = (
        b"xref\n%d 1\n%010d 00000 n \ntrailer\n"
        b"<< /Size %d /Root %d 0 R /Prev %d >>\nstartxref\n%d\n%%%%EOF\n"
        % (ref.num, len(pdf), pf.trailer["Size"], pf.trailer["Root"].num,
           int(pdf.rsplit(b"startxref", 1)[1].split()[0]), xref_at)
    )
    escaped = pdfparse.PdfFile(pdf + obj + tail)
    assert b"/F#31 10 Tf" in escaped.get_object(ref.num).raw
    words = pf.extract_page(0)["words"]
    assert [w["text"] for w in words] == ["alpha", "beta"]
    assert escaped.extract_page(0)["words"] == words
