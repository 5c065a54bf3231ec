"""Content-stream interpreter: operators → positioned text spans.

Reimplements the text-operator semantics of the reference
(/root/reference/src/content/parser.rs): the operand/operator loop
(:97-134), graphics-state stack (q/Q), text matrices
(BT/ET/Td/TD/Tm/T*), show operators (Tj/TJ/'/\") with the fixed
half-em advance estimate (:627, :698 — 0.5 * font_size per *byte*,
load-bearing for byte-identity), TJ flush at ``|adjust| > 200``
(:635), whitespace-only spans kept as single-space word-boundary
markers (:726-735), and same-line span merging (:137-222).
"""

from __future__ import annotations

from pdf_parser_spark.engine.errors import ParseError
from pdf_parser_spark.engine.fonts import FontEncoding
from pdf_parser_spark.engine.objects import Name

# Exactly the char set of Rust's str::trim (Unicode White_Space),
# which differs from Python's str.strip() default (Python also strips
# \x1c-\x1f).  Used everywhere the reference calls .trim().
RUST_WS = (
    "\t\n\x0b\x0c\r \x85\xa0\u1680"
    "\u2000\u2001\u2002\u2003\u2004\u2005\u2006\u2007\u2008\u2009\u200a"
    "\u2028\u2029\u202f\u205f\u3000"
)

_HEX = frozenset(b"0123456789abcdefABCDEF")
_OCTAL = frozenset(b"01234567")
_HEXVAL = {c: int(chr(c), 16) for c in _HEX}

IDENTITY_MATRIX = (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)

# C-speed scanners for the content-stream hot path (semantics are
# identical to the byte loops they replace; byte-identity is guarded
# by the differential fuzzer against the reference binary)
import re as _re

_STR_PLAIN_RE = _re.compile(rb"[^()\\]+")

# Master tokenizers: one C-level match per token (leading whitespace +
# comments folded into the same match).  Two contexts because the
# reference's operand loop (content/parser.rs:97-134) and its in-array
# loop (:447-464) classify bytes differently: at top level an operator
# run executes and `'`/`"` start operators, while inside an array
# alphabetic bytes are skipped one class at a time, `>`/`]` are bare
# delimiters, and an unknown byte consumes the byte AFTER it too
# (parse_operand's advance + the array loop's `pos += 1`, :460).
_WS_PREFIX = rb"(?:[\x00\t\n\x0c\r ]+|%[^\n]*)*"

# Fused "superop" alternatives: one C-level match for the stereotyped
# instruction sequences every PDF writer emits (Tf/Tm/Td/Tj/TJ runs).
# Each is built ONLY from patterns token-equivalent to the generic
# alternatives below — a strict float-parseable number with a
# maximal-munch guard (so `1.2.3` still falls through to the generic
# path and raises, like the reference), an operator-boundary guard,
# plain (comment-free) whitespace, and escape-free literal strings.
# Anything off-pattern simply fails the superop and is re-lexed one
# token at a time, so byte-identity is preserved by construction.
# atomic core: without (?>...), a failing guard after a long digit
# run re-splits [0-9]+ \.? [0-9]* one position at a time with an
# O(n) re-scan each — quadratic on a crafted all-digits stream
_N = rb"[+-]?(?>[0-9]+\.?[0-9]*|\.[0-9]+)(?![0-9.])"
_W = rb"[\x00\t\n\x0c\r ]*"
_W1 = rb"[\x00\t\n\x0c\r ]+"
_G = rb"(?![A-Za-z*'\"])"  # operator token ends here
_NAME_B = rb"[A-Za-z0-9_\-+.]*"
_PSTR = rb"\([^()\\]*\)"

_SUPER_LINE = (  # /F1 12 Tf a b c d e f Tm (text) Tj
    rb"/(?P<lf_n>" + _NAME_B + rb")" + _W1 + rb"(?P<lf_s>" + _N + rb")"
    + _W + rb"Tf" + _G + _W
    + rb"(?P<lf_a>" + _N + rb")" + _W1 + rb"(?P<lf_b>" + _N + rb")" + _W1
    + rb"(?P<lf_c>" + _N + rb")" + _W1 + rb"(?P<lf_d>" + _N + rb")" + _W1
    + rb"(?P<lf_e>" + _N + rb")" + _W1 + rb"(?P<lf_f>" + _N + rb")"
    + _W + rb"Tm" + _G + _W
    + rb"\((?P<lf_t>[^()\\]*)\)" + _W + rb"Tj" + _G + rb"(?P<LINE>)"
)
_SUPER_TF = (
    rb"/(?P<tf_n>" + _NAME_B + rb")" + _W1 + rb"(?P<tf_s>" + _N + rb")"
    + _W + rb"Tf" + _G + rb"(?P<TF>)"
)
_SUPER_TM = (
    rb"(?P<tm_a>" + _N + rb")" + _W1 + rb"(?P<tm_b>" + _N + rb")" + _W1
    + rb"(?P<tm_c>" + _N + rb")" + _W1 + rb"(?P<tm_d>" + _N + rb")" + _W1
    + rb"(?P<tm_e>" + _N + rb")" + _W1 + rb"(?P<tm_f>" + _N + rb")"
    + _W + rb"Tm" + _G + rb"(?P<TM>)"
)
_SUPER_TD = (
    rb"(?P<td_x>" + _N + rb")" + _W1 + rb"(?P<td_y>" + _N + rb")"
    + _W + rb"(?P<td_o>T[dD])" + _G + rb"(?P<TD>)"
)
_SUPER_TJA = (  # [ (str) -n (str) ... ] TJ with only simple items
    rb"\[(?P<ta>(?:[\x00\t\n\x0c\r ]|" + _PSTR + rb"|" + _N + rb")*)\]"
    + _W + rb"TJ" + _G + rb"(?P<TJA>)"
)
_SUPER_TJS = rb"\((?P<tj_t>[^()\\]*)\)" + _W + rb"Tj" + _G + rb"(?P<TJS>)"
_TJ_ITEM_RE = _re.compile(rb"(" + _PSTR + rb")|(" + _N + rb")")

# Standalone LINE matcher for batch-consuming RUNS of the fused
# /Name size Tf a b c d e f Tm (text) Tj sequence (positional groups,
# leading plain whitespace folded in).  Tm sets the matrices
# ABSOLUTELY, so consecutive LINE tokens are data-independent: a run
# can be consumed item-by-item against this much simpler pattern
# (no master-alternation dispatch) and only the LAST item's a-d
# values ever reach the graphics state.  Comments between items make
# the item regex fail → the generic loop resumes, so semantics are
# byte-identical by construction.
#
# The numbers here are a bare character class, NOT the strict _N: the
# class is ~30% cheaper per item (measured; the strict pattern's
# alternation+lookahead dominate the anchored match) and over-accepts
# only strings like "1.2.3" / "+-" that float() rejects — the run loop
# validates every captured number BEFORE any state change and breaks
# to the generic loop on ValueError, so acceptance is byte-identical.
# Interior operator guards (after Tf/Tm) are dropped: a following
# alphabetic byte makes the REST of the pattern fail, which rejects
# the item without consuming anything.  The FINAL guard after Tj must
# stay — without it "…(x) Tjq" would match up to "Tj" and consume a
# prefix of the unknown operator "Tjq" (which the reference treats as
# discard-operands, no span).
_NB = rb"[0-9.+-]+"

# Per-run SPECIALIZED item matcher cache: most writers emit runs whose
# font name, size, and matrix a-d are constant with only e/f/text
# varying (absolute-positioned lines).  Freezing those five fields as
# literals leaves a 3-group pattern that matches ~2x faster than the
# 9-group generic item (measured 162->74 us on the 60-page fixture's
# page), and acceptance is a strict subset of _LINE_ITEM_RE with
# byte-equal fields, so semantics are inherited.  Keyed by the raw
# field bytes; bounded against hostile many-key streams.
_SPEC_CACHE: dict[tuple, "_re.Pattern"] = {}


def _specialized_line_re(bn, bs, ba, bb, bc, bd):
    key = (bn, bs, ba, bb, bc, bd)
    spec = _SPEC_CACHE.get(key)
    if spec is None:
        if len(_SPEC_CACHE) >= 512:
            _SPEC_CACHE.clear()
        e = _re.escape
        spec = _SPEC_CACHE[key] = _re.compile(
            _W + rb"/" + e(bn) + _W1 + e(bs) + _W + rb"Tf" + _W
            + e(ba) + _W1 + e(bb) + _W1 + e(bc) + _W1 + e(bd) + _W1
            + rb"(" + _NB + rb")" + _W1 + rb"(" + _NB + rb")"
            + _W + rb"Tm" + _W
            + rb"\(([^()\\]*)\)" + _W + rb"Tj" + _G
        )
    return spec


_LINE_ITEM_PAT = (
    _W
    + rb"/(" + _NAME_B + rb")" + _W1 + rb"(" + _NB + rb")"
    + _W + rb"Tf" + _W
    + rb"(" + _NB + rb")" + _W1 + rb"(" + _NB + rb")" + _W1
    + rb"(" + _NB + rb")" + _W1 + rb"(" + _NB + rb")" + _W1
    + rb"(" + _NB + rb")" + _W1 + rb"(" + _NB + rb")"
    + _W + rb"Tm" + _W
    + rb"\(([^()\\]*)\)" + _W + rb"Tj" + _G
)
_LINE_ITEM_RE = _re.compile(_LINE_ITEM_PAT)

# bytes whose default decode is NOT the identity (everything outside
# printable ASCII and >= 0xA0 maps to ' ', _DEFAULT_TABLE below); when
# absent, plain latin-1 decode replaces the ~4x-slower dict translate
_DEFAULT_NONID_RE = _re.compile(rb"[\x00-\x1f\x7f-\x9f]")
# same byte set, for whole-stream detection via bytes.translate
# deletion (~10x faster than the regex scan on clean multi-KB pages;
# the per-item fallback checks below stay on the regex)
_NONID_BYTES = bytes(range(0x20)) + bytes(range(0x7F, 0xA0))

_TOK_RE = _re.compile(
    _WS_PREFIX
    + rb"(?:"
    + _SUPER_LINE
    + rb"|" + _SUPER_TF
    + rb"|" + _SUPER_TM
    + rb"|" + _SUPER_TD
    + rb"|" + _SUPER_TJA
    + rb"|" + _SUPER_TJS
    + rb"|(?P<num>[0-9.][0-9.]*|[+-][0-9.]*)"
    + rb"|(?P<op>[A-Za-z'\"][A-Za-z*'\"]*)"
    + rb"|\((?P<sstr>[^()\\]*)\)"  # escape/nesting-free literal string
    + rb"|(?P<name>/[A-Za-z0-9_\-+.]*)"
    + rb"|(?P<arr>\[)"
    + rb"|(?P<dict><<)"
    + rb"|(?P<hex><)"
    + rb"|(?P<lparen>\()"  # string needing the full scanner
    + rb"|(?P<end>\Z)"
    + rb"|(?P<other>.)"  # stray ']', '>', unknown: skip + discard
    + rb")",
    _re.S,
)
_ARR_TOK_RE = _re.compile(
    _WS_PREFIX
    + rb"(?:"
    + rb"(?P<num>[0-9.][0-9.]*|[+-][0-9.]*)"
    + rb"|\((?P<sstr>[^()\\]*)\)"
    + rb"|(?P<name>/[A-Za-z0-9_\-+.]*)"
    + rb"|(?P<arr>\[)"
    + rb"|(?P<arrend>\])"
    + rb"|(?P<alpha>[A-Za-z]+)"  # skipped, byte-run equivalent
    + rb"|(?P<delim>>)"  # bare delimiter: skip one byte
    + rb"|(?P<dict><<)"
    + rb"|(?P<hex><)"
    + rb"|(?P<lparen>\()"
    + rb"|(?P<end>\Z)"
    + rb"|(?P<other>..?)"  # unknown consumes the following byte too
    + rb")",
    _re.S,
)


class TextSpan:
    """Positioned text fragment in page space
    (reference: content/parser.rs:7-13)."""

    __slots__ = ("text", "x", "y", "font_size", "font_name")

    def __init__(self, text, x, y, font_size, font_name):
        self.text = text
        self.x = x
        self.y = y
        self.font_size = font_size
        self.font_name = font_name

    def __repr__(self) -> str:  # pragma: no cover - debug aid
        return (
            f"TextSpan({self.text!r}, x={self.x}, y={self.y}, "
            f"size={self.font_size}, font={self.font_name!r})"
        )

    def __eq__(self, other):
        return (
            isinstance(other, TextSpan)
            and self.text == other.text
            and self.x == other.x
            and self.y == other.y
            and self.font_size == other.font_size
            and self.font_name == other.font_name
        )


class _State:
    """Graphics state (reference: content/parser.rs:17-47)."""

    __slots__ = (
        "text_matrix",
        "line_matrix",
        "font_size",
        "font_name",
        "leading",
        "char_spacing",
        "word_spacing",
    )

    def __init__(self):
        self.text_matrix = list(IDENTITY_MATRIX)
        self.line_matrix = list(IDENTITY_MATRIX)
        self.font_size = 12.0
        self.font_name = None
        self.leading = 0.0
        self.char_spacing = 0.0
        self.word_spacing = 0.0

    def copy(self):
        c = _State.__new__(_State)
        c.text_matrix = self.text_matrix[:]
        c.line_matrix = self.line_matrix[:]
        c.font_size = self.font_size
        c.font_name = self.font_name
        c.leading = self.leading
        c.char_spacing = self.char_spacing
        c.word_spacing = self.word_spacing
        return c


class ContentParser:
    def __init__(self, data: bytes, font_encodings: dict[str, FontEncoding] | None = None):
        self.data = data
        self.pos = 0
        self.state = _State()
        self.state_stack: list[_State] = []
        self.spans: list[TextSpan] = []
        self.font_encodings = font_encodings or {}

    # -- main loop ------------------------------------------------------

    def parse(self) -> list[TextSpan]:
        """Flat operand/operator dispatch loop.

        Semantics are the two-level loop of the reference
        (content/parser.rs:97-134): operands accumulate until an
        operator byte executes them; a non-operand byte (inline dict,
        stray delimiter, unknown) DISCARDS the pending operands.
        Arrays nest via an explicit operand-list stack instead of the
        reference's recursion — operator tokens inside an array are
        inert (parse_operand returns None for alphabetic bytes, :300),
        so stack depth fully determines dispatch.  Each token costs
        one C-level regex match (leading whitespace and comments
        folded in) — profiling showed per-byte Python classification
        dominating 60-page documents.
        """
        data = self.data
        tok, arr_tok = _TOK_RE.match, _ARR_TOK_RE.match
        _line_item = _LINE_ITEM_RE.match
        _nonid = _DEFAULT_NONID_RE.search
        # one C pass over the whole stream: when no non-identity byte
        # exists anywhere, every show-string decodes as the identity —
        # skips the per-item search on clean (typical) content
        clean = len(data.translate(None, _NONID_BYTES)) == len(data)
        execute = self._execute
        spans_append = self.spans.append
        enc_get = self.font_encodings.get
        pos = self.pos
        operands: list = []
        stack: list[list] = []  # enclosing arrays' operand lists
        while True:
            m = arr_tok(data, pos) if stack else tok(data, pos)
            g = m.lastgroup
            pos = m.end()
            if g == "LINE":
                # fused /Name size Tf a b c d e f Tm (text) Tj — Tf
                # clears any pending operands (it executes), so the
                # stale-operand hazard of Tm's first-6-floats rule
                # (see TM below) cannot arise here.  The span-emit is
                # the _add_text_span(_at) body inlined (same decode /
                # trim / advance semantics, parser.rs:692-736).
                bn, bs, ba, bb, bc, bd, be, bf, raw = m.group(
                    "lf_n", "lf_s", "lf_a", "lf_b", "lf_c", "lf_d",
                    "lf_e", "lf_f", "lf_t",
                )
                st = self.state
                fname = bn.decode("latin-1")
                fsize = float(bs)
                st.font_name = fname
                st.font_size = fsize
                e = float(be)
                f_ = float(bf)
                lm = [float(ba), float(bb), float(bc), float(bd), e, f_]
                st.line_matrix = lm
                enc = enc_get(fname)
                if enc is not None:
                    text = enc.decode_bytes(raw)
                elif clean or _nonid(raw) is None:
                    text = raw.decode("latin-1")
                else:
                    text = raw.decode("latin-1").translate(_DEFAULT_TABLE)
                trimmed = text.strip(RUST_WS)
                if trimmed:
                    spans_append(TextSpan(trimmed, e, f_, fsize, fname))
                elif text:
                    spans_append(TextSpan(" ", e, f_, fsize, fname))
                tm = lm[:]
                tm[4] = e + len(raw) * fsize * 0.5
                st.text_matrix = tm
                if operands:
                    operands.clear()
                # specialized uniform-run consumption first: this
                # item's font/size/a-d frozen as literals (see
                # _specialized_line_re); e/f float() may still reject
                # a class-over-accepted number — the failing item has
                # consumed nothing and advanced nothing, so the
                # generic item loop (then the outer loop) re-lexes it
                if enc is None:
                    sm = _specialized_line_re(bn, bs, ba, bb, bc, bd).match
                    ts_new0 = TextSpan.__new__
                    la = lm[0]
                    lb, lc, ld = lm[1], lm[2], lm[3]
                    last2 = None
                    m2 = sm(data, pos)
                    try:
                        while m2 is not None:
                            be2, bf2, raw2 = m2.groups()
                            e2 = float(be2)
                            f2 = float(bf2)
                            if clean or _nonid(raw2) is None:
                                text = raw2.decode("latin-1")
                            else:
                                text = raw2.decode("latin-1").translate(
                                    _DEFAULT_TABLE
                                )
                            trimmed = text.strip(RUST_WS)
                            if trimmed or text:
                                sp = ts_new0(TextSpan)
                                sp.text = trimmed if trimmed else " "
                                sp.x = e2
                                sp.y = f2
                                sp.font_size = fsize
                                sp.font_name = fname
                                spans_append(sp)
                            last2 = raw2
                            e, f_ = e2, f2
                            pos = m2.end()
                            m2 = sm(data, pos)
                    except ValueError:
                        pass
                    if last2 is not None:
                        lm = [la, lb, lc, ld, e, f_]
                        st.line_matrix = lm
                        tm = lm[:]
                        tm[4] = e + len(last2) * fsize * 0.5
                        st.text_matrix = tm
                # batch-consume any remaining run of LINE tokens (see
                # _LINE_ITEM_RE): per-item work is only one simple
                # C-level match + decode + span emit (measured faster
                # than a (?:item)+ run match with findall — repeated
                # group capture makes the run pass ~2x the loop);
                # matrix state is reconstructed from the last item
                item = _line_item(data, pos)
                if item is not None:
                    fname_of: dict[bytes, str] = {bn: fname}
                    fsize_of: dict[bytes, float] = {bs: fsize}
                    fname_get = fname_of.get
                    fsize_get = fsize_of.get
                    ts_new = TextSpan.__new__
                    # matrix a-d validity memo: the class-based item
                    # regex over-accepts non-floats (see _NB); a-d are
                    # near-constant across a run, so after the first
                    # item four byte-compares against the last
                    # VALIDATED quad revalidate all four (measured
                    # cheaper than the tuple-slice + set-hash spelling)
                    va = vb = vc = vd = None
                    fa = fb = fc = fd = 0.0
                    last_raw = None
                    while item is not None:
                        bn, bs, ba, bb, bc, bd, be, bf, raw = item.groups()
                        try:
                            # temporaries only: a failing item must
                            # not clobber the last SUCCESSFUL item's
                            # values (the post-loop state rebuild
                            # reads fsize/e/f_ — a half-written batch
                            # here once produced a TypeError on
                            # hostile streams like '/F1 1-2 Tf')
                            fsize2 = fsize_get(bs)
                            if fsize2 is None:
                                fsize2 = fsize_of[bs] = float(bs)
                            if ba != va or bb != vb or bc != vc or bd != vd:
                                fa2, fb2 = float(ba), float(bb)
                                fc2, fd2 = float(bc), float(bd)
                            else:
                                fa2, fb2, fc2, fd2 = fa, fb, fc, fd
                            e2 = float(be)
                            f2 = float(bf)
                        except ValueError:
                            # a class-matched number float() rejects:
                            # not a LINE item — no state was touched;
                            # the generic loop re-lexes from here
                            break
                        va, vb, vc, vd = ba, bb, bc, bd
                        fa, fb, fc, fd = fa2, fb2, fc2, fd2
                        fsize, e, f_ = fsize2, e2, f2
                        fname = fname_get(bn)
                        if fname is None:
                            fname = fname_of[bn] = bn.decode("latin-1")
                        enc = enc_get(fname)
                        if enc is not None:
                            text = enc.decode_bytes(raw)
                        elif clean or _nonid(raw) is None:
                            text = raw.decode("latin-1")
                        else:
                            text = raw.decode("latin-1").translate(_DEFAULT_TABLE)
                        trimmed = text.strip(RUST_WS)
                        if trimmed or text:
                            sp = ts_new(TextSpan)
                            sp.text = trimmed if trimmed else " "
                            sp.x = e
                            sp.y = f_
                            sp.font_size = fsize
                            sp.font_name = fname
                            spans_append(sp)
                        last_raw = raw
                        pos = item.end()
                        item = _line_item(data, pos)
                    if last_raw is not None:
                        st.font_name = fname
                        st.font_size = fsize
                        lm = [fa, fb, fc, fd, e, f_]
                        st.line_matrix = lm
                        tm = lm[:]
                        tm[4] = e + len(last_raw) * fsize * 0.5
                        st.text_matrix = tm
            elif g == "TJS":
                st = self.state
                tmx = st.text_matrix
                raw = m.group("tj_t")
                fname = st.font_name
                enc = enc_get(fname) if fname is not None else None
                if enc is not None:
                    text = enc.decode_bytes(raw)
                elif clean or _nonid(raw) is None:
                    text = raw.decode("latin-1")
                else:
                    text = raw.decode("latin-1").translate(_DEFAULT_TABLE)
                trimmed = text.strip(RUST_WS)
                if trimmed:
                    spans_append(
                        TextSpan(trimmed, tmx[4], tmx[5], st.font_size, fname)
                    )
                elif text:
                    spans_append(
                        TextSpan(" ", tmx[4], tmx[5], st.font_size, fname)
                    )
                tmx[4] += len(raw) * st.font_size * 0.5
                if operands:
                    operands.clear()
            elif g == "TM":
                if operands:
                    # generic Tm takes the FIRST six floats of the
                    # operand list (parser.rs:574-592), so with stale
                    # operands pending the fused form would diverge;
                    # replay just the first number generically instead
                    operands.append(float(m.group("tm_a")))
                    pos = m.end("tm_a")
                else:
                    gr = m.group
                    st = self.state
                    st.text_matrix = [
                        float(gr("tm_a")), float(gr("tm_b")),
                        float(gr("tm_c")), float(gr("tm_d")),
                        float(gr("tm_e")), float(gr("tm_f")),
                    ]
                    st.line_matrix = st.text_matrix[:]
            elif g == "TD":
                gr = m.group
                st = self.state
                y = float(gr("td_y"))
                if gr("td_o") == b"TD":
                    st.leading = -y
                st.line_matrix[4] += float(gr("td_x"))
                st.line_matrix[5] += y
                st.text_matrix = st.line_matrix[:]
                if operands:
                    operands.clear()
            elif g == "TF":
                st = self.state
                st.font_name = m.group("tf_n").decode("latin-1")
                st.font_size = float(m.group("tf_s"))
                if operands:
                    operands.clear()
            elif g == "TJA":
                items: list = []
                append = items.append
                for s, v in _TJ_ITEM_RE.findall(m.group("ta")):
                    append(s[1:-1] if s else float(v))
                self._execute_tj(items)
                if operands:
                    operands.clear()
            elif g == "num":
                text = m.group("num")
                try:
                    operands.append(float(text))
                except ValueError:
                    self.pos = pos
                    raise ParseError(
                        m.start("num"),
                        f"Invalid number: {text.decode('latin-1')}",
                    ) from None
            elif g == "op":
                self.pos = pos
                execute(m.group("op").decode("latin-1"), operands)
                pos = self.pos
                operands = []
            elif g == "sstr":
                operands.append(m.group("sstr"))
            elif g == "name":
                operands.append(Name(m.group("name")[1:].decode("latin-1")))
            elif g == "arr":
                stack.append(operands)
                operands = []
            elif g == "arrend":
                arr = operands
                operands = stack.pop()
                operands.append(arr)
            elif g == "lparen":
                self.pos = pos - 1  # _read_string expects pos at '('
                operands.append(self._read_string())
                pos = self.pos
            elif g == "hex":
                self.pos = pos  # just past '<'
                operands.append(self._read_hex_string())
                pos = self.pos
            elif g == "dict":
                self.pos = pos - 1  # _skip_dict expects pos at 2nd '<'
                self._skip_dict()
                pos = self.pos
                if stack:
                    pos += 1  # in-array quirk: extra byte (parser.rs:460)
                else:
                    operands = []  # non-operand: discard pending
            elif g == "alpha" or g == "delim":
                pass  # in-array: skipped without effect
            elif g == "end":
                break
            else:  # "other"
                # stray ']'/'>' or unknown byte at top level: skip it
                # and discard pending operands (reference breaks its
                # operand loop; the skip is our forward-progress guard
                # for the stray delimiters the reference would spin on,
                # content/parser.rs:295).  In-array an unknown byte
                # consumes its successor too (matched as 2 bytes).
                if not stack:
                    operands = []
        self.pos = pos
        return self._merge_adjacent_spans()

    # -- span merging (content/parser.rs:137-222) ------------------------

    def _merge_adjacent_spans(self) -> list[TextSpan]:
        if not self.spans:
            return []

        # Fast path: when every consecutive pair is separated in y by
        # more than the 0.3 x font-size tolerance, the comparator
        # orders the list exactly as-is (one ascending run → timsort
        # is the identity) and the merge loop's same-line test (the
        # SAME |Δy| > 0.3 * prev.font_size quantity) can never fire —
        # so sort + merge are both no-ops.  This is the shape every
        # line-per-span page has.
        spans = self.spans
        clean = True
        prev = spans[0]
        for s in spans[1:]:
            # NaN-safe: the separation test must be the POSITIVE
            # condition (inf-y spans make the difference NaN, and a
            # NaN comparison is always False — phrased as `<= tol:
            # break` that would skip the real sort).
            #
            # BOTH font sizes gate the fast path: the sort comparator's
            # tolerance is the FIRST argument's font_size (the later
            # span during insertion), the merge test's is the earlier
            # span's — a big-font span following a small-font one
            # within its own tolerance (small text above a large
            # heading) must take the full path.  With every adjacent
            # gap above both tolerances, any pair (i,j) has
            # gap(i,j) >= max(adjacent gaps) > 0.3*max(fs_i, fs_j), so
            # the comparator is strictly y-descending for EVERY pair —
            # any sort is the identity and the merge can never fire.
            gap = prev.y - s.y
            if not (gap > prev.font_size * 0.3 and gap > s.font_size * 0.3):
                clean = False
                break
            prev = s
        if clean:
            return spans

        def is_less(a: TextSpan, b: TextSpan) -> bool:
            # Same tolerance-based comparator as the reference
            # (content/parser.rs:144-152): y descending unless within
            # 0.3 * a.font_size, then x ascending.  The tolerance arm
            # makes it NON-transitive when y values chain across the
            # 0.3*fs boundary (y=740/744/747.8 at fs=14: 740~744,
            # 744~747.8, but 740<747.8), so the final order is defined
            # by the reference's sort ALGORITHM, not the comparator.
            y_diff = b.y - a.y
            if abs(y_diff) > a.font_size * 0.3:
                return y_diff < 0.0
            return a.x < b.x

        # Rust's stable slice sort (rustc 1.95, driftsort era) sorts a
        # TextSpan slice of len <= 20 by plain left-to-right linear
        # insertion sort — verified empirically against the same
        # toolchain over ~800 adversarial tolerance-straddling cases,
        # lengths 2-20, zero mismatches (Python's timsort
        # binary-insertion diverges from n=6 up).  At len >= 21 Rust
        # enters driftsort's quicksort/smallsort machinery, which
        # PANICS on detected total-order violations (smallsort.rs:860
        # "user-provided comparison function does not correctly
        # implement a total order" — i.e. the reference CLI *crashes*
        # on pages whose span y-values chain across the tolerance
        # boundary); whenever the comparator IS a strict weak order,
        # every stable sort produces the identical unique order, so
        # timsort matches wherever the reference survives at all.  We
        # deliberately do NOT reproduce the crash: such documents
        # extract deterministically here (tests/test_reference_fuzz.py
        # pins both halves of this contract).  Real emission order is
        # nearly sorted, making insertion O(n + inversions) — cheaper
        # than cmp_to_key timsort at these lengths anyway.
        if len(spans) <= 20:
            sorted_spans = list(spans)
            for i in range(1, len(sorted_spans)):
                j = i
                while j > 0 and is_less(sorted_spans[j], sorted_spans[j - 1]):
                    sorted_spans[j], sorted_spans[j - 1] = (
                        sorted_spans[j - 1],
                        sorted_spans[j],
                    )
                    j -= 1
        else:
            import functools

            def cmp(a: TextSpan, b: TextSpan) -> int:
                y_diff = b.y - a.y
                if abs(y_diff) > a.font_size * 0.3:
                    return 1 if y_diff > 0.0 else (-1 if y_diff < 0.0 else 0)
                if a.x < b.x:
                    return -1
                if a.x > b.x:
                    return 1
                return 0

            sorted_spans = sorted(spans, key=functools.cmp_to_key(cmp))

        merged: list[TextSpan] = []
        last_raw_x = 0.0
        last_raw_char_count = 0

        for span in sorted_spans:
            if merged:
                last = merged[-1]
                y_tolerance = last.font_size * 0.3
                same_line = abs(span.y - last.y) <= y_tolerance
                if same_line and last.font_name == span.font_name:
                    char_width = last.font_size * 0.5
                    per_char_mode = last_raw_char_count <= 1 and len(span.text) <= 1
                    expected_end = last_raw_x + last_raw_char_count * char_width
                    gap = span.x - expected_end
                    if per_char_mode:
                        if -char_width * 3.0 < gap < char_width * 3.0:
                            last.text += span.text
                        else:
                            merged.append(
                                TextSpan(span.text, span.x, span.y, span.font_size, span.font_name)
                            )
                    else:
                        if -char_width * 2.0 < gap < char_width * 0.8:
                            last.text += span.text
                        elif gap < char_width * 2.0:
                            last.text += " " + span.text
                        else:
                            merged.append(
                                TextSpan(span.text, span.x, span.y, span.font_size, span.font_name)
                            )
                    last_raw_x = span.x
                    last_raw_char_count = len(span.text)
                else:
                    last_raw_x = span.x
                    last_raw_char_count = len(span.text)
                    merged.append(span)
            else:
                last_raw_x = span.x
                last_raw_char_count = len(span.text)
                merged.append(span)

        return merged

    # -- lexical helpers (content streams are lexed independently of the
    #    object lexer; the rules differ subtly — see each method) --------





    def _read_string(self) -> bytes:
        # Unlike the object lexer, EOF inside a string returns the
        # partial content instead of erroring (parser.rs:339).
        data, n = self.data, len(self.data)
        pos = self.pos + 1  # '('
        out = bytearray()
        depth = 1
        while pos < n and depth > 0:
            m = _STR_PLAIN_RE.match(data, pos)
            if m is not None:
                # bulk-copy a run with no ( ) \ — cannot change depth
                out += m.group()
                pos = m.end()
                if pos >= n:
                    break
            b = data[pos]
            pos += 1
            if b == 0x28:
                depth += 1
                out.append(b)
            elif b == 0x29:
                depth -= 1
                if depth > 0:
                    out.append(b)
            elif b == 0x5C and pos < n:
                e = data[pos]
                pos += 1
                if e == 0x6E:
                    out.append(0x0A)
                elif e == 0x72:
                    out.append(0x0D)
                elif e == 0x74:
                    out.append(0x09)
                elif e == 0x62:
                    out.append(0x08)
                elif e == 0x66:
                    out.append(0x0C)
                elif e in (0x28, 0x29, 0x5C):
                    out.append(e)
                elif e in _OCTAL:
                    # u8 arithmetic with wrapping, like the reference's
                    # `val * 8 + d` on u8 (parser.rs:368-374)
                    val = e - 0x30
                    for _ in range(2):
                        if pos < n and data[pos] in _OCTAL:
                            val = (val * 8 + (data[pos] - 0x30)) & 0xFF
                            pos += 1
                        else:
                            break
                    out.append(val)
                elif e in (0x0D, 0x0A):
                    if e == 0x0D and pos < n and data[pos] == 0x0A:
                        pos += 1
                else:
                    out.append(e)
            else:
                out.append(b)
        self.pos = pos
        return bytes(out)

    def _read_hex_string(self) -> bytes:
        # Invalid chars are silently skipped here (parser.rs:405-410),
        # unlike the object lexer which errors.
        data, n = self.data, len(self.data)
        pos = self.pos
        nibbles = bytearray()
        while pos < n:
            b = data[pos]
            pos += 1
            if b == 0x3E:
                break
            if b in _HEX:
                nibbles.append(b)
        self.pos = pos
        if len(nibbles) % 2 == 1:
            nibbles.append(0x30)
        return bytes(
            (_HEXVAL[nibbles[i]] << 4) | _HEXVAL[nibbles[i + 1]]
            for i in range(0, len(nibbles), 2)
        )



    def _skip_dict(self) -> None:
        data, n = self.data, len(self.data)
        pos = self.pos + 1  # second '<'
        depth = 1
        while pos < n and depth > 0:
            if pos + 1 < n:
                if data[pos] == 0x3C and data[pos + 1] == 0x3C:
                    depth += 1
                    pos += 2
                    continue
                if data[pos] == 0x3E and data[pos + 1] == 0x3E:
                    depth -= 1
                    pos += 2
                    continue
            pos += 1
        self.pos = pos

    # -- operators (content/parser.rs:490-690) ----------------------------

    def _execute(self, op: str, operands: list) -> None:
        # chain ordered by operator frequency in real content streams
        # (Tj/TJ/Td dominate); branches are mutually exclusive so order
        # is semantics-free
        state = self.state
        if op == "Tj":
            if operands and isinstance(operands[-1], bytes):
                self._add_text_span(operands[-1])
        elif op == "TJ":
            if operands and isinstance(operands[-1], list):
                self._execute_tj(operands[-1])
        elif op == "Td":
            if (
                len(operands) >= 2
                and isinstance(operands[-2], float)
                and isinstance(operands[-1], float)
            ):
                # += on e,f only — not a true matrix multiply; the
                # reference does the same (parser.rs:551-554)
                state.line_matrix[4] += operands[-2]
                state.line_matrix[5] += operands[-1]
                state.text_matrix = state.line_matrix[:]
        elif op == "q":
            self.state_stack.append(state.copy())
        elif op == "Q":
            if self.state_stack:
                self.state = self.state_stack.pop()
        elif op == "BT":
            state.text_matrix = list(IDENTITY_MATRIX)
            state.line_matrix = list(IDENTITY_MATRIX)
        elif op == "ET":
            pass
        elif op == "Tf":
            if len(operands) >= 2:
                name = operands[-2]
                if isinstance(name, Name):
                    state.font_name = str(name)
                size = operands[-1]
                if isinstance(size, float):
                    state.font_size = size
        elif op == "TL":
            if operands and isinstance(operands[-1], float):
                state.leading = operands[-1]
        elif op == "Tc":
            if operands and isinstance(operands[-1], float):
                state.char_spacing = operands[-1]
        elif op == "Tw":
            if operands and isinstance(operands[-1], float):
                state.word_spacing = operands[-1]
        elif op == "TD":
            if (
                len(operands) >= 2
                and isinstance(operands[-2], float)
                and isinstance(operands[-1], float)
            ):
                state.leading = -operands[-1]
                state.line_matrix[4] += operands[-2]
                state.line_matrix[5] += operands[-1]
                state.text_matrix = state.line_matrix[:]
        elif op == "Tm":
            if len(operands) >= 6:
                nums = [o for o in operands if isinstance(o, float)]
                if len(nums) >= 6:
                    state.text_matrix = nums[:6]
                    state.line_matrix = state.text_matrix[:]
        elif op == "T*":
            state.line_matrix[5] -= state.leading
            state.text_matrix = state.line_matrix[:]
        elif op == "'":
            state.line_matrix[5] -= state.leading
            state.text_matrix = state.line_matrix[:]
            if operands and isinstance(operands[-1], bytes):
                self._add_text_span(operands[-1])
        elif op == '"':
            if len(operands) >= 3:
                if isinstance(operands[0], float):
                    state.word_spacing = operands[0]
                if isinstance(operands[1], float):
                    state.char_spacing = operands[1]
            state.line_matrix[5] -= state.leading
            state.text_matrix = state.line_matrix[:]
            if operands and isinstance(operands[-1], bytes):
                self._add_text_span(operands[-1])
        # unknown operators are ignored

    def _execute_tj(self, items: list) -> None:
        """TJ array: strings coalesce into one pending span; numeric
        adjustments move x and flush at ``|n| > 200`` (parser.rs:609-652)."""
        state = self.state
        combined = bytearray()
        span_start_x = state.text_matrix[4]
        span_start_y = state.text_matrix[5]
        has_content = False
        for item in items:
            if isinstance(item, bytes):
                if not has_content:
                    span_start_x = state.text_matrix[4]
                    span_start_y = state.text_matrix[5]
                    has_content = True
                combined.extend(item)
                state.text_matrix[4] += len(item) * state.font_size * 0.5
            elif isinstance(item, float):
                adjust = -item / 1000.0 * state.font_size
                if abs(item) > 200.0 and has_content:
                    self._add_text_span_at(bytes(combined), span_start_x, span_start_y)
                    combined.clear()
                    has_content = False
                state.text_matrix[4] += adjust
        if has_content and combined:
            self._add_text_span_at(bytes(combined), span_start_x, span_start_y)

    def _add_text_span(self, raw: bytes) -> None:
        state = self.state
        self._add_text_span_at(raw, state.text_matrix[4], state.text_matrix[5])
        # Fixed half-em-per-byte advance estimate (parser.rs:697-699)
        state.text_matrix[4] += len(raw) * state.font_size * 0.5

    def _add_text_span_at(self, raw: bytes, x: float, y: float) -> None:
        state = self.state
        encoding = (
            self.font_encodings.get(state.font_name)
            if state.font_name is not None
            else None
        )
        if encoding is not None:
            text = encoding.decode_bytes(raw)
        else:
            text = decode_default(raw)

        trimmed = text.strip(RUST_WS)
        if trimmed:
            self.spans.append(
                TextSpan(trimmed, x, y, state.font_size, state.font_name)
            )
        elif text:
            # whitespace-only: keep a single space as a word-boundary
            # marker (parser.rs:726-735)
            self.spans.append(
                TextSpan(" ", x, y, state.font_size, state.font_name)
            )


def decode_default(raw: bytes) -> str:
    """No-font fallback: printable ASCII kept, >= 0xA0 Latin-1,
    everything else a space (reference: content/parser.rs:739-753)."""
    return raw.decode("latin-1").translate(_DEFAULT_TABLE)


_DEFAULT_TABLE = {
    b: (b if 32 <= b < 127 or b >= 160 else 0x20) for b in range(256)
}
