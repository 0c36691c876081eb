"""Deterministic Common-Crawl-style pages synthesizer.

Builds the `pages` table mandated by BASELINE.json `input_hint`:
(url string, warc_ts timestamp, html binary, text string, lang string).

Every row is a pure function of (seed, doc_id) — np.random.default_rng
seeded with the pair — so generation is order- and partition-independent:
the same doc_id yields the same bytes whether generated on the driver
(oracle tests) or inside a distributed mapInPandas generator (bench), and
regardless of how Spark splits the id range across tasks.

Content mix (FIXTURES.md §1):
  - ~91% HTML: known main content (headline + paragraphs) wrapped in
    boilerplate (nav, sidebar link farm, footer, script/style noise);
    ~10% of those declare latin-1/cp1252 charsets with non-ascii bytes.
  - ~6% PDF: uncompressed multi-page payloads with glyph runs emitted in
    SHUFFLED order so reading-order reconstruction is actually exercised.
  - ~3% degenerate: empty payload ('failed') or chrome-only page ('empty').

Host distribution is zipf-skewed with 2 heavy-hitter hosts (~100× density)
to exercise salting / AQE skew handling (SURVEY.md §4.2).
"""

from __future__ import annotations

import datetime as _dt
import re
from hashlib import md5 as _md5

import numpy as np

from pdf_extractor_spark.kernel import pdf_filters

_WORDS = (
    "data spark batch shuffle partition column query table row scan filter "
    "join aggregate window sort merge hash broadcast skew salt codegen arrow "
    "vector page crawl corpus token text block density anchor link content "
    "boiler plate extract parse glyph layout reading order span offset byte "
    "identical oracle fidelity control lineage resume commit throughput scale"
).split()

_HEAVY_HOSTS = ["bigportal.example.com", "hugecdn.example.net"]
_NORMAL_HOSTS = ["site%02d.example.org" % i for i in range(40)]

_LANGS = ["en", "en", "en", "fr", "es", "de", "zh"]

_EPOCH = _dt.datetime(2024, 1, 1, tzinfo=_dt.timezone.utc)

# payload-type thresholds on rng.random() draw
_P_PDF = 0.06
_P_FAILED = 0.015
_P_EMPTY = 0.015
_P_LATIN1 = 0.09  # of the HTML share


def _rng(seed: int, doc_id: int) -> np.random.Generator:
    return np.random.default_rng([seed, doc_id])


def _sentence(rng: np.random.Generator, n_lo: int = 5, n_hi: int = 12) -> str:
    n = int(rng.integers(n_lo, n_hi + 1))
    words = [_WORDS[int(i)] for i in rng.integers(0, len(_WORDS), n)]
    words[0] = words[0].capitalize()
    return " ".join(words) + "."


def _paragraph(rng: np.random.Generator) -> str:
    # sentences ≥8 words so every paragraph clears MIN_BLOCK_CHARS by construction
    return " ".join(_sentence(rng, 8, 14) for _ in range(int(rng.integers(1, 5))))


def _nav_links(rng: np.random.Generator, k: int) -> str:
    return "".join(
        '<li><a href="/%s">%s %s</a></li>'
        % (_WORDS[int(rng.integers(0, len(_WORDS)))],
           _WORDS[int(rng.integers(0, len(_WORDS)))].capitalize(),
           _WORDS[int(rng.integers(0, len(_WORDS)))])
        for _ in range(k)
    )


def make_html(rng: np.random.Generator, heft: int = 1) -> tuple[bytes, str]:
    """One HTML page. Returns (payload_bytes, golden_main_text).

    golden_main_text is the extraction truth BY CONSTRUCTION: headline +
    paragraphs, whitespace-collapsed, joined by '\n' — what the kernel must
    emit byte-identically.

    `heft` scales document size (paragraph count) without changing the
    structure: heft=1 → ~2 KB pages (fast tests), heft=5 → ~10 KB
    (Common-Crawl-realistic, used by bench).
    """
    headline = _sentence(rng, 3, 7).rstrip(".")
    paras = [_paragraph(rng) for _ in range(int(rng.integers(2, 7)) * heft)]
    latin = rng.random() < _P_LATIN1
    if latin:
        # inject non-ascii content that differs between latin-1 and utf-8
        paras[0] = "Caf\xe9 r\xe9sum\xe9 \xfcber stra\xdfe - " + paras[0]  # latin-1-safe

    golden = "\n".join([headline] + paras)

    nav = "<nav><ul>%s</ul></nav>" % _nav_links(rng, int(rng.integers(4, 9)))
    sidebar = (
        '<div class="sidebar"><ul>%s</ul></div>'
        % "".join(
            '<li><a href="/t/%d">%s</a></li>' % (i, _sentence(rng, 2, 4).rstrip("."))
            for i in range(int(rng.integers(5, 12)))
        )
    )
    footer = (
        "<footer><p>Copyright %d example.org — %s</p><ul>%s</ul></footer>"
        % (2020 + int(rng.integers(0, 6)), _sentence(rng, 4, 8), _nav_links(rng, 5))
    )
    script = "<script>var x_%d = {a: %d};</script>" % (
        int(rng.integers(0, 999)), int(rng.integers(0, 999)))
    style = "<style>.c%d{color:#%06x}</style>" % (
        int(rng.integers(0, 99)), int(rng.integers(0, 0xFFFFFF)))
    comment = "<!-- generated page %d -->" % int(rng.integers(0, 10**6))

    body_paras = "".join("<p>%s</p>" % p for p in paras)
    charset = "iso-8859-1" if latin else "utf-8"
    doc = (
        "<!DOCTYPE html><html><head><meta charset=\"%s\"><title>%s</title>%s%s</head>"
        "<body>%s<header><h4>%s</h4></header>%s"
        "<main><article><h1>%s</h1>%s</article></main>%s%s</body></html>"
        % (charset, headline, style, script, comment,
           _sentence(rng, 2, 4), nav, headline, body_paras, sidebar, footer)
    )
    enc = "latin-1" if latin else "utf-8"
    return doc.encode(enc, "replace"), golden


def _esc_pdf(t: str) -> str:
    return t.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")


# --- custom font encodings (exercises /Differences + /ToUnicode decode) -----

# accented vocabulary injected into custom-font PDF pages
_ACCENT_WORDS = [
    "café", "crème", "fête", "voilà", "façade", "naïve", "über",
    "schön", "straße", "mañana", "œuvre", "résumé", "déjà",
]
# char → AGL glyph name (for the /Differences flavor)
_GLYPH_NAMES = {
    "é": "eacute", "è": "egrave", "ê": "ecircumflex", "à": "agrave",
    "ç": "ccedilla", "ï": "idieresis", "ü": "udieresis", "ö": "odieresis",
    "ß": "germandbls", "ñ": "ntilde", "œ": "oe",
}
# è/é/ê sit at consecutive codes 0x90-0x92 AND consecutive codepoints
# (E8-EA) so the ToUnicode flavor can map them via ONE bfrange entry;
# everything else gets bfchar / individual Differences names from 0x80
_BFRANGE_CHARS = ["è", "é", "ê"]
_CHAR2CODE = {c: 0x90 + i for i, c in enumerate(_BFRANGE_CHARS)}
_CHAR2CODE.update(
    {
        c: 0x80 + i
        for i, c in enumerate(sorted(set(_GLYPH_NAMES) - set(_BFRANGE_CHARS)))
    }
)


def _encode_custom(t: str) -> str:
    """Text → custom-font show-string codes (as a latin-1 str: one byte per
    char; ASCII passes through — unmapped codes fall back to latin-1 in the
    decoder, which this exercises too)."""
    return "".join(chr(_CHAR2CODE.get(ch, ord(ch))) for ch in t)


def _differences_font_obj() -> bytes:
    """/Encoding /Differences font dict covering _CHAR2CODE."""
    parts: list[str] = []
    prev = None
    for c, code in sorted(_CHAR2CODE.items(), key=lambda kv: kv[1]):
        if prev is None or code != prev + 1:
            parts.append(str(code))
        parts.append("/" + _GLYPH_NAMES[c])
        prev = code
    return (
        "<< /Type /Font /Subtype /Type1 /BaseFont /CustomDiff "
        "/Encoding << /Differences [ %s ] >> >>" % " ".join(parts)
    ).encode("latin-1")


def _tounicode_stream() -> bytes:
    """Minimal ToUnicode CMap: bfchar entries for the 0x80-block chars plus
    one bfrange for the è/é/ê trio."""
    bfchars = [
        "<%02x> <%04x>" % (code, ord(c))
        for c, code in sorted(_CHAR2CODE.items(), key=lambda kv: kv[1])
        if c not in _BFRANGE_CHARS
    ]
    return (
        "/CIDInit /ProcSet findresource begin\n"
        "12 dict begin\nbegincmap\n/CMapName /Custom def\n"
        "1 begincodespacerange\n<00> <ff>\nendcodespacerange\n"
        "%d beginbfchar\n%s\nendbfchar\n"
        "1 beginbfrange\n<90> <92> <00e8>\nendbfrange\n"
        "endcmap\nCMapName currentdict /CMap defineresource pop\nend\nend"
        % (len(bfchars), "\n".join(bfchars))
    ).encode("latin-1")


def _encode_macroman(t: str) -> str:
    """Text → MacRoman code bytes (as a latin-1 str). ASCII is identical in
    both; accented chars land in the 0x80-0xFF MacRoman block, which
    differs from latin-1 nearly everywhere — byte identity holds only if
    the kernel applies the /MacRomanEncoding base table (round-4 verdict
    #4). Chars outside MacRoman pass through unencoded (never drawn by the
    current vocab; a safety valve, not a code path)."""
    out = []
    for ch in t:
        try:
            out.append(ch.encode("mac_roman").decode("latin-1"))
        except UnicodeEncodeError:
            out.append(ch)
    return "".join(out)


def _encode_ucs2(t: str) -> str:
    """Text → 2-byte UTF-16BE codes (as a latin-1 str, two chars per code)
    for the predefined Uni*-UCS2-H CMap flavor: the code IS the character's
    UCS-2 value, no ToUnicode stream exists, and the kernel must recognize
    the predefined CMap name to decode at all."""
    return t.encode("utf-16-be").decode("latin-1")


def _encode_custom_mixed(t: str) -> str:
    """Text → mixed-width codes for the 2-codespace CMap flavor: ASCII
    stays 1-byte, accented chars become the 2-byte code 0x80NN (as a
    latin-1 str, one char per byte)."""
    out = []
    for ch in t:
        k = _CHAR2CODE.get(ch)
        out.append("\x80" + chr(k) if k is not None else ch)
    return "".join(out)


def _tounicode_stream_mixed() -> bytes:
    """ToUnicode CMap with MIXED code widths: two codespace ranges (1-byte
    ASCII passthrough + a 2-byte 0x80xx block), bfchar entries for the
    2-byte accent codes and one 2-byte bfrange for the è/é/ê trio — the
    legal mix a single global code width mis-decodes (round-3 ADVICE)."""
    bfchars = [
        "<80%02x> <%04x>" % (code, ord(c))
        for c, code in sorted(_CHAR2CODE.items(), key=lambda kv: kv[1])
        if c not in _BFRANGE_CHARS
    ]
    return (
        "/CIDInit /ProcSet findresource begin\n"
        "12 dict begin\nbegincmap\n/CMapName /CustomMixed def\n"
        "2 begincodespacerange\n<00> <7f>\n<8000> <80ff>\nendcodespacerange\n"
        "%d beginbfchar\n%s\nendbfchar\n"
        "1 beginbfrange\n<8090> <8092> <00e8>\nendbfrange\n"
        "endcmap\nCMapName currentdict /CMap defineresource pop\nend\nend"
        % (len(bfchars), "\n".join(bfchars))
    ).encode("latin-1")


def _show_token(rng: np.random.Generator, t: str) -> str:
    """A literal '(...)' or (25% of the time) hex '<...>' show string."""
    if rng.random() < 0.25:
        return "<%s>" % t.encode("latin-1").hex()
    return "(%s)" % _esc_pdf(t)


def _tj_array(
    rng: np.random.Generator, words: list[str], enc=None
) -> str:
    """A TJ array for one line: word gaps become large negative kerning
    (< -180/1000 em → space), and ~half the words are split into two
    chunks joined by a SMALL kern (no space) — the form real PDFs use.

    `enc` (code-mapping encoder) applies AFTER the split point is chosen
    on the raw text: a conforming PDF writer never splits a show string
    inside a multi-byte code, so neither does the synthesizer."""
    e = enc or (lambda t: t)
    elems: list[str] = []
    for wi, w in enumerate(words):
        if wi > 0:
            elems.append("%d" % -int(rng.integers(200, 400)))  # word gap
        if len(w) >= 4 and rng.random() < 0.5:
            cut = int(rng.integers(1, len(w)))
            elems.append(_show_token(rng, e(w[:cut])))
            elems.append("%d" % -int(rng.integers(5, 120)))  # kern, no space
            elems.append(_show_token(rng, e(w[cut:])))
        else:
            elems.append(_show_token(rng, e(w)))
    return "[%s] TJ" % " ".join(elems)


def _emit_objstm_form(objs: "dict[int, bytes]", rng: np.random.Generator) -> bytes:
    """Emit a PDF 1.5 file: every dict-only object (Catalog, Pages, Page,
    Font, /Length ints) packed into one FlateDecode /Type /ObjStm
    container; stream-bearing objects stay top-level; a cross-reference
    STREAM (/W [1 4 2], PNG Up predictor — the form real writers emit)
    indexes both, and the trailer is `startxref <off> %%EOF`."""
    import zlib as _zlib

    stream_objs = sorted(n for n, b in objs.items() if b"stream\n" in b)
    dict_objs = sorted(set(objs) - set(stream_objs))
    ostm_num = max(objs) + 1
    xref_num = ostm_num + 1

    # container: "num off" pairs header, then bodies back-to-back
    emb_order = [int(i) for i in rng.permutation(dict_objs)]
    bodies = [objs[n] for n in emb_order]
    offs: list[int] = []
    pos = 0
    for b in bodies:
        offs.append(pos)
        pos += len(b) + 1
    header = b" ".join(b"%d %d" % (n, o) for n, o in zip(emb_order, offs)) + b"\n"
    z = _zlib.compress(header + b" ".join(bodies), 6)
    container = (
        b"<< /Type /ObjStm /N %d /First %d /Filter /FlateDecode /Length %d >>"
        b"\nstream\n" % (len(emb_order), len(header), len(z))
    ) + z + b"\nendstream"

    out = bytearray(b"%PDF-1.5\n")
    offsets: dict[int, int] = {}
    for n in (int(i) for i in rng.permutation(stream_objs)):
        offsets[n] = len(out)
        out += b"%d 0 obj %s endobj\n" % (n, objs[n])
    offsets[ostm_num] = len(out)
    out += b"%d 0 obj %s endobj\n" % (ostm_num, container)
    xref_off = len(out)

    size = xref_num + 1
    emb_idx = {n: i for i, n in enumerate(emb_order)}
    rows = bytearray()
    for num in range(size):
        if num in offsets:
            rows += bytes([1]) + offsets[num].to_bytes(4, "big") + b"\x00\x00"
        elif num in emb_idx:
            rows += (
                bytes([2]) + ostm_num.to_bytes(4, "big")
                + emb_idx[num].to_bytes(2, "big")
            )
        elif num == xref_num:
            rows += bytes([1]) + xref_off.to_bytes(4, "big") + b"\x00\x00"
        else:  # object 0 (and gaps): free
            rows += bytes([0]) + b"\x00\x00\x00\x00\xff\xff"
    zrows = _zlib.compress(pdf_filters.png_predict_up(bytes(rows), 7), 6)
    xref_body = (
        b"<< /Type /XRef /Size %d /W [1 4 2] /Root 1 0 R"
        b" /Filter /FlateDecode /DecodeParms << /Predictor 12 /Columns 7 >>"
        b" /Length %d >>\nstream\n" % (size, len(zrows))
    ) + zrows + b"\nendstream"
    out += b"%d 0 obj %s endobj\n" % (xref_num, xref_body)
    out += b"startxref\n%d\n%%%%EOF\n" % xref_off
    return bytes(out)


def make_encrypted_pdf(rng: np.random.Generator, xref_stream: bool = False) -> bytes:
    """A standard-security encrypted PDF: structurally valid object graph,
    /Encrypt in the trailer (classic form) or the XRef stream dict
    (xref_stream=True), content stream bytes replaced with deterministic
    pseudo-ciphertext. Golden extraction truth is NO text, parse_status
    'encrypted'. Used by tests only — NOT part of the default synth draw,
    which keeps the dead_letter_triage frozen oracle and golden corpora
    stable (their constants pin synth_row's exact draw sequence)."""
    cipher = bytes(rng.bytes(96))
    objs: "dict[int, bytes]" = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [4 0 R] /Count 1 >>",
        3: (b"<< /Length %d >>\nstream\n" % len(cipher)) + cipher + b"\nendstream",
        4: b"<< /Type /Page /Parent 2 0 R /Contents 3 0 R >>",
        5: b"<< /Filter /Standard /V 1 /R 2 /O <%s> /U <%s> /P -44 >>"
        % (bytes(rng.bytes(32)).hex().encode(), bytes(rng.bytes(32)).hex().encode()),
    }
    if xref_stream:
        out = _emit_objstm_form(objs, rng)
        # plant /Encrypt inside the XRef stream dict (ISO 32000-1 §7.5.8.2
        # puts trailer keys there in the stream form)
        return out.replace(b"/Type /XRef", b"/Type /XRef /Encrypt 5 0 R", 1)
    out = bytearray(b"%PDF-1.4\n")
    for n in sorted(objs):
        out += b"%d 0 obj %s endobj\n" % (n, objs[n])
    out += (
        b"trailer << /Size 6 /Root 1 0 R /Encrypt 5 0 R >>\n"
        b"startxref\n0\n%%EOF\n"
    )
    return bytes(out)


# Tm placements as make_pdf writes them (always "1 0 0 1 <x> <y> Tm" with
# %.1f coordinates) — the rotated-page rewrite retargets exactly these.
_TM_XY_RE = re.compile(rb"1 0 0 1 (\d+\.\d) (\d+\.\d) Tm")


def make_pdf(rng: np.random.Generator, heft: int = 1) -> tuple[bytes, str]:
    """One PDF payload. Returns (payload_bytes, golden_text).

    Pages of lines; each line is either 1–3 absolute-Tm runs (shuffled into
    the content stream so reading-order reconstruction is exercised) or a
    single TJ array show with kerning adjustments; show strings mix literal
    and hex forms. ~Half the payloads carry a real page tree (Catalog →
    /Pages /Kids → /Type /Page → /Contents refs, page objects emitted in
    shuffled file order so Kids order is authoritative; some pages split
    their content across TWO streams, some stream lengths are indirect
    `N 0 R` references); the rest are legacy bare streams in byte order.
    ~Half the content streams are FlateDecode-compressed either way.
    """
    n_pages = int(rng.integers(1, 4)) * heft
    # document form decided up front: page-tree vs legacy bare streams, and
    # (tree only — encodings need font objects) whether show strings use a
    # CUSTOM font encoding, declared either as /Encoding /Differences glyph
    # names or as a /ToUnicode bfchar+bfrange CMap. Custom pages mix
    # accented words in; every run then selects /F2 via its own Tf, and the
    # golden text keeps the real characters — byte-identity holds only if
    # the kernel decodes through the font table.
    use_tree = rng.random() < 0.5
    custom = use_tree and rng.random() < 0.6
    fdraw = rng.random()
    flavor = (
        "diff" if fdraw < 0.30
        else "mac" if fdraw < 0.45
        else "cmap" if fdraw < 0.70
        else "cmap2" if fdraw < 0.90
        else "ucs2"
    )
    enc_fn = {
        "cmap2": _encode_custom_mixed,
        "mac": _encode_macroman,
        "ucs2": _encode_ucs2,
    }.get(flavor, _encode_custom)
    # PDF 1.5 form: dict objects compressed into a /Type /ObjStm container,
    # indexed by a cross-reference stream (exercises the xref/ObjStm path)
    use_objstm = use_tree and rng.random() < 0.35
    golden_lines: list[str] = []
    page_streams: list[list[bytes]] = []  # per page: 1..2 content streams
    for p in range(n_pages):
        n_lines = int(rng.integers(3, 8))
        runs = []  # (y, x, op_text) in Tm form
        this_page: list[str] = []
        for li in range(n_lines):
            y = 720.0 - 16.0 * li
            words = _sentence(rng, 4, 9).rstrip(".").split()
            if custom and rng.random() < 0.5:
                for _ in range(int(rng.integers(1, 3))):
                    words[int(rng.integers(0, len(words)))] = _ACCENT_WORDS[
                        int(rng.integers(0, len(_ACCENT_WORDS)))
                    ]
            if rng.random() < 0.35:
                # whole line as one TJ array at the line origin
                runs.append(
                    (y, 72.0, _tj_array(rng, words, enc_fn if custom else None))
                )
                this_page.append(" ".join(words))
                continue
            n_runs = min(len(words), int(rng.integers(1, 4)))
            chunks = np.array_split(np.array(words, dtype=object), n_runs)
            x = 72.0
            line_txts = []
            for ch in chunks:
                t = " ".join(ch.tolist())
                shown_t = enc_fn(t) if custom else t
                runs.append((y, x, "%s Tj" % _show_token(rng, shown_t)))
                line_txts.append(t)
                x += 0.5 * 12.0 * len(t) + 18.0
            this_page.append(" ".join(line_txts))
        order = rng.permutation(len(runs))
        ops = []
        font_pre = "/F2 12 Tf " if custom else ""
        for i in order:
            y, x, op = runs[int(i)]
            ops.append("%s1 0 0 1 %.1f %.1f Tm %s" % (font_pre, x, y, op))
        # a page's ops may split across two content streams (page-tree mode
        # concatenates them); each fragment is a complete BT..ET text object
        if len(ops) >= 2 and rng.random() < 0.3:
            cut = int(rng.integers(1, len(ops)))
            frags = [ops[:cut], ops[cut:]]
        else:
            frags = [ops]
        page_streams.append(
            [
                ("BT /F1 12 Tf %s ET" % " ".join(f)).encode("latin-1")
                for f in frags
            ]
        )
        golden_lines.extend(this_page)

    import zlib as _zlib

    _crc = _zlib.crc32(" ".join(golden_lines).encode("utf-8"))

    # ~1/7 of page-tree PDFs are ROTATED (/Rotate 90, the scanned-sideways
    # case): every Tm coordinate is rewritten into the page's text space so
    # the text only reads in golden order AFTER the kernel maps runs back
    # into display space. Display positions shift down 108pt first so they
    # fit the rotated page's 612pt display height. Zero rng draws (crc32
    # trigger), so the rest of the corpus byte-stream is unchanged.
    rotated = use_tree and _crc % 7 == 3
    if rotated:
        def _tm_rot90(m: "re.Match[bytes]") -> bytes:
            dx = float(m.group(1))
            dy = float(m.group(2)) - 108.0
            return b"1 0 0 1 %.1f %.1f Tm" % (612.0 - dy, dx)

        page_streams = [
            [_TM_XY_RE.sub(_tm_rot90, s) for s in streams]
            for streams in page_streams
        ]

    # ~20% of PDFs carry an inline image (BI..ID..EI) ahead of page 0's
    # first text object. The payload is deliberately adversarial: raw
    # binary bytes, an unframed "EI" that must NOT terminate the scan, and
    # a fake BT..(..)Tj..ET text object that leaks into the golden text if
    # the kernel fails to strip the segment. Trigger derives from already-
    # generated content (crc32 of the golden text) so it consumes ZERO rng
    # draws — the rest of the corpus byte-stream is unchanged.
    if page_streams and _crc % 5 == 0:
        page_streams[0][0] = (
            b"q BI /W 4 /H 2 /CS /DeviceGray /BPC 8 /F /AHx ID "
            b"\x00\xffxEIx BT 1 0 0 1 72 600 Tm (ZZINLINEGARBAGEZZ) Tj ET \xfe\x00"
            b" EI Q " + page_streams[0][0]
        )

    # ~9% of page-tree PDFs move page 0's ENTIRE content into a form
    # XObject invoked via `/XF0 Do` (the letterhead/stamp/pdftex-overlay
    # shape real generators emit; PyMuPDF splices these transparently).
    # The whole page translates by a uniform (7, -11) — line grouping and
    # reading order are invariant under a rigid shift, so the golden text
    # is unchanged and byte-identity holds only if the kernel walks the
    # form. crc bits pick the flavor: translation declared via the form's
    # /Matrix vs a `cm` at the invocation; a nested form-in-form wrapper;
    # and (custom docs) the form carrying its OWN /Resources /Font vs
    # inheriting the page's. Zero rng draws for untriggered docs.
    form_trig = use_tree and _crc % 11 == 4
    v_matrix = (_crc // 11) % 2 == 1
    v_nested = (_crc // 33) % 2 == 1
    v_ownres = (_crc // 66) % 2 == 1

    # ~1/13 of classic tree PDFs ship ENCRYPTED with an empty user password
    # (the owner-locked crawl case the kernel decrypts from scratch),
    # cycling through every supported revision. ObjStm docs are excluded —
    # the classic-trailer twin cannot frame an xref-stream file (xref
    # streams are never encrypted). Golden text is unchanged: decryption
    # must be transparent, so corpus byte-identity proves the crypt path.
    enc_trig = use_tree and not use_objstm and _crc % 13 == 6
    enc_mode = (
        "rc4-r3", "aesv2", "aes256", "rc4-r2", "aesv2-v2", "aes256-r5",
    )[(_crc // 13) % 6]
    aes_enc = enc_trig and enc_mode.startswith("aes")

    def body_of(s: bytes, indirect_len_obj: int | None) -> tuple[bytes, int | None]:
        """(stream body with dict, compressed length if /Length is indirect).

        Streams draw from the real-crawl filter matrix: raw, FlateDecode
        (optionally with /Length routed through an indirect `N 0 R` integer
        object, returned so the caller can emit it), LZWDecode, an
        [/ASCIIHexDecode /FlateDecode] chain, ASCII85Decode, or
        RunLengthDecode.
        """
        draw = rng.random()
        if draw < 0.35:
            if enc_trig:  # ciphertext framing needs an exact /Length
                return (
                    b"<< /Length %d >>\nstream\n" % len(s) + s + b"\nendstream"
                ), None
            return b"stream\n" + s + b"\nendstream", None
        if draw < 0.65:
            z = _zlib.compress(s, 6)
            if indirect_len_obj is not None:
                return (
                    b"<< /Filter /FlateDecode /Length %d 0 R >>\nstream\n"
                    % indirect_len_obj + z + b"\nendstream"
                ), len(z)
            return (
                b"<< /Filter /FlateDecode /Length %d >>\nstream\n" % len(z)
                + z + b"\nendstream"
            ), None
        if draw < 0.75:
            z = pdf_filters.lzw_encode(s)
            return (
                b"<< /Filter /LZWDecode /Length %d >>\nstream\n" % len(z)
                + z + b"\nendstream"
            ), None
        if draw < 0.85:  # chain: ASCIIHex transport around Flate
            z = _zlib.compress(s, 6).hex().encode("ascii") + b">"
            return (
                b"<< /Filter [/ASCIIHexDecode /FlateDecode] /Length %d >>\nstream\n"
                % len(z) + z + b"\nendstream"
            ), None
        if draw < 0.93:
            z = pdf_filters.ascii85_encode(s)
            return (
                b"<< /Filter /ASCII85Decode /Length %d >>\nstream\n" % len(z)
                + z + b"\nendstream"
            ), None
        z = pdf_filters.run_length_encode(s)
        return (
            b"<< /Filter /RunLengthDecode /Length %d >>\nstream\n" % len(z)
            + z + b"\nendstream"
        ), None

    if use_tree:
        # page-tree form: number objects, shuffle page-object file order
        objs: dict[int, bytes] = {}
        next_num = 3
        res_entry = b""
        if custom:
            f1 = next_num
            next_num += 1
            objs[f1] = b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
            f2 = next_num
            next_num += 1
            if flavor == "diff":
                objs[f2] = _differences_font_obj()
            elif flavor == "mac":
                # /MacRomanEncoding as a bare name or wrapped in an
                # encoding dict's /BaseEncoding — both legal forms occur
                objs[f2] = (
                    b"<< /Type /Font /Subtype /Type1 /BaseFont /CustomMac"
                    b" /Encoding /MacRomanEncoding >>"
                    if rng.random() < 0.5
                    else b"<< /Type /Font /Subtype /Type1 /BaseFont /CustomMac"
                    b" /Encoding << /BaseEncoding /MacRomanEncoding >> >>"
                )
            elif flavor == "ucs2":
                # composite font on a predefined UCS-2 CMap, NO ToUnicode:
                # the kernel decodes only by recognizing the CMap name
                dn = next_num
                next_num += 1
                objs[dn] = (
                    b"<< /Type /Font /Subtype /CIDFontType2 /BaseFont /CustomUni"
                    b" /CIDSystemInfo << /Registry (Adobe) /Ordering (Japan1)"
                    b" /Supplement 6 >> >>"
                )
                objs[f2] = (
                    b"<< /Type /Font /Subtype /Type0 /BaseFont /CustomUni"
                    b" /Encoding /UniJIS-UCS2-H /DescendantFonts [ %d 0 R ] >>"
                    % dn
                )
            else:
                tn = next_num
                next_num += 1
                # the CMap stream itself may be FlateDecode-compressed
                cmap_src = (
                    _tounicode_stream_mixed()
                    if flavor == "cmap2"
                    else _tounicode_stream()
                )
                tbody, _ = body_of(cmap_src, None)
                objs[tn] = tbody
                objs[f2] = (
                    b"<< /Type /Font /Subtype /TrueType /BaseFont /CustomCMap"
                    b" /ToUnicode %d 0 R >>" % tn
                )
            font_dict = b"<< /Font << /F1 %d 0 R /F2 %d 0 R >> >>" % (f1, f2)
            if rng.random() < 0.25:  # /Resources via an indirect object
                rn = next_num
                next_num += 1
                objs[rn] = font_dict
                res_entry = b"/Resources %d 0 R " % rn
            else:
                res_entry = b"/Resources " + font_dict + b" "
        def form_stream_obj(s: bytes, extra: bytes) -> bytes:
            """Form XObjects carry /Type /Subtype (and optional /Matrix,
            /Resources) in the SAME dict as the filter entries, so the
            generic body_of cannot emit them; ~half Flate-compress."""
            if rng.random() < 0.5:
                z = _zlib.compress(s, 6)
                return (
                    b"<< %s/Filter /FlateDecode /Length %d >>\nstream\n"
                    % (extra, len(z)) + z + b"\nendstream"
                )
            return (
                b"<< %s/Length %d >>\nstream\n" % (extra, len(s))
                + s + b"\nendstream"
            )

        page_obj_nums: list[int] = []
        for p_idx, streams in enumerate(page_streams):
            # rotated docs declare geometry on the page dict, or (half the
            # time) inherit it from the parent /Pages node — both legal
            # placements per ISO 32000-1 §7.7.3.4, both must decode
            rot_entry = (
                b"/Rotate 90 /MediaBox [0 0 612 792] "
                if rotated and (_crc // 7) % 2 == 0
                else b""
            )
            if p_idx == 0 and form_trig:
                merged = b"\n".join(streams)
                tx, ty = 7.0, -11.0
                fnum = next_num
                next_num += 1
                extra = b"/Type /XObject /Subtype /Form "
                if v_matrix:
                    extra += b"/Matrix [1 0 0 1 %.1f %.1f] " % (tx, ty)
                if custom and v_ownres:
                    extra += (
                        b"/Resources << /Font << /F1 %d 0 R /F2 %d 0 R >> >> "
                        % (f1, f2)
                    )
                objs[fnum] = form_stream_obj(merged, extra)
                top = fnum
                if v_nested:
                    # wrapper form: own /XObject resources, a cm of (3, 5),
                    # no text of its own; the page invocation compensates
                    # so the composed translation stays exactly (tx, ty)
                    wnum = next_num
                    next_num += 1
                    inner = b"q 1 0 0 1 3.0 5.0 cm /XF0 Do Q"
                    objs[wnum] = form_stream_obj(
                        inner,
                        b"/Type /XObject /Subtype /Form "
                        b"/Resources << /XObject << /XF0 %d 0 R >> >> " % fnum,
                    )
                    top = wnum
                if v_matrix:
                    invoke = (
                        b"q 1 0 0 1 -3.0 -5.0 cm /XF0 Do Q"
                        if v_nested
                        else b"/XF0 Do"
                    )
                else:
                    ix, iy = (tx - 3.0, ty - 5.0) if v_nested else (tx, ty)
                    invoke = b"q 1 0 0 1 %.1f %.1f cm /XF0 Do Q" % (ix, iy)
                cnum = next_num
                next_num += 1
                objs[cnum] = (
                    b"<< /Length %d >>\nstream\n" % len(invoke)
                    + invoke + b"\nendstream"
                )
                pnum = next_num
                next_num += 1
                font_part = (
                    b"/Font << /F1 %d 0 R /F2 %d 0 R >> " % (f1, f2)
                    if custom
                    else b""
                )
                objs[pnum] = (
                    b"<< /Type /Page /Parent 2 0 R %s/Resources << %s"
                    b"/XObject << /XF0 %d 0 R >> >> /Contents %d 0 R >>"
                    % (rot_entry, font_part, top, cnum)
                )
                page_obj_nums.append(pnum)
                continue
            refs = []
            for s in streams:
                snum = next_num
                next_num += 1
                # AES twins must REWRITE /Length (IV + CBC padding grows
                # the body), so those docs keep lengths direct
                use_indirect = rng.random() < 0.25 and not aes_enc
                len_obj = next_num if use_indirect else None
                body, zlen = body_of(s, len_obj)
                objs[snum] = body
                if zlen is not None and len_obj is not None:
                    objs[len_obj] = b"%d" % zlen
                    next_num += 1
                refs.append(snum)
            pnum = next_num
            next_num += 1
            contents = (
                b"/Contents %d 0 R" % refs[0]
                if len(refs) == 1
                else b"/Contents [%s]" % b" ".join(b"%d 0 R" % r for r in refs)
            )
            objs[pnum] = b"<< /Type /Page /Parent 2 0 R %s%s%s >>" % (
                rot_entry, res_entry, contents,
            )
            page_obj_nums.append(pnum)
        objs[1] = b"<< /Type /Catalog /Pages 2 0 R >>"
        parent_rot = (
            b" /Rotate 90 /MediaBox [0 0 612 792]"
            if rotated and (_crc // 7) % 2 == 1
            else b""
        )
        objs[2] = b"<< /Type /Pages /Kids [%s] /Count %d%s >>" % (
            b" ".join(b"%d 0 R" % n for n in page_obj_nums),
            len(page_obj_nums),
            parent_rot,
        )
        if use_objstm:
            return _emit_objstm_form(objs, rng), "\n".join(golden_lines)
        emit_order = [1, 2] + [int(i) for i in rng.permutation(sorted(set(objs) - {1, 2}))]
        body = b"".join(
            b"%d 0 obj %s endobj\n" % (n, objs[n]) for n in emit_order
        )
    else:
        # legacy form: bare streams in byte order = page order
        parts = []
        for streams in page_streams:
            # legacy mode has no page tree to regroup split streams —
            # emit each page as ONE stream
            merged = b" ".join(streams) if len(streams) > 1 else streams[0]
            body_bytes, _ = body_of(merged, None)
            parts.append(body_bytes + b"\n")
        body = b"".join(parts)
    payload = b"%PDF-1.4\n" + body + b"%%EOF\n"
    if enc_trig:
        # per-document /ID (deterministic from the plaintext): real files
        # carry unique IDs, so every encrypted doc derives its own keys
        # and salts — a shared default ID would let pdf_crypt's KDF cache
        # collapse the R6 derivation cost across files and understate the
        # honest per-file decryption work in the bench
        payload = encrypt_pdf(
            payload, mode=enc_mode, id0=_md5(payload).digest()
        )
    return payload, "\n".join(golden_lines)


def synth_row(seed: int, doc_id: int, heft: int = 1) -> dict:
    """One pages-table row + golden extraction truth (None when degenerate)."""
    rng = _rng(seed, doc_id)
    draw = rng.random()

    host_draw = rng.random()
    if host_draw < 0.45:  # heavy hitters: ~45% of all docs on 2 hosts
        host = _HEAVY_HOSTS[int(rng.integers(0, len(_HEAVY_HOSTS)))]
    else:
        host = _NORMAL_HOSTS[int(rng.integers(0, len(_NORMAL_HOSTS)))]

    lang = _LANGS[int(rng.integers(0, len(_LANGS)))]
    ts = _EPOCH + _dt.timedelta(seconds=int(rng.integers(0, 365 * 24 * 3600)))

    golden: str | None
    if draw < _P_FAILED:
        kind, payload, golden = "failed", b"", None
        url = "https://%s/broken/%d" % (host, doc_id)
    elif draw < _P_FAILED + _P_EMPTY:
        kind = "empty"
        payload = b"<html><head><title>x</title></head><body><nav><a href='/'>home</a></nav></body></html>"
        golden = None
        url = "https://%s/empty/%d" % (host, doc_id)
    elif draw < _P_FAILED + _P_EMPTY + _P_PDF:
        kind = "pdf"
        payload, golden = make_pdf(rng, heft)
        url = "https://%s/docs/report_%d.pdf" % (host, doc_id)
    else:
        kind = "html"
        payload, golden = make_html(rng, heft)
        url = "https://%s/articles/%d/page.html" % (host, doc_id)

    return {
        "url": url,
        "warc_ts": ts,
        "html": payload,
        "text": golden or "",
        "lang": lang,
        "_kind": kind,       # test-only metadata, dropped from the table
        "_golden": golden,   # test-only golden truth
    }


PAGES_COLUMNS = ["url", "warc_ts", "html", "text", "lang"]

# single source of truth for the pages-table schema (BASELINE.json
# input_hint); streaming.py and pages_df both read it from here
PAGES_SCHEMA_DDL = "url string, warc_ts timestamp, html binary, text string, lang string"


def synth_pandas(seed: int, doc_ids, heft: int = 1) -> "pd.DataFrame":  # noqa: F821
    """Vectorize synth_row over a doc_id array → pandas DataFrame (pages cols)."""
    import pandas as pd

    rows = [synth_row(seed, int(d), heft) for d in doc_ids]
    return pd.DataFrame(
        {c: [r[c] for r in rows] for c in PAGES_COLUMNS}
    )


def pages_df(spark, n_docs: int, seed: int = 42, num_partitions: int | None = None,
             heft: int = 1):
    """Distributed pages-table generation: spark.range → mapInPandas(synth).

    The generator runs on executors; nothing is collected to the driver, so
    this scales to any n_docs (bench uses ~5e5).
    """
    num_partitions = num_partitions or spark.sparkContext.defaultParallelism

    def gen(batches):
        for pdf in batches:
            yield synth_pandas(seed, pdf["id"].to_numpy(), heft)

    return (
        spark.range(0, n_docs, numPartitions=num_partitions)
        .mapInPandas(gen, schema=PAGES_SCHEMA_DDL)
    )


def encrypt_pdf(
    raw: bytes,
    mode: str = "rc4-r3",
    owner_pw: bytes = b"owner-secret",
    p: int = -44,
    id0: bytes = b"\x01\x23\x45\x67\x89\xab\xcd\xef" * 2,
) -> bytes:
    """Standard-security-encrypt a CLASSIC-form PDF (test twin).

    Encrypts every stream body with the per-object key, appends the
    /Encrypt dictionary and a trailer carrying /Encrypt + /ID; the owner
    password is set and the user password EMPTY — the
    owner-locked-but-readable crawl case. Modes cover every revision the
    kernel handler opens: `rc4-r2` (V1 40-bit), `rc4-r3` (V2 128-bit),
    `aesv2` (V4 R4 /CFM /AESV2), `aesv2-v2` (V4 R4 /CFM /V2 — RC4-128 in
    crypt-filter clothing), `aes256` (V5 R6, Algorithm 2.B) and
    `aes256-r5` (the deprecated single-SHA-256 revision). Both ciphers
    are pinned by published vectors in tests, so twin and kernel cannot
    share a mirrored bug; AES modes rewrite each stream's direct /Length
    to the IV+CBC ciphertext size (RC4 is length-preserving). Each body
    is framed by its /Length, as the kernel reads it. Raises when a stream
    lacks /Length (or, under AES, a direct one), when its body disagrees
    with /Length, or when the ciphertext would break object/stream
    framing — fixture construction is fail-fast, never silently
    unparseable.
    """
    import re as _re
    import struct as _struct
    from hashlib import sha256 as _sha256

    from pdf_extractor_spark.kernel import pdf_crypt as pc

    if mode in ("rc4-r2", "rc4-r3", "aesv2", "aesv2-v2"):
        r = {"rc4-r2": 2, "rc4-r3": 3, "aesv2": 4, "aesv2-v2": 4}[mode]
        n = 5 if r == 2 else 16
        o = pc.compute_o(owner_pw, b"", r, n)
        key = pc.compute_key(o, p, id0, r, n)
        u = pc.compute_u(key, id0, r)
        crypt = pc.StandardCrypt(key, "aesv2" if mode == "aesv2" else "rc4")
        if r == 2:
            enc_entries = b"/V 1 /R 2"
        elif r == 3:
            enc_entries = b"/V 2 /R 3 /Length 128"
        else:
            enc_entries = (
                b"/V 4 /R 4 /Length 128 /CF << /StdCF << /CFM /%s"
                b" /AuthEvent /DocOpen /Length 16 >> >>"
                b" /StmF /StdCF /StrF /StdCF"
                % (b"AESV2" if mode == "aesv2" else b"V2")
            )
        tail_entries = b" /P %d /O <%s> /U <%s>" % (
            p, o.hex().encode(), u.hex().encode(),
        )
    elif mode in ("aes256", "aes256-r5"):
        r = 6 if mode == "aes256" else 5
        # deterministic key + salts: fixtures must be reproducible; CBC
        # needs IV uniqueness, not secrecy
        fkey = _sha256(b"synth-filekey" + id0).digest()
        vs = _sha256(b"vs" + id0).digest()[:8]
        ks = _sha256(b"ks" + id0).digest()[:8]
        if r == 6:
            u = pc.hash_2b(b"", vs) + vs + ks
            inter = pc.hash_2b(b"", ks)
        else:
            u = _sha256(vs).digest() + vs + ks
            inter = _sha256(ks).digest()
        ue = pc.aes_cbc_encrypt(inter, bytes(16), fkey, pad=False)
        ovs = _sha256(b"ovs" + id0).digest()[:8]
        oks = _sha256(b"oks" + id0).digest()[:8]
        opw = owner_pw[:127]
        if r == 6:
            o = pc.hash_2b(opw, ovs, u) + ovs + oks
            ointer = pc.hash_2b(opw, oks, u)
        else:
            o = _sha256(opw + ovs + u).digest() + ovs + oks
            ointer = _sha256(opw + oks + u).digest()
        oe = pc.aes_cbc_encrypt(ointer, bytes(16), fkey, pad=False)
        # /Perms: P + 0xFFFFFFFF + 'T'(metadata) + 'adb' + 4 free bytes,
        # AES-256-ECB'd with the file key (§7.6.4.4.9)
        perms = pc._aes_encrypt_block(
            pc._aes_expand(fkey),
            _struct.pack("<i", p) + b"\xff\xff\xff\xffTadbsynF"[:12],
        )
        crypt = pc.StandardCrypt(fkey, "aesv3")
        enc_entries = (
            b"/V 5 /R %d /Length 256 /CF << /StdCF << /CFM /AESV3"
            b" /Length 32 >> >> /StmF /StdCF /StrF /StdCF" % r
        )
        tail_entries = b" /P %d /O <%s> /U <%s> /OE <%s> /UE <%s> /Perms <%s>" % (
            p, o.hex().encode(), u.hex().encode(), oe.hex().encode(),
            ue.hex().encode(), perms.hex().encode(),
        )
    else:
        raise ValueError("unknown encrypt_pdf mode: %s" % mode)
    aes = mode in ("aesv2", "aes256", "aes256-r5")

    obj_re = _re.compile(rb"(\d+)\s+\d+\s+obj\b(.*?)\bendobj", _re.DOTALL)
    stream_re = _re.compile(rb"stream\r?\n")
    dlen_re = _re.compile(rb"/Length\s+(\d+)(?!\d)(?!\s+\d+\s+R)")
    ilen_re = _re.compile(rb"/Length\s+(\d+)\s+\d+\s+R")
    nums = [int(m.group(1)) for m in obj_re.finditer(raw)]
    objs = {int(m.group(1)): m.group(2) for m in obj_re.finditer(raw)}
    out = bytearray()
    last = 0
    for m in obj_re.finditer(raw):
        num, body = int(m.group(1)), m.group(2)
        sm = stream_re.search(body)
        if sm is None:
            continue
        # frame the body by its /Length, as the kernel does: a binary body
        # may itself end in b"\r", which an EOL-before-endstream regex drops
        dicthead = body[: sm.end()]
        dm, im = dlen_re.search(dicthead), ilen_re.search(dicthead)
        if dm is not None:
            n = int(dm.group(1))
        elif im is not None:
            n = int(objs[int(im.group(1))])
        else:
            raise ValueError("stream without /Length cannot be framed once encrypted")
        plain, rest = body[sm.end() : sm.end() + n], body[sm.end() + n :]
        if not _re.match(rb"\r?\n?endstream", rest):
            raise ValueError("stream body disagrees with its /Length")
        if aes:
            ct = crypt.encrypt_stream(num, plain)
            if dm is None:
                raise ValueError("AES twin requires a direct /Length to rewrite")
            dicthead = dlen_re.sub(b"/Length %d" % len(ct), dicthead, count=1)
        else:
            ct = crypt.encrypt(num, plain)
        out += raw[last : m.start(2)]
        out += dicthead + ct + rest
        last = m.end(2)
    out += raw[last:]

    enc_num = max(nums) + 1
    enc_obj = b"%d 0 obj << /Filter /Standard %s%s >> endobj\n" % (
        enc_num, enc_entries, tail_entries,
    )
    trailer = b"trailer << /Size %d /Encrypt %d 0 R /ID [<%s> <%s>] >>\n" % (
        enc_num + 1, enc_num, id0.hex().encode(), id0.hex().encode(),
    )
    eof = bytes(out).rfind(b"%%EOF")
    assembled = bytes(out[:eof]) + enc_obj + trailer + bytes(out[eof:])
    # fail-fast framing audit: ciphertext must not have minted or destroyed
    # object/stream boundaries
    if [int(m.group(1)) for m in obj_re.finditer(assembled)] != nums + [enc_num]:
        raise ValueError("ciphertext broke object framing; change id0/owner_pw")
    return assembled


def encrypt_pdf_rc4(
    raw: bytes,
    owner_pw: bytes = b"owner-secret",
    r: int = 3,
    p: int = -44,
    id0: bytes = b"\x01\x23\x45\x67\x89\xab\xcd\xef" * 2,
) -> bytes:
    """RC4 convenience wrapper over encrypt_pdf (kept for the round-4
    RC4 tests; R=2 → V1 40-bit, R=3 → V2 128-bit)."""
    return encrypt_pdf(
        raw, mode="rc4-r3" if r >= 3 else "rc4-r2", owner_pw=owner_pw,
        p=p, id0=id0,
    )


def write_xlsx(grid: "list[list]", path: str | None = None) -> bytes:
    """Minimal SpreadsheetML writer (test/fixture twin of
    `sources_excel.read_xlsx_grid`): a ZIP with [Content_Types], rels,
    workbook, one worksheet, and a sharedStrings part. Strings go through
    the shared-string table (the form every real writer emits), bools as
    t="b", numbers as plain <v>. Deterministic: same grid → same bytes
    (fixed timestamps, stable shared-string order). Returns the bytes;
    also writes `path` when given."""
    import zipfile as _zipfile
    from io import BytesIO as _BytesIO
    from xml.sax.saxutils import escape as _xesc

    shared: "dict[str, int]" = {}

    def col_ref(c: int) -> str:
        s = ""
        c += 1
        while c:
            c, rem = divmod(c - 1, 26)
            s = chr(65 + rem) + s
        return s

    rows_xml = []
    for r, row in enumerate(grid):
        cells = []
        for c, val in enumerate(row):
            if val is None or val == "":
                continue
            ref = f"{col_ref(c)}{r + 1}"
            if isinstance(val, bool):
                cells.append(f'<c r="{ref}" t="b"><v>{int(val)}</v></c>')
            elif isinstance(val, (int, float)):
                cells.append(f'<c r="{ref}"><v>{val}</v></c>')
            else:
                idx = shared.setdefault(str(val), len(shared))
                cells.append(f'<c r="{ref}" t="s"><v>{idx}</v></c>')
        if cells:
            rows_xml.append(f'<row r="{r + 1}">{"".join(cells)}</row>')

    ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    rns = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    sheet_xml = (
        f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<worksheet xmlns="{ns}"><sheetData>{"".join(rows_xml)}</sheetData></worksheet>'
    )
    sst_items = "".join(
        f"<si><t>{_xesc(s)}</t></si>"
        for s, _ in sorted(shared.items(), key=lambda kv: kv[1])
    )
    sst_xml = (
        f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<sst xmlns="{ns}" count="{len(shared)}" uniqueCount="{len(shared)}">'
        f"{sst_items}</sst>"
    )
    workbook_xml = (
        f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<workbook xmlns="{ns}" xmlns:r="{rns}"><sheets>'
        f'<sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets></workbook>'
    )
    wb_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/'
        'officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>'
        '<Relationship Id="rId2" Type="http://schemas.openxmlformats.org/'
        'officeDocument/2006/relationships/sharedStrings" Target="sharedStrings.xml"/>'
        "</Relationships>"
    )
    root_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/'
        'officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>'
        "</Relationships>"
    )
    content_types = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
        '<Default Extension="rels" ContentType="application/vnd.openxmlformats-'
        'package.relationships+xml"/>'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.'
        'openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
        '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/'
        'vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
        '<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.'
        'openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>'
        "</Types>"
    )
    bio = _BytesIO()
    with _zipfile.ZipFile(bio, "w", _zipfile.ZIP_DEFLATED) as zf:
        for name, data in (
            ("[Content_Types].xml", content_types),
            ("_rels/.rels", root_rels),
            ("xl/workbook.xml", workbook_xml),
            ("xl/_rels/workbook.xml.rels", wb_rels),
            ("xl/worksheets/sheet1.xml", sheet_xml),
            ("xl/sharedStrings.xml", sst_xml),
        ):
            zi = _zipfile.ZipInfo(name, date_time=(2020, 1, 1, 0, 0, 0))
            zi.compress_type = _zipfile.ZIP_DEFLATED
            zf.writestr(zi, data)
    payload = bio.getvalue()
    if path is not None:
        with open(path, "wb") as f:
            f.write(payload)
    return payload
