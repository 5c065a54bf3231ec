"""Seeded pages corpora for the benchmark workloads.

One generator serves both workloads.  It builds on the fixture
builders in ``fixtures/gen.py`` (``PdfBuilder``, the malformed-document
cases, the ToUnicode/table/xref-stream case shapes) and draws every
varying choice from ``random.Random(seed)``, so the same seed gives
byte-identical corpora and different seeds give different documents.
Class counts (heavy, malformed, duplicate, PDF share) are fixed per
workload, not drawn, so the work a corpus carries barely moves between
seeds.

A corpus is a list of ``Page`` rows in the pages-table shape
``(url, warc_ts, html, text, lang)``; ``write_pages`` stores it as
parquet with pyarrow, so building the input costs no Spark job.
"""

from __future__ import annotations

import math
import random
import zlib
from statistics import NormalDist
from typing import NamedTuple

from fixtures.gen import PdfBuilder

# the job's shipped heavy-tail threshold (spark/job.py DEFAULT_HEAVY_TAIL_BYTES);
# heavy documents are generated above it so the job runs with its default
HEAVY_BYTES = 1 << 20
BASE_TS_US = 1_767_225_600_000_000  # 2026-01-01T00:00:00Z

_STOPWORDS = ["the", "a", "of", "and", "in", "to", "is", "for", "on", "with"]
_SYLLABLES = [
    "ka", "lo", "mi", "ter", "san", "vel", "dor", "ri", "pa", "nu", "sel",
    "ga", "bro", "tin", "mar", "co", "len", "fi", "qua", "zet", "har", "po",
]


def _vocabulary(n: int = 1500) -> list[str]:
    """Fixed pseudo-word vocabulary (independent of the seed)."""
    rng = random.Random(0)
    words: set[str] = set()
    while len(words) < n:
        words.add("".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(2, 4))))
    return sorted(words)


VOCAB = _vocabulary()
# cross-document boilerplate sentences (>= 8 tokens) for the span-strip stage
REPEATED_SPANS = [
    "subscribe to our weekly letter for more notes on the same topic and related reading",
    "all opinions expressed here are those of the author and not of the publisher",
    "this article was updated to reflect the latest figures available at the time of writing",
]


class Page(NamedTuple):
    url: str
    warc_ts_us: int
    html: bytes


# ------------------------------------------------------------------ text


def _sentence(rng: random.Random, n_words: int) -> str:
    words = rng.choices(VOCAB, k=n_words)
    for i in range(0, n_words, 4):  # about one stopword in four
        words[i] = rng.choice(_STOPWORDS)
    words[0] = words[0].capitalize()
    return " ".join(words) + "."


def _paragraph(rng: random.Random, lo: int, hi: int) -> str:
    n = rng.randint(lo, hi)
    out, k = [], 0
    while k < n:
        m = min(n - k, rng.randint(8, 18))
        out.append(_sentence(rng, m))
        k += m
    return " ".join(out)


def _mutate(text: str, rng: random.Random, frac: float) -> str:
    """Replace about ``frac`` of the words: a near-duplicate body."""
    words = text.split(" ")
    for i in rng.sample(range(len(words)), max(1, int(len(words) * frac))):
        words[i] = rng.choice(VOCAB)
    return " ".join(words)


# ------------------------------------------------------------------ HTML


class _Host(NamedTuple):
    name: str
    banner: str


def _hosts(rng: random.Random, n: int) -> list[_Host]:
    hosts = []
    for i in range(n):
        stem = rng.choice(VOCAB) + rng.choice(VOCAB)
        name = f"{stem}{i}.example"
        topic = " ".join(rng.choices(VOCAB, k=3))
        banner = (f"Welcome to the {stem} journal, independent notes on {topic} "
                  f"and the people who study it, published every week.")
        hosts.append(_Host(name, banner))
    return hosts


def _html_page(host: _Host, title: str, body: list[str], rng: random.Random) -> bytes:
    nav = " ".join(
        f"<a href='/{w}'>{w.capitalize()}</a>" for w in rng.sample(VOCAB, 5)
    )
    paras = "".join(f"<p>{p}</p>" for p in body)
    related = " ".join(f"<a href='/r/{w}'>{w}</a>" for w in rng.sample(VOCAB, 4))
    return (
        f"<html><head><title>{title} | {host.name}</title>"
        f"<style>body{{margin:0}} p{{line-height:1.4}}</style>"
        f"<script>var t={rng.randint(0, 10**6)};</script></head><body>"
        f"<nav>{nav}</nav><main><p class='banner'>{host.banner}</p>"
        f"<h1>{title}</h1>{paras}</main>"
        f"<aside>{related}</aside>"
        f"<footer>Copyright {host.name}. All rights reserved.</footer>"
        f"</body></html>"
    ).encode()


def _body(rng: random.Random, n_paras: int, lo: int = 25, hi: int = 70) -> list[str]:
    body = [_paragraph(rng, lo, hi) for _ in range(n_paras)]
    if rng.random() < 0.25:
        body.insert(rng.randint(0, len(body)), rng.choice(REPEATED_SPANS))
    return body


def _shuffled(rng: random.Random, values: list) -> list:
    """A fixed multiset in seeded order: the amount of work stays the
    same across seeds while which document carries it changes."""
    values = list(values)
    rng.shuffle(values)
    return values


def _article_paras(n: int) -> list[int]:
    """Paragraph counts at the quantiles of a log-normal: most pages
    short, a long tail."""
    dist = NormalDist(2.0, 0.8)
    return [max(1, min(120, int(math.exp(dist.inv_cdf((i + 0.5) / n))))) for i in range(n)]


# ------------------------------------------------------------------ PDF

_TOUNICODE = (
    b"/CIDInit /ProcSet findresource begin\nbegincmap\n"
    b"1 begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n"
    b"1 beginbfrange\n<0041> <005A> <0041>\nendbfrange\n"
    b"1 beginbfrange\n<0061> <007A> <0061>\nendbfrange\n"
    b"2 beginbfchar\n<0020> <0020>\n<002E> <002E>\nendbfchar\n"
    b"endcmap end\n"
)


def _esc(text: str) -> bytes:
    return text.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)").encode("latin-1")


def _page_content(rng: random.Random, page_no: int, table: bool, cid_font: bool) -> bytes:
    """One page: a heading, body lines in two paragraphs, and optionally
    a 4-column table; body text in the Type0/ToUnicode font when
    ``cid_font`` (hex 2-byte CIDs), else the WinAnsi font."""
    parts = [b"BT", b"/F1 18 Tf", b"1 0 0 1 72 740 Tm",
             b"(%s) Tj" % _esc(f"Section {page_no} " + " ".join(rng.choices(VOCAB, k=3)))]
    y = 710
    for para in range(2):
        for _ in range(rng.randint(6, 12)):
            line = " ".join(rng.choices(VOCAB + _STOPWORDS, k=rng.randint(7, 11)))
            if cid_font:
                cids = line.encode("utf-16-be").hex().upper().encode()  # 2-byte CIDs
                parts += [b"/F2 11 Tf", b"1 0 0 1 72 %d Tm" % y, b"<%s> Tj" % cids]
            else:
                parts += [b"/F1 11 Tf", b"1 0 0 1 72 %d Tm" % y, b"(%s) Tj" % _esc(line)]
            y -= 14
        y -= 16  # paragraph gap
    if table:
        xs = [60, 170, 330, 450]
        for r in range(rng.randint(4, 8)):
            cells = [f"{2025 + r % 2}-{1 + r % 12:02d}-{1 + r:02d}",
                     " ".join(rng.choices(VOCAB, k=2)),
                     f"{rng.randint(1, 9999)}.{rng.randint(0, 99):02d}",
                     f"{rng.randint(1, 99999)}.{rng.randint(0, 99):02d}"]
            for x, cell in zip(xs, cells):
                parts += [b"/F1 10 Tf", b"1 0 0 1 %d %d Tm" % (x, y),
                          b"(%s) Tj" % _esc(cell)]
            y -= 16
    parts.append(b"ET")
    return b" ".join(parts)


def _xref_stream_pdf(objects: dict[int, bytes], packed: set[int]) -> bytes:
    """PDF 1.5 writer: objects in ``packed`` go into one /ObjStm, the
    rest are written plainly; an /XRef stream (W [1 4 2]) indexes both."""
    out = bytearray(b"%PDF-1.5\n")
    offsets: dict[int, int] = {}
    for num in sorted(objects):
        if num not in packed:
            offsets[num] = len(out)
            out += b"%d 0 obj\n" % num + objects[num] + b"\nendobj\n"
    stm_num = max(objects) + 1
    header, bodies, index = [], b"", {}
    for i, num in enumerate(sorted(packed)):
        header.append(b"%d %d" % (num, len(bodies)))
        bodies += objects[num] + b" "
        index[num] = i
    head = b" ".join(header) + b"\n"
    payload = zlib.compress(head + bodies)
    offsets[stm_num] = len(out)
    out += (b"%d 0 obj\n<< /Type /ObjStm /N %d /First %d /Length %d /Filter /FlateDecode >>\n"
            b"stream\n" % (stm_num, len(packed), len(head), len(payload))
            + payload + b"\nendstream\nendobj\n")
    xref_num = stm_num + 1
    offsets[xref_num] = len(out)
    rows = bytearray()
    for num in range(xref_num + 1):
        if num in index:
            rows += bytes([2]) + stm_num.to_bytes(4, "big") + index[num].to_bytes(2, "big")
        elif num in offsets:
            rows += bytes([1]) + offsets[num].to_bytes(4, "big") + b"\0\0"
        else:
            rows += bytes([0]) + b"\0\0\0\0\xff\xff"
    xdata = zlib.compress(bytes(rows))
    out += (b"%d 0 obj\n<< /Type /XRef /Size %d /W [1 4 2] /Root 1 0 R "
            b"/Filter /FlateDecode /Length %d >>\nstream\n"
            % (xref_num, xref_num + 1, len(xdata)) + xdata + b"\nendstream\nendobj\n")
    out += b"startxref\n%d\n%%%%EOF\n" % offsets[xref_num]
    return bytes(out)


def make_pdf(rng: random.Random, n_pages: int, *, flate: bool = True,
             xref_stream: bool = False, pad_bytes: int = 0) -> bytes:
    """A multi-page text PDF.  Pages mix WinAnsi and Type0/ToUnicode
    fonts and carry tables at random; ``pad_bytes`` adds an
    incompressible image XObject so the file crosses the heavy
    threshold without a matching rise in text."""
    objs: dict[int, bytes] = {}
    objs[1] = b"<< /Type /Catalog /Pages 2 0 R >>"
    objs[4] = b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica /Encoding /WinAnsiEncoding >>"
    objs[5] = b"<< /Type /Font /Subtype /Type0 /BaseFont /Synth /ToUnicode 6 0 R >>"
    objs[6] = b"<< /Length %d >>\nstream\n" % len(_TOUNICODE) + _TOUNICODE + b"\nendstream"
    xobj = b""
    if pad_bytes:
        blob = rng.randbytes(pad_bytes)
        objs[7] = (b"<< /Type /XObject /Subtype /Image /Width 1 /Height %d "
                   b"/ColorSpace /DeviceGray /BitsPerComponent 8 /Length %d >>\nstream\n"
                   % (pad_bytes, pad_bytes) + blob + b"\nendstream")
        xobj = b" /XObject << /Im1 7 0 R >>"
    res = b"/Resources << /Font << /F1 4 0 R /F2 5 0 R >>" + xobj + b" >>"
    kids = []
    for p in range(n_pages):
        page_num, stream_num = 10 + 2 * p, 11 + 2 * p
        kids.append(b"%d 0 R" % page_num)
        objs[page_num] = (b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
                          b"/Contents %d 0 R " % stream_num + res + b" >>")
        content = _page_content(rng, p + 1, table=rng.random() < 0.3,
                                cid_font=rng.random() < 0.3)
        if flate:
            data = zlib.compress(content)
            objs[stream_num] = (b"<< /Length %d /Filter /FlateDecode >>\nstream\n" % len(data)
                                + data + b"\nendstream")
        else:
            objs[stream_num] = (b"<< /Length %d >>\nstream\n" % len(content)
                                + content + b"\nendstream")
    objs[2] = b"<< /Type /Pages /Kids [" + b" ".join(kids) + b"] /Count %d >>" % n_pages
    if xref_stream:
        packed = {1, 2, 4, 5} | {10 + 2 * p for p in range(n_pages)}
        return _xref_stream_pdf(objs, packed)
    b = PdfBuilder()
    for num, body in objs.items():
        b.add(num, body)
    return b.build()


def malformed(rng: random.Random, kind: int) -> bytes:
    """Seeded broken documents; each must yield a row-level error."""
    junk = rng.randbytes(rng.randint(64, 512))
    if kind % 4 == 0:
        return b"%PDF-1.4\n" + junk.replace(b"startxref", b"")  # no startxref
    if kind % 4 == 1:
        return b"%PDF-1.4\n" + junk + b"\nstartxref\n%d\n%%%%EOF\n" % (10**9 + rng.randint(0, 999))
    if kind % 4 == 2:  # valid document truncated inside its body
        doc = make_pdf(rng, 1)
        return doc[: len(doc) // 2]
    content = b"BT /F1 12 Tf 72 720 Td (%s) Tj ET" % _esc(_sentence(rng, 6))
    b = PdfBuilder()  # unsupported filter under the reference dispatch
    b.add(1, b"<< /Type /Catalog /Pages 2 0 R >>")
    b.add(2, b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>")
    b.add(3, b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Contents 4 0 R >>")
    b.add_stream(4, b"", content, filters=b"/LZWDecode")
    return b.build()


# ------------------------------------------------------------ workloads


def _ts(i: int) -> int:
    return BASE_TS_US + i * 1_000_000


def crawl_mix(seed: int, n_docs: int = 1000, n_hosts: int = 40) -> list[Page]:
    """Crawl-shaped mix: templated hosts with varied HTML bodies
    (log-normal paragraph counts), a 12% share of 1-2 page PDFs, 2 heavy
    docs, 4 malformed docs, 3% spammy urls, 2% number-dump pages under
    the quality floor, 8% exact and 8% near duplicates.  The shares are
    chosen so that every extract path and every curate stage gets rows
    to work on; they are not measured from a real crawl."""
    rng = random.Random(f"crawl_mix:{seed}")
    hosts = _hosts(rng, n_hosts)
    n_pdf, n_heavy, n_bad = n_docs * 12 // 100, 2, 4
    n_exact = n_near = n_docs * 8 // 100
    n_spam, n_thin = n_docs * 3 // 100, n_docs * 2 // 100
    n_html = n_docs - n_pdf - n_heavy - n_bad - n_exact - n_near - n_thin
    pages: list[Page] = []
    bodies: list[tuple[_Host, str, list[str]]] = []

    def url(host: _Host, i: int, spam: bool = False) -> str:
        if spam:
            return (f"https://{host.name}/buy-cheap-free-best-deal-now/"
                    f"item{rng.randint(10**7, 10**8)}?a=1&b=2&c=3&ref=4")
        return f"https://{host.name}/{rng.choice(VOCAB)}/{rng.choice(VOCAB)}-{i}.html"

    for i, n_paras in enumerate(_shuffled(rng, _article_paras(n_html))):
        host = rng.choice(hosts)
        title = _sentence(rng, rng.randint(4, 8))[:-1]
        body = _body(rng, n_paras)
        bodies.append((host, title, body))
        pages.append(Page(url(host, i, spam=i < n_spam), _ts(i),
                          _html_page(host, title, body, rng)))
    for k in range(n_exact + n_near):
        src_host, title, body = bodies[rng.randrange(len(bodies))]
        host = src_host if k % 2 else rng.choice(hosts)
        if k >= n_exact:
            body = [_mutate(p, rng, 0.05) for p in body]
        i = len(pages)
        pages.append(Page(url(host, i), _ts(i), _html_page(host, title, body, rng)))
    for k in range(n_thin):  # mostly numbers: under the alpha-ratio floor
        host, i = rng.choice(hosts), len(pages)
        dump = " ".join(f"{rng.randint(0, 99999)}.{rng.randint(0, 99)}"
                        for _ in range(rng.randint(80, 120)))
        pages.append(Page(url(host, i), _ts(i), _html_page(host, "Data", [dump], rng)))
    for k in range(n_pdf):
        host, i = rng.choice(hosts), len(pages)
        doc = make_pdf(rng, 1 + k % 2, flate=k % 5 != 0, xref_stream=k % 10 < 3)
        pages.append(Page(f"https://{host.name}/papers/{rng.choice(VOCAB)}-{i}.pdf",
                          _ts(i), doc))
    # heavy: one long HTML article and one image-padded PDF, both > 1 MiB
    host, i = rng.choice(hosts), len(pages)
    long_body = [_paragraph(rng, 60, 90) for _ in range(2200)]
    heavy_html = _html_page(host, "Collected archive", long_body, rng)
    pages.append(Page(f"https://{host.name}/archive/all-{i}.html", _ts(i), heavy_html))
    host, i = rng.choice(hosts), len(pages)
    heavy_pdf = make_pdf(rng, 4, pad_bytes=HEAVY_BYTES + rng.randint(4096, 65536))
    pages.append(Page(f"https://{host.name}/scans/report-{i}.pdf", _ts(i), heavy_pdf))
    for k in range(n_bad):
        host, i = rng.choice(hosts), len(pages)
        pages.append(Page(f"https://{host.name}/files/broken-{i}.pdf", _ts(i),
                          malformed(rng, k)))
    rng.shuffle(pages)
    return pages


def pdf_heavy(seed: int, n_docs: int = 200, n_index: int = 8) -> list[Page]:
    """PDF-dominated: 2-12 page documents (Flate and plain content,
    classic and object/xref-stream files, ToUnicode fonts, tables), 3
    giant PDFs above 1 MiB (two image-padded, one text-heavy), and
    ``n_index`` small HTML index pages of the hosts serving them."""
    rng = random.Random(f"pdf_heavy:{seed}")
    hosts = _hosts(rng, n_index)
    pages = [Page(f"https://{h.name}/pdf/index.html", _ts(i),
                  _html_page(h, "Document index", _body(rng, 2), rng))
             for i, h in enumerate(hosts)]
    for i, k in enumerate(range(n_docs - 3 - n_index), start=n_index):
        doc = make_pdf(rng, 2 + k % 11, flate=k % 4 != 0, xref_stream=k % 5 < 2)
        pages.append(Page(f"https://docs{i % 23}.example/pdf/{rng.choice(VOCAB)}-{i}.pdf",
                          _ts(i), doc))
    for k in range(2):
        i = len(pages)
        doc = make_pdf(rng, rng.randint(3, 6),
                       pad_bytes=HEAVY_BYTES + rng.randint(4096, 65536))
        pages.append(Page(f"https://scans.example/big/{rng.choice(VOCAB)}-{i}.pdf",
                          _ts(i), doc))
    i = len(pages)
    # uncompressed text pages until the file crosses the threshold
    n_pages, doc = 200, b""
    while len(doc) <= HEAVY_BYTES:
        n_pages += 40
        doc = make_pdf(random.Random(rng.random()), n_pages, flate=False)
    pages.append(Page(f"https://scans.example/big/book-{i}.pdf", _ts(i), doc))
    rng.shuffle(pages)
    return pages


WORKLOADS = {"crawl_mix": crawl_mix, "pdf_heavy": pdf_heavy}


def subset(pages: list[Page], seed: int, frac: float) -> list[Page]:
    """A seeded ``frac`` share of ``pages`` (the already-committed part
    of a resumed run)."""
    rng = random.Random(f"subset:{seed}")
    return rng.sample(pages, round(len(pages) * frac))


def warmup_pages(n: int = 16) -> list[Page]:
    """Fixed small slice (independent of the seed) for set-up timing:
    small HTML pages and PDFs, plus one image-padded PDF over the heavy
    threshold so the heavy-class path runs too (its text is one page)."""
    rng = random.Random("warmup")
    host = _hosts(rng, 1)[0]
    pages = []
    for i in range(n - 1):
        if i % 2:
            doc = make_pdf(rng, 1)
        else:
            doc = _html_page(host, "Warm up", _body(rng, 2), rng)
        pages.append(Page(f"https://{host.name}/warm/{i}", _ts(i), doc))
    heavy = make_pdf(rng, 1, pad_bytes=HEAVY_BYTES + 4096)
    pages.append(Page(f"https://{host.name}/warm/{n - 1}", _ts(n - 1), heavy))
    return pages


def write_pages(pages: list[Page], path: str, files: int) -> None:
    """Store pages as a parquet directory of ``files`` part files in the
    ``(url, warc_ts, html, text, lang)`` shape.  Pages are dealt to the
    files largest first, so every file carries a similar share of the
    bytes.  With as many files as cores, Spark's split packing (each
    file costs its size plus a 4 MB open cost against a budget of the
    total over the core count) gives every file a task of its own.  With
    more files per task, whether one more file fits a task hinges on a
    few hundred KB, which a seed's heavy documents move, so the task
    count and the slowest task would vary with the seed."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path)
    parts: list[list[Page]] = [[] for _ in range(files)]
    for i, p in enumerate(sorted(pages, key=lambda p: (-len(p.html), p.url))):
        k = i % (2 * files)
        parts[k if k < files else 2 * files - 1 - k].append(p)  # snake order
    for k, part in enumerate(parts):
        if not part:
            continue
        table = pa.table({
            "url": pa.array([p.url for p in part], pa.string()),
            "warc_ts": pa.array([p.warc_ts_us for p in part], pa.timestamp("us", tz="UTC")),
            "html": pa.array([p.html for p in part], pa.binary()),
            "text": pa.array([""] * len(part), pa.string()),
            "lang": pa.array(["en"] * len(part), pa.string()),
        })
        pq.write_table(table, os.path.join(path, f"part-{k:05d}.parquet"))
