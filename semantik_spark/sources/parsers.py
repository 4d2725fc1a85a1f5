"""Parser registry (S7) + binary-format parsers (S6) + email decode (C11).

Reference parity:
  registry    shared/text_processing/parsers/registry.py:74-215 — maps
              extension → ordered parser candidates with fallback; the
              first parser that succeeds wins.
  unstructured shared/text_processing/parsers/unstructured.py:15-223 —
              15+ binary formats via `unstructured.partition.auto`
              (extensions :39-69, partition call :160-170).
  email       shared/connectors/imap.py:32-62 — MIME header decode
              (RFC 2047 encoded-words), date normalization.

Spark-first shape: the registry compiles to a literal routing column
(`when/otherwise` over the extension — no UDF), and each parser family
is a `mapInPandas` stage applied only to its routed subset, so a PDF
parser never touches a .txt row. REAL stdlib parsers: email (header
decode, multipart walk), html (HTMLParser text layer), pdf (FlateDecode
streams + BT/ET literal strings), office OOXML (.docx/.pptx/.xlsx zip +
ElementTree), structured data (.json/.yaml/.csv/.xml rendered to text
with plain-decode fall-through), OpenDocument + EPUB (.odt content.xml,
.epub container→OPF→spine, both zip+XML), and the legacy OLE binaries
(.doc/.ppt) via a stdlib MS-CFB compound-file reader — .ppt by the
exact TextCharsAtom/TextBytesAtom record walk, .doc by the FIB
clear-text window with a printable-run fallback (exact extraction
needs the piece table; parse_status stays honest). The `unstructured`
slot remains the registry fallback for when that library exists.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

_NULL_STATUS = "error: NullContent"


def _as_bytes(c) -> bytes | None:
    """NULL-binary guard shared by every mapInPandas kernel (r13
    formula review; the sniff_pdf/multimodal r12 defect class):
    bytes(None) raises TypeError inside the Arrow batch — in the
    kernels that convert OUTSIDE their try block it killed the WHOLE
    task for one NULL row. A NULL content row must degrade to its
    family's dead-letter row (parse_status 'error: NullContent')."""
    return None if c is None else bytes(c)


# extension → ordered parser candidates (registry.py:74-215 semantics:
# try in order, fall through on failure)
PARSER_REGISTRY: dict[str, tuple[str, ...]] = {
    ".txt": ("text",), ".md": ("text",), ".markdown": ("text",),
    ".rst": ("text",), ".py": ("text",), ".js": ("text",),
    ".ts": ("text",), ".java": ("text",),
    # remaining code/markup extensions of the reference's detector
    # (file_type_detector.py:14-75) — all route to the text parser
    **{e: ("text",) for e in (
        ".mdown", ".mkd", ".mdx", ".tex", ".latex", ".asciidoc", ".org",
        ".cpp", ".c", ".h", ".hpp", ".cs", ".rb", ".go", ".rs", ".php",
        ".swift", ".kt", ".scala", ".r", ".m", ".mm", ".lua", ".dart",
        ".jsx", ".tsx", ".vue", ".sql", ".sh", ".bash", ".zsh", ".ps1",
        ".toml", ".ini", ".cfg", ".conf", ".css", ".scss", ".sass", ".less",
    )},
    ".json": ("structured", "text"), ".yaml": ("structured", "text"),
    ".yml": ("structured", "text"), ".xml": ("structured", "text"),
    ".csv": ("structured", "text"),
    ".html": ("html", "text"), ".htm": ("html", "text"),
    ".eml": ("email", "text"), ".msg": ("msg", "email"),
    ".pdf": ("pdf",),
    ".rtf": ("rtf", "text"),
    ".docx": ("office",), ".pptx": ("office",), ".xlsx": ("office",),
    ".odt": ("office",), ".epub": ("office",),
    ".doc": ("ole", "unstructured"), ".ppt": ("ole", "unstructured"),
}
DEFAULT_CANDIDATES: tuple[str, ...] = ("text",)


def route_parsers(files: DataFrame) -> DataFrame:
    """Adds `parser` (first candidate) and `parser_candidates`
    ARRAY<STRING> columns from the extension — a literal when/otherwise
    chain Catalyst constant-folds; no UDF, no shuffle."""
    cand = F.when(F.lit(False), F.array(F.lit("")))
    first = F.when(F.lit(False), F.lit(""))
    for ext, parsers in PARSER_REGISTRY.items():
        cand = cand.when(F.col("extension") == ext,
                         F.array(*[F.lit(p) for p in parsers]))
        first = first.when(F.col("extension") == ext, F.lit(parsers[0]))
    return files.withColumn(
        "parser_candidates",
        cand.otherwise(F.array(*[F.lit(p) for p in DEFAULT_CANDIDATES])),
    ).withColumn("parser", first.otherwise(F.lit(DEFAULT_CANDIDATES[0])))


# --- email parser (REAL — stdlib) ------------------------------------------

_EMAIL_SCHEMA = (
    "uri string, subject string, from_addr string, to_addr string, "
    "sent_at string, text string, parse_status string"
)


def _decode_header(raw: str | None) -> str:
    """RFC 2047 encoded-word decode (imap.py:32-47)."""
    if not raw:
        return ""
    import email.header

    parts = []
    for chunk, charset in email.header.decode_header(raw):
        if isinstance(chunk, bytes):
            parts.append(chunk.decode(charset or "utf-8", errors="replace"))
        else:
            parts.append(chunk)
    return "".join(parts)


def _eml_to_row(uri: str, raw: bytes | None) -> dict:
    import email
    import email.policy
    import email.utils

    if raw is None:
        return {"uri": uri, "subject": "", "from_addr": "", "to_addr": "",
                "sent_at": "", "text": "", "parse_status": _NULL_STATUS}
    try:
        msg = email.message_from_bytes(raw, policy=email.policy.default)
        texts: list[str] = []
        for part in msg.walk():
            if part.get_content_type() == "text/plain" and not part.is_multipart():
                payload = part.get_payload(decode=True)
                if payload is not None:
                    cs = part.get_content_charset() or "utf-8"
                    texts.append(payload.decode(cs, errors="replace"))
        sent = msg.get("Date")
        if sent:
            try:  # normalize to ISO-8601 UTC (imap.py:49-62)
                dt = email.utils.parsedate_to_datetime(sent)
                sent = dt.isoformat()
            except (TypeError, ValueError):
                pass
        return {
            "uri": uri,
            "subject": _decode_header(msg.get("Subject")),
            "from_addr": _decode_header(msg.get("From")),
            "to_addr": _decode_header(msg.get("To")),
            "sent_at": sent or "",
            "text": "\n\n".join(texts),
            "parse_status": "parsed",
        }
    except Exception as exc:  # malformed message → dead-letter row
        return {
            "uri": uri, "subject": "", "from_addr": "", "to_addr": "",
            "sent_at": "", "text": "",
            "parse_status": f"error: {type(exc).__name__}",
        }


def parse_email(files: DataFrame) -> DataFrame:
    """S6 email family: mapInPandas over (uri, content) → decoded
    header + body rows. Arrow-batched; one Python pass per partition."""
    src = files.select("uri", "content")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame([
                _eml_to_row(u, _as_bytes(c)) for u, c in zip(pdf["uri"], pdf["content"])
            ], columns=["uri", "subject", "from_addr", "to_addr",
                        "sent_at", "text", "parse_status"])

    return src.mapInPandas(run, schema=_EMAIL_SCHEMA)


# --- html parser (REAL — stdlib) -------------------------------------------

_HTML_SCHEMA = "uri string, title string, text string, parse_status string"

_SKIP_TAGS = {"script", "style", "head", "template", "noscript"}
_BLOCK_TAGS = {"p", "div", "br", "li", "tr", "h1", "h2", "h3", "h4", "h5",
               "h6", "section", "article", "blockquote", "pre"}


def _html_to_row(uri: str, raw: bytes) -> dict:
    """Text extraction via the stdlib HTMLParser: skip script/style,
    newline on block boundaries, entity decode (the parser handles
    charrefs), <title> captured separately — the text layer the
    reference gets from unstructured.partition for .html
    (unstructured.py:39-69)."""
    from html.parser import HTMLParser

    class Extract(HTMLParser):
        def __init__(self) -> None:
            super().__init__(convert_charrefs=True)
            self.parts: list[str] = []
            self.title: list[str] = []
            self._skip = 0
            self._in_title = False

        def handle_starttag(self, tag: str, attrs) -> None:
            if tag in _SKIP_TAGS:
                self._skip += 1
            if tag == "title":
                self._in_title = True
            if tag in _BLOCK_TAGS:
                self.parts.append("\n")

        def handle_endtag(self, tag: str) -> None:
            if tag in _SKIP_TAGS and self._skip:
                self._skip -= 1
            if tag == "title":
                self._in_title = False
            if tag in _BLOCK_TAGS:
                self.parts.append("\n")

        def handle_data(self, data: str) -> None:
            if self._in_title:
                self.title.append(data)
            elif not self._skip:
                self.parts.append(data)

    if raw is None:
        return {"uri": uri, "title": "", "text": "",
                "parse_status": _NULL_STATUS}
    try:
        p = Extract()
        p.feed(raw.decode("utf-8", errors="replace"))
        p.close()
        text = "\n".join(
            ln.strip() for ln in "".join(p.parts).splitlines() if ln.strip()
        )
        return {"uri": uri, "title": "".join(p.title).strip(),
                "text": text, "parse_status": "ok"}
    except Exception as exc:  # noqa: BLE001 — registry falls through on failure
        return {"uri": uri, "title": "", "text": "",
                "parse_status": f"error: {type(exc).__name__}"}


def parse_html(files: DataFrame) -> DataFrame:
    """S6 html family: mapInPandas over (uri, content) → title + visible
    text rows. Arrow-batched, one Python pass per partition."""
    src = files.select("uri", "content")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame([
                _html_to_row(u, _as_bytes(c)) for u, c in zip(pdf["uri"], pdf["content"])
            ], columns=["uri", "title", "text", "parse_status"])

    return src.mapInPandas(run, schema=_HTML_SCHEMA)


# --- pdf parser (REAL — stdlib re + zlib) ----------------------------------

_PDF_SCHEMA = "uri string, text string, parse_status string"

_PDF_ESCAPES = {"n": "\n", "r": "\r", "t": "\t", "b": "\b", "f": "\f",
                "(": "(", ")": ")", "\\": "\\"}


def _pdf_unescape(s: str) -> str:
    """Literal-string unescape (PDF 32000-1 §7.3.4.2): named escapes,
    octal \\ddd, line continuations."""
    out: list[str] = []
    i = 0
    while i < len(s):
        ch = s[i]
        if ch != "\\":
            out.append(ch)
            i += 1
            continue
        i += 1
        if i >= len(s):
            break
        nxt = s[i]
        if nxt in _PDF_ESCAPES:
            out.append(_PDF_ESCAPES[nxt])
            i += 1
        elif nxt.isdigit():
            j = i
            while j < len(s) and j < i + 3 and s[j].isdigit():
                j += 1
            out.append(chr(int(s[i:j], 8) % 256))
            i = j
        elif nxt == "\n":
            i += 1  # line continuation
        else:
            out.append(nxt)
            i += 1
    return "".join(out)


def _pdf_text(raw: bytes) -> str:
    """Best-effort text extraction without pypdf: FlateDecode content
    streams (stdlib zlib) else the raw body, then every literal string
    shown by Tj / ' / TJ inside BT…ET text blocks. Covers
    machine-generated text PDFs — the dominant corpus case the
    reference handles via unstructured.partition
    (unstructured.py:39-69); scanned/CFF-subset PDFs need the real
    library and surface as empty text here."""
    import re
    import zlib

    sources: list[str] = []
    for m in re.finditer(rb"stream\r?\n(.*?)\r?\nendstream", raw, re.S):
        data = m.group(1)
        try:
            data = zlib.decompress(data)
        except Exception:  # noqa: BLE001 — already-plain stream
            pass
        sources.append(data.decode("latin-1", errors="replace"))
    if not sources:
        sources = [raw.decode("latin-1", errors="replace")]
    lit = r"\((?:[^()\\]|\\.)*\)"
    blocks: list[str] = []
    for src in sources:
        for bt in re.finditer(r"BT(.*?)ET", src, re.S):
            shown = [
                _pdf_unescape(sm.group(0)[1:-1])
                for sm in re.finditer(lit, bt.group(1))
            ]
            if shown:
                blocks.append("".join(shown))
    return "\n".join(blocks)


def parse_pdf(files: DataFrame) -> DataFrame:
    """S6 pdf family: mapInPandas over (uri, content) → extracted text."""
    src = files.select("uri", "content")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rows = []
        for pdf in batches:
            for u, c in zip(pdf["uri"], pdf["content"]):
                b = _as_bytes(c)
                if b is None:
                    rows.append({"uri": u, "text": "",
                                 "parse_status": _NULL_STATUS})
                    continue
                try:
                    text = _pdf_text(b)
                    status = "ok" if text else "empty"
                except Exception as exc:  # noqa: BLE001
                    text, status = "", f"error: {type(exc).__name__}"
                rows.append({"uri": u, "text": text, "parse_status": status})
            yield pd.DataFrame(rows, columns=["uri", "text", "parse_status"])
            rows = []

    return src.mapInPandas(run, schema=_PDF_SCHEMA)


# --- office zip-XML parsers (REAL — stdlib zipfile + ElementTree) ----------

_OFFICE_SCHEMA = "uri string, text string, parse_status string"

_W = "{http://schemas.openxmlformats.org/wordprocessingml/2006/main}"
_A = "{http://schemas.openxmlformats.org/drawingml/2006/main}"
_S = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"


def _docx_text(zf) -> str:
    """w:p paragraphs → lines, w:t runs concatenated (the text layer
    unstructured's docx partition emits)."""
    import xml.etree.ElementTree as ET

    root = ET.fromstring(zf.read("word/document.xml"))
    lines = []
    for p in root.iter(f"{_W}p"):
        run = "".join(t.text or "" for t in p.iter(f"{_W}t"))
        if run:
            lines.append(run)
    return "\n".join(lines)


def _pptx_text(zf) -> str:
    """Slides in order, a:t runs per paragraph."""
    import re
    import xml.etree.ElementTree as ET

    slides = sorted(
        (n for n in zf.namelist()
         if re.fullmatch(r"ppt/slides/slide\d+\.xml", n)),
        key=lambda n: int(re.search(r"(\d+)", n).group(1)),
    )
    lines = []
    for name in slides:
        root = ET.fromstring(zf.read(name))
        for para in root.iter(f"{_A}p"):
            run = "".join(t.text or "" for t in para.iter(f"{_A}t"))
            if run:
                lines.append(run)
    return "\n".join(lines)


def _xlsx_text(zf) -> str:
    """Shared-string table + inline strings — the textual cells."""
    import xml.etree.ElementTree as ET

    lines = []
    if "xl/sharedStrings.xml" in zf.namelist():
        root = ET.fromstring(zf.read("xl/sharedStrings.xml"))
        for si in root.iter(f"{_S}si"):
            run = "".join(t.text or "" for t in si.iter(f"{_S}t"))
            if run:
                lines.append(run)
    return "\n".join(lines)


_ODT_TEXT_NS = "{urn:oasis:names:tc:opendocument:xmlns:text:1.0}"


def _odt_text(zf) -> str:
    """OpenDocument text: content.xml text:p / text:h paragraphs in
    document order (.odt is zip+XML exactly like OOXML — reference
    routes it through unstructured.partition.auto, unstructured.py:
    39-69, but no library is needed)."""
    import xml.etree.ElementTree as ET

    root = ET.fromstring(zf.read("content.xml"))
    lines = []
    for p in root.iter():
        if p.tag in (f"{_ODT_TEXT_NS}p", f"{_ODT_TEXT_NS}h"):
            run = "".join(p.itertext())
            if run:
                lines.append(run)
    return "\n".join(lines)


def _epub_text(zf) -> str:
    """EPUB: META-INF/container.xml → OPF rootfile → spine order →
    XHTML chapter text layers (zip + XML throughout; the spine is what
    makes chapter order deterministic)."""
    import posixpath
    import xml.etree.ElementTree as ET

    cont = ET.fromstring(zf.read("META-INF/container.xml"))
    cns = "{urn:oasis:names:tc:opendocument:xmlns:container}"
    rootfile = cont.find(f".//{cns}rootfile").get("full-path")
    opf = ET.fromstring(zf.read(rootfile))
    ons = "{http://www.idpf.org/2007/opf}"
    hrefs = {
        item.get("id"): item.get("href")
        for item in opf.iter(f"{ons}item")
    }
    base = posixpath.dirname(rootfile)
    lines = []
    for itemref in opf.iter(f"{ons}itemref"):
        href = hrefs.get(itemref.get("idref"))
        if not href:
            continue
        path = posixpath.join(base, href) if base else href
        chap = ET.fromstring(zf.read(path))
        run = "".join(chap.itertext())
        if run:
            lines.append(run)
    return "\n".join(lines)


def _office_to_row(uri: str, raw: bytes | None, ext: str) -> dict:
    import io
    import zipfile

    if raw is None:
        return {"uri": uri, "text": "", "parse_status": _NULL_STATUS}
    try:
        with zipfile.ZipFile(io.BytesIO(raw)) as zf:
            if ext == ".docx":
                text = _docx_text(zf)
            elif ext == ".pptx":
                text = _pptx_text(zf)
            elif ext == ".odt":
                text = _odt_text(zf)
            elif ext == ".epub":
                text = _epub_text(zf)
            else:
                text = _xlsx_text(zf)
        return {"uri": uri, "text": text,
                "parse_status": "ok" if text else "empty"}
    except Exception as exc:  # noqa: BLE001 — registry falls through
        return {"uri": uri, "text": "",
                "parse_status": f"error: {type(exc).__name__}"}


def parse_office(files: DataFrame) -> DataFrame:
    """S6 office family (.docx/.pptx/.xlsx/.odt/.epub): zip + XML text
    extraction, Arrow-batched."""
    src = files.select("uri", "extension", "content")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame([
                _office_to_row(u, _as_bytes(c), e)
                for u, e, c in zip(pdf["uri"], pdf["extension"], pdf["content"])
            ], columns=["uri", "text", "parse_status"])

    return src.mapInPandas(run, schema=_OFFICE_SCHEMA)


# --- structured-data parsers (REAL — stdlib json/csv/ET + pyyaml) ----------

_STRUCTURED_SCHEMA = "uri string, text string, parse_status string"


def _render_data(obj, prefix: str = "") -> list[str]:
    """Deterministic 'key: value' text rendering of parsed structured
    data — insertion order preserved, dotted paths for nesting."""
    lines: list[str] = []
    if isinstance(obj, dict):
        for k, v in obj.items():
            if isinstance(v, (dict, list)):
                lines += _render_data(v, f"{prefix}{k}.")
            else:
                lines.append(f"{prefix}{k}: {v}")
    elif isinstance(obj, list):
        for i, v in enumerate(obj):
            if isinstance(v, (dict, list)):
                lines += _render_data(v, f"{prefix}{i}.")
            else:
                lines.append(f"{prefix}{i}: {v}")
    else:
        lines.append(f"{prefix}{obj}" if not prefix else f"{prefix[:-1]}: {obj}")
    return lines


def _structured_to_row(uri: str, raw: bytes, ext: str) -> dict:
    """JSON/YAML → key-path lines, CSV → comma-joined rows, XML →
    stripped text content. Failure falls through to the plain-text
    decode (registry fall-through, registry.py:74-215)."""
    import csv
    import io
    import json
    import xml.etree.ElementTree as ET

    if raw is None:
        return {"uri": uri, "text": "", "parse_status": _NULL_STATUS}
    decoded = raw.decode("utf-8", errors="replace")
    try:
        if ext == ".json":
            text = "\n".join(_render_data(json.loads(decoded)))
        elif ext in (".yaml", ".yml"):
            import yaml

            text = "\n".join(_render_data(yaml.safe_load(decoded)))
        elif ext == ".csv":
            text = "\n".join(
                ", ".join(cells) for cells in csv.reader(io.StringIO(decoded))
            )
        else:  # .xml
            root = ET.fromstring(decoded)
            text = "\n".join(
                s.strip() for s in root.itertext() if s and s.strip()
            )
        return {"uri": uri, "text": text, "parse_status": "ok"}
    except Exception:  # noqa: BLE001 — fall through to plain text
        return {"uri": uri, "text": decoded, "parse_status": "fallback:text"}


def parse_structured(files: DataFrame) -> DataFrame:
    """S6 structured-data family (.json/.yaml/.csv/.xml): parse +
    render to text, plain-decode fallback on malformed input."""
    src = files.select("uri", "extension", "content")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame([
                _structured_to_row(u, _as_bytes(c), e)
                for u, e, c in zip(pdf["uri"], pdf["extension"], pdf["content"])
            ], columns=["uri", "text", "parse_status"])

    return src.mapInPandas(run, schema=_STRUCTURED_SCHEMA)


def parse(files: DataFrame) -> DataFrame:
    """Registry-dispatched parse: text rows decode JVM-side
    (sources.local.parse_text); email/html/structured/pdf/office rows
    run through their stdlib mapInPandas parsers on their routed subset
    only (a PDF parser never touches a .txt row); remaining legacy
    binary formats (.doc/.ppt) pass through flagged for the
    unstructured slot. Output: uri, extension, text, parse_status,
    parser."""
    from semantik_spark.sources.local import parse_text

    routed = route_parsers(files)
    parts = [
        parse_text(routed.where(F.col("parser") == "text"))
        .select("uri", "extension", "text", "parse_status", "parser")
    ]
    families = {
        "email": parse_email, "html": parse_html,
        "structured": parse_structured, "pdf": parse_pdf,
        "office": parse_office, "ole": parse_ole, "msg": parse_msg,
        "rtf": parse_rtf,
    }
    for name, fn in families.items():
        fam_in = routed.where(F.col("parser") == name)
        parts.append(
            fam_in.select("uri", "extension", "parser")
            .join(fn(fam_in).select("uri", "text", "parse_status"), "uri")
            .select("uri", "extension", "text", "parse_status", "parser")
        )
    rest = routed.where(~F.col("parser").isin("text", *families)).select(
        "uri", "extension", F.lit(None).cast("string").alias("text"),
        F.lit("needs_binary_parser").alias("parse_status"), "parser",
    )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.unionByName(rest)


# --- legacy OLE compound-file parsers (REAL — stdlib struct) ---------------
#
# CFB layout per the public MS-CFB spec: 512-byte header (magic
# D0CF11E0A1B11AE1), DIFAT → FAT sector chains, directory entries of 128
# bytes (UTF-16 name, type, start sector, size), small streams packed
# into a 64-byte-sector mini stream addressed by the miniFAT. The
# reference routes .doc/.ppt through unstructured.partition.auto
# (unstructured.py:39-69); these parsers need only stdlib.

_CFB_MAGIC = b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1"
_FREESECT = 0xFFFFFFFF
_ENDOFCHAIN = 0xFFFFFFFE


def _cfb_streams(raw: bytes) -> dict[str, bytes]:
    """Parse an OLE compound file into {stream_name: bytes}. Supports
    regular FAT chains, DIFAT continuation, and the miniFAT/mini-stream
    for streams under the mini cutoff (4096)."""
    import struct

    if len(raw) < 512 or raw[:8] != _CFB_MAGIC:
        raise ValueError("not a CFB file")
    (sector_shift, mini_shift) = struct.unpack_from("<HH", raw, 30)
    ssz, msz = 1 << sector_shift, 1 << mini_shift
    n_fat, dir_start, _, mini_cutoff, minifat_start, n_minifat, difat_start, n_difat = \
        struct.unpack_from("<IIIIIIII", raw, 44)

    def sector(i: int) -> bytes:
        # sector 0 starts right after the header, which occupies one
        # full sector: offset 512 in v3, 4096 in v4 — (i+1)*ssz both
        off = (i + 1) * ssz
        return raw[off:off + ssz]

    # DIFAT: 109 entries in the header + continuation sectors
    difat = list(struct.unpack_from("<109I", raw, 76))
    nxt = difat_start
    for _ in range(n_difat):
        if nxt in (_FREESECT, _ENDOFCHAIN):
            break
        s = sector(nxt)
        entries = struct.unpack(f"<{ssz // 4}I", s)
        difat.extend(entries[:-1])
        nxt = entries[-1]
    fat: list[int] = []
    for fs in difat:
        if fs == _FREESECT:
            continue
        fat.extend(struct.unpack(f"<{ssz // 4}I", sector(fs)))

    def chain(start: int, limit: int = 1 << 24) -> bytes:
        out, cur, seen = [], start, 0
        while cur not in (_ENDOFCHAIN, _FREESECT) and seen * ssz < limit:
            out.append(sector(cur))
            cur = fat[cur] if cur < len(fat) else _ENDOFCHAIN
            seen += 1
        return b"".join(out)

    # directory
    dirbytes = chain(dir_start)
    entries = []
    for off in range(0, len(dirbytes) - 127, 128):
        e = dirbytes[off:off + 128]
        name_len = struct.unpack_from("<H", e, 64)[0]
        if name_len < 2:
            continue
        name = e[:name_len - 2].decode("utf-16-le", errors="replace")
        etype = e[66]
        start, size = struct.unpack_from("<I", e, 116)[0], struct.unpack_from("<Q", e, 120)[0]
        entries.append((name, etype, start, size))

    # mini stream lives in the ROOT entry's chain; miniFAT maps it
    root = next((e for e in entries if e[1] == 5), None)
    mini_stream = chain(root[2], root[3] + ssz) if root else b""
    minifat: list[int] = []
    if n_minifat and minifat_start not in (_FREESECT, _ENDOFCHAIN):
        mf = chain(minifat_start)
        minifat = list(struct.unpack(f"<{len(mf) // 4}I", mf[: (len(mf) // 4) * 4]))

    def mini_chain(start: int, size: int) -> bytes:
        out, cur = [], start
        while cur not in (_ENDOFCHAIN, _FREESECT) and len(out) * msz < size + msz:
            out.append(mini_stream[cur * msz:(cur + 1) * msz])
            cur = minifat[cur] if cur < len(minifat) else _ENDOFCHAIN
        return b"".join(out)

    streams: dict[str, bytes] = {}
    for name, etype, start, size in entries:
        if etype != 2:  # stream objects only
            continue
        data = mini_chain(start, size) if size < mini_cutoff else chain(start, size + ssz)
        streams[name] = data[:size]
    return streams


def _doc_text(streams: dict[str, bytes]) -> str:
    """Best-effort Word 97+ text: the FIB in the WordDocument stream
    gives fcMin/fcMac (clear-text window for non-complex files); if the
    window decodes badly (piece-table files), fall back to scanning the
    stream for printable runs. A heuristic — exact extraction needs the
    piece table in the 0Table/1Table stream — but correct on the
    common save-once documents, and honest parse_status either way."""
    import re
    import struct

    wd = streams.get("WordDocument")
    if wd is None or len(wd) < 0x20:
        raise ValueError("no WordDocument stream")
    fc_min, fc_mac = struct.unpack_from("<II", wd, 0x18)
    text = ""
    if 0 <= fc_min < fc_mac <= len(wd):
        window = wd[fc_min:fc_mac]
        flags = struct.unpack_from("<H", wd, 0x0A)[0]
        enc = "utf-16-le" if flags & 0x0200 else "cp1252"
        try:
            cand = window.decode(enc, errors="replace")
        except Exception:  # noqa: BLE001
            cand = ""
        printable = sum(c.isprintable() or c.isspace() for c in cand)
        if cand and printable / len(cand) >= 0.9:
            text = cand
    if not text:
        runs = re.findall(rb"[\x20-\x7e\r\t]{8,}", wd)
        text = "\n".join(r.decode("cp1252", errors="replace") for r in runs)
    # Word uses \r as the paragraph mark
    return "\n".join(s for s in text.replace("\r", "\n").split("\n") if s.strip())


def _ppt_text(streams: dict[str, bytes]) -> str:
    """PowerPoint 97+ text via the record walk of the 'PowerPoint
    Document' stream: 8-byte record headers; containers recurse;
    TextCharsAtom (0x0FA0, UTF-16LE) and TextBytesAtom (0x0FA8,
    8-bit) carry the slide text in document order."""
    import struct

    pd = streams.get("PowerPoint Document")
    if pd is None:
        raise ValueError("no PowerPoint Document stream")
    out: list[str] = []

    def walk(buf: bytes, depth: int = 0) -> None:
        off = 0
        while off + 8 <= len(buf) and depth < 16:
            ver_inst, rtype, rlen = struct.unpack_from("<HHI", buf, off)
            body = buf[off + 8:off + 8 + rlen]
            if (ver_inst & 0x0F) == 0x0F:  # container record
                walk(body, depth + 1)
            elif rtype == 0x0FA0:  # TextCharsAtom
                out.append(body.decode("utf-16-le", errors="replace"))
            elif rtype == 0x0FA8:  # TextBytesAtom
                out.append(body.decode("cp1252", errors="replace"))
            off += 8 + rlen
    walk(pd)
    return "\n".join(s.replace("\r", "\n").strip() for s in out if s.strip())


def parse_ole(files: DataFrame) -> DataFrame:
    """S6 legacy OLE family (.doc/.ppt): CFB stream extraction + text
    parse, Arrow-batched like every other family."""
    src = files.select("uri", "extension", "content")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for u, e, c in zip(pdf["uri"], pdf["extension"], pdf["content"]):
                b = _as_bytes(c)
                if b is None:
                    rows.append({"uri": u, "text": "",
                                 "parse_status": _NULL_STATUS})
                    continue
                try:
                    streams = _cfb_streams(b)
                    text = _doc_text(streams) if e == ".doc" else _ppt_text(streams)
                    status = "ok" if text else "empty"
                except Exception as exc:  # noqa: BLE001
                    text, status = "", f"error: {type(exc).__name__}"
                rows.append({"uri": u, "text": text, "parse_status": status})
            yield pd.DataFrame(rows, columns=["uri", "text", "parse_status"])

    return src.mapInPandas(run, schema=_OFFICE_SCHEMA)


def build_cfb(streams: dict[str, bytes]) -> bytes:
    """Deterministic minimal MS-CFB writer (v3, 512-byte sectors, one
    FAT sector): streams under the 4096 mini cutoff go through the
    mini stream + miniFAT, larger ones through regular FAT chains.
    Used to synthesize legacy .doc/.ppt corpora for the oracle-checked
    mixed-format query and as a fixture generator — the READER
    (_cfb_streams) is independently cross-checked in tests against a
    second writer implementation."""
    import struct

    SSZ, MSZ, CUTOFF = 512, 64, 4096
    FREE, END, FATSECT = 0xFFFFFFFF, 0xFFFFFFFE, 0xFFFFFFFD

    small = {n: d for n, d in streams.items() if len(d) < CUTOFF}
    big = {n: d for n, d in streams.items() if len(d) >= CUTOFF}

    mini_data, mini_starts, minifat = b"", {}, []
    for n, d in small.items():
        nsec = max(1, -(-len(d) // MSZ))
        mini_starts[n] = len(minifat)
        for i in range(nsec):
            minifat.append(len(minifat) + 1 if i < nsec - 1 else END)
        mini_data += d + b"\0" * (nsec * MSZ - len(d))

    sectors: list[bytes] = []
    fat: list[int] = []

    def add_chain(data: bytes) -> int:
        start = len(sectors)
        nsec = max(1, -(-len(data) // SSZ))
        for i in range(nsec):
            sectors.append(data[i * SSZ:(i + 1) * SSZ].ljust(SSZ, b"\0"))
            fat.append(len(sectors) if i < nsec - 1 else END)
        return start

    def dirent(name: str, etype: int, start: int, size: int) -> bytes:
        raw = name.encode("utf-16-le")
        e = raw.ljust(64, b"\0")[:64]
        e += struct.pack("<HBB", len(raw) + 2, etype, 1)
        e += struct.pack("<III", FREE, FREE, FREE)
        e += b"\0" * 36
        e += struct.pack("<IQ", start, size)
        return e

    big_starts = {n: add_chain(d) for n, d in big.items()}
    minifat_start = END
    if minifat:
        minifat_start = add_chain(b"".join(struct.pack("<I", v) for v in minifat))
    mini_start = add_chain(mini_data) if mini_data else END
    entries = [dirent("Root Entry", 5, mini_start, len(mini_data))]
    for n in streams:
        if n in big:
            entries.append(dirent(n, 2, big_starts[n], len(streams[n])))
        else:
            entries.append(dirent(n, 2, mini_starts[n], len(streams[n])))
    dir_start = add_chain(b"".join(entries))

    fat_sector_index = len(sectors)
    fat_full = fat + [FATSECT]
    fat_full += [FREE] * (SSZ // 4 - len(fat_full))
    sectors.append(b"".join(struct.pack("<I", v) for v in fat_full))

    h = _CFB_MAGIC + b"\0" * 16
    h += struct.pack("<HHHH", 0x003E, 0x0003, 0xFFFE, 9)
    h += struct.pack("<H", 6) + b"\0" * 6
    h += struct.pack("<IIIIIIIII", 0, 1, dir_start, 0, CUTOFF,
                     minifat_start if minifat else END,
                     1 if minifat else 0, END, 0)
    h += b"".join(struct.pack("<I", v)
                  for v in [fat_sector_index] + [FREE] * 108)
    return h + b"".join(sectors)


def make_doc_bytes(text: str) -> bytes:
    """Synthesize a minimal Word 97 .doc: FIB with fcMin/fcMac framing
    the clear cp1252 text (non-complex layout)."""
    import struct

    wd = bytearray(1024)
    wd[0:2] = struct.pack("<H", 0xA5EC)
    struct.pack_into("<H", wd, 0x0A, 0)
    struct.pack_into("<II", wd, 0x18, 1024, 1024 + len(text.encode("cp1252")))
    return build_cfb({"WordDocument": bytes(wd) + text.encode("cp1252")})


def make_ppt_bytes(text: str) -> bytes:
    """Synthesize a minimal PowerPoint 97 .ppt: one TextBytesAtom
    record carrying the text."""
    import struct

    body = text.encode("cp1252")
    stream = struct.pack("<HHI", 0, 0x0FA8, len(body)) + body
    return build_cfb({"PowerPoint Document": stream})


def _msg_prop(streams: dict[str, bytes], tag: str) -> str:
    """Outlook MSG property lookup: '__substg1.0_<tag><type>' streams,
    type 001F = UTF-16LE, 001E = 8-bit."""
    for suffix, enc in (("001F", "utf-16-le"), ("001E", "cp1252")):
        data = streams.get(f"__substg1.0_{tag}{suffix}")
        if data is not None:
            return data.decode(enc, errors="replace")
    return ""


def parse_msg(files: DataFrame) -> DataFrame:
    """S6/C11 Outlook .msg family: the MSG container is an OLE
    compound file whose properties live in '__substg1.0_<tag><type>'
    streams (public MS-OXMSG layout) — subject 0037, sender name/email
    0C1A/0C1F, display-to 0E04, plain body 1000. Same output schema as
    the RFC-2822 email family, CFB-decoded with stdlib only (the
    registry previously fell through to the text parser on these)."""
    src = files.select("uri", "content")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for u, c in zip(pdf["uri"], pdf["content"]):
                b = _as_bytes(c)
                if b is None:
                    rows.append({
                        "uri": u, "subject": "", "from_addr": "",
                        "to_addr": "", "sent_at": "", "text": "",
                        "parse_status": _NULL_STATUS,
                    })
                    continue
                try:
                    st = _cfb_streams(b)
                    sender = _msg_prop(st, "0C1A") or _msg_prop(st, "0C1F")
                    rows.append({
                        "uri": u,
                        "subject": _msg_prop(st, "0037"),
                        "from_addr": sender,
                        "to_addr": _msg_prop(st, "0E04"),
                        "sent_at": "",
                        "text": _msg_prop(st, "1000"),
                        "parse_status": "parsed",
                    })
                except Exception as exc:  # noqa: BLE001
                    rows.append({
                        "uri": u, "subject": "", "from_addr": "", "to_addr": "",
                        "sent_at": "", "text": "",
                        "parse_status": f"error: {type(exc).__name__}",
                    })
            yield pd.DataFrame(rows, columns=["uri", "subject", "from_addr",
                                              "to_addr", "sent_at", "text",
                                              "parse_status"])

    return src.mapInPandas(run, schema=_EMAIL_SCHEMA)


# --- RTF parser (REAL — stdlib control-word stripper) ----------------------
#
# Reference routes .rtf through unstructured.partition.auto
# (text_processing/file_type_detector.py:68 lists it as a supported
# document extension); here it is a real stdlib parser: RTF 1.9 control
# words are stripped, destinations (fonttbl/stylesheet/pict/...) are
# skipped as groups, \'hh and \uN escapes are decoded, \par/\line/\tab
# become whitespace.

_RTF_DESTINATIONS = frozenset({
    "fonttbl", "colortbl", "stylesheet", "info", "pict", "themedata",
    "colorschememapping", "listtable", "listoverridetable", "generator",
    "header", "footer", "headerl", "headerr", "headerf",
    "footerl", "footerr", "footerf",
})

import re as _re  # noqa: E402 — local convention: parsers import re lazily

_RTF_CW = _re.compile(r"\\([a-zA-Z]{1,32})(-?\d{1,10})?[ ]?|\\'([0-9a-fA-F]{2})|\\([^a-zA-Z])")


def _rtf_to_text(data: bytes) -> str:
    """Plain text from RTF bytes. Group-aware single pass: a stack
    tracks destination groups to skip; control words map to whitespace
    or are dropped; \\uN consumes its single fallback character (the
    \\ucN convention at its default of 1)."""
    s = data.decode("latin-1", errors="replace")
    if not s.startswith("{\\rtf"):
        raise ValueError("not an RTF file")
    out: list[str] = []
    i, n = 0, len(s)
    depth = 0
    skip_above: int | None = None  # skip while depth >= this
    pending_group = False  # just entered a group: next cw may be a destination
    while i < n:
        c = s[i]
        if c == "{":
            depth += 1
            pending_group = True
            i += 1
            continue
        if c == "}":
            depth -= 1
            if skip_above is not None and depth < skip_above:
                skip_above = None
            pending_group = False
            i += 1
            continue
        if c == "\\":
            if i + 1 < n and s[i + 1] == "*":  # \* → ignorable destination
                if skip_above is None:
                    skip_above = depth
                i += 2
                pending_group = False
                continue
            m = _RTF_CW.match(s, i)
            if m:
                word, _param, hexc, escch = m.group(1), m.group(2), m.group(3), m.group(4)
                i = m.end()
                if skip_above is not None:
                    continue
                if word:
                    if pending_group and word in _RTF_DESTINATIONS:
                        skip_above = depth
                    elif word in ("par", "line", "sect", "page"):
                        out.append("\n")
                    elif word == "tab":
                        out.append("\t")
                    elif word == "u" and _param is not None:
                        # \uN is a SIGNED 16-bit code unit; wrap malformed
                        # params and replace lone surrogates (which Arrow
                        # string conversion rejects batch-wide)
                        cp = int(_param) % 65536
                        out.append("�" if 0xD800 <= cp <= 0xDFFF else chr(cp))
                        if i < n and s[i] not in "\\{}":
                            i += 1  # consume the \uc1 fallback char
                elif hexc:
                    out.append(bytes([int(hexc, 16)]).decode("cp1252", errors="replace"))
                elif escch:
                    out.append({"~": "\u00a0", "-": "", "_": "-"}.get(escch, escch))
                pending_group = False
                continue
            i += 1  # lone backslash at EOF
            continue
        if skip_above is None and c not in "\r\n":
            out.append(c)
        pending_group = False
        i += 1
    return "".join(out).strip()


def parse_rtf(files: DataFrame) -> DataFrame:
    """S6 rtf family: mapInPandas over (uri, content) → stripped text."""
    src = files.select("uri", "content")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rows = []
        for pdf in batches:
            for u, c in zip(pdf["uri"], pdf["content"]):
                b = _as_bytes(c)
                if b is None:
                    rows.append({"uri": u, "text": "",
                                 "parse_status": _NULL_STATUS})
                    continue
                try:
                    text = _rtf_to_text(b)
                    status = "ok" if text else "empty"
                except Exception as exc:  # noqa: BLE001
                    text, status = "", f"error: {type(exc).__name__}"
                rows.append({"uri": u, "text": text, "parse_status": status})
            yield pd.DataFrame(rows, columns=["uri", "text", "parse_status"])
            rows = []

    return src.mapInPandas(run, schema=_PDF_SCHEMA)
