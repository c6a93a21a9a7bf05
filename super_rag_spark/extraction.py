"""Deterministic HTML -> text / elements extraction.

Replaces the reference's network call to the unstructured.io partition
API (/root/reference/service/embedding.py:61-122) with a dependency-free
stdlib HTMLParser state machine (the reference itself uses the same
stdlib-parser approach for tables, /root/reference/utils/table_parser.py:4-52).

Contract (BASELINE.json input_hint): ``extract_text(html)`` must be
byte-identical per url to the fixture ``text`` column. The fixture
generator *uses this function* to produce the golden text, and
``tests/test_extraction.py`` asserts the Spark UDF round-trips it
through Arrow byte-identically.

Element model mirrors the unstructured element dicts consumed at
/root/reference/service/splitter.py:114-125:
  {"type": "Title"|"NarrativeText"|"Table", "text": str}
Table text = rows joined by "\\n", cells joined by "\\t".
"""

from __future__ import annotations

from html.parser import HTMLParser
from typing import Iterator

import pandas as pd

_TITLE_TAGS = {"title", "h1", "h2", "h3"}
_TEXT_TAGS = {"p", "li", "blockquote"}


class _Extractor(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.elements: list[dict] = []
        self._mode: str | None = None  # "title" | "text" | "table"
        self._buf: list[str] = []
        self._rows: list[list[str]] = []
        self._cell: list[str] | None = None
        self._seen_doc_title = False

    def handle_starttag(self, tag, attrs):
        if tag in _TITLE_TAGS:
            self._mode, self._buf = "title", []
        elif tag in _TEXT_TAGS:
            self._mode, self._buf = "text", []
        elif tag == "table":
            self._mode, self._rows = "table", []
        elif tag == "tr" and self._mode == "table":
            self._rows.append([])
        elif tag in ("td", "th") and self._mode == "table":
            self._cell = []

    def handle_endtag(self, tag):
        if tag in _TITLE_TAGS and self._mode == "title":
            text = "".join(self._buf).strip()
            if text:
                # <title> and the first <h1> typically repeat; keep both
                # elements (the segmenter dedups by title grouping) but
                # the flat text keeps only the first occurrence per pair
                self.elements.append({"type": "Title", "text": text})
            self._mode = None
        elif tag in _TEXT_TAGS and self._mode == "text":
            text = "".join(self._buf).strip()
            if text:
                self.elements.append({"type": "NarrativeText", "text": text})
            self._mode = None
        elif tag in ("td", "th") and self._cell is not None:
            if self._rows:
                self._rows[-1].append("".join(self._cell).strip())
            self._cell = None
        elif tag == "table" and self._mode == "table":
            text = "\n".join("\t".join(r) for r in self._rows if r)
            if text:
                self.elements.append({"type": "Table", "text": text})
            self._mode = None

    def handle_data(self, data):
        if self._cell is not None:
            self._cell.append(data)
        elif self._mode in ("title", "text"):
            self._buf.append(data)


def _extract_elements_fast(html: str) -> list[dict] | None:
    """Fast scanner for the common machine-generated subset: plain
    alnum tags, no attributes, no entities, no comments/doctype/CDATA.
    Replicates the _Extractor state machine EXACTLY over (tag, data)
    events (same mode rules, same strips), so the output is
    byte-identical; returns None for anything outside the subset and
    the caller falls back to the full parser. Rationale: the stdlib
    HTMLParser was ~48% of the sf0.1 index build (regex-per-token +
    method dispatch); this split/find loop is several times faster and
    the fallback preserves full-input correctness."""
    if "&" in html:
        return None  # charref conversion -> full parser
    elements: list[dict] = []
    mode: str | None = None
    buf: list[str] = []
    rows: list[list[str]] = []
    cell: list[str] | None = None
    parts = html.split("<")
    # leading text before any tag is data with mode None -> ignored,
    # exactly like the parser
    for part in parts[1:]:
        gt = part.find(">")
        if gt < 0:
            return None
        tag = part[:gt]
        data = part[gt + 1:]
        if tag.startswith("/"):
            is_end, name = True, tag[1:]
        else:
            is_end, name = False, tag
        if not name.isalnum():
            return None  # attributes / comments / PIs / self-closing
        if not (name.isascii() and name[0].isalpha()):
            # HTMLParser only opens a tag on '<[a-zA-Z]'; digit-leading
            # or non-ASCII pseudo-tags ('<5>', '<日>') stay literal TEXT
            # there — byte-identity demands the full parser decide
            return None
        name = name.lower()
        if name in ("script", "style"):
            return None  # CDATA content rules need the real parser
        if not is_end:
            if name in _TITLE_TAGS:
                mode, buf = "title", []
            elif name in _TEXT_TAGS:
                mode, buf = "text", []
            elif name == "table":
                mode, rows = "table", []
            elif name == "tr" and mode == "table":
                rows.append([])
            elif name in ("td", "th") and mode == "table":
                cell = []
        else:
            if name in _TITLE_TAGS and mode == "title":
                text = "".join(buf).strip()
                if text:
                    elements.append({"type": "Title", "text": text})
                mode = None
            elif name in _TEXT_TAGS and mode == "text":
                text = "".join(buf).strip()
                if text:
                    elements.append({"type": "NarrativeText", "text": text})
                mode = None
            elif name in ("td", "th") and cell is not None:
                if rows:
                    rows[-1].append("".join(cell).strip())
                cell = None
            elif name == "table" and mode == "table":
                text = "\n".join("\t".join(r) for r in rows if r)
                if text:
                    elements.append({"type": "Table", "text": text})
                mode = None
        if data:
            if cell is not None:
                cell.append(data)
            elif mode in ("title", "text"):
                buf.append(data)
    return elements


def extract_elements(html: bytes | str) -> list[dict]:
    """Parse HTML into ordered typed elements (the UDTF analog of the
    unstructured partitioner, SURVEY.md §2.11). Simple attribute-free
    markup rides the fast scanner; anything else falls back to the
    stdlib HTMLParser state machine (identical output either way —
    tests drive both paths over the same inputs)."""
    if isinstance(html, (bytes, bytearray)):
        html = html.decode("utf-8", errors="replace")
    fast = _extract_elements_fast(html)
    if fast is not None:
        return fast
    p = _Extractor()
    p.feed(html)
    p.close()
    return p.elements


def extract_text(html: bytes | str) -> str:
    """Flat extracted text: element texts joined by newlines, with the
    duplicated <title>/<h1> pair collapsed to one line."""
    elements = extract_elements(html)
    out: list[str] = []
    prev_title: str | None = None
    for el in elements:
        if el["type"] == "Title":
            if el["text"] == prev_title:
                continue
            prev_title = el["text"]
        out.append(el["text"])
    return "\n".join(out)


# ------------------------------------------------------- TXT / MARKDOWN

def extract_elements_txt(payload: bytes | str) -> list[dict]:
    """Plain text -> NarrativeText elements, one per blank-line-separated
    paragraph (the TXT arm of the reference's 11-type dispatch,
    /root/reference/models/file.py:7-34; unstructured.io does the same
    paragraph split for text/plain)."""
    if isinstance(payload, (bytes, bytearray)):
        payload = payload.decode("utf-8", errors="replace")
    out = []
    for para in payload.split("\n\n"):
        text = " ".join(line.strip() for line in para.splitlines()).strip()
        if text:
            out.append({"type": "NarrativeText", "text": text})
    return out


def extract_elements_markdown(payload: bytes | str) -> list[dict]:
    """Markdown -> typed elements without a markdown dependency:
    ``#``-headings -> Title, ``|``-tables -> Table (separator rows
    dropped, cells tab-joined like the HTML path), fenced code blocks ->
    one NarrativeText each, everything else -> paragraph NarrativeText.
    Deterministic line-based state machine (MARKDOWN arm of
    /root/reference/models/file.py:20-34)."""
    if isinstance(payload, (bytes, bytearray)):
        payload = payload.decode("utf-8", errors="replace")
    elements: list[dict] = []
    para: list[str] = []
    rows: list[list[str]] = []
    code: list[str] | None = None

    def flush_para():
        if para:
            text = " ".join(para).strip()
            if text:
                elements.append({"type": "NarrativeText", "text": text})
            para.clear()

    def flush_table():
        nonlocal rows
        if rows:
            text = "\n".join("\t".join(r) for r in rows if r)
            if text:
                elements.append({"type": "Table", "text": text})
            rows = []

    for line in payload.splitlines():
        stripped = line.strip()
        if code is not None:
            if stripped.startswith("```"):
                text = "\n".join(code).strip("\n")
                if text:
                    elements.append({"type": "NarrativeText", "text": text})
                code = None
            else:
                code.append(line)
            continue
        if stripped.startswith("```"):
            flush_para()
            flush_table()
            code = []
        elif stripped.startswith("#"):
            flush_para()
            flush_table()
            text = stripped.lstrip("#").strip()
            if text:
                elements.append({"type": "Title", "text": text})
        elif stripped.startswith("|"):
            flush_para()
            cells = [c.strip() for c in stripped.strip("|").split("|")]
            if not all(set(c) <= set("-: ") for c in cells):  # drop |---|---|
                rows.append(cells)
        elif not stripped:
            flush_para()
            flush_table()
        else:
            flush_table()
            para.append(stripped)
    if code is not None:  # unterminated fence
        text = "\n".join(code).strip("\n")
        if text:
            elements.append({"type": "NarrativeText", "text": text})
    flush_para()
    flush_table()
    return elements


# ------------------------------------------- CSV / JSON / EML (stdlib)

def extract_elements_csv(payload: bytes | str) -> list[dict]:
    """CSV -> one Table element (rows "\\n"-joined, cells "\\t"-joined,
    matching the HTML/markdown table text shape). CSV arm of the
    reference's 11-type dispatch (/root/reference/models/file.py:20-34);
    unstructured.io likewise partitions a CSV into a single Table."""
    import csv
    import io

    if isinstance(payload, (bytes, bytearray)):
        payload = payload.decode("utf-8", errors="replace")
    rows = [r for r in csv.reader(io.StringIO(payload)) if r]
    text = "\n".join("\t".join(c.strip() for c in r) for r in rows)
    return [{"type": "Table", "text": text}] if text else []


def extract_elements_json(payload: bytes | str) -> list[dict]:
    """JSON -> one NarrativeText per top-level entry, each the
    "path: value" flattening of its leaves (deterministic: json.loads
    preserves object order). JSON arm of
    /root/reference/models/file.py:20-34."""
    import json

    if isinstance(payload, (bytes, bytearray)):
        payload = payload.decode("utf-8", errors="replace")
    obj = json.loads(payload)

    def leaves(o, prefix: str):
        if isinstance(o, dict):
            for k, v in o.items():
                yield from leaves(v, f"{prefix}.{k}" if prefix else str(k))
        elif isinstance(o, list):
            for i, v in enumerate(o):
                yield from leaves(v, f"{prefix}[{i}]")
        else:
            yield prefix, o

    if isinstance(obj, dict):
        tops = list(obj.items())
    elif isinstance(obj, list):
        tops = [(f"[{i}]", v) for i, v in enumerate(obj)]
    else:
        tops = [("", obj)]
    out = []
    for key, val in tops:
        text = "\n".join(
            f"{p}: {v}" if p else str(v) for p, v in leaves(val, key))
        if text.strip():
            out.append({"type": "NarrativeText", "text": text})
    return out


def extract_elements_eml(payload: bytes | str) -> list[dict]:
    """RFC-822 email -> Title (Subject) + body elements via the stdlib
    email package: the text/plain part splits into paragraphs (TXT arm);
    an HTML-only message routes through the HTML extractor. EML arm of
    /root/reference/models/file.py:20-34."""
    import email
    import email.policy

    if isinstance(payload, (bytes, bytearray)):
        msg = email.message_from_bytes(bytes(payload), policy=email.policy.default)
    else:
        msg = email.message_from_string(payload, policy=email.policy.default)
    out: list[dict] = []
    subject = (msg.get("Subject") or "").strip()
    if subject:
        out.append({"type": "Title", "text": subject})
    plain = msg.get_body(preferencelist=("plain",))
    if plain is not None:
        # RFC-822 bodies keep CRLF; normalize so paragraph splitting works
        out.extend(extract_elements_txt(
            plain.get_content().replace("\r\n", "\n")))
        return out
    html = msg.get_body(preferencelist=("html",))
    if html is not None:
        out.extend(extract_elements(html.get_content()))
    return out


# -------------------------------- DOCX / PPTX / XLSX (zip + XML, stdlib)
# OOXML containers are plain zip archives of XML parts — no external
# parser needed for TEXT extraction (the reference ships these to
# unstructured.io; PDF remains the one format that genuinely needs an
# absent library and keeps its NotImplementedError).

def _xml_root(zf, name: str):
    import xml.etree.ElementTree as ET

    return ET.fromstring(zf.read(name))


def _local(tag: str) -> str:
    return tag.rsplit("}", 1)[-1]


def extract_elements_docx(payload: bytes) -> list[dict]:
    """DOCX -> typed elements from word/document.xml: Heading/Title
    styled paragraphs -> Title, tables -> Table (rows/cells joined like
    the HTML path), other paragraphs -> NarrativeText. DOCX arm of
    /root/reference/models/file.py:20-34."""
    import io
    import zipfile

    def para_text(p) -> str:
        return "".join(t.text or "" for t in p.iter() if _local(t.tag) == "t")

    def para_style(p) -> str:
        for el in p.iter():
            if _local(el.tag) == "pStyle":
                for k, v in el.attrib.items():
                    if _local(k) == "val":
                        return v
        return ""

    out: list[dict] = []
    with zipfile.ZipFile(io.BytesIO(payload)) as zf:
        root = _xml_root(zf, "word/document.xml")
        body = next((el for el in root.iter() if _local(el.tag) == "body"), None)
        if body is None:
            return out
        for child in body:
            tag = _local(child.tag)
            if tag == "p":
                text = para_text(child).strip()
                if not text:
                    continue
                style = para_style(child)
                kind = ("Title" if style.startswith(("Heading", "Title"))
                        else "NarrativeText")
                out.append({"type": kind, "text": text})
            elif tag == "tbl":
                rows = []
                for tr in (el for el in child.iter() if _local(el.tag) == "tr"):
                    cells = ["\n".join(
                        para_text(p).strip() for p in tc.iter()
                        if _local(p.tag) == "p").strip()
                        for tc in tr if _local(tc.tag) == "tc"]
                    if any(cells):
                        rows.append(cells)
                text = "\n".join("\t".join(r) for r in rows)
                if text:
                    out.append({"type": "Table", "text": text})
    return out


def extract_elements_pptx(payload: bytes) -> list[dict]:
    """PPTX -> per-shape elements from ppt/slides/slideN.xml (slide
    order numeric): title-placeholder shapes -> Title, other text
    shapes -> NarrativeText (shape paragraphs "\\n"-joined). PPTX arm
    of /root/reference/models/file.py:20-34."""
    import io
    import re
    import zipfile

    out: list[dict] = []
    with zipfile.ZipFile(io.BytesIO(payload)) as zf:
        slides = sorted(
            (n for n in zf.namelist()
             if re.fullmatch(r"ppt/slides/slide\d+\.xml", n)),
            key=lambda n: int(re.search(r"(\d+)\.xml$", n).group(1)))
        for name in slides:
            root = _xml_root(zf, name)
            for sp in (el for el in root.iter() if _local(el.tag) == "sp"):
                is_title = any(
                    _local(el.tag) == "ph"
                    and el.get("type") in ("title", "ctrTitle")
                    for el in sp.iter())
                paras = []
                for p in (el for el in sp.iter() if _local(el.tag) == "p"):
                    t = "".join(t.text or "" for t in p.iter()
                                if _local(t.tag) == "t").strip()
                    if t:
                        paras.append(t)
                if paras:
                    out.append({"type": "Title" if is_title else "NarrativeText",
                                "text": "\n".join(paras)})
    return out


def extract_elements_xlsx(payload: bytes) -> list[dict]:
    """XLSX -> one Table element per worksheet (cells resolved through
    xl/sharedStrings.xml, rows "\\n"-joined, cells "\\t"-joined). XLSX
    arm of /root/reference/models/file.py:20-34."""
    import io
    import re
    import zipfile

    out: list[dict] = []
    with zipfile.ZipFile(io.BytesIO(payload)) as zf:
        shared: list[str] = []
        if "xl/sharedStrings.xml" in zf.namelist():
            root = _xml_root(zf, "xl/sharedStrings.xml")
            for si in (el for el in root.iter() if _local(el.tag) == "si"):
                shared.append("".join(t.text or "" for t in si.iter()
                                      if _local(t.tag) == "t"))
        sheets = sorted(
            (n for n in zf.namelist()
             if re.fullmatch(r"xl/worksheets/sheet\d+\.xml", n)),
            key=lambda n: int(re.search(r"(\d+)\.xml$", n).group(1)))
        for name in sheets:
            root = _xml_root(zf, name)
            rows = []
            for row in (el for el in root.iter() if _local(el.tag) == "row"):
                cells = []
                for c in (el for el in row.iter() if _local(el.tag) == "c"):
                    v = next((el.text or "" for el in c.iter()
                              if _local(el.tag) == "v"), "")
                    if c.get("t") == "s" and v != "":
                        v = shared[int(v)]
                    cells.append(v)
                if any(cells):
                    rows.append(cells)
            text = "\n".join("\t".join(r) for r in rows)
            if text:
                out.append({"type": "Table", "text": text})
    return out


# ------------------------------------------------------- PDF (stdlib)

def _pdf_text_ops(data: bytes) -> list[tuple[str, float]]:
    """Scan one decoded PDF content stream for text-showing operators.
    Returns (line_text, max_font_size) pairs. Handles literal strings
    (escapes, nested parens), hex strings, TJ arrays (kerns <= -180
    milli-ems become word spaces), Tf font sizes, and the Td/TD/T*/ET
    line breaks. Latin-1 byte decoding — simple fonts only (CID/CMap
    text needs a ToUnicode table and stays out of scope)."""
    out: list[tuple[str, float]] = []
    cur: list[str] = []
    cur_size = 0.0
    font_size = 12.0
    last_num = 0.0
    in_array = False
    i, n = 0, len(data)

    def flush_line():
        nonlocal cur, cur_size
        text = "".join(cur).strip()
        if text:
            out.append((text, cur_size))
        cur, cur_size = [], 0.0

    while i < n:
        c = data[i:i + 1]
        if c == b"(":
            depth, i = 1, i + 1
            buf = bytearray()
            while i < n and depth:
                ch = data[i]
                if ch == 0x5C and i + 1 < n:  # backslash escape
                    nxt = data[i + 1]
                    esc = {0x6E: 10, 0x72: 13, 0x74: 9, 0x62: 8, 0x66: 12}
                    if nxt in esc:
                        buf.append(esc[nxt])
                        i += 2
                    elif 0x30 <= nxt <= 0x37:  # octal \ddd
                        j = i + 1
                        oct_digits = ""
                        while j < n and len(oct_digits) < 3 and 0x30 <= data[j] <= 0x37:
                            oct_digits += chr(data[j])
                            j += 1
                        buf.append(int(oct_digits, 8) & 0xFF)
                        i = j
                    else:
                        buf.append(nxt)
                        i += 2
                    continue
                if ch == 0x28:
                    depth += 1
                elif ch == 0x29:
                    depth -= 1
                    if not depth:
                        i += 1
                        break
                buf.append(ch)
                i += 1
            cur.append(buf.decode("latin-1"))
            cur_size = max(cur_size, font_size)
        elif c == b"<" and data[i + 1:i + 2] != b"<":
            j = data.find(b">", i)
            if j < 0:
                break
            hx = data[i + 1:j].translate(None, b" \r\n\t")
            try:
                raw = bytes.fromhex(hx.decode("ascii") + ("0" if len(hx) % 2 else ""))
                txt = raw.decode("latin-1")
                if all(ch == "\n" or ch == "\t" or " " <= ch <= "\xff" for ch in txt):
                    cur.append(txt)
                    cur_size = max(cur_size, font_size)
            except ValueError:
                pass
            i = j + 1
        elif c == b"[":
            in_array = True
            i += 1
        elif c == b"]":
            in_array = False
            i += 1
        elif c in b"+-.0123456789":
            j = i
            while j < n and data[j:j + 1] in b"+-.0123456789":
                j += 1
            try:
                last_num = float(data[i:j])
            except ValueError:
                last_num = 0.0
            if in_array and last_num <= -180 and cur:
                cur.append(" ")  # TJ word-space kern
            i = j
        elif c.isalpha() or c in b"'\"*":
            j = i
            while j < n and (data[j:j + 1].isalpha() or data[j:j + 1] in b"'\"*"):
                j += 1
            op = data[i:j].decode("latin-1", errors="replace")
            if op == "Tf":
                font_size = last_num if last_num > 0 else font_size
            elif op in ("'", '"'):
                # ' and " move to the next line BEFORE showing their
                # string operand (already consumed into cur): re-home it
                last = cur.pop() if cur else None
                flush_line()
                if last is not None:
                    cur.append(last)
                    cur_size = font_size
            elif op in ("Td", "TD", "T", "T*", "ET"):
                flush_line()
            i = j
        else:
            i += 1
    flush_line()
    return out


def extract_elements_pdf(payload: bytes) -> list[dict]:
    """PDF -> typed elements with stdlib only: every stream object is
    inflated (zlib for /FlateDecode, raw otherwise), content streams
    (those containing text operators) are scanned by _pdf_text_ops, and
    lines set in a large font (>= 14pt) become Titles. Covers the
    common simple-font text PDF; image-only or CID/CMap-encoded PDFs
    yield [] rather than mojibake. PDF arm of
    /root/reference/models/file.py:20-34 (the reference ships these to
    unstructured.io)."""
    import re
    import zlib

    if isinstance(payload, str):
        payload = payload.encode("latin-1", errors="replace")
    if not payload.startswith(b"%PDF"):
        raise ValueError("not a PDF payload (missing %PDF header)")
    out: list[dict] = []
    for m in re.finditer(rb"stream\r?\n", payload):
        start = m.end()
        end = payload.find(b"endstream", start)
        if end < 0:
            continue
        raw = payload[start:end].rstrip(b"\r\n")
        try:
            data = zlib.decompress(raw)
        except zlib.error:
            data = raw
        if b"Tj" not in data and b"TJ" not in data and b"'" not in data:
            continue  # not a text content stream (font/image/xref data)
        for text, size in _pdf_text_ops(data):
            kind = "Title" if size >= 14 else "NarrativeText"
            out.append({"type": kind, "text": text})
    return out


# ------------------------------------------- MSG (CFB/OLE2, stdlib)

def _cfb_streams(payload: bytes) -> dict[str, bytes]:
    """Minimal Compound File Binary (OLE2) reader: header -> DIFAT ->
    FAT -> directory + miniFAT -> {stream name: bytes}. Red-black
    directory-tree pointers are ignored (all stream entries are
    scanned), which is sufficient for flat .msg containers."""
    import struct

    if payload[:8] != b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1":
        raise ValueError("not a CFB (OLE2) container")
    ssz = 1 << struct.unpack_from("<H", payload, 30)[0]
    mssz = 1 << struct.unpack_from("<H", payload, 32)[0]
    n_fat = struct.unpack_from("<I", payload, 44)[0]
    first_dir = struct.unpack_from("<I", payload, 48)[0]
    cutoff = struct.unpack_from("<I", payload, 56)[0]
    first_minifat = struct.unpack_from("<I", payload, 60)[0]
    first_difat = struct.unpack_from("<I", payload, 68)[0]
    n_difat = struct.unpack_from("<I", payload, 72)[0]

    def sector(n: int) -> bytes:
        return payload[512 + n * ssz: 512 + (n + 1) * ssz]

    difat = list(struct.unpack_from("<109I", payload, 76))
    s = first_difat
    for _ in range(n_difat):
        if s >= 0xFFFFFFFC:
            break
        vals = struct.unpack(f"<{ssz // 4}I", sector(s))
        difat += vals[:-1]
        s = vals[-1]
    fat: list[int] = []
    for fs in [x for x in difat if x < 0xFFFFFFFC][:n_fat]:
        fat += struct.unpack(f"<{ssz // 4}I", sector(fs))

    def chain(start: int) -> list[int]:
        out, s, seen = [], start, set()
        while s < 0xFFFFFFFC and s not in seen and s < len(fat):
            seen.add(s)
            out.append(s)
            s = fat[s]
        return out

    dirdata = b"".join(sector(s) for s in chain(first_dir))
    entries = []
    for off in range(0, len(dirdata) - 127, 128):
        namelen = struct.unpack_from("<H", dirdata, off + 64)[0]
        otype = dirdata[off + 66]
        if otype not in (2, 5) or namelen < 2 or namelen > 64:
            continue
        name = dirdata[off: off + namelen - 2].decode("utf-16-le",
                                                      errors="replace")
        start = struct.unpack_from("<I", dirdata, off + 116)[0]
        size = struct.unpack_from("<Q", dirdata, off + 120)[0]
        if ssz == 512:  # v3 files: only the low dword of size is valid
            size &= 0xFFFFFFFF
        entries.append((name, otype, start, size))

    root = next((e for e in entries if e[1] == 5), None)
    ministream = (b"".join(sector(s) for s in chain(root[2]))[:root[3]]
                  if root else b"")
    minifat: list[int] = []
    for s in chain(first_minifat):
        minifat += struct.unpack(f"<{ssz // 4}I", sector(s))

    def read(start: int, size: int, mini: bool) -> bytes:
        if mini:
            out, s, seen = b"", start, set()
            while s < 0xFFFFFFFC and s not in seen and s < len(minifat):
                seen.add(s)
                out += ministream[s * mssz: (s + 1) * mssz]
                s = minifat[s]
            return out[:size]
        return b"".join(sector(s) for s in chain(start))[:size]

    return {name: read(start, size, size < cutoff)
            for name, otype, start, size in entries if otype == 2}


def extract_elements_msg(payload: bytes) -> list[dict]:
    """Outlook .msg -> Title (PidTagSubject, stream
    __substg1.0_0037001F) + body paragraphs (PidTagBody,
    __substg1.0_1000001F / 001E) through the minimal CFB reader. MSG
    arm of /root/reference/models/file.py:20-34 — the last of the 11
    reference formats."""
    streams = _cfb_streams(bytes(payload))

    def get_text(tag: str) -> str | None:
        uni = streams.get(f"__substg1.0_{tag}001F")
        if uni is not None:
            return uni.decode("utf-16-le", errors="replace")
        raw = streams.get(f"__substg1.0_{tag}001E")
        if raw is not None:
            return raw.decode("cp1252", errors="replace")
        return None

    out: list[dict] = []
    subject = (get_text("0037") or "").strip("\x00").strip()
    if subject:
        out.append({"type": "Title", "text": subject})
    body = get_text("1000")
    if body:
        out.extend(extract_elements_txt(
            body.strip("\x00").replace("\r\n", "\n")))
    return out


_EXTRACTORS = {
    "HTML": extract_elements,
    "TXT": extract_elements_txt,
    "MARKDOWN": extract_elements_markdown,
    "CSV": extract_elements_csv,
    "JSON": extract_elements_json,
    "EML": extract_elements_eml,
    "DOCX": extract_elements_docx,
    "PPTX": extract_elements_pptx,
    "XLSX": extract_elements_xlsx,
    "PDF": extract_elements_pdf,
    "MSG": extract_elements_msg,
}


def extract_elements_any(payload: bytes | str, source_type: str = "HTML") -> list[dict]:
    """Format dispatch (S3): route the payload to the matching element
    extractor. ALL 11 of the reference's file types parse in-sandbox,
    stdlib only (PDF covers the common simple-font text PDF; MSG plain
    bodies via the minimal CFB reader); an unknown source_type raises
    rather than silently mis-parsing."""
    fn = _EXTRACTORS.get(source_type)
    if fn is None:
        raise NotImplementedError(
            f"source_type={source_type!r}: no in-sandbox parser "
            "(reference delegates these to unstructured.io)")
    return fn(payload)


def extract_text_any(payload: bytes | str, source_type: str = "HTML") -> str:
    """Flat text for any supported format (same Title-dedup as HTML)."""
    elements = extract_elements_any(payload, source_type)
    out: list[str] = []
    prev_title: str | None = None
    for el in elements:
        if el["type"] == "Title":
            if el["text"] == prev_title:
                continue
            prev_title = el["text"]
        out.append(el["text"])
    return "\n".join(out)


# ---------------------------------------------------------------- Spark side

EXTRACT_SCHEMA = "url string, text string"


def extract_any_map_in_pandas(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas body: (url, html:binary, source_type) -> (url, text).
    Multi-format variant of extract_text_map_in_pandas; pair with
    points.source_type_expr for extension dispatch."""
    for pdf in batches:
        yield pd.DataFrame({
            "url": pdf["url"],
            "text": [extract_text_any(h, st)
                     for h, st in zip(pdf["html"], pdf["source_type"])],
        })


def extract_text_map_in_pandas(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas body: (url, html:binary) -> (url, text).

    Arrow-batched; the per-doc parse is genuinely sequential (stateful
    parser) but batches stream through without driver involvement.
    Usage: ``df.select("url", "html").mapInPandas(extract_text_map_in_pandas,
    schema=EXTRACT_SCHEMA)``.
    """
    for pdf in batches:
        yield pd.DataFrame({
            "url": pdf["url"],
            "text": [extract_text(h) for h in pdf["html"]],
        })


# -------------------------------------------------- BM25F title extraction

def extract_text_title(html: bytes | str) -> tuple[str, str]:
    """(text, title) of a page from one parse. ``text`` is
    byte-identical to extract_text; ``title`` is the TITLE FIELD for
    BM25F weighting: the Title-typed elements (<title>/<h1>-<h3>), with
    consecutive duplicates collapsed, newline-joined. The title is a
    separate projection of the same element stream, so field weighting
    never perturbs the per-url extraction invariant."""
    t_out: list[str] = []
    ti_out: list[str] = []
    prev_title: str | None = None
    for el in extract_elements(html):
        if el["type"] == "Title":
            if el["text"] == prev_title:
                continue
            prev_title = el["text"]
            ti_out.append(el["text"])
        t_out.append(el["text"])
    return "\n".join(t_out), "\n".join(ti_out)
