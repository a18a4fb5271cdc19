"""PDF processing: per-page text / link / metadata extraction plus the
reference's markdown and HTML cleanup passes, with a deterministic
PDF *writer* so the whole surface is testable without binary fixtures.

Reference parity (was a documented non-goal through round 4; real from
round 5):

- ``NaivePDFProcessorStrategy.process`` — reference
  processors/pdf/processor.py:57-231: PyPDF2 per-page text via
  ``extract_text``, image XObject walk, /Annots link walk, metadata
  from the Info dict, then ``clean_pdf_text`` (markdown) and
  ``clean_pdf_text_to_html`` per page. PyPDF2 is not in this
  container, so the object/stream/content-stream layer is
  re-implemented here on pure stdlib (zlib covers /FlateDecode — the
  dominant filter); the cleanup passes are re-derived twins of
  processors/pdf/utils.py:70-350.
- ``process_batch`` (processor.py:123-202) parallelizes pages with a
  thread pool; here the parallelism is Spark's — ``process_pdfs`` is
  one Arrow-batched mapInPandas stage, pages fan out row-wise.

Scale notes: PDFs ride a BINARY column exactly like the multimodal
blobs (ops/multimodal.py) — parse work is per-row CPU inside one
mapInPandas, nothing shuffles but the input split; keep blobs under
spark.sql.files.maxPartitionBytes and never collect the blob column.
Text extraction is O(bytes) per document with no cross-document state,
so the stage scales embarrassingly to any executor count.
"""

from __future__ import annotations

import re
import zlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Low-level object model
# ---------------------------------------------------------------------------

_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"


class Ref:
    """Indirect object reference (``N G R``)."""

    __slots__ = ("num",)

    def __init__(self, num: int):
        self.num = num

    def __repr__(self):  # pragma: no cover - debug aid
        return f"Ref({self.num})"


def _skip_ws(buf: bytes, i: int) -> int:
    n = len(buf)
    while i < n:
        c = buf[i:i + 1]
        if c in b"%":
            while i < n and buf[i:i + 1] not in b"\r\n":
                i += 1
        elif c in _WS:
            i += 1
        else:
            break
    return i


_NUM_RE = re.compile(rb"[+-]?\d*\.?\d+")
_REF_RE = re.compile(rb"(\d+)\s+(\d+)\s+R\b")
_KW_RE = re.compile(rb"[A-Za-z'\"*]+")


def _parse_value(buf: bytes, i: int):
    """Parse one PDF object value at ``buf[i:]`` -> (value, next_i).

    Covers dicts, arrays, names, numbers, literal and hex strings,
    booleans, null, and indirect references. Bare operator keywords
    (content streams) are returned as ``("op", name)`` tuples.
    """
    i = _skip_ws(buf, i)
    c = buf[i:i + 1]
    if c == b"<":
        if buf[i:i + 2] == b"<<":
            d = {}
            i += 2
            while True:
                i = _skip_ws(buf, i)
                if buf[i:i + 2] == b">>":
                    return d, i + 2
                key, i = _parse_value(buf, i)
                val, i = _parse_value(buf, i)
                d[key] = val
        j = buf.index(b">", i)
        hx = re.sub(rb"\s", b"", buf[i + 1:j])
        if len(hx) % 2:
            hx += b"0"
        return bytes.fromhex(hx.decode("ascii")), j + 1
    if c == b"(":
        return _parse_literal_string(buf, i)
    if c == b"[":
        arr = []
        i += 1
        while True:
            i = _skip_ws(buf, i)
            if buf[i:i + 1] == b"]":
                return arr, i + 1
            v, i = _parse_value(buf, i)
            arr.append(v)
    if c == b"/":
        j = i + 1
        n = len(buf)
        while j < n and buf[j:j + 1] not in _WS and buf[j:j + 1] not in _DELIM:
            j += 1
        name = buf[i:j].decode("latin-1")
        # #xx hex escapes in names
        name = re.sub(r"#([0-9A-Fa-f]{2})",
                      lambda m: chr(int(m.group(1), 16)), name)
        return name, j
    m = _REF_RE.match(buf, i)
    if m:
        return Ref(int(m.group(1))), m.end()
    m = _NUM_RE.match(buf, i)
    if m:
        tok = m.group(0)
        return (float(tok) if b"." in tok else int(tok)), m.end()
    m = _KW_RE.match(buf, i)
    if m:
        kw = m.group(0)
        if kw == b"true":
            return True, m.end()
        if kw == b"false":
            return False, m.end()
        if kw == b"null":
            return None, m.end()
        return ("op", kw.decode("latin-1")), m.end()
    raise ValueError(f"unparseable PDF token at offset {i}: {buf[i:i+16]!r}")


_ESCAPES = {b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b",
            b"f": b"\x0c", b"(": b"(", b")": b")", b"\\": b"\\"}


def _parse_literal_string(buf: bytes, i: int):
    assert buf[i:i + 1] == b"("
    out = bytearray()
    depth = 1
    i += 1
    n = len(buf)
    while i < n:
        c = buf[i:i + 1]
        if c == b"\\":
            nxt = buf[i + 1:i + 2]
            if nxt in _ESCAPES:
                out += _ESCAPES[nxt]
                i += 2
            elif nxt.isdigit():
                j = i + 1
                while j < min(i + 4, n) and buf[j:j + 1].isdigit():
                    j += 1
                out.append(int(buf[i + 1:j], 8) & 0xFF)
                i = j
            elif nxt in b"\r\n":  # line continuation
                i += 2
                if nxt == b"\r" and buf[i:i + 1] == b"\n":
                    i += 1
            else:
                out += nxt
                i += 2
        elif c == b"(":
            depth += 1
            out += c
            i += 1
        elif c == b")":
            depth -= 1
            if depth == 0:
                return bytes(out), i + 1
            out += c
            i += 1
        else:
            out += c
            i += 1
    raise ValueError("unterminated PDF string")


def _to_text(v) -> str:
    """PDF string bytes -> str (UTF-16BE with BOM, else PDFDocEncoding
    approximated as latin-1 — processor.py reads the same Info strings
    through PyPDF2's identical fallback)."""
    if isinstance(v, bytes):
        if v[:2] == b"\xfe\xff":
            return v[2:].decode("utf-16-be", "replace")
        return v.decode("latin-1")
    return v if isinstance(v, str) else str(v)


# ---------------------------------------------------------------------------
# Document structure
# ---------------------------------------------------------------------------

_OBJ_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b")


class PdfDocument:
    """Parsed PDF: object map + resolved page list + metadata."""

    def __init__(self, data: bytes):
        self.data = data
        self.objects: dict[int, object] = {}
        self.streams: dict[int, bytes] = {}
        self._scan_objects(data)
        self.trailer = self._find_trailer(data)

    # -- parsing ----------------------------------------------------------
    def _scan_objects(self, data: bytes) -> None:
        # Two passes: object headers can appear as bytes INSIDE a
        # compressed stream payload (they must not clobber the real
        # object map), and a stream's /Length may be an indirect
        # reference to an object defined LATER in the file (the common
        # streaming-writer layout) — so pass 1 records every object and
        # each stream's extent (skipping matches that fall inside a
        # previously-identified payload), and pass 2 re-slices the
        # streams whose /Length only became resolvable once the whole
        # object map existed. A stream that pass 1 cut short at an
        # `endstream` inside its payload grows in pass 2, and the
        # headers pass 1 read from the rest of that payload are data:
        # only then does the file get rescanned with the resolved
        # lengths.
        pending = self._scan_pass(data, {})
        lengths, grown = {}, False
        for num, i, length, end in pending:
            resolved = self.resolve(length)
            if (isinstance(resolved, (int, float)) and resolved
                    and data.find(b"endstream", i + int(resolved)) != -1):
                lengths[i] = int(resolved)
                self.streams[num] = data[i:i + lengths[i]]
                grown |= i + lengths[i] > end
        if grown:
            self.objects.clear()
            self.streams.clear()
            self._scan_pass(data, lengths)

    def _scan_pass(self, data: bytes, lengths: dict[int, int]) -> list:
        """Fill the object and stream maps; `lengths` maps a payload
        offset to its resolved length. Returns (object number, offset,
        /Length, offset of the first `endstream`) of each stream whose
        extent was only a provisional scan."""
        pending: list[tuple[int, int, object, int]] = []
        skip_until = 0
        for m in _OBJ_RE.finditer(data):
            if m.start() < skip_until:
                continue  # bytes inside an already-identified payload
            num = int(m.group(1))
            try:
                val, i = _parse_value(data, m.end())
            except (ValueError, IndexError):
                continue
            self.objects[num] = val
            i = _skip_ws(data, i)
            if data[i:i + 6] == b"stream":
                i += 6
                if data[i:i + 2] == b"\r\n":
                    i += 2
                elif data[i:i + 1] == b"\n":
                    i += 1
                length = val.get("/Length", 0) if isinstance(val, dict) else 0
                if i in lengths:
                    raw = data[i:i + lengths[i]]
                elif isinstance(length, (int, float)) and length:
                    raw = data[i:i + int(length)]
                    end = data.find(b"endstream", i + int(length))
                    if end == -1:  # damaged /Length: scan
                        end = data.find(b"endstream", i)
                        raw = data[i:end].rstrip(b"\r\n")
                else:
                    # indirect or missing /Length: provisional scan to
                    # the next endstream; pass 2 refines once the
                    # referenced object is in the map
                    end = data.find(b"endstream", i)
                    raw = data[i:end].rstrip(b"\r\n")
                    pending.append((num, i, length, end))
                self.streams[num] = raw
                skip_until = max(skip_until, i + len(raw))
        return pending

    def _find_trailer(self, data: bytes) -> dict:
        last = {}
        for m in re.finditer(rb"trailer\b", data):
            try:
                d, _ = _parse_value(data, m.end())
                if isinstance(d, dict):
                    last = d
            except (ValueError, IndexError):
                continue
        return last

    def resolve(self, v):
        while isinstance(v, Ref):
            v = self.objects.get(v.num)
        return v

    # -- structure --------------------------------------------------------
    def catalog(self) -> dict:
        root = self.resolve(self.trailer.get("/Root"))
        if isinstance(root, dict) and root.get("/Type") == "/Catalog":
            return root
        for v in self.objects.values():
            if isinstance(v, dict) and v.get("/Type") == "/Catalog":
                return v
        return {}

    def info(self) -> dict:
        info = self.resolve(self.trailer.get("/Info"))
        if isinstance(info, dict):
            return info
        for v in self.objects.values():
            if isinstance(v, dict) and "/Producer" in v and "/Type" not in v:
                return v
        return {}

    def pages(self) -> list[dict]:
        out: list[dict] = []

        def walk(node):
            node = self.resolve(node)
            if not isinstance(node, dict):
                return
            if node.get("/Type") == "/Page":
                out.append(node)
            else:
                for kid in self.resolve(node.get("/Kids")) or []:
                    walk(kid)

        walk(self.catalog().get("/Pages"))
        return out

    def stream_data(self, ref) -> bytes:
        obj = ref.num if isinstance(ref, Ref) else None
        if obj is None or obj not in self.streams:
            return b""
        raw = self.streams[obj]
        sd = self.resolve(self.objects.get(obj))
        filters = sd.get("/Filter", []) if isinstance(sd, dict) else []
        if not isinstance(filters, list):
            filters = [filters]
        for f in filters:
            f = self.resolve(f)
            if f == "/FlateDecode":
                raw = zlib.decompress(raw)
                parms = self.resolve(sd.get("/DecodeParms")) or {}
                pred = parms.get("/Predictor", 1) if isinstance(parms, dict) else 1
                if pred and pred >= 10:
                    raw = _png_predictor(
                        raw, int(self.resolve(parms.get("/Columns", 1))),
                        int(self.resolve(parms.get("/Colors", 1))),
                        int(self.resolve(parms.get("/BitsPerComponent", 8))))
            elif f == "/ASCIIHexDecode":
                hx = re.sub(rb"[\s>]", b"", raw)
                if len(hx) % 2:
                    hx += b"0"
                raw = bytes.fromhex(hx.decode("ascii"))
            else:
                raise ValueError(f"unsupported PDF filter {f}")
        return raw

    def page_content(self, page: dict) -> bytes:
        contents = page.get("/Contents")
        if isinstance(contents, Ref):
            return self.stream_data(contents)
        if isinstance(contents, list):
            return b"\n".join(self.stream_data(c) for c in contents)
        return b""

    def page_links(self, page: dict) -> list[str]:
        """URI actions from /Annots (processor.py:305-318 semantics:
        collect /A -> /URI from every link annotation, in order)."""
        links = []
        for a in self.resolve(page.get("/Annots")) or []:
            a = self.resolve(a)
            if not isinstance(a, dict):
                continue
            act = self.resolve(a.get("/A"))
            if isinstance(act, dict) and act.get("/S") == "/URI":
                uri = self.resolve(act.get("/URI"))
                if uri is not None:
                    links.append(_to_text(uri))
        return links

    def page_images(self, page: dict, with_data: bool = False) -> list[dict]:
        """Image XObject walk (processor.py:233-303): name, dimensions,
        filter list; with ``with_data``, also the decoded bytes and a
        format tag following the reference's dispatch — FlateDecode
        rasters inflate (PNG predictor applied when /DecodeParms says
        so) and come back as raw RGB/gray samples (format 'raw'); DCT/
        JPX streams pass through unchanged as ready image files
        ('jpg'/'jp2', processor.py:303-317 writes them verbatim);
        anything else is 'bin'. Pixel decode of compressed formats
        stays with ops/multimodal (PPM/BMP real, codecs stubbed)."""
        res = self.resolve(page.get("/Resources")) or {}
        xo = self.resolve(res.get("/XObject")) if isinstance(res, dict) else None
        out = []
        for name, ref in (xo or {}).items():
            obj = self.resolve(ref)
            if isinstance(obj, dict) and obj.get("/Subtype") == "/Image":
                filters = obj.get("/Filter", [])
                if not isinstance(filters, list):
                    filters = [filters]
                filters = [str(self.resolve(f)) for f in filters]
                rec = {
                    "name": name.lstrip("/"),
                    "width": int(self.resolve(obj.get("/Width", 0)) or 0),
                    "height": int(self.resolve(obj.get("/Height", 0)) or 0),
                    "filters": filters,
                }
                if with_data:
                    fmt, data = "bin", None
                    try:
                        if "/DCTDecode" in filters:
                            fmt, data = "jpg", self.streams.get(
                                ref.num if isinstance(ref, Ref) else -1)
                        elif "/JPXDecode" in filters:
                            fmt, data = "jp2", self.streams.get(
                                ref.num if isinstance(ref, Ref) else -1)
                        else:
                            fmt, data = "raw", self.stream_data(ref)
                    except (ValueError, zlib.error):
                        pass
                    rec["format"] = fmt
                    rec["data"] = data
                out.append(rec)
        return out


def _png_predictor(data: bytes, columns: int, colors: int, bits: int) -> bytes:
    """PNG predictor inverse (utils.py:3-54 apply_png_predictor
    semantics, re-derived; used for /Predictor>=10 flate streams)."""
    bpp = max(1, (bits * colors) // 8)
    stride = columns * bpp
    row = stride + 1
    out = bytearray()
    prev = bytearray(stride)
    for r in range(len(data) // row):
        ft = data[r * row]
        cur = bytearray(data[r * row + 1:(r + 1) * row])
        for j in range(stride):
            left = cur[j - bpp] if j >= bpp else 0
            up = prev[j]
            ul = prev[j - bpp] if j >= bpp else 0
            if ft == 1:
                cur[j] = (cur[j] + left) & 0xFF
            elif ft == 2:
                cur[j] = (cur[j] + up) & 0xFF
            elif ft == 3:
                cur[j] = (cur[j] + (left + up) // 2) & 0xFF
            elif ft == 4:
                p = left + up - ul
                pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                pred = left if pa <= pb and pa <= pc else (up if pb <= pc else ul)
                cur[j] = (cur[j] + pred) & 0xFF
        out += cur
        prev = cur
    return bytes(out)


# ---------------------------------------------------------------------------
# Content-stream text extraction
# ---------------------------------------------------------------------------

def extract_page_text(content: bytes) -> str:
    """Layout-newline text model over the content stream's text
    operators — the stdlib twin of PyPDF2's ``extract_text`` as the
    reference drives it (processor.py:205-216 visitor_text):

    - ``Tj`` / ``TJ`` emit string operands (TJ kerning numbers are
      positioning, not glyphs — skipped, as PyPDF2 does);
    - ``'`` and ``"`` move to the next line, then show;
    - ``Td``/``TD`` with a vertical component, ``T*``, and a ``Tm``
      that changes the baseline y emit one newline.
    """
    out: list[str] = []
    stack: list = []
    last_ty = None
    i, n = 0, len(content)
    while i < n:
        i = _skip_ws(content, i)
        if i >= n:
            break
        try:
            v, i = _parse_value(content, i)
        except (ValueError, IndexError):
            i += 1
            continue
        if not (isinstance(v, tuple) and len(v) == 2 and v[0] == "op"):
            stack.append(v)
            continue
        op = v[1]
        def nl():
            # positioning before the first shown string is layout setup,
            # not a line break (PyPDF2 likewise emits nothing until the
            # first text-showing operator)
            if out:
                out.append("\n")

        if op == "Tj" and stack:
            out.append(_to_text(stack[-1]))
        elif op == "TJ" and stack and isinstance(stack[-1], list):
            out.append("".join(_to_text(e) for e in stack[-1]
                               if isinstance(e, (bytes, str))))
        elif op == "'" and stack:
            nl()
            out.append(_to_text(stack[-1]))
        elif op == '"' and stack:
            nl()
            out.append(_to_text(stack[-1]))
        elif op in ("Td", "TD") and len(stack) >= 2:
            if float(stack[-1]) != 0:
                nl()
        elif op == "T*":
            nl()
        elif op == "Tm" and len(stack) >= 6:
            ty = float(stack[-1])
            if last_ty is not None and ty != last_ty:
                nl()
            last_ty = ty
        elif op == "BT":
            last_ty = None
        stack.clear()
    return "".join(out)


# ---------------------------------------------------------------------------
# Cleanup passes (processors/pdf/utils.py:70-350 twins)
# ---------------------------------------------------------------------------

_AUTHOR_RE = re.compile(
    r"^\s*[A-Z][a-zA-Z]+(?:\s+[A-Z][a-zA-Z]+)*\s*(?:[†*0-9]+)?"
    r"(?:,\s*[A-Z][a-zA-Z]+(?:\s+[A-Z][a-zA-Z]+)*\s*(?:[†*0-9]+)?)*"
    r"(?:,\s*(?:and|&)\s+[A-Z][a-zA-Z]+(?:\s+[A-Z][a-zA-Z]+)*\s*(?:[†*0-9]+)?)?\s*$"
)
_NUMBERED_RE = re.compile(r"^(\d+(?:\.\d+)*)\s+(.+)$")
_SECTION_RE = re.compile(r"^(Abstract|\d+\s+[A-Z]|References|Appendix|Figure|Table)")
_EMAIL_RE = re.compile(r"\{.*?\}")
_CITE_RE = re.compile(r"\(([A-Z][a-z]+ et al\. \d{4})\)")


def _decode_escapes(text: str) -> str:
    import warnings

    try:
        with warnings.catch_warnings():
            # unicode-escape of arbitrary text warns on stray
            # backslashes; the reference does the same decode
            # (utils.py:73-77) and relies on the fallback
            warnings.simplefilter("ignore")
            decoded = text.encode("latin-1").decode("unicode-escape")
        return decoded.encode("utf-16", "surrogatepass").decode("utf-16")
    except Exception:
        return text


def _classify(page_number: int, lines: list[str], html_mode: bool):
    """Line classifier shared by both render modes. Yields
    ``(kind, payload)`` events; paragraph accumulation and the
    in-header flush mirror utils.py's control flow, including the
    i==0 wraparound quirk in the markdown numbered-header check
    (utils.py:267 reads ``lines[i-1]`` without an i>0 guard, so the
    first line is compared against the LAST — kept, like the other
    reference quirks this repo pins)."""
    para: list[str] = []
    in_header = False
    title_done = False

    def flush():
        nonlocal para
        if para:
            joined = re.sub(r"\s+", " ", " ".join(para)).strip()
            para = []
            if joined:
                return [("para", joined)]
        return []

    for i, raw in enumerate(lines):
        line = raw.strip()
        if not line:
            yield from flush()
            continue
        if (not title_done and i == 0 and 3 <= len(line.split()) <= 8
                and len(lines) > 1):
            yield from flush()
            yield ("title", line)
            title_done = True
            continue
        m = _NUMBERED_RE.match(line)
        prev_blank_ok = (i > 0) if html_mode else True
        if m and prev_blank_ok and not lines[i - 1].strip():
            yield from flush()
            level = m.group(1).count(".") + 1
            yield ("header", (min(level + 1, 6), m.group(2)))
            in_header = True
            continue
        if page_number == 1 and _AUTHOR_RE.match(line):
            names = re.sub(r"[†â€]", "", line)
            parts = [" ".join(p for p in a.strip().split() if p)
                     for a in re.split(r", | and ", names) if a.strip()]
            yield ("authors", parts)
            continue
        if line.startswith("†"):
            yield ("affiliation", line)
            continue
        if _EMAIL_RE.match(line):
            yield ("email", line)
            continue
        if _SECTION_RE.match(line):
            yield from flush()
            yield ("section", line)
            in_header = True
            continue
        if line[:1] in ('"', "“"):
            yield from flush()
            yield ("quote", line)
            continue
        para.append(line[:-1].strip() if line.endswith("-") else line)
        if in_header and not line.endswith((".", "!", "?")):
            yield from flush()
            in_header = False
    yield from flush()


def _postprocess(textout: str, html_mode: bool) -> str:
    if html_mode:
        textout = _CITE_RE.sub(r"<cite>\1</cite>", textout)
    else:
        textout = _CITE_RE.sub(r"[\1]", textout)
    textout = textout.replace("\\ud835", "").replace("\\u2020", "†")
    textout = re.sub(r"\s+-\s+", "", textout)
    return re.sub(r"\s+([.,!?)])", r"\1", textout)


def pdf_text_to_markdown(page_number: int, text: str) -> str:
    """clean_pdf_text twin (utils.py:215-350): raw page text ->
    markdown with title/##-headers/**authors**/quotes and the
    citation + hyphen + spacing fixups."""
    decoded = re.sub(r"\.\n", ".\n\n", _decode_escapes(text))
    out = []
    for kind, val in _classify(page_number, decoded.split("\n"), html_mode=False):
        if kind == "title":
            out.append(f"## {val}")
        elif kind == "header":
            out.append(f'{"#" * val[0]} {val[1]}')
        elif kind == "authors":
            names = [f"**{a}**" for a in val]
            out.append(", ".join(names[:-1]) + " and " + names[-1]
                       if len(names) > 1 else names[0])
        elif kind == "affiliation":
            out.append(f"*{val}*")
        elif kind == "email":
            out.append(f"`{val}`")
        elif kind == "section":
            out.append(f"_[{val}]_")
        elif kind == "quote":
            out.append(f"> {val}")
        else:
            out.append(val)
    return _postprocess("\n\n".join(out), html_mode=False)


def pdf_text_to_html(page_number: int, text: str) -> str:
    """clean_pdf_text_to_html twin (utils.py:70-213)."""
    import html as _html

    decoded = _decode_escapes(text)
    out = []
    for kind, val in _classify(page_number, decoded.split("\n"), html_mode=True):
        if kind == "title":
            out.append(f"<h2>{_html.escape(val)}</h2>")
        elif kind == "header":
            lvl, txt = val
            out.append(f"<h{lvl}>{_html.escape(txt)}</h{lvl}>")
        elif kind == "authors":
            names = [f"<strong>{_html.escape(a)}</strong>" for a in val]
            joined = (", ".join(names[:-1]) + " and " + names[-1]
                      if len(names) > 1 else names[0])
            out.append(f"<p>{joined}</p>")
        elif kind == "affiliation":
            out.append(f"<p><em>{_html.escape(val)}</em></p>")
        elif kind == "email":
            out.append(f"<p><code>{_html.escape(val)}</code></p>")
        elif kind == "section":
            out.append(f'<h2 class="section-header"><em>{_html.escape(val)}</em></h2>')
        elif kind == "quote":
            out.append(f"<blockquote><p>{_html.escape(val)}</p></blockquote>")
        else:
            # the split can never fire here (flush collapses paragraph
            # whitespace first) — kept verbatim from the reference's
            # clean_pdf_text_to_html (utils.py:104), where it is
            # equally unreachable, for structural parity
            paras = "".join(f"<p>{p}</p>" for p in val.split(".\n\n"))
            out.append(f'<div class="paragraph">{paras}</div><hr/>')
    return _postprocess("\n".join(out), html_mode=True)


# ---------------------------------------------------------------------------
# Deterministic writer (test/bench corpus synthesis; valid PDF 1.4)
# ---------------------------------------------------------------------------

def _esc(s: str) -> bytes:
    return (s.replace("\\", r"\\").replace("(", r"\(")
             .replace(")", r"\)")).encode("latin-1", "replace")


def build_pdf(pages: list[list[str]], title: str = "", author: str = "",
              producer: str = "crawl4ai-spark", links: list[list[str]] = None,
              images: list[list[tuple[int, int, bytes]]] = None,
              compress: bool = True) -> bytes:
    """Write a valid single-font PDF: one content stream per page (one
    ``Tj`` per line, ``0 -14 Td`` between lines — so
    ``extract_page_text`` returns exactly ``"\\n".join(lines)``), one
    URI link annotation per entry in ``links[page]``, one RGB image
    XObject per ``(width, height, raster)`` in ``images[page]``
    (FlateDecode raster, drawn via Do), and an Info dict. FlateDecode
    when ``compress`` so parsers must really inflate."""
    links = links or [[] for _ in pages]
    images = images or [[] for _ in pages]
    if len(links) != len(pages) or len(images) != len(pages):
        # zip would silently truncate trailing pages out of the /Kids
        # array, corrupting the fixture corpus the oracles round-trip
        raise ValueError(
            f"links ({len(links)}) and images ({len(images)}) must have "
            f"one entry per page ({len(pages)})")
    objs: list[bytes] = []          # bodies, object number = index+1

    def add(body: bytes) -> int:
        objs.append(body)
        return len(objs)

    font = add(b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    page_ids, content_ids, annot_ids, image_ids = [], [], [], []
    for imgs in images:
        ids = []
        for w, h, raster in imgs:
            z = zlib.compress(raster)
            ids.append(add(
                b"<< /Type /XObject /Subtype /Image /Width %d /Height %d "
                b"/ColorSpace /DeviceRGB /BitsPerComponent 8 "
                b"/Filter /FlateDecode /Length %d >>\nstream\n"
                % (w, h, len(z)) + z + b"\nendstream"))
        image_ids.append(ids)
    for pg, ls, im_ids in zip(pages, links, image_ids):
        parts = [b"BT /F1 12 Tf 72 720 Td"]
        for k, line in enumerate(pg):
            if k:
                parts.append(b"0 -14 Td")
            parts.append(b"(" + _esc(line) + b") Tj")
        parts.append(b"ET")
        for n, _ in enumerate(im_ids, 1):
            parts.append(b"q 96 0 0 64 72 520 cm /Im%d Do Q" % n)
        stream = b" ".join(parts)
        if compress:
            z = zlib.compress(stream)
            body = (b"<< /Length " + str(len(z)).encode()
                    + b" /Filter /FlateDecode >>\nstream\n" + z + b"\nendstream")
        else:
            body = (b"<< /Length " + str(len(stream)).encode()
                    + b" >>\nstream\n" + stream + b"\nendstream")
        content_ids.append(add(body))
        ids = []
        for u in ls:
            ids.append(add(
                b"<< /Type /Annot /Subtype /Link /Rect [72 700 300 714] "
                b"/Border [0 0 0] /A << /S /URI /URI (" + _esc(u) + b") >> >>"))
        annot_ids.append(ids)
    for cid, aids, im_ids in zip(content_ids, annot_ids, image_ids):
        annots = (b" /Annots [" + b" ".join(b"%d 0 R" % a for a in aids) + b"]"
                  if aids else b"")
        xobj = (b" /XObject << " + b" ".join(
            b"/Im%d %d 0 R" % (n, i) for n, i in enumerate(im_ids, 1))
            + b" >>" if im_ids else b"")
        page_ids.append(add(
            b"<< /Type /Page /Parent PARENT 0 R /MediaBox [0 0 612 792] "
            b"/Resources << /Font << /F1 %d 0 R >>%s >> /Contents %d 0 R%s >>"
            % (font, xobj, cid, annots)))
    pages_id = add(b"<< /Type /Pages /Kids ["
                   + b" ".join(b"%d 0 R" % p for p in page_ids)
                   + b"] /Count %d >>" % len(page_ids))
    # patch parent refs now that the pages object number is known
    for p in page_ids:
        objs[p - 1] = objs[p - 1].replace(b"PARENT", b"%d" % pages_id)
    catalog_id = add(b"<< /Type /Catalog /Pages %d 0 R >>" % pages_id)
    info_id = add(b"<< /Title (" + _esc(title) + b") /Author (" + _esc(author)
                  + b") /Producer (" + _esc(producer) + b") >>")

    out = bytearray(b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")
    offsets = [0]
    for num, body in enumerate(objs, 1):
        offsets.append(len(out))
        out += b"%d 0 obj\n" % num + body + b"\nendobj\n"
    xref_off = len(out)
    out += b"xref\n0 %d\n" % (len(objs) + 1)
    out += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        out += b"%010d 00000 n \n" % off
    out += (b"trailer\n<< /Size %d /Root %d 0 R /Info %d 0 R >>\n"
            b"startxref\n%d\n%%%%EOF\n"
            % (len(objs) + 1, catalog_id, info_id, xref_off))
    return bytes(out)


# ---------------------------------------------------------------------------
# Page-level processing (the processor.py result model, flattened)
# ---------------------------------------------------------------------------

def process_pdf(data: bytes) -> list[dict]:
    """One PDF -> per-page dicts mirroring PDFPage + PDFMetadata
    (processor.py:34-49), flattened for a relational sink."""
    doc = PdfDocument(data)
    info = doc.info()
    pages = doc.pages()
    meta = {
        "title": _to_text(info.get("/Title", "")) or None,
        "author": _to_text(info.get("/Author", "")) or None,
        "producer": _to_text(info.get("/Producer", "")) or None,
        "n_pages": len(pages),
    }
    out = []
    for pno, page in enumerate(pages, 1):
        raw = extract_page_text(doc.page_content(page))
        out.append({
            "page_number": pno,
            "raw_text": raw,
            "markdown": pdf_text_to_markdown(pno, raw),
            "html": pdf_text_to_html(pno, raw),
            "links": doc.page_links(page),
            "n_images": len(doc.page_images(page)),
            **meta,
        })
    return out


PDF_PAGE_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("page_number", T.IntegerType()),
    T.StructField("raw_text", T.StringType()),
    T.StructField("markdown", T.StringType()),
    T.StructField("html", T.StringType()),
    T.StructField("links", T.ArrayType(T.StringType())),
    T.StructField("n_images", T.IntegerType()),
    T.StructField("title", T.StringType()),
    T.StructField("author", T.StringType()),
    T.StructField("producer", T.StringType()),
    T.StructField("n_pages", T.IntegerType()),
])


def process_pdfs(df: DataFrame, id_col: str = "doc_id",
                 blob_col: str = "pdf") -> DataFrame:
    """Distributed twin of ``NaivePDFProcessorStrategy.process_batch``
    (processor.py:123-202): pages fan out as rows from one
    Arrow-batched mapInPandas stage; no shuffle, no driver state."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, blob in zip(pdf[id_col], pdf[blob_col]):
                if blob is None:
                    continue  # upstream fetch miss — nullable column
                try:
                    pages = process_pdf(bytes(blob))
                except Exception:
                    # one corrupt blob must not fail the stage: the
                    # reference logs and continues per document
                    # (processor.py:189-190); a truncated flate stream,
                    # an unsupported filter, or a malformed operand
                    # skips that document only
                    continue
                for page in pages:
                    rows.append({"doc_id": str(did), **page})
            yield pd.DataFrame(
                rows, columns=[f.name for f in PDF_PAGE_SCHEMA.fields])

    return df.select(id_col, blob_col).mapInPandas(run, PDF_PAGE_SCHEMA)
