"""HTML link / text / metadata extraction (F1-F3).

Replicates the reference's BeautifulSoup-based extraction with a
stdlib ``html.parser`` mini-DOM (bs4 is not in the environment):

- ``extract_links``  ↔ ``modules/processors/url_processor.py:137-161``
  ({urljoin(base, a[href]) for <a href>}; PDF → ∅; other types → ∅)
- ``extract_text``   ↔ ``modules/processors/content_processor.py:188-234``
  (drop script/style/nav/header/footer/aside subtrees, drop
  style*=display:none, drop class*=hidden, get_text('\\n', strip),
  squeeze blank lines)
- ``extract_meta``   ↔ ``content_processor.py:135-186``
  (url, content_type, title, all <meta name|property ... content>,
  og:* pairs, ld+json as 'schema_org')

Pure-Python cores are shared by the golden oracle and the engine's
fetch/extract kernel so extraction parity is by construction; the
ported reference unit cases (tests/test_scraper.py:80-96) pin the
semantics against the reference itself.

Scale note: the engine calls them from the fetch kernel
(``operators/fetch.py:make_fetch_extract``) inside ``mapInArrow`` —
one Python invocation per Arrow batch, never per row.
"""

from __future__ import annotations

import json
import re
from html.parser import HTMLParser

from .urlnorm import resolve_link

VOID_ELEMENTS = {
    "area", "base", "br", "col", "embed", "hr", "img", "input",
    "link", "meta", "param", "source", "track", "wbr",
}

DROP_TAGS = {"script", "style", "nav", "header", "footer", "aside"}

# S7: extracted text shorter than this ⇒ dynamic (content_processor.py:270-287)
DYNAMIC_THRESHOLD = 500


class _Node:
    __slots__ = ("tag", "attrs", "children", "text_parts")

    def __init__(self, tag: str, attrs: dict[str, str | None]):
        self.tag = tag
        self.attrs = attrs
        self.children: list[_Node] = []
        self.text_parts: list[tuple[int, str]] = []  # (child_index, text)


class _DomBuilder(HTMLParser):
    """Builds a minimal element tree sufficient for the reference's
    extraction semantics."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.root = _Node("[root]", {})
        self.stack = [self.root]

    def handle_starttag(self, tag, attrs):
        node = _Node(tag, dict(attrs))
        self.stack[-1].children.append(node)
        if tag not in VOID_ELEMENTS:
            self.stack.append(node)

    def handle_startendtag(self, tag, attrs):
        self.stack[-1].children.append(_Node(tag, dict(attrs)))

    def handle_endtag(self, tag):
        # Pop to the nearest matching open tag (tolerates mis-nesting).
        for i in range(len(self.stack) - 1, 0, -1):
            if self.stack[i].tag == tag:
                del self.stack[i:]
                break

    def handle_data(self, data):
        top = self.stack[-1]
        top.text_parts.append((len(top.children), data))


def _parse(html: str) -> _Node:
    b = _DomBuilder()
    b.feed(html or "")
    return b.root


def _is_dropped(node: _Node) -> bool:
    if node.tag in DROP_TAGS:
        return True
    style = node.attrs.get("style") or ""
    if "display:none" in style:
        return True
    cls = node.attrs.get("class") or ""
    if "hidden" in cls:
        return True
    return False


def _walk(node: _Node, fn) -> None:
    """Visit nodes pre-order, skipping dropped subtrees (decompose)."""
    for child in node.children:
        if _is_dropped(child):
            continue
        fn(child)
        _walk(child, fn)


def _collect_text(node: _Node, out: list[str]) -> None:
    """In-order text collection interleaving text runs with children,
    skipping dropped subtrees — mirrors soup.get_text('\\n', strip)."""
    texts = dict()
    for idx, t in node.text_parts:
        texts.setdefault(idx, []).append(t)
    for i, child in enumerate(node.children):
        for t in texts.pop(i, ()):
            out.append(t)
        if not _is_dropped(child):
            _collect_text(child, out)
    for ts in texts.values():  # trailing text after the last child
        out.extend(ts)


# ---------------------------------------------------------------------------
# Pure-Python cores
# ---------------------------------------------------------------------------

def doc_links(root: _Node, base_url: str) -> set[str]:
    """Tree half of F1 — callers that already hold a parsed document
    (the fused fetch kernel) extract from it without re-parsing."""
    links: set[str] = set()

    def visit(node: _Node) -> None:
        if node.tag == "a" and node.attrs.get("href") is not None:
            links.add(resolve_link(base_url, node.attrs["href"]))
        for child in node.children:
            visit(child)

    visit(root)
    return links


def extract_links(html: str, base_url: str, content_type: str = "text/html") -> set[str]:
    """F1: {urljoin(base, a[href])} over the whole document (including
    dropped-for-text regions — the reference extracts links BEFORE any
    text cleanup, from the raw soup)."""
    if not content_type.lower().startswith("text/html"):
        return set()
    return doc_links(_parse(html), base_url)


def doc_text(root: _Node) -> str:
    """Tree half of F2."""
    parts: list[str] = []
    _collect_text(root, parts)
    stripped = (p.strip() for p in "\n".join(parts).splitlines())
    return "\n".join(line for line in stripped if line)


def extract_text(html: str) -> str:
    """F2: reference-equivalent visible-text extraction."""
    return doc_text(_parse(html))


def extract_meta(html: str, content_type: str, url: str) -> dict[str, str | None]:
    """F3: metadata dict; values coerced to strings (the engine's pages
    table uses map<string,string>; ld+json kept as a JSON string)."""
    meta: dict[str, str] = {"url": url, "content_type": content_type}
    if not content_type.lower().startswith("text/html"):
        return meta
    return doc_meta(_parse(html), content_type, url)


def doc_meta(root: _Node, content_type: str, url: str) -> dict[str, str | None]:
    """Tree half of F3."""
    meta: dict[str, str] = {"url": url, "content_type": content_type}

    title_holder: list[str] = []
    schema_holder: list[str] = []

    def visit(node: _Node) -> None:
        if node.tag == "title" and not title_holder:
            buf: list[str] = []
            _collect_text(node, buf)
            title_holder.append("".join(buf))
        elif node.tag == "meta":
            content = node.attrs.get("content")
            if content is not None:
                name = node.attrs.get("name")
                prop = node.attrs.get("property")
                if name is not None:
                    meta[name.lower()] = content
                elif prop is not None:
                    meta[prop.lower()] = content
        elif node.tag == "script" and node.attrs.get("type") == "application/ld+json":
            buf: list[str] = []
            for _, t in node.text_parts:
                buf.append(t)
            schema_holder.append("".join(buf))

    def walk_all(node: _Node) -> None:
        visit(node)
        for child in node.children:
            walk_all(child)

    walk_all(root)
    # the reference sets metadata['title'] unconditionally for text/html
    # (None when no <title> exists, content_processor.py:156)
    meta["title"] = title_holder[0] if title_holder else None
    for raw in schema_holder:
        try:
            meta["schema_org"] = json.dumps(json.loads(raw), sort_keys=True)
        except (json.JSONDecodeError, TypeError):
            pass
    return meta


class _StreamExtract(HTMLParser):
    """One-pass streaming extraction: visible text, raw <a href> values
    and metadata in a SINGLE ``feed()`` — no tree, no walks.

    Byte-for-byte output parity with the tree pipeline
    (``_parse`` + ``doc_text``/``doc_links``/``doc_meta``) is a proof
    obligation (tests/test_extract_stream.py asserts equality over the
    fixture corpus and the adversarial cases); the mapping is:

    - visible text: a data run is kept iff no enclosing open element
      (including the element itself) is dropped — identical to
      ``_collect_text``'s skip-dropped-subtrees pre-order walk, because
      the inherited ``drop`` flag on the open-element stack IS that
      ancestor predicate, and stream order IS document order;
    - mis-nesting: ``handle_endtag`` pops to the nearest matching open
      tag — the same loop ``_DomBuilder.handle_endtag`` runs;
    - links: every ``<a href>`` anywhere (dropped regions included),
      raw href collected; the caller resolves against the page URL
      (``doc_links`` resolved per node then set-deduped — resolving
      the deduped raw set is the same set, resolve_link is pure);
    - meta/title/ld+json: ``doc_meta``'s ``walk_all`` visits every node
      unconditionally in pre-order — mirrored by handling every
      starttag; the first <title>'s subtree text applies the dropped
      filter RELATIVE to the title element (``_collect_text(node)``),
      tracked by the parallel ``tdrop`` flag; ld+json captures DIRECT
      text children of the script element only (``node.text_parts``).
    """

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        # open-element stack: (tag, dropped, dropped_within_title)
        self.stack: list[tuple[str, bool, bool]] = [("[root]", False, False)]
        self.parts: list[str] = []
        self.hrefs: list[str] = []
        self.meta_pairs: dict[str, str] = {}
        self._title_buf: list[str] | None = None   # open <title> capture
        self._title_ix: int | None = None          # its stack index
        self.title: str | None = None
        self._title_done = False
        self._script_buf: list[str] | None = None  # open ld+json capture
        self._script_ix: int | None = None
        self.schemas: list[str] = []

    def _on_tag(self, tag: str, attrs_d: dict) -> None:
        """Shared link/meta handling for start and self-closing tags."""
        if tag == "a":
            href = attrs_d.get("href")
            if href is not None:
                self.hrefs.append(href)
        elif tag == "meta":
            content = attrs_d.get("content")
            if content is not None:
                name = attrs_d.get("name")
                prop = attrs_d.get("property")
                if name is not None:
                    self.meta_pairs[name.lower()] = content
                elif prop is not None:
                    self.meta_pairs[prop.lower()] = content

    def handle_starttag(self, tag, attrs):
        attrs_d = dict(attrs)
        self._on_tag(tag, attrs_d)
        if tag in VOID_ELEMENTS:
            return
        _, pdrop, ptdrop = self.stack[-1]
        node_dropped = (
            tag in DROP_TAGS
            or "display:none" in (attrs_d.get("style") or "")
            or "hidden" in (attrs_d.get("class") or "")
        )
        drop = pdrop or node_dropped
        in_title = self._title_buf is not None
        tdrop = (ptdrop or node_dropped) if in_title else False
        self.stack.append((tag, drop, tdrop))
        if tag == "title" and not self._title_done and not in_title:
            self._title_buf = []
            self._title_ix = len(self.stack) - 1
        elif (
            tag == "script"
            and attrs_d.get("type") == "application/ld+json"
            and self._script_buf is None
        ):
            self._script_buf = []
            self._script_ix = len(self.stack) - 1

    def handle_startendtag(self, tag, attrs):
        self._on_tag(tag, dict(attrs))

    def _finalize_from(self, i: int) -> None:
        """Close any title/ld+json capture whose frame is being popped."""
        if self._title_ix is not None and self._title_ix >= i:
            self.title = "".join(self._title_buf)
            self._title_done = True
            self._title_buf = None
            self._title_ix = None
        if self._script_ix is not None and self._script_ix >= i:
            self.schemas.append("".join(self._script_buf))
            self._script_buf = None
            self._script_ix = None

    def handle_endtag(self, tag):
        stack = self.stack
        for i in range(len(stack) - 1, 0, -1):
            if stack[i][0] == tag:
                self._finalize_from(i)
                del stack[i:]
                break

    def handle_data(self, data):
        _, drop, tdrop = self.stack[-1]
        if not drop:
            self.parts.append(data)
        if self._title_buf is not None and not tdrop:
            self._title_buf.append(data)
        if (
            self._script_buf is not None
            and len(self.stack) - 1 == self._script_ix
        ):
            self._script_buf.append(data)

    def finish(self) -> None:
        self._finalize_from(1)


def extract_all(html: str) -> tuple[str, set[str], dict]:
    """One-pass (text, raw-href set, body-derived metadata) extraction.

    The metadata dict captures only the BODY-derived state (meta-tag
    pairs in document order, title, ld+json candidates) packed so that
    ``assemble_meta`` reproduces ``doc_meta``'s exact overwrite order;
    text post-processing is byte-identical to ``doc_text``."""
    p = _StreamExtract()
    p.feed(html or "")
    p.finish()
    stripped = (s.strip() for s in "\n".join(p.parts).splitlines())
    text = "\n".join(line for line in stripped if line)
    return text, set(p.hrefs), {
        "pairs": p.meta_pairs,
        "title": p.title,
        "schemas": p.schemas,
    }


def assemble_meta(body_meta: dict, content_type: str, url: str) -> dict:
    """Rebuild ``doc_meta``'s output (same overwrite order: url/ct
    stamp, then doc-order meta pairs, then title, then last valid
    ld+json) from ``extract_all``'s body-derived state."""
    meta: dict[str, str | None] = {"url": url, "content_type": content_type}
    meta.update(body_meta["pairs"])
    meta["title"] = body_meta["title"]
    for raw in body_meta["schemas"]:
        try:
            meta["schema_org"] = json.dumps(json.loads(raw), sort_keys=True)
        except (json.JSONDecodeError, TypeError):
            pass
    return meta


def pdf_stub_text(body: bytes) -> str:
    """Stub PDF text extractor (FIXTURES.md PDF note): text between
    bare BT/ET markers — the fallback when pdf_text finds no real
    content streams."""
    try:
        text = body.decode("utf-8", errors="replace")
        start = text.find("BT ")
        end = text.rfind(" ET")
        if start >= 0 and end > start:
            return text[start + 3 : end].strip()
    except Exception:
        pass
    return ""


_STREAM_RE = re.compile(rb"<<(.*?)>>\s*stream\r?\n(.*?)\r?\nendstream", re.DOTALL)
_TEXTBLOCK_RE = re.compile(rb"BT(.*?)ET", re.DOTALL)
# (string) Tj | (string) ' | [ ... ] TJ — the operators PyPDF2's
# extract_text reads for simple (non-CMap) fonts
_SHOW_RE = re.compile(rb"\((?:[^()\\]|\\.)*\)|\]\s*TJ|\bTJ\b|\bTj\b|'")
_PDF_ESCAPES = {
    b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b", b"f": b"\f",
    b"(": b"(", b")": b")", b"\\": b"\\",
}


def _pdf_string(raw: bytes) -> bytes:
    """Decode one (...) literal: strip parens, resolve \\-escapes."""
    s = raw[1:-1]
    out = bytearray()
    i = 0
    while i < len(s):
        c = s[i : i + 1]
        if c == b"\\" and i + 1 < len(s):
            nxt = s[i + 1 : i + 2]
            if nxt.isdigit():  # octal \ddd (up to 3 digits)
                j = i + 1
                while j < min(i + 4, len(s)) and s[j : j + 1].isdigit():
                    j += 1
                out.append(int(s[i + 1 : j], 8) & 0xFF)
                i = j
                continue
            out += _PDF_ESCAPES.get(nxt, nxt)
            i += 2
            continue
        out += c
        i += 1
    return bytes(out)


def pdf_text(body: bytes) -> str:
    """Minimal REAL PDF text extraction (reference parity target:
    PyPDF2 page.extract_text over all pages, content_processor.py:
    236-268; PyPDF2 is absent offline so this is a from-scratch
    reader for linear PDFs): find every stream object, inflate
    /FlateDecode streams with stdlib zlib, then collect the strings
    shown by Tj / ' / TJ operators inside BT..ET text blocks. Falls
    back to the BT/ET stub for the fixture's marker-style bodies."""
    import zlib

    pieces: list[str] = []
    for m in _STREAM_RE.finditer(body):
        params, data = m.group(1), m.group(2)
        if b"/FlateDecode" in params:
            try:
                data = zlib.decompress(data)
            except zlib.error:
                continue
        for block in _TEXTBLOCK_RE.finditer(data):
            for tok in _SHOW_RE.finditer(block.group(1)):
                t = tok.group(0)
                if t.startswith(b"("):
                    pieces.append(_pdf_string(t).decode("latin-1"))
    if pieces:
        return "".join(pieces).strip()
    return pdf_stub_text(body)


_INFO_REF_RE = re.compile(rb"/Info\s+(\d+)\s+(\d+)\s+R")
# one /Key value entry: value is a (literal string) or a /Name
_INFO_ENTRY_RE = re.compile(rb"/([A-Za-z0-9.#_-]+)\s*(\((?:[^()\\]|\\.)*\)|/[A-Za-z0-9.#_-]*)")


def pdf_info(body: bytes) -> dict[str, str]:
    """F3 (PDF half): the trailer ``/Info`` document-information
    dictionary, merged into PDF metadata exactly like the reference
    merges PyPDF2's ``reader.metadata``
    (content_processor.py:177-184): keys keep PyPDF2's ``/Title`` form,
    values are decoded strings. Returns {} when the Info dict is absent
    or unparseable — the reference catches PyPDF2 errors, logs, and
    ships metadata without doc-info, so malformed PDFs degrade the same
    way here."""
    m = None
    for m in _INFO_REF_RE.finditer(body):
        pass  # last trailer wins (PDF incremental updates append)
    if m is None:
        return {}
    obj_re = re.compile(
        rb"(?<![0-9])" + m.group(1) + rb"\s+" + m.group(2)
        + rb"\s+obj\s*<<(.*?)>>",
        re.DOTALL,
    )
    om = None
    for om in obj_re.finditer(body):
        pass  # last object body wins too: an incrementally-updated PDF
        # appends the newer object and the appended copy supersedes the
        # original per the (unparsed) xref — mirror last-trailer-wins
    if om is None:
        return {}
    out: dict[str, str] = {}
    for key, val in _INFO_ENTRY_RE.findall(om.group(1)):
        if val.startswith(b"("):
            raw = _pdf_string(val)
            if raw.startswith(b"\xfe\xff"):  # UTF-16BE text string (BOM)
                try:
                    value = raw[2:].decode("utf-16-be")
                except UnicodeDecodeError:
                    value = raw.decode("latin-1")
            else:
                value = raw.decode("latin-1")  # PDFDocEncoding ⊇ latin-1 here
        else:
            value = val[1:].decode("latin-1")  # /Name value, e.g. /Trapped
        out["/" + key.decode("latin-1")] = value
    return out


def is_dynamic_content(html: str, threshold: int = DYNAMIC_THRESHOLD) -> bool:
    """S7: extracted text shorter than 500 chars ⇒ dynamic
    (content_processor.py:270-287)."""
    return len(extract_text(html)) < threshold

