"""HTML → flattened block array via a single streaming parse
(stdlib ``html.parser`` — no lxml in this environment).

One page in, an ordered list of Block records out: the "flattened DOM
block array" of the north rule. Runs inside a mapInPandas batch loop —
per-document Python is fine there because the crossing is Arrow-batched;
what is banned is per-ROW Python UDF dispatch.

Encoding sniff order: UTF-8 BOM → declared <meta charset> in the first
2048 bytes → UTF-8 with replacement. Best-effort on tag soup: the stdlib
parser never raises on malformed input; we additionally guard so a page
can only ever produce a row-level error, never a task failure (FIXTURES
§4: MustFail analogues are row errors, not job aborts).
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from html.parser import HTMLParser

from ocr_spark.extract.normalize import _CJK

_CJK_RE = re.compile(f"[{_CJK}]")
_WS_RUN = re.compile(r"\s+")

# Tags whose content is never document text.
_SKIP_TAGS = {"script", "style", "noscript", "template", "svg", "iframe", "head"}
# Tags that open/close a text block.
_BLOCK_TAGS = {
    "p", "div", "h1", "h2", "h3", "h4", "h5", "h6", "li", "ul", "ol",
    "td", "th", "tr", "table", "article", "section", "header", "footer",
    "nav", "aside", "blockquote", "pre", "br", "main", "figure",
    "figcaption", "form", "title", "body",
}

_CHARSET_RE = re.compile(rb"charset\s*=\s*[\"']?([a-zA-Z0-9_\-]+)", re.I)

_ENCODING_ALIASES = {
    "utf-8": "utf-8",
    "utf8": "utf-8",
    "iso-8859-1": "latin-1",
    "latin-1": "latin-1",
    "latin1": "latin-1",
    "windows-1252": "cp1252",
}


@dataclass
class Block:
    block_idx: int
    tag_path: str
    text: str
    n_chars: int
    n_words: int
    n_link_chars: int
    n_cjk: int = 0

    @property
    def link_density(self) -> float:
        return self.n_link_chars / self.n_chars if self.n_chars else 0.0

    @property
    def effective_words(self) -> int:
        """Script-neutral word count: CJK has no word spaces, so each CJK
        character counts as a word-unit."""
        return max(self.n_words, self.n_cjk)


def decode_html(raw: bytes) -> str:
    """Sniff encoding and decode page bytes (never raises)."""
    if raw.startswith(b"\xef\xbb\xbf"):
        return raw[3:].decode("utf-8", errors="replace")
    m = _CHARSET_RE.search(raw[:2048])
    if m:
        enc = _ENCODING_ALIASES.get(m.group(1).decode("ascii", "replace").lower())
        if enc:
            return raw.decode(enc, errors="replace")
    return raw.decode("utf-8", errors="replace")


class _BlockParser(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: list[Block] = []
        self._stack: list[str] = []
        self._skip_depth = 0
        self._link_depth = 0
        self._parts: list[str] = []
        self._link_chars = 0

    # -- block lifecycle ------------------------------------------------
    def _flush(self) -> None:
        if not self._parts:  # most flushes close empty blocks: skip the
            self._link_chars = 0  # join/strip entirely (profiled ~5%)
            return
        text = "".join(self._parts)
        stripped = text.strip()
        if stripped:
            # str.split() splits on exactly the \s codepoint set (verified
            # over all of Unicode for this CPython), so summing fragment
            # lengths equals len(_WS_RUN.sub("", stripped)) without the
            # regex pass + string allocation (~10% of scan time)
            words = stripped.split()
            n_chars = sum(map(len, words))
            self.blocks.append(
                Block(
                    block_idx=len(self.blocks),
                    tag_path="/".join(self._stack[-6:]),
                    text=text,
                    n_chars=n_chars,
                    n_words=len(words),
                    n_link_chars=min(self._link_chars, n_chars),
                    n_cjk=len(_CJK_RE.findall(stripped)),
                )
            )
        self._parts = []
        self._link_chars = 0

    # -- parser callbacks -------------------------------------------------
    def handle_starttag(self, tag: str, attrs) -> None:
        if tag in _SKIP_TAGS:
            self._skip_depth += 1
            return
        if tag == "body":
            # tag-soup guard: an unclosed <head> must not swallow the body
            self._skip_depth = 0
        if tag == "a":
            self._link_depth += 1
        if tag in _BLOCK_TAGS:
            if self._parts:  # empty-parts flush is a no-op (_link_chars
                self._flush()  # only ever advances alongside an append)
            self._stack.append(tag)

    def handle_endtag(self, tag: str) -> None:
        if tag in _SKIP_TAGS:
            self._skip_depth = max(0, self._skip_depth - 1)
            return
        if tag == "a":
            self._link_depth = max(0, self._link_depth - 1)
        if tag in _BLOCK_TAGS:
            if self._parts:
                self._flush()
            if self._stack and self._stack[-1] == tag:
                self._stack.pop()
            elif tag in self._stack:
                while self._stack and self._stack[-1] != tag:
                    self._stack.pop()
                if self._stack:
                    self._stack.pop()

    def handle_startendtag(self, tag: str, attrs) -> None:
        if tag in _BLOCK_TAGS and self._parts:
            self._flush()

    def handle_data(self, data: str) -> None:
        if self._skip_depth:
            return
        self._parts.append(data)
        if self._link_depth:
            self._link_chars += sum(map(len, data.split()))


def parse_blocks(raw: bytes) -> list[Block]:
    """Page bytes → ordered flattened block list (never raises)."""
    html = decode_html(raw)
    p = _BlockParser()
    try:
        p.feed(html)
        p.close()
    except Exception:  # noqa: BLE001 — tag soup must degrade, not abort
        pass
    p._flush()
    return p.blocks


# --- fast tokenizer path -----------------------------------------------------

import html.parser as _hp
from html import unescape as _unescape

# The stdlib parser's own tolerant grammars — reused verbatim so the fast
# scanner tokenizes identically (names, attr quoting, '</ P>' quirks).
# Resolved via getattr: they are private internals a CPython upgrade may
# rename, and the scanner's CDATA exit rule hard-codes the current
# `</\s*tag` stdlib behavior (changed by recent security patches) — when
# either assumption fails, _FAST_PATH_OK turns the fast path off and
# parse_blocks_fast delegates to the stdlib path unconditionally instead
# of breaking import or silently diverging.
_TAGFIND_TOL = getattr(_hp, "tagfind_tolerant", None)
_LOCATESTART = getattr(_hp, "locatestarttagend_tolerant", None)
_ENDTAGFIND = getattr(_hp, "endtagfind", None)
_ATTRFIND = getattr(_hp, "attrfind_tolerant", None)

# Fused start-tag regex: _LOCATESTART with a capture group wrapped
# around its (textually identical) tag-name token, so one match yields
# both the tag end position AND the name — halving regex work per start
# tag vs the stdlib's locatestart-then-tagfind double match.  Built by
# string surgery on the stdlib pattern; if a CPython upgrade rewords the
# prefix, the surgery misses and the scanner falls back to the
# two-match path (correct either way).
_LOCATESTART_NAMED = None
if _LOCATESTART is not None:
    _name_tok = r"<[a-zA-Z][^\t\n\r\f />\x00]*"
    if _LOCATESTART.pattern.count(_name_tok) == 1:
        _LOCATESTART_NAMED = re.compile(
            _LOCATESTART.pattern.replace(
                _name_tok, r"<([a-zA-Z][^\t\n\r\f />\x00]*)", 1
            ),
            re.VERBOSE,
        )


def _probe_stdlib_cdata() -> bool:
    """True iff the running stdlib exits script/style CDATA on the strict
    `</\\s*tag\\s*>` rule the fast scanner replicates (the scanner's
    cdata_re is only the candidate finder; the real exit check is the
    full _ENDTAGFIND match). Pre-security-patch CPythons used the bare
    `</\\s*tag` interesting pattern, whose bogus-endtag handling inside
    CDATA differs — the fast path must stand down there."""
    try:
        p = _hp.HTMLParser()
        p.set_cdata_mode("script")
        return p.interesting.pattern == r"</\s*script\s*>"
    except Exception:  # noqa: BLE001 — any probe surprise disables fast path
        return False


_FAST_PATH_OK = (
    all(r is not None for r in (_TAGFIND_TOL, _LOCATESTART, _ENDTAGFIND, _ATTRFIND))
    and _probe_stdlib_cdata()
)
_COMMENTCLOSE = re.compile(r"--\s*>")
# Tags whose start/end the block parser reacts to at all — the fast
# scanner skips the handler call for everything else (handle_starttag/
# handle_endtag are no-ops outside this set, and the call overhead is
# ~5% of scan time on tag-dense pages).
_DISPATCH_TAGS = _SKIP_TAGS | _BLOCK_TAGS | {"a", "body"}
_ATTR_END_LETTERS = "abcdefghijklmnopqrstuvwxyz=/ABCDEFGHIJKLMNOPQRSTUVWXYZ"
_ASCII_LETTERS = frozenset("abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ")


def _starttag_end(html: str, i: int, endpos: int) -> str:
    """The terminator stdlib parse_starttag sees for the whole start tag
    html[i:endpos]: what its attribute loop leaves, stripped. A bare
    attribute value runs up to '>', so in `<a href=x/>` the '/' is part
    of the value and the tag opens rather than self-closes."""
    k = _TAGFIND_TOL.match(html, i + 1).end()
    while k < endpos:
        m = _ATTRFIND.match(html, k)
        if not m:
            break
        k = m.end()
    return html[k:endpos].strip()


class _NeedsStdlib(Exception):
    """Construct the fast scanner doesn't replicate (marked sections,
    exotic declarations) — caller falls back to the stdlib path."""


def _scan_tokens(html: str, h: _BlockParser) -> None:
    """Hand-rolled one-shot tokenizer driving the SAME _BlockParser
    callbacks as stdlib html.parser with convert_charrefs=True.

    Why: html.parser's goahead/updatepos bookkeeping is most of the
    extraction CPU (profiled ~60%); this scanner is ~2x faster. It
    replicates the stdlib branch semantics exactly — same tolerant
    regexes for tag names/attributes, same '</ P>' endtag quirk, same
    CDATA (script/style) exit rule (strict `</\\s*name\\s*>` only), same
    malformed-start-tag data emission, same EOF recovery — and raises
    _NeedsStdlib on constructs it doesn't cover (`<![`...) so
    parse_blocks_fast can fall back wholesale. Equivalence is pinned by
    corpus + hypothesis differential tests in tests/test_extract_golden.py.
    """
    n = len(html)
    i = 0
    find = html.find
    cdata: str | None = None
    cdata_re = None

    def emit_text(seg: str) -> None:
        if seg:
            h.handle_data(_unescape(seg) if "&" in seg else seg)

    def eof_recover(pos: int) -> int:
        # goahead(end=1) on k<0: data up to the next '>'+1, else next '<',
        # else one char
        k = find(">", pos + 1)
        if k < 0:
            k = find("<", pos + 1)
            if k < 0:
                k = pos + 1
        else:
            k += 1
        seg = html[pos:k]
        if cdata is None:
            emit_text(seg)
        else:
            h.handle_data(seg)
        return k

    while i < n:
        if cdata is None:
            j = find("<", i)
            if j < 0:
                emit_text(html[i:])
                return
            if i < j:
                emit_text(html[i:j])
            i = j
        else:
            m = cdata_re.search(html, i)
            if not m:
                # unterminated script/style: stdlib drops trailing cdata text
                return
            if m.start() > i:
                h.handle_data(html[i : m.start()])
            i = m.start()

        nxt = html[i + 1 : i + 2]
        if nxt in _ASCII_LETTERS:  # starttagopen = <[a-zA-Z]
            # --- parse_starttag + check_for_whole_start_tag ---
            m = (_LOCATESTART_NAMED or _LOCATESTART).match(html, i)
            j = m.end()
            ch = html[j : j + 1]
            if ch == ">":
                endpos = j + 1
            elif ch == "/" and html.startswith("/>", j):
                endpos = j + 2
            elif ch == "" or ch == "/" or ch in _ATTR_END_LETTERS:
                i = eof_recover(i)  # incomplete at EOF
                continue
            else:
                endpos = j if j > i else i + 1  # bogus input: emit as data
                h.handle_data(html[i:endpos])
                i = endpos
                continue
            if _LOCATESTART_NAMED is not None:
                tag = m.group(1).lower()
            else:
                tag = _TAGFIND_TOL.match(html, i + 1).group(1).lower()
            # stdlib re-derives the '>' / '/>' terminator through the attr
            # loop; _LOCATESTART already consumed the attrs, so the
            # terminator is endpos[-1] ('>') or '/>' — unless a bare
            # attribute value ('=' needed) swallowed the '/'.
            end = html[endpos - 2 : endpos]
            if end == "/>" and "=" in html[i:endpos]:
                end = _starttag_end(html, i, endpos)
                if end not in (">", "/>"):
                    h.handle_data(html[i:endpos])
                    i = endpos
                    continue
            if end == "/>":
                if tag in _BLOCK_TAGS:  # handle_startendtag no-ops otherwise
                    h.handle_startendtag(tag, [])
            else:
                if tag in _DISPATCH_TAGS:
                    h.handle_starttag(tag, [])
                if tag in ("script", "style"):  # CDATA_CONTENT_ELEMENTS
                    cdata = tag
                    cdata_re = re.compile(r"</\s*%s" % tag, re.IGNORECASE)
            i = endpos
        elif nxt == "/":
            # --- parse_endtag ---
            gt = find(">", i + 1)
            if gt < 0:
                i = eof_recover(i)
                continue
            gtpos = gt + 1
            m = _ENDTAGFIND.match(html, i)
            if not m:
                if cdata is not None:
                    h.handle_data(html[i:gtpos])
                    i = gtpos
                    continue
                nm = _TAGFIND_TOL.match(html, i + 2)
                if not nm:
                    if html[i : i + 3] == "</>":
                        i = i + 3
                    else:  # bogus comment
                        p = find(">", i + 2)
                        i = eof_recover(i) if p == -1 else p + 1
                    continue
                tagname = nm.group(1).lower()
                p = find(">", nm.end())
                if tagname in _DISPATCH_TAGS:
                    h.handle_endtag(tagname)
                i = p + 1  # stdlib returns gtpos+1 even when p == -1 -> 0?
                if p == -1:
                    return  # find('>') == -1 => stdlib returns 0: stops
                continue
            elem = m.group(1).lower()
            if cdata is not None and elem != cdata:
                h.handle_data(html[i:gtpos])
                i = gtpos
                continue
            if elem in _DISPATCH_TAGS:
                h.handle_endtag(elem)
            cdata = None
            cdata_re = None
            i = gtpos
        elif html.startswith("<!--", i):
            m = _COMMENTCLOSE.search(html, i + 4)
            i = eof_recover(i) if not m else m.end()
        elif nxt == "?":
            p = find(">", i + 2)
            i = eof_recover(i) if p < 0 else p + 1
        elif nxt == "!":
            if html[i : i + 3] == "<![":
                raise _NeedsStdlib("marked section")
            if html[i : i + 9].lower() == "<!doctype":
                p = find(">", i + 9)
                i = eof_recover(i) if p == -1 else p + 1
            else:  # bogus comment
                p = find(">", i + 2)
                i = eof_recover(i) if p == -1 else p + 1
        elif i + 1 < n:
            h.handle_data("<")
            i += 1
        else:
            # lone '<' at EOF: goahead breaks, close() emits it as text
            emit_text("<")
            return


def parse_blocks_fast(raw: bytes) -> list[Block]:
    """Page bytes → block list via the fast tokenizer (never raises;
    falls back to the stdlib-parser path on anything it doesn't
    replicate)."""
    if not _FAST_PATH_OK:
        return parse_blocks(raw)
    html = decode_html(raw)
    h = _BlockParser()
    try:
        _scan_tokens(html, h)
    except Exception:  # noqa: BLE001 — same degrade-contract as parse_blocks
        return parse_blocks(raw)
    h._flush()
    return h.blocks
