"""Web-crawl ingestion: WARC demux and HTML main-content extraction.

The first tier of any crawl-scale training corpus (Common Crawl is
~100 TB of WARC per monthly snapshot): split archive files into
records, keep the HTTP responses, and strip boilerplate from the HTML
so only the main content reaches the dedup / quality / language
stages downstream.

Both operators are per-row Arrow passes (:func:`.rows.map_rows`) — zero
shuffle; archive bytes never leave the executor that read them.  At
100 TB parallelism comes from the file grain: WARC snapshots ship as
~1 GB compressed segments, millions of them, so one file per task
saturates any cluster (``spark.sql.files.maxPartitionBytes`` is
irrelevant for whole-file binary reads — each file is one row).  A
single file's records are demuxed sequentially; WARC's
gzip-member-per-record layout would allow intra-file splitting, but
with segment counts >> core counts the file grain is already ideal
and keeps the demux stdlib-pure.

Parity note: the reference platform (pincette-json-streams) has no
crawl tier — this extends the pipeline language the same way the
dedup/similarity/multimodal families do, following the reference's
stage/test conventions (see docs/extension_stages.md).

Public formats only: WARC/1.0 and WARC/1.1 per ISO 28500 (header
block terminated by CRLF CRLF, ``Content-Length`` octets of payload,
two CRLFs between records; files may be plain or gzip, one member per
record or one member for the whole file — ``gzip.decompress`` handles
both since it reads all members).  HTML per the WHATWG spec via
:mod:`html.parser` (stdlib, tolerant of tag soup), with an
Arc90-readability-style block filter: segment text at block-level
tags, drop ``script/style/noscript/template/svg`` subtrees entirely,
then keep blocks that are long enough and not link-dominated
(navigation, footers and "related links" boxes are mostly anchor
text — the classic link-density signal).
"""

from __future__ import annotations

import gzip
import io
import re
from html.parser import HTMLParser

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pincette_json_streams_spark.functions.rows import map_rows

__all__ = ["html_extract", "warc_records", "extract_main_text",
           "decode_html_bytes", "sitemap_urls", "parse_sitemap"]

# tags that open/close a text block for density scoring
_BLOCK_TAGS = frozenset((
    "p", "div", "li", "h1", "h2", "h3", "h4", "h5", "h6", "td", "th",
    "tr", "ul", "ol", "table", "article", "section", "header",
    "footer", "nav", "aside", "blockquote", "pre", "br", "main",
    "figure", "figcaption", "dd", "dt", "dl", "form", "body",
))
# subtrees that contribute NO text at all
_SKIP_TAGS = frozenset(("script", "style", "noscript", "template",
                        "svg", "iframe"))
# void elements never appear on the skip stack (no close tag)
_VOID = frozenset(("br", "hr", "img", "meta", "link", "input"))


class _MainText(HTMLParser):
    """One-pass block segmenter: text runs accumulate into the
    current block; block-level tags flush it; anchor depth tracks how
    many of the block's characters are link text."""

    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.blocks: list[tuple[str, int]] = []  # (text, link_chars)
        self.title_parts: list[str] = []
        self._parts: list[str] = []
        self._link_chars = 0
        self._a_depth = 0
        self._skip_depth = 0
        self._in_title = False

    def _flush(self):
        text = " ".join("".join(self._parts).split())
        if text:
            self.blocks.append((text, self._link_chars))
        self._parts = []
        self._link_chars = 0

    def handle_starttag(self, tag, attrs):
        if tag in _SKIP_TAGS:
            self._skip_depth += 1
            return
        if self._skip_depth:
            return
        if tag == "title":
            self._in_title = True
        elif tag == "a":
            self._a_depth += 1
        if tag in _BLOCK_TAGS:
            self._flush()

    def handle_endtag(self, tag):
        if tag in _SKIP_TAGS:
            self._skip_depth = max(0, self._skip_depth - 1)
            return
        if self._skip_depth:
            return
        if tag == "title":
            self._in_title = False
        elif tag == "a":
            self._a_depth = max(0, self._a_depth - 1)
        if tag in _BLOCK_TAGS:
            self._flush()

    def handle_data(self, data):
        if self._skip_depth:
            return
        if self._in_title:
            self.title_parts.append(data)
            return
        self._parts.append(data)
        if self._a_depth:
            self._link_chars += len(data)


# --- fast-path scanner (r12 optimization) ---------------------------------
#
# html.parser spends ~50 us per TAG in interpreter overhead (goahead /
# parse_starttag / updatepos), which makes the extractor the dominant
# per-byte cost of the whole crawl tier (~2.8 MB/s measured).  Pages in
# the SAFE class below are tokenized by one compiled regex instead —
# identical output, ~10x less Python per tag.  Anything outside the
# class (quote-in-name soup, spaced `</ tag`, unterminated constructs,
# stray `<` in text) falls back to the html.parser path, so tolerance
# for arbitrary tag soup is exactly what it was.
#
# SAFE class: every `<` begins a comment, a `<!...>` / `<?...>`
# declaration, or a `</?name ...>` tag whose attributes contain `<`/`>`
# only inside single- or double-quoted values that themselves contain
# neither.  Within the class, `<[^>]*>`-style tokenization provably
# agrees with html.parser's incremental scanner: tags cannot contain an
# unquoted `>`, quoted values cannot hide one, and CDATA content
# (script/style) is skipped to the literal `</name` exactly like
# set_cdata_mode does.  Possessive quantifiers keep the safety check
# O(bytes) with no backtracking.
_ATTRS = "(?:[^<>\"'/]|/(?!>)|\"[^\"<>]*\"|'[^'<>]*')*+"
# the SAFE classifier's attr alternative additionally rejects NUL
# anywhere in a tag: html.parser's tagfind_tolerant name class excludes
# \x00, so `<p\x00 ...>` is emitted as literal DATA by html.parser while
# a naive tokenizer would eat it as a tag — NUL bytes are common in
# real decoded crawl pages, so such pages must take the fallback
_ATTRS_SAFE = "(?:[^<>\"'/\x00]|/(?!>)|\"[^\"<>\x00]*\"|'[^'<>\x00]*')*+"
# comment bodies must contain no `--` at all: html.parser terminates a
# comment at `--\s*>` (not only the literal `-->`), so any interior
# `--` could end it earlier than the regex — outside the safe class
_COMMENT = r"!--(?:[^-]|-(?!-))*+-->"
# declarations exclude marked sections (`<![`): html.parser's
# parse_marked_section scans `<![CDATA[..]]>` to the literal `]]>`
# and drops it whole, while `![^<>]*>` would end at the first `>`
# and leak the remainder as text — outside the safe class.
# End-tag and start-tag name classes are IDENTICAL (both exclude
# quotes and NUL): a SAFE end-tag must tokenize under _TOKEN_RX,
# whose _ATTRS cannot absorb a lone quote — `</p'>` previously
# classified SAFE but failed to tokenize, leaking the literal tag
# into block text.  SAFE must always be a SUBSET of what _TOKEN_RX
# tokenizes html.parser-identically.
_SAFE_RX = re.compile(
    r"(?s)[^<]*+(?:<(?:" + _COMMENT + r"|!(?!\[)[^<>]*+>|\?[^<>]*+>"
    r"|/[a-zA-Z][^\t\n\r\f /><\"'\x00]*+\s*+>"
    r"|[a-zA-Z][^\t\n\r\f /><\"'\x00]*+" + _ATTRS_SAFE
    + r"/?+>)[^<]*+)*+")
_TOKEN_RX = re.compile(
    r"(?s)<(?:" + _COMMENT + r"|!(?!\[)[^>]*+>|\?[^>]*+>"
    r"|(/?+)([a-zA-Z][^\t\n\r\f /><\"']*+)" + _ATTRS + r"(/?+)>)")
_CDATA_CLOSE = {
    t: re.compile(r"</\s*%s" % t, re.IGNORECASE)
    for t in ("script", "style")
}


def _fast_scan(html: str):
    """(blocks, title_parts) for a SAFE-class page — byte-for-byte the
    same output _MainText produces (differentially fuzzed in
    tests/test_functions.py)."""
    from html import unescape

    blocks: list[tuple[str, int]] = []
    title_parts: list[str] = []
    parts: list[str] = []
    link_chars = 0
    a_depth = 0
    skip_depth = 0
    in_title = False
    pos = 0
    n = len(html)

    def flush():
        nonlocal link_chars
        text = " ".join("".join(parts).split())
        if text:
            blocks.append((text, link_chars))
        parts.clear()
        link_chars = 0

    def data(seg, raw=False):
        nonlocal link_chars
        if skip_depth or not seg:
            return
        if not raw and "&" in seg:
            seg = unescape(seg)
        if in_title:
            title_parts.append(seg)
            return
        parts.append(seg)
        if a_depth:
            link_chars += len(seg)

    search = _TOKEN_RX.search
    while pos < n:
        m = search(html, pos)
        if m is None:
            data(html[pos:])
            break
        start = m.start()
        if start != pos:
            data(html[pos:start])
        pos = m.end()
        slash, name, trail = m.group(1, 2, 3)
        if name is None:  # comment / declaration / PI
            continue
        name = name.lower()
        closing, self_closing = slash == "/", trail == "/"
        if not closing:
            if name in _SKIP_TAGS:
                skip_depth += 1
            elif not skip_depth:
                if name == "title":
                    in_title = True
                elif name == "a":
                    a_depth += 1
                if name in _BLOCK_TAGS:
                    flush()
            if name in _CDATA_CLOSE and not self_closing:
                # html.parser CDATA: raw until the literal `</name`
                end = _CDATA_CLOSE[name].search(html, pos)
                stop = end.start() if end else n
                data(html[pos:stop], raw=True)
                pos = stop
        if closing or self_closing:
            if name in _SKIP_TAGS:
                skip_depth = max(0, skip_depth - 1)
            elif not skip_depth:
                if name == "title":
                    in_title = False
                elif name == "a":
                    a_depth = max(0, a_depth - 1)
                if name in _BLOCK_TAGS:
                    flush()
    flush()
    return blocks, title_parts


def extract_main_text(
    html: str,
    min_block_chars: int = 15,
    max_link_density: float = 0.4,
) -> tuple:
    """(title, text, n_blocks) for one HTML document, or
    (None, None, None) if it cannot be parsed at all.

    A block survives when its whitespace-collapsed text has at least
    ``min_block_chars`` characters AND at most ``max_link_density`` of
    them are anchor text; survivors join with a single newline.
    Pure-Python on purpose: the hot path is the Arrow batch loop in
    :func:`html_extract`, and the parse is O(bytes) with no
    backtracking.  SAFE-class pages (see ``_SAFE_RX``) take the
    compiled-regex fast scanner; everything else keeps the tolerant
    html.parser path — identical output either way (differentially
    fuzzed)."""
    if html is None:
        return (None, None, None)
    if _SAFE_RX.fullmatch(html) is not None:
        blocks, title_parts = _fast_scan(html)
    else:
        p = _MainText()
        try:
            p.feed(html)
            p.close()
        except Exception:
            return (None, None, None)
        p._flush()
        blocks, title_parts = p.blocks, p.title_parts
    title = " ".join("".join(title_parts).split())
    kept = [
        t for t, link_chars in blocks
        if len(t) >= min_block_chars
        and link_chars <= max_link_density * len(t)
    ]
    return (title, "\n".join(kept), len(kept))


_BOMS = (
    (b"\xef\xbb\xbf", "utf-8-sig"),
    (b"\xff\xfe\x00\x00", "utf-32-le"),
    (b"\x00\x00\xfe\xff", "utf-32-be"),
    (b"\xff\xfe", "utf-16-le"),
    (b"\xfe\xff", "utf-16-be"),
)
_META_CHARSET = re.compile(
    rb"""<meta[^>]+charset\s*=\s*["']?([A-Za-z0-9_.:-]+)""",
    re.IGNORECASE)
_CT_CHARSET = re.compile(r"charset\s*=\s*\"?([A-Za-z0-9_.:-]+)",
                         re.IGNORECASE)


def decode_html_bytes(b, content_type: str | None = None) -> str | None:
    """Bytes -> text with the crawl-world charset ladder: BOM first
    (the spec's strongest signal), then the HTTP ``Content-Type``
    charset parameter, then a ``<meta charset>`` /
    ``http-equiv Content-Type`` scan of the first 2 KiB, then UTF-8,
    and finally latin-1 — which never fails, so a page always decodes
    to SOMETHING the extractor can segment (mojibake text still
    dedups/quality-gates correctly downstream; a dropped page does
    not)."""
    if b is None:
        return None
    b = bytes(b)
    for bom, enc in _BOMS:
        if b.startswith(bom):
            try:
                return b[len(bom):].decode(
                    "utf-8" if enc == "utf-8-sig" else enc)
            except UnicodeDecodeError:
                break
    for cand in (
        (_CT_CHARSET.search(content_type).group(1)
         if content_type and _CT_CHARSET.search(content_type)
         else None),
        (_META_CHARSET.search(b[:2048]).group(1).decode("ascii")
         if _META_CHARSET.search(b[:2048]) else None),
        "utf-8",
    ):
        if not cand:
            continue
        try:
            return b.decode(cand)
        except (UnicodeDecodeError, LookupError):
            continue
    return b.decode("latin-1")


def html_extract(
    df: DataFrame,
    html_col: str = "html",
    title_col: str = "title",
    text_col: str = "text",
    blocks_col: str = "n_blocks",
    min_block_chars: int = 15,
    max_link_density: float = 0.4,
    content_type_col: str | None = None,
) -> DataFrame:
    """Boilerplate removal: append the page ``<title>``, the
    extracted main text and the surviving block count to every row.

    A binary ``html_col`` (e.g. straight from :func:`warc_records`)
    decodes through :func:`decode_html_bytes` — BOM, then the
    ``content_type_col`` charset parameter (pass
    ``"http_content_type"`` after the demux), then ``<meta charset>``,
    then UTF-8, then latin-1.  Undecodable/NULL HTML yields NULL
    outputs — honest absence, the multimodal decoders' contract.
    Streaming-legal (stateless per-row map) and zero-shuffle; at
    100 TB this runs at the scan's parallelism with nothing on the
    wire.
    """
    from pyspark.sql import types as T

    is_binary = isinstance(df.schema[html_col].dataType, T.BinaryType)

    def kernel(htmls, cts=None):
        if is_binary:
            htmls = [decode_html_bytes(h, ct)
                     for h, ct in zip(htmls, cts or [None] * len(htmls))]
        return zip(*(extract_main_text(h, min_block_chars,
                                       max_link_density) for h in htmls))

    inputs = [html_col] + ([content_type_col]
                           if is_binary and content_type_col else [])
    return map_rows(df, kernel, inputs, [
        (title_col, "string"), (text_col, "string"),
        (blocks_col, "bigint")])


def _parse_warc(buf: bytes) -> list:
    """Records of one (decompressed) WARC file:
    (warc_type, record_id, target_uri, warc_date, content_type,
    http_status, payload).  Tolerant: stops at the first malformed
    record rather than guessing — partial demux of a truncated file
    is the honest result."""
    out = []
    pos = 0
    n = len(buf)
    while pos < n:
        # skip inter-record CRLFs
        while pos < n and buf[pos:pos + 2] == b"\r\n":
            pos += 2
        if not buf.startswith(b"WARC/", pos):
            break
        hdr_end = buf.find(b"\r\n\r\n", pos)
        if hdr_end < 0:
            break
        headers = {}
        for line in buf[pos:hdr_end].split(b"\r\n")[1:]:
            k, _, v = line.partition(b":")
            headers[k.strip().lower()] = v.strip()
        try:
            length = int(headers.get(b"content-length", b""))
        except ValueError:
            break
        body = hdr_end + 4
        if body + length > n:
            break
        payload = buf[body:body + length]
        http_status = None
        http_content_type = None
        if payload.startswith(b"HTTP/"):
            line_end = payload.find(b"\r\n")
            parts = payload[:line_end].split(b" ", 2)
            if len(parts) >= 2 and parts[1].isdigit():
                http_status = int(parts[1])
            pe = payload.find(b"\r\n\r\n")
            if pe >= 0:
                for hl in payload[line_end + 2:pe].split(b"\r\n"):
                    hk, _, hv = hl.partition(b":")
                    if hk.strip().lower() == b"content-type":
                        http_content_type = hv.strip().decode(
                            "utf-8", "replace")
                        break
                payload = payload[pe + 4:]

        def s(key):
            v = headers.get(key)
            return v.decode("utf-8", "replace") if v is not None else None

        out.append((
            s(b"warc-type"), s(b"warc-record-id"),
            s(b"warc-target-uri"), s(b"warc-date"),
            s(b"content-type"), http_status, http_content_type,
            payload,
        ))
        pos = body + length
    return out


_WARC_FIELDS = [
    ("warc_type", "string"), ("record_id", "string"),
    ("target_uri", "string"), ("warc_date", "string"),
    ("content_type", "string"), ("http_status", "bigint"),
    ("http_content_type", "string"), ("payload", "binary"),
]


def _demux(df: DataFrame, data_col: str, keep_cols: list | None,
           parse, fields: list) -> DataFrame:
    """Flat-map shared by the archive demuxes: one output row per
    record ``parse`` finds in each non-NULL ``data_col`` document,
    gzip payloads (all members) inflated first; an undecodable gzip
    yields no rows.  ``keep_cols`` (default: every input column but
    ``data_col``) pass through onto each record row."""
    def kernel(docs):
        idx: list = []
        cols: list = [[] for _ in fields]
        for i, raw in enumerate(docs):
            if raw is None:
                continue
            if isinstance(raw, bytes) and raw[:2] == b"\x1f\x8b":
                try:  # all members: per-record OR whole-file gzip
                    raw = gzip.decompress(raw)
                except Exception:
                    continue
            found = parse(raw)
            idx.extend([i] * len(found))
            for col, vals in zip(cols, zip(*found)):
                col.extend(vals)
        return [idx, *cols]

    keep = [c for c in (keep_cols if keep_cols is not None
                        else df.columns) if c != data_col]
    return map_rows(df, kernel, [data_col], fields, keep=keep)


def warc_records(
    df: DataFrame,
    data_col: str = "warc",
    keep_cols: list | None = None,
) -> DataFrame:
    """Demux WARC files (one binary per row, plain or gzip) into one
    row per record: WARC headers as columns plus the raw payload —
    for ``response``/``request`` records the HTTP envelope is split
    off (``http_status`` column, body in ``payload``).

    ``keep_cols`` (default: every input column except ``data_col``)
    pass through onto each record row.  Scale shape: stateless
    flat-map over Arrow batches, zero shuffle; one ~1 GB segment per
    task is the Common Crawl grain.
    """
    return _demux(df, data_col, keep_cols, _parse_warc, _WARC_FIELDS)


def gzip_members(records: list) -> bytes:
    """Helper for tests/synthesis: compress each byte string as its
    own gzip member (the Common Crawl record-per-member layout) and
    concatenate — ``warc_records`` must demux this identically to the
    plain file."""
    out = io.BytesIO()
    for rec in records:
        out.write(gzip.compress(rec))
    return out.getvalue()


def parse_sitemap(xml_text: str) -> list:
    """One sitemap document -> [(kind, loc, lastmod, changefreq,
    priority)] per the sitemaps.org protocol: ``<urlset>`` entries
    yield kind ``"url"``, ``<sitemapindex>`` entries kind
    ``"sitemap"`` (the frontier follows those to more sitemaps).
    Namespace-agnostic (tags match on local name), XML entities
    decode via the parser, malformed documents yield [] — honest
    absence.  Gzip payloads (sitemap.xml.gz) are handled by the
    caller-facing :func:`sitemap_urls`."""
    import xml.etree.ElementTree as ET

    if not xml_text:
        return []
    try:
        root = ET.fromstring(xml_text)
    except ET.ParseError:
        return []

    def local(tag):
        return tag.rsplit("}", 1)[-1].lower()

    kind = {"urlset": "url", "sitemapindex": "sitemap"}.get(
        local(root.tag))
    if kind is None:
        return []
    out = []
    for entry in root:
        if local(entry.tag) not in ("url", "sitemap"):
            continue
        fields = {"loc": None, "lastmod": None, "changefreq": None,
                  "priority": None}
        for child in entry:
            name = local(child.tag)
            if name in fields and child.text is not None:
                fields[name] = child.text.strip()
        if fields["loc"]:
            try:
                prio = (float(fields["priority"])
                        if fields["priority"] is not None else None)
            except ValueError:
                prio = None
            out.append((kind, fields["loc"], fields["lastmod"],
                        fields["changefreq"], prio))
    return out


_SITEMAP_FIELDS = [
    ("kind", "string"), ("loc", "string"), ("lastmod", "string"),
    ("changefreq", "string"), ("priority", "double"),
]


def sitemap_urls(
    df: DataFrame,
    xml_col: str = "sitemap",
    keep_cols: list | None = None,
) -> DataFrame:
    """Explode sitemap documents (string XML or binary, plain or
    gzip — ``sitemap.xml.gz`` is the protocol's standard transport)
    into one row per ``<url>``/``<sitemap>`` entry.  Stateless Arrow
    flat-map like :func:`warc_records`: zero shuffle, streaming-legal,
    file-grain parallelism.  ``kind`` distinguishes leaf URLs from
    index entries (feed the latter back to the fetcher)."""
    def parse(raw):
        if isinstance(raw, bytes):
            raw = raw.decode("utf-8", "replace")
        return parse_sitemap(raw)

    return _demux(df, xml_col, keep_cols, parse, _SITEMAP_FIELDS)
