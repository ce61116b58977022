"""HTML main-content extraction — the first transform a web-scraped
text lake runs (crawl archives carry HTML; training corpora want the
article text). From-scratch implementation of the PUBLIC HTML syntax
rules that matter for extraction (WHATWG HTML spec: raw-text elements,
comments, character references): a single-pass tag walker that

- strips ``<script>``/``<style>`` WHOLESALE (raw-text elements — a
  ``<p>`` inside a script string is NOT content, and the fixture
  plants exactly that trap),
- drops comments (``<!-- -->``),
- suppresses boilerplate containers (``nav``/``header``/``footer``/
  ``aside`` — the link farms around the article),
- collects paragraph text only inside the main content container,
- decodes character references (named ``amp/lt/gt/quot/apos`` +
  decimal ``&#NN;`` and hex ``&#xHH;`` forms) back to text,
- counts anchors everywhere (link density is the classic
  boilerplate-vs-content quality signal).

The fixture is the multimodal tier's pattern: ``render_doc_html``
derives a deterministic page from each document row (escaped title
with planted ``< > & "`` characters, nav/footer/aside link chrome, the
text chunked into ``<p>`` blocks of 200 chars), so extraction must
recover ``text`` EXACTLY and the SQL oracle is just ``md5(text)`` plus
closed-form chrome arithmetic. Interchange with stdlib
``html.escape``/``html.unescape`` is pinned in tests/test_webtext.py
(pytest-only — the hot path is this module).

Scale posture: render and extract are both map-only Arrow
``mapInPandas`` stages; at 100 TB this is one kernel per input split,
no shuffle anywhere.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from kafka_streams_common_spark.rowkernel import row_kernel

PARA_CHARS = 200

_NAV_LINKS = [
    ("Home", "/home"),
    ("About", "/about"),
    ("Archive", "/archive"),
    ("Contact", "/contact"),
]

_RAW_TEXT_TAGS = ("script", "style")
_SUPPRESS_TAGS = ("nav", "header", "footer", "aside")

_NAMED_REFS = {"amp": "&", "lt": "<", "gt": ">", "quot": '"', "apos": "'"}


def escape_html(s: str) -> str:
    """Minimal correct HTML escaping for text content and double-quoted
    attribute values: ``&`` FIRST, then ``< > "``."""
    return (
        s.replace("&", "&amp;")
        .replace("<", "&lt;")
        .replace(">", "&gt;")
        .replace('"', "&quot;")
    )


def unescape_html(s: str) -> str:
    """Decode named (amp/lt/gt/quot/apos), decimal and hex character
    references. Unterminated or unknown references pass through
    verbatim (the browser-observable behavior for the legacy-free
    subset)."""
    if "&" not in s:
        return s
    out: list[str] = []
    i, n = 0, len(s)
    while i < n:
        c = s[i]
        if c != "&":
            out.append(c)
            i += 1
            continue
        semi = s.find(";", i + 1, i + 12)
        if semi == -1:
            out.append(c)
            i += 1
            continue
        body = s[i + 1 : semi]
        if body in _NAMED_REFS:
            out.append(_NAMED_REFS[body])
            i = semi + 1
        elif body.startswith("#x") or body.startswith("#X"):
            try:
                out.append(chr(int(body[2:], 16)))
                i = semi + 1
            except ValueError:
                out.append(c)
                i += 1
        elif body.startswith("#"):
            try:
                out.append(chr(int(body[1:], 10)))
                i = semi + 1
            except ValueError:
                out.append(c)
                i += 1
        else:
            out.append(c)
            i += 1
    return "".join(out)


def title_for(doc_id: int, lang: str) -> str:
    """The planted title — carries ``< > & "`` so escaping is
    load-bearing for the title column's hash."""
    return f'Doc {doc_id} <{lang}> & "notes"'


def render_doc_html(doc_id: int, text: str, lang: str) -> str:
    """One deterministic page per document: head with escaped title, a
    <style> block, a <script> block that CONTAINS ``<p>`` markup inside
    a string literal (the raw-text trap), a comment, nav chrome with
    ``doc_id % 3 + 2`` links, the article as <h1> + 200-char <p>
    chunks inside ``<div id="main">``, an <aside> ad link, and a
    footer with two links and a non-content <p>."""
    nav_n = doc_id % 3 + 2
    nav = "".join(
        f'<a href="{href}">{label}</a>' for label, href in _NAV_LINKS[:nav_n]
    )
    paras = "".join(
        f"<p>{escape_html(text[i : i + PARA_CHARS])}</p>"
        for i in range(0, len(text), PARA_CHARS)
    )
    return (
        "<!DOCTYPE html>\n"
        f'<html lang="{lang}">\n'
        "<head>\n"
        '<meta charset="utf-8">\n'
        f"<title>{escape_html(title_for(doc_id, lang))}</title>\n"
        "<style>body { margin:0 } nav a { color:#357 }</style>\n"
        '<script type="text/javascript">\n'
        f'var t = {doc_id}; if (t < 10) {{ log("<p>not content</p>"); }}\n'
        "</script>\n"
        "</head>\n"
        "<body>\n"
        f"<!-- staticgen build {doc_id % 5} <p>also not content</p> -->\n"
        f"<header><nav>{nav}</nav></header>\n"
        '<div id="main">\n'
        f"<h1>Doc {doc_id}</h1>\n"
        f"{paras}\n"
        "</div>\n"
        '<aside><a href="/ads">Sponsored</a> you may also like</aside>\n'
        '<footer><a href="/tos">Terms</a><a href="/privacy">Privacy</a>'
        "<p>(c) 2026 example.org</p></footer>\n"
        "</body>\n"
        "</html>\n"
    )


class _Extract:
    """Single-pass extraction state."""

    __slots__ = (
        "title",
        "h1",
        "lang",
        "main_parts",
        "n_paragraphs",
        "n_links",
    )

    def __init__(self) -> None:
        self.title = ""
        self.h1 = ""
        self.lang = ""
        self.main_parts: list[str] = []
        self.n_paragraphs = 0
        self.n_links = 0


def _parse_attrs(tag_body: str) -> dict[str, str]:
    """Attributes of one tag body (after the name), double-quoted
    values only — the subset the renderer emits and crawlers normalize
    to."""
    attrs: dict[str, str] = {}
    i, n = 0, len(tag_body)
    while i < n:
        while i < n and tag_body[i] in " \t\n/":
            i += 1
        j = i
        while j < n and tag_body[j] not in "= \t\n>/":
            j += 1
        if j == i:
            break
        name = tag_body[i:j].lower()
        i = j
        while i < n and tag_body[i] in " \t\n":
            i += 1
        if i < n and tag_body[i] == "=":
            i += 1
            while i < n and tag_body[i] in " \t\n":
                i += 1
            if i < n and tag_body[i] == '"':
                end = tag_body.index('"', i + 1)
                attrs[name] = tag_body[i + 1 : end]
                i = end + 1
            else:
                j = i
                while j < n and tag_body[j] not in " \t\n>":
                    j += 1
                attrs[name] = tag_body[i:j]
                i = j
        else:
            attrs[name] = ""
    return attrs


def extract_main_text(html: str) -> _Extract:
    """Walk the page once: comments and raw-text elements consumed
    wholesale, boilerplate containers suppressed by a depth counter,
    ``<p>`` text collected only inside ``div id="main"`` outside any
    suppressed container, character references decoded, anchors
    counted everywhere (including chrome — that is the point of a
    link-density signal)."""
    st = _Extract()
    i, n = 0, len(html)
    suppress = 0
    in_main = 0
    main_div_depth = -1
    div_depth = 0
    cur_text: list[str] | None = None  # collecting buffer for p/title/h1
    cur_target = ""
    while i < n:
        lt = html.find("<", i)
        if lt == -1:
            break
        if lt > i and cur_target:
            cur_text.append(html[i:lt])
        i = lt
        if html.startswith("<!--", i):
            end = html.find("-->", i + 4)
            i = n if end == -1 else end + 3
            continue
        gt = html.find(">", i + 1)
        if gt == -1:
            break
        body = html[i + 1 : gt]
        i = gt + 1
        if not body:
            continue
        closing = body.startswith("/")
        name_part = body[1:] if closing else body
        k = 0
        while k < len(name_part) and name_part[k] not in " \t\n/>":
            k += 1
        tag = name_part[:k].lower()
        attr_str = name_part[k:]
        if not closing and tag in _RAW_TEXT_TAGS:
            end = html.lower().find(f"</{tag}", i)
            if end == -1:
                raise ValueError(f"unterminated <{tag}> element")
            i = html.find(">", end) + 1
            continue
        if tag in _SUPPRESS_TAGS:
            suppress += -1 if closing else 1
            if suppress < 0:
                raise ValueError(f"unbalanced </{tag}>")
            continue
        if tag == "a" and not closing:
            st.n_links += 1
            continue
        if tag == "html" and not closing:
            st.lang = _parse_attrs(attr_str).get("lang", "")
            continue
        if tag == "div":
            if not closing:
                div_depth += 1
                if _parse_attrs(attr_str).get("id") == "main" and not suppress:
                    in_main += 1
                    main_div_depth = div_depth
            else:
                if in_main and div_depth == main_div_depth:
                    in_main -= 1
                    main_div_depth = -1
                div_depth -= 1
            continue
        if tag in ("title", "h1", "p"):
            if not closing:
                if tag == "p" and (suppress or not in_main):
                    continue
                cur_text = []
                cur_target = tag
            else:
                if cur_target != tag:
                    continue  # a </p> for a suppressed <p>
                joined = unescape_html("".join(cur_text))
                if tag == "title":
                    st.title = joined
                elif tag == "h1":
                    if in_main and not suppress:
                        st.h1 = joined
                else:
                    st.main_parts.append(joined)
                    st.n_paragraphs += 1
                cur_text = None
                cur_target = ""
            continue
    if suppress:
        raise ValueError("unbalanced boilerplate container")
    return st


_EXTRACT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("title", T.StringType(), False),
        T.StructField("lang", T.StringType(), False),
        T.StructField("main_md5", T.StringType(), False),
        T.StructField("main_chars", T.LongType(), False),
        T.StructField("n_paragraphs", T.IntegerType(), False),
        T.StructField("n_links", T.IntegerType(), False),
    ]
)


def _extract_row(page: str) -> dict:
    st = extract_main_text(page)
    main = "".join(st.main_parts)
    if not st.h1.startswith("Doc "):
        raise ValueError(f"main <h1> not recovered: {st.h1!r}")
    return {
        "doc_id": int(st.h1[4:]),
        "title": st.title,
        "lang": st.lang,
        "main_md5": hashlib.md5(main.encode()).hexdigest(),
        "main_chars": len(main),
        "n_paragraphs": st.n_paragraphs,
        "n_links": st.n_links,
    }


def render_docs_html(docs: DataFrame) -> DataFrame:
    """documents → one rendered page per row (map-only); ships WITHOUT
    an id column — extraction must recover the id from the content. The
    input rides ``fan_out`` (r16) so a single-split local lake spreads
    the kernel across the session's cores; a many-split production table
    takes the no-op branch and no exchange is inserted."""
    out_schema = T.StructType([T.StructField("page", T.StringType(), False)])

    def render(d, t, lg):
        yield (render_doc_html(int(d), str(t), str(lg)),)

    from kafka_streams_common_spark.operators.dedup import fan_out

    return row_kernel(fan_out(docs.select("doc_id", "text", "lang")), render, out_schema)


def extract_docs_main_text(pages: DataFrame) -> DataFrame:
    """Map-only extraction over rendered pages: id recovered from the
    article <h1>, title/lang/main-text/chrome stats emitted — every
    column oracle-replayable from ``documents``.
    Reads the ``page`` column."""

    def extract(p):
        yield _extract_row(str(p))

    return row_kernel(pages.select("page"), extract, _EXTRACT_SCHEMA)
