"""Every page kernel reads a page's text exactly as decode_parse decodes it
(no Spark: the kernels run in-process on one pandas batch)."""
import pandas as pd
import pytest

from fortissimo_spark.graph import _outlink_rows
from fortissimo_spark.kernel import (
    decode_parse, doc_kernel, make_analysis_kernel, make_extract_kernel,
    make_format_kernel, make_page_meta_kernel, make_sections_kernel,
    make_selector_kernel, make_stylize_kernel, make_tables_kernel,
)
from fortissimo_spark.robots import _discover_feeds_rows

WORD = "caf\xe9"


def _page(meta: str, pad: int = 0) -> str:
    return ("<html><head>" + ("<!--" + "x" * pad + "-->" if pad else "")
            + meta + f"<title>{WORD}</title>"
            f'<link rel="alternate" type="application/rss+xml" href="/f"'
            f' title="{WORD}"></head><body><h1>{WORD}</h1>'
            f"<p>The {WORD} on the corner serves long breakfasts every day"
            f" of the week.</p><table><tr><td>{WORD}</td></tr></table>"
            f'<a href="/x">{WORD}</a></body></html>')


FIXTURES = {
    # valid UTF-8 that declares ISO-8859-1: the declared codec wins
    "utf8_declares_latin1": (
        _page('<meta charset="iso-8859-1">').encode("utf-8"), "utf-8"),
    # windows-1252 whose only meta sits past the 2048-byte prefix scan
    "cp1252_late_meta": (
        _page('<meta charset="windows-1252">', pad=2100).encode("cp1252"),
        "cp1252"),
    "latin1_early_meta": (
        _page('<meta charset="ISO-8859-1">').encode("iso-8859-1"),
        "iso-8859-1"),
    "utf16le_bom": (
        "\ufeff".encode("utf-16-le") + _page("").encode("utf-16-le"),
        "utf-16-le"),
}


def _run(kernel, raw, **cols):
    pdf = pd.DataFrame({"url": ["http://h/p"], "html": [raw], **cols})
    (out,) = kernel(iter([pdf]))
    return out


@pytest.mark.parametrize("name", sorted(FIXTURES))
def test_every_kernel_makes_the_decode_parse_charset_decision(name):
    raw, enc = FIXTURES[name]
    result, used, _, _ = decode_parse(raw)
    want = WORD.encode(enc).decode(used)
    assert want in result.text
    ts = {"warc_ts": [pd.Timestamp("2024-01-01")]}

    ext = _run(make_extract_kernel(), raw, lang=["en"], **ts)
    assert want in ext["text"][0]
    ana = _run(make_analysis_kernel(), raw, **ts)
    assert want in ana["text"][0]
    assert ana["title_text"][0] == ana["first_h1"][0] == want
    meta = _run(make_page_meta_kernel(), raw)
    assert meta["title_text"][0] == meta["first_h1"][0] == want
    assert _run(make_selector_kernel(), raw)["title_text"][0] == want
    sec = _run(make_sections_kernel(), raw)
    assert want in sec["heading"].tolist()
    assert all(want in t for t in sec["sec_text"])
    assert _run(make_tables_kernel(), raw)["cell"].tolist() == [want]
    links = _run(doc_kernel(_outlink_rows, ("href", "anchor", "nofollow")),
                 raw)
    assert links["anchor"].tolist() == [want]
    feeds = _run(doc_kernel(_discover_feeds_rows,
                            ("feed_href", "feed_kind", "feed_title")), raw)
    assert feeds["feed_title"].tolist() == [want]
    assert want in _run(make_format_kernel(), raw)["formatted_html"][0]
    assert want in _run(make_stylize_kernel(), raw)["stylized_html"][0]
