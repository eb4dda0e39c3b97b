"""Focused pins for the round-8 fused fast paths (parser.py).

Each case exercises a boundary between a fast-path regex and the general
state machine; expected values were captured from the pre-optimization
parser and byte-verified by bench/parity_dump.py over 20k corpus docs +
101 fixtures before being pinned here.
"""
import sys

sys.path.insert(0, "/root/repo")

from fortissimo_spark.dom import (  # noqa: E402
    EXPLICITLY_CLOSED, SELF_CLOSED, UNCLOSED, VOID_CLOSED,
)
from fortissimo_spark.parser import parse  # noqa: E402


def _attrs(b, node):
    nd = b.nodes[node]
    return list(zip(nd[14], nd[15], nd[16], nd[17], nd[18]))


def _els(result):
    b = result.dom
    return [i for i, nd in enumerate(b.nodes) if nd[0] == 0 and i != 0]


def test_literal_lt_pairwise_consumption():
    # '<' not followed by a markup-start char consumes the NEXT char too:
    # '<<p>>' must stay one text node (no <p> element)
    r = parse("<<p>>")
    assert r.errors == 1 and not _els(r)
    assert r.to_string() == "<<p>>"
    # but '<<<p>' re-synchronizes: the third '<' starts a real tag
    r = parse("<<<p>")
    assert [r.dom.nodes[e][2] for e in _els(r)] == ["p"]


def test_unquoted_value_trailing_slash_selfclose():
    r = parse("<a b=1/>")
    (el,) = _els(r)
    assert _attrs(r.dom, el) == [("b", "1", " ", "=", "")]
    assert r.dom.nodes[el][5] == SELF_CLOSED
    assert r.to_string() == "<a b=1/>"


def test_unterminated_quote_runs_to_eof():
    r = parse('<a b="unterminated')
    (el,) = _els(r)
    assert _attrs(r.dom, el) == [("b", "unterminated", " ", "=", '_"')]
    assert r.errors == 1 and r.dom.nodes[el][5] == UNCLOSED
    assert r.to_string() == '<a b="unterminated'


def test_astral_chars_are_tag_whitespace():
    # astral-plane chars count as whitespace inside tags (reference quirk)
    r = parse("<a \U00010000 b=1>")
    (el,) = _els(r)
    assert _attrs(r.dom, el) == [("b", "1", " \U00010000 ", "=", "")]
    assert r.errors == 0
    assert r.to_string() == "<a \U00010000 b=1>"


def test_attrless_tag_resets_pending_charset():
    # an intervening attribute-less tag must clear a pending charset
    # exactly like any other start tag (the content-type two-step)
    r = parse("<meta content='charset=latin-1'><br>"
              "<meta http-equiv='content-type' content='x'>")
    assert r.charset is None
    # without the intervening tag the pending charset survives
    r2 = parse("<meta content='charset=latin-1' "
               "http-equiv='content-type'>")
    assert r2.charset == "latin-1"


def test_stray_slash_attribute():
    r = parse("<a b / c>")
    (el,) = _els(r)
    assert _attrs(r.dom, el) == [
        ("b", "", " ", "", ""), ("/", "", " ", "", ""),
        ("c", "", " ", "", "")]
    assert r.to_string() == "<a b / c>"


def test_quote_adjacent_attributes_take_the_general_machine():
    # a quoted value that closes before the tag's last quote is followed
    # by more attributes: node-level pins (round-trip alone hides this)
    for q in ('"', "'"):
        src = f"<a b={q}x{q}c={q}y{q}>"
        r = parse(src)
        (el,) = _els(r)
        assert _attrs(r.dom, el) == [("b", "x", " ", "=", q),
                                     ("c", "y", "", "=", q)]
        assert r.errors == 0 and r.to_string() == src
        # same attributes as the general machine (a first attribute keeps
        # the tag off the single-attribute fast path)
        g = parse(f"<a z=1 b={q}x{q}c={q}y{q}>")
        (gel,) = _els(g)
        assert _attrs(g.dom, gel)[1:] == _attrs(r.dom, el)


def test_equals_then_gt_is_valueless_with_inner_ws():
    r = parse("<a b= >")
    (el,) = _els(r)
    assert _attrs(r.dom, el) == [("b", "", " ", "=", "")]
    assert r.dom.nodes[el][19] == " "  # inner whitespace
    assert r.to_string() == "<a b= >"


def test_end_tag_with_ws_before_gt():
    r = parse("<x></x \t>")
    (el,) = _els(r)
    assert r.dom.nodes[el][5] == EXPLICITLY_CLOSED
    assert r.dom.nodes[el][11] == "</x \t>"
    assert r.errors == 0


def test_void_and_raw_text_paths():
    r = parse("<br><script>if (a<b) x();</script>")
    els = _els(r)
    tags = [r.dom.nodes[e][2] for e in els]
    assert tags == ["br", "script"]
    assert r.dom.nodes[els[0]][5] == VOID_CLOSED
    assert r.to_string() == "<br><script>if (a<b) x();</script>"


def test_token_count_contract():
    from fortissimo_spark.kernel import process_document
    d = process_document(b"<p>one two\tthree\nfour</p>")
    assert d["token_count"] == 4
    d = process_document(b"<p> </p>")
    assert d["token_count"] == 0
