"""fast_scan ≡ stdlib parser equivalence.

The fast regex scanner must produce the identical DOM for everything
the engine can meet: the golden corpora, the generator's fragment
families, and randomized HTML-ish garbage (hypothesis)."""

import os

import hypothesis
import pytest
from hypothesis import given, settings, strategies as st

from mini_html_parser_spark.datagen import _doc_spans
from mini_html_parser_spark.kernel.dom import parse_document
from mini_html_parser_spark.operators.extract import assemble_html
from test_wiki_golden import DATA_DIR


def dump(node, acc=None):
    acc = [] if acc is None else acc
    acc.append((node.tag, tuple(node.attrib.items()), node.text, node.tail))
    for c in node.children:
        dump(c, acc)
    return acc


def assert_equivalent(html):
    fast_root, _ = parse_document(html, fast=True)
    std_root, _ = parse_document(html, fast=False)
    assert dump(fast_root) == dump(std_root), f"divergence on {html!r}"


# the reference's real Wikipedia page, read from its checkout when
# present (test data, not code)
WIKI_PAGE = os.path.join(DATA_DIR, "raw_wiki_page.txt")


@pytest.mark.skipif(
    not os.path.isfile(WIKI_PAGE), reason="reference wiki page fixture unavailable"
)
def test_wiki_page_equivalent():
    with open(WIKI_PAGE) as f:
        assert_equivalent(f.read())


def test_datagen_corpus_equivalent():
    for i in range(120):
        assert_equivalent(assemble_html(_doc_spans(42, i)))


def test_pinned_edge_cases_equivalent():
    cases = [
        "<p> test </>",
        '<a href="http://example.com""> test </a>',
        "<a class=1, id=2></a>",
        "<br></br>",
        "<div a=1 a=2>t</div>",
        "<input disabled>",
        "x &nbsp; &amp; y &#65; &lt;tag&gt;",
        "<script>if (a<b && c>d) { x='</div>'; }</script>after",
        "<style>a > b { content: '<'; }</style>t",
        "<!-- comment --><p>a</p><!-- unterminated",
        "<!DOCTYPE html><?php echo '>'; ?><p>x</p>",
        "<p>a<p>b<p>c",
        # round-1 advice reproducers (raw-text close search + end tags)
        "<script>a</SCRIPT>b</script>c",
        "<script>a</ script>b",
        "<script>a</scripty>b</script>c",
        "<script>a</script x>b</script>c",
        "<style>a</STYLE >b",
        "<div>a</ div>b",
        "<div>a</ div x>b</div>c",
        "<p>a</1>b",
        "<p>a</-x>b",
        "<p>a</ >b",
        "<p>a<!bogus decl>b",
        "<![CDATA[ x > y ]]><p>q</p>",
        "<![if !IE]>x<![endif]>",
        "<p>tail</p", "</p", "<p>a<!unterminated",
        "<ul><li>a<li>b</ul>",
        "<table><tr><td>a<td>b<tr><td>c</table>",
        "< notatag <p>x</p>",
        "<p>unclosed <b>bold",
        "<p attr='single \" double'>v</p>",
        "<img src=x.png alt=\"a > b\">",
        "<div/>text</div>",
        "text & more",
        "<pre>  kept   spaces\n</pre>",
        # ADVICE r2 high reproducer: Unicode whitespace after the tag
        # name — stdlib tagfind_tolerant trailing \s accepts \xa0 etc.
        "<a\n\xa0href=x>y</a>",
        "<a\x0bhref=x>y</a>",
        "<div\x1cclass=q>t</div>",
        "<p\u2028id=z>w</p>",
        "<b\x85x=1>v</b>",
        "<i\xa0/>s",
    ]
    for html in cases:
        assert_equivalent(html)


_tokens = st.sampled_from([
    "<div>", "</div>", "<p>", "</p>", "<span class='x'>", "</span>",
    "<br>", "<br/>", "<img src=a.png>", "text", " ", "&amp;", "&nbsp;",
    "<", ">", '"', "'", "</>", "<!-- c -->", "<b", "=x>", "<p a=1 b='2'>",
    "<table>", "<tr>", "<td>", "</td>", "</table>", "<li>", "&#65;",
    "\n", "<script>", "</script>", "x<y", "a&b", "<EM>", "</em>",
    # end-tag / raw-text shapes from the round-1 advice: mixed-case,
    # whitespace, name-prefix and bogus close tags, bogus declarations
    "</SCRIPT>", "</ script>", "</scripty>", "</script x>", "</SCRIPT >",
    "</ div>", "</ div x>", "</div x>", "</DIV>", "</1>", "</-x>", "</ >",
    "</p", "<!doctype html>", "<!x y>", "<?pi >", "<style>", "</style>",
    "</STYLE>", "</stylex>",
])


# derandomize: the gate run must be reproducible — exploratory random
# runs happen in development (`pytest -p no:cacheprovider` loops)
@settings(max_examples=300, deadline=None, derandomize=True,
          suppress_health_check=[hypothesis.HealthCheck.too_slow])
@given(st.lists(_tokens, min_size=0, max_size=25))
def test_randomized_equivalence(parts):
    assert_equivalent("".join(parts))


# character soup — no token structure at all.  This is the family that
# exposed the round-1 start-tag divergences (unterminated quoted attr
# values, partial-tag-as-text recovery): markup-ish characters in
# random order hit the tolerant-matcher edge cases that token
# concatenation can't reach.
_SOUP_ALPHABET = (
    "<>/!?-=\"' abPsScCrRiIpPtTyYlLeE&;#x1[]\n"
    # Unicode-whitespace edges (ADVICE r2 high): Python \s includes
    # \x0b \x1c-\x1f \xa0 \u2028 — the tolerant matchers use \s, so the
    # scanner must too.  These chars inside tags exposed the manual
    # ASCII-loop divergence.
    "\x0b\x1c\x1f\xa0\u2028\x85"
)


@settings(max_examples=500, deadline=None, derandomize=True,
          suppress_health_check=[hypothesis.HealthCheck.too_slow])
@given(st.text(alphabet=_SOUP_ALPHABET, min_size=0, max_size=60))
def test_char_soup_equivalence(soup):
    assert_equivalent(soup)
