"""In-repo kernel regression corpus: byte-for-byte pins that need no
external fixture.

Every config below runs over the same corpus — generator documents at
a fixed seed plus hand-built edge cases — and its whole output (text,
malformed flag and every span field, in emission order) is folded
into one md5.  The pinned digests were computed with the kernel as it
stood before the rewrite and linearize passes were merged into one
walk, so any change to extraction output on any of these configs
fails here.

The configs are the named production configs plus length-dependent
ones: alone-rule bounds, with-content bounds (top-down and bottom-up)
and the global length thresholds.  Their rules only guard anything if
they fire on the corpus, so ``test_length_rules_fire`` checks that
each one decides both ways: the output differs from the same config
with the rule unable to fire AND from the same config with the rule
firing whatever the length.
"""

import functools
import hashlib

import pytest

from mini_html_parser_spark import datagen
from mini_html_parser_spark.kernel.config import (
    INF,
    NAMED_CONFIGS,
    ExtractionConfig,
    TagToRemove,
    TagToRemoveWithContent,
    boilerplate_strip_config,
)
from mini_html_parser_spark.kernel.extract import make_extract_fn
from mini_html_parser_spark.operators.extract import assemble_html

SEED = 42
N_DOCS = 300
# the ~1 % giant documents (0.5-2 MB of repeated fragments) would make
# up 80 % of the bytes and add no shape the medium ones lack; the
# giant and deep-nesting shapes are tests/test_kernel_stress.py's
MAX_DOC_CHARS = 64_000
# documents used to show that each length rule fires
N_FIRE_DOCS = 60

EDGE_CASES = [
    "<body><pre>a <!--c--> b\t\tc</pre>tail  <div><div>x</div></div></body>",
    "<body><p>a&nbsp;&nbsp;b</p><br><br><img src='u'>t</body>",
    "<body><script>var x = '<p>not a tag</p>';</script><p>keep</p></body>",
    "<body><p> broken </><a href='x''>l</a></body>",
    "<body></body>",
    "no tags at all",
    # comments and whitespace runs inside subtrees whose length a
    # with-content rule measures: the minified length is what counts
    "<body><div>a <!-- c --> b    c<div>x  <!--d-->  y</div></div>"
    "<div><pre> p  q <!--e--> r </pre>tail   end</div></body>",
    "<body><div>  <span>one</span>  <!--x-->  <span>two  words</span>"
    "</div>  <div><div><div>deep   fold</div></div></div></body>",
    # whitespace runs one level below the measured node: 3 chars once
    # minified, 32 before, so a (0, 20) top-down bound decides the two
    # orders differently
    "<body><div><b>x" + " " * 30 + "y</b></div><p><i>p" + "\n" * 30
    + "q</i></p><div>ok<span>b" + "\t" * 30 + "c</span></div></body>",
    "<body><ul><li>a</li><!--c--><li>b   b</li></ul><p>\n\n</p>"
    "<p><span></span><span>x</span></p><div></div></body>",
    "<body><table><tr><td>1</td><td> </td></tr></table>"
    "<div><img src='m'><br><span>s</span></div></body>",
    # link-dense blocks for density_prune
    "<body><div><a href='/1'>home</a> <a href='/2'>about</a></div>"
    "<div>Body text that is long enough to stay where it is.</div>"
    "<ul><li>short <a href='/x'>more</a></li></ul></body>",
]


def _tag_bound(lo, hi):
    return ExtractionConfig(tags_to_remove_alone=[TagToRemove("span", lo, hi)])


def _global_alone(lo, hi):
    return ExtractionConfig(
        txt_min_chr_len_alone=lo, txt_max_chr_len_alone=hi,
        tags_exceptions_alone=["li"],
    )


def _top_down(lo, hi):
    return ExtractionConfig(
        tags_to_remove_with_content=[TagToRemoveWithContent("div", lo, hi)]
    )


def _bottom_up(lo, hi):
    return ExtractionConfig(
        tags_to_remove_with_content=[
            TagToRemoveWithContent("div", lo, hi, method="bottom-up")
        ]
    )


def _global_with_content(lo, hi):
    return ExtractionConfig(
        txt_min_chr_len_with_content=lo, txt_max_chr_len_with_content=hi,
        tags_exceptions_with_content=["html", "body", "table"],
    )


def _boilerplate_alone(lo, hi):
    cfg = boilerplate_strip_config()
    cfg.tags_to_remove_alone = [TagToRemove("li", lo, hi)]
    return cfg


def _boilerplate_top_down(lo, hi):
    cfg = boilerplate_strip_config()
    cfg.tags_to_remove_with_content.append(TagToRemoveWithContent("p", lo, hi))
    return cfg


# name -> (config factory over the rule's length bounds, pinned bounds)
LENGTH_CONFIGS = {
    "alone_tag_bound": (_tag_bound, (0, 10)),
    "alone_global_threshold": (_global_alone, (0, 12)),
    "with_content_top_down": (_top_down, (0, 20)),
    "with_content_bottom_up": (_bottom_up, (12, 20)),
    "with_content_global_threshold": (_global_with_content, (0, 20)),
    "boilerplate_strip+alone_bound": (_boilerplate_alone, (0, 5)),
    "boilerplate_strip+top_down_bound": (_boilerplate_top_down, (0, 20)),
}

CONFIGS = dict(NAMED_CONFIGS)
CONFIGS.update(
    {name: functools.partial(f, *bounds) for name, (f, bounds) in LENGTH_CONFIGS.items()}
)

DIGESTS = {
    "alone_global_threshold": "643eb04b03b18a13f051364616b81ee9",
    "alone_tag_bound": "0e1b9edf185401c3b980cd51bac5dc4f",
    "boilerplate_strip": "42daeb85ae2ff30bfd8205cf62cf3491",
    "boilerplate_strip+alone_bound": "fe4efde6c23bd4961beace725b81ce71",
    "boilerplate_strip+top_down_bound": "3633673e5f96d31180af49137f916c84",
    "boilerplate_strip_br": "652985dffb2aa6e89e60f44997f6e583",
    "density_prune": "3477fb41150c03ff184a8ef8b40cb5d9",
    "keep_everything": "427342ccbb6c1f0fd9b880b2efdf536f",
    "with_content_bottom_up": "3cde7bd07478999e5620c794c5d550a7",
    "with_content_global_threshold": "2d7e56c51ffd90c271d91fb26f4d177e",
    "with_content_top_down": "c9aeb3cad6290fade96e79e22aaf7988",
}


@functools.lru_cache(maxsize=1)
def _corpus() -> tuple:
    docs = [assemble_html(datagen._doc_spans(SEED, i)) for i in range(N_DOCS)]
    return tuple([d for d in docs if len(d) <= MAX_DOC_CHARS] + EDGE_CASES)


def _doc_record(r) -> bytes:
    return repr((
        r.text, r.malformed,
        [(s.char_start_idx, s.relative_start_pos, s.char_end_idx,
          s.relative_end_pos, s.value, list(s.attrs), list(s.attr_values),
          s.key, s.type, s.kind, s.media_ref, s.offset) for s in r.spans],
    )).encode()


def _doc_digests(cfg, docs) -> list:
    extract_one = make_extract_fn(cfg)
    return [hashlib.md5(_doc_record(extract_one(d))).hexdigest() for d in docs]


def test_corpus_shape():
    docs = _corpus()
    assert len(docs) > 250
    assert any(len(d) > 20_000 for d in docs)


@pytest.mark.parametrize("name", sorted(CONFIGS))
def test_corpus_digest(name):
    per_doc = _doc_digests(CONFIGS[name](), _corpus())
    digest = hashlib.md5("".join(per_doc).encode()).hexdigest()
    assert digest == DIGESTS[name]


@pytest.mark.parametrize("name", sorted(LENGTH_CONFIGS))
def test_length_rules_fire(name):
    factory, bounds = LENGTH_CONFIGS[name]
    docs = _corpus()[:N_FIRE_DOCS] + tuple(EDGE_CASES)
    pinned = _doc_digests(factory(*bounds), docs)
    never = _doc_digests(factory(INF, INF), docs)
    always = _doc_digests(factory(0, INF), docs)
    assert sum(p != n for p, n in zip(pinned, never)) >= 10
    assert sum(p != a for p, a in zip(pinned, always)) >= 10
