"""Config knobs the reference defines but never unit-tests: global
length thresholds with per-tag exceptions (html_parser.py:157-169,
212-217,240-245) and bottom-up subtree removal (html_parser.py:248-264).
These tests pin OUR implementation of the reference's documented
semantics so future refactors can't silently change them."""

from mini_html_parser_spark.kernel import (
    ExtractionConfig,
    TagToRemoveWithContent,
    extract,
)


def run(html, **kw):
    r = extract(html, ExtractionConfig(**kw))
    return r.text, r.spans


HTML = (
    "<html><body>"
    "<p>long paragraph with plenty of text</p>"
    "<span>tiny</span>"
    "<div>mid length</div>"
    "</body></html>"
)


def test_global_alone_threshold_drops_short_spans():
    # spans whose content length <= max and >= min lose their record
    # (text kept) for every tag not in the exception list
    text, spans = run(
        HTML,
        txt_max_chr_len_alone=5.0,
        txt_min_chr_len_alone=0.0,
    )
    tags = [s.value for s in spans]
    assert "span" not in tags          # "tiny" (4 chars) dropped
    assert "p" in tags and "div" in tags and "body" in tags
    assert "tiny" in text              # text itself survives


def test_global_alone_threshold_respects_exceptions():
    text, spans = run(
        HTML,
        txt_max_chr_len_alone=5.0,
        txt_min_chr_len_alone=0.0,
        tags_exceptions_alone=["span"],
    )
    assert "span" in [s.value for s in spans]


def test_global_with_content_threshold_removes_subtrees():
    text, spans = run(
        HTML,
        txt_max_chr_len_with_content=5.0,
        txt_min_chr_len_with_content=0.0,
        tags_exceptions_with_content=["html", "body"],
    )
    assert "tiny" not in text          # subtree removed, text gone
    assert "long paragraph" in text
    assert "span" not in [s.value for s in spans]


def test_bottom_up_removal_shrinks_parent_first():
    # inner divs removed bottom-up shrink the outer div below the
    # threshold, so the outer survives — the order is semantics-bearing
    # (reference: html_parser.py:601-607; SURVEY.md A7)
    # outer text after the shrink ("keep me longer ", 15 chars) stays
    # above the 8-char threshold; inner divs ("dropme1", 7) fall below
    html = (
        "<html><body>"
        "<div>keep me longer <div>dropme1</div><div>dropme2</div></div>"
        "</body></html>"
    )
    text, spans = run(
        html,
        tags_to_remove_with_content=[
            TagToRemoveWithContent(
                tag="div", content_max_char_length=8, method="bottom-up"
            )
        ],
    )
    assert "dropme1" not in text and "dropme2" not in text
    assert "keep me longer" in text
    assert [s.value for s in spans].count("div") == 1

    # same thresholds top-down: outer div is measured BEFORE children
    # shrink, still > 8 chars, so only the inner divs go
    text_td, spans_td = run(
        html,
        tags_to_remove_with_content=[
            TagToRemoveWithContent(
                tag="div", content_max_char_length=8, method="top-down"
            )
        ],
    )
    assert text_td == text
    # and with a threshold large enough for the whole outer subtree,
    # top-down removes everything at once
    text_all, _ = run(
        html,
        tags_to_remove_with_content=[
            TagToRemoveWithContent(
                tag="div", content_max_char_length=100, method="top-down"
            )
        ],
    )
    assert "keep me" not in text_all  # whole outer subtree gone


def test_min_length_bound_on_alone_rule():
    # min bound: only spans with length >= min are dropped
    text, spans = run(
        HTML,
        txt_max_chr_len_alone=float("inf"),
        txt_min_chr_len_alone=9.0,
    )
    tags = [s.value for s in spans]
    assert "span" in tags              # 4 < 9 → kept
    assert "p" not in tags             # long → dropped
    assert "div" not in tags           # "mid length" (10) → dropped


class TestDensityPrune:
    """Text/link-density boilerplate scoring (DensityPruneConfig)."""

    def _extract(self, html, **kw):
        from mini_html_parser_spark.kernel.config import (
            DensityPruneConfig,
            boilerplate_strip_config,
        )
        from mini_html_parser_spark.kernel.extract import extract

        cfg = boilerplate_strip_config()
        cfg.density_prune = DensityPruneConfig(**kw)
        return extract(html, cfg)

    def test_link_farm_pruned_body_kept(self):
        html = (
            '<html><body>'
            '<div><a href="/1">home</a> <a href="/2">about</a> <a href="/3">contact</a></div>'
            '<p>twenty-five chars of real body text here</p>'
            '</body></html>'
        )
        assert self._extract(html).text == "twenty-five chars of real body text here\n"

    def test_short_link_stub_pruned_plain_short_text_kept(self):
        html = (
            '<html><body><div><a href="/x">more</a></div>'
            '<div><p>tiny</p></div></body></html>'
        )
        # "more" div: 4 chars, has a link -> pruned; "tiny" div: no
        # link -> kept at any length
        assert self._extract(html).text == "tiny\n"

    def test_density_threshold_boundary(self):
        # "link" (4) of "link rest5678" (13 chars): density 4/13=0.31
        html = '<html><body><div><a href="/l">link</a> rest5678901234567890</div></body></html>'
        assert "link" in self._extract(html, min_text_length=5).text
        assert self._extract(html, min_text_length=5, max_link_density=0.15).text == ""

    def test_non_candidate_tags_untouched(self):
        # p is not a candidate tag: pure-link paragraph survives
        html = '<html><body><p><a href="/1">only a link here padding</a></p></body></html>'
        assert "only a link here" in self._extract(html).text

    def test_density_is_the_only_rewrite_knob(self):
        # no fold tags and no with-content rules: density pruning
        # alone must still run the rewrite walk
        from mini_html_parser_spark.kernel.config import (
            DensityPruneConfig,
            ExtractionConfig,
        )
        from mini_html_parser_spark.kernel.extract import extract

        html = (
            '<html><body>'
            '<div><a href="/1">home</a> <a href="/2">about</a> <a href="/3">contact</a></div>'
            '<p>twenty-five chars of real body text here</p>'
            '</body></html>'
        )
        cfg = ExtractionConfig(density_prune=DensityPruneConfig())
        assert extract(html, cfg).text == "twenty-five chars of real body text here\n"
        assert "home about contact" in extract(html, ExtractionConfig()).text

    def test_disabled_by_default(self):
        from mini_html_parser_spark.kernel.config import boilerplate_strip_config
        from mini_html_parser_spark.kernel.extract import extract

        html = '<html><body><div><a href="/1">home</a> <a href="/2">about</a></div></body></html>'
        assert "home about" in extract(html, boilerplate_strip_config()).text

    def test_script_padding_cannot_dilute_link_density(self):
        # scored after tag-rule child removal: 300 chars of JS in a
        # nav div must not rescue it from the link-density prune
        js = "var x = 1;" * 30
        html = (
            f'<html><body><div><script>{js}</script>'
            '<a href="/1">home</a> <a href="/2">about</a></div>'
            '<p>twenty-five chars of real body text here</p>'
            '</body></html>'
        )
        assert self._extract(html).text == "twenty-five chars of real body text here\n"
