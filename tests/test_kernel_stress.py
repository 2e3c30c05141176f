"""Adversarial-shape kernel stress: crawl HTML contains every
pathology below; the kernel must stay linear-ish and NEVER raise —
unparseable shapes degrade to an empty result with malformed=True
(the north_rule fallback metric), everything else extracts normally.
Each case's whole result (text, malformed and every span field, encoded
as in test_kernel_corpus) is pinned by md5, next to a rough cost bound.
The digests were computed with the kernel as it stood when the pin was
added."""

import hashlib
import time

import pytest

from mini_html_parser_spark.kernel import boilerplate_strip_config
from mini_html_parser_spark.kernel.extract import extract
from test_kernel_corpus import _doc_record

CFG = boilerplate_strip_config()

CASES = {
    "deep_nest_5k": "<html><body>" + "<div>" * 5000 + "x" + "</div>" * 5000 + "</body></html>",
    # beyond the recursion budget: must fall back, not crash
    "deep_nest_50k": "<div>" * 50000 + "x" + "</div>" * 50000,
    "many_attrs": "<html><body><p " + " ".join(f"a{i}=v{i}" for i in range(5000)) + ">x</p></body></html>",
    "huge_attr_value": '<html><body><p class="' + "y" * 2_000_000 + '">x</p></body></html>',
    "many_siblings": "<html><body>" + "<p>x</p>" * 100_000 + "</body></html>",
    "unclosed_pile": "<html><body>" + "<b>" * 2000 + "text" + "</body></html>",
    "comment_bomb": "<html><body>" + "<!--c-->" * 100_000 + "x</body></html>",
    "entity_soup": "<html><body>" + "&amp;&lt;&#65;" * 100_000 + "</body></html>",
    "unterminated_script": "<html><body><p>a</p><script>var x = '...",
    "quote_mess": "<html><body>" + '<p a=">">t</p>' * 10_000 + "</body></html>",
}

DIGESTS = {
    "comment_bomb": "abaec98a119ce1f805a34db6d11e0bff",
    "deep_nest_50k": "2b86a3f17c349ead9cfc5bfe3581e9cd",
    "deep_nest_5k": "f559a2c453b625eb8b833dbfce09a927",
    "entity_soup": "2a1fa4dbb90a8dff4e97a6dd17cc9d89",
    "huge_attr_value": "a8e23140c7015f29086e64ca6398bb3b",
    "many_attrs": "e610bd10ece58540ac13ea0d5fe7d046",
    "many_siblings": "bfb75b7bdd5d81df159ae895b6bbfa79",
    "quote_mess": "48cda1f7e6c5ef0e0519bb28473a38a2",
    "unclosed_pile": "1c1b5096c7b4dca5be4c67d5c54f716d",
    "unterminated_script": "0fffee5b32a07cddbfba6bbce2dd38c1",
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_adversarial_shape_is_graceful(name):
    html = CASES[name]
    t0 = time.perf_counter()
    result = extract(html, CFG)  # must not raise
    elapsed = time.perf_counter() - t0
    assert elapsed < 30, (name, elapsed)
    if name == "deep_nest_50k":
        assert result.malformed and result.text == ""
    else:
        assert result.text  # real content extracted
    assert hashlib.md5(_doc_record(result)).hexdigest() == DIGESTS[name]
