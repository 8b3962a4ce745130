"""C36 robots META directives: noindex pages fetch but never store,
nofollow pages store but mint no links; the engine honors what it
PARSES from the page bytes and equals the refsim's independent parse
(composed with the other page rules in tests/test_page_rules.py)."""

from __future__ import annotations

import dataclasses
import tempfile

from crawlspark.engine import CrawlEngine, EngineConfig
from crawlspark.refsim import RefSim
from crawlspark.synth import UNIT_META, GraphConfig, extract_meta_directive

SMALL = GraphConfig(n_sites=3, max_pages=14, batch_size=8, max_cycles=4,
                    meta_robots_every=2)


def test_parse_helper():
    assert extract_meta_directive("no tag here") == ""
    assert extract_meta_directive(
        'x <meta name="robots" content="noindex"> y'
    ) == "noindex"
    assert extract_meta_directive(
        '<meta name="robots" content="noindex,nofollow"> body'
    ) == "noindex,nofollow"
    # href extraction is unaffected by the tag (it has no href=)
    from crawlspark.synth import extract_links_from_text

    assert extract_links_from_text(
        '<meta name="robots" content="nofollow"> href="http://a/b"'
    ) == ["http://a/b"]


def test_engine_matches_refsim_under_meta_robots(spark):
    ref = RefSim(SMALL).run()
    eng = CrawlEngine(spark, EngineConfig(graph=SMALL, warehouse=tempfile.mkdtemp()))
    eng.run()
    got_order = [
        (r["cycle_id"], r["batch_pos"], r["url_norm"], r["ok"])
        for r in eng.crawl_order().collect()
    ]
    want_order = [(c, p, u, ok) for (c, p, u, _h, _s, _q, _d, _a, ok) in ref.order]
    assert got_order == want_order
    # stored documents are exactly the refsim's noindex-free set
    got_docs = {r["doc_id"] for r in eng.documents().select("doc_id").collect()}
    assert got_docs == set(ref.docs)
    # the seen set reflects nofollow link suppression
    got_seen = {r["url_norm"] for r in eng.seen_set().collect()}
    assert got_seen == set(ref.seen)


def test_directives_actually_bind():
    """Both directive kinds must bite on the registry scenario: the
    UNIT_META refsim stores fewer docs than its successful fetches
    (noindex), and discovers fewer URLs than the directive-free twin
    (nofollow) — q143/q144 are not vacuously equal to plain q80/q82."""
    on = RefSim(UNIT_META).run()
    off = RefSim(dataclasses.replace(UNIT_META, meta_robots_every=0)).run()
    n_ok = sum(1 for (*_, ok) in on.order if ok)
    # noindex suppressed at least one stored doc
    assert len(on.docs) < n_ok
    # nofollow suppressed discovery: the twin crawls further
    assert len(off.seen) > len(on.seen)
    assert on.order != off.order
    # directive kinds all occur in the scenario
    kinds = set()
    for i in range(UNIT_META.n_sites):
        for j in range(UNIT_META.pages_in_site(i)):
            d = UNIT_META.meta_directive(i, j)
            if d:
                kinds.add(d)
    assert kinds == {"noindex", "nofollow", "noindex,nofollow"}


def test_seeds_never_carry_directives():
    for i in range(UNIT_META.n_sites):
        assert UNIT_META.meta_directive(i, 0) is None
