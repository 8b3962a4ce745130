"""C35 content-seen test: mirrors resolve but are not stored and mint
no links; the engine's behavior equals the refsim's sequential rule
(composed with the other page rules in tests/test_page_rules.py)."""

from __future__ import annotations

import tempfile

from crawlspark.engine import CrawlEngine, EngineConfig
from crawlspark.refsim import RefSim
from crawlspark.synth import GraphConfig

SMALL = GraphConfig(n_sites=3, max_pages=12, batch_size=8, max_cycles=4,
                    mirror_every=2, content_dedup=True)
SMALL_OFF = GraphConfig(n_sites=3, max_pages=12, batch_size=8, max_cycles=4,
                        mirror_every=2)


def test_engine_matches_refsim_under_mirrors(spark):
    ref = RefSim(SMALL).run()
    eng = CrawlEngine(spark, EngineConfig(graph=SMALL, warehouse=tempfile.mkdtemp()))
    eng.run()
    got_order = [
        (r["cycle_id"], r["batch_pos"], r["url_norm"], r["ok"])
        for r in eng.crawl_order().collect()
    ]
    want_order = [(c, p, u, ok) for (c, p, u, _h, _s, _q, _d, _a, ok) in ref.order]
    assert got_order == want_order
    # stored documents are exactly the refsim's content-novel set
    got_docs = {r["doc_id"] for r in eng.documents().select("doc_id").collect()}
    assert got_docs == set(ref.docs)
    # content_seen: one row per distinct stored content, first-url rule
    cs = eng.cat.read("content_seen").collect()
    assert len(cs) == len({tuple(
        (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans
    ) for _u, (_c, spans) in ref.docs.items()})
    assert {r["url_norm"] for r in cs} == set(ref.docs)


def test_mirrors_are_suppressed_not_free(spark):
    """The suppression must actually bite: the mirrored graph stores
    fewer docs than successful fetches, and the suppression-off twin
    stores MORE docs than the suppression-on one."""
    ref_on = RefSim(SMALL).run()
    ref_off = RefSim(SMALL_OFF).run()
    n_ok_fetches = sum(1 for (*_, a, ok) in ref_on.order if ok)
    assert len(ref_on.docs) < n_ok_fetches
    assert len(ref_off.docs) > len(ref_on.docs)


def test_suppression_changes_discovery():
    """On the registry scenario (UNIT_MIRROR) the suppression alters
    BOTH the attempt order and the final seen set vs the off twin —
    q130's contract is not vacuously equal to plain q80."""
    import dataclasses

    from crawlspark.synth import UNIT_MIRROR

    on = RefSim(UNIT_MIRROR).run()
    off = RefSim(dataclasses.replace(UNIT_MIRROR, content_dedup=False)).run()
    assert len(off.docs) - len(on.docs) >= 10
    assert on.order != off.order
    assert set(on.seen) != set(off.seen)
