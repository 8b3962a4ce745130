"""The page rules composed: C35 content-seen, C36 robots META, C37
rel=canonical and C32 conditional fetch decide, once per fetched page,
whether it is stored, whether its links are followed and whether its
canonical re-enters discovery. Engine == refsim on two small graphs
that switch several rules on at once (A adds C24 redirects, B a C25
revisit with versioned pages), and each enabled rule must change the
refsim's outcome."""

from __future__ import annotations

import dataclasses

import pytest

from crawlspark.queries.crawlq import scenario
from crawlspark.refsim import RefSim
from crawlspark.synth import GraphConfig

COMPOSED = {
    "A": GraphConfig(n_sites=3, max_pages=14, batch_size=8, max_cycles=5,
                     meta_robots_every=2, canonical_every=2, mirror_every=2,
                     content_dedup=True, redirect_every=3),
    "B": GraphConfig(n_sites=3, max_pages=14, batch_size=8, max_cycles=7,
                     meta_robots_every=2, canonical_every=2,
                     conditional_fetch=True, revision_every=2,
                     revisit_after=3, revisit_min_age=1),
}
# the page rules whose off twin must crawl or store differently, each
# with the value that switches it off (C35's bite is checked on the
# fetch list: in A its one mirror changes only content_seen)
TWIN_OFF = {"meta_robots_every": 0, "canonical_every": 0,
            "conditional_fetch": False}


def _page_fetches(g: GraphConfig, ref) -> list[tuple]:
    """(url, cycle, content) of the successful non-redirect fetches,
    in fetch order."""
    out = []
    for (c, _p, u, *_r, ok) in ref.order:
        i, j = g.url_to_page(u)
        if ok and g.alias_target(i, j) is None:
            spans = g.page_spans(i, j, g.page_rev(i, j, c), cycle=c)
            out.append((u, c, tuple(
                (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans
            )))
    return out


def _first_fetch_per_content(fetches: list[tuple]) -> list[tuple]:
    """(url, cycle) of the first fetch of each distinct content — the
    C35 content_seen rows. Noindex and alias pages count: their content
    is recorded before the META and canonical checks."""
    first: dict = {}
    for u, c, key in fetches:
        first.setdefault(key, (u, c))
    return sorted(first.values())


@pytest.mark.parametrize("name", sorted(COMPOSED))
def test_engine_matches_refsim_under_composed_page_rules(spark, name):
    g = COMPOSED[name]
    ref = RefSim(g).run()
    fetches = _page_fetches(g, ref)
    if g.content_dedup:
        # C35 bites: at least one fetched page is a mirror
        assert len(_first_fetch_per_content(fetches)) < len(fetches)
    for rule, off in TWIN_OFF.items():
        if getattr(g, rule):
            twin = RefSim(dataclasses.replace(g, **{rule: off})).run()
            assert (twin.order, twin.seen, twin.doc_log) != (
                ref.order, ref.seen, ref.doc_log
            ), f"{rule} does not bite"

    eng = scenario(spark, g)
    got_order = [
        (r["cycle_id"], r["batch_pos"], r["url_norm"], r["attempt"], r["ok"])
        for r in eng.crawl_order().collect()
    ]
    assert got_order == [(c, p, u, a, ok) for (c, p, u, _h, _s, _q, _d, a, ok)
                         in ref.order]
    assert {r["url_norm"]: r["first_cycle"]
            for r in eng.seen_set().collect()} == ref.seen
    # the documents log: every stored version, none of the noindex,
    # alias, mirror or unchanged (C32) fetches
    assert sorted(
        (r["doc_id"], r["fetch_cycle"])
        for r in eng.documents().select("doc_id", "fetch_cycle").collect()
    ) == sorted((u, c) for u, c, _s in ref.doc_log)
    assert {
        (r["src"], r["dst"], r["cycle_id"])
        for r in eng.cat.read("canonicals").collect()
    } == set(ref.canonicals)
    assert {
        (r["src"], r["dst"], r["cycle_id"]) for r in eng.redirect_map().collect()
    } == set(ref.redirects)
    if g.content_dedup:
        assert sorted(
            (r["url_norm"], r["cycle_id"])
            for r in eng.cat.read("content_seen").collect()
        ) == _first_fetch_per_content(fetches)
