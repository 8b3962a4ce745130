"""C38 per-host lifetime page budget: admissions cap at the budget
(seeds included), capped URLs stay unseen, engine == refsim."""

from __future__ import annotations

import dataclasses
from collections import Counter
from urllib.parse import urlsplit

from crawlspark.engine import CrawlEngine, EngineConfig
from crawlspark.refsim import RefSim
from crawlspark.synth import UNIT_HBUDGET, GraphConfig


def test_budget_binds_and_caps_exactly():
    on = RefSim(UNIT_HBUDGET).run()
    off = RefSim(dataclasses.replace(UNIT_HBUDGET, host_page_budget=None)).run()
    per_host = Counter(urlsplit(u).hostname for u in on.seen)
    assert max(per_host.values()) == UNIT_HBUDGET.host_page_budget
    # the mega-host would exceed the budget without the cap
    per_host_off = Counter(urlsplit(u).hostname for u in off.seen)
    assert max(per_host_off.values()) > UNIT_HBUDGET.host_page_budget
    assert on.order != off.order
    # seeds count toward the budget: every host's total INCLUDES its
    # depth-0 seed
    seeds = {u for u, c in on.seen.items() if c == 0}
    assert seeds and all(
        per_host[urlsplit(u).hostname] <= UNIT_HBUDGET.host_page_budget
        for u in seeds
    )


def test_engine_matches_refsim_under_host_budget(spark):
    import tempfile

    small = GraphConfig(n_sites=3, max_pages=20, batch_size=8, max_cycles=4,
                        host_page_budget=4)
    ref = RefSim(small).run()
    eng = CrawlEngine(spark, EngineConfig(graph=small, warehouse=tempfile.mkdtemp()))
    eng.run()
    got = [
        (r["cycle_id"], r["batch_pos"], r["url_norm"], r["ok"])
        for r in eng.crawl_order().collect()
    ]
    want = [(c, p, u, ok) for (c, p, u, _h, _s, _q, _d, _a, ok) in ref.order]
    assert got == want
    got_seen = {r["url_norm"] for r in eng.seen_set().collect()}
    assert got_seen == set(ref.seen)
