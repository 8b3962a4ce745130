"""Policy refusal: the engine and the refsim refuse exactly the same
invalid crawl policies, because both call GraphConfig.admission_cap —
at most one of the three admission caps (C23 pattern budget, C38 host
page budget, C40 host frontier quota), every budget ≥ 1, and
0 ≤ frontier_slack < frontier_cap (C39)."""

from __future__ import annotations

import dataclasses
import tempfile

import pytest

from crawlspark.engine import CrawlEngine, EngineConfig
from crawlspark.refsim import RefSim
from crawlspark.synth import UNIT

INVALID = {
    "pattern_and_host": dict(pattern_budget=3, host_page_budget=3),
    "pattern_and_quota": dict(pattern_budget=3, host_frontier_quota=3),
    "host_and_quota": dict(host_page_budget=3, host_frontier_quota=3),
    "pattern_zero": dict(pattern_budget=0),
    "host_zero": dict(host_page_budget=0),
    "quota_zero": dict(host_frontier_quota=0),
    "slack_eq_cap": dict(frontier_cap=14, frontier_slack=14),
    "slack_negative": dict(frontier_cap=14, frontier_slack=-1),
}


@pytest.mark.parametrize("overrides", list(INVALID.values()), ids=list(INVALID))
def test_invalid_policy_refused(spark, overrides):
    bad = dataclasses.replace(UNIT, **overrides)
    with pytest.raises(ValueError):
        RefSim(bad).run()
    with pytest.raises(ValueError):
        CrawlEngine(
            spark, EngineConfig(graph=bad, warehouse=tempfile.mkdtemp())
        )
