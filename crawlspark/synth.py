"""Deterministic synthetic multi-site web graph (FIXTURES.md §2).

Pure functions only — every page, link, span, and per-host budget is a
function of (GraphConfig, site, page) through a keyed blake2b hash, so
the Spark engine's mapInPandas fetcher and the pure-Python refsim
oracle regenerate byte-identical content with no shared engine code
and no materialized graph table.

Shape highlights:
  - pages-per-site is Zipf-ish: site 0 is a mega-host (exercises the
    host-salt skew path, C11), the tail sites are tiny.
  - outlinks are emitted as *messy* URL variants (uppercase host,
    default port, dot-segments, fragments, tracking params) whose
    canonical form is exactly `page_url(...)` — exercising C1.
  - some hosts publish robots rules disallowing the `/private`
    prefix; some pages live under `/private` (exercising C6).
  - page spans interleave kind='text' and kind='media' with strictly
    increasing offsets (the input_hint span invariant); all hrefs sit
    in the first text span, so document link order == link index order
    while the engine still derives order via (span_pos, link_pos).
"""

from __future__ import annotations

import hashlib
import re
from dataclasses import dataclass, fields, replace


def h64(*parts) -> int:
    key = "\x1f".join(str(p) for p in parts).encode()
    return int.from_bytes(hashlib.blake2b(key, digest_size=8).digest(), "big")


# C24: routed page index offset marking alias URLs (url_to_page returns
# ALIAS_BASE + target_page for `/r{page}`; alias_target inverts it).
# Far above any real page count, far below the trap's negative range.
ALIAS_BASE = 10**9
# C26: routed page index marking a host's /sitemap.xml (far below the
# trap range's small negative day numbers, so the trap payload branch
# can never collide with it)
SITEMAP_J = -(10**9)


@dataclass(frozen=True)
class AdmissionCap:
    """A stay-unseen admission cap (C23 / C38 / C40): a count cap with a
    prior, first arrival wins. A novel URL is admitted only while its
    scope's prior + earlier admissions stay under ``budget``; a capped
    URL stays unseen (it counts as deduped and may re-candidate). The
    engine applies it with one schedule.pattern_cap, the refsim with
    one counter dict keyed by :meth:`scope_of`."""

    budget: int
    # ("host", "path") = URL pattern (C23), ("host",) = host (C38),
    # ("pol_key",) = politeness bucket, pol_key_of_host (C40)
    scope: tuple[str, ...]
    # the append-only lifetime counter table the prior is summed from,
    # or None: the prior is the pending ring at cycle start (C40)
    counts: str | None

    def scope_of(self, host: str, path: str, pol_key: str) -> tuple:
        row = {"host": host, "path": path, "pol_key": pol_key}
        return tuple(row[k] for k in self.scope)


# The mid-crawl script (C25 revisit, C25∘C26 sitemap revisit, C21
# reseed, C6 robots revocation): per step, the CrawlEngine method that
# runs it, the field naming the cycle after which it runs, and the field
# holding its argument. Steps due after the same cycle run in this
# order, the order RefSim.run applies them. The engine reads none of
# these fields, so two configs that differ only in steps due at or
# after cycle c share their crawl up to c (CrawlEngine.branch_from).
SCRIPT = (
    ("revisit", "revisit_after", "revisit_min_age"),
    ("revisit_from_sitemaps", "sitemap_revisit_after", None),
    ("reseed", "reseed_after", "reseed_k"),
    ("update_politeness", "robots_revoke_after", "robots_revoke_hosts"),
)
SCRIPT_FIELDS = tuple(f for _step, *fs in SCRIPT for f in fs if f)


@dataclass(frozen=True)
class GraphConfig:
    seed: int = 42
    n_sites: int = 5
    max_pages: int = 40
    zipf_s: float = 1.2
    out_degree: int = 4
    cross_site_prob: float = 0.25
    media_prob: float = 0.35
    # size of each host's media-asset namespace: media_ref ids are
    # drawn mod this, so SMALL values force the same asset to recur
    # across pages/hosts' docs — the cross-document duplication a
    # media-dedup pass (P32, q102) exists to find. The default keeps
    # refs effectively unique (the pre-P32 behavior, byte-identical).
    asset_buckets: int = 10000
    batch_size: int = 32
    max_cycles: int = 8
    # politeness scale: multiplies per-host token capacity/refill so
    # bench graphs can sustain large per-cycle batches while keeping
    # the same politeness *semantics* (refsim reads the same values)
    token_mult: int = 1
    # seed list density (pages 0..s-1 of every site)
    seeds_per_site: int = 1
    # fetch attempts per URL before giving up (TTR analogue)
    max_retries: int = 3
    # crawler-trap knobs (C23): sites i < trap_hosts carry a calendar
    # trap — every regular page links to /cal?d=1 and /cal?d=k links to
    # /cal?d=k+1 forever. pattern_budget caps lifetime frontier
    # admissions per (host, path) URL pattern (None = guard off; the
    # default graph has one URL per path, so any budget ≥ 1 leaves
    # non-trap crawls bit-identical). Read only through admission_cap().
    trap_hosts: int = 0
    pattern_budget: int | None = None
    # C38 (per-host lifetime page budget, Heritrix max-pages-per-host):
    # cap TOTAL frontier admissions per host — the site-budget control
    # that stops one mega-host from owning the crawl. Admission-side
    # like pattern_budget (a capped URL stays unseen and counts as
    # deduped); at most one admission cap per config — admission_cap()
    # defines the rule and refuses combinations.
    host_page_budget: int | None = None
    # C39 (second-chance/clock frontier eviction): bound the PENDING
    # frontier to this many entries. After each cycle's merge, a clock
    # hand sweeps the pending ring in admission-seq order from where it
    # last stopped: entries whose reference bit is set (the URL was
    # re-discovered while pending — a duplicate candidate hit it) get
    # the bit cleared and survive one lap; unreferenced entries evict
    # until the cap holds (a second lap evicts just-cleared entries if
    # lap one ran dry). Evicted URLs STAY in the seen set — the crawler
    # accepted them once and simply never fetches them, the standard
    # bounded-frontier discard. None = unbounded (default).
    frontier_cap: int | None = None
    # C39 low-water-mark hysteresis: when a sweep fires (pending >
    # frontier_cap), evict down to frontier_cap − frontier_slack
    # instead of exactly the cap. With slack 0 (default) a frontier
    # whose novel arrivals re-cross the cap every cycle pays a sweep
    # every cycle; with slack S the next sweep fires only after ~S
    # novel admissions, amortizing the sweep's fixed cost over
    # ~S/novel-rate cycles. The cap invariant (pending ≤ cap after
    # the merge) is unchanged. Must satisfy 0 ≤ slack < cap (checked
    # by admission_cap()).
    frontier_slack: int = 0
    # C40 (per-host frontier quota): bound each politeness BUCKET's
    # SHARE of the pending frontier — the bucket is the C33 politeness
    # key (the registered domain under domain_politeness, so a
    # domain's sub-hosts share ONE quota; the host itself otherwise).
    # A novel admission for a bucket whose
    # pending-at-cycle-start + admissions-this-cycle already reach the
    # quota stays UNSEEN (counts as deduped; it may re-candidate and
    # admit later, once the host's queue has drained) — the Mercator/
    # Heritrix per-host queue bound, transient where C38's lifetime
    # page budget is permanent. Applies to the DISCOVERY admission
    # path (seeds + extracted links + redirect/canonical targets);
    # operator re-injections (reseed/revisit) bypass it by design.
    # Composable with frontier_cap (quota shapes the ring's per-host
    # mix, the clock sweep bounds its total); one of the three
    # admission caps defined by admission_cap(), which refuses
    # combining it with pattern_budget / host_page_budget.
    host_frontier_quota: int | None = None
    # redirect knob (C24): every redirect_every'th outlink (hash-picked
    # per (page, k)) is emitted as an ALIAS URL `/r{j}` on the target's
    # host; fetching the alias 301s to the canonical page (which may be
    # /private — the redirect target then dies at robots admission,
    # exactly as a real crawler must handle Location headers). 0 = off.
    redirect_every: int = 0
    # content-freshness knobs (C25): revision_every > 0 makes page text
    # VERSIONED — page (i,j) re-publishes every
    # revision_every·(1 + h64 % 3) cycles (its deterministic period),
    # appending a revision marker to the first text span (links stay
    # identical, so topology is stable and only content changes).
    # revisit_after / revisit_min_age script the refsim's mid-run
    # freshness re-crawl: after cycle `revisit_after`, every URL whose
    # last successful fetch is ≥ min_age cycles old is reseeded
    # (forget + depth-0 re-inject); the engine replays the same
    # scenario via CrawlEngine.revisit().
    revision_every: int = 0
    revisit_after: int | None = None
    revisit_min_age: int = 3
    # sitemap knob (C26): when on, every other host publishes
    # /sitemap.xml listing a hash-picked third of its pages as
    # <loc> entries. The sitemap URL is seeded (depth 0) and fetched
    # through the normal politeness/ordering path; its <loc> children
    # enter discovery at depth 1 — including ORPHAN pages no link graph
    # path reaches, the discovery source sitemaps exist for.
    sitemaps: bool = False
    # C26 extensions: sitemap_nested turns /sitemap.xml into a
    # <sitemapindex> of per-host child sitemaps /sitemap-{k}.xml (the
    # standard large-site shape) whose <urlset> children then list the
    # pages — the index fans out through the same shared <loc>
    # extraction, one level deeper. sitemaps_from_robots drops the
    # sitemap URLs from the operator seed list and instead declares
    # them with `Sitemap:` directives in robots.txt (RFC 9309 §2.3 —
    # the directive is file-global, not group-scoped); both the engine
    # seed path and the refsim learn them via robots.parse_sitemaps.
    # robots_all forces a robots.txt onto every host so every declared
    # sitemap host actually has a file to declare it in.
    sitemap_nested: bool = False
    sitemaps_from_robots: bool = False
    # C25∘C26: flat sitemaps carry a <lastmod> per <loc> (rendered
    # as-of the FETCH cycle, so a re-fetched sitemap shows newer
    # dates as pages re-publish); sitemap_revisit_after scripts the
    # engine's revisit_from_sitemaps() — re-fetch the stored sitemap
    # docs, re-queue exactly the listed URLs whose asserted lastmod
    # is newer than their last successful fetch. Dates encode cycles
    # as 2026-01-{cycle+1} (scenarios stay < 28 cycles).
    sitemap_lastmod: bool = False
    sitemap_revisit_after: int | None = None
    # C6 extension: scripted robots revision — the cache-TTL refresh a
    # long crawl must do. After cycle robots_revoke_after COMMITS,
    # hosts i < robots_revoke_hosts re-publish robots.txt as deny-all
    # (`User-agent: *` / `Disallow: /`): the engine applies the new
    # rules once via update_politeness (queued URLs on those hosts are
    # pruned, discovery-time admission refuses them from then on); the
    # refsim replays the identical script. None = off.
    robots_revoke_after: int | None = None
    robots_revoke_hosts: int = 1
    # C29/C30 crawl-scope controls (Scrapy-style): max_depth caps
    # link-following distance from the seeds (None = unbounded);
    # url_deny is a tuple of regexes (kept in the Java∩RE2∩Python
    # subset, like the PII patterns) — any match at admission drops
    # the URL before dedup/seen, exactly where robots rejection
    # happens. Both default off: the admission path is byte-identical
    # for every existing graph.
    max_depth: int | None = None
    url_deny: tuple = ()
    # C31: derive each host's token refill from its robots.txt
    # Crawl-delay directive — refill/cycle = cycle_duration / delay —
    # so the politeness rate is governed by what the HOST declared,
    # not a synthetic config value (the crawl-delay → token-bucket
    # linkage the north rule names). Off by default: the synthetic
    # refill keeps every existing graph byte-identical.
    delay_driven_refill: bool = False
    cycle_duration_ms: int = 10_000
    # C32: conditional re-fetch economy (If-Modified-Since/ETag
    # analogue). When on, a successful re-fetch whose content
    # signature equals the LAST stored version is a 304: the attempt
    # is logged and links still extract, but NO new document version
    # is written — re-crawling unchanged pages costs zero storage.
    # Off by default: every fetch stores, as before.
    conditional_fetch: bool = False
    robots_all: bool = False
    # C35 (content-seen test, Mercator §3.2-style): mirror_every > 0
    # makes every mirror_every'th regular page (hash-picked, sites
    # i > 0) serve a BYTE-IDENTICAL copy of a site-0 page's body —
    # the cross-host mirrors / scraped copies a web crawl meets
    # constantly. content_dedup turns on the engine's suppression: a
    # successful fetch whose content signature is already stored
    # (earlier cycle, or earlier in this batch) is NOT stored and its
    # links are NOT extracted; content_seen records sig → first url.
    # Both default off: every existing graph is byte-identical.
    # (Not combined with revisit/revision scenarios — a re-fetch of
    # the SAME url would suppress itself by design.)
    mirror_every: int = 0
    content_dedup: bool = False
    # C36 (robots META directives): meta_robots_every > 0 makes every
    # Nth hash-picked regular page (j > 0 — seeds stay clean so every
    # site enters the crawl) carry a
    # `<meta name="robots" content="...">` tag in its body text, with
    # the directive hash-chosen among noindex / nofollow /
    # noindex,nofollow. The ENGINE must honor what it PARSES from the
    # fetched bytes: noindex → the fetch is logged and links extract,
    # but the document is NOT stored; nofollow → stored, but its links
    # are NOT extracted (they vanish from discovery). Off by default:
    # every existing graph is byte-identical.
    meta_robots_every: int = 0
    # C37 (rel=canonical aliasing): canonical_every > 0 makes every
    # Nth hash-picked regular page declare a DIFFERENT page of its
    # site as canonical via `<link rel="canonical" href="U">`. The
    # engine honors the parsed declaration the way production
    # crawlers treat the canonical signal: the variant's fetch is
    # logged and its links extract, but NO document is stored under
    # the variant URL; the canonical target re-enters discovery at
    # the SAME depth ordered before that slot's links (the C24
    # redirect discipline); every (variant → canonical) hop lands in
    # the append-only `canonicals` table. NOTE the declared href IS
    # also captured by the shared link regex (it is an href= in the
    # body) — by design: the alias admission at span_pos −1 always
    # precedes it, so within-batch dedup keeps the same-depth entry,
    # identically in engine and refsim. Off by default.
    canonical_every: int = 0
    # C13 extension (anchor text): when on, every regular-page outlink
    # renders as `href="URL">anc… terms</a>` — 1-3 deterministic anchor
    # terms per link. Link EXTRACTION is unchanged (the shared href
    # regex stops at the closing quote), so crawl ordering and the
    # seen set are bit-identical to the unanchored twin; only the page
    # text differs. Substrate for the anchor-text profile (P43, q126)
    # and anchor-weighted authority (P44, q127).
    anchors: bool = False
    # reseed knobs (C21): after cycle `reseed_after`, the
    # `reseed_k` lexicographically-first SEEN urls are actively
    # re-queued — the engine's reseed() (forget + depth-0 re-inject
    # with strictly-new seqs); the refsim replays the same scripted
    # action sequentially.
    reseed_after: int | None = None
    reseed_k: int = 0
    # C33: registered-domain politeness grouping. subdomain_group g > 1
    # renames hosts so g consecutive sites become SUBDOMAINS of one
    # registered domain: host(i) = "s{i%g}.dom{i//g:04d}.example.com".
    # domain_politeness=True then keys the token bucket and the
    # per-host schedule cap by the registered domain (the pay-level
    # domain), so a domain's subdomains SHARE one politeness budget —
    # the grouping production crawlers apply (a site can't multiply
    # its crawl rate by fanning content across www/cdn/m hosts).
    # robots rules and site_priority stay per-HOST: RFC 9309 is
    # host-scoped. Domain-level capacity/refill are drawn from the
    # domain index, so every member host reports the same value and
    # the engine can collapse host_config to one bucket row per
    # domain. Both default off: host naming, admission and politeness
    # are byte-identical for every existing graph.
    subdomain_group: int = 1
    domain_politeness: bool = False
    # C33 nested-PSL extension: the public-suffix rule set the
    # politeness bucket key derives from (urlnorm.registered_domain —
    # plain/wildcard/exception rules, longest match wins). The default
    # single rule "example.com" reproduces the original last-3-labels
    # grouping on every synthetic host shape (asserted in
    # tests/test_psl.py), so existing scenarios are byte-identical;
    # real deployments pass the publicsuffix.org list here.
    psl_rules: tuple = ("example.com",)
    # C34: anti-starvation priority aging. When set, a queued URL's
    # EFFECTIVE score at drain time is
    #   score - (current_cycle - admission_cycle) // priority_aging_every
    # so rows that keep losing the (score, seq) competition gain one
    # point of priority every `priority_aging_every` cycles and
    # eventually schedule — the aging escalation production frontier
    # schedulers (Heritrix cost policies, Frontera queue revisits)
    # apply so low-priority hosts aren't starved forever by a steady
    # stream of fresh high-priority discoveries. The frontier row's
    # STORED score stays the base score (aging is drain-time column
    # math off cycle_id, exactly re-derivable after resume); the
    # schedule log and the refsim both record the effective score.
    # None = off: the drain key is byte-identical to before.
    priority_aging_every: int | None = None

    # -- mid-crawl script ----------------------------------------------------

    def script(self) -> list[tuple[int, str, object]]:
        """(cycle, step, argument) of every SCRIPT step this config
        sets, in run order: by cycle, then in SCRIPT order."""
        steps = [
            (getattr(self, after), step, arg and getattr(self, arg))
            for step, after, arg in SCRIPT
            if getattr(self, after) is not None
        ]
        return sorted(steps, key=lambda s: s[0])

    def without_script(self) -> GraphConfig:
        """This config with every SCRIPT field at its default."""
        return replace(self, **{
            f.name: f.default for f in fields(self) if f.name in SCRIPT_FIELDS
        })

    # -- crawl policy --------------------------------------------------------

    def admission_cap(self) -> AdmissionCap | None:
        """The policy's one admission cap (None = uncapped), after
        refusing an invalid policy with ValueError. The engine and the
        refsim both call this; nothing else reads pattern_budget,
        host_page_budget or host_frontier_quota. At most one cap may be
        set: two composed declarative caps cannot reproduce the
        sequential joint accounting (a row one cap rejects must not
        consume the other's slot)."""
        if self.frontier_cap is not None and not (
            0 <= self.frontier_slack < self.frontier_cap
        ):
            raise ValueError("frontier_slack must satisfy 0 <= slack < cap")
        caps = [
            AdmissionCap(budget, scope, counts)
            for budget, scope, counts in (
                (self.pattern_budget, ("host", "path"), "pattern_counts"),
                (self.host_page_budget, ("host",), "host_admissions"),
                (self.host_frontier_quota, ("pol_key",), None),
            )
            if budget is not None
        ]
        if len(caps) > 1:
            raise ValueError(
                "pattern_budget, host_page_budget and host_frontier_quota "
                "are not combinable"
            )
        if caps and caps[0].budget < 1:
            raise ValueError("an admission budget must be >= 1")
        return caps[0] if caps else None

    # -- topology ----------------------------------------------------------

    def pages_in_site(self, i: int) -> int:
        return max(2, int(self.max_pages / (i + 1) ** self.zipf_s))

    def host(self, i: int) -> str:
        if self.subdomain_group > 1:
            g = self.subdomain_group
            return f"s{i % g}.dom{i // g:04d}.example.com"
        return f"site{i:04d}.example.com"

    def site_of_host(self, host: str) -> int:
        if self.subdomain_group > 1:
            m = re.match(r"^s(\d+)\.dom(\d{4})\.example\.com$", host)
            if m and int(m.group(1)) < self.subdomain_group:
                return int(m.group(2)) * self.subdomain_group + int(m.group(1))
            raise ValueError(f"not a synthetic host: {host}")
        m = re.match(r"^site(\d{4})\.example\.com$", host)
        if m:
            return int(m.group(1))
        raise ValueError(f"not a synthetic host: {host}")

    def pol_key_of_host(self, host: str) -> str:
        """C33: the politeness-bucket key of a host — the PSL
        registered domain under domain grouping (full publicsuffix
        algorithm over ``psl_rules``; hosts that ARE a public suffix
        key as themselves), else the host itself. Spark twin:
        urlnorm.registered_domain."""
        if self.domain_politeness:
            from .urlnorm import registered_domain_py

            return registered_domain_py(host, self.psl_rules) or host
        return host

    # -- per-host config ---------------------------------------------------

    def site_priority(self, i: int) -> int:
        return h64(self.seed, "prio", i) % 5

    def token_capacity(self, i: int) -> float:
        if self.domain_politeness:
            # C33: one DOMAIN-level draw — every member host reports
            # the same value, so the engine can collapse host_config
            # to one politeness-bucket row per registered domain
            d = i // self.subdomain_group
            return float((2 + h64(self.seed, "dcap", d) % 7) * self.token_mult)
        return float((2 + h64(self.seed, "cap", i) % 7) * self.token_mult)

    def refill_per_cycle(self, i: int) -> float:
        if self.domain_politeness:
            d = i // self.subdomain_group
            return float((1 + h64(self.seed, "drefill", d) % 4) * self.token_mult)
        if self.delay_driven_refill:
            # C31: the host's declared Crawl-delay sets its rate,
            # QUANTIZED to whole tokens (floor, min 1): integer-valued
            # floats keep the engine's lazy `tokens + refill×Δ` and
            # the refsim's per-cycle `tokens + refill` additions
            # bit-identical (fractional rates could differ in the last
            # ulp between the two accumulation shapes), and the ≥1
            # floor keeps every allowed host live. delay 100 ms →
            # 10 tokens/1 s cycle … 1000+ ms → 1.
            return float(max(1, self.cycle_duration_ms // self.crawl_delay_ms(i)))
        return float((1 + h64(self.seed, "refill", i) % 4) * self.token_mult)

    def crawl_delay_ms(self, i: int) -> int:
        return 100 * (1 + h64(self.seed, "delay", i) % 20)

    def has_robots(self, i: int) -> bool:
        return self.robots_all or h64(self.seed, "robots", i) % 3 == 0

    def robots_txt(self, i: int) -> str | None:
        """The host's actual robots.txt text (None = no file). Includes
        a foreign user-agent group (exercises group selection) and a
        wildcard rule (exercises the regex matcher in the engine's hot
        path) that matches no generated page, so crawl decisions reduce
        to the /private prefix rule."""
        if not self.has_robots(i):
            return None
        # C26: the Sitemap directive sits OUTSIDE any user-agent group
        # (file-global per RFC 9309 §2.3) — deliberately before the
        # first group so a group-scoped parser would miss it
        smap = (
            f"Sitemap: {self.sitemap_url(i)}\n"
            if self.sitemaps_from_robots and self.has_sitemap(i)
            else ""
        )
        return (
            "# synthetic robots corpus\n"
            + smap
            + "User-agent: archivebot\n"
            "Disallow: /\n"
            "\n"
            "User-agent: *\n"
            "Disallow: /private\n"
            "Disallow: /*.tmp$\n"
            f"Crawl-delay: {self.crawl_delay_ms(i) / 1000}\n"
        )

    def revoked_robots_txt(self) -> str:
        """C6 revision script: the deny-all robots.txt a revoked host
        re-publishes. Both the engine scenario and the refsim compile
        THIS text through robots.parse_robots — single source, so the
        revised decision can't diverge."""
        return "User-agent: *\nDisallow: /\n"

    def robots_rules(self, i: int) -> list[dict]:
        """Rules as compiled from the REAL robots.txt text by the
        grammar parser — the engine (via gen.host_config_df) and the
        refsim oracle both consume exactly this."""
        from .robots import parse_robots

        rules, _delay = parse_robots(self.robots_txt(i))
        return rules

    # -- fetch failures (the TTR / at-least-once analogue) -------------------

    def fetch_failures(self, i: int, j: int) -> int:
        """Number of leading attempts that fail for page (i,j):
        ~1/6 of pages fail once, ~1/36 twice, then succeed."""
        h = h64(self.seed, "fail", i, j)
        if h % 36 == 1:
            return 2
        if h % 6 == 0:
            return 1
        return 0

    def fetch_ok(self, i: int, j: int, attempt: int) -> bool:
        return attempt > self.fetch_failures(i, j)

    # -- pages ---------------------------------------------------------------

    def page_is_private(self, i: int, j: int) -> bool:
        return j > 0 and h64(self.seed, "priv", i, j) % 5 == 0

    def canonical_target(self, i: int, j: int) -> str | None:
        """C37: the canonical URL page (i, j) declares, or None.
        Seeds (j == 0) never declare one; the target is a
        deterministic OTHER page of the same site."""
        if not self.canonical_every or j <= 0:
            return None
        if h64(self.seed, "canon", i, j) % self.canonical_every != 0:
            return None
        n = self.pages_in_site(i)
        if n < 2:
            return None
        jt = h64(self.seed, "canont", i, j) % n
        if jt == j:
            jt = (jt + 1) % n
        return self.page_url(i, jt)

    def meta_directive(self, i: int, j: int) -> str | None:
        """C36: the robots meta directive this page carries, or None.
        Seeds (j == 0) never carry one so every site still enters the
        crawl; the directive kind is hash-chosen per page."""
        if not self.meta_robots_every or j <= 0:
            return None
        if h64(self.seed, "meta", i, j) % self.meta_robots_every != 0:
            return None
        kinds = ("noindex", "nofollow", "noindex,nofollow")
        return kinds[h64(self.seed, "metak", i, j) % 3]

    def page_path(self, i: int, j: int) -> str:
        return (f"/private/p{j}" if self.page_is_private(i, j) else f"/p{j}")

    def page_url(self, i: int, j: int) -> str:
        return f"http://{self.host(i)}{self.page_path(i, j)}"

    def cal_url(self, i: int, d: int) -> str:
        """Calendar-trap URL: one path, unbounded query values — the
        classic infinite-URL-space shape (next/prev month links)."""
        return f"http://{self.host(i)}/cal?d={d}"

    def alias_url(self, i: int, j: int) -> str:
        """C24: the short-link alias for page (i, j); fetching it
        returns a 301 to page_url(i, j)."""
        return f"http://{self.host(i)}/r{j}"

    def alias_target(self, i: int, j: int) -> str | None:
        """Redirect Location for a routed page index: aliases route as
        j = ALIAS_BASE + target_page (see url_to_page); regular pages
        return None."""
        if j >= ALIAS_BASE:
            return self.page_url(i, j - ALIAS_BASE)
        return None

    # -- sitemaps (C26) ------------------------------------------------------

    def has_sitemap(self, i: int) -> bool:
        return self.sitemaps and h64(self.seed, "smap", i) % 2 == 0

    def sitemap_url(self, i: int) -> str:
        return f"http://{self.host(i)}/sitemap.xml"

    def sitemap_pages(self, i: int) -> list[int]:
        """Pages listed in host i's sitemap: a hash-picked third —
        independent of the link graph, so some are orphans."""
        return [
            j for j in range(self.pages_in_site(i))
            if h64(self.seed, "sloc", i, j) % 3 == 0
        ]

    # nested sitemaps (C26 extension): /sitemap.xml is a
    # <sitemapindex> of n_sitemap_children child files
    # /sitemap-{k}.xml; child k carries the pages hash-assigned to it.
    # Children route as page index SITEMAP_J + 1 + k (still far below
    # the trap range).

    def n_sitemap_children(self, i: int) -> int:
        return 2 + h64(self.seed, "nsc", i) % 2

    def sitemap_child_url(self, i: int, k: int) -> str:
        return f"http://{self.host(i)}/sitemap-{k}.xml"

    def sitemap_child_pages(self, i: int, k: int) -> list[int]:
        n = self.n_sitemap_children(i)
        return [
            j for j in self.sitemap_pages(i)
            if h64(self.seed, "schild", i, j) % n == k
        ]

    def declared_sitemaps(self, i: int) -> list[str]:
        """Sitemap URLs host i declares in robots.txt, read back
        through the real directive parser (robots.parse_sitemaps) —
        the engine's seed list and the refsim both consume exactly
        this round-trip, like robots_rules does for rule lines."""
        from .robots import parse_sitemaps

        return parse_sitemaps(self.robots_txt(i))

    def url_to_page(self, url_norm: str) -> tuple[int, int]:
        """Inverse of page_url over canonical URLs (the fetcher's
        router). Calendar-trap URLs route as (site, -day): the negative
        page index selects the trap payload in page_spans/fetch_ok."""
        m = re.match(r"^http://([^/]+)(/.*)$", url_norm)
        if m:
            try:
                i = self.site_of_host(m.group(1))
            except ValueError:
                i = None
            path = m.group(2)
            if i is not None:
                m = re.match(r"^(?:/private)?/p(\d+)$", path)
                if m:
                    return i, int(m.group(1))
                m = re.match(r"^/cal\?d=(\d+)$", path)
                if m and self.trap_hosts:
                    return i, -int(m.group(1))
                m = re.match(r"^/r(\d+)$", path)
                if m and self.redirect_every:
                    return i, ALIAS_BASE + int(m.group(1))
                if path == "/sitemap.xml" and self.sitemaps:
                    return i, SITEMAP_J
                m = re.match(r"^/sitemap-(\d+)\.xml$", path)
                if m and self.sitemaps and self.sitemap_nested:
                    return i, SITEMAP_J + 1 + int(m.group(1))
        raise ValueError(f"not a synthetic page url: {url_norm}")

    def outlink_targets(self, i: int, j: int) -> list[str]:
        """Canonical URLs this page links to (deterministic)."""
        out = []
        for k in range(self.out_degree):
            hv = h64(self.seed, "link", i, j, k)
            if (hv % 1000) / 1000.0 < self.cross_site_prob:
                ti = h64(self.seed, "xsite", i, j, k) % self.n_sites
            else:
                ti = i
            tj = h64(self.seed, "tpage", i, j, k) % self.pages_in_site(ti)
            out.append(self.page_url(ti, tj))
        return out

    def messy_url(self, canonical: str, i: int, j: int, k: int,
                  allow_relative: bool = True) -> str:
        """A deterministic non-canonical variant; resolve (against the
        (i,j) page) + canonicalize restores it. Variant 5 is an
        absolute-path *relative reference* (href="/p7") when the target
        is same-host — the reference-crawler urljoin path."""
        v = h64(self.seed, "messy", i, j, k) % 6
        scheme, rest = canonical.split("://", 1)
        host, _, path = rest.partition("/")
        path = "/" + path
        if v == 5 and allow_relative and host == self.host(i):
            return path
        if v in (0, 5):
            return canonical
        if v == 1:
            return f"{scheme}://{host.upper()}{path}#frag-{k}"
        if v == 2:
            return f"{scheme}://{host}:80{path}?utm_source=synth&utm_campaign=c{k}"
        if v == 3:
            return f"{scheme}://{host}/foo/..{path}"
        return f"{scheme}://{host}{path}?fbclid=xyz{k}&utm_medium=m{k}"

    def outlinks_messy(self, i: int, j: int) -> list[str]:
        out = []
        for k, u in enumerate(self.outlink_targets(i, j)):
            if (
                self.redirect_every
                and h64(self.seed, "redir", i, j, k) % self.redirect_every == 0
            ):
                # emit the alias instead of the direct link: the target
                # is then only reachable through the 301 from this hop
                # (unless some other page links it directly — both
                # routes coexisting is exactly the dedup case C24 must
                # account for)
                ti, tj = self.url_to_page(u)
                u = self.alias_url(ti, tj)
            out.append(self.messy_url(u, i, j, k))
        return out

    # -- spans (the interleaved text+media payload) -------------------------

    def rev_period(self, i: int, j: int) -> int:
        """C25: the re-publish period of page (i,j) — revision_every
        scaled by a per-page 1-3× hash draw."""
        return self.revision_every * (1 + h64(self.seed, "revp", i, j) % 3)

    def page_rev(self, i: int, j: int, cycle: int) -> int:
        """C25: content revision of page (i,j) as of `cycle` — 0 until
        the first re-publish, then cycle // period. Pure function, so
        the refsim and the Arrow fetcher agree byte-for-byte."""
        if not self.revision_every or j < 0:
            return 0
        return cycle // self.rev_period(i, j)

    def lastmod_date(self, i: int, j: int, cycle: int) -> str:
        """C25∘C26: the <lastmod> date of page (i,j) as asserted by a
        sitemap fetched at `cycle` — the cycle its CURRENT revision
        appeared (rev × period; 0 for never-republished), encoded as
        2026-01-{cycle+1}. Pure function shared by the Arrow fetcher
        and the refsim."""
        rev = self.page_rev(i, j, cycle)
        lm = rev * self.rev_period(i, j) if rev else 0
        return f"2026-01-{1 + lm:02d}"

    def anchor_text(self, i: int, j: int, k: int) -> str:
        """1-3 deterministic anchor terms for outlink k of page (i,j)
        (GraphConfig.anchors): a small vocabulary (mod 127) so targets
        accumulate REPEATED terms across in-links — the distribution
        an anchor-text profile exists to summarize."""
        n = 1 + h64(self.seed, "anchn", i, j, k) % 3
        return " ".join(
            f"anc{h64(self.seed, 'anct', i, j, k, t) % 127}" for t in range(n)
        )

    def page_spans(
        self, i: int, j: int, rev: int = 0, cycle: int = 0
    ) -> list[dict]:
        if j == SITEMAP_J:
            # C26: the sitemap document — one text span of <loc>
            # entries; the shared extraction regex captures them like
            # hrefs, so sitemap children ride the normal discovery path
            if self.sitemap_nested:
                # <sitemapindex>: the locs are the CHILD sitemap files,
                # which fan out one discovery level deeper
                body = "<sitemapindex> " + " ".join(
                    f"<loc>{self.sitemap_child_url(i, k)}</loc>"
                    for k in range(self.n_sitemap_children(i))
                ) + " </sitemapindex>"
            elif self.sitemap_lastmod:
                # C25∘C26: each loc carries its lastmod as-of the
                # FETCH cycle — <lastmod> text is never captured by
                # the shared href/loc extraction regex
                body = "<urlset> " + " ".join(
                    f"<loc>{self.page_url(i, jj)}</loc>"
                    f"<lastmod>{self.lastmod_date(i, jj, cycle)}</lastmod>"
                    for jj in self.sitemap_pages(i)
                ) + " </urlset>"
            else:
                body = "<urlset> " + " ".join(
                    f"<loc>{self.page_url(i, jj)}</loc>"
                    for jj in self.sitemap_pages(i)
                ) + " </urlset>"
            return [{"kind": "text", "text": body, "media_ref": "", "offset": 0}]
        if self.sitemap_nested and SITEMAP_J < j < SITEMAP_J + 1 + self.n_sitemap_children(i):
            # C26 nested: child sitemap k's <urlset> over its page slice
            k = j - SITEMAP_J - 1
            body = "<urlset> " + " ".join(
                f"<loc>{self.page_url(i, jj)}</loc>"
                for jj in self.sitemap_child_pages(i, k)
            ) + " </urlset>"
            return [{"kind": "text", "text": body, "media_ref": "", "offset": 0}]
        if j < 0:
            # trap payload: a single text span linking next-day and
            # next-week — each fetch mints two more candidates forever
            d = -j
            body = (
                f"site {i} calendar day {d} :: "
                f'href="{self.cal_url(i, d + 1)}" '
                f'href="{self.cal_url(i, d + 7)}" :: '
                + " ".join(
                    f"c{h64(self.seed, 'cal', i, d, w) % 997}" for w in range(4)
                )
            )
            return [{"kind": "text", "text": body, "media_ref": "", "offset": 0}]
        if (
            self.mirror_every
            and i > 0
            and j > 0
            and h64(self.seed, "mirror", i, j) % self.mirror_every == 0
        ):
            # C35 substrate: this page is a byte-identical MIRROR of a
            # site-0 page (site 0 never mirrors, so no recursion).
            # Relative hrefs in the copied body resolve against the
            # MIRROR's url — exactly how scraped copies leak their
            # host into the link graph.
            return self.page_spans(0, j % self.pages_in_site(0), rev, cycle)
        links = self.outlinks_messy(i, j)
        if i < self.trap_hosts:
            links = links + [self.cal_url(i, 1)]
        if self.anchors:
            hrefs = " ".join(
                f'href="{u}">{self.anchor_text(i, j, k)}</a>'
                for k, u in enumerate(links)
            )
        else:
            hrefs = " ".join(f'href="{u}"' for u in links)
        body = f"site {i} page {j} :: {hrefs} :: " + " ".join(
            f"w{h64(self.seed, 'word', i, j, w) % 997}" for w in range(6)
        )
        if rev:
            # C25: re-published content — links unchanged, text revised
            body += f" rev{rev} " + " ".join(
                f"v{h64(self.seed, 'revw', i, j, rev, w) % 997}" for w in range(2)
            )
        canon = self.canonical_target(i, j)
        if canon:
            # C37: the canonical declaration rides the body text; its
            # href IS captured by the shared link regex (documented on
            # the knob) — the engine's canonical PARSER additionally
            # reacts to the full tag
            body = f'<link rel="canonical" href="{canon}"> ' + body
        directive = self.meta_directive(i, j)
        if directive:
            # C36: the robots meta tag rides the body text; the shared
            # href/<loc> extraction regex never captures it, so link
            # extraction is unchanged — only the engine's meta PARSER
            # (and the refsim's twin) reacts to it
            body = f'<meta name="robots" content="{directive}"> ' + body
        spans = [{"kind": "text", "text": body, "media_ref": "", "offset": 0}]
        offset = len(body) + 1
        n_extra = h64(self.seed, "nspan", i, j) % 4
        for s in range(n_extra):
            if (h64(self.seed, "kind", i, j, s) % 1000) / 1000.0 < self.media_prob:
                ref = f"media://{self.host(i)}/asset-{h64(self.seed, 'asset', i, j, s) % self.asset_buckets:04d}.bin"
                spans.append({"kind": "media", "text": "", "media_ref": ref, "offset": offset})
                offset += 64
            else:
                txt = f"para {s} of {i}/{j}: " + " ".join(
                    f"t{h64(self.seed, 'tw', i, j, s, w) % 509}" for w in range(5)
                )
                spans.append({"kind": "text", "text": txt, "media_ref": "", "offset": offset})
                offset += len(txt) + 1
        return spans

    # -- seed list -----------------------------------------------------------

    def seeds(self) -> list[str]:
        """Messy seed URLs (pages 0..seeds_per_site-1 per site),
        site-major; always absolute (seeds have no base to resolve
        against)."""
        out = [
            self.messy_url(self.page_url(i, j), i, j, 999, allow_relative=False)
            for i in range(self.n_sites)
            for j in range(min(self.seeds_per_site, self.pages_in_site(i)))
        ]
        # C26: sitemap URLs seed alongside the page seeds. Two
        # discovery routes, both depth-0 seeds: operator config (the
        # flat default) or robots.txt `Sitemap:` directives, round-
        # tripped through the real parser (declared_sitemaps →
        # robots.parse_sitemaps) when sitemaps_from_robots is on.
        if self.sitemaps_from_robots:
            for i in range(self.n_sites):
                out += self.declared_sitemaps(i)
        else:
            out += [
                self.sitemap_url(i)
                for i in range(self.n_sites)
                if self.has_sitemap(i)
            ]
        return out

    def total_pages(self) -> int:
        return sum(self.pages_in_site(i) for i in range(self.n_sites))


# href="X" captures X up to the closing quote; <loc>X</loc> (C26
# sitemaps) captures X up to the closing tag — one group for both, so
# the engine's single regexp_extract_all(…, 1) stays one pass
_HREF = re.compile(r'(?:href="|<loc>)([^"<]+)')


def extract_links_from_text(text: str) -> list[str]:
    """Shared link-extraction definition (engine uses the same regex
    via F.regexp_extract_all; refsim calls this)."""
    return _HREF.findall(text)


# anchored links (GraphConfig.anchors): href="U">terms</a> — group 1
# is the url (same charset rule as _HREF), group 2 the anchor text.
# Kept in the Java∩RE2∩Python regex subset so the engine can run the
# identical pattern through F.regexp_extract_all.
ANCHOR_PATTERN = r'href="([^"<]+)">([^<]*)</a>'
_ANCHOR = re.compile(ANCHOR_PATTERN)


def extract_anchors_from_text(text: str) -> list[tuple[str, str]]:
    """Shared (raw_url, anchor_text) extraction: the oracle builder
    calls this; the engine mirrors it with two regexp_extract_all
    passes over ANCHOR_PATTERN (group 1 / group 2) zipped by position
    — position-stable because both passes walk the same matches."""
    return _ANCHOR.findall(text)


_META_ROBOTS = re.compile(r'<meta name="robots" content="([a-z,]+)">')
_CANONICAL = re.compile(r'<link rel="canonical" href="([^"]+)">')


def extract_canonical_from_text(text: str) -> str:
    """C37 shared parse: the page's declared canonical URL ('' when
    absent). The refsim calls this; the engine mirrors it with one
    JVM regexp_extract over the same pattern."""
    m = _CANONICAL.search(text)
    return m.group(1) if m else ""


def extract_meta_directive(text: str) -> str:
    """C36 shared parse: the page's robots meta directive ('' when
    absent). The refsim calls this over the joined text spans; the
    engine mirrors it with one JVM regexp_extract over the same
    pattern — two independent parsers of the same bytes."""
    m = _META_ROBOTS.search(text)
    return m.group(1) if m else ""


def robots_allowed(path: str, rules: list[dict]) -> bool:
    """Robots decision, Google-spec precedence: most-specific (longest
    rule path, `spec`) matching rule wins, Allow wins ties. Plain rules
    match by prefix; wildcard rules by their compiled `pattern`. Pure;
    the engine re-expresses this with JVM higher-order array functions
    — see politeness.py — and equality is tested in tests/test_robots.py."""
    best = (-1, False)  # (spec, allow); allow=True sorts above on ties
    for r in rules:
        pat = r.get("pattern")
        hit = re.match(pat, path) if pat else path.startswith(r["prefix"])
        if hit and (r["spec"], r["allow"]) > best:
            best = (r["spec"], r["allow"])
    return best[1] if best[0] >= 0 else True


# canonical preset tiers (FIXTURES.md §2.4)
UNIT = GraphConfig(n_sites=5, max_pages=40, batch_size=16, max_cycles=6)
# UNIT graph + calendar traps on the first two hosts, pattern budget 3:
# unguarded, the /cal chains mint two novel URLs per fetch forever (8
# admitted by cycle 6 and growing); guarded, both hosts pin at exactly 3
UNIT_TRAP = GraphConfig(n_sites=5, max_pages=40, batch_size=16,
                        max_cycles=6, trap_hosts=2, pattern_budget=3)
# UNIT graph + every 3rd outlink emitted as a /r{j} short-link alias
# that 301s to the canonical page (C24): exercises redirect-discovered
# admission (same depth, span_pos -1 ordering), alias+direct dedup,
# redirects-to-/private dying at robots, and failing alias fetches
# retrying like any attempt
UNIT_REDIR = GraphConfig(n_sites=5, max_pages=40, batch_size=16,
                         max_cycles=6, redirect_every=3)
# UNIT graph + versioned content (pages re-publish every 1-3 cycles) +
# a scripted freshness re-crawl: after cycle 6, URLs last fetched ≥ 3
# cycles ago are reseeded and cycles 7-9 re-fetch them, landing new
# document versions (some changed, some not — change detection's both
# outcomes)
UNIT_REV = GraphConfig(n_sites=5, max_pages=40, batch_size=16,
                       max_cycles=9, revision_every=3,
                       revisit_after=6, revisit_min_age=3)
# UNIT graph + cross-host mirrors (every 3rd hash-picked page of
# sites 1-4 serves a byte-identical site-0 body) + the content-seen
# suppression ON: mirrors resolve but are not stored and mint no
# links, so later-cycle discovery (and hence ordering) measurably
# departs from the suppression-off twin
# (mirror_every=2 / 8 cycles: 13 of 45 successful fetches suppress,
# and both the attempt order and the final seen set measurably
# diverge from the suppression-off twin — verified in
# tests/test_content_dedup.py)
UNIT_MIRROR = GraphConfig(n_sites=5, max_pages=40, batch_size=16,
                          max_cycles=8, mirror_every=2,
                          content_dedup=True)
# UNIT graph + anchor-text rendering on every outlink: same crawl
# ordering/seen set as UNIT (the shared href extraction ignores the
# anchor suffix — asserted in tests), but page text carries
# `href="U">anc…</a>` so the anchor-text profile (q126) and
# anchor-weighted authority (q127) have a real substrate
UNIT_ANCHOR = GraphConfig(n_sites=5, max_pages=40, batch_size=16,
                          max_cycles=6, anchors=True)
# UNIT graph + sitemaps on every other host: /sitemap.xml seeds fetch
# through normal politeness/ordering; <loc> children (a hash-picked
# third of each host's pages, orphans included) enter at depth 1
UNIT_SMAP = GraphConfig(n_sites=5, max_pages=40, batch_size=16,
                        max_cycles=6, sitemaps=True)
# UNIT graph + sitemaps WITH <lastmod> + versioned content + a
# scripted sitemap-driven revisit (C25∘C26): after cycle 6 the engine
# re-fetches the stored sitemap docs (fresh lastmods as pages
# re-published) and re-queues exactly the LISTED urls whose asserted
# lastmod is newer than their last successful fetch — the selective,
# metadata-driven alternative to q71's blanket min_age sweep (pages
# not in any sitemap never re-fetch; unchanged listed pages don't
# either). Cycles 7-9 fetch the dues under normal competition.
UNIT_SMLASTMOD = GraphConfig(n_sites=5, max_pages=40, batch_size=16,
                             max_cycles=9, sitemaps=True,
                             sitemap_lastmod=True, revision_every=2,
                             sitemap_revisit_after=6)
# UNIT graph + the C26 extensions: robots.txt on every host, sitemap
# hosts declare their sitemap via a file-global `Sitemap:` directive
# (NOT the operator seed list), and /sitemap.xml is a <sitemapindex>
# fanning out to 2-3 /sitemap-{k}.xml children whose <urlset>s carry
# the page locs — one extra discovery level, hence more cycles
UNIT_SMAPIDX = GraphConfig(n_sites=5, max_pages=40, batch_size=16,
                           max_cycles=8, sitemaps=True,
                           sitemap_nested=True, sitemaps_from_robots=True,
                           robots_all=True)
# UNIT graph + a scripted active re-crawl (C21): after cycle 4, the 5
# lexicographically-first seen URLs are reseeded (forget + depth-0
# re-inject with strictly-new seqs) and the remaining cycles re-fetch
# them in normal (score, seq) competition
UNIT_RESEED = GraphConfig(n_sites=5, max_pages=40, batch_size=16,
                          max_cycles=10, reseed_after=4, reseed_k=5)
# UNIT_REV scenario + conditional fetch (C32): same versioned content
# and scripted freshness re-crawl, but unchanged re-fetches are 304s —
# only genuinely re-published pages mint new document versions, so
# every stored doc has n_versions == adjacent-distinct sig runs
UNIT_COND = GraphConfig(n_sites=5, max_pages=40, batch_size=16,
                        max_cycles=9, revision_every=3,
                        revisit_after=6, revisit_min_age=3,
                        conditional_fetch=True)
# UNIT graph + Crawl-delay-driven politeness (C31): each host's token
# refill derives from its declared robots Crawl-delay (100–2000 ms →
# 40…2 tokens per 4 s cycle) instead of the synthetic refill — the
# drain order shifts wherever a host's declared rate differs from the
# synthetic one, and the refsim replays the same derived rates
UNIT_DELAY = GraphConfig(n_sites=5, max_pages=40, batch_size=16,
                         max_cycles=6, delay_driven_refill=True,
                         cycle_duration_ms=4000)
# UNIT graph + crawl-scope controls (C29/C30): depth capped at 2 from
# the seeds AND pages /p10–/p19 denied by URL pattern — the per-site
# include/exclude scoping a production spider configures. 8 cycles so
# the unscoped graph would keep discovering (the cap must be what
# stops it, not the budget).
UNIT_SCOPE = GraphConfig(n_sites=5, max_pages=40, batch_size=16,
                         max_cycles=8, max_depth=2,
                         url_deny=(r"/p1[0-9]$",))
# UNIT graph + a scripted robots revision (C6 cache refresh): after
# cycle 3 commits, host 0 re-publishes robots.txt as deny-all — its
# queued URLs are pruned in one update_politeness pass and no new URL
# on it is ever admitted; cycles 4-8 crawl on without it
UNIT_ROBREV = GraphConfig(n_sites=5, max_pages=40, batch_size=16,
                          max_cycles=8, robots_revoke_after=3)
# UNIT graph with a media-heavy payload and a TINY per-host asset
# namespace (13 ids/host): the same media_ref recurs across many pages
# of a host, so the corpus carries genuine cross-document duplicate
# assets — what the media-dedup pass (P32, q102) must find and
# canonicalize. media_prob 0.85 maximizes media spans per page.
UNIT_MEDIA = GraphConfig(n_sites=5, max_pages=40, batch_size=16,
                         max_cycles=6, media_prob=0.85, asset_buckets=13)
# UNIT-scale graph under registered-domain politeness (C33): 6 sites
# as 2 registered domains × 3 subdomains each, one shared token
# bucket per domain — the drain order shifts wherever subdomain
# siblings compete for their domain's budget (per-host politeness
# would let each of them drain independently). batch_size 12 keeps
# the shared buckets binding from cycle 1.
UNIT_DOMGROUP = GraphConfig(n_sites=6, max_pages=40, batch_size=12,
                            max_cycles=7, subdomain_group=3,
                            domain_politeness=True)
# UNIT-scale graph under anti-starvation priority aging (C34): a
# tight batch (8) keeps a long queue waiting, and aging_every=2 lets
# rows that keep losing the (score, seq) competition gain a point of
# priority every 2 queued cycles — the drain order measurably departs
# from the unaged twin (old deep/low-priority rows leapfrog fresh
# discoveries), which is exactly the contract q115 checks.
UNIT_AGING = GraphConfig(n_sites=6, max_pages=40, batch_size=8,
                         max_cycles=8, priority_aging_every=2)
# C36 meta-robots directives on every 3rd hash-picked page: noindex
# pages fetch but never store, nofollow pages store but mint no links
# — both measurably change the stored-doc registry and (via vanished
# links) the later-cycle attempt order vs the directive-free twin
UNIT_META = GraphConfig(n_sites=5, max_pages=40, batch_size=16,
                        max_cycles=6, meta_robots_every=3)
# C37 rel=canonical declarations on every 3rd hash-picked page: the
# variant is fetched but never stored, the canonical target enters
# discovery at the variant's depth — the alias map and the stored-doc
# registry both measurably depart from the declaration-free twin
UNIT_CANON = GraphConfig(n_sites=5, max_pages=40, batch_size=16,
                         max_cycles=6, canonical_every=3)
# C38 per-host lifetime page budget: 6 admissions per host — the
# mega-host (site 0, ~40 pages) pins at exactly the budget while the
# tail sites stay untouched; discovery through capped hosts' pages
# measurably reshapes the attempt order vs the uncapped twin
UNIT_HBUDGET = GraphConfig(n_sites=5, max_pages=40, batch_size=16,
                           max_cycles=6, host_page_budget=6)
# C39 second-chance/clock frontier eviction: a small cap with a small
# batch keeps the pending ring persistently over the limit, so the
# clock sweeps most cycles; dense cross-links (out_degree 6)
# re-discover pending URLs and set reference bits, so second-chance
# survival visibly reshapes the crawl (every protected entry is later
# fetched — asserted in tests/test_clock_eviction.py; the two-lap
# path, which no organic graph reaches, is differential-tested there
# on constructed ring states)
UNIT_CLOCK = GraphConfig(n_sites=5, max_pages=40, out_degree=6,
                         batch_size=8, max_cycles=8, frontier_cap=14)
# C39 ∘ C21 composition: after cycle 4 the 6 lexicographically-first
# seen URLs reseed — two of them were clock-EVICTED earlier, so their
# fresh incarnations must queue while the evicted rows stay dead
# (incarnation-keyed tombstones; a url-keyed tombstone would shadow
# the re-injection forever — the divergence this scenario pins)
UNIT_CLKRS = GraphConfig(n_sites=5, max_pages=40, out_degree=6,
                         batch_size=8, max_cycles=8, frontier_cap=14,
                         reseed_after=4, reseed_k=6)
# C39 low-water-mark hysteresis: same ring, eviction depth cap−slack=8
# — sweeps fire on FEWER cycles but evict DEEPER (the amortization
# posture a continuously-capped production frontier wants; the sweep
# cadence drop is asserted in tests/test_clock_eviction.py), and the
# eviction/attempt orders measurably diverge from the slack-0 twin
UNIT_CLOCKLW = GraphConfig(n_sites=5, max_pages=40, out_degree=6,
                           batch_size=8, max_cycles=8, frontier_cap=14,
                           frontier_slack=6)
# C40 per-host frontier quota: the dense mega-host (site 0, ~40 pages,
# out_degree 6) floods the frontier without a quota; with each host's
# pending share bounded at 5, its discoveries are admitted a few per
# cycle as its queue drains, and earlier-dropped URLs re-candidate and
# admit LATER (the transient-vs-lifetime distinction from C38 —
# asserted in tests/test_host_quota.py)
UNIT_QUOTA = GraphConfig(n_sites=5, max_pages=40, out_degree=6,
                         batch_size=8, max_cycles=8,
                         host_frontier_quota=5)
# C40 ∘ C39 composition: the quota shapes the ring's per-host mix
# BEFORE the clock sweep bounds its total — both admission points
# active, both twins share both rules
UNIT_QCLK = GraphConfig(n_sites=5, max_pages=40, out_degree=6,
                        batch_size=8, max_cycles=8,
                        host_frontier_quota=5, frontier_cap=14)
# C33 ∘ C40 composition: under domain grouping the quota bucket is
# the REGISTERED DOMAIN, so the grouped sub-hosts (subdomain_group=3
# hosts share one PSL-registered domain) jointly hold a single
# 6-entry ring share while independent hosts each get their own —
# the attempt order diverges from both the host-keyed twin and the
# quota-less UNIT_DOMGROUP
UNIT_QDOM = GraphConfig(n_sites=6, max_pages=40, out_degree=6,
                        batch_size=12, max_cycles=7, subdomain_group=3,
                        domain_politeness=True, host_frontier_quota=6)
T2 = GraphConfig(n_sites=50, max_pages=2000, batch_size=256, max_cycles=8)
BENCH = GraphConfig(n_sites=800, max_pages=60000, out_degree=8,
                    batch_size=100000, max_cycles=6, token_mult=50,
                    seeds_per_site=20)
# design-point batch tier: ~2M-page graph sustaining ~200-500k
# scheduled URLs per cycle — the regime where per-cycle fixed cost
# amortizes (the micro-batch BENCH tier is fixed-cost-bound by
# construction; this one is dataflow-bound like a production cycle)
DESIGN = GraphConfig(n_sites=2000, max_pages=400000, out_degree=8,
                     batch_size=500000, max_cycles=4, token_mult=1000,
                     seeds_per_site=150)
