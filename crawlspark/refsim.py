"""refsim — single-threaded reference-semantics simulator (SURVEY.md §5.2).

A deliberately trivial stand-in for the reference crawler's runtime
semantics (beanstalkd drain: priority ascending, FIFO within equal
priority; exact URL-seen set; per-host crawl-delay token budgets),
recast as the same batch micro-cycles the north_rule prescribes. Plain
dicts and a sorted scan — its correctness is inspectable — and it is
the oracle for the non-SQL crawl invariants: crawl ordering, final
URL-seen set, per-document span sequences, per-cycle counters, and the
discovery link graph.

Shares ONLY the pure content definitions with the engine (synth page
generator, canonicalizer, robots decision) — none of the engine's
scheduling / dedup / politeness dataflow. It lives inside the package
(rather than tests/) only so the driver-facing oracle generator in
``crawlspark.queries.crawl_oracle`` can import it without relying on a
generically-named top-level ``tests`` package being importable.
"""

from __future__ import annotations

import math
import re
from collections import Counter
from dataclasses import dataclass, field
from urllib.parse import urljoin, urlsplit

from .synth import (GraphConfig, extract_canonical_from_text,
                    extract_links_from_text, extract_meta_directive,
                    robots_allowed)
from .urlnorm import canonicalize_one


@dataclass
class RefSimResult:
    # one row per fetch attempt, in execution order:
    # (cycle_id, batch_pos, url_norm, host, score, seq, depth, attempt, ok)
    order: list[tuple] = field(default_factory=list)
    # url_norm -> first_cycle (the exact URL-seen set)
    seen: dict[str, int] = field(default_factory=dict)
    # url_norm -> (fetch_cycle, spans) — latest version
    docs: dict[str, tuple[int, list[dict]]] = field(default_factory=dict)
    # C25: every successful document fetch in order (url, cycle, spans)
    # — multiple rows per url once freshness re-crawls land new versions
    doc_log: list[tuple[str, int, list[dict]]] = field(default_factory=list)
    # discovery lineage: (parent url_norm, discovered url_norm)
    edges: list[tuple[str, str]] = field(default_factory=list)
    # C24: every successful 301 hop (alias, canonical target, cycle)
    redirects: list[tuple[str, str, int]] = field(default_factory=list)
    # C37: every honored rel=canonical declaration (variant, canonical,
    # cycle) — the URL-aliasing identity the duplicate-URL collapse reads
    canonicals: list[tuple[str, str, int]] = field(default_factory=list)
    # C39: every clock-sweep eviction (url_norm, cycle_id, lap) — lap 1
    # took an unreferenced entry, lap 2 a just-cleared one
    evictions: list[tuple[str, int, int]] = field(default_factory=list)
    # C39: every second-chance grant (url_norm, cycle_id) — the hand
    # passed a referenced entry, cleared its bit, kept it (test signal;
    # the engine's sweep implies the same set but does not log it)
    protections: list[tuple[str, int]] = field(default_factory=list)
    # per-cycle counters matching the engine's metrics rollup:
    # (cycle_id, urls_in, urls_deduped, urls_scheduled, docs_written)
    cycles: list[tuple[int, int, int, int, int]] = field(default_factory=list)

    # backward-compatible unpacking: order, seen, docs
    def __iter__(self):
        return iter(
            (
                [(c, p, u, a, ok) for (c, p, u, _h, _s, _q, _d, a, ok) in self.order],
                self.seen,
                self.docs,
            )
        )


def clock_sweep_py(
    entries: list[tuple[str, int]], refbit: set[str], n_evict: int, hand: int,
) -> tuple[list[tuple[str, int]], list[str], int]:
    """C39's sequential clock rule as a pure function: ``entries`` is
    the pending set as (url, seq) in any order, ``refbit`` the set of
    referenced urls, ``hand`` the seq the sweep resumes at. Returns
    (evicted [(url, lap)...] in eviction order, protected urls in pass
    order, new hand). Mutates ``refbit`` exactly like the sweep: passed
    bits clear, and bits of evicted entries drop. The engine's
    distributed sweep (operators/clock.py) must match this bit-for-bit
    on any state — differential-tested in tests/test_clock_eviction.py
    including the two-lap path and hand wrap-around."""
    ring = sorted(entries, key=lambda e: (0 if e[1] >= hand else 1, e[1]))
    evicted: list[tuple[str, int]] = []
    protected: list[str] = []
    passed: list[tuple[str, int]] = []
    stop_seq = hand
    for u, s in ring:
        if len(evicted) == n_evict:
            break
        if u in refbit:
            refbit.discard(u)   # second chance
            protected.append(u)
            passed.append((u, s))
        else:
            evicted.append((u, 1))
            stop_seq = s
    else:
        # a full lap ran dry: every survivor's bit is now clear, so
        # the wrapped hand takes them in the same ring order
        for u, s2 in passed:
            if len(evicted) == n_evict:
                break
            evicted.append((u, 2))
            stop_seq = s2
    return evicted, protected, stop_seq + 1


class RefSim:
    def __init__(self, cfg: GraphConfig):
        self.cfg = cfg

    def run(self, max_cycles: int | None = None) -> RefSimResult:
        cfg = self.cfg
        hosts = [cfg.host(i) for i in range(cfg.n_sites)]
        rules = {h: cfg.robots_rules(i) for i, h in enumerate(hosts)}
        prio = {h: cfg.site_priority(i) for i, h in enumerate(hosts)}
        # C33: the token bucket is keyed by the POLITENESS key — the
        # registered domain under domain grouping (member hosts share
        # one bucket; their domain-level draws agree by construction),
        # the host itself otherwise (pk is the identity then).
        pk = {h: cfg.pol_key_of_host(h) for h in hosts}
        cap = {pk[h]: cfg.token_capacity(i) for i, h in enumerate(hosts)}
        refill = {pk[h]: cfg.refill_per_cycle(i) for i, h in enumerate(hosts)}
        tokens = dict(cap)

        res = RefSimResult()
        seen = res.seen
        queued: dict[str, tuple] = {}      # url_norm -> (score, seq, depth, host)
        attempts: dict[str, int] = {}      # url_norm -> failed attempts so far
        max_retries = cfg.max_retries
        # C23/C38/C40 admission cap (None = uncapped; refuses an invalid
        # policy exactly as the engine does): scope -> prior + admissions
        acap = cfg.admission_cap()
        acap_counts: Counter = Counter()
        seq = 0
        refbit: set[str] = set()           # C39: pending URLs re-discovered
        clock_hand = 0                     # C39: the sweep resumes at this seq
        content_sigs: set[tuple] = set()   # C35 content-seen (span keys)
        # per-cycle counter scratch: distinct robots-allowed candidates
        # discovered this cycle (the engine's post-dedup `cand` set) and
        # how many of those were novel vs the seen set
        cyc_cands: set[str] = set()
        cyc_novel = 0

        def admit(raw: str, depth: int, cycle: int, base: str | None = None) -> None:
            nonlocal seq, cyc_novel
            u = canonicalize_one(urljoin(base, raw) if base else raw)
            if u is None:
                return
            sp = urlsplit(u)
            host, path = sp.hostname, sp.path or "/"
            if host not in rules:
                return
            if not robots_allowed(path, rules[host]):
                return
            # C29/C30 crawl scope: depth cap + URL deny patterns are
            # decided at the same admission point as robots rejection
            # (engine: politeness.scope_filter at each robots site)
            if cfg.max_depth is not None and depth > cfg.max_depth:
                return
            if cfg.url_deny and any(re.search(p, u) for p in cfg.url_deny):
                return
            if base is not None:
                cyc_cands.add(u)
            if u in seen:
                return
            if acap is not None:
                # a capped URL stays unseen: it counts as deduped this
                # cycle and may re-candidate later
                k = acap.scope_of(host, path, pk[host])
                if acap_counts[k] >= acap.budget:
                    return
                acap_counts[k] += 1
            seen[u] = cycle
            if base is not None:
                cyc_novel += 1
                res.edges.append((base, u))
            seq += 1
            queued[u] = (depth + prio[host], seq, depth, host, cycle)

        def reinject(urls: list[str], cycle: int) -> None:
            """Forget ``urls`` (seen row, retry state, any queued row),
            then re-inject the robots-allowed ones as depth-0
            discoveries with strictly-new seqs in list order — the
            engine's reseed rank. Operator re-injections bypass the
            admission cap."""
            nonlocal seq
            for u in urls:
                seen.pop(u, None)
                attempts.pop(u, None)
                queued.pop(u, None)
            for u in urls:
                sp = urlsplit(u)
                host, path = sp.hostname, sp.path or "/"
                if host in rules and robots_allowed(path, rules[host]):
                    seen[u] = cycle
                    seq += 1
                    queued[u] = (prio[host], seq, 0, host, cycle)

        def last_ok() -> dict[str, int]:
            """url -> cycle of its last successful fetch."""
            return {u: cc for (cc, _p, u, *_r, ok) in res.order if ok}

        for raw in cfg.seeds():
            admit(raw, 0, 0)

        mc = max_cycles if max_cycles is not None else cfg.max_cycles
        for c in range(1, mc + 1):
            if not queued:
                break
            urls_in = len(queued)
            if acap is not None and acap.counts is None:
                # C40: the prior is the pending ring at cycle START (the
                # engine counts the queued working-state frame), so
                # same-cycle drains free slots only next cycle
                acap_counts.clear()
                acap_counts.update(
                    acap.scope_of(t[3], urlsplit(u).path or "/", pk[t[3]])
                    for u, t in queued.items()
                )
            allow = {}
            for p in cap:
                tokens[p] = min(cap[p], tokens[p] + refill[p])
                allow[p] = math.floor(tokens[p])
            # beanstalkd drain: scan in (priority, FIFO) order, honor
            # per-bucket allowance (bucket = host, or the registered
            # domain under C33 grouping), stop at batch_size. Under
            # C34 aging the drain key uses the EFFECTIVE score
            # (base − age // aging_every); the emitted order row
            # records the effective score (the engine's schedule log
            # does the same), while the queued tuple keeps the base
            # score + admission cycle so later cycles re-derive it.
            aging = cfg.priority_aging_every
            batch = []
            for u, (score, s, depth, host, ac) in sorted(
                queued.items(),
                key=lambda kv: (
                    kv[1][0] - (c - kv[1][4]) // aging if aging else kv[1][0],
                    kv[1][1],
                ),
            ):
                if allow[pk[host]] > 0:
                    allow[pk[host]] -= 1
                    eff = score - (c - ac) // aging if aging else score
                    batch.append((u, eff, s, depth, host, score, ac))
                    if len(batch) == cfg.batch_size:
                        break
            if not batch:
                break
            cyc_cands.clear()
            cyc_novel = 0
            n_docs = 0
            for pos, (u, eff, s, depth, host, score, ac) in enumerate(batch, 1):
                del queued[u]
                tokens[pk[host]] -= 1
                i, j = cfg.url_to_page(u)
                attempt = attempts.get(u, 0) + 1
                ok = cfg.fetch_ok(i, j, attempt)
                res.order.append((c, pos, u, host, eff, s, depth, attempt, ok))
                if not ok:
                    # TTR analogue: the attempt consumed a token and a
                    # batch slot; the URL re-queues with its ORIGINAL
                    # (score, seq, admission cycle) — FIFO position
                    # preserved, aging keeps accruing — unless retries
                    # are exhausted
                    attempts[u] = attempt
                    if attempt < max_retries:
                        queued[u] = (score, s, depth, host, ac)
                    continue
                tgt = cfg.alias_target(i, j)
                if tgt is not None:
                    # C24: a successful 301 terminally resolves the
                    # alias — no document; the Location re-enters the
                    # discovery path at the SAME depth, ordered before
                    # any links of this batch slot (the engine's
                    # span_pos = -1)
                    res.redirects.append((u, tgt, c))
                    admit(tgt, depth, c, base=u)
                    continue
                n_docs += 1
                spans = cfg.page_spans(i, j, cfg.page_rev(i, j, c), cycle=c)
                if cfg.content_dedup:
                    # C35 content-seen test: a successful fetch whose
                    # content was already stored (earlier cycle or
                    # earlier in this batch) is a MIRROR — not stored,
                    # no links extracted. Key = the canonical span
                    # tuple; span-list equality ⟺ identical canonical
                    # JSON ⟺ identical md5-60, the engine's sig.
                    ckey = tuple(
                        (s["kind"], s["text"], s["media_ref"], s["offset"])
                        for s in spans
                    )
                    if ckey in content_sigs:
                        continue
                    content_sigs.add(ckey)
                # C36 robots META directives: PARSED from the fetched
                # bytes (not read from config — the engine runs its own
                # JVM regexp over the same text, so this is a genuine
                # two-parser differential). noindex → fetch logged,
                # links extract, document NOT stored; nofollow →
                # stored, links NOT extracted.
                joined = " ".join(s["text"] for s in spans)
                directive = (
                    extract_meta_directive(joined)
                    if cfg.meta_robots_every
                    else ""
                )
                # C37 rel=canonical, PARSED from the fetched bytes: the
                # variant is never stored; its declared canonical enters
                # discovery at the SAME depth, before this slot's links
                # (the C24 redirect ordering); links still extract.
                canon = (
                    extract_canonical_from_text(joined)
                    if cfg.canonical_every
                    else ""
                )
                is_alias = bool(canon) and canon != u
                if is_alias:
                    res.canonicals.append((u, canon, c))
                    admit(canon, depth, c, base=u)
                if is_alias or "noindex" in directive:
                    pass
                elif (
                    cfg.conditional_fetch
                    and u in res.docs
                    and res.docs[u][1] == spans
                ):
                    # C32: 304 — content identical to the last stored
                    # version; no new version lands (the engine drops
                    # it by sig equality: identical spans ⟺ identical
                    # canonical JSON ⟺ identical md5-60). Links below
                    # still extract — the fetch itself happened.
                    pass
                else:
                    res.docs[u] = (c, spans)
                    res.doc_log.append((u, c, spans))
                if "nofollow" not in directive:
                    for span in spans:
                        if span["kind"] == "text":
                            for raw in extract_links_from_text(span["text"]):
                                admit(raw, depth + 1, c, base=u)
            res.cycles.append(
                (c, urls_in, len(cyc_cands) - cyc_novel, len(batch), n_docs)
            )
            if cfg.frontier_cap is not None:
                # C39 second-chance/clock eviction (end of the cycle's
                # merge, before between-cycle maintenance — the engine
                # sweeps at the same point inside run_cycle). Reference
                # bits first: a candidate whose URL was seen in an
                # EARLIER cycle and is still pending protects that
                # entry for one sweep lap (the engine derives the same
                # set as cand ⋉ url_seen@start ⋉ pending@end).
                for u in cyc_cands:
                    if u in queued and seen.get(u, c) < c:
                        refbit.add(u)
                if len(queued) > cfg.frontier_cap:
                    # low-water hysteresis (frontier_slack, default 0):
                    # evict down to cap − slack so the next sweep fires
                    # only after ~slack novel admissions
                    evicted, protected, clock_hand = clock_sweep_py(
                        [(u, tup[1]) for u, tup in queued.items()],
                        refbit,
                        len(queued) - cfg.frontier_cap + cfg.frontier_slack,
                        clock_hand,
                    )
                    res.protections.extend((u, c) for u in protected)
                    for u, lap in evicted:
                        del queued[u]
                        res.evictions.append((u, c, lap))
                    # bits of entries that left the ring are dropped
                    # (the engine's sweep overwrite keeps pending only)
                    refbit &= set(queued)
            if cfg.revisit_after == c:
                # C25 freshness re-crawl (the engine's revisit()): every
                # URL whose last successful fetch is ≥ min_age cycles
                # old is forgotten and reseeded as a depth-0 discovery;
                # seqs assigned in lexicographic order over the
                # robots-allowed set, exactly the engine's reseed rank
                reinject(sorted(
                    u for u, lc in last_ok().items()
                    if c - lc >= cfg.revisit_min_age
                ), c)
            if cfg.sitemap_revisit_after == c:
                # C25∘C26 sitemap-driven revisit (the engine's
                # revisit_from_sitemaps()): re-fetch every stored
                # sitemap doc (attempt 1; a failed fetch contributes
                # nothing this sweep), read the fresh <lastmod>
                # assertions, and re-queue exactly the LISTED urls
                # whose lastmod cycle is newer than their last
                # successful fetch — forget + lexicographic depth-0
                # reseed, the same rank as the blanket revisit
                lastmods: dict[str, int] = {}
                for u in sorted(res.docs):
                    _cc, sp = res.docs[u]
                    if not any(
                        s["kind"] == "text" and "<lastmod>" in s["text"]
                        for s in sp
                    ):
                        continue
                    si, sj = cfg.url_to_page(u)
                    if not cfg.fetch_ok(si, sj, 1):
                        continue
                    fresh = cfg.page_spans(
                        si, sj, cfg.page_rev(si, sj, c), cycle=c
                    )
                    for s in fresh:
                        if s["kind"] != "text":
                            continue
                        for loc, lm in re.findall(
                            r"<loc>([^<]+)</loc><lastmod>([^<]+)</lastmod>",
                            s["text"],
                        ):
                            cu = canonicalize_one(loc)
                            if cu is None:
                                continue
                            lmc = int(lm.split("-")[2]) - 1
                            lastmods[cu] = max(lastmods.get(cu, -1), lmc)
                ok_at = last_ok()
                reinject(sorted(
                    u for u, lmc in lastmods.items()
                    if u in ok_at and lmc > ok_at[u]
                ), c)
            if cfg.reseed_after == c and cfg.reseed_k:
                # C21 active re-crawl (the engine's reseed()): the k
                # lexicographically-first seen URLs drop their old
                # identity (forget: seen row, retry state, any queued
                # frontier row) and re-inject as depth-0 discoveries
                # with strictly-new seqs in lexicographic order —
                # exactly the engine's reseed rank
                reinject(sorted(seen)[: cfg.reseed_k], c)
            if cfg.robots_revoke_after == c:
                # C6 robots revision (the engine's update_politeness):
                # the revoked hosts' NEW rules — compiled from the same
                # re-published text the engine scenario compiles — take
                # effect between cycles: queued URLs on those hosts are
                # pruned in one pass (they STAY in the seen set; the
                # engine keeps url_seen append-only too), and the
                # updated `rules` entry makes admit() refuse every
                # later discovery on them. Scores/seqs of surviving
                # rows are untouched, exactly the engine's re-score
                # with unchanged priorities.
                from .robots import parse_robots

                new_rules, _d = parse_robots(cfg.revoked_robots_txt())
                revoked = {
                    cfg.host(i2) for i2 in range(cfg.robots_revoke_hosts)
                }
                for h2 in revoked:
                    rules[h2] = new_rules
                for u in [
                    u for u, v in queued.items() if v[3] in revoked
                ]:
                    del queued[u]
        return res
