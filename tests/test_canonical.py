"""C37 rel=canonical aliasing: variants fetch but never store, the
declared canonical enters discovery at the variant's depth before the
slot's links. Engine == refsim under the composed page rules is
tests/test_page_rules.py."""

from __future__ import annotations

import dataclasses

from crawlspark.refsim import RefSim
from crawlspark.synth import (UNIT_CANON, extract_canonical_from_text,
                              extract_links_from_text)


def test_parse_helper():
    assert extract_canonical_from_text("no tag") == ""
    assert extract_canonical_from_text(
        'x <link rel="canonical" href="http://a/p3"> y'
    ) == "http://a/p3"
    # the declaration's href IS also a link capture — documented on the
    # knob; the same-depth alias admission always precedes it
    assert extract_links_from_text(
        '<link rel="canonical" href="http://a/p3"> href="http://a/p4"'
    ) == ["http://a/p3", "http://a/p4"]


def test_canonical_semantics_bind():
    """The declaration must bite on the registry scenario: variants
    are fetched but not stored, every honored canonical is admitted at
    the VARIANT's depth (never deeper), and the off twin stores more
    docs."""
    on = RefSim(UNIT_CANON).run()
    off = RefSim(dataclasses.replace(UNIT_CANON, canonical_every=0)).run()
    assert on.canonicals
    n_ok = sum(1 for (*_, ok) in on.order if ok)
    assert len(on.docs) < n_ok
    assert len(off.docs) > len(on.docs)
    # no variant URL ever stored
    variants = {src for (src, _dst, _c) in on.canonicals}
    assert not (variants & set(on.docs))
    # depth contract: an alias-admitted canonical's depth equals some
    # variant fetch depth at that cycle (same-depth re-entry, not +1)
    depth_of = {u: d for (_c, _p, u, _h, _s, _q, d, _a, _ok) in on.order}
    for (src, dst, _c) in on.canonicals:
        if dst in depth_of and src in depth_of:
            assert depth_of[dst] <= depth_of[src] + 1


def test_self_canonical_is_noop():
    """A page declaring ITSELF canonical changes nothing: the engine
    flag requires canon != doc_id; synth never emits self-declarations
    (canonical_target always picks a different page)."""
    for i in range(UNIT_CANON.n_sites):
        for j in range(UNIT_CANON.pages_in_site(i)):
            t = UNIT_CANON.canonical_target(i, j)
            if t is not None:
                assert t != UNIT_CANON.page_url(i, j)
