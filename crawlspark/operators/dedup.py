"""Document deduplication operators for the training-data pipeline:
exact, MinHash+LSH, SimHash, and n-gram Jaccard near-dup detection.

The reference crawler dedups only URLs (exact KV set — SURVEY.md §2.1
C4); a 100 TB corpus also needs *content* dedup. All operators here
are pure DataFrame compositions (JVM whole-stage codegen; the only
hash is the portable md5-60 mixer so the driver's DuckDB oracle can
replay them bit-identically — crawlspark/portable.py).

Scale design (10^9-document corpus):
- shingling/minhashing are narrow per-row transforms (no shuffle);
- the LSH band join shuffles on (band, band_hash) — bucket sizes are
  bounded by band width, and banding is exactly what keeps candidate
  pairs ≪ n²;
- exact Jaccard verification joins shingles ONLY for candidate pairs
  (never all-pairs);
- SimHash uses pigeonhole banding: hamming ≤ max_ham over nbits with
  bands > max_ham guarantees a shared exact band, so the banded join
  finds exactly the brute-force pair set.

Measured negative result (r3): rewriting signatures/fingerprints as
shuffle-free per-row array math (transform/aggregate HOF lambdas —
min over shingle occurrences == min over the distinct set, and the
count-weighted simhash sum == the plain occurrence sum) REGRESSED
every query 2–7× at sf0.1 (q51 4.2→31 s, q52 5.6→9.6 s, q54
3.2→5.2 s, clean-window min-of-1 pairs): HOF lambda bodies are
interpreted per element outside whole-stage codegen, so per-element
md5 costs ~10× the codegen'd explode shape, and the narrow plan also
inherits the scan's split count for parallelism (a single-row-group
parquet file serializes the corpus onto one core). The explode +
partial-agg shapes below keep codegen AND map-side combine; the
shuffles they pay are n_docs×H rows, not corpus bytes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..portable import md5hash60, shingles, words


def _materialize(df: DataFrame) -> DataFrame:
    """Materialize a subtree that is consumed ≥2× downstream.

    The LSH band self-join and the exact-verify join each replay their
    whole input chain otherwise (the q52 physical plan scanned the
    corpus 6× and ran the 8-way signature hash twice). A lazy
    localCheckpoint computes the subtree once into executor block
    storage (memory-and-disk, so it spills rather than OOMs at scale)
    and truncates lineage; the blocks are freed by the ContextCleaner
    when the result DataFrame is dropped. At 10^9 documents this is
    exactly the materialize-signatures-once step a production dedup
    pipeline performs anyway."""
    return df.localCheckpoint(eager=False)


# -- exact dedup -----------------------------------------------------------

def exact_dedup(df: DataFrame, key, id_col: str) -> DataFrame:
    """Exact dedup on a normalized key: adds ``dup_key`` (md5-60 of the
    key) and ``keep`` (deterministic keeper = min id per group; window
    row_number, never dropDuplicates — SURVEY.md R23)."""
    w = Window.partitionBy("dup_key").orderBy(id_col)
    return (
        df.withColumn("dup_key", md5hash60(key))
        .withColumn("keep", F.row_number().over(w) == 1)
    )


def chunk_dedup(
    df: DataFrame, id_col: str, text_col: str, chunk_words: int = 12
) -> DataFrame:
    """Paragraph/chunk-level dedup (P25): drop repeated sub-document
    text corpus-wide, keeping each chunk's first occurrence (min
    (id, pos)), then reassemble the surviving text per document.

    Real corpora carry boilerplate *inside* otherwise-unique pages
    (nav bars, license blocks, quoted reposts); doc-level dedup (P1)
    never fires on them. The classic fix dedups paragraphs; testdata
    has no newline separators, so the segmentation here is the
    deterministic mechanical one — consecutive ``chunk_words``-word
    windows — and the dedup/reassembly machinery is exactly the
    paragraph pipeline's.

    Scale shape (10^9 docs): chunking is a narrow per-row transform;
    the keep-first is a ``groupBy(chunk_key).agg(min(struct))`` —
    partial-aggregated map-side, so a boilerplate chunk repeated 10^6
    times costs one row per input partition in the shuffle, never a
    10^6-row window partition (this is why it's NOT the R23 window
    form); reassembly shuffles once on the doc id. Docs whose every
    chunk was seen earlier disappear (fully-boilerplate pages).
    """
    w = df.select(F.col(id_col).alias("id"), words(text_col).alias("_w"))
    chunks = w.select(
        "id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.size("_w"), F.lit(chunk_words)),
                lambda s: F.array_join(F.slice("_w", s, chunk_words), " "),
            )
        ).alias("pos", "chunk"),
    )
    kept = (
        chunks.withColumn("k", md5hash60("chunk"))
        .groupBy("k")
        .agg(F.min(F.struct("id", "pos", "chunk")).alias("m"))
        .select("m.id", "m.pos", "m.chunk")
    )
    return (
        kept.groupBy("id")
        .agg(F.sort_array(F.collect_list(F.struct("pos", "chunk"))).alias("cs"))
        .select(
            "id",
            F.size("cs").cast("long").alias("n_chunks_kept"),
            F.array_join(
                F.transform("cs", lambda x: x["chunk"]), " "
            ).alias("text_dedup"),
        )
    )


def span_dedup(
    df: DataFrame, id_col: str, text_col: str, k: int = 8
) -> DataFrame:
    """Exact-substring span dedup (P37) — the ExactSubstr operator of
    "Deduplicating Training Data Makes Language Models Better" (Lee et
    al., 2022), re-expressed as dataflow: every k-token window that
    reappears anywhere in the corpus (including later in the same
    document) is removed from every occurrence EXCEPT the global first
    (min (id, pos)), and the surviving tokens are reassembled in
    order. Overlapping flagged windows merge naturally because removal
    is by covered token position, not by window.

    Differs from chunk_dedup (P25): windows here OVERLAP (stride 1),
    so a duplicated passage is caught at any alignment — P25's fixed
    non-overlapping chunks only fire when duplication lines up with
    chunk boundaries. The price is the classic ExactSubstr cost: the
    window table is Θ(total tokens) rows (suffix-array equivalent
    work, expressed as a hash groupBy instead of a sort).

    Scale shape (10^12 tokens): the first-occurrence pick is a
    ``groupBy(window_key).agg(min(struct))`` — partial-aggregated, so
    a boilerplate phrase repeated 10^8 times shuffles one row per
    input partition, never a hot window partition; the join-back that
    flags non-first occurrences costs ∝ occurrences (AQE splits the
    residual hot keys); covered-position explode costs ∝ flagged
    spans × k; reassembly is per-doc bounded (same bound as P25's).
    Output: (id, n_tokens, n_removed, text_dedup) — one row per input
    doc; fully-duplicated docs survive with text_dedup = ''.
    """
    toks = df.select(F.col(id_col).alias("id"), words(text_col).alias("_w"))
    # NB: guard short docs BEFORE sequence() — Spark's sequence(1, 0)
    # counts DOWN to [1, 0], and slice(_, 0, k) is a runtime error
    starts = F.when(
        F.size("_w") >= F.lit(k),
        F.sequence(F.lit(1), F.size("_w") - F.lit(k - 1)),
    ).otherwise(F.array().cast("array<int>"))
    win = toks.select(
        "id",
        F.explode(
            F.transform(
                starts,
                lambda i: F.struct(
                    i.alias("pos"),
                    F.array_join(F.slice("_w", i, k), "_").alias("wtext"),
                ),
            )
        ).alias("s"),
    ).select("id", F.col("s.pos").alias("pos"), md5hash60("s.wtext").alias("wkey"))
    firsts = win.groupBy("wkey").agg(F.min(F.struct("id", "pos")).alias("m"))
    flagged = (
        win.join(firsts, "wkey")
        .filter((F.col("id") != F.col("m.id")) | (F.col("pos") != F.col("m.pos")))
        .select("id", "pos")
    )
    covered = flagged.select(
        "id", F.explode(F.sequence("pos", F.col("pos") + F.lit(k - 1))).alias("cpos")
    ).distinct()
    positions = toks.select(
        "id",
        F.explode(F.sequence(F.lit(1), F.size("_w"))).alias("i"),
        F.col("_w").alias("_w"),
    ).select("id", "i", F.element_at("_w", F.col("i")).alias("tok"))
    kept = positions.join(
        covered,
        (positions["id"] == covered["id"]) & (positions["i"] == covered["cpos"]),
        "left_anti",
    )
    agg = kept.groupBy("id").agg(
        F.count("*").alias("n_kept"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("i", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("text_dedup"),
    )
    base = toks.select("id", F.size("_w").cast("long").alias("n_tokens"))
    return base.join(agg, "id", "left").select(
        "id",
        "n_tokens",
        (F.col("n_tokens") - F.coalesce("n_kept", F.lit(0))).alias("n_removed"),
        F.coalesce("text_dedup", F.lit("")).alias("text_dedup"),
    )


# -- MinHash + LSH ---------------------------------------------------------

def shingle_table(df: DataFrame, id_col: str, text_col: str, k: int) -> DataFrame:
    """(id, shingle) distinct — k-word shingles in document order.

    The words array is bound to a column BEFORE the shingle transform:
    ``element_at`` inside the transform lambda then reads an attribute
    instead of re-evaluating ``split(trim(text))`` per shingle index
    (which is O(words²) per document — measured 6× slower on the
    bench corpus)."""
    return (
        df.select(F.col(id_col).alias("id"), words(text_col).alias("w"))
        .select("id", F.explode(shingles(F.col("w"), k)).alias("shingle"))
        .distinct()
    )


def minhash_wide(sh: DataFrame, n_hashes: int) -> DataFrame:
    """(id, m0..m{H-1}): the whole signature in ONE groupBy(id) — each
    hash family is its own min aggregate, so the partial aggregation
    combines map-side per column and the shuffle carries n_docs ROWS
    (one wide row per doc) instead of n_docs × H long rows. The long
    (id, j, minh) view explodes from this narrowly (minhash_signatures)
    and the LSH band keys derive from it with NO further shuffle
    (band_keys_wide)."""
    return sh.groupBy("id").agg(*[
        F.min(
            md5hash60(F.concat_ws("#", F.lit(j), F.col("shingle")))
        ).alias(f"m{j}")
        for j in range(n_hashes)
    ])


def minhash_signatures(sh: DataFrame, n_hashes: int) -> DataFrame:
    """(id, j, minh): minh_j = min over shingles of md5-60(j || '#' || shingle).

    Long view of :func:`minhash_wide` — one groupBy(id) then a narrow
    explode, bit-identical to aggregating (id, j) pairs directly."""
    arr = F.array(*[
        F.struct(F.lit(j).cast("int").alias("j"), F.col(f"m{j}").alias("minh"))
        for j in range(n_hashes)
    ])
    return (
        minhash_wide(sh, n_hashes)
        .select("id", F.explode(arr).alias("s"))
        .select("id", F.col("s.j").alias("j"), F.col("s.minh").alias("minh"))
    )


def band_keys_wide(wide: DataFrame, n_hashes: int, bands: int) -> DataFrame:
    """(id, band, band_hash) computed NARROWLY from the wide signature
    — zero shuffles past the one already inside minhash_wide.
    band_hash = md5-60 of the band's '#'-joined minhash strings in j
    order, identical to :func:`band_keys` over the long view."""
    rows = n_hashes // bands
    entries = [
        F.struct(
            F.lit(b).cast("int").alias("band"),
            md5hash60(F.concat_ws("#", *[
                F.col(f"m{b * rows + r}").cast("string") for r in range(rows)
            ])).alias("band_hash"),
        )
        for b in range(bands)
    ]
    return (
        wide.select("id", F.explode(F.array(*entries)).alias("s"))
        .select("id", F.col("s.band").alias("band"),
                F.col("s.band_hash").alias("band_hash"))
    )


def band_keys(sig: DataFrame, n_hashes: int, bands: int) -> DataFrame:
    """(id, band, band_hash): the LSH banding of a signature table —
    band_hash = md5-60 of the band's concatenated minhashes. This is
    the unit a persistent corpus index stores (P28): append an
    increment's band keys after each dedup pass and the next increment
    joins against them without touching corpus text again."""
    rows = n_hashes // bands
    return _materialize(
        sig.withColumn("band", (F.col("j") / rows).cast("int"))
        .groupBy("id", "band")
        .agg(F.sort_array(F.collect_list(F.struct("j", "minh"))).alias("ms"))
        .withColumn(
            "band_hash",
            md5hash60(F.concat_ws("#", F.transform("ms", lambda s: s["minh"].cast("string")))),
        )
        .select("id", "band", "band_hash")
    )


def _band_self_join(bandkey: DataFrame) -> DataFrame:
    """(i, j) distinct pairs sharing ≥1 band bucket (i < j); the
    self-join shuffles on (band, band_hash) only. Pass a MATERIALIZED
    band-key frame — both sides read it."""
    other = bandkey.select(
        F.col("id").alias("id2"), F.col("band").alias("band2"), F.col("band_hash").alias("bh2")
    )
    return (
        bandkey.join(
            other,
            (F.col("band") == F.col("band2"))
            & (F.col("band_hash") == F.col("bh2"))
            & (F.col("id") < F.col("id2")),
        )
        .select(F.col("id").alias("i"), F.col("id2").alias("j"))
        .distinct()
    )


def lsh_candidate_pairs(sig: DataFrame, n_hashes: int, bands: int) -> DataFrame:
    """(i, j) candidate pairs sharing ≥1 LSH band (i < j).

    band_hash = md5-60 of the band's concatenated minhashes; the
    self-join shuffles on (band, band_hash) only."""
    # both sides of the self-join read this once (n_docs × bands rows)
    return _band_self_join(band_keys(sig, n_hashes, bands))


def jaccard_verify(pairs: DataFrame, sh: DataFrame, threshold: float) -> DataFrame:
    """Exact Jaccard for candidate pairs only → (i, j, jac ≥ threshold).

    ONE groupBy(id) folds each doc's (already-distinct) shingles into
    a set; the candidate frame — orders of magnitude smaller than the
    shingle table — then joins the endpoint sets (Spark broadcasts the
    small pairs side, so the sets never reshuffle) and the
    intersection is computed NARROWLY with array_intersect. The
    shingle table shuffles ONCE, vs twice-plus-sizes for the
    per-endpoint shingle-equality join this replaces; cost stays
    ∝ candidates × shingles-per-doc, never all-pairs. Set sizes are
    bounded by document length, so rows stay task-sized at any corpus
    scale.

    ``threshold`` must be > 0 (ValueError otherwise): at 0 a pair that
    shares no shingle would pass with jac = 0."""
    if not threshold > 0:
        raise ValueError(f"jaccard_verify needs threshold > 0, got {threshold}")
    sets = sh.groupBy("id").agg(F.collect_set("shingle").alias("ss"))
    si = sets.select(F.col("id").alias("i"), F.col("ss").alias("s_i"))
    sj = sets.select(F.col("id").alias("j"), F.col("ss").alias("s_j"))
    return (
        pairs.join(si, "i")
        .join(sj, "j")
        .withColumn("inter", F.size(F.array_intersect("s_i", "s_j")))
        .withColumn(
            "jac",
            F.col("inter")
            / (F.size("s_i") + F.size("s_j") - F.col("inter")),
        )
        .filter(F.col("jac") >= threshold)
        .select("i", "j", F.round("jac", 6).alias("jac"))
    )


def prefix_filter_candidates(
    sh: DataFrame, t_num: int, t_den: int, positional: bool = True
) -> DataFrame:
    """(i, j) complete candidate pairs for a containment join at
    threshold t = t_num/t_den, i < j — the AllPairs/SSJoin prefix
    filter (Bayardo et al. WWW'07; Chaudhuri et al. ICDE'06).

    MinHash banding is the wrong prefilter for CONTAINMENT (a short
    document pasted inside a long one has low Jaccard, so its
    minhashes — mins over the union — rarely collide). The prefix
    filter is exact instead of probabilistic: order each document's
    shingles in a global canonical order (rarest-first: ascending
    (df, shingle)); a pair with |A∩B| ≥ ceil(t·min(|A|,|B|)) — implied
    by containment ≥ t — must collide on one of the SMALLER side's
    first n − ceil(t·n) + 1 shingles (if all of them missed, fewer
    than ceil(t·n) matches remain). So only prefixes are indexed on
    the probe side, joined against full postings of the
    equal-or-larger side — completeness is guaranteed (25/25 vs brute
    force on the probe corpus, pinned in tests), never all-pairs.

    ceil(t·n) is exact integer math ((t_num·n + t_den − 1) div t_den),
    so the candidate set replays identically across engines and
    partitionings. Scale shape: one partial-agg df table, one per-doc
    window (bounded by shingles-per-doc), and a join that shuffles on
    the shingle key; rarest-first prefixes land in the df long tail,
    so Σ_prefix df stays near-linear on Zipfian web text (the pruning
    ratio degrades gracefully on synthetic flat-vocab corpora)."""
    from pyspark.sql import Window

    dfreq = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    sizes = sh.groupBy("id").agg(F.count("*").alias("n"))
    ranked = (
        sh.join(dfreq, "shingle")
        .join(sizes, "id")
        .withColumn(
            "r", F.row_number().over(Window.partitionBy("id").orderBy("df", "shingle"))
        )
    )
    alpha = F.expr(f"(({t_num} * n + {t_den - 1}) div {t_den})")
    prefix = ranked.filter(F.col("r") <= F.col("n") - alpha + 1).select(
        F.col("id").alias("pid"), "shingle", F.col("n").alias("pn"),
        F.col("r").alias("pr"), alpha.alias("palpha"),
    )
    full = ranked.select(
        F.col("id").alias("fid"), F.col("shingle").alias("fsh"),
        F.col("n").alias("fn"), F.col("r").alias("fr"),
    )
    # ppjoin positional filter (Xiao et al. WWW'08): a collision at
    # positions (pr, fr) bounds the overlap by 1 + min(pn−pr, fn−fr)
    # (every further common shingle sits strictly after BOTH positions
    # in the shared canonical order). The FIRST common shingle of a
    # true pair — which the prefix guarantee says lands in this join —
    # has the pair's maximal bound ≥ |A∩B| ≥ α, so dropping collision
    # rows whose bound is < α never drops a qualifying pair; it only
    # prunes candidates the exact verify would reject. Result-invariant
    # ⇒ the DuckDB oracle keeps the plain AllPairs candidate set.
    # Measured on the synthetic sf0.1 corpus: 7,525,746 → 7,483,462
    # candidates (−0.56%), verified rows identical (281). The weak
    # pruning is the same flat-vocab pathology the prefix filter's
    # docstring documents — near-uniform df makes canonical positions
    # uninformative. On Zipfian web text (the design point) rare
    # shingles give tight bounds; the filter costs one comparison and
    # two small int columns through the existing join, no extra stage.
    positional_ok = (
        F.lit(1) + F.least(F.col("pn") - F.col("pr"), F.col("fn") - F.col("fr"))
        >= F.col("palpha")
    ) if positional else F.lit(True)
    return (
        prefix.join(
            full,
            (F.col("shingle") == F.col("fsh"))
            & (
                (F.col("pn") < F.col("fn"))
                | ((F.col("pn") == F.col("fn")) & (F.col("pid") != F.col("fid")))
            )
            & positional_ok,
        )
        .select(
            F.least("pid", "fid").alias("i"), F.greatest("pid", "fid").alias("j")
        )
        .distinct()
    )


def containment_verify(pairs: DataFrame, sh: DataFrame, threshold: float) -> DataFrame:
    """Exact containment for candidate pairs only → (i, j, containment).

    containment = |A∩B| / min(|A|, |B|) — the asymmetric near-dup
    measure (Broder's containment, symmetrized by the min) that
    catches a document embedded inside a larger one, which Jaccard
    dilutes by the union size. Same candidates-only join shape as
    :func:`jaccard_verify`: cost ∝ candidates × shingles-per-doc."""
    sizes = sh.groupBy("id").agg(F.count("*").alias("n"))
    shi = sh.select(F.col("id").alias("i"), "shingle")
    shj = sh.select(F.col("id").alias("j2"), F.col("shingle").alias("shingle_j"))
    inter = (
        pairs.join(shi, "i")
        .join(shj, (F.col("j") == F.col("j2")) & (F.col("shingle") == F.col("shingle_j")))
        .groupBy("i", "j")
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sizes.select(F.col("id").alias("i"), F.col("n").alias("ni")), "i")
        .join(sizes.select(F.col("id").alias("j"), F.col("n").alias("nj")), "j")
        .withColumn("containment", F.col("inter") / F.least("ni", "nj"))
        .filter(F.col("containment") >= threshold)
        .select("i", "j", F.round("containment", 6).alias("containment"))
    )


def minhash_near_dups(
    df: DataFrame, id_col: str, text_col: str,
    k: int = 2, n_hashes: int = 8, bands: int = 4, threshold: float = 0.5,
    sh: DataFrame | None = None,
) -> DataFrame:
    """Full pipeline: shingle → minhash → band → candidate join → exact
    Jaccard verify. Output is deterministic (same LSH candidates and
    the exact-verified subset) across engines and partitionings.
    Pass a precomputed (id, shingle) ``sh`` to reuse one materialized
    shingle table across consumers (it must equal
    ``shingle_table(df, id_col, text_col, k)``)."""
    if sh is None:
        sh = _materialize(shingle_table(df, id_col, text_col, k))
    # wide path: signature + band keys in ONE shuffle (minhash_wide),
    # band hashing narrow (band_keys_wide) — the long-format
    # minhash_signatures → band_keys chain spends a second groupBy for
    # the identical keys
    bandkey = _materialize(
        band_keys_wide(minhash_wide(sh, n_hashes), n_hashes, bands)
    )
    cand = _band_self_join(bandkey)
    return jaccard_verify(cand, sh, threshold)


def near_dups_with_exact_prepass(
    df: DataFrame, id_col: str, text_col: str,
    k: int = 2, n_hashes: int = 8, bands: int = 4, threshold: float = 0.5,
) -> DataFrame:
    """Near-dup pairs with an exact-dup pre-pass — the hot-band skew
    guard for web-scale corpora.

    Identical documents (very common in crawls: boilerplate, mirrors)
    all land in the same LSH band buckets, turning the band self-join
    quadratic in the duplicate count. The pre-pass collapses each
    exact-text group to one representative (min id) BEFORE shingling,
    so a 10^6-copy boilerplate cluster costs 10^6 rows of exact
    hash-groupBy (linear) instead of 10^12 candidate pairs.

    Output pairs (i < j): exact-dup members paired to their
    representative, plus representative-level LSH near-dup pairs —
    together they generate the same connected components as running
    plain LSH on the full corpus (every member is jaccard-1.0 with its
    representative)."""
    keyed = df.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("text")
    ).withColumn("tkey", md5hash60("text"))
    w = Window.partitionBy("tkey")
    marked = keyed.withColumn("rep", F.min("id").over(w))
    exact_pairs = (
        marked.filter(F.col("id") != F.col("rep"))
        .select(F.col("rep").alias("i"), F.col("id").alias("j"), F.lit(1.0).alias("jac"))
    )
    reps = marked.filter(F.col("id") == F.col("rep")).select("id", "text")
    rep_pairs = minhash_near_dups(reps, "id", "text", k, n_hashes, bands, threshold)
    out = exact_pairs.unionByName(rep_pairs)
    return out


def incremental_near_dups(
    delta: DataFrame, corpus: DataFrame, id_col: str, text_col: str,
    k: int = 2, n_hashes: int = 8, bands: int = 4, threshold: float = 0.5,
    corpus_index: DataFrame | None = None,
) -> DataFrame:
    """P28: dedup an increment against an existing corpus — (i = delta
    id, j = corpus id, jac) near-dup pairs — without ever joining
    corpus × corpus.

    The daily-increment posture at 100 TB: the corpus's band keys live
    in a persistent index (``band_keys`` output, appended after every
    pass); each increment shingles/minhashes ONLY its own rows (cost ∝
    delta bytes), probes the index on (band, band_hash), and exact-
    verifies candidates with corpus shingles recomputed for CANDIDATE
    docs only (semi-join first, so corpus text cost ∝ candidates, not
    corpus). Pass ``corpus_index=None`` to build the index inline
    (bootstrap / oracle replay); at scale pass the stored index.

    Delta and corpus ids must be disjoint namespaces (prefix the
    increment's ids); pairs are directed delta → corpus, so no i < j
    tie-break is involved."""
    dsh = _materialize(shingle_table(delta, id_col, text_col, k))
    dkeys = band_keys_wide(minhash_wide(dsh, n_hashes), n_hashes, bands)
    if corpus_index is None:
        corpus_index = band_keys_wide(
            minhash_wide(
                shingle_table(corpus, id_col, text_col, k), n_hashes
            ),
            n_hashes, bands,
        )
    idx = corpus_index.select(
        F.col("id").alias("cid"), F.col("band").alias("band2"),
        F.col("band_hash").alias("bh2"),
    )
    cand = (
        dkeys.join(
            idx,
            (F.col("band") == F.col("band2")) & (F.col("band_hash") == F.col("bh2")),
        )
        .select(F.col("id").alias("i"), F.col("cid").alias("j"))
        .distinct()
    )
    csh = shingle_table(corpus, id_col, text_col, k).join(
        cand.select(F.col("j").alias("id")).distinct(), "id", "left_semi"
    )
    return jaccard_verify(cand, dsh.unionByName(csh), threshold)


# -- SimHash ---------------------------------------------------------------

def simhash(
    df: DataFrame, id_col: str, text_col: str, nbits: int = 48, token_k: int = 2
) -> DataFrame:
    """(id, fp): token-frequency-weighted SimHash fingerprint over
    k-word shingle tokens (token_k=2 ⇒ bigrams — far more
    discriminative than unigrams on small vocabularies).

    bit b of fp = sign of Σ_tokens cnt(tok) · (±1 from bit b of
    md5-60(tok)); ties (sum == 0) resolve to 0. Narrow explode by bit
    then two partial-aggregated groupBys."""
    if token_k == 1:
        tok_src = df.select(
            F.col(id_col).alias("id"), F.explode(words(text_col)).alias("tok")
        )
    else:
        # bind the words array first — see shingle_table's note
        tok_src = df.select(
            F.col(id_col).alias("id"), words(text_col).alias("w")
        ).select("id", F.explode(shingles(F.col("w"), token_k)).alias("tok"))
    toks = (
        tok_src.groupBy("id", "tok")
        .agg(F.count("*").alias("cnt"))
        .withColumn("h", md5hash60("tok"))
    )
    bits = F.array(*[F.lit(b) for b in range(nbits)])
    contrib = (
        toks.withColumn("b", F.explode(bits))
        .withColumn("c", F.expr("cnt * ((shiftright(h, b) & 1) * 2 - 1)"))
        .groupBy("id", "b")
        .agg(F.sum("c").alias("s"))
    )
    return (
        contrib.withColumn(
            "bitval",
            F.when(F.col("s") > 0, F.expr("shiftleft(CAST(1 AS BIGINT), b)")).otherwise(F.lit(0).cast("long")),
        )
        .groupBy("id")
        .agg(F.sum("bitval").alias("fp"))
    )


def simhash_near_dups(fps: DataFrame, nbits: int = 48, bands: int = 8, max_ham: int = 7) -> DataFrame:
    """(i, j, ham): pairs with hamming(fp_i, fp_j) ≤ max_ham.

    Pigeonhole: bands > max_ham ⇒ any qualifying pair agrees exactly on
    ≥1 band, so the banded self-join + exact hamming filter returns the
    complete brute-force pair set while shuffling only on (band, band
    value)."""
    assert bands > max_ham, "pigeonhole requires bands > max_ham"
    width = nbits // bands
    mask = (1 << width) - 1
    bandvals = _materialize(
        fps.withColumn(
            "band", F.explode(F.array(*[F.lit(b) for b in range(bands)]))
        ).withColumn("bv", F.expr(f"shiftright(fp, band * {width}) & {mask}"))
    )  # fingerprint chain runs once; both self-join sides read blocks
    other = bandvals.select(
        F.col("id").alias("id2"), F.col("fp").alias("fp2"),
        F.col("band").alias("band2"), F.col("bv").alias("bv2"),
    )
    return (
        bandvals.join(
            other,
            (F.col("band") == F.col("band2"))
            & (F.col("bv") == F.col("bv2"))
            & (F.col("id") < F.col("id2")),
        )
        .select(
            F.col("id").alias("i"), F.col("id2").alias("j"),
            F.bit_count(F.col("fp").bitwiseXOR(F.col("fp2"))).alias("ham"),
        )
        .distinct()
        .filter(F.col("ham") <= max_ham)
    )


# -- character n-gram Jaccard ---------------------------------------------

def char_ngrams(df: DataFrame, id_col: str, text_col: str, n: int = 5) -> DataFrame:
    """(id, gram) distinct character n-grams (sliding window).

    Trimmed text is bound to a column first so the per-index substr
    reads an attribute instead of re-trimming the document per gram
    (see shingle_table's note)."""
    c = F.col("t")
    grams = F.transform(
        F.sequence(F.lit(1), F.length(c) - F.lit(n - 1)),
        lambda i: c.substr(i, F.lit(n)),
    )
    grams = F.when(F.length(c) >= n, grams).otherwise(F.array().cast("array<string>"))
    return (
        df.select(F.col(id_col).alias("id"), F.trim(F.col(text_col)).alias("t"))
        .select("id", F.explode(grams).alias("shingle"))
        .distinct()
    )
