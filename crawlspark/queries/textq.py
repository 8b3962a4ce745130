"""Text-analysis queries (training-data pipeline ops over `documents`):
token counting, quality scoring, language-ID, fingerprinting — each
backed by crawlspark.operators.textstats and an exact DuckDB twin.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .. import schemas
from ..operators import textstats
from ..portable import md5hash60, md5hash60_sql
from .relational import T

_H = md5hash60_sql

_STOP_VALUES = ", ".join(
    f"('{lang}', '{tok}')"
    for lang, toks in sorted(textstats.STOPWORDS.items())
    for tok in toks
)


# --- BPE-ish token counting ----------------------------------------------

def q40_token_stats(spark, sf):
    d = T(spark, sf, "documents").withColumn(
        "n_tokens", textstats.token_count_col(F.col("text"))
    )
    return d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.round(F.avg("n_tokens"), 4).alias("avg_tokens"),
    )


SQL40 = r"""
SELECT source, count(*) AS n_docs,
       CAST(sum(n) AS BIGINT) AS total_tokens, round(avg(n), 4) AS avg_tokens
FROM (SELECT source,
             len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n
      FROM documents)
GROUP BY source
"""


# --- quality scoring ------------------------------------------------------

def q41_quality(spark, sf):
    d = T(spark, sf, "documents").filter(F.col("doc_id") < 100)
    q = textstats.with_quality(d, "text")
    return q.select(
        "doc_id", "n_words", "ttr", "mean_word_len", "stopword_ratio", "quality"
    )


SQL41 = r"""
SELECT doc_id, n_words,
       round(n_distinct / n_words, 6) AS ttr,
       round((n_chars_t - (n_words - 1)) / n_words, 6) AS mean_word_len,
       round(n_stop / n_words, 6) AS stopword_ratio,
       round(least(1.0, n_words / 200.0) * 0.5
             + (1 - least(1.0, n_punct / n_chars_t * 10)) * 0.25
             + least(1.0, n_stop / n_words * 5) * 0.25, 6) AS quality
FROM (
  SELECT doc_id,
         len(w) AS n_words,
         len(list_distinct(w)) AS n_distinct,
         length(trim(text)) AS n_chars_t,
         len(regexp_extract_all(trim(text), '[^A-Za-z0-9\s]')) AS n_punct,
         len(list_filter(w, x -> list_contains(['the','a','of','and','to','in','is'], x))) AS n_stop
  FROM (SELECT doc_id, text, string_split(trim(text), ' ') AS w FROM documents)
) WHERE doc_id < 100
"""


# --- language-ID (stopword-profile argmax) -------------------------------

def q42_lang_id(spark, sf):
    d = T(spark, sf, "documents")
    return textstats.lang_id(d, "doc_id", "text", spark)


SQL42 = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok FROM documents),
prof(lang, tok) AS (VALUES {_STOP_VALUES}),
sc AS (
  SELECT doc_id, lang, count(*) AS hits
  FROM toks JOIN prof USING (tok) GROUP BY 1, 2),
b AS (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, lang ASC) AS rn
  FROM sc)
SELECT d.doc_id AS id, coalesce(b.lang, 'und') AS pred_lang
FROM documents d LEFT JOIN (SELECT doc_id, lang FROM b WHERE rn = 1) b
  ON b.doc_id = d.doc_id
"""


# --- fingerprinting (min-hash over char 5-grams) -------------------------

def q43_fingerprint(spark, sf):
    d = T(spark, sf, "documents")
    return textstats.fingerprint(d, "doc_id", "text", n=5)


SQL43 = f"""
SELECT doc_id AS id, min({_H("substr(t, i, 5)")}) AS fp
FROM (SELECT doc_id, trim(text) AS t FROM documents),
     UNNEST(generate_series(1, greatest(length(t) - 4, 1))) AS u(i)
GROUP BY doc_id
"""


# --- multimodal metadata over an opaque binary column --------------------

def q44_media_meta(spark, sf):
    """Binary-column plumbing (multimodal.py design): blob = utf-8
    bytes of text as a stand-in payload; typed metadata = byte length
    + magic prefix, all JVM-side."""
    d = T(spark, sf, "documents").withColumn("blob", F.encode("text", "utf-8"))
    return d.select(
        "doc_id",
        F.octet_length("blob").alias("n_bytes"),
        F.substring(F.hex(F.col("blob")), 1, 16).alias("magic"),
    )


SQL44 = """
SELECT doc_id, octet_length(encode(text)) AS n_bytes,
       substr(hex(encode(text)), 1, 16) AS magic
FROM documents
"""


# --- repetition signals (Gopher-style corpus filters) --------------------

def q46_repetition(spark, sf):
    """Duplicate word-n-gram fractions + top-bigram coverage per doc
    (operators/textstats.with_repetition) — the repetition family of
    LLM corpus quality filters, as zero-shuffle column math."""
    d = T(spark, sf, "documents")
    return textstats.with_repetition(d, "doc_id", "text")


SQL46 = """
SELECT id,
       CASE WHEN len(g2) > 0
            THEN round(1 - len(list_distinct(g2)) / CAST(len(g2) AS DOUBLE), 6)
            ELSE 0.0 END AS dup_bigram_frac,
       CASE WHEN len(g3) > 0
            THEN round(1 - len(list_distinct(g3)) / CAST(len(g3) AS DOUBLE), 6)
            ELSE 0.0 END AS dup_trigram_frac,
       CASE WHEN len(g2) > 0
            THEN round(list_max(list_transform(list_distinct(g2),
                       x -> len(list_filter(g2, y -> y = x))))
                 / CAST(len(g2) AS DOUBLE), 6)
            ELSE 0.0 END AS top_bigram_cover
FROM (
  SELECT id,
         CASE WHEN len(w) >= 2
              THEN list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])
              ELSE [] END AS g2,
         CASE WHEN len(w) >= 3
              THEN list_transform(range(1, len(w) - 1),
                                  i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
              ELSE [] END AS g3
  FROM (SELECT doc_id AS id, string_split(trim(text), ' ') AS w FROM documents)
)
"""


# --- benchmark decontamination (shared-n-gram scan) ----------------------

def q47_contamination(spark, sf):
    """Corpus decontamination: flag documents sharing any word 4-gram
    with a benchmark set (here: doc_id < 5 stands in for the eval
    suite). Spark shape for 100 TB: the benchmark's distinct grams are
    tiny by definition (evals are MBs), so they BROADCAST; the corpus
    side is a narrow explode + partial-agg distinct count — one
    shuffle on doc_id, no corpus-vs-corpus join ever. The gram arrays
    are materialized before the two explodes (GenerateExec
    re-evaluates an inlined generator expression per OUTPUT row — see
    q48; measured 10 s → ~2 s at sf0.1), and one materialization
    serves both the bench and corpus sides."""
    from ..operators.dedup import _materialize
    from ..operators.textstats import _word_grams
    from ..portable import words

    d = _materialize(
        T(spark, sf, "documents").select(
            "doc_id", words("text").alias("_w")
        ).select("doc_id", _word_grams(F.col("_w"), 4).alias("_g"))
    )
    bench = (
        d.filter(F.col("doc_id") < 5)
        .select(F.explode("_g").alias("gram"))
        .distinct()
    )
    corpus = d.filter(F.col("doc_id") >= 5).select(
        "doc_id", F.explode("_g").alias("gram")
    )
    return (
        corpus.join(F.broadcast(bench), "gram")
        .groupBy("doc_id")
        .agg(F.count_distinct("gram").alias("n_shared_grams"))
    )


SQL47 = """
WITH g AS (
  SELECT doc_id,
         CASE WHEN len(w) >= 4
              THEN list_transform(range(1, len(w) - 2),
                   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])
              ELSE [] END AS grams
  FROM (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents)
),
bench AS (
  SELECT DISTINCT gram FROM g, UNNEST(g.grams) AS t(gram) WHERE doc_id < 5
)
SELECT doc_id, count(DISTINCT gram) AS n_shared_grams
FROM (SELECT doc_id, gram FROM g, UNNEST(g.grams) AS t(gram) WHERE doc_id >= 5)
JOIN bench USING (gram)
GROUP BY doc_id
"""


def decontam_bloom(spark, sf, nbits: int = 1 << 16, k: int = 7):
    """P41 — Bloom-prefiltered decontamination, the 10^8-eval-gram
    scale path of q47. q47 broadcasts the eval suite's distinct grams
    as a hash-join relation (~50 B/gram with strings + join-table
    overhead); here they fold into a Bloom bitset (~10 bits/gram at a
    1% FP target — a 10^8-gram eval union is a ~120 MB broadcast
    instead of ~5 GB), the corpus gram stream probes the bitset as a
    NARROW Arrow-vectorized filter (no shuffle, no join), and only the
    bloom-positive survivors take the broadcast semi-join that kills
    false positives — so the result is EXACT (identical to q47, same
    oracle) while the expensive exact join sees only
    contaminated + FP-rate·clean grams instead of every corpus gram.

    Reuses the crawl's C5 machinery end-to-end: the bitset is built by
    seen.fold_bloom (partial-agg JVM UDAF when the native jar is
    loaded, cogrouped numpy otherwise) and probed by
    seen.bloom_prefilter_broadcast — the same double-hashing scheme
    that is bit-parity-tested against native/src/BloomProbe.scala.
    The probe deliberately takes the Python broadcast path, never
    BloomProbe.register: the JVM probe keeps ONE live bitset broadcast
    per session and re-registration destroys the previous one, which
    would yank the seen-filter's bitset out from under a live engine
    (see BloomProbe.scala `last`).

    No false negatives (Bloom guarantee) ⇒ no contaminated doc can
    escape; false positives are provably removed by the verify join ⇒
    bit-identical rows to q47 at ANY (nbits, k) — the test forces
    nbits=64 to prove exactness under a saturated filter."""
    from ..operators import seen
    from ..operators.dedup import _materialize
    from ..operators.textstats import _word_grams
    from ..portable import words

    d = _materialize(
        T(spark, sf, "documents").select(
            "doc_id", words("text").alias("_w")
        ).select("doc_id", _word_grams(F.col("_w"), 4).alias("_g"))
    )
    bench = _materialize(
        d.filter(F.col("doc_id") < 5)
        .select(F.explode("_g").alias("gram"))
        .distinct()
    )
    bloom = seen.fold_bloom(
        bench.select(
            F.lit(0).alias("part"), F.xxhash64("gram").alias("url_hash")
        ),
        spark.createDataFrame([], schemas.BLOOM_SEEN),
        cycle_id=0, nbits=nbits, k=k,
    )
    corpus = d.filter(F.col("doc_id") >= 5).select(
        "doc_id", F.explode("_g").alias("gram")
    )
    probed = seen.bloom_prefilter_broadcast(
        corpus.withColumn("part", F.lit(0)).withColumn(
            "url_hash", F.xxhash64("gram")
        ),
        bloom,
    )
    return (
        probed.filter("maybe_seen")
        .join(F.broadcast(bench), "gram", "left_semi")
        .groupBy("doc_id")
        .agg(F.count_distinct("gram").alias("n_shared_grams"))
    )


def q124_decontam_bloom(spark, sf):
    return decontam_bloom(spark, sf)


# --- statistical LM quality scoring (CCNet-style) ------------------------

def q48_lm_quality(spark, sf):
    """Corpus-typicality score per document: an add-1-smoothed bigram
    LM is trained on the corpus itself (CCNet-style quality filter —
    docs full of rare bigrams score low), then each doc scores the
    mean smoothed probability of its own bigrams.

    Parity design: probabilities stay RATIONAL (count+1)/(N+B) — no
    ln(), whose last ulp differs between Java's and DuckDB's libm —
    and the mean is evaluated as EXACT INTEGER arithmetic divided
    once:  mean p = Σ_g c_dg·(c_bi+1) / (n_g · (N_bi+B))  where c_dg
    is the doc's count of gram g and n_g = Σ c_dg. Integer sums are
    associative, so every aggregation partial-aggregates freely on
    both engines and the ONLY float ops are one multiply and one
    divide per doc — identical IEEE ops in identical order, bit-exact
    without any collect_list/sort/fold (the r3 shape's per-doc
    `sort_array(collect_list(struct))` + sequential fold was the
    whole 7.3 s cost at sf0.1; this is the same mathematical
    definition evaluated exactly).

    Spark shape at 100 TB: per-(doc,gram) counts shuffle once, the
    model derives from THEM (partial-agg, never a second corpus
    scan), the score join broadcasts while the model fits (AQE
    decides), and the final per-doc rollup is a long-sum groupBy.
    The gram ARRAYS are materialized before the explode (lazy
    localCheckpoint, the dedup._materialize pattern): Spark's
    GenerateExec re-evaluates an inlined generator expression per
    OUTPUT row, so exploding the transform()-built gram column
    directly costs O(grams × doc_len) interpreted expression evals —
    measured 7.1 s vs 0.3 s from a materialized array column at
    sf0.1. The (doc,gram) count table is then materialized too, since
    both the model and the score join read it."""
    from ..operators.dedup import _materialize
    from ..operators.textstats import _word_grams
    from ..portable import words

    d = _materialize(
        T(spark, sf, "documents").select(
            "doc_id", words("text").alias("_w")
        ).select("doc_id", _word_grams(F.col("_w"), 2).alias("_g"))
    )
    per = _materialize(
        d.select("doc_id", F.explode("_g").alias("gram"))
        .groupBy("doc_id", "gram")
        .agg(F.count("*").alias("c_dg"))
    )
    model = _materialize(
        per.groupBy("gram").agg(F.sum("c_dg").alias("c_bi"))
    )
    s = model.agg(
        F.sum("c_bi").alias("n_bi"), F.count("*").alias("b")
    ).collect()[0]
    denom = float(int(s["n_bi"]) + int(s["b"]))  # N_bi + B, exact < 2^53
    return (
        per.join(model, "gram")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("c_dg") * (F.col("c_bi") + 1)).alias("_num"),
            F.sum("c_dg").alias("_ng"),
        )
        .select(
            "doc_id",
            F.round(
                F.col("_num").cast("double")
                / (F.col("_ng").cast("double") * F.lit(denom)),
                6,
            ).alias("lm_score"),
        )
    )


# the bigram-LM CTE chain, shared by SQL48 (scores) and SQL132 (bands)
_LM_CTES = """g AS (
  SELECT doc_id, gram
  FROM (
    SELECT doc_id,
           CASE WHEN len(w) >= 2
                THEN list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])
                ELSE [] END AS grams
    FROM (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents)
  ), UNNEST(grams) AS t(gram)
),
per AS (SELECT doc_id, gram, count(*) AS c_dg FROM g GROUP BY doc_id, gram),
model AS (SELECT gram, sum(c_dg) AS c_bi FROM per GROUP BY gram),
denom AS (
  SELECT CAST((SELECT sum(c_bi) FROM model) + (SELECT count(*) FROM model) AS DOUBLE) AS d
),
scores AS (
  SELECT doc_id,
         round(CAST(sum(c_dg * (c_bi + 1)) AS DOUBLE)
               / (CAST(sum(c_dg) AS DOUBLE) * (SELECT d FROM denom)), 6)
         AS lm_score
  FROM per JOIN model USING (gram)
  GROUP BY doc_id
)"""

SQL48 = f"""
WITH {_LM_CTES}
SELECT doc_id, lm_score FROM scores
"""


# --- BM25 relevance ranking ----------------------------------------------

BM25_TERMS = ["table", "spark", "vector"]
BM25_K1, BM25_B = 1.5, 0.75


def q49_bm25(spark, sf):
    """BM25 ranking of documents against a fixed term set — the
    retrieval scorer a corpus pipeline uses for query-based curation.
    Same parity discipline as q48: idf stays the unlogged
    (N - df + 0.5)/(df + 0.5) ratio (monotone in df; avoids libm ln),
    corpus stats (N, df_t, avgdl) are exact-integer-derived doubles,
    and the 3-term sum is a fixed-association column expression, so
    Spark and DuckDB evaluate identical IEEE ops in identical order.
    Per-doc work is pure column math; the corpus stats are one tiny
    aggregate."""
    from ..portable import words

    d = T(spark, sf, "documents").select(
        "doc_id", words("text").alias("_w")
    ).withColumn("dl", F.size("_w"))
    stats = d.agg(
        F.count("*").alias("n"),
        F.sum("dl").alias("sdl"),
        *[
            F.sum(F.array_contains("_w", t).cast("long")).alias(f"df{i}")
            for i, t in enumerate(BM25_TERMS)
        ],
    ).collect()[0]
    n, avgdl = int(stats["n"]), int(stats["sdl"]) / int(stats["n"])

    def eq(term):
        # one-arg lambda factory: a default-arg closure would present a
        # 2-param signature and PySpark would bind it as (element, idx)
        return lambda x: x == F.lit(term)

    score = F.lit(0.0)
    for i, t in enumerate(BM25_TERMS):
        df_t = int(stats[f"df{i}"])
        idf = (n - df_t + 0.5) / (df_t + 0.5)
        tf = F.size(F.filter("_w", eq(t)))
        score = score + F.lit(idf) * (
            tf * (BM25_K1 + 1)
        ) / (tf + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.lit(avgdl)))
    return d.select("doc_id", F.round(score, 6).alias("bm25"))


def _sql49() -> str:
    terms = ", ".join(f"'{t}'" for t in BM25_TERMS)
    per_term = " + ".join(
        f"""((SELECT (n - df{i} + 0.5) / (df{i} + 0.5) FROM stats)
     * (len(list_filter(w, x -> x = '{t}')) * ({BM25_K1} + 1))
     / (len(list_filter(w, x -> x = '{t}'))
        + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * len(w)
                       / (SELECT avgdl FROM stats))))"""
        for i, t in enumerate(BM25_TERMS)
    )
    dfs = ", ".join(
        f"sum(CASE WHEN list_contains(w, '{t}') THEN 1 ELSE 0 END) AS df{i}"
        for i, t in enumerate(BM25_TERMS)
    )
    return f"""
WITH d AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
stats AS (
  SELECT count(*) AS n, CAST(sum(len(w)) AS DOUBLE) / count(*) AS avgdl, {dfs}
  FROM d
)
SELECT doc_id, round(0.0 + {per_term}, 6) AS bm25 FROM d
"""  # noqa: F821 (terms interpolated above)


SQL49 = _sql49()


# --- sequence packing (token-budget batch assembly) ----------------------

PACK_BUDGET = 512


def q58_seq_packing(spark, sf):
    """Sequence packing for LLM training batches: documents (in
    deterministic doc_id order) are assigned to fixed-token-budget
    packs by a running-token prefix sum — pack_id = floor(prev_cumsum
    / budget). This is contiguous-fill packing: a doc that crosses a
    boundary stays in the pack where it started (packs overshoot by
    < one doc), the distributed-friendly variant of greedy packing,
    which is inherently sequential. At 100 TB the single global window
    becomes the operator's distributed=True two-phase scan (per-range
    token sums + broadcast prefix offsets — same arithmetic, no
    single-partition funnel; equality-tested); at testdata sizes the
    one window is the honest plan."""
    from ..operators.textstats import pack_sequences
    from ..portable import words

    d = T(spark, sf, "documents").select(
        "doc_id", F.size(words("text")).alias("n_tokens")
    )
    return pack_sequences(d, "doc_id", "n_tokens", PACK_BUDGET)


SQL58 = f"""
SELECT doc_id, n_tokens,
       CAST(floor(COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  / {PACK_BUDGET}) AS BIGINT) AS pack_id
FROM (SELECT doc_id, len(string_split(trim(text), ' ')) AS n_tokens
      FROM documents)
"""


def q66_boilerplate(spark, sf):
    """Host-scoped boilerplate scoring (P26): chunks recurring in ≥2
    distinct docs of the same source are site furniture; each doc gets
    its furniture ratio. DF table = two partial-agg groupBys; the
    scoring join has one build row per (source, chunk) key."""
    return textstats.boilerplate_detect(
        T(spark, sf, "documents"), "doc_id", "text", "source",
        chunk_words=12, min_df=2,
    )


SQL66 = f"""
WITH w AS (SELECT doc_id AS id, source AS grp,
                  string_split(trim(text), ' ') AS w
           FROM documents),
c AS (
  SELECT id, grp,
         {_H("array_to_string(list_slice(w, s, s + 11), ' ')")} AS k
  FROM w, UNNEST(range(1, len(w) + 1, 12)) AS u(s)),
df AS (SELECT grp, k, count(DISTINCT id) AS df FROM c GROUP BY 1, 2)
SELECT c.id AS doc_id,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_boiler,
       round(sum(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END)
             / count(*), 6) AS boiler_ratio
FROM c JOIN df ON c.grp = df.grp AND c.k = df.k
GROUP BY 1
"""


def q69_mixture(spark, sf):
    """P27 weighted mixture resampling by language: downsample the en
    head (0.5), upsample de (2.25 → 2-3 copies), keep fr (1.0),
    near-drop zh (0.125), default 0.75 for the rest (es). The epoch
    column indexes repeats; the deterministic md5-threshold keep means
    DuckDB replays the exact row choice."""
    out = textstats.mixture_sample(
        T(spark, sf, "documents"), "doc_id", "lang",
        {"en": 0.5, "de": 2.25, "fr": 1.0, "zh": 0.125},
        default_weight=0.75,
    )
    return out.select("doc_id", "lang", "source", "epoch")


_W69 = ("CASE lang WHEN 'en' THEN 500000 WHEN 'de' THEN 2250000 "
        "WHEN 'fr' THEN 1000000 WHEN 'zh' THEN 125000 ELSE 750000 END")

SQL69 = f"""
WITH d AS (
  SELECT doc_id, lang, source,
         ({_W69} // 1000000)
         + CASE WHEN ({_H("doc_id")} % 1000000) < ({_W69} % 1000000)
                THEN 1 ELSE 0 END AS n
  FROM documents)
SELECT doc_id, lang, source, CAST(u.epoch AS INT) AS epoch
FROM d, UNNEST(range(1, n + 1)) AS u(epoch)
"""


def q74_pii_scrub(spark, sf):
    """P29 PII scrubbing: plant deterministic PII (an email, a phone,
    or an IP on 3 of every 4 docs, hash-picked) then redact to typed
    tokens with per-doc counts. The planted text is built identically
    in both engines, so the byte-level scrub result and every count
    replay exactly."""
    d = T(spark, sf, "documents")
    sel = F.pmod(md5hash60("doc_id"), F.lit(4))
    planted = d.select(
        "doc_id",
        F.concat(
            F.trim("text"),
            F.when(sel == 0, F.concat(
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com now"),
            ))
            .when(sel == 1, F.lit(" call 555-867-5309 today"))
            .when(sel == 2, F.lit(" served from 10.1.2.3 fast"))
            .otherwise(F.lit("")),
        ).alias("text"),
    )
    return textstats.pii_scrub(planted, "doc_id", "text")


_EM = textstats.PII_PATTERNS["email"]
_PH = textstats.PII_PATTERNS["phone"]
_IP = textstats.PII_PATTERNS["ipv4"]

SQL74 = f"""
WITH planted AS (
  SELECT doc_id,
         trim(text) || CASE ({_H("doc_id")} % 4)
           WHEN 0 THEN ' contact user' || CAST(doc_id AS VARCHAR)
                       || '@example.com now'
           WHEN 1 THEN ' call 555-867-5309 today'
           WHEN 2 THEN ' served from 10.1.2.3 fast'
           ELSE '' END AS t
  FROM documents),
s1 AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(t, '{_EM}')) AS BIGINT) AS n_email,
         regexp_replace(t, '{_EM}', '<EMAIL>', 'g') AS t
  FROM planted),
s2 AS (
  SELECT doc_id, n_email,
         CAST(len(regexp_extract_all(t, '{_PH}')) AS BIGINT) AS n_phone,
         regexp_replace(t, '{_PH}', '<PHONE>', 'g') AS t
  FROM s1)
SELECT doc_id, n_email, n_phone,
       CAST(len(regexp_extract_all(t, '{_IP}')) AS BIGINT) AS n_ipv4,
       regexp_replace(t, '{_IP}', '<IPV4>', 'g') AS text_scrubbed
FROM s2
"""


def q75_shard_manifest(spark, sf):
    """R26 sharded corpus export: the per-shard manifest for a
    16 KiB-target sharding of `documents`. Shard membership is
    md5-60(id) mod n_shards — deterministic under any partitioning or
    retry, so the manifest (and the files write_sharded lays down)
    replay exactly; n_shards = ceil(total text bytes / target)."""
    from ..operators import bucketing

    return bucketing.shard_plan(
        T(spark, sf, "documents"), "doc_id", "text", target_bytes=16384
    )


SQL75 = f"""
WITH tot AS (
  SELECT greatest(1, CAST(ceil(sum(octet_length(encode(text))) / 16384.0)
                     AS BIGINT)) AS n
  FROM documents)
SELECT CAST(({_H("doc_id")} % tot.n) AS INT) AS shard_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(octet_length(encode(text))) AS BIGINT) AS n_bytes
FROM documents, tot
GROUP BY 1
"""


def q95_curation(spark, sf):
    """P30 end-to-end curation pipeline (operators/textstats.curate):
    quality features + filter (n_words >= 5, quality >= 0.4) →
    stopword-argmax language-ID → exact dedup keep-first on the text
    prefix → weighted mixture resampling — composed as ONE declarative
    plan: the dedup window exchange (map-side WindowGroupLimit prunes
    to 1 row/dup_key before the wire) plus the rollup's two-phase
    distinct aggregate; no other shuffle exists in the plan.
    The mixture keys on the metadata ``lang`` column (the testdata's
    text is English-vocab for every lang, so pred_lang is degenerate
    here; it rides along as the computed feature it is in production).
    Output: per-(lang, pred_lang) post-resample row count (training
    epoch copies), distinct surviving docs, training-token total,
    mixture-weighted mean quality."""
    # tokenize once per INPUT doc — post-mixture each epoch copy would
    # re-run the BPE regexp on the full text (the narrow column rides
    # through the dedup shuffle as one int)
    d = T(spark, sf, "documents").withColumn(
        "n_tokens", textstats.token_count_col(F.col("text"))
    )
    rs = textstats.curate(
        d, "doc_id", "text",
        min_words=5, min_quality=0.4,
        mixture={"en": 0.5, "de": 2.25, "fr": 1.0, "zh": 0.125},
        default_weight=0.75, mixture_col="lang",
    )
    return rs.groupBy("lang", "pred_lang").agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.round(F.avg("quality"), 4).alias("avg_quality"),
    )


_W95 = ("CASE lang WHEN 'en' THEN 500000 WHEN 'de' THEN 2250000 "
        "WHEN 'fr' THEN 1000000 WHEN 'zh' THEN 125000 ELSE 750000 END")

SQL95 = rf"""
WITH feat AS (
  SELECT doc_id, lang, text, n_words,
         round(least(1.0, n_words / 200.0) * 0.5
               + (1 - least(1.0, n_punct / n_chars_t * 10)) * 0.25
               + least(1.0, n_stop / n_words * 5) * 0.25, 6) AS quality
  FROM (
    SELECT doc_id, lang, text,
           len(w) AS n_words,
           length(trim(text)) AS n_chars_t,
           len(regexp_extract_all(trim(text), '[^A-Za-z0-9\s]')) AS n_punct,
           len(list_filter(w, x -> list_contains(['the','a','of','and','to','in','is'], x))) AS n_stop
    FROM (SELECT doc_id, lang, text, string_split(trim(text), ' ') AS w
          FROM documents))),
toks AS (
  SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok FROM documents),
prof(plang, tok) AS (VALUES {_STOP_VALUES}),
sc AS (
  SELECT doc_id, plang, count(*) AS hits
  FROM toks JOIN prof USING (tok) GROUP BY 1, 2),
langp AS (
  SELECT doc_id, plang FROM (
    SELECT doc_id, plang,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY hits DESC, plang ASC) AS rn
    FROM sc) WHERE rn = 1),
kept AS (
  SELECT f.doc_id, f.lang, f.text, f.quality,
         coalesce(l.plang, 'und') AS pred_lang
  FROM feat f LEFT JOIN langp l ON l.doc_id = f.doc_id
  WHERE f.n_words >= 5 AND f.quality >= 0.4),
surv AS (
  SELECT doc_id, lang, text, quality, pred_lang FROM (
    SELECT *, row_number() OVER (PARTITION BY dup_key
                                 ORDER BY doc_id) AS rn
    FROM (SELECT *, {_H("substr(text, 1, 40)")} AS dup_key FROM kept))
  WHERE rn = 1),
mix AS (
  SELECT doc_id, lang, pred_lang, quality, text,
         ({_W95} // 1000000)
         + CASE WHEN ({_H("doc_id")} % 1000000) < ({_W95} % 1000000)
                THEN 1 ELSE 0 END AS n
  FROM surv)
SELECT lang, pred_lang,
       count(*) AS n_rows,
       count(DISTINCT doc_id) AS n_docs,
       CAST(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS BIGINT) AS total_tokens,
       round(avg(quality), 4) AS avg_quality
FROM mix, UNNEST(range(1, n + 1)) AS u(epoch)
GROUP BY lang, pred_lang
"""


def q99_tfidf(spark, sf):
    """P31 TF-IDF salient terms (operators/textstats.tfidf_top_terms):
    the 5 most source-characteristic terms per source by unlogged
    TF-IDF — corpus-audit surface. Tie-break (tfidf desc, tok asc) and
    the rational idf make the ranking engine-independent."""
    return textstats.tfidf_top_terms(
        T(spark, sf, "documents"), "source", "text", k=5
    )


SQL99 = """
WITH toks AS (
  SELECT source AS grp, unnest(string_split(trim(text), ' ')) AS tok
  FROM documents),
tf AS (SELECT grp, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
dfs AS (SELECT tok, count(*) AS df_g FROM tf GROUP BY tok),
ng AS (SELECT count(DISTINCT source) AS n FROM documents),
scored AS (
  SELECT grp, tok, tf, tf * (n + 1.0) / (df_g + 1.0) AS tfidf
  FROM tf JOIN dfs USING (tok), ng)
SELECT grp AS source, tok, tf, round(tfidf, 6) AS tfidf
FROM (SELECT *, row_number() OVER (PARTITION BY grp
                                   ORDER BY tfidf DESC, tok ASC) AS rn
      FROM scored)
WHERE rn <= 5
"""


def q100_warc_export(spark, sf):
    """R29 WARC serialization (operators/bucketing.warc_records):
    every document rendered as a deterministic WARC/1.0 response
    record (urn:uuid record id = md5(target URI); byte-exact
    Content-Length), the interchange format crawl tooling reads.
    Zero shuffles — pure narrow concat."""
    from ..operators import bucketing

    d = T(spark, sf, "documents").withColumn(
        "uri",
        F.concat(
            F.lit("https://"), F.col("source"), F.lit("/doc/"),
            F.col("doc_id").cast("string"),
        ),
    )
    return bucketing.warc_records(d, "doc_id", "text", F.col("uri"))


SQL100 = r"""
WITH d AS (
  SELECT doc_id, text,
         'https://' || source || '/doc/' || CAST(doc_id AS VARCHAR) AS uri
  FROM documents),
r AS (
  SELECT doc_id,
         'WARC/1.0' || e'\r\n' || 'WARC-Type: response' || e'\r\n'
         || 'WARC-Target-URI: ' || uri || e'\r\n'
         || 'WARC-Date: 2026-01-01T00:00:00Z' || e'\r\n'
         || 'WARC-Record-ID: <urn:uuid:'
         || substr(md5(uri), 1, 8) || '-' || substr(md5(uri), 9, 4) || '-'
         || substr(md5(uri), 13, 4) || '-' || substr(md5(uri), 17, 4) || '-'
         || substr(md5(uri), 21, 12) || '>' || e'\r\n'
         || 'Content-Type: text/plain' || e'\r\n'
         || 'Content-Length: ' || CAST(octet_length(encode(text)) AS VARCHAR)
         || e'\r\n\r\n' || text || e'\r\n\r\n' AS warc
  FROM d)
SELECT doc_id, warc,
       CAST(octet_length(encode(warc)) AS BIGINT) AS warc_bytes
FROM r
"""


# --- WARC round-trip ingestion (R30) --------------------------------------

def q112_warc_roundtrip(spark, sf):
    """R30: parse_warc_records ∘ warc_records must be the identity on
    (doc_id, uri, text) — the Common Crawl consumer-side contract. A
    single wrong byte anywhere (headers, Content-Length arithmetic,
    byte-vs-char slicing) shifts the hash. Zero shuffles end-to-end."""
    from ..operators import bucketing

    d = T(spark, sf, "documents").withColumn(
        "uri",
        F.concat(
            F.lit("https://"), F.col("source"), F.lit("/doc/"),
            F.col("doc_id").cast("string"),
        ),
    )
    w = bucketing.warc_records(d, "doc_id", "text", F.col("uri"))
    return bucketing.parse_warc_records(w).select("doc_id", "uri", "text")


SQL112 = """
SELECT doc_id,
       'https://' || source || '/doc/' || CAST(doc_id AS VARCHAR) AS uri,
       text
FROM documents
"""


# --- WebDataset-style tar shard export + round-trip (R31) ------------------

def q119_wds_shards(spark, sf):
    """R31: the corpus packed into deterministic WebDataset-style tar
    shards (one USTAR archive per md5-60(id)-mod-8 shard, members
    ``{doc_id}.txt`` sorted by id, every header field pinned), then
    streamed BACK out of the archives and byte-compared to the source
    — per-shard manifest (n_samples, tar_bytes, tar_sha256,
    n_roundtrip). The oracle twin hand-rolls the same USTAR layout
    without the tarfile library, so header packing, checksum
    arithmetic and record padding are format-level cross-checked, not
    shared code."""
    from ..operators import bucketing
    from ..operators.dedup import _materialize

    d = T(spark, sf, "documents")
    # consumed twice (manifest + parse); build each tar exactly once
    shards = _materialize(bucketing.wds_shards(d, "doc_id", "text", n_shards=8))
    parsed = bucketing.wds_parse(shards)
    orig = d.select(
        F.col("doc_id").cast("string").alias("id"),
        F.coalesce(F.col("text"), F.lit("")).alias("otext"),
    )
    counts = (
        parsed.join(orig, "id")
        .filter(F.col("text") == F.col("otext"))
        .groupBy("shard_id")
        .agg(F.count("*").alias("n_roundtrip"))
    )
    return shards.select(
        "shard_id", "n_samples", "tar_bytes", "tar_sha256"
    ).join(counts, "shard_id")


_Q119_VERSION = 1
_Q119_SHARDS = 8


def _q119_oracle(sf: str) -> str:
    """Expectation-parquet oracle for q119: a hand-rolled USTAR writer
    (no tarfile import — independent header packing, checksum and
    record padding) over the same grouping/ordering. Idempotent per
    (sf, version)."""
    import hashlib
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    key = sf.strip("/").replace("/", "_")
    out_dir = f"/tmp/crawlspark_q119_oracle_v{_Q119_VERSION}_{key}"
    out_path = os.path.join(out_dir, "q119.parquet")
    if not os.path.exists(os.path.join(out_dir, "_DONE")):

        def _oct(n: int, width: int) -> bytes:
            return ("%0*o" % (width - 1, n)).encode("ascii") + b"\0"

        def _tar(samples: list[tuple[str, bytes]]) -> bytes:
            out = bytearray()
            for name, payload in samples:
                h = bytearray(512)
                nb = name.encode("utf-8")
                h[0 : len(nb)] = nb
                h[100:108] = _oct(0o644, 8)
                h[108:116] = _oct(0, 8)
                h[116:124] = _oct(0, 8)
                h[124:136] = _oct(len(payload), 12)
                h[136:148] = _oct(0, 12)
                h[148:156] = b" " * 8
                h[156:157] = b"0"
                h[257:263] = b"ustar\0"
                h[263:265] = b"00"
                h[148:156] = ("%06o" % sum(h)).encode("ascii") + b"\0 "
                out += h
                out += payload
                out += b"\0" * ((-len(payload)) % 512)
            out += b"\0" * 1024
            out += b"\0" * ((-len(out)) % 10240)
            return bytes(out)

        t = pq.read_table(
            os.path.join(sf, "documents.parquet"), columns=["doc_id", "text"]
        )
        groups: dict[int, list[tuple[str, bytes]]] = {}
        for did, txt in zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()):
            sid = int(hashlib.md5(str(did).encode()).hexdigest()[:15], 16) % _Q119_SHARDS
            groups.setdefault(sid, []).append((str(did), (txt or "").encode("utf-8")))
        sids, ns, nb, sha, nrt = [], [], [], [], []
        for sid in sorted(groups):
            samples = sorted(groups[sid], key=lambda s: s[0])
            raw = _tar([(f"{i}.txt", p) for i, p in samples])
            sids.append(sid)
            ns.append(len(samples))
            nb.append(len(raw))
            sha.append(hashlib.sha256(raw).hexdigest())
            nrt.append(len(samples))
        tbl = pa.table(
            {
                "shard_id": pa.array(sids, pa.int32()),
                "n_samples": pa.array(ns, pa.int64()),
                "tar_bytes": pa.array(nb, pa.int64()),
                "tar_sha256": pa.array(sha, pa.string()),
                "n_roundtrip": pa.array(nrt, pa.int64()),
            }
        )
        _write_expectation(out_dir, "q119.parquet", tbl)
    return f"SELECT * FROM read_parquet('{out_path}')"


# --- nested-PSL registered-domain extraction (C33 extension) ---------------

_Q120_VERSION = 1
_Q120_SFX = ["com", "co.uk", "com.au", "k12.ca.us", "other.ck", "www.ck"]
_Q120_RULES = (
    "com", "uk", "co.uk", "au", "com.au", "us", "ca.us", "k12.ca.us",
    "*.ck", "!www.ck",
)


def q120_psl_domains(spark, sf):
    """C33 nested-PSL extension: the full publicsuffix.org registered-
    domain algorithm (multi-level rules like co.uk/k12.ca.us, wildcard
    *.ck, exception !www.ck, implicit * default) as pure JVM column
    math over a deterministic host table derived from `customer` —
    every suffix family × subdomain depth 1–3. This is the politeness
    bucket key the engine's C33 grouping uses (engine._pol_expr routes
    through the same operator). Oracle: expectation parquet from the
    independent sequential twin (urlnorm.registered_domain_py)."""
    from ..urlnorm import registered_domain

    c = T(spark, sf, "customer")
    sfx = F.element_at(
        F.array(*[F.lit(s) for s in _Q120_SFX]),
        (F.pmod(F.col("c_custkey"), F.lit(6)) + 1).cast("int"),
    )
    prefix = F.element_at(
        F.array(F.lit(""), F.lit("a."), F.lit("b.a.")),
        (F.pmod(F.col("c_custkey"), F.lit(3)) + 1).cast("int"),
    )
    host = F.concat(
        prefix, F.lit("site"), F.col("c_custkey").cast("string"), F.lit("."), sfx
    )
    return c.select(
        host.alias("host"),
        registered_domain(host, _Q120_RULES).alias("registered"),
    )


def _q120_oracle(sf: str) -> str:
    """Expectation parquet for q120: same host construction, the
    sequential PSL twin for the registered domain."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ..urlnorm import registered_domain_py

    key = sf.strip("/").replace("/", "_")
    out_dir = f"/tmp/crawlspark_q120_oracle_v{_Q120_VERSION}_{key}"
    out_path = os.path.join(out_dir, "q120.parquet")
    if not os.path.exists(os.path.join(out_dir, "_DONE")):
        t = pq.read_table(
            os.path.join(sf, "customer.parquet"), columns=["c_custkey"]
        )
        hosts, regs = [], []
        for k in t.column("c_custkey").to_pylist():
            h = (
                ["", "a.", "b.a."][k % 3]
                + f"site{k}."
                + _Q120_SFX[k % 6]
            )
            hosts.append(h)
            regs.append(registered_domain_py(h, _Q120_RULES))
        tbl = pa.table(
            {
                "host": pa.array(hosts, pa.string()),
                "registered": pa.array(regs, pa.string()),
            }
        )
        _write_expectation(out_dir, "q120.parquet", tbl)
    return f"SELECT * FROM read_parquet('{out_path}')"


# --- domain-level quality with empirical-Bayes shrinkage (P33) -----------

def q103_domain_quality(spark, sf):
    """P33: the Gopher/RefinedWeb-style DOMAIN filter — per source:
    exact integer feature sums, a composite quality score computed
    from those sums (partitioning-invariant: no order-sensitive
    double accumulation), and the score shrunk toward the corpus
    prior by pseudo-count 20, so thin domains aren't kept/killed on a
    noisy mean (textstats.domain_quality)."""
    d = T(spark, sf, "documents")
    return textstats.domain_quality(d, "text", "source", k=20)


SQL103 = r"""
WITH f AS (
  SELECT source,
         length(t) AS n_chars,
         len(w) AS n_words,
         len(regexp_extract_all(t, '[^A-Za-z0-9\s]')) AS n_punct,
         len(list_filter(w, x -> list_contains(['the','a','of','and','to','in','is'], x))) AS n_stop
  FROM (SELECT source, trim(text) AS t, string_split(trim(text), ' ') AS w
        FROM documents)),
a AS (
  SELECT source, count(*) AS n_docs,
         CAST(sum(n_words) AS BIGINT) AS sum_words,
         CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         CAST(sum(n_punct) AS BIGINT) AS sum_punct,
         CAST(sum(n_stop) AS BIGINT) AS sum_stop
  FROM f GROUP BY source),
s AS (
  SELECT source, n_docs, sum_words,
         round(least(1.0, (sum_words / n_docs) / 200.0) * 0.5
               + (1 - least(1.0, sum_punct / sum_chars * 10)) * 0.25
               + least(1.0, sum_stop / sum_words * 5) * 0.25, 6) AS score
  FROM a),
g AS (
  SELECT round(least(1.0, (CAST(sum(n_words) AS BIGINT) / count(*)) / 200.0) * 0.5
               + (1 - least(1.0, CAST(sum(n_punct) AS BIGINT)
                                 / CAST(sum(n_chars) AS BIGINT) * 10)) * 0.25
               + least(1.0, CAST(sum(n_stop) AS BIGINT)
                            / CAST(sum(n_words) AS BIGINT) * 5) * 0.25, 6) AS prior
  FROM f)
SELECT source, n_docs, sum_words, score,
       round((n_docs * score + 20 * prior) / (n_docs + 20), 6) AS score_shrunk
FROM s, g
"""


# --- compression-ratio quality signal (P36) -------------------------------

def q111_compression_quality(spark, sf):
    """P36: per-doc zlib compression ratio (Gopher/FineWeb quality
    heuristic) — one Arrow-batched pandas UDF, zero shuffles. Oracle:
    a sequential pure-Python zlib pass over the same parquet written
    as expectation parquet at oracle-build time (textq.build_oracle)
    — the differential test covers the distributed layer."""
    d = T(spark, sf, "documents")
    return textstats.compression_signal(d, "doc_id", "text")


_Q111_VERSION = 1


def build_oracle(sf: str | None = None) -> dict[str, str]:
    """Expectation-parquet oracle for q111 (streamq.build_oracle
    pattern): sequential zlib over the documents parquet, rounding by
    the F.round half-up twin; idempotent per (sf, version)."""
    import os
    import tempfile as _tf
    import zlib

    import pyarrow as pa
    import pyarrow.parquet as pq

    from .crawl_oracle import _round6_half_up

    sf = sf or os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")
    key = sf.strip("/").replace("/", "_")
    out_dir = f"/tmp/crawlspark_q111_oracle_v{_Q111_VERSION}_{key}"
    out_path = os.path.join(out_dir, "q111.parquet")
    if not os.path.exists(os.path.join(out_dir, "_DONE")):
        t = pq.read_table(
            os.path.join(sf, "documents.parquet"), columns=["doc_id", "text"]
        )
        ids = t.column("doc_id").to_pylist()
        texts = t.column("text").to_pylist()
        n, zb, ratio = [], [], []
        for txt in texts:
            b = (txt or "").encode("utf-8")
            c = len(zlib.compress(b, 6))
            n.append(len(b))
            zb.append(c)
            ratio.append(_round6_half_up(c / max(len(b), 1)))
        tbl = pa.table(
            {
                "id": pa.array(ids, pa.int64()),
                "n_bytes": pa.array(n, pa.int64()),
                "z_bytes": pa.array(zb, pa.int64()),
                "z_ratio": pa.array(ratio, pa.float64()),
            }
        )
        tmp = _tf.mkdtemp(prefix=f"{out_dir}.stage-")
        pq.write_table(tbl, os.path.join(tmp, "q111.parquet"))
        open(os.path.join(tmp, "_DONE"), "w").write("ok")
        try:
            os.replace(tmp, out_dir)
        except OSError:
            import shutil

            shutil.rmtree(tmp, ignore_errors=True)
    return {
        "q111_compression_quality": f"SELECT * FROM read_parquet('{out_path}')",
        "q117_bpe_merges": _q117_oracle(sf),
        "q118_bpe_tokenize": _q118_oracle(sf),
        "q119_wds_shards": _q119_oracle(sf),
        "q120_psl_domains": _q120_oracle(sf),
        "q121_bpe_packing": _q121_oracle(sf),
    }


_Q117_VERSION = 1
_Q117_ROUNDS = 10
_Q118_VERSION = 1


def _bpe_learn_py(sf: str, rounds: int):
    """Sequential pure-Python BPE twin over the documents parquet —
    word-frequency dict, per-round overlapping pair counts, argmax on
    (count DESC, pair lex ASC), left-to-right non-overlapping
    str.replace merge (the exact semantics of Spark's replace over the
    space-joined symbol string). Returns (merge_rows, final_syms):
    merge_rows = [(round, left, right, merged, pair_count)], final_syms
    maps the fully-merged symbol string of each vocab word to its
    corpus frequency (words that collapse to the same symbol string
    pool their frequencies — only token counting consumes it)."""
    import os

    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(sf, "documents.parquet"), columns=["text"])
    freq: dict[str, int] = {}
    for txt in t.column("text").to_pylist():
        for w in (txt or "").strip().split(" "):
            if w:
                freq[w] = freq.get(w, 0) + 1
    syms = {" ".join(w): f for w, f in freq.items()}
    rows = []
    for r in range(1, rounds + 1):
        pc: dict[tuple, int] = {}
        for sym, f in syms.items():
            parts = sym.split(" ")
            for i in range(len(parts) - 1):
                pc[(parts[i], parts[i + 1])] = (
                    pc.get((parts[i], parts[i + 1]), 0) + f
                )
        if not pc:
            break
        (l, rr), cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        rows.append((r, l, rr, l + rr, cnt))
        nxt: dict[str, int] = {}
        for sym, f in syms.items():
            ns = (" " + sym + " ").replace(
                f" {l} {rr} ", f" {l}{rr} "
            ).strip()
            nxt[ns] = nxt.get(ns, 0) + f
        syms = nxt
    return rows, syms


def _write_expectation(out_dir: str, fname: str, tbl) -> None:
    """Atomically publish an expectation parquet (stage dir + _DONE
    marker + rename — the idempotent pattern every parquet oracle here
    uses)."""
    import os
    import tempfile as _tf

    import pyarrow.parquet as pq

    tmp = _tf.mkdtemp(prefix=f"{out_dir}.stage-")
    pq.write_table(tbl, os.path.join(tmp, fname))
    open(os.path.join(tmp, "_DONE"), "w").write("ok")
    try:
        os.replace(tmp, out_dir)
    except OSError:
        import shutil

        shutil.rmtree(tmp, ignore_errors=True)


def _q117_oracle(sf: str) -> str:
    """Expectation-parquet oracle for q117 (merge-rule table from the
    sequential twin). Idempotent per (sf, version)."""
    import os

    import pyarrow as pa

    key = sf.strip("/").replace("/", "_")
    out_dir = f"/tmp/crawlspark_q117_oracle_v{_Q117_VERSION}_{key}"
    out_path = os.path.join(out_dir, "q117.parquet")
    if not os.path.exists(os.path.join(out_dir, "_DONE")):
        rows, _syms = _bpe_learn_py(sf, _Q117_ROUNDS)
        tbl = pa.table(
            {
                "round": pa.array([r[0] for r in rows], pa.int32()),
                "left": pa.array([r[1] for r in rows], pa.string()),
                "right": pa.array([r[2] for r in rows], pa.string()),
                "merged": pa.array([r[3] for r in rows], pa.string()),
                "pair_count": pa.array([r[4] for r in rows], pa.int64()),
            }
        )
        _write_expectation(out_dir, "q117.parquet", tbl)
    return f"SELECT * FROM read_parquet('{out_path}')"


def _q118_oracle(sf: str) -> str:
    """Expectation-parquet oracle for q118 (corpus token frequencies
    under the learned merges): the twin's final symbol strings ARE the
    tokenized vocab, so counting is a dict fold over them weighted by
    word frequency. Idempotent per (sf, version)."""
    import os

    import pyarrow as pa

    key = sf.strip("/").replace("/", "_")
    out_dir = f"/tmp/crawlspark_q118_oracle_v{_Q118_VERSION}_{key}"
    out_path = os.path.join(out_dir, "q118.parquet")
    if not os.path.exists(os.path.join(out_dir, "_DONE")):
        _rows, syms = _bpe_learn_py(sf, _Q117_ROUNDS)
        tokens: dict[str, int] = {}
        for sym, f in syms.items():
            for tok in sym.split(" "):
                tokens[tok] = tokens.get(tok, 0) + f
        items = sorted(tokens.items())
        tbl = pa.table(
            {
                "token": pa.array([k for k, _ in items], pa.string()),
                "n_occurrences": pa.array([v for _, v in items], pa.int64()),
            }
        )
        _write_expectation(out_dir, "q118.parquet", tbl)
    return f"SELECT * FROM read_parquet('{out_path}')"


# --- distributed BPE merge learning (P39) ---------------------------------

def q117_bpe_merges(spark, sf):
    """P39: the first 10 BPE merge rules learned distributed — corpus
    scanned once into a word-frequency table, each round a
    partial-aggregated pair count over that compact table with one
    collected argmax scalar; merges apply as literal string replaces
    (left-to-right non-overlapping, bit-identical to the sequential
    twin's str.replace). Oracle: expectation parquet from the
    pure-Python twin (the q111 differential pattern)."""
    d = T(spark, sf, "documents")
    return textstats.bpe_merges(d, "text", k_rounds=10)


# --- BPE tokenization with learned merges (P40) ---------------------------

def q118_bpe_tokenize(spark, sf):
    """P40: the apply side of q117 — learn the 10 merge rules (one
    collected k-row tokenizer artifact), then tokenize the corpus with
    them: merges run as k chained literal replaces over the DISTINCT
    word vocabulary only (JVM codegen, cost ∝ vocab × k, never corpus
    × k), token counts explode the merged symbol strings weighted by
    word frequency (partial-agg groupBy). Output: the corpus
    token-frequency table. Oracle: expectation parquet from the
    sequential twin's final symbol strings (shared learner with
    q117's oracle)."""
    d = T(spark, sf, "documents")
    rules = sorted(
        textstats.bpe_merges(d, "text", k_rounds=10).collect(),
        key=lambda r: r["round"],
    )
    return textstats.bpe_apply(d, "text", [(r["left"], r["right"]) for r in rules])


# --- model-based quality filtering (P10 extension) -------------------------

_Q123_DIMS = 256


def q123_classifier_filter(spark, sf):
    """P10 model-based flavor: hashed-feature linear-classifier
    inference (the FastText/DCLM filtering dataflow) — unigram+bigram
    tokens hash into 256 buckets, integer bucket weights mean-pool per
    doc, keep = positive logit. Integer-exact internals (one float
    division per doc), so the SQL twin replays it bit-for-bit."""
    return textstats.classifier_filter(
        T(spark, sf, "documents"), "doc_id", "text", dims=_Q123_DIMS
    ).select(F.col("id").alias("doc_id"), "n_feats", "logit", "keep")


def _q123_sql() -> str:
    import hashlib

    weights = [
        int(hashlib.md5(f"w#{b}".encode()).hexdigest()[:15], 16) % 2001 - 1000
        for b in range(_Q123_DIMS)
    ]
    wlist = "[" + ", ".join(str(w) for w in weights) + "]"
    return f"""
WITH d AS (SELECT doc_id AS id, string_split(trim(text), ' ') AS w
           FROM documents),
toks AS (
  SELECT id, tok FROM (
    SELECT id, unnest(w) AS tok FROM d
    UNION ALL
    SELECT id, (w[i] || '_' || w[i+1]) AS tok
    FROM d, UNNEST(generate_series(1, len(w) - 1)) AS u(i))
  WHERE tok != ''),
feat AS (
  SELECT id, ({wlist})[CAST(({_H("tok")} % {_Q123_DIMS}) + 1 AS INTEGER)] AS wv
  FROM toks),
agg AS (
  SELECT id, CAST(count(*) AS BIGINT) AS n_feats,
         CAST(sum(wv) AS BIGINT) AS sw
  FROM feat GROUP BY id)
SELECT id AS doc_id, n_feats,
       round(sw / (1000.0 * n_feats), 6) AS logit,
       (sw > 0) AS keep
FROM agg
"""


SQL123 = _q123_sql()


# --- tokenizer-aware sequence packing (P40 ∘ P24) --------------------------

_Q121_VERSION = 1
_Q121_BUDGET = 4096


def q121_bpe_packing(spark, sf):
    """P40 ∘ P24 composition: pack documents by their REAL tokenizer
    cost — per-doc BPE token counts under the learned merges (q117's
    rules; vocab-side apply, corpus scanned once) feed the q58
    contiguous-fill pack assignment. Packing by whitespace words
    under-budgets docs whose words split into many subword tokens;
    this is the number a training batch actually pays. Oracle:
    expectation parquet from the sequential twin (per-word apply +
    exclusive prefix sum in doc_id order)."""
    from ..operators.textstats import pack_sequences

    d = T(spark, sf, "documents")
    rules = sorted(
        textstats.bpe_merges(d, "text", k_rounds=10).collect(),
        key=lambda r: r["round"],
    )
    counts = textstats.bpe_token_counts(
        d, "doc_id", "text", [(r["left"], r["right"]) for r in rules]
    )
    return pack_sequences(counts, "id", "n_tokens_bpe", budget=_Q121_BUDGET)


def _q121_oracle(sf: str) -> str:
    """Expectation parquet for q121: learn merges with the shared
    sequential twin, tokenize each doc word-by-word, exclusive prefix
    sum in numeric doc_id order → pack_id."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    key = sf.strip("/").replace("/", "_")
    out_dir = f"/tmp/crawlspark_q121_oracle_v{_Q121_VERSION}_{key}"
    out_path = os.path.join(out_dir, "q121.parquet")
    if not os.path.exists(os.path.join(out_dir, "_DONE")):
        rows, _syms = _bpe_learn_py(sf, _Q117_ROUNDS)
        merges = [(r[1], r[2]) for r in rows]

        word_toks: dict[str, int] = {}

        def n_toks(word: str) -> int:
            if word not in word_toks:
                s = " " + " ".join(word) + " "
                for l, r in merges:
                    s = s.replace(f" {l} {r} ", f" {l}{r} ")
                word_toks[word] = len(s.strip().split(" "))
            return word_toks[word]

        t = pq.read_table(
            os.path.join(sf, "documents.parquet"), columns=["doc_id", "text"]
        )
        docs = sorted(
            zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist())
        )
        ids, counts, packs, acc = [], [], [], 0
        for did, txt in docs:
            n = sum(n_toks(w) for w in (txt or "").strip().split(" ") if w)
            ids.append(did)
            counts.append(n)
            packs.append(acc // _Q121_BUDGET)
            acc += n
        tbl = pa.table(
            {
                "id": pa.array(ids, pa.int64()),
                "n_tokens_bpe": pa.array(counts, pa.int64()),
                "pack_id": pa.array(packs, pa.int64()),
            }
        )
        _write_expectation(out_dir, "q121.parquet", tbl)
    return f"SELECT * FROM read_parquet('{out_path}')"


# --- token-budgeted corpus selection (P38) --------------------------------

def q116_budget_select(spark, sf):
    """P38: keep the greedy quality prefix of the corpus under a fixed
    token budget — docs in (quality DESC, doc_id) order while the
    running token total stays <= 8000. The cumulative sum is the
    fully-distributed two-phase prefix sum (range-partition, collect P
    partition totals, offset + local running sum) — no global-window
    one-partition funnel; exact long arithmetic, ties broken on id."""
    d = T(spark, sf, "documents")
    q = textstats.with_quality(d, "text").select(
        "doc_id", "quality", F.col("n_words").cast("long").alias("n_tokens")
    )
    return textstats.budget_select(
        q, "doc_id", "quality", "n_tokens", budget=8000
    ).select(
        F.col("id").alias("doc_id"), F.col("q").alias("quality"),
        F.col("cost").alias("n_tokens"), F.col("cum_cost").alias("cum_tokens"),
    )


SQL116 = r"""
WITH s AS (
  SELECT doc_id,
         round(least(1.0, n_words / 200.0) * 0.5
               + (1 - least(1.0, n_punct / n_chars_t * 10)) * 0.25
               + least(1.0, n_stop / n_words * 5) * 0.25, 6) AS quality,
         CAST(n_words AS BIGINT) AS n_tokens
  FROM (
    SELECT doc_id,
           len(w) AS n_words,
           length(trim(text)) AS n_chars_t,
           len(regexp_extract_all(trim(text), '[^A-Za-z0-9\s]')) AS n_punct,
           len(list_filter(w, x -> list_contains(['the','a','of','and','to','in','is'], x))) AS n_stop
    FROM (SELECT doc_id, text, string_split(trim(text), ' ') AS w FROM documents))),
c AS (
  SELECT doc_id, quality, n_tokens,
         CAST(sum(n_tokens) OVER (ORDER BY quality DESC, doc_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
  FROM s)
SELECT doc_id, quality, n_tokens, cum_tokens FROM c WHERE cum_tokens <= 8000
"""




# --- quality-ranked per-source caps (P45) ---------------------------------

def q128_source_cap(spark, sf):
    """P45: domain/source balancing by quality-ranked truncation —
    cap every source at ceil(0.6 * its doc count), keeping its
    HIGHEST-quality documents (quality DESC, doc_id ASC tie-break).
    The hard-cap complement of q69's mixture resampling: q69 hits
    target mixture WEIGHTS by deterministic hash thinning; this stops
    any one source from flooding the corpus while preferentially
    keeping its best documents (the FineWeb/Gopher-style per-dump cap).

    Scale shape: quality is q41's pure column math (zero shuffles);
    the per-source rank is one window over the source partitioning.
    Sources are few and large, so at 10^10 docs the window input is
    prefiltered by an approx-quantile quality threshold per source
    (percentile_approx keeps ~cap rows per source before the exact
    rank) — the sandbox-scale plan skips the prefilter, the rule and
    output are identical either way."""
    from pyspark.sql import Window

    d = textstats.with_quality(T(spark, sf, "documents"), "text").select(
        "doc_id", "source", "quality"
    )
    n = d.groupBy("source").agg(F.count("*").alias("n_src"))
    w = Window.partitionBy("source").orderBy(
        F.col("quality").desc(), F.col("doc_id").asc()
    )
    return (
        d.withColumn("src_rank", F.row_number().over(w))
        .join(F.broadcast(n), "source")
        .select(
            "doc_id", "source", "quality", "src_rank",
            (F.col("src_rank") <= F.ceil(F.lit(0.6) * F.col("n_src"))).alias("kept"),
        )
    )


SQL128 = r"""
WITH q AS (
  SELECT doc_id, source,
         round(least(1.0, n_words / 200.0) * 0.5
               + (1 - least(1.0, n_punct / n_chars_t * 10)) * 0.25
               + least(1.0, n_stop / n_words * 5) * 0.25, 6) AS quality
  FROM (
    SELECT doc_id, source,
           len(w) AS n_words,
           length(trim(text)) AS n_chars_t,
           len(regexp_extract_all(trim(text), '[^A-Za-z0-9\s]')) AS n_punct,
           len(list_filter(w, x -> list_contains(['the','a','of','and','to','in','is'], x))) AS n_stop
    FROM (SELECT doc_id, source, text, string_split(trim(text), ' ') AS w FROM documents))),
r AS (
  SELECT doc_id, source, quality,
         row_number() OVER (PARTITION BY source ORDER BY quality DESC, doc_id ASC) AS src_rank,
         count(*) OVER (PARTITION BY source) AS n_src
  FROM q)
SELECT doc_id, source, quality, src_rank,
       src_rank <= ceil(0.6 * n_src) AS kept
FROM r
"""


# --- stride token-window chunking (P46) -----------------------------------

def q129_stride_chunks(spark, sf):
    """P46: context-window chunking — each document's word stream cut
    into 64-token windows with stride 48 (16-token overlap), the
    training-example segmentation between curation and packing. Chunk
    m starts at token 1+48m; the last chunk is the first to reach the
    document end (nothing fully covered by its predecessor is
    emitted). chunk_sig (md5-60 of the '_'-joined slice) is the
    identity downstream chunk dedup (P25) consumes. One narrow pass:
    bind words, arithmetic chunk count, explode a sequence, slice —
    no shuffle, no UDF (operators/textstats.stride_chunks)."""
    return textstats.stride_chunks(
        T(spark, sf, "documents"), "doc_id", "text", window=64, stride=48
    )


SQL129 = f"""
WITH d AS (
  SELECT doc_id AS id, string_split(trim(text), ' ') AS w,
         len(string_split(trim(text), ' ')) AS n
  FROM documents),
c AS (
  SELECT id, w, n, unnest(generate_series(0, n_chunks - 1)) AS chunk_idx
  FROM (SELECT id, w, n,
               CASE WHEN n <= 64 THEN 1
                    ELSE 1 + (n - 64 + 47) // 48 END AS n_chunks
        FROM d)),
s AS (
  SELECT id, chunk_idx, chunk_idx * 48 + 1 AS tok_start,
         least(64, n - (chunk_idx * 48 + 1) + 1) AS n_chunk_tokens, w
  FROM c)
SELECT id, chunk_idx, tok_start, n_chunk_tokens,
       {_H("array_to_string(list_slice(w, tok_start, tok_start + n_chunk_tokens - 1), '_')")} AS chunk_sig
FROM s
"""




# --- CCNet-style perplexity banding (P47) ----------------------------------

def q132_perplexity_bands(spark, sf):
    """P47: CCNet-style perplexity banding — within each language,
    scored docs split into head/middle/tail TERCILES of the q48
    corpus-typicality score (rank*3 <= n -> head, <= 2n -> middle,
    else tail; score DESC, doc_id tie-break). An exact integer-rank
    rule, no float quantiles, so the band assignment replays
    identically across engines and partitionings. The standard
    curation knob: train on head+middle, audit the tail. Languages
    are few and large, so at 10^10 docs the per-lang window takes the
    q128 threshold-prefilter treatment (approx-quantile band edges,
    exact trim at the boundaries)."""
    from pyspark.sql import Window

    scores = q48_lm_quality(spark, sf)
    d = T(spark, sf, "documents").select("doc_id", "lang")
    w = Window.partitionBy("lang").orderBy(
        F.col("lm_score").desc(), F.col("doc_id").asc()
    )
    nw = Window.partitionBy("lang")
    return (
        scores.join(d, "doc_id")
        .withColumn("rnk", F.row_number().over(w))
        .withColumn("n_lang", F.count("*").over(nw))
        .select(
            "doc_id", "lang", "lm_score",
            F.when(F.col("rnk") * 3 <= F.col("n_lang"), "head")
            .when(F.col("rnk") * 3 <= 2 * F.col("n_lang"), "middle")
            .otherwise("tail")
            .alias("band"),
        )
    )


SQL132 = f"""
WITH {_LM_CTES},
j AS (
  SELECT s.doc_id, d.lang, s.lm_score
  FROM scores s JOIN documents d USING (doc_id)),
r AS (
  SELECT *,
         row_number() OVER (PARTITION BY lang ORDER BY lm_score DESC, doc_id ASC) AS rnk,
         count(*) OVER (PARTITION BY lang) AS n_lang
  FROM j)
SELECT doc_id, lang, lm_score,
       CASE WHEN rnk * 3 <= n_lang THEN 'head'
            WHEN rnk * 3 <= 2 * n_lang THEN 'middle'
            ELSE 'tail' END AS band
FROM r
"""


# --- training-mix data budgeting (P48) --------------------------------------

BUDGET133 = 10_000_000


def q133_data_budget(spark, sf):
    """P48: training-mix data budgeting — given per-source token
    counts (q40's counting rule), deterministic mixture weights
    (1 + md5(source) % 4), and a fixed training-token budget, derive
    each source's target token allocation and the repetition factor
    (epochs = ceil(target/available)) a mix planner schedules before
    launching a run. Every allocation step is exact 64-bit integer
    arithmetic (`div`, the budget share too, as integer parts per
    million), so the plan replays bit-identically across engines,
    partitionings and resumes. One scalar collect (the weight total);
    everything else is a partial-agg groupBy on source."""
    d = T(spark, sf, "documents").withColumn(
        "n_tokens", textstats.token_count_col(F.col("text"))
    )
    per = (
        d.groupBy("source")
        .agg(F.sum("n_tokens").cast("long").alias("n_tokens"))
        .withColumn("weight", (md5hash60(F.col("source")) % 4 + 1).cast("long"))
    )
    wtot = int(per.agg(F.sum("weight").alias("w")).collect()[0]["w"])
    tgt = f"(({BUDGET133} * weight) div {wtot})"
    return per.select(
        "source", "n_tokens", "weight",
        F.expr(tgt).alias("target_tokens"),
        F.expr(f"({tgt} + n_tokens - 1) div n_tokens").alias("epochs"),
        F.expr(f"(1000000 * {tgt}) div {BUDGET133}").alias("budget_ppm"),
    )


SQL133 = rf"""
WITH per AS (
  SELECT source,
         CAST(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS BIGINT) AS n_tokens,
         CAST({_H("source")} % 4 + 1 AS BIGINT) AS weight
  FROM documents GROUP BY source),
wt AS (SELECT CAST(sum(weight) AS BIGINT) AS w FROM per)
SELECT source, n_tokens, weight,
       ({BUDGET133} * weight) // (SELECT w FROM wt) AS target_tokens,
       (({BUDGET133} * weight) // (SELECT w FROM wt) + n_tokens - 1) // n_tokens AS epochs,
       (1000000 * (({BUDGET133} * weight) // (SELECT w FROM wt))) // {BUDGET133} AS budget_ppm
FROM per
"""


# --- positional inverted index + phrase search (P52) -----------------------

def q137_phrase_search(spark, sf):
    """P52: exact-phrase search over a positional inverted index —
    (term, doc, pos) postings (operators/textstats.positional_index)
    intersected positionally (term k at pos₀+k), the classic IR
    phrase algorithm. The probe phrase is data-derived but
    deterministic: the corpus' most frequent word bigram (count DESC,
    bigram ASC — one bounded 1-row collect), so the query replays
    identically across engines and partitionings. Each phrase term
    prunes the postings scan to a single term's list; the join runs
    on (doc, pos arithmetic) over those lists only."""
    from ..portable import shingles, words

    d = T(spark, sf, "documents")
    post = textstats.positional_index(d, "doc_id", "text")
    top = (
        d.select(F.explode(shingles(words("text"), 2, " ")).alias("g"))
        .groupBy("g")
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), F.asc("g"))
        .limit(1)
        .collect()[0]["g"]
    )
    return textstats.phrase_occurrences(post, top.split(" ")).select(
        F.col("id").alias("doc_id"), F.lit(top).alias("phrase"), "n_occ"
    )


SQL137 = """
WITH wtab AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
g AS (
  SELECT (w[i] || ' ' || w[i+1]) AS g
  FROM wtab, UNNEST(generate_series(1, len(w) - 1)) AS u(i)),
topg AS (SELECT g FROM g GROUP BY g ORDER BY count(*) DESC, g LIMIT 1),
ts AS (SELECT string_split((SELECT g FROM topg), ' ') AS t),
post AS (
  SELECT doc_id AS id, i - 1 AS pos, w[i] AS term
  FROM wtab, UNNEST(generate_series(1, len(w))) AS u(i)),
m AS (
  SELECT a.id
  FROM post a JOIN post b ON b.id = a.id AND b.pos = a.pos + 1
  WHERE a.term = (SELECT t[1] FROM ts) AND b.term = (SELECT t[2] FROM ts))
SELECT id AS doc_id, (SELECT g FROM topg) AS phrase, count(*) AS n_occ
FROM m GROUP BY 1
"""


# --- deterministic epoch shuffle (P50) -------------------------------------

def q135_epoch_shuffle(spark, sf):
    """P50: deterministic per-epoch global shuffle — 4 training
    epochs' example orders as (epoch, pos, doc_id), each epoch a
    hash-keyed permutation (md5-60('ep#'||epoch||'#'||doc_id), doc_id
    tie-break). Retry-stable and partitioning-invariant where rand()
    is neither; resumable mid-epoch from (seed, epoch, pos) alone;
    epochs decorrelated because the epoch number is inside the hash.
    Scale path: the same two-phase distributed rank as C18 (see
    operators/textstats.epoch_shuffle)."""
    return textstats.epoch_shuffle(
        T(spark, sf, "documents"), "doc_id", n_epochs=4, seed="ep"
    )


SQL135 = f"""
WITH e AS (
  SELECT doc_id, CAST(i AS INT) AS epoch
  FROM documents, UNNEST(generate_series(0, 3)) AS t(i)),
k AS (
  SELECT epoch, doc_id,
         {_H("'ep' || '#' || CAST(epoch AS VARCHAR) || '#' || CAST(doc_id AS VARCHAR)")} AS skey
  FROM e)
SELECT epoch,
       CAST(row_number() OVER (PARTITION BY epoch ORDER BY skey, doc_id) - 1 AS BIGINT) AS pos,
       doc_id
FROM k
"""


# --- HTML→text extraction + line-level quality filtering (P56/P57) ---------

def _page_expr():
    """Deterministic HTML page per document — title/script/nav/h1/
    footer boilerplate around the doc text, with entities — the input
    a fetcher would hand the extraction pass. Built in-query (the q100
    WARC pattern) so both engines see identical bytes."""
    return F.concat(
        F.lit('<html><head><title>'), F.col("source"),
        F.lit(' &amp; co</title><script type="text/javascript">var n=1;'
              '</script></head><body><nav>Home | About &amp; Contact</nav>'
              '<h1>'),
        F.col("source"), F.lit(" doc "), F.col("doc_id").cast("string"),
        F.lit("</h1><p>"), F.col("text"),
        F.lit("</p><br/><footer>(c) 2026 "), F.col("source"),
        F.lit("</footer></body></html>"),
    )


_PAGE_SQL = (
    "'<html><head><title>' || source || ' &amp; co</title>"
    "<script type=\"text/javascript\">var n=1;</script></head>"
    "<body><nav>Home | About &amp; Contact</nav>"
    "<h1>' || source || ' doc ' || CAST(doc_id AS VARCHAR) || '</h1><p>' "
    "|| text || '</p><br/><footer>(c) 2026 ' || source "
    "|| '</footer></body></html>'"
)

# the DuckDB twin of textstats.html_to_text — same regex chain, same
# entity decode, same per-line trim/collapse/drop-empty
_EXTRACT_SQL = """
  list_aggregate(
    list_filter(
      list_transform(
        string_split(
          replace(replace(replace(replace(replace(
            regexp_replace(
              regexp_replace(
                regexp_replace(
                  regexp_replace(
                    regexp_replace({page}, '<script[^>]*>[^<]*</script>', ' ', 'g'),
                    '<style[^>]*>[^<]*</style>', ' ', 'g'),
                  '</(title|p|div|nav|footer|h1|h2|h3|li|ul|ol|tr|table)>', e'\\n', 'g'),
                '<br[ /]*>', e'\\n', 'g'),
              '<[^>]*>', ' ', 'g'),
            '&amp;', '&'), '&lt;', '<'), '&gt;', '>'),
            '&quot;', '"'), '&#39;', e'\\''),
          e'\\n'),
        l -> trim(regexp_replace(l, ' +', ' ', 'g'))),
      l -> l != ''),
    'string_agg', e'\\n')
"""


def q141_html_extract(spark, sf):
    """P56 HTML→text extraction (operators/textstats.html_to_text):
    each document wrapped in a deterministic page (title, script, nav,
    h1, entities, footer) and recovered as cleaned newline-joined
    lines — byte-hash-checked against the DuckDB regex twin. Narrow,
    zero shuffles, linear in corpus bytes."""
    d = T(spark, sf, "documents")
    ext = textstats.html_to_text(_page_expr())
    return d.select(
        "doc_id",
        ext.alias("page_text"),
        F.size(F.split(ext, "\n")).cast("long").alias("n_lines"),
    )


SQL141 = f"""
WITH e AS (
  SELECT doc_id, ({_EXTRACT_SQL.format(page=_PAGE_SQL)}) AS page_text
  FROM documents)
SELECT doc_id, page_text,
       CAST(len(string_split(page_text, e'\\n')) AS BIGINT) AS n_lines
FROM e
"""


def q142_line_filter(spark, sf):
    """P57 line-level quality filtering
    (operators/textstats.line_quality_filter) composed on P56: the
    C4/RefinedWeb line rules (≥5 words, no '|' separators, no
    copyright marks) strip the page boilerplate lines and recover the
    original document text — `recovered` asserts main_text ==
    trim(text) per doc, so a single wrong byte in either operator
    shifts the hash."""
    d = T(spark, sf, "documents")
    ext = d.select(
        "doc_id", F.trim("text").alias("_orig"),
        textstats.html_to_text(_page_expr()).alias("page_text"),
    )
    out = textstats.line_quality_filter(ext, "doc_id", "page_text", min_words=5)
    return (
        out.join(ext.select("doc_id", "_orig"),
                 out["id"] == F.col("doc_id")).select(
            "doc_id", "main_text", "n_lines", "n_kept",
            (F.col("main_text") == F.col("_orig")).alias("recovered"),
        )
    )


SQL142 = f"""
WITH e AS (
  SELECT doc_id, trim(text) AS orig,
         string_split(({_EXTRACT_SQL.format(page=_PAGE_SQL)}), e'\\n') AS lines
  FROM documents),
k AS (
  SELECT doc_id, orig, lines,
         list_filter(lines,
                     l -> len(string_split(l, ' ')) >= 5
                          AND NOT contains(l, '|')
                          AND NOT starts_with(l, '(c)')) AS kept
  FROM e)
SELECT doc_id,
       list_aggregate(kept, 'string_agg', e'\\n') AS main_text,
       CAST(len(lines) AS BIGINT) AS n_lines,
       CAST(len(kept) AS BIGINT) AS n_kept,
       (list_aggregate(kept, 'string_agg', e'\\n') = orig) AS recovered
FROM k
"""


# --- sort-clustered layout scan (R32) ---------------------------------------

_Q147_DIR: dict[str, str] = {}


def q147_clustered_scan(spark, sf):
    """R32 (operators/bucketing.clustered_write): documents
    range-clustered by doc_id into 8 parquet files, then a selective
    doc_id range predicate scanned back — byte-identical data through
    the clustered layout (the oracle reads the ORIGINAL table, so any
    row lost/duplicated by the re-layout shifts the hash). The scale
    property — non-overlapping per-file min/max, predicate touching
    exactly one file — is pinned in tests/test_layout.py."""
    import tempfile as _tf

    from ..operators import bucketing

    key = sf
    if key not in _Q147_DIR:
        out = _tf.mkdtemp(prefix="crawlspark-q147-") + "/docs_clustered"
        bucketing.clustered_write(
            T(spark, sf, "documents"), out, "doc_id", n_files=8
        )
        _Q147_DIR[key] = out
    return (
        spark.read.parquet(_Q147_DIR[key])
        .filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 160))
        .select("doc_id", "source", "lang", "n_chars")
    )


SQL147 = """
SELECT doc_id, source, lang, n_chars
FROM documents WHERE doc_id >= 100 AND doc_id < 160
"""


# --- ORC scan/sink roundtrip (R33) ------------------------------------------

_Q150_DIR: dict[str, str] = {}


def q150_orc_roundtrip(spark, sf):
    """R33 ORC scan + sink: documents written to ORC (Spark's second
    built-in columnar format — the warehouse-interchange path when the
    downstream is Hive/Trino-shaped) and scanned back with a predicate
    — the oracle reads the ORIGINAL parquet, so any row/value mangled
    by the ORC encode/decode shifts the hash. Predicate pushdown and
    column pruning work identically to parquet (Catalyst data-source
    filters), asserted in tests/test_layout.py."""
    import tempfile as _tf

    key = sf
    if key not in _Q150_DIR:
        out = _tf.mkdtemp(prefix="crawlspark-q150-") + "/docs_orc"
        T(spark, sf, "documents").write.mode("overwrite").orc(out)
        _Q150_DIR[key] = out
    return (
        spark.read.orc(_Q150_DIR[key])
        .filter(F.col("lang") == "en")
        .select("doc_id", "text", "lang", "source", "n_chars")
    )


SQL150 = """
SELECT doc_id, text, lang, source, n_chars
FROM documents WHERE lang = 'en'
"""


# --- Gopher rule bundle with per-rule attribution (P58) ---------------------

def q151_gopher_rules(spark, sf):
    """P58 (operators/textstats.gopher_rules): the MassiveWeb filter
    bundle with per-rule attribution — six named rules, a bitmask, and
    the composed keep; every verdict an exact integer comparison so
    the report hash-matches the DuckDB twin bit-for-bit."""
    return textstats.gopher_rules(
        T(spark, sf, "documents"), "doc_id", "text"
    ).withColumnRenamed("id", "doc_id")


SQL151 = """
WITH b AS (
  SELECT doc_id AS id, trim(text) AS t, string_split(trim(text), ' ') AS w
  FROM documents),
g AS (
  SELECT id, t, w,
         CASE WHEN len(w) >= 2
              THEN list_transform(range(1, len(w)), i -> w[i] || '_' || w[i+1])
              ELSE [] END AS g2
  FROM b),
f AS (
  SELECT id, t, w, g2,
         CAST(len(w) AS BIGINT) AS nw,
         length(t) - (len(w) - 1) AS chars,
         len(list_filter(w, x -> list_contains(['the','a','of','and','to','in','is'], x))) AS n_stop,
         len(g2) AS ng2,
         len(list_distinct(g2)) AS ndist2,
         CASE WHEN len(g2) > 0
              THEN list_max(list_transform(list_distinct(g2),
                                           x -> len(list_filter(g2, y -> y = x))))
              ELSE 0 END AS top2
  FROM g),
r AS (
  SELECT id, nw,
         (nw < 50) AS r_too_few_words,
         (nw > 100000) AS r_too_many_words,
         (chars < nw * 3 OR chars > nw * 10) AS r_word_len,
         (n_stop * 50 < nw) AS r_stop_ratio,
         ((ng2 - ndist2) * 10 > ng2 * 3) AS r_dup_bigrams,
         (top2 * 100 > ng2 * 18) AS r_top_bigram
  FROM f)
SELECT id AS doc_id, nw AS n_words,
       r_too_few_words, r_too_many_words, r_word_len, r_stop_ratio,
       r_dup_bigrams, r_top_bigram,
       CAST(CASE WHEN r_too_few_words THEN 1 ELSE 0 END
          + CASE WHEN r_too_many_words THEN 2 ELSE 0 END
          + CASE WHEN r_word_len THEN 4 ELSE 0 END
          + CASE WHEN r_stop_ratio THEN 8 ELSE 0 END
          + CASE WHEN r_dup_bigrams THEN 16 ELSE 0 END
          + CASE WHEN r_top_bigram THEN 32 ELSE 0 END AS BIGINT) AS rule_mask,
       (NOT (r_too_few_words OR r_too_many_words OR r_word_len
             OR r_stop_ratio OR r_dup_bigrams OR r_top_bigram)) AS keep
FROM r
"""


# --- weighted sampling without replacement (P59) ---------------------------

_Q152_K = 40


def q152_weighted_sample(spark, sf):
    """P59 (operators/textstats.weighted_sample_wor): fixed-size
    weighted sample without replacement over `documents` — weight
    tiers docs by length (w = 1 + min(7, n_chars // 64), so longer
    docs hold up to 8 lottery tickets), priority = the doc's best
    md5-60 ticket, winners = the 40 smallest priorities. Libm-free by
    construction (no exp/ln draw), so the DuckDB twin is bit-exact;
    zero shuffles before the TakeOrdered top-k."""
    d = T(spark, sf, "documents").select(
        "doc_id",
        (1 + F.least(F.lit(7), F.floor(F.col("n_chars") / 64))).alias("w_raw"),
    )
    return textstats.weighted_sample_wor(d, "doc_id", "w_raw", k=_Q152_K)


SQL152 = f"""
SELECT doc_id, w, priority FROM (
  SELECT doc_id, w,
         list_min(list_transform(generate_series(1, CAST(w AS INT)),
             j -> {_H("concat_ws('#', 'wsr1', CAST(doc_id AS VARCHAR), CAST(j AS VARCHAR))")})) AS priority
  FROM (SELECT doc_id,
               CAST(coalesce(1 + least(7, CAST(floor(n_chars / 64) AS BIGINT)), 1) AS BIGINT) AS w
        FROM documents))
ORDER BY priority, doc_id LIMIT {_Q152_K}
"""


_Q160_K = 5


def q160_stratified_sample(spark, sf):
    """P60 (operators/textstats.stratified_weighted_sample): the
    balanced mixture draw — q152's length-tiered ticket lottery run
    independently WITHIN each source, k = 5 winners per stratum, so
    every source contributes a fixed-size weight-proportional subset
    (the per-language/per-source balanced-selection step of a
    training-mix build). Identical ticket priorities to q152 (shared
    _ticket_priority, same salt), so the two samples are consistent
    views of one lottery; the per-stratum top-k runs as the two-phase
    salted window (no mega-stratum serializes a task)."""
    d = T(spark, sf, "documents").select(
        "doc_id", "source",
        (1 + F.least(F.lit(7), F.floor(F.col("n_chars") / 64))).alias("w_raw"),
    )
    return textstats.stratified_weighted_sample(
        d, "doc_id", "source", "w_raw", k=_Q160_K
    ).withColumnRenamed("stratum", "source")


SQL160 = f"""
SELECT source, doc_id, w, priority, rank FROM (
  SELECT source, doc_id, w, priority,
         row_number() OVER (PARTITION BY source ORDER BY priority, doc_id) AS rank
  FROM (
    SELECT source, doc_id, w,
           list_min(list_transform(generate_series(1, CAST(w AS INT)),
               j -> {_H("concat_ws('#', 'wsr1', CAST(doc_id AS VARCHAR), CAST(j AS VARCHAR))")})) AS priority
    FROM (SELECT source, doc_id,
                 CAST(coalesce(1 + least(7, CAST(floor(n_chars / 64) AS BIGINT)), 1) AS BIGINT) AS w
          FROM documents)))
WHERE rank <= {_Q160_K}
"""


# --- DSIR importance resampling (P55) --------------------------------------

_Q140_DIMS = 512


def q140_dsir_importance(spark, sf):
    """P55 DSIR-style importance selection
    (operators/textstats.dsir_weights): hashed unigram+bigram bucket
    models for the target domain (source = 'src0') and the whole
    corpus, per-doc importance = ratio of mean smoothed target- to
    corpus-probability — rational arithmetic throughout (the q48
    no-libm discipline), keep decided by exact long comparison."""
    d = T(spark, sf, "documents")
    return textstats.dsir_weights(
        d, "doc_id", "text", F.col("source") == "src0", dims=_Q140_DIMS
    ).withColumnRenamed("id", "doc_id")


def _q140_sql() -> str:
    dims = _Q140_DIMS
    return f"""
WITH d AS (SELECT doc_id AS id, (source = 'src0') AS is_t,
                  string_split(trim(text), ' ') AS w
           FROM documents),
toks AS (
  SELECT id, is_t, tok FROM (
    SELECT id, is_t, unnest(w) AS tok FROM d
    UNION ALL
    SELECT id, is_t, (w[i] || '_' || w[i+1]) AS tok
    FROM d, UNNEST(generate_series(1, len(w) - 1)) AS u(i))
  WHERE tok != ''),
per AS (
  SELECT id, is_t, ({_H("tok")} % {dims}) AS b,
         CAST(count(*) AS BIGINT) AS c_db
  FROM toks GROUP BY 1, 2, 3),
cmod AS (SELECT b, CAST(sum(c_db) AS BIGINT) AS c_b FROM per GROUP BY b),
tmod AS (SELECT b, CAST(sum(c_db) AS BIGINT) AS t_b
         FROM per WHERE is_t GROUP BY b),
scal AS (
  SELECT CAST(sum(c_db) AS BIGINT) + {dims} AS ncb,
         CAST(sum(CASE WHEN is_t THEN c_db ELSE 0 END) AS BIGINT) + {dims} AS ntb
  FROM per),
agg AS (
  SELECT id,
         CAST(sum(c_db) AS BIGINT) AS n_feats,
         CAST(sum(c_db * (COALESCE(t_b, 0) + 1)) AS BIGINT) AS num,
         CAST(sum(c_db * (c_b + 1)) AS BIGINT) AS den
  FROM per
  JOIN cmod USING (b)
  LEFT JOIN tmod USING (b)
  GROUP BY id)
SELECT id AS doc_id, n_feats,
       round((CAST(num AS DOUBLE) * CAST(ncb AS DOUBLE))
             / (CAST(den AS DOUBLE) * CAST(ntb AS DOUBLE)), 6) AS dsir_score,
       (num * ncb > den * ntb) AS keep
FROM agg, scal
"""


SQL140 = _q140_sql()


QUERIES = {
    "q40_token_stats": q40_token_stats,
    "q41_quality": q41_quality,
    "q116_budget_select": q116_budget_select,
    "q117_bpe_merges": q117_bpe_merges,
    "q118_bpe_tokenize": q118_bpe_tokenize,
    "q119_wds_shards": q119_wds_shards,
    "q120_psl_domains": q120_psl_domains,
    "q121_bpe_packing": q121_bpe_packing,
    "q123_classifier_filter": q123_classifier_filter,
    "q42_lang_id": q42_lang_id,
    "q43_fingerprint": q43_fingerprint,
    "q44_media_meta": q44_media_meta,
    "q46_repetition": q46_repetition,
    "q47_contamination": q47_contamination,
    "q124_decontam_bloom": q124_decontam_bloom,
    "q48_lm_quality": q48_lm_quality,
    "q49_bm25": q49_bm25,
    "q58_seq_packing": q58_seq_packing,
    "q66_boilerplate": q66_boilerplate,
    "q69_mixture": q69_mixture,
    "q74_pii_scrub": q74_pii_scrub,
    "q75_shard_manifest": q75_shard_manifest,
    "q95_curation": q95_curation,
    "q99_tfidf": q99_tfidf,
    "q100_warc_export": q100_warc_export,
    "q103_domain_quality": q103_domain_quality,
    "q111_compression_quality": q111_compression_quality,
    "q112_warc_roundtrip": q112_warc_roundtrip,
    "q128_source_cap": q128_source_cap,
    "q129_stride_chunks": q129_stride_chunks,
    "q132_perplexity_bands": q132_perplexity_bands,
    "q133_data_budget": q133_data_budget,
    "q135_epoch_shuffle": q135_epoch_shuffle,
    "q137_phrase_search": q137_phrase_search,
    "q140_dsir_importance": q140_dsir_importance,
    "q141_html_extract": q141_html_extract,
    "q142_line_filter": q142_line_filter,
    "q147_clustered_scan": q147_clustered_scan,
    "q150_orc_roundtrip": q150_orc_roundtrip,
    "q151_gopher_rules": q151_gopher_rules,
    "q152_weighted_sample": q152_weighted_sample,
    "q160_stratified_sample": q160_stratified_sample,
}

ORACLE = {
    "q58_seq_packing": SQL58,
    "q123_classifier_filter": SQL123,
    "q46_repetition": SQL46,
    "q47_contamination": SQL47,
    "q124_decontam_bloom": SQL47,
    "q48_lm_quality": SQL48,
    "q49_bm25": SQL49,
    "q40_token_stats": SQL40,
    "q41_quality": SQL41,
    "q116_budget_select": SQL116,
    "q42_lang_id": SQL42,
    "q43_fingerprint": SQL43,
    "q44_media_meta": SQL44,
    "q66_boilerplate": SQL66,
    "q69_mixture": SQL69,
    "q74_pii_scrub": SQL74,
    "q75_shard_manifest": SQL75,
    "q95_curation": SQL95,
    "q99_tfidf": SQL99,
    "q100_warc_export": SQL100,
    "q103_domain_quality": SQL103,
    "q112_warc_roundtrip": SQL112,
    "q128_source_cap": SQL128,
    "q129_stride_chunks": SQL129,
    "q132_perplexity_bands": SQL132,
    "q133_data_budget": SQL133,
    "q135_epoch_shuffle": SQL135,
    "q137_phrase_search": SQL137,
    "q140_dsir_importance": SQL140,
    "q141_html_extract": SQL141,
    "q142_line_filter": SQL142,
    "q147_clustered_scan": SQL147,
    "q150_orc_roundtrip": SQL150,
    "q151_gopher_rules": SQL151,
    "q152_weighted_sample": SQL152,
    "q160_stratified_sample": SQL160,
}
