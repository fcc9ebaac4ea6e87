"""Deduplication operators for LLM training-data pipelines (SURVEY.md §2.3
X11 + driver north-star extensions): exact, MinHash+LSH, SimHash, n-gram
Jaccard, and embedding-cosine near-dup.

Algorithms are the published classics: MinHash resemblance sketches
(Broder, "On the resemblance and containment of documents", 1997), banded
LSH for candidate generation (Leskovec/Rajaraman/Ullman, Mining of Massive
Datasets ch. 3), and SimHash (Charikar, "Similarity estimation techniques
from rounding algorithms", STOC 2002) — re-expressed as Catalyst expression
plans with md5 as the cross-engine hash family.

Design for cross-engine verifiability: every hash is derived from md5 (the
one hash function Spark and DuckDB compute identically), so even the MinHash
and SimHash *signatures* get exact DuckDB oracles — not just rows-only
checks. No randomness anywhere: hash-family member j is the md5 of
``"<j>:<value>"``.

Scale posture (100 TB): all pair generation is LSH-blocked — candidate pairs
come from equi-joins on band/bucket keys (shuffle on small keys), never from
a cross join. The verify step (true Jaccard / cosine) runs only on
candidates. Skewed buckets (a band key shared by many docs) are the known
hazard; AQE skew-join handles moderate skew, and the band width is the tuning
knob (more bands → smaller buckets → fewer false candidates).

All higher-order expressions are JVM-side Catalyst expressions (transform /
aggregate / array_*) — no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import ledger
from ..ledger import checkpoint
from ..tables import load_table, spread
from .core import TOKS, TOKS_SAFE

# number of minhash functions and band layout (4 bands x 2 rows)
MINHASH_K = 8
MINHASH_BANDS = 4


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X11 exact dedup: one representative (min doc_id) per distinct text,
    with the duplicate count. Expressed as groupBy — unlike dropDuplicates,
    the representative is deterministic, so the DuckDB oracle matches."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("text").agg(
        F.min("doc_id").alias("keeper_id"),
        F.count(F.lit(1)).alias("copies"),
    )


def _tokens_expr() -> str:
    """Distinct non-empty space-split tokens (reference tokenizer semantics,
    main.go:24-26) as a Catalyst expression."""
    return f"array_distinct({TOKS})"


def _shingles(df: DataFrame) -> DataFrame:
    """Distinct 3-token shingles per doc (word 3-grams). Docs with <3 tokens
    fall back to the whole text as one shingle.

    ``toks`` is computed BEFORE the spread() exchange on purpose: the
    shuffle materializes the token array, so the shingle transform's three
    ``toks[i]`` references read a stored column. Projected on the same side,
    CollapseProject would inline the filter+split expression into every
    reference — re-tokenizing the whole text once per shingle element
    (measured 4–5× slowdown)."""
    toks = df.select("doc_id", "lang", "source", "text").withColumn(
        "toks", F.expr(TOKS)
    )
    return spread(toks).withColumn(
        "shingles",
        F.expr(
            """
            CASE WHEN size(toks) < 3 THEN array(text)
                 ELSE array_distinct(transform(sequence(0, size(toks) - 3),
                          i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])))
            END
            """
        ),
    )


def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signature table (doc_id, mh0..mh7) — the verifiable
    intermediate of the near-dup pipeline. E[fraction of equal minhashes]
    = Jaccard(shingle sets). Served from the shared signature index."""
    return _signatures_for(spark, sf_dir).select(
        "doc_id", *[f"mh{j}" for j in range(MINHASH_K)]
    )


def _signatures_with_shingles(docs: DataFrame) -> DataFrame:
    """(doc_id, mh0..mh7, shingles) in ONE aggregation pass: the minhash
    mins and a collect_set rebuild of the shingle set share the same
    explode + groupBy, so the verify step needs no extra join against a
    recomputed shingle table (which would re-scan and re-hash everything).

    mh_j = min over shingles of the first 16 hex chars of
    md5("<j>:<shingle>") — a lexicographic min over a 64-bit hash space,
    identical in Spark and DuckDB. Formulated as explode → groupBy with K
    min-aggregates rather than array_min(transform(...)): higher-order
    lambdas evaluate interpreted, while explode + min is whole-stage-codegen'd
    with map-side partial aggregation (measured ~5× faster)."""
    exploded = _shingles(docs).select("doc_id", F.explode("shingles").alias("s"))
    return exploded.groupBy("doc_id").agg(
        *[
            F.min(F.expr(f"substring(md5(concat('{j}:', s)), 1, 16)")).alias(f"mh{j}")
            for j in range(MINHASH_K)
        ],
        F.collect_set("s").alias("shingles"),
    )


# "minhash-signatures" ledger family: sf_dir → persisted signature table.
# In a production pipeline the MinHash signature table is a PERSISTED
# ARTIFACT computed once per corpus snapshot and shared by every consumer
# (pair mining, cluster resolution, incremental checks) — memoizing per
# session+corpus models exactly that and stops each registry query from
# re-hashing the corpus. The recall harness's sampled table shares the
# family under its own key.
def _signatures_for(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..tables import load_table as _lt

    return ledger.of(spark).family("minhash-signatures").get_or_build(
        sf_dir, lambda: _signatures_with_shingles(_lt(spark, sf_dir, "documents"))
    )


# "verified-pairs" ledger family: (sf_dir, threshold, bucket_cap) →
# persisted verified-pair table. The verified dup-pair set is the OTHER
# shared artifact of a production dedup pipeline (pair mining feeds the
# pair report, cluster resolution, AND the leakage-safe split — each would
# otherwise re-run the band join + Jaccard verify).
def _verified_pairs_for(
    spark: SparkSession, sf_dir: str, threshold: float, bucket_cap: int | str | None = None
) -> DataFrame:
    key = (sf_dir, threshold, bucket_cap)
    return ledger.of(spark).family("verified-pairs").get_or_build(
        key,
        lambda: _verified_pairs_from_sigs(
            _signatures_for(spark, sf_dir), threshold, bucket_cap=bucket_cap
        ),
    )


def _band_keys(sigs: DataFrame, carry: list[str]) -> DataFrame:
    bands = sigs.select(
        "doc_id",
        *carry,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.md5(F.concat_ws("|", F.col(f"mh{2*b}"), F.col(f"mh{2*b+1}"))).alias("key"),
                    )
                    for b in range(MINHASH_BANDS)
                ]
            )
        ).alias("bk"),
    )
    return bands.select("doc_id", *carry, "bk.band", "bk.key")


def _band_keys_8x1(sigs: DataFrame, carry: list[str]) -> DataFrame:
    """Wide-recall banding: 8 bands of 1 minhash each (b=8, r=1).
    P(candidate) = 1 − (1 − J)^8, so even modest-similarity pairs collide —
    the right layout for a 'most similar pairs' report, vs the 4×2 layout's
    threshold behaviour around J ≈ 0.5."""
    bands = sigs.select(
        "doc_id",
        *carry,
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(j).alias("band"), F.col(f"mh{j}").alias("key"))
                    for j in range(MINHASH_K)
                ]
            )
        ).alias("bk"),
    )
    return bands.select("doc_id", *carry, "bk.band", "bk.key")


def _jaccard_expr() -> str:
    from ..functions.vector import stable_round

    return stable_round(
        "CAST(size(array_intersect(sh_a, sh_b)) AS DOUBLE) / size(array_union(sh_a, sh_b))", 6
    )


_JACCARD_EXPR = _jaccard_expr()


def _capped_bands(bands: DataFrame, cap: int) -> DataFrame:
    """Bucket-size cap (docs/SCALE.md §4 mitigation 2): drop every band
    bucket holding more than ``cap`` docs BEFORE pair generation. A bucket
    of B docs yields B² candidates — boilerplate clusters (millions of
    near-identical pages) would dominate the join for pairs nobody needs
    individually verified (one representative suffices; exact dedup
    already collapses identical text). The per-bucket count is a window
    over (band, key) — the SAME keys the self-join shuffles on, so the
    exchange is shared with the join, not an extra corpus shuffle. Recall
    within surviving buckets is untouched: a genuine low-multiplicity
    near-dup pair keeps colliding in its small buckets (tested on a
    20×-duplicated corpus in tests/test_properties.py)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("band", "key")
    return (
        bands.withColumn("_bucket_n", F.count(F.lit(1)).over(w))
        .filter(F.col("_bucket_n") <= cap)
        .drop("_bucket_n")
    )


def _pairs_rejoin(
    sigs_sh: DataFrame, band_fn=_band_keys, bucket_cap: int | str | None = None
) -> DataFrame:
    """Candidate pairs via id-only band join + shingle RE-JOIN: the banded
    shuffle carries only (doc_id, band, key), then the deduped pair list
    joins the persisted signature table twice to fetch shingles. Cuts the
    band-shuffle payload ~bands× at the cost of two extra equi-joins; the
    signature table is persisted so its aggregation runs once, not thrice.
    Benchmarked against a carry variant (shingle arrays hauled through
    the band join) at sf0.1 (see dedup_minhash_pairs docstring for the
    numbers).

    Persist lifecycle: inputs that arrive already persisted (the
    _signatures_for session index — the production path) are left alone;
    an unpersisted input is persisted here and stays cached for the
    session (short-lived test/bench processes; long-lived sessions should
    route through _signatures_for)."""
    if sigs_sh.storageLevel.useMemory or sigs_sh.storageLevel.useDisk:
        pass  # already cached by the session index
    else:
        sigs_sh = sigs_sh.persist()
    bands = band_fn(sigs_sh, carry=[])
    if bucket_cap == "auto":
        from .skew_guard import AUTO_BUCKET_CAP, resolve_cap

        bucket_cap = resolve_cap(
            bucket_cap,
            bands.groupBy("band", "key").agg(F.count(F.lit(1)).alias("n")),
            "n",
            AUTO_BUCKET_CAP,
            name="lsh-bucket",
            policy="drop-bucket",  # _capped_bands drops oversized buckets whole
            cache_key=(
                "lsh-bucket",
                band_fn.__name__,
                sigs_sh.semanticHash(),
            ),
        )
    if bucket_cap is not None:
        bands = _capped_bands(bands, bucket_cap)
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.key") == F.col("b.key")))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sh = sigs_sh.select("doc_id", "shingles")
    return cand.join(
        sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a")), "doc_a"
    ).join(sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b")), "doc_b")


def _verified_pairs_from_sigs(
    sigs_sh: DataFrame, threshold: float, bucket_cap: int | str | None = None
) -> DataFrame:
    return (
        _pairs_rejoin(sigs_sh, bucket_cap=bucket_cap)
        .withColumn("jaccard", F.expr(_JACCARD_EXPR))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def verified_jaccard_pairs(
    docs: DataFrame, threshold: float, bucket_cap: int | str | None = "auto"
) -> DataFrame:
    """Exact shingle-set Jaccard ≥ ``threshold`` on 4×2-band LSH
    candidates of ``docs``, in the re-join formulation (_pairs_rejoin).
    ``bucket_cap`` enables the skew guard (docs/SCALE.md §4 mitigation 2):
    band buckets larger than the cap are dropped before pair generation.
    Default ``"auto"``: the measured cost trigger (operators/skew_guard.py)
    probes the banded join's fan-out and engages the cap only when
    candidate pairs exceed 64× the posting rows — off on oracle-scale
    corpora (results stay exact), self-engaging on boilerplate/clone-heavy
    ones."""
    return _verified_pairs_from_sigs(
        _signatures_with_shingles(docs), threshold, bucket_cap=bucket_cap
    )


def dedup_minhash_pairs(
    spark: SparkSession, sf_dir: str, bucket_cap: int | str | None = "auto"
) -> DataFrame:
    """Near-duplicate pairs: MinHash-LSH candidates verified by exact
    3-gram-shingle Jaccard ≥ 0.5. (May be empty on dup-free corpora — the
    oracle agrees on emptiness; recall is exercised in tests with injected
    duplicates.)

    Ships the RE-JOIN formulation: the round-1 carry variant hauled every
    doc's shingle array through the band shuffle 4×; measured head-to-head
    at sf0.1 (``git show d5a103c:tools/bench_variants.py``, best-of-3):
    carry 1.34–1.42 s vs rejoin 0.63–1.22 s — rejoin wins locally AND cuts band-shuffle bytes
    ~4× at scale (it shuffles only (doc_id, band, key); shingles come from
    two hash joins against the persisted signature table). The signature
    table comes from the per-(session, corpus) index (_signatures_for), the
    persisted artifact every dedup consumer shares.

    ``bucket_cap`` (default ``"auto"`` — the measured cost trigger stays
    off at oracle scale, so oracles remain exact, and self-engages on
    clone/boilerplate-heavy corpora) enables the LSH bucket-size skew
    guard; see verified_jaccard_pairs and operators/skew_guard.py."""
    return _verified_pairs_for(spark, sf_dir, 0.5, bucket_cap=bucket_cap)


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

def simhash_signatures(docs: DataFrame) -> DataFrame:
    """64-bit SimHash (Charikar 2002 as deployed by Manku, Jain & Das
    Sarma, WWW 2007 — 64-bit fingerprints banded for Hamming ≤ 3). Token
    hash = first 64 bits of md5, taken as two 32-bit halves so both
    engines stay inside signed BIGINT arithmetic (``conv`` of 16 hex chars
    can exceed Long.MAX and NULL out); bit j < 32 comes from the LOW half
    (hex chars 9..16), bit j ≥ 32 from the HIGH half (chars 1..8), i.e.
    h64 = hi·2³² + lo. Reproducible in DuckDB via the same substrings
    (registry oracle mirrors both stages). The round-12 32-bit signature
    banded into a CONSTANT 1,024-key space — Θ(N²/128) expected
    candidates (VERDICT r12 item 1); 64 bits banded 4×16 gives a 4×65,536
    key space, collision probability per band 1/65,536 instead of 1/256,
    with the same pigeonhole recall-1 guarantee for Hamming ≤ 3.

    Formulation: explode distinct tokens → 64 conditional bit-sums in one
    codegen'd partial-aggregated groupBy → bit assembly. Per bit j the
    +1/-1 weight sum is positive iff 2·Σbit_j > n_tokens. The nested
    higher-order-aggregate form measured ~9× slower (interpreted lambdas);
    this stays shuffle-light at scale: partial aggregation reduces each
    doc to one 65-column row per map partition before the exchange. Bit
    63 is assembled as +Long.MIN (two's complement) so the signature
    occupies the full signed BIGINT range identically in both engines."""
    tok = spread(docs).select("doc_id", F.explode(F.expr(_tokens_expr())).alias("t"))
    h = tok.select(
        "doc_id",
        F.expr("CAST(conv(substring(md5(t), 1, 8), 16, 10) AS BIGINT)").alias("hi"),
        F.expr("CAST(conv(substring(md5(t), 9, 8), 16, 10) AS BIGINT)").alias("lo"),
    )
    g = h.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"),
        *[F.sum(F.expr(f"shiftright(lo, {j}) & 1")).alias(f"s{j}") for j in range(32)],
        *[
            F.sum(F.expr(f"shiftright(hi, {j - 32}) & 1")).alias(f"s{j}")
            for j in range(32, 64)
        ],
    )
    assemble = " + ".join(
        f"IF(2 * s{j} > n, shiftleft(1L, {j}), 0L)" for j in range(63)
    )
    assemble += " + IF(2 * s63 > n, CAST(-9223372036854775808 AS BIGINT), 0L)"
    sigs = g.select("doc_id", F.expr(assemble).alias("simhash"))
    # explode drops token-less docs; the signature of an empty token set is
    # 0 (every bit-weight sum is 0, not > 0) — restore those rows so the
    # output covers every input doc, matching the oracle.
    return (
        docs.select("doc_id")
        .join(sigs, "doc_id", "left")
        .select("doc_id", F.coalesce("simhash", F.lit(0)).alias("simhash"))
    )


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash signature table (doc_id, simhash): near-identical token sets
    differ in few bits. Fully deterministic → exact DuckDB oracle."""
    return simhash_signatures(load_table(spark, sf_dir, "documents"))


def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: block on any equal 16-bit block of the
    64-bit signature (4 bands × 16 bits — the Manku/Jain/Das Sarma WWW
    2007 layout), verify Hamming distance ≤ 3 of the full 64 bits. The
    threshold equals the blocking guarantee (pigeonhole: ≤3 flipped bits
    can't touch all 4 blocks), so recall within the threshold is exactly 1.

    Scale shape (VERDICT r12 item 1): two compounding fixes over the
    round-12 doc-level 8-bit band join —

    1. the band-join key space is 4×65,536: on near-uniform signatures
       the expected in-bucket candidate volume is Θ(N²/2¹⁸) per band,
       256× below the previous constant 1,024-key space that was
       beginning to show quadratic growth at the sf1.0 leg;
    2. the join runs over DISTINCT signatures (the Manku pipeline's
       dedup-fingerprints-first step): clone/template-heavy corpora
       collapse whole duplicate families to one band row each, so the
       shuffle is ∝ distinct-signature collisions + emitted output, never
       ∝ (family size)² × 4 bands. Doc pairs are recovered afterwards by
       two hash joins back to the (doc_id, simhash) table: equal-signature
       families expand via a signature self-join (hamming 0, exactly the
       output), cross-signature sig-pairs expand to their doc cross
       products (also exactly the output). Measured at sf0.1: band-join
       candidate volume 9.47M (old) → 0.17M sig-level (docs/SCALE.md
       §11.16; probe at `git show 4ab1d46:tools/simhash_band_probe.py`).

    Recall is unchanged: hamming(x, y) ≤ 3 with 4 bands ⇒ some 16-bit
    block equal (pigeonhole), so the sig-level join sees every qualifying
    signature pair. Shiftright on the (possibly negative) signature is
    arithmetic in both engines; the & 65535 mask discards the sign
    extension, so band keys agree bit-for-bit with the oracle."""
    # the signature aggregation feeds FOUR plan branches (distinct bands,
    # two expand-back joins, the equal-signature self-join) — materialize
    # it once instead of recomputing the 64-sum groupBy per branch
    sigs = checkpoint(simhash_signatures(load_table(spark, sf_dir, "documents")), eager=False)
    usig = sigs.select("simhash").distinct()
    ub = usig.select(
        "simhash",
        F.explode(
            F.array(*[F.struct(F.lit(b).alias("band"), F.expr(f"shiftright(simhash, {16*b}) & 65535").alias("key")) for b in range(4)])
        ).alias("bk"),
    ).select("simhash", "bk.band", "bk.key")
    a, b = ub.alias("a"), ub.alias("b")
    sig_pairs = (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.key") == F.col("b.key")))
        .filter(F.col("a.simhash") < F.col("b.simhash"))
        .select(
            F.col("a.simhash").alias("sig_a"),
            F.col("b.simhash").alias("sig_b"),
            F.expr("bit_count(a.simhash ^ b.simhash)").alias("hamming"),
        )
        # Hamming filter BEFORE the dedup of band collisions: the distinct
        # then shuffles only the near signature pairs, not every band
        # co-occurrence
        .filter(F.col("hamming") <= 3)
        .distinct()
    )
    cross = (
        sig_pairs.join(
            sigs.select(F.col("doc_id").alias("da"), F.col("simhash").alias("sig_a")),
            "sig_a",
        )
        .join(
            sigs.select(F.col("doc_id").alias("db"), F.col("simhash").alias("sig_b")),
            "sig_b",
        )
        .select(
            F.least("da", "db").alias("doc_a"),
            F.greatest("da", "db").alias("doc_b"),
            "hamming",
        )
    )
    sa, sb = sigs.alias("sa"), sigs.alias("sb")
    same = (
        sa.join(sb, F.col("sa.simhash") == F.col("sb.simhash"))
        .filter(F.col("sa.doc_id") < F.col("sb.doc_id"))
        .select(
            F.col("sa.doc_id").alias("doc_a"),
            F.col("sb.doc_id").alias("doc_b"),
            F.lit(0).cast("int").alias("hamming"),
        )
    )
    return cross.unionByName(same)


# --------------------------------------------------------------------------
# n-gram Jaccard "most similar pairs" report, LSH-band-blocked
# --------------------------------------------------------------------------


# window length (tokens) for exact-substring span mining. Lee et al. use
# 50-token windows on web text; 8 keeps the small-vocabulary fixtures
# non-degenerate while exercising the identical plan.
SUBSTR_NGRAM = 8


# "substring-windows" ledger family: sf_dir → persisted positional-window
# table (doc_id, pos, h). The SUBSTR_NGRAM-token window hashes are the third
# shared artifact of a production dedup pipeline (span mining, span
# materialization/cleaning, and the corpus audit report all consume the
# same window table; at 100 TB it is a once-per-snapshot materialized
# table, not a per-query recomputation — the md5-per-window hashing is
# the dominant cost of the modality).
def _substring_windows_for(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional SUBSTR_NGRAM-token window hashes, one row per window:
    (doc_id, pos, h). NULL text is coalesced to '' (zero tokens → zero
    windows — identical to the un-coalesced form, where size(NULL) = -1
    is filtered the same way, but explicit so both consumers and their
    oracles share one NULL story)."""

    def build() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        toks = spread(docs.select("doc_id", "text")).withColumn(
            "toks", F.expr(TOKS_SAFE)
        )
        return (
            toks.filter(F.expr(f"size(toks) >= {SUBSTR_NGRAM}"))
            .select(
                "doc_id",
                F.explode(
                    F.expr(
                        f"transform(sequence(0, size(toks) - {SUBSTR_NGRAM}),"
                        f" i -> named_struct('pos', i, 'h',"
                        f" md5(concat_ws(' ', slice(toks, i + 1, {SUBSTR_NGRAM})))))"
                    )
                ).alias("w"),
            )
            .select("doc_id", "w.pos", "w.h")
        )

    return ledger.of(spark).family("substring-windows").get_or_build(sf_dir, build)


def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-substring mining (the Lee et al., "Deduplicating
    Training Data Makes Language Models Better", ACL 2022 modality):
    doc-level dedup misses VERBATIM PASSAGES shared across otherwise
    distinct documents (licenses, boilerplate, quotes) — the right unit of
    removal is the span, not the document. For every document, report the
    maximal token spans whose every SUBSTR_NGRAM-token window also occurs
    in some OTHER document.

    Plan shape at scale (no suffix array needed): positional windows per
    doc (one explode — positions kept, unlike the MinHash shingle set),
    one partial-aggregated groupBy on the window hash to find hashes in
    ≥2 distinct docs, one hash equi-join back (the LSH-band-join
    skeleton: shuffle ∝ window volume, never doc×doc), then per-doc
    gaps-and-islands (pos − row_number() over the doc's matched positions
    is constant within a run of consecutive matches) merges overlapping
    windows into maximal spans. Deterministic integers + md5 → exact
    DuckDB oracle replaying the same construction. The window table is
    the session-cached shared artifact (_substring_windows_for): span
    mining, cleaning, and the audit report hash the corpus once."""
    from pyspark.sql.window import Window

    wins = _substring_windows_for(spark, sf_dir)
    shared = (
        wins.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h")
    )
    matched = wins.join(shared, "h").select("doc_id", "pos")
    isl = matched.withColumn(
        "island",
        F.col("pos") - F.row_number().over(Window.partitionBy("doc_id").orderBy("pos")),
    )
    return (
        isl.groupBy("doc_id", "island")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + F.lit(SUBSTR_NGRAM - 1)).cast("long").alias("span_end"),
            F.count(F.lit(1)).alias("n_windows"),
        )
        .select("doc_id", "span_start", "span_end", "n_windows")
    )


def dedup_substring_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The materialization half of exact-substring dedup (Lee et al. ACL
    2022): CUT the duplicated passages out of the corpus, keeping one
    canonical occurrence. Ownership rule (deterministic, engine-free):
    every occurrence of a shared window in the MINIMUM doc_id that
    contains it is kept; occurrences in any higher doc_id are removal
    candidates, and every token position covered by a removed window is
    dropped. Returns per document the original/removed token counts and
    an md5 fingerprint of the CLEANED text — byte-exact verification that
    both engines cut the same tokens (within-doc repeats inside the owner
    doc are kept; the headline cross-doc duplication is what's removed).

    Plan shape: the span-mining skeleton (positional windows, shared-hash
    aggregate with per-hash min doc_id, 1:1 join back) + one range
    explode of removed windows into covered positions (≤ L rows per
    removed window), a per-doc collect_set of removed positions (bounded
    by document length), and a map-side rebuild of the kept text."""
    docs = load_table(spark, sf_dir, "documents")
    # NULL text ⇒ zero tokens (coalesced identically in the oracle: the
    # engines' NULL propagation through split/filter/concat_ws differs).
    # toks is recomputed here (one scan + split, no hashing) for the final
    # rebuild; the EXPENSIVE window hashing comes from the shared cache.
    toks = spread(docs.select("doc_id", "text")).withColumn(
        "toks", F.expr(TOKS_SAFE)
    )
    wins = _substring_windows_for(spark, sf_dir)
    owners = (
        wins.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("nd"), F.min("doc_id").alias("owner"))
        .filter(F.col("nd") >= 2)
        .select("h", "owner")
    )
    removed_pos = (
        wins.join(owners, "h")
        .filter(F.col("doc_id") > F.col("owner"))
        .select(
            "doc_id",
            F.explode(
                F.expr(f"sequence(pos, pos + {SUBSTR_NGRAM - 1})")
            ).alias("rpos"),
        )
        .groupBy("doc_id")
        .agg(F.collect_set("rpos").alias("removed"))
    )
    cleaned = toks.join(removed_pos, "doc_id", "left").select(
        "doc_id",
        F.expr("CAST(size(toks) AS BIGINT)").alias("n_tokens"),
        F.expr("CAST(coalesce(size(removed), 0) AS BIGINT)").alias("n_tokens_removed"),
        F.expr(
            "md5(concat_ws(' ', CASE WHEN removed IS NULL THEN toks ELSE"
            " filter(toks, (t, i) -> NOT array_contains(removed, i)) END))"
        ).alias("clean_fingerprint"),
    )
    return cleaned


def dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus dedup audit — one frame, one row per modality, the summary a
    curation run reports before anything is deleted:
      - exact_text:  documents sharing a normalized content fingerprint
                     (n_units = duplicate groups)
      - near_dup:    documents in non-singleton MinHash-LSH clusters
                     (n_units = clusters) — reads the shared pair cache,
                     so after any dedup query this costs one tiny pass
      - substring:   documents containing ≥1 cross-document duplicated
                     span (n_units = spans)
      - semantic:    vectors in non-singleton SemDeDup groups — group key
                     coalesce(dup_of, vec_id) (n_units = groups); counts
                     VECTORS of the embeddings table, the corpus the
                     semantic modality runs on
    Composes the registered operators rather than re-deriving them, so
    the report can never disagree with the queries it summarizes; the
    oracle composes the same SQL formulations."""
    from .graph import dedup_groups

    docs = load_table(spark, sf_dir, "documents")
    fp = docs.select(
        F.md5(
            F.regexp_replace(F.lower(F.coalesce(F.col("text"), F.lit(""))), r"\s+", " ")
        ).alias("fp")
    )
    exact = (
        fp.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
        .agg(F.sum("n").alias("nd"), F.count(F.lit(1)).alias("nu"))
        .select(
            F.lit("exact_text").alias("modality"),
            F.coalesce("nd", F.lit(0)).cast("long").alias("n_docs"),
            F.col("nu").cast("long").alias("n_units"),
        )
    )
    near = (
        dedup_groups(spark, sf_dir)
        .groupBy("group_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
        .agg(F.sum("n").alias("nd"), F.count(F.lit(1)).alias("nu"))
        .select(
            F.lit("near_dup").alias("modality"),
            F.coalesce("nd", F.lit(0)).cast("long").alias("n_docs"),
            F.col("nu").cast("long").alias("n_units"),
        )
    )
    sub = dedup_substring_spans(spark, sf_dir).agg(
        F.countDistinct("doc_id").alias("nd"), F.count(F.lit(1)).alias("nu")
    ).select(
        F.lit("substring").alias("modality"),
        F.col("nd").cast("long").alias("n_docs"),
        F.col("nu").cast("long").alias("n_units"),
    )
    sem = (
        dedup_semantic(spark, sf_dir)
        .groupBy(F.expr("coalesce(dup_of, vec_id)").alias("g"))
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
        .agg(F.sum("n").alias("nd"), F.count(F.lit(1)).alias("nu"))
        .select(
            F.lit("semantic").alias("modality"),
            F.coalesce("nd", F.lit(0)).cast("long").alias("n_docs"),
            F.col("nu").cast("long").alias("n_units"),
        )
    )
    return exact.unionAll(near).unionAll(sub).unionAll(sem)


def dedup_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 most similar doc pairs by exact 3-gram-shingle Jaccard, with
    candidates from WIDE-recall MinHash banding (8 bands × 1 row): a pair
    with Jaccard J collides with probability 1 − (1 − J)^8 (≈ 0.99+ at
    J ≥ 0.5, still ~0.57 at J = 0.1), so the similarity report stays
    informative while pair generation remains an equi-join on (band, mh_j) —
    O(candidates), never O(N²/blocks). Replaces the round-1 (lang, source)
    blocking, whose ~15 blocks made an all-pairs O(N²/15) join — the
    scale-killer VERDICT r01 flagged. Ties at the cutoff are broken
    (doc_a, doc_b) ascending, so the top-20 is deterministic cross-engine.

    Uses the RE-JOIN candidate form (id-only 8×1 band join + two shingle
    joins against the session signature index) — with 8 bands the carry
    variant would haul every shingle array through the shuffle 8×, twice
    the payload the 4-band measurement already rejected."""
    return (
        _pairs_rejoin(_signatures_for(spark, sf_dir), band_fn=_band_keys_8x1)
        .withColumn("jaccard", F.expr(_JACCARD_EXPR))
        .select("doc_a", "doc_b", "jaccard")
        .orderBy(F.col("jaccard").desc(), F.col("doc_a").asc(), F.col("doc_b").asc())
        .limit(20)
    )


# --------------------------------------------------------------------------
# Embedding-cosine near-dup
# --------------------------------------------------------------------------


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup report: the 20 most-similar vector pairs among
    LSH candidates — blocked by the 8-bit sign pattern of the first 8
    dimensions (axis-aligned hyperplane LSH — vectors with cosine→1 agree
    on almost all sign bits). Equi-join on the bucket key; exact cosine on
    candidates only. A production dedup pass would apply a threshold
    filter instead of top-K; top-K keeps the report informative on
    dup-free corpora (and the oracle comparison non-vacuous)."""
    from ..functions.vector import cosine_expr, finite_norm_pred, sign_bucket_expr, stable_round

    emb = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.expr(finite_norm_pred("embedding")))
        .withColumn("bucket", F.expr(sign_bucket_expr("embedding", 8)))
    )
    a, b = emb.alias("a"), emb.alias("b")
    return (
        a.join(b, F.col("a.bucket") == F.col("b.bucket"))
        .filter(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.expr(stable_round(cosine_expr("a.embedding", "b.embedding"), 6)).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col("vec_a").asc(), F.col("vec_b").asc())
        .limit(20)
    )


# --------------------------------------------------------------------------
# Semantic (SemDeDup-style) dedup
# --------------------------------------------------------------------------

SEMDEDUP_CELLS = 8
# Within-cell cosine at or above which the higher-id vector is dropped.
# SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at web-scale
# through semantic deduplication", arXiv:2303.09540) uses ~0.95+ on real
# text embeddings, where semantic duplicates sit near cosine 1; the driver
# fixture embeddings are near-uniform (top pairwise cosine ≈ 0.51), so the
# shipped threshold is set where the modality is exercised — the POLICY
# (within-cell prune at τ, keep min id) is the operator, τ is a knob.
SEMDEDUP_TAU = 0.4


def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup over the embeddings table: cluster the
    corpus with the IVF coarse quantizer, then inside each cell drop every
    vector that has a LOWER-id cell-mate with cosine ≥ SEMDEDUP_TAU (keep
    min id — the same deterministic keeper rule as exact dedup). Output is
    one row per vector: (vec_id, cell, dup_of = smallest qualifying
    lower-id neighbor or NULL, keep = dup_of IS NULL).

    Cell assignment reuses build_ivf_index with iters=0: centroids are the
    k seed vectors (vec_id < k), driver-normalized and embedded as
    LITERALS, so assignment is a map-only projection AND exactly
    replayable in the DuckDB oracle (Lloyd iterations would make the
    centroids depend on Spark's partial-aggregation summation order — not
    bit-reproducible cross-engine; a production run would train with
    iters>0, which changes cell quality, not the prune semantics). The
    persisted assignment table is memoized per (session, sf_dir), shared
    across calls.

    Plan shape at scale — exactly the published SemDeDup recipe: one
    map-only assignment pass, then a self-equi-join ON CELL (never a cross
    join); per-cell work is quadratic in cell size, which is the knob k
    controls (k grows with the corpus — the paper runs 50k clusters on
    LAION — so cells stay bounded and the join stays balanced; the
    min-aggregate prune keeps the shuffle ∝ qualifying pairs)."""
    from ..functions.vector import finite_norm_pred

    emb = spread(load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")).filter(
        F.expr(finite_norm_pred("embedding"))
    )
    return semantic_dedup_frame(
        emb, cache_key=(sf_dir, "semdedup")
    )


def semantic_dedup_frame(
    emb: DataFrame,
    n_cells: int = SEMDEDUP_CELLS,
    tau: float = SEMDEDUP_TAU,
    iters: int = 0,
    cache_key=None,
) -> DataFrame:
    """SemDeDup core over any (vec_id, embedding) frame — see dedup_semantic
    for semantics. ``iters`` > 0 trains real Lloyd centroids (better cells,
    not cross-engine-reproducible); the registered query pins iters=0."""
    from ..functions.vector import cosine_expr, stable_round
    from .similarity import build_ivf_index

    _cents, assigned = build_ivf_index(emb, n_cells=n_cells, iters=iters, cache_key=cache_key)
    # threshold on the ROUNDED cosine (inside _semantic_prune): both engines
    # round the same per-row-deterministic double, so the τ boundary cannot flip
    return _semantic_prune(assigned, tau)


def snapshot_is_new(snapshot_col: str | None = None) -> "F.Column":
    """THE snapshot-membership convention for the incremental dedup family
    (VERDICT r11 item 7): one definition shared by incremental_new_docs,
    incremental_minhash_pairs, and the stored-index build/probe pair
    (operators/index_store.py), so a real feed's snapshot column lands in
    exactly one place.

    With ``snapshot_col`` (a string/boolean column on the documents frame)
    membership comes from the DATA: a row is 'new' when the column is
    boolean true or the string ``'new'``/``'true'`` (case-insensitive);
    NULL/unknown values fall to the previous snapshot. Without it, the
    documented fixture convention ``doc_id % 3 == 0`` stands in for
    'today's crawl' — deterministic, oracle-replayable, and ~1/3 of the
    corpus so both new×old and new×new pairs occur. NB multimodal.py's
    unrelated ``doc_id % 3`` (a fixture format-variant trick) is NOT this
    convention and deliberately does not route through here."""
    if snapshot_col is not None:
        # NULL-safe and case-insensitive: isin returns NULL on NULL input,
        # and a row that is neither new nor ~new would vanish from BOTH
        # snapshots (ADVICE r12). Unknown/NULL rows land in the PREVIOUS
        # snapshot — the conservative side for dedup (a doc of unknown
        # provenance is treated as already-seen index content, never as a
        # fresh arrival that skips the old×old exclusion).
        c = F.col(snapshot_col)
        return F.coalesce(
            F.lower(c.cast("string")).isin("true", "new"), F.lit(False)
        )
    return F.col("doc_id") % 3 == 0


def incremental_new_docs(
    spark: SparkSession, sf_dir: str, snapshot_col: str | None = None
) -> DataFrame:
    """Cross-snapshot incremental dedup: which docs of the 'new' snapshot
    (snapshot_is_new — a column on real feeds, doc_id % 3 = 0 on the
    fixture) carry content not present in the 'previous' snapshot (the
    rest)? Anti-join on the normalized-content fingerprint — the 100 TB
    shape for 'only process documents we have never seen', where the
    previous side is a persisted fingerprint table, not a scan."""
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "fp", F.md5(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    )
    is_new = snapshot_is_new(snapshot_col)
    cur = docs.filter(is_new).select("doc_id", "fp")
    prev = docs.filter(~is_new).select("fp")
    return cur.join(prev, "fp", "left_anti").select("doc_id", "fp")


def incremental_minhash_pairs(
    spark: SparkSession, sf_dir: str, snapshot_col: str | None = None
) -> DataFrame:
    """Cross-snapshot incremental NEAR-dup maintenance — the MinHash twin
    of incremental_new_docs, and the batch twin of
    stream_ingest_dedup_check: only the NEW snapshot's band keys
    (snapshot_is_new, the shared split convention) probe the index,
    producing new×old and new×new candidate pairs; old×old pairs are
    NEVER regenerated. At 100 TB this is what keeps nightly dedup ∝ the
    crawl delta instead of the corpus: the previous side is the persisted
    banded signature index (the session cache here; the STORED parquet
    artifact in operators/index_store.py's build/probe pair), the new
    side is today's fingerprints, and the verified-pair log grows
    append-only.

    Output (doc_a, doc_b, jaccard, vs_previous): doc_a is always the new
    doc; vs_previous marks new×old pairs (doc_b in the previous
    snapshot) vs new×new (both new, doc_a < doc_b). Exact oracle: the
    full band-rule replay restricted to pairs with a new endpoint and
    reoriented the same way — candidate generation is identical because
    a new-old pair shares a band in the full self-join iff it shares one
    in the probe join."""
    sigs = _signatures_for(spark, sf_dir)
    bands = _band_keys(sigs, carry=[])
    is_new = snapshot_is_new(snapshot_col)
    nb = bands.filter(is_new).select(
        F.col("doc_id").alias("doc_a"), "band", "key"
    )
    ob = bands.filter(~is_new).select(
        F.col("doc_id").alias("doc_b"), "band", "key"
    )
    # vs_previous is carried from the branch the candidate came from (the
    # two branches are disjoint by construction: doc_b old vs doc_b new),
    # so the marker works for ANY snapshot convention — column-driven
    # feeds included — without joining snapshot membership back on.
    new_old = nb.join(ob, ["band", "key"]).select(
        "doc_a", "doc_b", F.lit(True).alias("vs_previous")
    )
    new_new = (
        nb.join(
            nb.select(F.col("doc_a").alias("doc_b"), "band", "key"),
            ["band", "key"],
        )
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", F.lit(False).alias("vs_previous"))
    )
    cand = new_old.unionAll(new_new).distinct()
    sh = sigs.select("doc_id", "shingles")
    return _verify_probe_candidates(cand, sh, sh)


def _verify_probe_candidates(
    cand: DataFrame, sh_new: DataFrame, sh_old: DataFrame
) -> DataFrame:
    """Shared verify step for the incremental probe family: join candidate
    (doc_a, doc_b, vs_previous) rows to doc_a's shingles from ``sh_new``
    and doc_b's from ``sh_old`` (both ``(doc_id, shingles)``), compute the
    exact Jaccard, and keep pairs ≥ 0.5. Split shingle sides so the
    stored-index probe (operators/index_store.py) can serve the old side
    from the persisted artifact while the session path passes the same
    frame twice."""
    return (
        cand.join(
            sh_new.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a")),
            "doc_a",
        )
        .join(
            sh_old.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b")),
            "doc_b",
        )
        .withColumn("jaccard", F.expr(_JACCARD_EXPR))
        .filter(F.col("jaccard") >= 0.5)
        .select("doc_a", "doc_b", "jaccard", "vs_previous")
    )


RECALL_SAMPLE_DECILES = 2  # measure on a deterministic 20% doc sample
RECALL_JACCARD_T = 0.5


def _sampled_signatures_for(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signature+shingle table for the deterministic recall sample, served
    from the same "minhash-signatures" ledger family as the full-corpus
    index (keyed separately) — an un-keyed per-call persist() here would
    accumulate one cached table per bench/driver invocation for the life
    of the session."""
    from ..tables import load_table as _lt
    from .pipeline import _DECILE  # single definition of the md5-decile idiom

    def _build():
        docs = _lt(spark, sf_dir, "documents").filter(
            F.expr(f"{_DECILE} < {RECALL_SAMPLE_DECILES}")
        )
        return _signatures_with_shingles(docs)

    return ledger.of(spark).family("minhash-signatures").get_or_build(
        (sf_dir, "recall-sample"), _build
    )


def dedup_minhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipped RECALL measurement for the banded MinHash-LSH pass — the
    ann_recall discipline applied to dedup: what fraction of TRUE
    near-dup pairs (exact shingle Jaccard ≥ 0.5) does the 4×2 banding
    actually surface? Ground truth needs pair candidates beyond the LSH
    buckets, which is quadratic — so the measurement runs on a
    DETERMINISTIC 20% doc sample (the md5-decile idiom; at 100 TB the
    sample is capped upstream and this stays a bounded audit job), where
    truth comes from an exhaustive shingle-SHARING join: every pair with
    Jaccard > 0 shares at least one shingle, so the shingle join's
    candidate set provably contains all true pairs — no all-pairs scan.

    One row: true pairs, LSH-found pairs (a subset by construction, both
    exact-verified at the same threshold), recall."""
    from ..tables import scalar_join

    sigs_sh = _sampled_signatures_for(spark, sf_dir)
    # truth: shingle-sharing candidates -> exact Jaccard
    expl = sigs_sh.select("doc_id", F.explode("shingles").alias("s"))
    cand_all = (
        expl.alias("a")
        .join(expl.alias("b"), (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sh = sigs_sh.select("doc_id", "shingles")
    truth = (
        cand_all.join(
            sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a")), "doc_a"
        )
        .join(sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b")), "doc_b")
        .withColumn("jaccard", F.expr(_JACCARD_EXPR))
        .filter(F.col("jaccard") >= RECALL_JACCARD_T)
    )
    found = (
        _pairs_rejoin(sigs_sh)
        .withColumn("jaccard", F.expr(_JACCARD_EXPR))
        .filter(F.col("jaccard") >= RECALL_JACCARD_T)
    )
    from ..functions.vector import stable_round

    return scalar_join(
        truth.agg(F.count(F.lit(1)).cast("long").alias("n_true_pairs")),
        found.agg(F.count(F.lit(1)).cast("long").alias("n_lsh_pairs")),
    ).select(
        "n_true_pairs",
        "n_lsh_pairs",
        F.expr(
            stable_round(
                "CASE WHEN n_true_pairs = 0 THEN 1.0"
                " ELSE CAST(n_lsh_pairs AS DOUBLE) / n_true_pairs END",
                6,
            )
        ).alias("recall"),
    )


COLLISION_MIN = 4  # report pairs with ≥4 of 8 colliding minhashes (Ĵ ≥ 0.5)


def dedup_minhash_collision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collision-counting LSH join (the C2Net idea, ICDE 2019: estimate
    similarity from the NUMBER of colliding hash functions instead of
    verifying candidates against raw sets): candidates come from the wide
    8×1 banding, and each pair's Jaccard is ESTIMATED as
    (#matching minhashes)/K — the unbiased MinHash estimator — with no
    shingle-set verify join at all. At 100 TB this is the
    network-efficiency trade: only the K-slot signatures ever shuffle
    (the per-doc shingle sets, orders of magnitude larger, stay at rest),
    in exchange for an estimator with stderr √(Ĵ(1−Ĵ)/K) instead of the
    exact verify of dedup_minhash_pairs. Same md5 hash family → exact
    DuckDB oracle on the estimates themselves."""
    mh = [f"mh{j}" for j in range(MINHASH_K)]
    sigs = _signatures_for(spark, sf_dir).select("doc_id", *mh)
    bands = _band_keys_8x1(sigs, carry=mh)
    a, b = bands.alias("a"), bands.alias("b")
    n_coll = " + ".join(f"IF(a.mh{j} = b.mh{j}, 1, 0)" for j in range(MINHASH_K))
    return (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.key") == F.col("b.key")))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.expr(f"CAST({n_coll} AS INT)").alias("n_collisions"),
        )
        .distinct()
        .filter(F.col("n_collisions") >= COLLISION_MIN)
        .withColumn(
            "est_jaccard", F.expr(f"CAST(n_collisions AS DOUBLE) / {MINHASH_K}")
        )
    )


CONTAIN_DF_CAP = 64
CONTAIN_MIN = 0.8
CONTAIN_TOP = 200


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-dup detection by shingle CONTAINMENT C(A in B) =
    |shingles(A) ∩ shingles(B)| / |shingles(A)| (Broder 1997's second
    resemblance measure): catches a short doc quoted/wrapped inside a long
    one, where Jaccard stays far below any dedup threshold because the
    union is dominated by the long doc. Directional top-CONTAIN_TOP pairs
    with C >= CONTAIN_MIN.

    Candidate generation is an inverted-index equi-join on the shingle,
    with shingles appearing in > CONTAIN_DF_CAP docs dropped BY
    SPECIFICATION before pair generation (boilerplate shingles assert
    nothing about containment and cost df² pairs each; the denominator
    |A| stays uncapped). The oracle replays the identical cap, so the
    gate is exact. Pair volume is bounded by df_cap × shared shingles —
    never all-pairs."""
    from ..functions.vector import stable_round

    sh = _shingles(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "shingles"
    ).transform(checkpoint, eager=False)  # fans into sizes + exploded index
    ex = sh.select("doc_id", F.explode("shingles").alias("s"))
    rare = (
        ex.groupBy("s")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= CONTAIN_DF_CAP)
        .select("s")
    )
    kept = ex.join(rare, "s")
    shared = (
        kept.alias("a")
        .join(kept.alias("b"), "s")
        .filter(F.col("a.doc_id") != F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    sizes = sh.select("doc_id", F.expr("CAST(size(shingles) AS BIGINT)").alias("n_sh"))
    return (
        shared.join(sizes.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .withColumn(
            "containment", F.expr(stable_round("CAST(n_shared AS DOUBLE) / n_sh", 6))
        )
        .filter(F.col("containment") >= CONTAIN_MIN)
        .select(
            "doc_a",
            "doc_b",
            "n_shared",
            F.col("n_sh").alias("n_shingles_a"),
            "containment",
        )
        .orderBy(F.col("containment").desc(), "doc_a", "doc_b")
        .limit(CONTAIN_TOP)
    )


BBIT_MIN_EST = 0.25


def dedup_minhash_bbit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """b-bit MinHash (Li & König 2010, b = 1): keep only the LOWEST BIT of
    each of the K minhashes, estimate Jaccard from the 1-bit match rate as
    Ĵ = 2·(matches/K) − 1 (E[1-bit collision] = (1+J)/2 for uniform
    hashes). The 64×-compression variant of dedup_minhash_collision: at
    100 TB the signature table that shuffles through the band join drops
    from K×64 bits to K bits per doc — the published storage/accuracy
    trade for web-scale dedup. Same md5 hash family in both engines →
    exact oracle on the estimates (which may be coarse: K = 8 gives a
    1/4-granular estimator; negative estimates are clamped at 0).

    Candidates still come from the full-width 8×1 banding (the b-bit
    trade affects the similarity ESTIMATE, not candidate recall)."""
    from ..functions.vector import stable_round

    mh = [f"mh{j}" for j in range(MINHASH_K)]
    sigs = _signatures_for(spark, sf_dir).select("doc_id", *mh)
    bits = sigs.select(
        "doc_id",
        *mh,
        *[
            F.expr(
                f"CAST(CAST(conv(substring(mh{j}, 16, 1), 16, 10) AS INT) % 2 AS INT)"
            ).alias(f"bit{j}")
            for j in range(MINHASH_K)
        ],
    )
    bands = _band_keys_8x1(bits, carry=[f"bit{j}" for j in range(MINHASH_K)])
    a, b = bands.alias("a"), bands.alias("b")
    n_match = " + ".join(f"IF(a.bit{j} = b.bit{j}, 1, 0)" for j in range(MINHASH_K))
    est = f"greatest(2.0D * match_bits / {MINHASH_K} - 1.0D, 0.0D)"
    return (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.key") == F.col("b.key")))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.expr(f"CAST({n_match} AS INT)").alias("match_bits"),
        )
        .distinct()
        .withColumn("est_jaccard_b1", F.expr(stable_round(est, 6)))
        .filter(F.col("est_jaccard_b1") >= BBIT_MIN_EST)
    )


SEMDEDUP_TRAIN_ITERS = 2


def dedup_semantic_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with a TRAINED coarse quantizer — the production posture
    dedup_semantic's docstring could only describe: real Lloyd iterations
    give tighter cells (fewer cross-cluster cell-mates → fewer wasted
    pairwise cosines) at the cost that float training was never
    cross-engine-replayable. The round-7 integer-quantized trainer
    (similarity.build_ivf_index_q: exact L2² assignment + floor-mean
    updates in micro-units) removes that cost — the 2-iteration training
    is bit-reproducible and the DuckDB oracle replays it verbatim
    (oracle_ivf.semantic_trained_oracle_sql), so THIS variant carries a
    full exact-hash check too. Prune semantics identical to
    dedup_semantic: within each cell drop every vector with a lower-id
    cell-mate at cosine ≥ τ, keep min id."""
    from ..functions.vector import finite_norm_pred
    from .similarity import build_ivf_index_q

    emb = spread(load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")).filter(
        F.expr(finite_norm_pred("embedding"))
    )
    _cents, assigned = build_ivf_index_q(
        emb,
        n_cells=SEMDEDUP_CELLS,
        iters=SEMDEDUP_TRAIN_ITERS,
        cache_key=(sf_dir, "semdedup-q"),
    )
    return _semantic_prune(assigned)


def _semantic_prune(assigned: DataFrame, tau: float = SEMDEDUP_TAU) -> DataFrame:
    """The SemDeDup within-cell prune over any (vec_id, embedding, cell)
    frame: self-equi-join ON CELL, rounded-cosine threshold, min lower-id
    keeper — shared by the seed-quantizer and trained-quantizer variants."""
    from ..functions.vector import cosine_expr, stable_round

    a = assigned.select(F.col("vec_id").alias("a_id"), F.col("embedding").alias("a_emb"), "cell")
    b = assigned.select(F.col("vec_id").alias("b_id"), F.col("embedding").alias("b_emb"), "cell")
    dups = (
        a.join(b, "cell")
        .filter(F.col("a_id") < F.col("b_id"))
        .filter(F.expr(stable_round(cosine_expr("a_emb", "b_emb"), 6) + f" >= {tau}"))
        .groupBy("b_id")
        .agg(F.min("a_id").alias("dup_of"))
        .withColumnRenamed("b_id", "vec_id")
    )
    return (
        assigned.select("vec_id", F.col("cell").cast("long").alias("cell"))
        .join(dups, "vec_id", "left")
        .select("vec_id", "cell", "dup_of", F.expr("dup_of IS NULL").alias("keep"))
    )


PREFIX_JACCARD_T = 0.5


def dedup_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-similarity near-dup pairs via PREFIX FILTERING (Chaudhuri et al.
    "A Primitive Operator for Similarity Joins", ICDE 2006; the PPJoin
    family) — the exact-recall alternative to MinHash-LSH: order every
    doc's shingle set by global rarity (df ASC, shingle ASC), keep only
    the first |s| − ⌈t·|s|⌉ + 1 shingles as the PREFIX, and join on prefix
    shingles only. Any two sets with Jaccard ≥ t MUST share a prefix
    element under a common global order (pigeonhole on the ⌈t·|s|⌉
    suffix), so unlike LSH banding recall at the threshold is exactly 1 —
    no probabilistic miss — while the join touches only the rarest ~half
    of each posting list. Candidates verify by exact shingle Jaccard.

    Plan shape at 100 TB: one df aggregate on shingle keys, one per-doc
    rank window (partitioned by doc_id — never global), an equi-join on
    PREFIX shingles (rarity ordering is what keeps postings short: the
    hot boilerplate shingles land in suffixes and never join), then the
    1:1 verify rejoin. Complements dedup_minhash_pairs: deterministic
    recall for compliance-grade dedup, at higher candidate cost on
    corpora where LSH's probabilistic prune is acceptable."""
    from pyspark.sql.window import Window

    # the per-(session, corpus) signature index already carries the shingle
    # arrays persisted — sharing it saves the dominant shingling pass every
    # other dedup consumer also needs
    sh = _signatures_for(spark, sf_dir).select("doc_id", "shingles")
    # sz from the array length at explode time — shingles are distinct per
    # doc, so this equals the per-doc row count without a second window
    ex = sh.select(
        "doc_id", F.size("shingles").alias("sz"), F.explode("shingles").alias("s")
    )
    dfx = ex.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    ranked = ex.join(dfx, "s").withColumn(
        "r",
        F.row_number().over(
            Window.partitionBy("doc_id").orderBy(F.col("df").asc(), F.col("s").asc())
        ),
    )
    prefix = ranked.filter(
        F.expr(f"r <= sz - CAST(ceil({PREFIX_JACCARD_T}D * sz) AS INT) + 1")
        # df = 1 shingles can never form a pair — under rarity ordering
        # they dominate the prefixes, so pruning them shrinks the
        # self-join input with zero recall change
        & (F.col("df") >= 2)
    ).select("doc_id", "s", "sz")
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(b, "s")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        # PPJoin LENGTH filter: J(a,b) ≥ t forces t·|b| ≤ |a| (and vice
        # versa) — incompatible sizes prune at candidate time, before the
        # distinct and the verify rejoin ever see the pair
        .filter(
            F.expr(
                f"a.sz >= ceil({PREFIX_JACCARD_T}D * b.sz)"
                f" AND b.sz >= ceil({PREFIX_JACCARD_T}D * a.sz)"
            )
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sha = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    shb = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    return (
        cand.join(sha, "doc_a")
        .join(shb, "doc_b")
        .select("doc_a", "doc_b", F.expr(_JACCARD_EXPR).alias("jaccard"))
        .filter(F.col("jaccard") >= PREFIX_JACCARD_T)
    )


SEM_DECON_TAU = 0.4


def decontaminate_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space train/test decontamination — the semantic sibling of
    decontaminate_ngrams (surface-form overlap misses paraphrases; eval
    leakage audits also search by embedding similarity): split vectors
    into train (md5 deciles 0–7) and held-out test (decile 9), and flag
    every test vector with a TRAIN cell-mate at cosine ≥ τ. Blocking uses
    the same trained integer-quantized cells as dedup_semantic_trained
    (index shared via the session cache — one training pays for both), so
    the join is cell-equi, never all-pairs, and the whole chain is
    replayed exactly by the DuckDB oracle."""
    from ..functions.vector import finite_norm_pred
    from .similarity import build_ivf_index_q

    emb = spread(load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")).filter(
        F.expr(finite_norm_pred("embedding"))
    )
    _cents, assigned = build_ivf_index_q(
        emb,
        n_cells=SEMDEDUP_CELLS,
        iters=SEMDEDUP_TRAIN_ITERS,
        cache_key=(sf_dir, "semdedup-q"),
    )
    dec = "CAST(conv(substring(md5(CAST(vec_id AS STRING)), 1, 8), 16, 10) AS BIGINT) % 10"
    t = assigned.withColumn("decile", F.expr(dec))
    train = t.filter(F.col("decile") < 8).select(
        "cell", F.col("vec_id").alias("train_id"), F.col("embedding").alias("t_emb")
    )
    test = t.filter(F.col("decile") == 9).select("cell", "vec_id", "embedding")
    from ..functions.vector import cosine_expr, stable_round

    hits = (
        test.join(train, "cell")
        .filter(
            F.expr(stable_round(cosine_expr("embedding", "t_emb"), 6) + f" >= {SEM_DECON_TAU}")
        )
        .groupBy("vec_id")
        .agg(
            F.count(F.lit(1)).alias("n_train_near"),
            F.min("train_id").alias("min_train_id"),
        )
    )
    return (
        test.select("vec_id")
        .join(hits, "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce("n_train_near", F.lit(0)).alias("n_train_near"),
            "min_train_id",
            F.expr("min_train_id IS NOT NULL").alias("flagged"),
        )
    )


def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source exact-content overlap: for every source pair (a < b),
    how many DISTINCT document texts appear in both — the contamination
    matrix a corpus-mixing pass reads before weighting sources (two
    "independent" crawls sharing half their content double-count that mass
    under any per-source mixing weight; cf. the cross-snapshot overlap
    accounting in the C4/mC4 and FineWeb dump-dedup discussions).

    Mechanics: distinct (md5(text), source) pairs, self-joined on the
    hash with a < b ordering, counted per pair. The join key is the
    content hash, so fan-out per key is bounded by the SOURCE count (tiny
    constant), never by duplicate volume — a hash shared by 10^6 docs in
    2 sources contributes one (hash, a), one (hash, b), one joined row.

    Plan shape at 100 TB: one distinct over (hash, source) — partial-
    aggregated, hash-keyed — then a self equi-join on hash (|sources|-
    bounded fan-out) and a |sources|²-row aggregate. No skew exposure:
    the distinct collapses duplicate mass before anything joins."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    hs = (
        docs.select(
            F.md5(F.coalesce("text", F.lit(""))).alias("h"),
            F.coalesce("source", F.lit("unknown")).alias("source"),
        )
        .distinct()
        .transform(checkpoint, eager=False)
    )
    a = hs.withColumnRenamed("source", "source_a")
    b = hs.withColumnRenamed("source", "source_b")
    return (
        a.join(b, "h")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared_texts"))
    )


# edit-distance verification ceiling: pairs kept when
# ED_REL_DEN · levenshtein ≤ ED_REL_NUM · max(len_a, len_b)  (≤ 20 %)
ED_REL_NUM = 1
ED_REL_DEN = 5


def dedup_editdistance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy-duplicate pairs verified by CHARACTER edit distance: MinHash-
    LSH band candidates (the shared signature index — same blocking as
    dedup_minhash_pairs) re-verified with levenshtein ≤ 20 % of the longer
    text — the character-level robustness pass that token-set Jaccard
    misses (word reorderings score high on Jaccard but far on edit
    distance; OCR/typo corruptions the reverse), the complement every
    fuzzy-dedup stack pairs with shingle similarity.

    Exactness: levenshtein is the classic unit-cost DP — identical
    integers in Spark and DuckDB — and the keep predicate is pure integer
    arithmetic (ED_REL_DEN·ed ≤ ED_REL_NUM·maxlen); the relative distance
    is one stable_round division of those integers.

    Plan shape at 100 TB: candidates come from the banded equi-join
    (never all-pairs); the verify is per-candidate-pair compute, kept
    cheap by two EXACT prunes (scale-smoke-measured 4.7×/linear without
    them on a 16×-replica corpus whose true near-dup pair population is
    itself quadratic in the clone count): (1) ed ≥ |len_a − len_b|, so
    pairs whose length gap already violates the ceiling skip the DP
    outright; (2) Spark's levenshtein(a, b, threshold) early-exit DP
    (O(ceiling·L), not O(L²)) with the per-pair ceiling — it returns −1
    above the ceiling, which the keep predicate discards, so the KEPT
    rows carry the same exact distances as the oracle's unbounded form
    (ed ≤ ⌊NUM·mx/DEN⌋ ⟺ DEN·ed ≤ NUM·mx for integer ed)."""
    from ..tables import load_table as _lt

    sigs = _signatures_for(spark, sf_dir)
    bands = _band_keys(sigs, [])
    b2 = bands.select(
        F.col("doc_id").alias("doc_b"), F.col("band").alias("band2"), F.col("key").alias("key2")
    )
    cand = (
        bands.join(b2, (F.col("band") == F.col("band2")) & (F.col("key") == F.col("key2")))
        .filter(F.col("doc_id") < F.col("doc_b"))
        .select(F.col("doc_id").alias("doc_a"), "doc_b")
        .distinct()
    )
    texts = _lt(spark, sf_dir, "documents").select(
        "doc_id", F.coalesce("text", F.lit("")).alias("txt")
    )
    ta = texts.select(F.col("doc_id").alias("doc_a"), F.col("txt").alias("txt_a"))
    tb = texts.select(F.col("doc_id").alias("doc_b"), F.col("txt").alias("txt_b"))
    return (
        cand.join(ta, "doc_a")
        .join(tb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "txt_a",
            "txt_b",
            F.greatest(F.length("txt_a"), F.length("txt_b")).cast("long").alias("_mx"),
            F.abs(F.length("txt_a") - F.length("txt_b")).cast("long").alias("_gap"),
        )
        .filter(F.expr(f"_mx > 0 AND {ED_REL_DEN}L * _gap <= {ED_REL_NUM}L * _mx"))
        .select(
            "doc_a",
            "doc_b",
            F.expr(
                f"CAST(levenshtein(txt_a, txt_b,"
                f" CAST(({ED_REL_NUM}L * _mx) DIV {ED_REL_DEN} AS INT)) AS BIGINT)"
            ).alias("edit_distance"),
            "_mx",
        )
        .filter(F.col("edit_distance") >= 0)
        .select(
            "doc_a",
            "doc_b",
            "edit_distance",
            F.expr(
                "floor(CAST(edit_distance AS DOUBLE) / _mx * 1e6 + 0.5) / 1e6"
            ).alias("rel_distance"),
        )
    )


DEDUP_CURVE_NS = (1, 2, 3, 4)


def dedup_rate_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-rate-vs-granularity curve: for each shingle size n in
    DEDUP_CURVE_NS, the fraction of docs whose DISTINCT n-gram SET
    collides with another doc's — the tuning diagnostic that picks the
    dedup shingle width (n=1 is bag-of-words collision, large n
    approaches exact-text identity; the knee of the curve is where
    near-dup blocking stops over-merging). One row per n: n_docs,
    n_distinct_sets, dup_rate.

    The set fingerprint is md5 over the SORTED distinct n-gram list with
    an ASCII-RS joiner — order-canonical, so identical sets hash equal in
    both engines regardless of construction order. Docs SHORTER than n
    are excluded from that n's row (they have no n-grams; hashing their
    empty set would collide every short doc into one bogus dup group —
    n_docs is therefore the ELIGIBLE count per granularity).

    Plan shape at 100 TB: per n, one map-side fingerprint projection and
    one count-distinct aggregate — 4 scans (or one shared-scan union that
    AQE collapses); nothing shuffles but the hash keys."""
    from ..functions.vector import stable_round

    docs = spread(load_table(spark, sf_dir, "documents"))
    out = None
    for n in DEDUP_CURVE_NS:
        grams = (
            f"array_distinct(transform(sequence(0, size(toks) - {n}),"
            f" i -> array_join(slice(toks, i + 1, {n}), ' ')))"
        )
        fp = (
            docs.select(F.expr(TOKS_SAFE).alias("toks"))
            .filter(F.expr(f"size(toks) >= {n}"))
            .select(F.md5(F.expr(f"array_join(array_sort({grams}), char(30))")).alias("h"))
        )
        row = fp.agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("h").cast("long").alias("n_distinct_sets"),
        ).select(
            F.lit(n).cast("int").alias("n"),
            "n_docs",
            "n_distinct_sets",
            F.expr(
                "CASE WHEN n_docs = 0 THEN NULL ELSE "
                + stable_round("1.0D - CAST(n_distinct_sets AS DOUBLE) / n_docs", 6)
                + " END"
            ).alias("dup_rate"),
        )
        out = row if out is None else out.unionAll(row)
    return out


CONTAIN_T = 0.8  # containment threshold |A∩B| / |A|


def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric CONTAINMENT near-dup pairs: ordered (doc_src, doc_dst)
    where |S_src ∩ S_dst| / |S_src| ≥ CONTAIN_T over 3-gram shingle sets
    — the doc-inside-doc detector the symmetric Jaccard family
    structurally misses (a short article quoted inside a long page has
    Jaccard |A|/|B| ≈ 0 but containment 1; web curation needs exactly
    this to catch boilerplate-wrapped syndication, quote farms, and
    wrapper pages). Broder's resemblance/containment pair (1997) — the
    repo ships resemblance as dedup_minhash_pairs; this is the other
    half.

    Recall is exactly 1 at the threshold (no LSH miss): containment
    ≥ t forces |S_src ∩ S_dst| ≥ ⌈t·|S_src|⌉, so the intersection misses
    at most |S_src| − ⌈t·|S_src|⌉ elements of S_src — any
    (|S_src| − ⌈t·|S_src|⌉ + 1)-element PREFIX of S_src under the global
    rarity order must hit S_dst (pigeonhole, Chaudhuri et al. ICDE
    2006). Unlike the symmetric prefix filter, the probe side joins the
    FULL posting of the destination (containment admits arbitrarily
    large destinations, so there is no destination-side prefix or
    PPJoin length filter — the price of asymmetry).

    Plan shape at 100 TB: shares the session shingle index; one df
    aggregate, one per-doc rank window (doc-partitioned), an equi-join
    of source prefixes against full postings (df ≥ 2 both sides — a
    df = 1 shingle cannot pair two distinct docs), then the 1:1 verify
    rejoin. Hot boilerplate shingles make the full-posting side skew:
    production corpora should cap posting length like the LSH bucket
    cap; the fixture corpus needs no cap and the registry oracle
    assumes none."""
    from pyspark.sql.window import Window

    from ..functions.vector import stable_round

    sh = _signatures_for(spark, sf_dir).select("doc_id", "shingles")
    ex = sh.select(
        "doc_id", F.size("shingles").alias("sz"), F.explode("shingles").alias("s")
    )
    dfx = ex.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    # NOTE (r14, measured non-fix): posting fans into two consumers (the
    # rank-window prefix leg and the candidate join's destination side),
    # so the explode+df-join subtree runs twice per call — but
    # checkpointing posting to share it was MEASURED WORSE (1.95 → 2.20 s
    # at sf0.1): storing the exploded per-shingle rows costs more than the
    # 32-way-parallel recompute, unlike dedup_chunk_reuse's small
    # aggregated posting where the same fix wins. Left duplicated on
    # purpose.
    posting = ex.join(dfx, "s").filter(F.col("df") >= 2)
    ranked = posting.withColumn(
        "r",
        F.row_number().over(
            Window.partitionBy("doc_id").orderBy(F.col("df").asc(), F.col("s").asc())
        ),
    )
    # NOTE the rank runs over the df>=2 SUBSET of each doc's shingles, so
    # kept prefixes are supersets of the full-order prefixes minus df=1
    # elements — df=1 elements cannot hit any other doc, so dropping them
    # from the prefix budget preserves the pigeonhole bound.
    prefix = ranked.filter(
        F.expr(f"r <= sz - CAST(ceil({CONTAIN_T}D * sz) AS INT) + 1")
    ).select(F.col("doc_id").alias("doc_src"), "s")
    cand = (
        prefix.join(
            posting.select(F.col("doc_id").alias("doc_dst"), "s"), "s"
        )
        .filter(F.col("doc_src") != F.col("doc_dst"))
        .select("doc_src", "doc_dst")
        .distinct()
    )
    sa = sh.select(F.col("doc_id").alias("doc_src"), F.col("shingles").alias("sh_a"))
    sb = sh.select(F.col("doc_id").alias("doc_dst"), F.col("shingles").alias("sh_b"))
    return (
        cand.join(sa, "doc_src")
        .join(sb, "doc_dst")
        .select(
            "doc_src",
            "doc_dst",
            F.expr(
                stable_round(
                    "CAST(size(array_intersect(sh_a, sh_b)) AS DOUBLE) / size(sh_a)", 6
                )
            ).alias("containment"),
            F.expr(_JACCARD_EXPR).alias("jaccard"),
        )
        .filter(F.col("containment") >= CONTAIN_T)
    )


CDC_WINDOW = 3  # tokens per boundary-decision window
CDC_DIVISOR = 8  # boundary when window-hash % CDC_DIVISOR == 0 (mean chunk ~8 tokens)


# "cdc-chunks" ledger family: sf_dir → persisted CDC chunk index. The chunk
# table is the third shared artifact of a production dedup pipeline (after the
# shingle index and the verified-pair table): the storage report
# (dedup_cdc_chunks) and the assembly detector (dedup_chunk_reuse) both
# aggregate over it, and dedup_chunk_reuse alone reads it three times
# (per-doc bags twice for the self-join, doc totals once) — without the
# persist each read re-runs the explode + per-doc windows.
def _chunk_index_for(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ledger.of(spark).family("cdc-chunks").get_or_build(
        sf_dir, lambda: _cdc_chunk_frame(spark, sf_dir)
    )


def _cdc_chunk_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CDC chunk table (doc_id, source, chunk_id, h, nb): every
    document split at content-defined boundaries (rolling window hash ≡ 0
    mod CDC_DIVISOR), one row per chunk with its md5 and byte length —
    the shared substrate of dedup_cdc_chunks (per-source storage report)
    and dedup_chunk_reuse (cross-doc pair discovery). At 100 TB this
    frame IS the blob-store chunk index a backup/corpus store maintains
    incrementally; both consumers are aggregations over it (served here
    from the per-(session, corpus) persisted index, _chunk_index_for)."""
    from pyspark.sql.window import Window

    docs = spread(load_table(spark, sf_dir, "documents")).select(
        "doc_id",
        F.coalesce("source", F.lit("unknown")).alias("source"),
        F.expr(TOKS_SAFE).alias("toks"),
    )
    toks = docs.filter(F.size("toks") > 0).select(
        "doc_id", "source", F.posexplode("toks").alias("pos", "tok")
    )
    wdoc = Window.partitionBy("doc_id").orderBy("pos")
    flagged = toks.withColumn(
        "b",
        F.expr(
            "CASE WHEN pos >= 2 AND pmod(CAST(conv(substring(md5(concat_ws(' ',"
            f" lag(tok, 2) OVER (PARTITION BY doc_id ORDER BY pos),"
            f" lag(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos),"
            f" tok)), 1, 8), 16, 10) AS BIGINT), {CDC_DIVISOR}) = 0 THEN 1 ELSE 0 END"
        ),
    )
    chunked = flagged.withColumn(
        "chunk_id",
        F.coalesce(
            F.sum("b").over(wdoc.rowsBetween(Window.unboundedPreceding, -1)), F.lit(0)
        ),
    )
    return chunked.groupBy("doc_id", "source", "chunk_id").agg(
        F.md5(
            F.expr("concat_ws(' ', transform(array_sort(collect_list(struct(pos, tok))), s -> s.tok))")
        ).alias("h"),
        F.expr(
            "octet_length(concat_ws(' ',"
            " transform(array_sort(collect_list(struct(pos, tok))), s -> s.tok)))"
        ).cast("long").alias("nb"),
    )


def dedup_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined-chunking storage dedup report per source: split
    every document into variable-size chunks at CONTENT-DEFINED
    boundaries (a boundary closes after token i when the hash of the
    CDC_WINDOW-token window ending at i lands on 0 mod CDC_DIVISOR — the
    rolling-hash cut rule of LBFS/restic/borg/casync, token-granular),
    then measure per source how much chunk-level storage dedup saves:
    n_chunks, n_unique_chunks, bytes_total, bytes_unique, dedup_ratio.
    Content-defined cuts are SHIFT-ROBUST — inserting one token early in
    a doc moves every fixed-size block but leaves all later CDC cut
    points (and so their chunk hashes) unchanged, which is why backup
    stores and LLM-corpus blob stores chunk this way rather than by
    offset.

    Exactness: boundaries come from md5 (identical in both engines,
    integer-compared); chunk texts reassemble by per-doc position; all
    counts/byte sums are exact BIGINTs; the ratio is one stable_round
    division.

    Plan shape at 100 TB: one explode (linear), per-doc lag/sum windows
    (doc-partitioned — never a global sort), a (doc, chunk) reassembly
    aggregate, a (source, chunk-hash) aggregate, and a |sources|-row
    final rollup. Flagship-class shuffles only."""
    from ..functions.vector import stable_round

    chunks = _chunk_index_for(spark, sf_dir)
    # same hash => same text => same nb; min() just pins determinism
    per_hash = chunks.groupBy("source", "h").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"), F.min("nb").alias("nb")
    )
    return per_hash.groupBy("source").agg(
        F.sum("cnt").cast("long").alias("n_chunks"),
        F.count(F.lit(1)).cast("long").alias("n_unique_chunks"),
        F.sum(F.expr("cnt * nb")).cast("long").alias("bytes_total"),
        F.sum("nb").cast("long").alias("bytes_unique"),
    ).select(
        "source",
        "n_chunks",
        "n_unique_chunks",
        "bytes_total",
        "bytes_unique",
        F.expr(
            "CASE WHEN bytes_total = 0 THEN NULL ELSE "
            + stable_round("CAST(bytes_unique AS DOUBLE) / bytes_total", 6)
            + " END"
        ).alias("dedup_ratio"),
    )


CHUNK_REUSE_T = 0.5  # chunk-byte containment threshold shared_bytes / src_bytes


def dedup_chunk_reuse(
    spark: SparkSession,
    sf_dir: str,
    posting_cap: int | str | None = "auto",
    confirm: bool = True,
) -> DataFrame:
    """Document-level ASSEMBLY twin of the CDC chunker (the round-8
    storage report's missing other half): which documents are largely
    REASSEMBLIES of bytes already stored for other documents? Pairs
    (doc_src, doc_dst) where the fraction of doc_src's chunk BYTES also
    present in doc_dst's chunk bag is >= CHUNK_REUSE_T — the chunk-level
    analog of shingle containment (dedup_containment_pairs), computed on
    the storage-dedup substrate instead of the similarity substrate, so
    it surfaces partial copies stitched from shared spans even when
    3-gram Jaccard/containment sits below its threshold. Each emitted
    pair carries `shingle_confirmed`: did the shingle-containment
    detector independently find it? FALSE rows are exactly the pairs
    only chunk-reuse can see (cross-source syndication with heavy local
    edits between the preserved spans) — the curation reviewer's queue.

    Shared bytes are the MULTISET intersection of the two chunk bags:
    sum over shared hashes of nb * min(cnt_src, cnt_dst) — a doc that
    repeats a chunk 3 times only counts it against a dst holding it >= 3
    times at full weight (the restic/borg accounting rule).

    Exactness: chunk hashes/byte lengths are the md5/octet_length
    integers of _cdc_chunk_frame; shared_bytes/n_shared_chunks are exact
    BIGINTs; the containment ratio is one stable_round division; the
    confirmation flag replays the exact containment-pair oracle.

    Plan shape at 100 TB: two aggregations over the chunk index, a
    df >= 2-pruned hash equi-join (a chunk in one doc can pair nothing —
    same prune as the shingle posting join), a (src, dst) pair
    aggregate, and a broadcast-scale left join against the containment
    pairs. Hot boilerplate chunks skew the posting join exactly like hot
    shingles; production corpora cap posting length (LSH bucket-cap
    discipline, docs/SCALE.md S11.5); the fixture corpus needs no cap so
    the oracle stays exact. Transitive group resolution composes
    downstream via connected_components (the dedup_groups pattern) over
    these pairs."""
    from ..functions.vector import stable_round

    chunks = _chunk_index_for(spark, sf_dir)
    # NOTE (r14, measured non-fix): per_doc fans into doc_bytes +
    # ndocs_per_h + posting and posting feeds both sides of the pair
    # self-join, so these aggregates re-run per consumer — but
    # checkpointing either frame was MEASURED no better than the
    # 32-way-parallel recompute over the persisted chunk index (5-sample
    # medians 3.04 s without vs 3.78 s with at sf0.1, spreads
    # overlapping). Same verdict as dedup_containment_pairs' posting.
    per_doc = chunks.groupBy("doc_id", "h").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"), F.min("nb").alias("nb")
    )
    doc_bytes = per_doc.groupBy("doc_id").agg(
        F.sum(F.expr("cnt * nb")).cast("long").alias("doc_bytes")
    )
    # a chunk held by a single document cannot contribute to any pair
    ndocs_per_h = per_doc.groupBy("h").agg(F.count(F.lit(1)).alias("ndocs"))
    shared_h = ndocs_per_h.filter(F.col("ndocs") >= 2).select("h")
    posting = per_doc.join(shared_h, "h")
    if posting_cap == "auto":
        from .skew_guard import AUTO_POSTING_CAP, resolve_cap

        # the posting frame's per-hash depth IS ndocs (posting = per_doc
        # ⋈ shared hashes), so the probe reuses the ndocs aggregate
        # instead of re-running the join
        posting_cap = resolve_cap(
            posting_cap,
            ndocs_per_h.filter(F.col("ndocs") >= 2),
            "ndocs",
            AUTO_POSTING_CAP,
            name="chunk-posting",
            policy="keep-lowest",  # row_number ≤ cap keeps the lowest doc_ids
            cache_key=(
                "chunk-posting",
                per_doc.semanticHash(),
            ),
        )
    if posting_cap is not None:
        # the clone-corpus guard (SCALE.md S11.8): a chunk shared by P
        # documents fans the self-join out P^2 rows; capping each posting
        # at the posting_cap LOWEST doc_ids (deterministic) bounds the
        # fan-out at cap^2 per hash, losing only pairs whose EVERY shared
        # chunk rides a >cap posting — boilerplate-dominated pairs, the
        # same tradeoff as the LSH bucket cap (S11.5). Default "auto":
        # the measured cost trigger (skew_guard.resolve_cap) keeps it off
        # at oracle scale, so the registered query's DuckDB oracle stays
        # exact, and engages it on clone-heavy corpora without a hand-set
        # knob.
        from pyspark.sql.window import Window as _W

        posting = posting.withColumn(
            "_pr", F.row_number().over(_W.partitionBy("h").orderBy("doc_id"))
        ).filter(F.col("_pr") <= posting_cap).drop("_pr")
    a = posting.select(
        "h", F.col("doc_id").alias("doc_src"), F.col("cnt").alias("cnt_a"), "nb"
    )
    b = posting.select(
        "h", F.col("doc_id").alias("doc_dst"), F.col("cnt").alias("cnt_b")
    )
    pairs = (
        a.join(b, "h")
        .filter(F.col("doc_src") != F.col("doc_dst"))
        .groupBy("doc_src", "doc_dst")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shared_chunks"),
            F.sum(F.expr("least(cnt_a, cnt_b) * nb")).cast("long").alias("shared_bytes"),
        )
    )
    # confirm=False drops the shingle-containment audit leg (and its whole
    # subplan) — the production mode on clone-heavy corpora where the
    # confirmation detector's own required output is quadratic in the
    # clone count and dominates wall (measured, SCALE.md S11.8); the
    # registered query keeps confirm=True so the oracle replays the flag.
    if not confirm:
        confirmed = None
    else:
        confirmed = dedup_containment_pairs(spark, sf_dir).select(
            "doc_src", "doc_dst", F.lit(True).alias("shingle_confirmed")
        )
    return (
        pairs.join(doc_bytes.withColumnRenamed("doc_id", "doc_src"), "doc_src")
        .withColumn(
            "chunk_containment",
            F.expr(stable_round("CAST(shared_bytes AS DOUBLE) / doc_bytes", 6)),
        )
        .filter(F.col("chunk_containment") >= CHUNK_REUSE_T)
        .transform(
            lambda df: df.select(
                "doc_src", "doc_dst", "n_shared_chunks", "shared_bytes",
                "chunk_containment",
            )
            if confirmed is None
            else df.join(confirmed, ["doc_src", "doc_dst"], "left").select(
                "doc_src",
                "doc_dst",
                "n_shared_chunks",
                "shared_bytes",
                "chunk_containment",
                F.coalesce("shingle_confirmed", F.lit(False)).alias(
                    "shingle_confirmed"
                ),
            )
        )
    )
