"""Corpus-pipeline operators a large-scale training-data build needs beyond
dedup/similarity: deterministic dataset splitting, keep-latest record dedup,
vocabulary construction, TF-IDF keyword extraction, and int8 embedding
quantization. All built-in-expression plans with exact DuckDB oracles.

The reference's surface stops at count/sort/top-K (src/main/main.go:22-49);
these are the curation stages that sit downstream of its tokenizer in a real
pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .. import ledger
from ..functions.vector import stable_round
from ..ledger import checkpoint
from ..tables import load_table
from .core import TOKS, TOKS_SAFE

# md5-derived 32-bit doc hash → decile: the cross-engine-reproducible
# stand-in for a seeded RNG (same trick as the SimHash token hash)
_DECILE = "pmod(CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT), 10)"


def train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/valid/test split by content-independent
    doc_id hash — the reproducible-split idiom for corpus building (every
    engine, every run, every shard assigns each doc identically; no RNG
    state to ship). Returns per-(lang, split) counts. A full pipeline would
    carry the split column on the rows; the counts keep the oracle result
    small while verifying every row's assignment (a single misassigned doc
    shifts two group counts)."""
    docs = load_table(spark, sf_dir, "documents")
    split = F.expr(
        f"CASE WHEN {_DECILE} < 8 THEN 'train' WHEN {_DECILE} < 9 THEN 'valid' ELSE 'test' END"
    )
    return (
        docs.withColumn("split", split)
        .groupBy("lang", "split")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("n_chars"))
    )


def events_dedup_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-latest record dedup: one row per (user_id, event_type) — the
    newest by (ts, event_id). The canonical 'latest snapshot per key'
    compaction over an append-only log: one shuffle on the key, per-group
    top-1 via a rank window (max_by would also work but loses the
    deterministic tiebreak contract)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts"),
            "value",
        )
    )


VOCAB_MIN_COUNT = 5


def _token_counts(docs: DataFrame) -> DataFrame:
    """Corpus-wide (token, cnt) under the reference tokenizer contract
    (split on ' ', drop empties) — shared by vocab_build and
    token_freq_histogram so the tokenizer definition cannot fork."""
    return (
        docs.select(F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def vocab_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary construction: tokens with corpus frequency ≥ 5, assigned
    contiguous ids by (count desc, token asc) — the tokenizer-training
    precursor (BPE seeding, embedding-table layout).

    Id assignment is the TWO-PHASE distributed global rank (the same
    decomposition behind Spark's own SortExec + zipWithIndex idiom), not a
    global row_number window: a partitionBy-less window plans a
    single-partition sort, which for the flagship input class (URLs, where
    the 'vocabulary' is the distinct-key set) would push billions of rows
    through one task at 100 TB. Instead: (1) range-partition by the sort
    key — a distributed sort; (2) count rows per range partition (tiny:
    one row per partition after partial aggregation) and turn the counts
    into per-partition id offsets on the driver; (3) rank locally within
    each partition and add the offset. Global rank = offset[pid] +
    local_rank, independent of where the sampled range boundaries fall.
    The ranked frame is localCheckpoint'ed so the offset job and the
    final plan share one computation of the upstream token count."""
    docs = load_table(spark, sf_dir, "documents")
    counts = _token_counts(docs).filter(F.col("cnt") >= VOCAB_MIN_COUNT)
    # no explicit partition count: REPARTITION_BY_COL lets AQE right-size
    # the range exchange (coalescing a toy vocabulary to one partition,
    # fanning a URL-scale distinct-key set out to shuffle.partitions).
    # AQE only ever merges ADJACENT range partitions, so pid order still
    # equals global sort order and the offset arithmetic below is unchanged.
    ranged = (
        counts.repartitionByRange(F.col("cnt").desc(), F.col("token").asc())
        .withColumn("pid", F.spark_partition_id())
        .transform(checkpoint)
    )
    sizes = {
        r["pid"]: r["n"]
        for r in ranged.groupBy("pid").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    if not sizes:  # empty vocabulary: keep the output schema
        return ranged.select("token", "cnt", F.lit(0).cast("int").alias("token_id"))
    offsets: dict[int, int] = {}
    acc = 0
    for pid in sorted(sizes):  # pid order == range order == global sort order
        offsets[pid] = acc
        acc += sizes[pid]
    off_map = F.map_from_arrays(
        F.array(*[F.lit(int(p)) for p in offsets]),
        F.array(*[F.lit(int(o)) for o in offsets.values()]),
    )
    w = Window.partitionBy("pid").orderBy(F.col("cnt").desc(), F.col("token").asc())
    return (
        ranged.withColumn("local_rank", F.row_number().over(w))
        .select(
            "token",
            "cnt",
            (F.element_at(off_map, F.col("pid")) + F.col("local_rank") - 1)
            .cast("int")
            .alias("token_id"),
        )
    )


# --------------------------------------------------------------------------
# Subword (BPE) vocabulary
# --------------------------------------------------------------------------

BPE_MERGES = 16
# Word-count tables at or under this size run the merge loop on the driver
# (the architecture every production tokenizer trainer uses: the table is
# ~vocabulary-sized — millions of rows even for a 100 TB corpus — and the
# merge loop is inherently sequential); larger vocabularies fall through to
# the distributed DataFrame loop, whose per-merge cost is one aggregate
# over the (distributed) word table. Strategy equivalence is property-
# tested; the gate mirrors graph.CC_COLLECT_MAX_EDGES.
BPE_COLLECT_MAX_WORDS = 1_000_000

# Symbol-string representation: each symbol is bracketed \x01sym\x02 and
# symbols concatenate, so a merge of (l, r) is a plain string replace of
# \x01l\x02\x01r\x02 → \x01lr\x02. Left-to-right non-overlapping replace
# IS greedy leftmost BPE application, and the brackets make partial-symbol
# matches impossible (a space-separator encoding would let pair (a, a)
# match inside "ba a", and boundary-space variants break adjacent merges).
_B1, _B2 = "\x01", "\x02"


def _bpe_merges_local(word_counts: list, n_merges: int) -> list:
    """Driver-side weighted BPE (Sennrich, Haddow, Birch, "Neural machine
    translation of rare words with subword units", ACL 2016): repeatedly
    merge the highest-total adjacent symbol pair, ties broken (total desc,
    lhs asc, rhs asc). Returns [(merge_rank, lhs, rhs, merged, total)]."""
    items = [(list(w), int(c)) for w, c in word_counts]
    merges = []
    for rank in range(n_merges):
        counts: dict = {}
        for s, cnt in items:
            for j in range(len(s) - 1):
                counts[(s[j], s[j + 1])] = counts.get((s[j], s[j + 1]), 0) + cnt
        if not counts:
            break
        (l, r), total = min(counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        merges.append((rank, l, r, l + r, total))
        for idx, (s, cnt) in enumerate(items):
            out, j = [], 0
            while j < len(s):  # greedy leftmost == string-replace semantics
                if j + 1 < len(s) and s[j] == l and s[j + 1] == r:
                    out.append(l + r)
                    j += 2
                else:
                    out.append(s[j])
                    j += 1
            items[idx] = (out, cnt)
    return merges


def _bpe_merges_distributed(words: DataFrame, n_merges: int) -> list:
    """The DataFrame merge loop: the word table stays distributed; each
    merge is ONE job (pair explode → partial-aggregated count → ordered
    first()) collecting a single row — a bounded driver statistic, the
    k-means-centroid posture. The merge is applied with column-based
    F.replace (no string-built SQL: symbols are corpus data) and the frame
    localCheckpoints non-eagerly so lineage stays flat across merges."""
    syms = "split(substring(symstr, 2, length(symstr) - 2), concat(char(2), char(1)))"
    cur = words.select(
        "token",
        "cnt",
        F.expr(
            "array_join(transform(sequence(1, length(token)),"
            " i -> concat(char(1), substring(token, i, 1), char(2))), '')"
        ).alias("symstr"),
    ).transform(checkpoint, eager=False)
    merges = []
    for rank in range(n_merges):
        best = (
            cur.select("cnt", F.expr(syms).alias("s"))
            .filter(F.expr("size(s) >= 2"))
            .select(
                "cnt",
                F.explode(
                    F.expr("transform(sequence(0, size(s) - 2), j -> named_struct('lhs', s[j], 'rhs', s[j + 1]))")
                ).alias("p"),
            )
            .groupBy("p.lhs", "p.rhs")
            .agg(F.sum("cnt").alias("total"))
            .orderBy(F.col("total").desc(), F.col("lhs").asc(), F.col("rhs").asc())
            .first()
        )
        if best is None:
            break
        l, r = best["lhs"], best["rhs"]
        merges.append((rank, l, r, l + r, int(best["total"])))
        cur = cur.select(
            "token",
            "cnt",
            F.replace(
                F.col("symstr"),
                F.lit(_B1 + l + _B2 + _B1 + r + _B2),
                F.lit(_B1 + l + r + _B2),
            ).alias("symstr"),
        ).transform(checkpoint, eager=False)
    return merges


def bpe_merge_table(
    words: DataFrame,
    n_merges: int = BPE_MERGES,
    collect_max_words: int = BPE_COLLECT_MAX_WORDS,
) -> DataFrame:
    """(token, cnt) word table → BPE merge table (merge_rank, lhs, rhs,
    merged, pair_count), two physical strategies behind one contract (see
    BPE_COLLECT_MAX_WORDS). The distributed corpus pass is the word-count
    aggregation the caller provides; the merge loop runs over the
    vocabulary-sized table only."""
    words = words.transform(checkpoint, eager=False)
    if words.count() <= collect_max_words:
        pdf = words.toPandas()
        rows = _bpe_merges_local(list(zip(pdf["token"], pdf["cnt"])), n_merges)
    else:
        rows = _bpe_merges_distributed(words, n_merges)
    schema = "merge_rank long, lhs string, rhs string, merged string, pair_count long"
    from ..tables import local_rows_df

    return local_rows_df(
        words.sparkSession, [(int(a), b, c, d, int(e)) for a, b, c, d, e in rows], schema
    )


def vocab_build_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subword (BPE) vocabulary: the first BPE_MERGES weighted merges
    learned from the corpus word-count table — the real tokenizer-prep
    step that word-level vocab_build approximates. Merge selection and
    greedy-leftmost application are fully deterministic (integer weights,
    (total desc, lhs asc, rhs asc) tie-break), so the DuckDB oracle
    replays the identical loop as BPE_MERGES unrolled CTE stages."""
    docs = load_table(spark, sf_dir, "documents")
    return bpe_merge_table(_token_counts(docs))


BPE_TOP_SUBWORDS = 50


def bpe_encode_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the trained BPE merge table corpus-wide — the tokenizer-
    APPLICATION half (vocab_build_bpe is the training half): encode every
    word with the BPE_MERGES learned merges and report the top-50 subwords
    by weighted frequency. This is how a trained tokenizer runs at 100 TB:
    the merge table (a bounded driver artifact, here 16 rows) broadcasts
    into the plan as BPE_MERGES chained column-level F.replace projections
    over the bracketed symbol encoding — map-only, whole-stage-codegen'd,
    zero Python, zero shuffle before the final subword aggregate. The
    DuckDB oracle re-trains the merges via the unrolled CTE chain and
    aggregates its own final symbolization, so training AND application
    are cross-checked end-to-end."""
    docs = load_table(spark, sf_dir, "documents")
    # checkpoint BEFORE fanning out: the word-count table feeds both the
    # training collect (inside bpe_merge_table) and the encode plan below —
    # un-truncated, the corpus tokenize+groupBy would execute twice
    words = _token_counts(docs).transform(checkpoint, eager=False)
    merges = sorted(
        (int(r["merge_rank"]), r["lhs"], r["rhs"]) for r in bpe_merge_table(words).collect()
    )
    enc = words.select(
        "cnt",
        F.expr(
            "array_join(transform(sequence(1, length(token)),"
            " i -> concat(char(1), substring(token, i, 1), char(2))), '')"
        ).alias("symstr"),
    )
    for _rank, l, r in merges:
        enc = enc.withColumn(
            "symstr",
            F.replace(
                F.col("symstr"),
                F.lit(_B1 + l + _B2 + _B1 + r + _B2),
                F.lit(_B1 + l + r + _B2),
            ),
        )
    return (
        enc.select(
            "cnt",
            F.explode(
                F.expr("split(substring(symstr, 2, length(symstr) - 2), concat(char(2), char(1)))")
            ).alias("subword"),
        )
        .groupBy("subword")
        .agg(F.sum("cnt").alias("weighted_count"))
        .orderBy(F.col("weighted_count").desc(), F.col("subword").asc())
        .limit(BPE_TOP_SUBWORDS)
    )


TFIDF_TOP_PER_DOC = 3


def tf_idf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction: top-3 tokens by tf·idf. The idf is
    the RATIONAL form (N + 1)/(df + 1) rather than its logarithm: rank
    order per document is identical (log is monotone) and the score stays
    pure +,·,÷ arithmetic, which Spark and DuckDB evaluate bit-identically
    (ln() differs in the last ulp between libm implementations, which a
    6 dp round can't always hide). Plan shape: tf = one (doc, token)
    aggregate; df = one token aggregate of that; N is a driver-computed
    corpus statistic embedded as a literal (at scale it comes from the
    table catalog — joining a 1-row frame just degenerates into a
    nested-loop join the plan guard rightly bans); rank window per doc."""
    docs = load_table(spark, sf_dir, "documents")
    n_docs = float(docs.count())
    tf = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_ = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    scored = tf.join(df_, "token").select(
        "doc_id",
        "token",
        "tf",
        F.expr(
            stable_round(f"tf * {n_docs + 1.0!r}D / (CAST(df AS DOUBLE) + 1.0D)", 6)
        ).alias("score"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("token").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= TFIDF_TOP_PER_DOC)
        .select("doc_id", "token", "tf", "score", "rank")
    )


CHUNK_CHARS = 200
CHUNK_STRIDE = 150  # 50-char overlap between consecutive chunks


def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-size chunking — the RAG/pretraining prep step that
    splits long documents into windows (200 chars, 50 overlap here; tokens
    in a tokenizer-aware pipeline). One generate per doc, no shuffle;
    chunks are represented by (idx, length, md5) so the oracle compares
    hashes instead of hauling substrings through the driver."""
    docs = load_table(spark, sf_dir, "documents")
    chunks = F.expr(
        f"""
        transform(
            sequence(0, CAST(floor((greatest(length(text), 1) - 1) / {CHUNK_STRIDE}) AS INT)),
            i -> named_struct(
                'chunk_idx', i,
                'chunk', substring(text, i * {CHUNK_STRIDE} + 1, {CHUNK_CHARS})))
        """
    )
    return (
        docs.select("doc_id", F.explode(chunks).alias("c"))
        .select(
            "doc_id",
            F.col("c.chunk_idx").alias("chunk_idx"),
            F.expr("CAST(length(c.chunk) AS BIGINT)").alias("chunk_len"),
            F.md5(F.col("c.chunk")).alias("chunk_md5"),
        )
    )


PACK_TARGET_TOKENS = 256
# bucket count scales with corpus size: ~PACK_DOCS_PER_BUCKET docs per
# packing unit, floored at 32 (keep every local core busy at test scale)
# and capped at 65536 (shuffle-partition sanity). A hard-coded constant
# capped parallelism AND per-task sort size at N/32 rows forever.
PACK_MIN_BUCKETS = 32
PACK_MAX_BUCKETS = 65536
PACK_DOCS_PER_BUCKET = 100


def pack_bucket_count(n_docs: int) -> int:
    """Data-derived bucket count — a pure function of the corpus row count
    so the DuckDB oracle computes the identical value in SQL."""
    import math

    return max(PACK_MIN_BUCKETS, min(PACK_MAX_BUCKETS, math.ceil(n_docs / PACK_DOCS_PER_BUCKET)))


def context_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: assign documents to fixed-budget training contexts
    (~256 tokens) — the pack-then-split approximation used at scale, made
    distributed by packing WITHIN hash buckets (global greedy packing is
    inherently sequential; per-bucket packing shuffles once on the bucket
    key and packs each bucket independently, deterministic by doc_id
    order). context_id = preceding cumulative token count div target.
    Bucket count derives from the corpus row count (driver-computed, a
    catalog statistic at scale — see pack_bucket_count), so per-bucket
    sort size stays ~PACK_DOCS_PER_BUCKET rows at any corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    n_buckets = pack_bucket_count(docs.count())
    toks = docs.select(
        "doc_id",
        F.pmod(F.col("doc_id"), F.lit(n_buckets)).cast("int").alias("bucket"),
        F.expr(f"CAST(size({TOKS}) AS BIGINT)").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return toks.withColumn(
        "context_id",
        ((F.sum("n_tokens").over(w) - F.col("n_tokens")) / PACK_TARGET_TOKENS)
        .cast("long"),
    )


# shared by the Spark operator, the registry oracle (interpolated, so the
# two sides cannot drift), and the redaction unit test. RE2-compatible so
# Spark's Java regex and DuckDB's RE2 agree.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_DIGITS_RE = r"\d{6,}"


def scrub_text_cols(docs: DataFrame) -> DataFrame:
    """(doc_id, scrubbed_md5, changed, len_delta) for any documents-shaped
    frame — split out so the redaction logic is testable on synthetic rows
    that actually CONTAIN emails/digit runs (the driver fixtures do not,
    so fixture parity alone only proves the identity path; see
    tests/test_properties.py::test_pii_scrub_redacts_synthetic_pii)."""
    clean = F.regexp_replace(
        F.regexp_replace(F.col("text"), PII_EMAIL_RE, "<EMAIL>"), PII_DIGITS_RE, "<NUM>"
    )
    return docs.select(
        "doc_id",
        F.md5(clean).alias("scrubbed_md5"),
        (clean != F.col("text")).alias("changed"),
        (F.length(clean) - F.length("text")).cast("long").alias("len_delta"),
    )


def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing pass: redact email addresses and long digit runs —
    the compliance step every crawl corpus goes through before training.
    Pure regexp_replace projection; output is (fingerprint, changed?, size
    delta) so the oracle verifies every byte of the scrubbed text without
    shipping it."""
    return scrub_text_cols(load_table(spark, sf_dir, "documents"))


def merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot maintenance — the MERGE INTO shape without a table format:
    a deterministic change set (updates for doc_id % 10 = 0, inserts above
    the id range for doc_id % 100 = 0) full-outer-joins the current
    snapshot on the key; each output row is tagged updated/inserted/kept.
    At scale this is one key-shuffle join (lakehouse formats add file-level
    pruning on top, same logical plan); the deterministic change set keeps
    the oracle exact.

    The insert-key offset is max(doc_id) + 1, computed driver-side (a
    catalog statistic at scale) — a fixed constant would collide with real
    ids once the corpus outgrows it, multiplying rows through the join.
    Row tagging keys on JOIN-KEY presence (b.doc_id / c.doc_id nullness),
    not text nullness, so a legitimately-NULL text can't flip a matched
    row's action."""
    base = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    insert_offset = base.agg(F.max("doc_id")).first()[0] + 1
    updates = base.filter(F.col("doc_id") % 10 == 0).select(
        "doc_id", F.concat("text", F.lit(" v2")).alias("text")
    )
    inserts = base.filter(F.col("doc_id") % 100 == 0).select(
        (F.col("doc_id") + F.lit(insert_offset)).alias("doc_id"), "text"
    )
    changes = updates.unionByName(inserts)
    b, c = base.alias("b"), changes.alias("c")
    return b.join(c, F.col("b.doc_id") == F.col("c.doc_id"), "full_outer").select(
        F.coalesce(F.col("b.doc_id"), F.col("c.doc_id")).alias("doc_id"),
        F.md5(F.coalesce(F.col("c.text"), F.col("b.text"))).alias("text_md5"),
        F.when(F.col("c.doc_id").isNotNull() & F.col("b.doc_id").isNotNull(), "updated")
        .when(F.col("b.doc_id").isNull(), "inserted")
        .otherwise("kept")
        .alias("action"),
    )


def corpus_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass corpus profiling: row count, distinct langs/sources/texts,
    n_chars min/max/mean, empty-text count — the data-quality snapshot a
    pipeline records per corpus drop. Multiple DISTINCT aggregates in one
    agg compile to Catalyst's expand+partial-agg plan (one scan, no
    self-joins)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        # distinct over the md5 FINGERPRINT, not the raw text: COUNT(DISTINCT
        # text) would shuffle full document bodies as grouping keys; the
        # fingerprint gives the identical count with 32-byte rows
        F.countDistinct(F.md5("text")).alias("n_distinct_texts"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.sum(F.when(F.col("text") == "", 1).otherwise(0)).alias("n_empty_texts"),
    )


def token_freq_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-of-counts: how many tokens occur exactly k times — the Zipf
    diagnostic behind vocabulary truncation and min-count choices
    (vocab_build's threshold is read off this histogram). An aggregation
    OF an aggregation: both levels get map-side partial aggregation."""
    docs = load_table(spark, sf_dir, "documents")
    return _token_counts(docs).groupBy("cnt").agg(F.count(F.lit(1)).alias("n_tokens"))


def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization report per embedding: per-vector scale
    (127 / max|x|), quantized min/max, saturation count, and dequantization
    MSE — the storage-reduction pass a 100 TB vector corpus runs before
    indexing (4× smaller than float32). Quantization uses the half-up
    floor(x·s + 0.5) form so both engines round identically (round()'s
    half-even ties differ).

    Formulation: explode → per-vector window max → codegen'd grouped
    aggregate, ONE shuffle total (the groupBy reuses the window's
    hash partitioning on vec_id). The all-array form (transform/aggregate
    lambdas) evaluates interpreted AND re-inlines the maxabs fold into
    every consumer via CollapseProject — measured 2.2 s vs 0.2 s at sf0.1
    for 2000×64 vectors; the same lesson as the SimHash explode rework.
    The MSE is a grouped float sum (accumulation order varies), so it gets
    6 dp round semantics like every other group aggregate — fine because
    ulp-order noise (~1e-20) sits far below the rounding grain."""
    from ..functions.vector import finite_norm_pred

    # same degenerate-vector guard as every other embedding consumer: a NaN
    # component passes a plain sum(abs)>0 filter on BOTH engines and then
    # diverges at CAST(floor(NaN) AS INT) (Spark NULL vs DuckDB error)
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.expr(finite_norm_pred("embedding"))
    )
    ex = emb.select("vec_id", F.explode("embedding").alias("x")).withColumn(
        "xd", F.col("x").cast("double")
    )
    w = Window.partitionBy("vec_id")
    withq = (
        ex.withColumn("maxabs", F.max(F.abs("xd")).over(w))
        .withColumn("q", F.expr("CAST(floor(xd * (127.0D / maxabs) + 0.5D) AS INT)"))
        .withColumn("d", F.expr("xd - CAST(q AS DOUBLE) / (127.0D / maxabs)"))
    )
    return withq.groupBy("vec_id").agg(
        F.expr(stable_round("max(maxabs)", 6)).alias("max_abs"),
        F.min("q").alias("q_min"),
        F.max("q").alias("q_max"),
        F.sum(F.when(F.abs("q") == 127, 1).otherwise(0)).alias("n_sat"),
        F.expr(stable_round("sum(d * d) / count(1)", 9)).alias("mse"),
    )


# ---------------------------------------------------------------------------
# Round-3 additions: decontamination, stratified sampling, leakage-safe split
# ---------------------------------------------------------------------------

# 5-token shingles for decontamination: long enough that a shared window
# means real textual overlap (the industry-standard check uses 8–13-gram
# overlap; 5 keeps the tiny-vocabulary synthetic fixtures non-degenerate)
DECON_NGRAM = 5


def decontaminate_frame(docs: DataFrame, df_cap: int | None = None) -> DataFrame:
    """Frame-level decontamination core (see decontaminate_ngrams).

    ``df_cap`` (default off — the oracle is exact) is the hot-shingle skew
    guard, the decontamination analog of the LSH bucket cap: a 5-gram that
    appears in more than ``df_cap`` TRAIN documents is boilerplate (site
    template, license header, navigation chrome), and joining through it
    multiplies every test doc containing it by its train multiplicity —
    the same hot-key explosion as an oversize LSH bucket. Capping drops
    those shingles from the TRAIN index before the join (a groupBy count
    on the already-distinct index, one extra cheap aggregate), bounding
    per-key join fan-out at df_cap while keeping every low-multiplicity —
    i.e. genuinely identifying — overlap. Real pipelines do exactly this
    (boilerplate n-grams are not evidence of leakage).

    The one-pass alternative (one groupBy on the shingle hash collecting
    each side's doc set, then exploding test × train) measured slower at
    sf0.1, best-of-3: 1.81 s vs this join form's 1.40 s
    (``git show d5a103c:tools/bench_variants.py``). Its conditional
    collect_set builds a doc-id set for every shingle, most of them
    train-only; the map-side-distinct train index here never does."""
    from ..tables import spread

    # spread() before shingling: md5 over every 5-token window is the
    # dominant cost and a single-file input arrives as one split; gated
    # no-op once the scan has real split counts
    base = spread(docs.select("doc_id", "text")).select(
        "doc_id",
        F.expr(_DECILE).alias("decile"),
        F.expr(TOKS).alias("toks"),
    )
    sh = base.filter(F.size("toks") >= DECON_NGRAM).select(
        "doc_id",
        "decile",
        F.explode(
            F.array_distinct(
                F.expr(
                    f"transform(sequence(0, size(toks) - {DECON_NGRAM}),"
                    f" i -> md5(concat_ws(' ', slice(toks, i + 1, {DECON_NGRAM}))))"
                )
            )
        ).alias("sh"),
    )
    train = (
        sh.filter(F.col("decile") < 8)
        .select(F.col("sh").alias("tsh"), F.col("doc_id").alias("train_id"))
        .distinct()
    )
    if df_cap is not None:
        hot = (
            train.groupBy("tsh")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > df_cap)
            .select("tsh")
        )
        train = train.join(hot, "tsh", "left_anti")
    test = sh.filter(F.col("decile") == 9).select("doc_id", "sh")
    hits = (
        test.join(train, test.sh == train.tsh)
        .groupBy("doc_id")
        .agg(
            F.countDistinct("sh").alias("n_shared_shingles"),
            F.countDistinct("train_id").alias("n_train_docs"),
        )
    )
    test_docs = base.filter(F.col("decile") == 9).select("doc_id")
    return test_docs.join(hits, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_shared_shingles", F.lit(0)).alias("n_shared_shingles"),
        F.coalesce("n_train_docs", F.lit(0)).alias("n_train_docs"),
    )


def decontaminate_ngrams(
    spark: SparkSession, sf_dir: str, df_cap: int | None = None
) -> DataFrame:
    """Train/test decontamination — the eval-integrity step every corpus
    build runs after splitting: for every TEST-split document, count the
    5-token windows it shares with ANY train-split document, and how many
    distinct train docs share one. A test doc with n_shared_shingles > 0
    leaks eval content into training; the pipeline either drops it from
    eval or removes the offending train docs.

    Shape at scale: per-doc distinct shingle hashes (md5 — cross-engine),
    map-side-distinct'd, then ONE shuffle equi-join on the shingle hash
    between the test and train sides — identical skeleton to the LSH band
    join in dedup (shuffle ∝ shingle volume, never doc×doc). The split
    comes from the same content-independent md5-decile as
    train_test_split, so decontamination composes with the split operator
    without re-hashing. ``df_cap`` enables the hot-shingle boilerplate
    guard (see decontaminate_frame); default off so the oracle is exact."""
    return decontaminate_frame(load_table(spark, sf_dir, "documents"), df_cap)


# per-stratum keep-percentages: downsample the dominant language, keep the
# long tail — the balancing step before tokenizer/model training. A literal
# CASE (not a config lookup) so the oracle is the same expression.
SAMPLE_RATE_PCT = "CASE WHEN lang = 'en' THEN 25 ELSE 75 END"
# salted so the sampling hash is independent of the split hash (_DECILE):
# a doc's split must not predict whether it is sampled
_SAMPLE_BUCKET = (
    "pmod(CAST(conv(substring(md5(concat('samp:', CAST(doc_id AS STRING))), 1, 8),"
    " 16, 10) AS BIGINT), 100)"
)


def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: keep each document iff its salted
    content-independent hash bucket (0–99) falls under its language's keep
    rate — downsampling the dominant stratum without an RNG, so every
    engine/run/shard keeps exactly the same rows (reproducible corpus
    recipe, no sampling state to ship). Row-level output so the oracle
    verifies every keep/drop decision, not just the totals. Pure map-side
    filter — no shuffle at any scale."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.filter(
        F.expr(f"{_SAMPLE_BUCKET} < {SAMPLE_RATE_PCT}")
    ).select("doc_id", "lang")


# Target mixture proportions for mix_sources. Exact binary fractions
# (0.25 = 2^-2, 0.1875 = 3·2^-4) so every rate computation below is the
# same IEEE double arithmetic in Python, Spark, and DuckDB — the floored
# integer thresholds cannot diverge between the engines.
MIX_TARGET_WEIGHTS = {"en": 0.25, "de": 0.1875, "es": 0.1875, "fr": 0.1875, "zh": 0.1875}
_MIX_DEFAULT_WEIGHT = 0.1875
# salted so the mixing hash is independent of both the split decile and the
# stratified-sampling hash
_MIX_BUCKET = (
    "pmod(CAST(conv(substring(md5(concat('mix:', CAST(doc_id AS STRING))), 1, 8),"
    " 16, 10) AS BIGINT), 1000000)"
)


def mix_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mixture resampling: downsample each language stratum so
    the KEPT corpus hits the target mixture proportions (MIX_TARGET_WEIGHTS)
    at the largest achievable size — the data-mixing step that turns raw
    crawl proportions into a training recipe (the published pipelines all
    do this; DoReMi-style learned weights just swap the target vector).

    Mechanics: per-language keep rate r_l = s·w_l / n_l with
    s = min_l(n_l / w_l) — the binding language keeps everything, every
    other language downsamples to proportion. Keep decisions are a salted
    content-independent md5 bucket under the floored millionth-precision
    threshold, so every engine/run/shard keeps exactly the same rows (no
    RNG state). The per-language counts come from one tiny aggregate
    (driver-collected, ∝ #languages); thresholds are embedded as a literal
    CASE so the plan itself is a pure map-side filter — zero shuffle at
    any scale. The oracle re-derives the same thresholds in SQL with the
    identical expression order, so even the floating-point floor agrees."""
    import math

    docs = load_table(spark, sf_dir, "documents")
    counts = {
        r["lang"]: r["n"]
        for r in docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    if not counts:
        return docs.select("doc_id", "lang")
    weights = {l: MIX_TARGET_WEIGHTS.get(l, _MIX_DEFAULT_WEIGHT) for l in counts}
    s = min(counts[l] / weights[l] for l in counts)
    thr = {
        l: int(math.floor(s * weights[l] / counts[l] * 1e6)) for l in sorted(counts)
    }
    # Column-API CASE (F.when chain), NOT string-built SQL: lang values are
    # corpus data — a quote in one would break (or inject into) a textual
    # CASE expression. The plan is identical: literal CASE, map-side filter.
    case_col = None
    for l, t in thr.items():
        branch = (F.col("lang") == F.lit(l), F.lit(t))
        case_col = F.when(*branch) if case_col is None else case_col.when(*branch)
    case_col = case_col.otherwise(F.lit(0))
    return docs.filter(F.expr(_MIX_BUCKET) < case_col).select("doc_id", "lang")


def split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe dataset split: assign train/valid/test by the md5-decile
    of the document's NEAR-DUP CLUSTER representative (dedup_groups), not
    the document itself — so a near-duplicate pair can never straddle the
    train/test boundary (the classic eval-contamination bug that plain
    per-doc splitting causes whenever dedup is imperfect or deliberately
    lenient). By construction every cluster lands in exactly one split;
    the oracle re-derives the clusters independently (recursive CTE) and
    re-applies the same decile, verifying both the clustering and the
    assignment row-for-row. Costs one extra hash of the (small) group id
    on top of the connected-components pass."""
    from .graph import dedup_groups

    groups = dedup_groups(spark, sf_dir)
    decile = _DECILE.replace("doc_id", "group_id")
    split = F.expr(
        f"CASE WHEN {decile} < 8 THEN 'train' WHEN {decile} < 9 THEN 'valid'"
        " ELSE 'test' END"
    )
    return groups.select("doc_id", "group_id", split.alias("split"))


# ---------------------------------------------------------------------------
# Order-dependent corpus passes (token-budget sampling, epoch shuffling)
# via a SCALABLE prefix scan. The naive plan — one window over the whole
# ordering — collapses to a single task in Spark (an unpartitioned Window
# moves every row to one partition). Instead: the priority hash's high
# 6 bits define 64 ORDER-PRESERVING buckets (bucket b's rows all precede
# bucket b+1's in hash order), per-bucket subtotals are a tiny aggregate
# (|groups|·64 rows) collected to the driver, exclusive prefix offsets are
# broadcast-joined back, and the window runs per (group, bucket) — 64-way
# parallel, no task sees more than ~1/64 of a group. The DuckDB oracle
# runs the NAIVE single-window form; both produce identical rows, which is
# itself the strongest test that the decomposition is exact.
# ---------------------------------------------------------------------------

_PREFIX_BUCKETS = 64
# high 6 bits of the 32-bit priority hash → bucket preserves hash order
_BUCKET_DIV = 2**32 // _PREFIX_BUCKETS


def _priority_hash(salt: str) -> str:
    """Salted content-independent 32-bit doc priority (same md5 idiom as
    train_test_split / sample_stratified; the salt decorrelates orderings)."""
    return (
        f"CAST(conv(substring(md5(concat('{salt}:', CAST(doc_id AS STRING))), 1, 8),"
        " 16, 10) AS BIGINT)"
    )


def _with_prefix_cumsum(
    df: DataFrame,
    part_cols: list[str],
    val_col: str,
    out_col: str,
    grand_total: list | None = None,
) -> DataFrame:
    """Add `out_col` = inclusive cumulative sum of `val_col` over rows of
    `df` ordered by (h, doc_id) within `part_cols`, WITHOUT a global
    window. `df` must carry BIGINT columns h (32-bit hash) and doc_id.
    Shuffle cost: one tiny aggregate + one broadcast join + one window
    keyed (part_cols, bucket) — at any scale the biggest partition is
    ~1/64 of the largest group.

    ``grand_total``: pass an empty list to receive Σ val_col (appended as
    its single element) for free — the offset collect already holds every
    bucket subtotal, so callers needing the total (training_export's
    shard arithmetic) skip a whole extra job over the input."""
    from pyspark.sql.functions import broadcast

    b = df.withColumn("bucket", F.expr(f"CAST(h DIV {_BUCKET_DIV} AS INT)"))
    sub = b.groupBy(*part_cols, "bucket").agg(F.sum(val_col).alias("sub_total"))
    rows = sub.collect()  # bounded: |groups| × 64 rows of integers
    if grand_total is not None:
        grand_total.append(sum(r["sub_total"] for r in rows))
    if not rows:  # empty input: nothing to rank, avoid schema-less createDataFrame
        return df.withColumn(out_col, F.lit(0).cast("long"))
    offsets, seen = [], {}
    for r in sorted(rows, key=lambda r: tuple([*(r[c] for c in part_cols), r["bucket"]])):
        g = tuple(r[c] for c in part_cols)
        offsets.append((*g, r["bucket"], seen.get(g, 0)))
        seen[g] = seen.get(g, 0) + r["sub_total"]
    spark = df.sparkSession
    from ..tables import local_rows_df

    # LocalRelation, not createDataFrame: this frame exists only to be
    # broadcast, and the pickled-RDD path would spend a 32-python-task job
    # materializing a few hundred integers (~0.3 s/call; guide §4)
    off_df = local_rows_df(
        spark, offsets, [*part_cols, "bucket", "offset"]
    ).withColumn("offset", F.col("offset").cast("long"))
    w = (
        Window.partitionBy(*part_cols, "bucket")
        .orderBy(F.col("h").asc(), F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        b.join(broadcast(off_df), [*part_cols, "bucket"])
        .withColumn(out_col, (F.col("offset") + F.sum(val_col).over(w)).cast("long"))
        .drop("bucket", "offset")
    )


TOKEN_BUDGET_PER_SOURCE = 800


def sample_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sampling: per source, admit documents in deterministic
    salted-hash priority order until the running token total would exceed
    TOKEN_BUDGET_PER_SOURCE — the "take N tokens from each source" step of
    assembling a training mixture under an absolute token budget (recipes
    are quoted in tokens, not documents; admission must be reproducible
    across engines/runs/shards, hence hash priority instead of an RNG).
    Returns every admitted doc with its running total, so the oracle
    verifies each admission decision and each prefix sum exactly (integer
    arithmetic throughout).

    Scale: the prefix scan is the two-phase bucketed form above — no
    global window; admission is a map-side comparison after it."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        "source",
        F.expr(f"CAST(size({TOKS_SAFE}) AS BIGINT)").alias("n_tokens"),
        F.expr(_priority_hash("budget")).alias("h"),
    )
    cum = _with_prefix_cumsum(base, ["source"], "n_tokens", "cum_tokens")
    return (
        cum.filter(F.col("cum_tokens") <= TOKEN_BUDGET_PER_SOURCE)
        .select("doc_id", "source", "n_tokens", "cum_tokens")
    )


SHUFFLE_SHARDS = 16


def corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch shuffle + sharding: every document gets a global
    shuffle_rank (its position in salted-hash order — the reproducible
    stand-in for "shuffle the corpus before epoch 0") and a contiguous
    shard in [0, SHUFFLE_SHARDS) of near-equal size
    (⌊(rank−1)·S/N⌋ — the writer-friendly assignment: each shard is one
    contiguous run of the shuffled order, so a 100 TB write is
    repartitionByRange(shard) with zero additional sorting). Training-data
    loaders consume exactly this artifact: shard files in shuffled order.

    The global rank uses the same bucketed prefix scan (rank = cumulative
    count), so no single task ever materializes the full ordering."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", F.lit(1).alias("one"), F.expr(_priority_hash("shuf:0")).alias("h")
    )
    total: list = []
    ranked = _with_prefix_cumsum(base, [], "one", "shuffle_rank", grand_total=total)
    n_docs = max(int(total[0]), 1)  # Σ one from the offset collect: no extra count() job
    return ranked.select(
        "doc_id",
        "shuffle_rank",
        F.expr(f"CAST((shuffle_rank - 1L) * {SHUFFLE_SHARDS}L DIV {n_docs}L AS INT)").alias(
            "shard"
        ),
    )


EXPORT_TOKEN_BUDGET = 600
EXPORT_SHARDS = 8
EXPORT_MIN_TOKENS = 10


def _export_base(docs: DataFrame) -> DataFrame:
    """training_export's spread tokenize+classifier pass, with each
    computed column guarded by a nondeterministic zero — exposed so
    tests/test_plans.py can pin the shape (VERDICT r13 item 5).

    nondeterministic zero: ``expr + CAST(0.0*rand(42) AS BIGINT)`` is
    value-identical to ``expr`` (0.0*rand is exactly 0.0 — rand ∈ [0,1),
    never NaN — and casts to 0L) but tags the PROJECTION nondeterministic,
    which stops two Catalyst rewrites that each re-evaluate the classifier
    aggregate (the guide §4.4 duplicated-evaluation trap in SQL-expression
    form):

    1. predicate pushdown THROUGH the projection: the r13 shape guarded
       only the gate filter, so the filter could not sink below the spread
       exchange (r13 profile st25: the unguarded filter re-ran the whole
       pass single-threaded on the one-split scan side, 3.8 s CPU / 1
       task) — but the filter's substituted condition still INLINED the
       full aggregate, evaluating it once in the Filter and again in the
       Project: 2× per surviving row;
    2. CollapseProject/inlining itself: with the definition
       nondeterministic, the gate filter references the projected column
       by attribute, so the aggregate is evaluated exactly once per row.

    A filter-side-only guard can't do (2), and an unused nondeterministic
    projection column does neither (ColumnPruning strips it). The gate
    predicates are computed expressions, so no parquet PushedFilters are
    lost, and at real scale (spread a no-op, no exchange) the single
    evaluation still fuses into the scan stage."""
    from .text import classifier_sum_w_expr

    _nd_zero_long = (F.lit(0.0) * F.rand(42)).cast("bigint")
    return docs.select(
        "doc_id",
        "source",
        "text",
        F.expr(TOKS_SAFE).alias("toks"),
    ).select(
        "doc_id",
        "source",
        "text",
        (F.expr("CAST(size(toks) AS BIGINT)") + _nd_zero_long).alias("n_tokens"),
        (F.expr(classifier_sum_w_expr("toks")) + _nd_zero_long).alias("sum_w"),
    )


def _export_gated(base: DataFrame) -> DataFrame:
    """The quality-gate filter over :func:`_export_base`. Plain
    deterministic comparisons: the nondeterministic column DEFINITIONS in
    the base projection are what pin this filter above the projection and
    above the spread exchange (see _export_base)."""
    return (
        base.filter(
            (F.col("sum_w") > 0)
            & (F.col("n_tokens") >= F.lit(EXPORT_MIN_TOKENS).cast("bigint"))
        )
        .withColumn("fp", F.md5(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")))
        .drop("text")
    )


def training_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capstone: the raw-corpus → training-shards export as one composed
    pipeline — classifier quality gate → exact dedup → per-source token
    budget → deterministic shuffle+shard → per-shard manifest. This is the
    artifact a trainer actually mounts: shard files in shuffled order with
    a manifest row per shard (doc/token counts + an order-insensitive
    content signature that pins every surviving byte).

    Stages (each individually oracle-checked elsewhere; the capstone
    verifies the COMPOSITION end-to-end):
      1. keep docs with classifier Σw > 0 and ≥ EXPORT_MIN_TOKENS tokens
         (map-side, fuses into the scan);
      2. exact dedup on the normalized-text md5, keep min doc_id
         (one hash aggregate + semi join — the dedup_exact shape);
      3. admit per source until EXPORT_TOKEN_BUDGET running tokens
         (two-phase bucketed prefix scan, no single-partition window);
      4. global shuffle rank + contiguous shards (same prefix-scan);
      5. per-shard counts + bit_xor content signature.

    Driver-side state: two bounded offset collects + one count — all
    O(sources × 64) integers, the same discipline as mix_sources."""
    from ..tables import spread

    # spread() before the tokenize+classifier pass: the sf fixture arrives
    # as ONE parquet split, so without it the dominant stage (st22 in the
    # r13 stage profile: 4.9 s CPU, 1 task) runs single-threaded; at real
    # scale the scan is already >=parallelism splits and spread is a no-op
    base = _export_base(spread(load_table(spark, sf_dir, "documents")))
    # the composition is consumed by SIX downstream jobs (two prefix-scan
    # offset collects, the admitted count, the final aggregate — each with
    # gated on both sides of the dedup semi join); without lineage
    # truncation the tokenize+classifier scan re-executes ~8×, measured
    # 28 s vs ~4 s at sf0.1. Non-eager localCheckpoint at each reuse
    # point: first consumer materializes, the rest read.
    gated = _export_gated(base).transform(checkpoint, eager=False)
    keepers = gated.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    survivors = (
        gated.join(keepers.select("doc_id"), "doc_id", "left_semi")
        .select(
            "doc_id", "source", "n_tokens", "fp", F.expr(_priority_hash("export")).alias("h")
        )
        .transform(checkpoint, eager=False)
    )
    admitted = (
        _with_prefix_cumsum(survivors, ["source"], "n_tokens", "cum_tokens")
        .filter(F.col("cum_tokens") <= EXPORT_TOKEN_BUDGET)
        .select(
            "doc_id",
            "source",
            "n_tokens",
            "fp",
            F.lit(1).alias("one"),
            F.expr(_priority_hash("export-shuf")).alias("h"),
        )
        .transform(checkpoint, eager=False)
    )
    total: list = []
    ranked = _with_prefix_cumsum(admitted, [], "one", "shuffle_rank", grand_total=total)
    # Σ one over all buckets IS the admitted count — read it off the offset
    # collect instead of paying a separate count() job over the frame
    n_admitted = int(total[0])
    sharded = ranked.withColumn(
        "shard",
        F.expr(
            f"CAST((shuffle_rank - 1L) * {EXPORT_SHARDS}L DIV {max(n_admitted, 1)}L AS INT)"
        ),
    )
    return sharded.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.expr(
            "CAST(bit_xor(CAST(conv(substring(md5(concat_ws('|', CAST(doc_id AS STRING), fp)), 1, 15), 16, 10) AS BIGINT)) AS BIGINT)"
        ).alias("content_sig"),
    )


CENTROID_Q = 1_000_000  # per-component quantization: 6 dp fixed-point


def embedding_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid, component-wise — the class-prototype
    table behind semantic dedup cell seeding, nearest-centroid
    classification, and drift monitoring. Output is long-form
    (label, pos, c, n): one row per (label, dimension).

    Exactness: each float32 component is quantized to 6-dp fixed point
    BEFORE summing, so the per-(label, pos) accumulator is an exact BIGINT
    — order-independent across any partitioning — and only the final
    mean division is floating point. Shape: posexplode (map-side, rows ×
    dim) into ONE partial-aggregated groupBy on (label, pos) — the
    distributed way to average vectors; `F.aggregate` over a
    `collect_list` would materialize every vector of a label in one row."""
    em = load_table(spark, sf_dir, "embeddings")
    from ..functions.vector import stable_round

    comp = em.select(
        "label", F.posexplode("embedding").alias("pos", "x")
    ).select(
        "label",
        "pos",
        F.expr(f"CAST(floor(CAST(x AS DOUBLE) * {CENTROID_Q} + 0.5) AS BIGINT)").alias("q"),
    )
    comp = comp.withColumn("pos", F.col("pos").cast("long"))
    return comp.groupBy("label", "pos").agg(
        F.expr(stable_round(f"CAST(sum(q) AS DOUBLE) / count(1) / {CENTROID_Q}", 6)).alias("c"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )


INVIDX_MIN_DF = 2
INVIDX_POSTINGS_CAP = 20


def inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index posting lists: per token (df ≥ INVIDX_MIN_DF), its
    document frequency and the first INVIDX_POSTINGS_CAP doc ids in sorted
    order — the retrieval artifact behind BM25/decontamination probes,
    materialized. Postings are serialized as a comma-joined string (stable
    across engines; array dtype canonicalization differs).

    Shape: explode → distinct (token, doc) → rank-within-token window →
    ONE groupBy token. The cap is applied BEFORE aggregation (row_number
    ≤ cap feeds the collect; df counts all rows in the same aggregate):
    a stopword-class token at 100 TB contributes at most
    INVIDX_POSTINGS_CAP entries to any aggregation buffer — capping after
    a full collect_set would be exactly the multi-GB single-buffer hazard
    the cap exists to prevent. The window and the groupBy share the one
    hash shuffle on token."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.expr(TOKS_SAFE)).alias("token"),
    ).distinct()
    w = Window.partitionBy("token").orderBy(F.col("doc_id").asc())
    ranked = toks.withColumn("rn", F.row_number().over(w))
    return (
        ranked.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.array_join(
                F.sort_array(
                    F.collect_list(
                        F.when(F.col("rn") <= INVIDX_POSTINGS_CAP, F.col("doc_id"))
                    )
                ),
                ",",
            ).alias("postings"),
        )
        .filter(F.col("df") >= INVIDX_MIN_DF)
    )


def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage / OOV-rate report per language: what fraction of
    corpus token OCCURRENCES fall outside the min-count-5 vocabulary —
    the go/no-go metric for a tokenizer vocabulary before committing to a
    training run. The vocab side is corpus-derived (vocab_build's filter),
    broadcast against the exploded token stream; per-lang totals are one
    partial-aggregated groupBy."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "lang", F.explode(F.expr(TOKS_SAFE)).alias("token")
    )
    vocab = _token_counts(docs.select("text")).filter(
        F.col("cnt") >= VOCAB_MIN_COUNT
    ).select("token", F.lit(1).alias("in_vocab"))
    return (
        toks.join(F.broadcast(vocab), "token", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0)).cast("long").alias("n_oov"),
        )
        .select(
            "lang",
            "n_tokens",
            "n_oov",
            F.expr(stable_round("CAST(n_oov AS DOUBLE) / n_tokens", 6)).alias("oov_rate"),
        )
    )


COV_Q = 1_000_000  # 6-dp fixed-point quantization for covariance terms
COV_DIMS = 64  # embedding dimensionality (fixture contract)


def embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus covariance matrix of the embedding columns — the gram-matrix
    pass behind PCA/whitening/drift detection, the one linear-algebra
    reduction every vector corpus eventually needs. Output is long-form
    upper-triangle (i, j, n, cov), 2080 rows for 64 dims.

    Exactness (the corr_pricing discipline): each component is quantized
    to 6-dp fixed point, so every outer-product term q_i·q_j is an exact
    integer, the three sufficient statistics (Σq_iq_j, Σq_i, Σq_j) are
    DECIMAL(38,0) sums (order-independent, overflow-free to ~10³⁸ — BIGINT
    would overflow a 100 TB corpus), and only the final closed form
    (n·S_ij − S_i·S_j)/(n²·Q²) is floating point, per-row deterministic.

    Shape at 100 TB: the upper-triangle pair list is generated MAP-SIDE
    per row (nested transform + one explode, d(d+1)/2 structs) and
    partial aggregation collapses it to ≤2080 groups per partition before
    the shuffle — the gram matrix never crosses the wire at row
    granularity. First moments ride the same aggregate via the j = i
    diagonal trick-free second small agg (64 rows, broadcast back)."""
    from ..functions.vector import finite_norm_pred, stable_round
    from ..tables import spread

    em = (
        spread(load_table(spark, sf_dir, "embeddings"))
        .filter(F.expr(finite_norm_pred("embedding")))
        .select(
            F.expr(
                f"transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * {COV_Q} + 0.5) AS DECIMAL(38,0)))"
            ).alias("qs")
        )
    )
    d = COV_DIMS
    pairs = em.select(
        F.explode(
            F.expr(
                f"flatten(transform(sequence(0, {d - 1}),"
                f" i -> transform(sequence(i, {d - 1}),"
                " j -> named_struct('i', i, 'j', j, 't', qs[i] * qs[j]))))"
            )
        ).alias("p")
    ).select("p.i", "p.j", "p.t")
    sij = pairs.groupBy("i", "j").agg(F.sum("t").alias("s_ij"))
    moments = (
        em.select(F.posexplode("qs").alias("pos", "q"))
        .groupBy("pos")
        .agg(
            F.sum("q").alias("s"),
            F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        )
    )
    mi = moments.select(F.col("pos").alias("i"), F.col("s").alias("s_i"), "n")
    mj = moments.select(F.col("pos").alias("j"), F.col("s").alias("s_j"))
    return (
        sij.join(F.broadcast(mi), "i")
        .join(F.broadcast(mj), "j")
        .select(
            F.col("i").cast("int").alias("i"),
            F.col("j").cast("int").alias("j"),
            F.col("n").cast("long").alias("n"),
            F.expr(
                stable_round(
                    "CAST(n * s_ij - s_i * s_j AS DOUBLE)"
                    f" / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * {float(COV_Q) ** 2!r}D)",
                    6,
                )
            ).alias("cov"),
        )
    )


IMPORTANCE_CHARS_NORM = 400.0  # weight = min(1, n_chars / 400)


def sample_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic importance sampling — keep each document with
    probability proportional to a quality weight (here length-derived:
    min(1, n_chars/400)), decided by comparing the doc's md5-hash
    fraction against its weight. The weighted-selection primitive of
    corpus curation (upsample long/high-quality documents, downsample
    boilerplate) in the only form that scales: no RNG state, no
    sort-by-random, no driver coordination — every engine, run, and
    shard makes the identical keep decision per doc (the train_test_split
    idiom, with a per-doc threshold instead of fixed deciles).

    Exactness: the hash fraction is an exact 32-bit integer over 2³²
    and the weight a rational of BIGINTs, so the keep predicate is pure
    integer/rational comparison — no float boundary can flip between
    engines. Output: per-source audit (totals, kept, kept chars, and the
    exact-integer sum of kept hash values as a content signature)."""
    docs = load_table(spark, sf_dir, "documents")
    h32 = "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT)"
    # keep  ⟺  h/2³² < min(1, n_chars/NORM)  ⟺  h·NORM < n_chars·2³² (all BIGINT)
    keep = (
        f"({h32} * CAST({int(IMPORTANCE_CHARS_NORM)} AS BIGINT)"
        f" < coalesce(n_chars, 0) * CAST(4294967296 AS BIGINT))"
    )
    return (
        docs.select("source", "n_chars", F.expr(h32).alias("h"), F.expr(keep).alias("keep"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(F.expr("CASE WHEN keep THEN 1 ELSE 0 END")).cast("long").alias("n_kept"),
            F.sum(F.expr("CASE WHEN keep THEN coalesce(n_chars, 0) ELSE 0 END"))
            .cast("long")
            .alias("kept_chars"),
            F.sum(F.expr("CASE WHEN keep THEN h ELSE 0 END")).cast("long").alias("kept_sig"),
        )
    )


PAD_BATCH_SIZE = 32
# composite order key: token length in the high bits, a 24-bit salted doc
# hash below — global (n_tokens, hash, doc_id) ordering whose value range
# still spans the prefix-scan buckets (plain n_tokens would land every row
# in bucket 0 and degrade the scan to one partition)
_PAD_ORDER_H = (
    "CAST(n_tokens * 16777216 + "
    "CAST(conv(substring(md5(concat('pad:', CAST(doc_id AS STRING))), 1, 6), 16, 10) AS BIGINT)"
    " AS BIGINT)"
)


def batch_padding_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-grouped batch packing — the training-prep step that decides
    how much compute padding burns: sort the corpus by token length, cut
    into fixed-size batches, pad each batch to its own max. Length-sorted
    batching is the standard trick that collapses padding waste versus
    random batching (every doc in a batch has nearly the same length).
    Output: one row per batch (n_docs, max/sum tokens, pad_waste =
    n_docs·max − sum) — Σ pad_waste over batches IS the wasted-token bill.

    The global sort rank comes from the two-phase bucketed prefix scan
    (_with_prefix_cumsum with cnt=1 — no single-partition window); the
    order key packs n_tokens into the high bits of the scan's hash so the
    rank IS the length order, deterministically tie-broken by salted doc
    hash. The DuckDB oracle replays the identical composite key with a
    plain window."""
    docs = load_table(spark, sf_dir, "documents")
    base = (
        docs.select("doc_id", F.expr(TOKS_SAFE).alias("toks"))
        .select("doc_id", F.expr("CAST(size(toks) AS BIGINT)").alias("n_tokens"))
        .withColumn("h", F.expr(_PAD_ORDER_H))
        .withColumn("cnt", F.lit(1).cast("long"))
    )
    ranked = _with_prefix_cumsum(base, [], "cnt", "rank")
    return (
        ranked.withColumn(
            "batch_id", F.expr(f"CAST((rank - 1) DIV {PAD_BATCH_SIZE} AS INT)")
        )
        .groupBy("batch_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.max("n_tokens").alias("max_tokens"),
            F.sum("n_tokens").alias("sum_tokens"),
        )
        .select(
            "batch_id",
            "n_docs",
            "max_tokens",
            "sum_tokens",
            F.expr("n_docs * max_tokens - sum_tokens").alias("pad_waste"),
        )
    )


DRIFT_TOP_K = 20
DRIFT_TRAIN_DECILES = 5  # same md5-decile split as the LM scorer


def vocab_drift_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor: chi-square contributions of each token
    to the train-vs-heldout contingency table — the check a production
    corpus pipeline runs when a new ingest batch lands (did the token
    distribution move, and WHICH tokens moved it). Reports the top
    DRIFT_TOP_K drifted tokens with observed counts and their χ²
    contribution; on the md5-decile split of a homogeneous corpus the
    statistic is small by construction — the operator measures, the
    threshold is the caller's.

    Exactness: observed counts are integers, expected counts and
    contributions are single rational expressions of those integers and
    the two driver-collected split totals (catalog-stat posture, no
    1-row-join BNL), so every per-token value is bit-identical
    cross-engine; ranking uses the 6-dp-rounded contribution with a
    token tiebreak. Plan: one tokenize+explode, ONE (token, split)
    aggregate, conditional-sum pivot, rank window over |vocab| rows."""
    from ..functions.vector import stable_round
    from ..tables import spread

    docs = load_table(spark, sf_dir, "documents")
    tok = (
        spread(docs.select("doc_id", "text"))
        .select(
            F.expr(f"({_DECILE}) < {DRIFT_TRAIN_DECILES}").alias("is_train"),
            F.explode(F.expr(TOKS_SAFE)).alias("token"),
        )
        .groupBy("token")
        .agg(
            F.sum(F.expr("CASE WHEN is_train THEN 1 ELSE 0 END")).cast("long").alias("o_t"),
            F.sum(F.expr("CASE WHEN is_train THEN 0 ELSE 1 END")).cast("long").alias("o_h"),
        )
        .transform(checkpoint, eager=False)
    )
    totals = tok.agg(F.sum("o_t"), F.sum("o_h")).collect()[0]
    t_total, h_total = int(totals[0] or 1), int(totals[1] or 1)
    n = t_total + h_total
    contrib = (
        f"(CAST(o_t AS DOUBLE) - CAST((o_t + o_h) AS DOUBLE) * {t_total}.0D / {n}.0D)"
        f" * (CAST(o_t AS DOUBLE) - CAST((o_t + o_h) AS DOUBLE) * {t_total}.0D / {n}.0D)"
        f" / (CAST((o_t + o_h) AS DOUBLE) * {t_total}.0D / {n}.0D)"
        f" + (CAST(o_h AS DOUBLE) - CAST((o_t + o_h) AS DOUBLE) * {h_total}.0D / {n}.0D)"
        f" * (CAST(o_h AS DOUBLE) - CAST((o_t + o_h) AS DOUBLE) * {h_total}.0D / {n}.0D)"
        f" / (CAST((o_t + o_h) AS DOUBLE) * {h_total}.0D / {n}.0D)"
    )
    scored = tok.select(
        "token", "o_t", "o_h", F.expr(stable_round(contrib, 6)).alias("chi2")
    )
    # top-K via orderBy+limit (TakeOrderedAndProject — no corpus-sized
    # single-partition window); the rank window then runs over K rows only
    top = scored.orderBy(F.col("chi2").desc(), F.col("token").asc()).limit(DRIFT_TOP_K)
    w = Window.orderBy(F.col("chi2").desc(), F.col("token").asc())
    return top.withColumn("rank", F.row_number().over(w).cast("int"))


# Johnson–Lindenstrauss random projection: deterministic Rademacher (±1)
# sign matrix from a fixed LCG seed — the SAME Python list renders into the
# Spark expressions AND the DuckDB oracle (the driver-literal trick used by
# quality_char_entropy's log table), so both engines multiply by identical
# signs. ±1 entries keep every product an exact IEEE value; the in-row
# left-to-right fold is order-deterministic, so the projection is exact
# cross-engine with no fixed-point machinery.
RP_IN_DIMS = 64
RP_OUT_DIMS = 16


def _rp_signs() -> list[list[int]]:
    state = 0x5DEECE66D
    rows = []
    for _ in range(RP_OUT_DIMS):
        row = []
        for _ in range(RP_IN_DIMS):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            row.append(1 if (state >> 32) & 1 else -1)
        rows.append(row)
    return rows


RP_SIGNS = _rp_signs()


def embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimensionality reduction by sparse-free JL projection (64 → 16
    dims, Rademacher signs, scaled 1/√16): the cheap distance-preserving
    transform a 100 TB vector corpus applies before ANN indexing when even
    IVF on full vectors is too wide. Per-row map only — 16 literal-sign
    dot products inside whole-stage-codegen expressions, NO shuffle, NO
    Python. Distortion is observable: the output carries the original
    squared norm next to the 16 projected coordinates, and the property
    test asserts the JL concentration (Σy² / ‖x‖² near 1)."""
    from ..functions.vector import dot_expr, finite_norm_pred, stable_round

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.expr(finite_norm_pred("embedding"))
    )
    # y_j = dot(x, s_j) / 4  (1/√k with k=16 is an exact power of two)
    proj_cols = [
        F.expr(
            stable_round(
                dot_expr(
                    "embedding",
                    "array(" + ", ".join(f"{s}.0D" for s in RP_SIGNS[j]) + ")",
                )
                + " / 4.0",
                6,
            )
        ).alias(f"y{j}")
        for j in range(RP_OUT_DIMS)
    ]
    norm2 = dot_expr("embedding", "embedding")
    return emb.select(
        "vec_id",
        *proj_cols,
        F.expr(stable_round(norm2, 6)).alias("orig_norm2"),
    )


def drift_ks_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic between the event-value
    distributions of a deterministic 50/50 md5 user split — the
    continuous-distribution drift monitor that pairs with
    vocab_drift_chi2's categorical χ² (an A/A reading here baselines the
    pipeline; point it at train-vs-serve feeds in production). Values
    quantize to exact cents BY SPECIFICATION (the binned KS — the ECDF
    difference is evaluated at bin edges; both engines replay the same
    grid), NULL/NaN values are excluded, NULL users land in arm B.

    Scale shape: the corpus aggregates to the bin domain first; both
    cumulative counts come from the two-phase bucketed prefix scan
    (_with_prefix_cumsum, cents packed order-preservingly into the scan
    hash) — no single-partition window anywhere; the max picks via
    TakeOrderedAndProject with the bin as tiebreak."""
    from ..functions.vector import stable_round

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & ~F.isnan("value")
    )
    arm = F.expr(
        "IF(pmod(CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 8), 16, 10)"
        " AS BIGINT), 2) = 0, 'A', 'B')"
    )
    binned = (
        ev.select(arm.alias("arm"), F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").alias("bin"))
        .groupBy("bin")
        .agg(
            F.sum(F.expr("CAST(arm = 'A' AS LONG)")).alias("cnt_a"),
            F.sum(F.expr("CAST(arm = 'B' AS LONG)")).alias("cnt_b"),
        )
        # order-preserving hash for the bucketed scan; doc_id is the
        # helper's required unique tiebreak (= bin, unique post-groupBy)
        .withColumn("h", F.expr("bin * 65536"))
        .withColumn("doc_id", F.col("bin"))
        .transform(checkpoint, eager=False)  # two scan passes below share it
    )
    tot_a: list = []
    tot_b: list = []
    c1 = _with_prefix_cumsum(binned, [], "cnt_a", "cum_a", grand_total=tot_a)
    c2 = _with_prefix_cumsum(c1, [], "cnt_b", "cum_b", grand_total=tot_b)
    n_a, n_b = int(tot_a[0]), int(tot_b[0])
    diff = (
        f"abs(CAST(cum_a AS DOUBLE) / nullif({n_a}, 0)"
        f" - CAST(cum_b AS DOUBLE) / nullif({n_b}, 0))"
    )
    return (
        c2.withColumn("diff_raw", F.expr(diff))
        .orderBy(F.col("diff_raw").desc(), F.col("bin").asc())
        .limit(1)
        .select(
            F.lit(n_a).cast("long").alias("n_a"),
            F.lit(n_b).cast("long").alias("n_b"),
            F.expr("CAST(bin AS DOUBLE) / 100.0").alias("at_value"),
            F.expr(stable_round("diff_raw", 6)).alias("ks_d"),
        )
    )


PRIORITY_SAMPLE_K = 100


def sample_priority_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sample WITHOUT replacement via priority sampling (Duffield,
    Lund, Thorup, JACM 2007; a.k.a. sequential Poisson sampling, Ohlsson
    1998): each item draws uniform u, gets priority u/w, and the k SMALLEST
    priorities form the sample — inclusion probability ∝ weight, one pass,
    no RNG state, mergeable across shards (take the k smallest of each
    shard's k smallest). The corpus-curation use: sample documents
    proportional to length/quality for inspection or eval-set building,
    deterministically — sample_importance keeps each doc independently
    (sample SIZE varies); this draws an EXACT-k weighted sample.

    u comes from the doc's md5-hash fraction (the repo's standard
    deterministic uniform); w = n_chars. The priority u/w is one IEEE
    divide of a <2^32 exact integer by an exact integer — identical in
    every engine — and rank ties break on doc_id, so the selected set is
    bit-stable cross-engine (exact oracle).

    Plan shape at 100 TB: one projected scan + TakeOrderedAndProject (the
    k-smallest heap per partition, k rows to the driver exchange) — the
    same plan as url_topk; no sort-by-random full shuffle."""
    from ..functions.vector import stable_round

    docs = load_table(spark, sf_dir, "documents")
    h = "CAST(CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT) AS DOUBLE)"
    return (
        docs.filter(F.coalesce("n_chars", F.lit(0)) > 0)
        .select(
            "doc_id",
            F.col("n_chars").alias("weight"),
            F.expr(f"{h} / n_chars").alias("_prio"),
        )
        .orderBy(F.col("_prio").asc(), F.col("doc_id").asc())
        .limit(PRIORITY_SAMPLE_K)
        .select("doc_id", "weight", F.expr(stable_round("_prio", 6)).alias("priority"))
    )


def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension health statistics of the embedding corpus — the
    feature-monitoring table every vector pipeline keeps (a dimension
    whose variance collapses or mean drifts signals an upstream encoder
    bug; at 100 TB this runs as a daily profile): count, mean, population
    variance, min, max per dimension.

    Exactness: components quantize to integer micro-units (one per-value
    IEEE op, similarity._xq_expr) so Σx and Σx² are exact integers at any
    partitioning — mean and variance are then single divisions of exact
    DECIMAL values (floor-micro rounded), bit-stable cross-engine. The
    float-sum alternative differs in the last ulp per summation order and
    could not carry an exact oracle.

    Plan shape: one posexplode + one (pos)-keyed partial-aggregated
    groupBy — dims groups total, domain-bounded output."""
    from ..functions.vector import finite_norm_pred, stable_round
    from ..tables import spread
    from .similarity import _xq_expr

    emb = spread(load_table(spark, sf_dir, "embeddings")).filter(
        F.expr(finite_norm_pred("embedding"))
    )
    per_dim = (
        emb.select(F.posexplode(F.expr(_xq_expr("embedding"))).alias("pos", "xq"))
        .groupBy("pos")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("xq").alias("_s"),
            F.sum(F.expr("CAST(xq AS DECIMAL(38,0)) * xq")).alias("_s2"),
            F.min("xq").alias("_min_q"),
            F.max("xq").alias("_max_q"),
        )
    )
    # var = (Σx² − (Σx)²/n) / n in micro-unit² → /1e12 to value units;
    # every input exact, the two divisions per-row deterministic
    return per_dim.select(
        F.col("pos").cast("int").alias("dim"),
        "n",
        F.expr(stable_round("CAST(_s AS DOUBLE) / n / 1e6", 6)).alias("mean"),
        F.expr(
            stable_round(
                "(CAST(_s2 AS DOUBLE) - CAST(_s AS DOUBLE) * _s / n) / n / 1e12", 6
            )
        ).alias("variance"),
        F.expr(stable_round("CAST(_min_q AS DOUBLE) / 1e6", 6)).alias("min_val"),
        F.expr(stable_round("CAST(_max_q AS DOUBLE) / 1e6", 6)).alias("max_val"),
    )


VOCAB_OOV_MIN_COUNT = 2


def vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate of the held-out split against a train-split
    vocabulary (min corpus count 2) — the tokenizer-health metric read
    before committing a vocab build (a rising OOV rate on fresh data
    means the vocabulary is stale or the min-count too aggressive; BPE
    exists precisely to drive this to ~0, which vocab_build_bpe's subword
    path demonstrates). Split by the standard md5-decile rule (train
    deciles 0–7, test 9 — the same contract decontaminate_ngrams pins).

    Output: one row — token- and type-level totals, OOV counts, and
    floor-micro rates. All counts exact; the two rates are single
    divisions.

    Plan shape at 100 TB: two token aggregates (train counts, test
    counts) + one left join on the token key tagging membership, then a
    single conditional aggregate — vocab-sized tables after partial
    aggregation, never corpus-row joins, and no scalar cross join (a
    crossJoin of two 1-row aggregates would plan a
    BroadcastNestedLoopJoin; the flag + conditional-sum shape keeps the
    whole reduction in one HashAggregate)."""
    from ..functions.vector import stable_round
    from ..tables import spread

    docs = spread(load_table(spark, sf_dir, "documents")).select(
        "doc_id",
        F.expr(
            "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT) % 10"
        ).alias("decile"),
        F.explode(F.expr(TOKS_SAFE)).alias("w"),
    )
    vocab = (
        docs.filter(F.col("decile") < 8)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= VOCAB_OOV_MIN_COUNT)
        .select("w", F.lit(1).alias("_in_vocab"))
    )
    test = docs.filter(F.col("decile") == 9).groupBy("w").agg(
        F.count(F.lit(1)).alias("n_occ")
    )
    return (
        test.join(vocab, "w", "left")
        .agg(
            F.sum("n_occ").alias("n_test_tokens"),
            F.count(F.lit(1)).alias("n_test_types"),
            F.coalesce(
                F.sum(F.when(F.col("_in_vocab").isNull(), F.col("n_occ"))), F.lit(0)
            ).alias("n_oov_tokens"),
            F.count(F.when(F.col("_in_vocab").isNull(), F.lit(1))).alias("n_oov_types"),
        )
        .select(
            "n_test_tokens",
            "n_test_types",
            "n_oov_tokens",
            "n_oov_types",
            F.expr(
                stable_round("CAST(n_oov_tokens AS DOUBLE) / nullif(n_test_tokens, 0)", 6)
            ).alias("oov_token_rate"),
            F.expr(
                stable_round("CAST(n_oov_types AS DOUBLE) / nullif(n_test_types, 0)", 6)
            ).alias("oov_type_rate"),
        )
    )


# Temperature exponent for mixture reweighting: p_l ∝ (n_l)^α — α = 0.3 is
# the published multilingual sampling temperature (Conneau & Lample, XLM,
# NeurIPS 2019 §3.1; XLM-R uses the same rule), flattening the source
# distribution so low-resource sources are upsampled without letting any
# single head dominate. Here applied to SOURCE strata (the web-corpus
# analogue of languages).
TEMP_MIX_ALPHA = 0.3


def mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source-mixing weights: per source, its raw token
    share, the α-temperature sampling weight p_l = n_l^α / Σ n_k^α, and the
    implied upsample factor p_l / share_l — the recipe card a data-mixing
    run reads before sampling (mix_sources applies a FIXED target vector;
    this derives the vector itself from corpus statistics the way the
    multilingual pretraining pipelines do).

    Determinism: pow() is evaluated per source then QUANTIZED to integer
    micro-units before the cross-source sum, so the normalizing constant is
    an exact BIGINT in both engines (a float sum's value would depend on
    accumulation order — unacceptable for an oracle-checked weight).

    Plan shape at 100 TB: one corpus aggregate to (source, n_tokens) —
    map-side partial, |sources| rows out — then window totals over that
    bounded table. Zero joins, zero scalar broadcasts."""
    per = (
        load_table(spark, sf_dir, "documents")
        .select(
            F.coalesce("source", F.lit("unknown")).alias("source"),
            F.expr(f"CAST(size({TOKS_SAFE}) AS BIGINT)").alias("nt"),
        )
        .groupBy("source")
        .agg(F.sum("nt").alias("n_tokens"))
        .withColumn(
            "powq",
            F.expr(
                f"CAST(floor(pow(CAST(n_tokens AS DOUBLE), {TEMP_MIX_ALPHA}) * 1e6 + 0.5) AS BIGINT)"
            ),
        )
    )
    w = Window.orderBy(F.asc("source")).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        per.withColumn("total", F.sum("n_tokens").over(w))
        .withColumn("sum_powq", F.sum("powq").over(w))
        .select(
            "source",
            "n_tokens",
            F.expr(stable_round("CAST(n_tokens AS DOUBLE) / total", 6)).alias("raw_share"),
            F.expr(stable_round("CAST(powq AS DOUBLE) / sum_powq", 6)).alias("temp_weight"),
            F.expr(
                stable_round(
                    "CAST(powq AS DOUBLE) * CAST(total AS DOUBLE)"
                    " / (CAST(sum_powq AS DOUBLE) * CAST(n_tokens AS DOUBLE))",
                    6,
                )
            ).alias("upsample_factor"),
        )
    )


def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source tokenizer fertility of the trained BPE tokenizer:
    subwords emitted per whitespace word and characters per subword — the
    health metric that decides whether a tokenizer suits a corpus slice
    (fertility rising on one source means its text fragments into char-level
    pieces: vocabulary mismatch). Complements vocab_oov_rate (word-level
    OOV) with the subword-level reading.

    Mechanics: train the BPE_MERGES merge table (vocab_build_bpe's exact
    loop), encode the DISTINCT word table once via the chained-replace
    symbolization, count symbols per word, then join those per-word subword
    counts to per-(source, word) occurrence counts — the join keys are
    post-aggregation words (vocab-sized), never corpus rows. Ratios are
    exact integer micro-division (no float), so the oracle — which
    re-trains the merges via the unrolled CTE chain and re-derives the
    same counts — must agree bit-for-bit.

    Plan shape at 100 TB: two corpus aggregates (global word counts,
    per-source word counts) + one vocab-sized equi-join + |sources|-row
    final aggregate. The merge table is a bounded driver artifact
    (BPE_MERGES rows) applied as literal projections."""
    docs = load_table(spark, sf_dir, "documents")
    words = _token_counts(docs).transform(checkpoint, eager=False)
    merges = sorted(
        (int(r["merge_rank"]), r["lhs"], r["rhs"]) for r in bpe_merge_table(words).collect()
    )
    enc = words.select(
        "token",
        F.expr(
            "array_join(transform(sequence(1, length(token)),"
            " i -> concat(char(1), substring(token, i, 1), char(2))), '')"
        ).alias("symstr"),
    )
    for _rank, l, r in merges:
        enc = enc.withColumn(
            "symstr",
            F.replace(
                F.col("symstr"),
                F.lit(_B1 + l + _B2 + _B1 + r + _B2),
                F.lit(_B1 + l + r + _B2),
            ),
        )
    nsub = enc.select(
        "token",
        F.expr(
            "CAST(size(split(substring(symstr, 2, length(symstr) - 2),"
            " concat(char(2), char(1)))) AS BIGINT)"
        ).alias("n_sub"),
    )
    per_src = (
        docs.select(
            F.coalesce("source", F.lit("unknown")).alias("source"),
            F.explode(F.split("text", " ")).alias("token"),
        )
        .filter(F.col("token") != "")
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        per_src.join(nsub, "token")
        .groupBy("source")
        .agg(
            F.sum("cnt").alias("n_words"),
            F.sum(F.col("cnt") * F.col("n_sub")).alias("n_subwords"),
            F.sum(F.col("cnt") * F.length("token")).alias("n_chars"),
        )
        .select(
            "source",
            "n_words",
            "n_subwords",
            F.expr("CAST((n_subwords * 1000000) div n_words AS DOUBLE) / 1e6").alias(
                "subwords_per_word"
            ),
            F.expr("CAST((n_chars * 1000000) div n_subwords AS DOUBLE) / 1e6").alias(
                "chars_per_subword"
            ),
        )
    )


PCA_POWER_ITERS = 3  # matvec passes; fixture spectrum separates by then


def embedding_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant principal direction of the embedding corpus by POWER
    ITERATION on the uncentered second-moment matrix A = Σ x·xᵀ (von
    Mises–Pollaczek-Geiringer iteration — the matrix-free method every
    distributed PCA ultimately rests on): v ← A·v, renormalize, repeat.
    Each matvec is expressed as two corpus passes that never materialize
    A: per row the scalar dot = ⟨xq, v⟩ (a literal projection — v rides
    in the plan as 64 integer constants, no join), then per dimension
    Σ_rows xq[d]·dot (posexplode + partial-aggregated groupBy over 64
    keys). Between iterations the 64-row result is collected (bounded by
    the dimension constant, the _kmeans_centroids_q discipline) and
    renormalized driver-side.

    Determinism/exactness (why an independent engine can replay this
    bit-for-bit): components are quantized once to integer micro-units
    (similarity._xq_expr); dots are exact BIGINT sums of 64 products;
    the per-dimension accumulators are DECIMAL(38,0) (xq[d]·dot reaches
    ~2·10¹⁹ — past BIGINT); renormalization is integer floor division to
    L∞ micro-units ((num − pmod(num, m)) div m — exactly divisible, so
    truncating and flooring division agree). The final pass stays
    IN-ENGINE: loadings are the floor-normalized components of the last
    matvec, and the eigenvalue estimate is the Rayleigh quotient
    Σ dot² / (|v|²·Q²) — exact integers until one per-row-deterministic
    double division. DuckDB replays the identical iteration as unrolled
    HUGEINT CTEs (oracle_ivf.pca_oracle_sql).

    Plan shape at 100 TB: PCA_POWER_ITERS passes over the cached
    quantized frame, each map-only + one 64-key aggregate; driver state
    is O(64) integers per round. Output: 64 rows (dim, loading, eigval).
    Production raises the iteration count and early-exits on a stable
    micro-unit vector; λ₂/λ₁ convergence is the textbook bound."""
    from ..functions.vector import finite_norm_pred, stable_round
    from ..tables import scalar_join, spread
    from .similarity import _xq_expr

    d = COV_DIMS
    # a ledger artifact of its own family instead of a bare .persist():
    # repeated invocations — e.g. the full-registry gate — reuse one cached
    # quantized frame and LRU eviction unpersists it, so pinned executor
    # storage can't accumulate across calls.
    embq = ledger.of(spark).family("pca-embq").get_or_build(
        sf_dir,
        lambda: (
            spread(load_table(spark, sf_dir, "embeddings"))
            .filter(F.expr(finite_norm_pred("embedding")))
            .select(F.expr(_xq_expr("embedding")).alias("xq"))
        ),
    )
    v = [10**6] * d

    def dot_expr(vec: list) -> str:
        return " + ".join(f"xq[{i}] * CAST({vec[i]} AS BIGINT)" for i in range(d))

    for _ in range(PCA_POWER_ITERS - 1):
        w_rows = (
            embq.withColumn("dot", F.expr(dot_expr(v)))
            .select("dot", F.posexplode("xq").alias("pos", "x"))
            .groupBy("pos")
            .agg(F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * dot")).alias("s"))
            .collect()
        )
        if not w_rows:
            break
        w = [0] * d
        for r in w_rows:
            w[int(r.pos)] = int(r.s)
        m = max(abs(x) for x in w) or 1
        v = [(x * 10**6) // m for x in w]  # Python // floors — the SQL twin
    vv = sum(x * x for x in v)
    with_dot = embq.withColumn("dot", F.expr(dot_expr(v)))
    wd = (
        with_dot.select("dot", F.posexplode("xq").alias("pos", "x"))
        .groupBy("pos")
        .agg(F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * dot")).alias("s"))
    )
    ray = with_dot.agg(
        F.sum(F.expr("CAST(dot AS DECIMAL(38,0)) * dot")).alias("sq")
    )
    w64 = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    out = (
        scalar_join(wd, ray)
        .withColumn("m", F.greatest(F.max(F.expr("abs(s)")).over(w64), F.lit(1).cast("decimal(38,0)")))
        .select(
            F.col("pos").cast("int").alias("dim"),
            F.expr(
                "CAST(CAST((s * 1000000 - pmod(s * 1000000, m)) / m AS BIGINT) AS DOUBLE) / 1e6"
            ).alias("loading"),
            F.expr(
                stable_round(f"CAST(sq AS DOUBLE) / ({float(vv)!r}D * 1e12)", 6)
            ).alias("eigval"),
        )
    )
    return out


# privacy audit thresholds: the classic k = 5 re-identification floor and
# l = 2 sensitive-attribute diversity (Sweeney 2002; Machanavajjhala et
# al. 2007) — fixed constants so the DuckDB oracle replays the flags
K_ANON_K = 5
L_DIVERSITY_L = 2


def privacy_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity / l-diversity audit over the customer table — the
    privacy gate a training-data export runs before shipping records
    containing person-level attributes. Quasi-identifier classes are
    (nation, account-balance bucket of 1000); the sensitive attribute is
    the market segment. Per class: member count, distinct-sensitive
    count, and the k-anonymous / l-diverse flags a release policy acts on
    (suppress or generalize every class failing either).

    Bucketing is integer-exact: balances become cents via the stable
    round-half-up, then floor-divide by 100000 cents — floor(x) over a
    DOUBLE division whose boundary points are exact (multiples of 1e5
    over 1e5), sidestepping the Spark-div-truncates vs DuckDB-//-floors
    divergence on negative balances.

    Scale shape: ONE hash aggregate over (nation, bucket) with an exact
    distinct — no window, no join; at 100 TB this is a partial-agg
    shuffle on a low-cardinality key. The flags make the release decision
    data-parallel too: the downstream suppression join is a broadcast of
    the failing classes."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        F.expr(
            "CAST(floor(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) / 100000.0)"
            " AS BIGINT)"
        ).alias("bal_bucket"),
    )
    return (
        cust.groupBy("c_nationkey", "bal_bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.countDistinct("c_mktsegment").cast("long").alias("l_distinct"),
        )
        .withColumn("k_anonymous", F.col("n_members") >= K_ANON_K)
        .withColumn("l_diverse", F.col("l_distinct") >= L_DIVERSITY_L)
    )


def privacy_suppress_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ACTION twin of privacy_k_anonymity: apply the audit to produce
    a releasable record set. Per customer, a two-level generalization
    ladder:

    1. release the full quasi-identifier (nation, balance bucket) when its
       class is k-anonymous AND l-diverse;
    2. else GENERALIZE the bucket away (bal_bucket → NULL, the classic
       hierarchy step) and release at nation level when THAT class passes
       both tests over the records actually demoted into it plus nothing
       finer — the nation-level class is audited over all of the nation's
       records, the standard global-recoding semantics;
    3. else SUPPRESS the record (released = false).

    Output one row per customer with the released QI values, the ladder
    level ('full' / 'nation' / 'suppressed'), and the released flag — the
    frame a training export joins against to drop non-releasable rows.

    Scale shape: two hash aggregates (class audits at both ladder levels)
    broadcast-joined back onto the record stream — the audits are
    low-cardinality, so the per-record path is one projection plus two
    broadcast lookups; no window, no per-record shuffle."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        "c_mktsegment",
        F.expr(
            "CAST(floor(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) / 100000.0)"
            " AS BIGINT)"
        ).alias("bal_bucket"),
    )
    full_audit = (
        cust.groupBy("c_nationkey", "bal_bucket")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.countDistinct("c_mktsegment").alias("_l"),
        )
        .select(
            "c_nationkey",
            "bal_bucket",
            ((F.col("_n") >= K_ANON_K) & (F.col("_l") >= L_DIVERSITY_L)).alias(
                "full_ok"
            ),
        )
    )
    nation_audit = (
        cust.groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.countDistinct("c_mktsegment").alias("_l"),
        )
        .select(
            "c_nationkey",
            ((F.col("_n") >= K_ANON_K) & (F.col("_l") >= L_DIVERSITY_L)).alias(
                "nation_ok"
            ),
        )
    )
    # null-safe join keys: a NULL balance (or nation) is itself a
    # quasi-identifier class — an equi-join would drop it from the audit
    # and mis-release every NULL-keyed record
    fa = full_audit.withColumnRenamed("c_nationkey", "_fn").withColumnRenamed(
        "bal_bucket", "_fb"
    )
    na = nation_audit.withColumnRenamed("c_nationkey", "_nn")
    out = (
        cust.join(
            F.broadcast(fa),
            F.col("c_nationkey").eqNullSafe(F.col("_fn"))
            & F.col("bal_bucket").eqNullSafe(F.col("_fb")),
            "left",
        )
        .join(F.broadcast(na), F.col("c_nationkey").eqNullSafe(F.col("_nn")), "left")
        .drop("_fn", "_fb", "_nn")
        .withColumn(
            "level",
            F.when(F.col("full_ok"), F.lit("full"))
            .when(F.col("nation_ok"), F.lit("nation"))
            .otherwise(F.lit("suppressed")),
        )
    )
    return out.select(
        "c_custkey",
        F.when(F.col("level") != "suppressed", F.col("c_nationkey")).alias(
            "released_nationkey"
        ),
        F.when(F.col("level") == "full", F.col("bal_bucket")).alias(
            "released_bal_bucket"
        ),
        "level",
        (F.col("level") != "suppressed").alias("released"),
    )
