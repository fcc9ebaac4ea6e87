"""Text analysis for LLM-data pipelines (SURVEY.md §2.3 X13 + north star):
token statistics, language-ID heuristic, quality scoring, regex ("BPE-ish")
token counting, and document fingerprinting.

Everything is built-in pyspark.sql.functions / higher-order expressions —
JVM-side, whole-stage-codegen'd, with exact DuckDB oracles. The reference's
only text operation is the space-split tokenizer (main.go:24-26); these
generalize it into the analysis battery a 100 TB corpus curation pass needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..ledger import checkpoint
from ..tables import load_table
from .core import TOKS, TOKS_SAFE

# tiny per-language stopword lists for the n-gram/stopword-hit heuristic.
# Deliberately minimal: the heuristic's mechanics (score → argmax with a
# deterministic preference order) are what the operator demonstrates.
STOPWORDS = {
    "en": ("the", "a", "of", "and", "to"),
    "es": ("el", "la", "de", "y", "que"),
    "de": ("der", "die", "das", "und", "zu"),
}


def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token statistics: counts, distinct counts, average token
    length — one projection, no shuffle. Token-less docs (NULL/empty/
    whitespace text) report 0 counts and a NULL average — the guard that
    keeps the division alive under ANSI mode (degenerate-corpus battery,
    tests/test_null_robustness.py)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.expr(f"CAST(size({TOKS_SAFE}) AS BIGINT)").alias("n_tokens"),
        F.expr(f"CAST(size(array_distinct({TOKS_SAFE})) AS BIGINT)").alias("n_uniq_tokens"),
        F.expr(
            f"CASE WHEN size({TOKS_SAFE}) = 0 THEN CAST(NULL AS DOUBLE) ELSE "
            f"floor(CAST(aggregate({TOKS_SAFE}, 0L, (acc, t) -> acc + length(t)) AS DOUBLE)"
            f" / size({TOKS_SAFE}) * 1e6 + 0.5) / 1e6 END"
        ).alias("avg_token_len"),
        F.col("n_chars"),
    )


def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: stopword-hit counts per candidate language,
    argmax with deterministic preference order (en > es > de > unknown).
    A real pipeline would use char-n-gram profiles; the operator shape —
    per-doc scoring against K profiles, argmax — is identical."""
    docs = load_table(spark, sf_dir, "documents")
    scores = docs.select(
        "doc_id",
        *[
            F.expr(
                "CAST(size(array_intersect(array_distinct(%s), array(%s))) AS BIGINT)"
                % (TOKS, ", ".join(f"'{w}'" for w in words))
            ).alias(f"score_{lang}")
            for lang, words in STOPWORDS.items()
        ],
    )
    return scores.select(
        "doc_id",
        "score_en",
        "score_es",
        "score_de",
        F.expr(
            """
            CASE WHEN score_en = 0 AND score_es = 0 AND score_de = 0 THEN 'unknown'
                 WHEN score_en >= score_es AND score_en >= score_de THEN 'en'
                 WHEN score_es >= score_de THEN 'es'
                 ELSE 'de' END
            """
        ).alias("lang_guess"),
    )


def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality scoring: length, mean word length, stopword ratio,
    and a blended 0–1 score — the standard cheap pre-filter before expensive
    model-based curation. Token-less docs (NULL/empty text) get NULL ratios
    and a NULL quality — `nullif` keeps the divisions alive under ANSI mode
    (degenerate-corpus battery, tests/test_null_robustness.py)."""
    docs = load_table(spark, sf_dir, "documents")
    en = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    nw = "nullif(size(toks), 0)"
    return (
        docs.select("doc_id", "n_chars", F.expr(TOKS_SAFE).alias("toks"))
        .select(
            "doc_id",
            "n_chars",
            F.expr("CAST(size(toks) AS BIGINT)").alias("n_tokens"),
            F.expr(
                f"round(CAST(aggregate(toks, 0L, (acc, t) -> acc + length(t)) AS DOUBLE)"
                f" / {nw}, 6)"
            ).alias("mean_word_len"),
            F.expr(
                f"floor(CAST(size(filter(toks, t -> array_contains(array({en}), t))) AS DOUBLE)"
                f" / {nw} * 1e6 + 0.5) / 1e6"
            ).alias("stopword_ratio"),
        )
        .withColumn(
            "quality",
            F.expr(
                """
                floor((least(1.0, n_tokens / 100.0) * 0.5
                       + least(1.0, greatest(0.0, (mean_word_len - 2.0) / 5.0)) * 0.3
                       + least(1.0, stopword_ratio * 5.0) * 0.2) * 1e6 + 0.5) / 1e6
                """
            ),
        )
    )


# Gopher repetition/quality rule thresholds (Rae et al., "Scaling Language
# Models: Methods, Analysis & Insights from Training Gopher",
# arXiv:2112.11446 §A1.1) — the published web-text filter battery. Word
# bounds, word-length bounds, symbol ratio and alpha fraction are the
# paper's values; the duplicate-line family is realized as n-gram character
# fractions (the fixture corpus is single-line text): top-2-gram cap 0.20
# and duplicate-3-gram cap 0.18 are the paper's n-gram thresholds.
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MIN_ALPHA_FRAC = 0.8
GOPHER_MAX_TOP2_FRAC = 0.20
GOPHER_MAX_DUP3_FRAC = 0.18


def quality_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule repetition/quality report: per-document word statistics
    (count, mean length, alphabetic fraction, symbol-to-word ratio) plus
    the repetition metrics (character fraction of the most frequent token
    2-gram; character fraction inside duplicated 3-grams — occurrences
    beyond the first), and a ``keep`` verdict conjoining the published
    thresholds. This is the standard cheap rule battery a pretraining
    corpus runs between exact dedup and model-based filtering.

    Plan shape at scale: word stats are one map-side projection; each
    n-gram metric is one explode + partial-aggregated groupBy on
    (doc_id, gram) + per-doc reduction; everything re-joins on doc_id.
    No Python anywhere — higher-order array expressions only."""
    from pyspark.sql.window import Window

    from ..functions.vector import stable_round
    from ..tables import spread

    # spread() before the n-gram work: a small single-file input arrives as
    # ONE split, and the gram construction + per-gram counting is the
    # dominant cost — gated no-op once the scan has real split counts
    docs = spread(load_table(spark, sf_dir, "documents").select("doc_id", "n_chars", "text"))
    base = docs.select("doc_id", "n_chars", "text", F.expr(TOKS_SAFE).alias("toks"))
    nw = "nullif(size(toks), 0)"
    words = base.select(
        "doc_id",
        "n_chars",
        F.expr("CAST(size(toks) AS BIGINT)").alias("n_words"),
        F.expr(
            stable_round(
                f"CAST(aggregate(toks, 0L, (a, t) -> a + length(t)) AS DOUBLE) / {nw}", 6
            )
        ).alias("mean_word_len"),
        F.expr(
            stable_round(
                f"CAST(size(filter(toks, t -> t rlike '[A-Za-z]')) AS DOUBLE) / {nw}", 6
            )
        ).alias("alpha_word_frac"),
        # symbols: '#' occurrences + non-overlapping '...' runs, per word
        F.expr(
            stable_round(
                "CAST((length(text) - length(replace(text, '#', '')))"
                " + floor((length(text) - length(replace(text, '...', ''))) / 3)"
                f" AS DOUBLE) / {nw}",
                6,
            )
        ).alias("symbol_word_ratio"),
    )
    bigrams = base.filter(F.expr("size(toks) >= 2")).select(
        "doc_id",
        "n_chars",
        F.explode(
            F.expr("transform(sequence(0, size(toks) - 2), i -> concat_ws(' ', toks[i], toks[i + 1]))")
        ).alias("g"),
    )
    w2 = Window.partitionBy("doc_id").orderBy(F.col("c").desc(), F.col("g").asc())
    top2 = (
        bigrams.groupBy("doc_id", "n_chars", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            F.expr(
                stable_round("CAST(c * length(g) AS DOUBLE) / nullif(n_chars, 0)", 6)
            ).alias("top_bigram_char_frac"),
        )
    )
    trigrams = base.filter(F.expr("size(toks) >= 3")).select(
        "doc_id",
        "n_chars",
        F.explode(
            F.expr(
                "transform(sequence(0, size(toks) - 3),"
                " i -> concat_ws(' ', toks[i], toks[i + 1], toks[i + 2]))"
            )
        ).alias("g"),
    )
    dup3 = (
        trigrams.groupBy("doc_id", "n_chars", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id", "n_chars")
        .agg(F.sum(F.expr("(c - 1) * length(g)")).alias("dup_chars"))
        .select(
            "doc_id",
            F.expr(
                stable_round("CAST(dup_chars AS DOUBLE) / nullif(n_chars, 0)", 6)
            ).alias("dup_trigram_char_frac"),
        )
    )
    out = (
        words.join(top2, "doc_id", "left")
        .join(dup3, "doc_id", "left")
        .select(
            "doc_id",
            "n_words",
            F.coalesce("mean_word_len", F.lit(0.0)).alias("mean_word_len"),
            F.coalesce("alpha_word_frac", F.lit(0.0)).alias("alpha_word_frac"),
            F.coalesce("symbol_word_ratio", F.lit(0.0)).alias("symbol_word_ratio"),
            F.coalesce("top_bigram_char_frac", F.lit(0.0)).alias("top_bigram_char_frac"),
            F.coalesce("dup_trigram_char_frac", F.lit(0.0)).alias("dup_trigram_char_frac"),
        )
    )
    return out.withColumn(
        "keep",
        F.expr(
            f"""
            n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}
            AND mean_word_len BETWEEN {GOPHER_MIN_MEAN_WORD_LEN} AND {GOPHER_MAX_MEAN_WORD_LEN}
            AND symbol_word_ratio <= {GOPHER_MAX_SYMBOL_RATIO}
            AND alpha_word_frac >= {GOPHER_MIN_ALPHA_FRAC}
            AND top_bigram_char_frac <= {GOPHER_MAX_TOP2_FRAC}
            AND dup_trigram_char_frac <= {GOPHER_MAX_DUP3_FRAC}
            """
        ),
    )


def token_count_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token counting: word-or-punctuation pieces via regex — the
    cheap proxy for tokenizer-cost estimation over a corpus."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.expr(r"CAST(size(regexp_extract_all(text, '\\w+|[^\\w\\s]', 0)) AS BIGINT)").alias(
            "n_pieces"
        ),
        F.expr(f"CAST(size({TOKS}) AS BIGINT)").alias("n_words"),
    )


def gopher_maponly_metrics(df: DataFrame) -> DataFrame:
    """The Gopher rule metrics as PURE per-row array expressions — no
    explode, no groupBy, no join — so the identical column definitions run
    over a batch DataFrame or an unbounded stream (stateless append mode).
    The gram statistics are O(grams · log grams) per document: sort the
    gram array once, then a single aggregate() pass over the sorted array
    tracks run lengths (count of a gram = length of its run). The first
    formulation — filter(grams, x -> x = g) per distinct g — was
    O(distinct-grams × grams) and measured at 85 s for 500 sf0.01
    documents (the quadratic inner filter ran per element, and the
    argmax subexpression was inlined twice); the run-length rewrite is
    ~100× faster with identical results. The aggregate formulation
    (quality_gopher) stays the batch-report path. Equivalence of the two
    formulations is asserted in tests.

    Input: any frame with (doc_id, text, n_chars). Output adds n_words,
    mean_word_len, alpha_word_frac, symbol_word_ratio,
    top_bigram_char_frac, dup_trigram_char_frac, keep."""
    from ..functions.vector import stable_round

    nw = "nullif(size(toks), 0)"
    bgs = (
        "CASE WHEN size(toks) < 2 THEN array() ELSE transform(sequence(0, size(toks) - 2),"
        " i -> concat_ws(' ', toks[i], toks[i + 1])) END"
    )
    tgs = (
        "CASE WHEN size(toks) < 3 THEN array() ELSE transform(sequence(0, size(toks) - 3),"
        " i -> concat_ws(' ', toks[i], toks[i + 1], toks[i + 2])) END"
    )
    # argmax by (count desc, gram asc) over the SORTED gram array: equal
    # grams are adjacent, so one aggregate() pass tracks the current run
    # length and keeps the best. Only a STRICTLY longer run replaces the
    # best — in ascending order the smallest gram reaches any given count
    # first, which IS the (count desc, gram asc) tie-break. `<=>` is the
    # null-safe equal (the accumulator's prev starts NULL).
    run = "IF(x <=> acc.prev, acc.run + 1L, 1L)"
    best2 = (
        "aggregate(array_sort(bgs),"
        " named_struct('prev', CAST(NULL AS STRING), 'run', 0L,"
        "              'bestc', 0L, 'bestg', CAST(NULL AS STRING)),"
        f" (acc, x) -> named_struct('prev', x, 'run', {run},"
        f"   'bestc', IF({run} > acc.bestc, {run}, acc.bestc),"
        f"   'bestg', IF({run} > acc.bestc, x, acc.bestg)))"
    )
    # Σ over distinct g of (count(g)−1)·length(g): every occurrence after
    # the first in a run adds length(x) once — same single sorted pass
    dup3 = (
        "aggregate(array_sort(tgs),"
        " named_struct('prev', CAST(NULL AS STRING), 'dup', 0L),"
        " (acc, x) -> named_struct('prev', x,"
        "   'dup', acc.dup + IF(x <=> acc.prev, CAST(length(x) AS LONG), 0L)),"
        " acc -> acc.dup)"
    )
    out = (
        df.withColumn("toks", F.expr(TOKS_SAFE))
        .withColumn("bgs", F.expr(bgs))
        .withColumn("tgs", F.expr(tgs))
        # hoist the run-length pass into a column so the bestc and bestg
        # references don't each re-run the aggregate
        .withColumn("b2", F.expr(best2))
        .select(
            "*",
            F.expr("CAST(size(toks) AS BIGINT)").alias("n_words"),
            F.expr(
                "coalesce(" + stable_round(
                    f"CAST(aggregate(toks, 0L, (a, t) -> a + length(t)) AS DOUBLE) / {nw}", 6
                ) + ", 0.0D)"
            ).alias("mean_word_len"),
            F.expr(
                "coalesce(" + stable_round(
                    f"CAST(size(filter(toks, t -> t rlike '[A-Za-z]')) AS DOUBLE) / {nw}", 6
                ) + ", 0.0D)"
            ).alias("alpha_word_frac"),
            F.expr(
                "coalesce(" + stable_round(
                    "CAST((length(text) - length(replace(text, '#', '')))"
                    " + floor((length(text) - length(replace(text, '...', ''))) / 3)"
                    f" AS DOUBLE) / {nw}",
                    6,
                ) + ", 0.0D)"
            ).alias("symbol_word_ratio"),
            F.expr(
                "CASE WHEN size(bgs) = 0 OR n_chars = 0 THEN 0.0D ELSE "
                + stable_round(
                    "CAST(b2.bestc * length(b2.bestg) AS DOUBLE) / n_chars", 6
                )
                + " END"
            ).alias("top_bigram_char_frac"),
            F.expr(
                "CASE WHEN n_chars = 0 THEN 0.0D ELSE "
                + stable_round(f"CAST({dup3} AS DOUBLE) / n_chars", 6)
                + " END"
            ).alias("dup_trigram_char_frac"),
        )
        .drop("toks", "bgs", "tgs", "b2")
    )
    return out.withColumn(
        "keep",
        F.expr(
            f"""
            n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}
            AND mean_word_len BETWEEN {GOPHER_MIN_MEAN_WORD_LEN} AND {GOPHER_MAX_MEAN_WORD_LEN}
            AND symbol_word_ratio <= {GOPHER_MAX_SYMBOL_RATIO}
            AND alpha_word_frac >= {GOPHER_MIN_ALPHA_FRAC}
            AND top_bigram_char_frac <= {GOPHER_MAX_TOP2_FRAC}
            AND dup_trigram_char_frac <= {GOPHER_MAX_DUP3_FRAC}
            """
        ),
    )


def gopher_metrics_arrow(df: DataFrame) -> DataFrame:
    """The Gopher rule metrics as an Arrow-batched mapInPandas kernel —
    the third formulation, semantically identical to quality_gopher
    (aggregate) and gopher_maponly_metrics (array expressions), asserted
    equal in tests/test_properties.py. It exists because Catalyst
    evaluates per-row higher-order functions (aggregate/transform over
    multi-thousand-element gram arrays) in INTERPRETED mode — no
    whole-stage codegen inside the lambda — which made the map-only form
    cost ~14.5 s at sf0.1 (VERDICT r10's one `weak`). Moving the same
    per-document computation to Python dict counting over Arrow batches
    trades JVM-interpreted tree-walking for CPython loops + O(1) hashing:
    measured 13.7 s -> 0.9 s on the warm sf0.1 stream drain (single
    source partition, where the interpreted cost is undiluted) and ~1.7x
    on the 32-way batch select (section 5 of
    ``git show d5a103c:tools/bench_variants.py``), with bit-identical
    doubles.

    Determinism contract (why the values hash-match the DuckDB oracle):
    every float is computed with the same IEEE-754 double ops as the SQL
    form — floor(x * 1e6 + 0.5) / 1e6 on Python floats IS stable_round;
    the bigram argmax tie-break min(count desc, gram asc) matches because
    UTF-8 byte order (Spark/DuckDB string comparison) is code-point
    order (Python string comparison). Stateless and shuffle-free, so it
    runs on bounded frames and unbounded streams alike at source
    parallelism — the same posture as image_dhash's decode stage
    (multimodal.py).

    Input: any frame with (doc_id, text, n_chars[, ...]); all input
    columns pass through, the six metrics + keep are appended."""
    import math
    import re as _re
    from typing import Iterator

    import pandas as pd
    from pyspark.sql.types import (
        BooleanType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    alpha_re = _re.compile(r"[A-Za-z]")

    def r6(x: float) -> float:
        return math.floor(x * 1e6 + 0.5) / 1e6

    def metrics_row(text, n_chars):
        toks = [t for t in (text or "").split(" ") if t]
        n = len(toks)
        if n:
            mean_wl = r6(float(sum(len(t) for t in toks)) / n)
            alpha = r6(float(sum(1 for t in toks if alpha_re.search(t))) / n)
            sym_n = text.count("#") + (len(text) - len(text.replace("...", ""))) // 3
            sym = r6(float(sym_n) / n)
        else:
            mean_wl = alpha = sym = 0.0
        # n_chars arrives as float NaN when the Arrow batch has nulls —
        # normalize to None, then replicate the SQL CASE/NULL semantics:
        # top2 short-circuits to 0.0 on an empty bigram array even with
        # NULL n_chars; a division by NULL n_chars stays NULL.
        if n_chars is None or (isinstance(n_chars, float) and math.isnan(n_chars)):
            nc = None
        else:
            nc = int(n_chars)
        if n < 2:
            top2 = 0.0
        elif nc is None:
            top2 = None
        elif nc == 0:
            top2 = 0.0
        else:
            counts: dict = {}
            prev = toks[0]
            for t in toks[1:]:
                g = prev + " " + t
                counts[g] = counts.get(g, 0) + 1
                prev = t
            bestg = min(counts, key=lambda g: (-counts[g], g))
            top2 = r6(float(counts[bestg] * len(bestg)) / nc)
        if nc is None:
            dup3 = None
        elif nc == 0:
            dup3 = 0.0
        elif n < 3:
            dup3 = r6(0.0)
        else:
            tcounts: dict = {}
            for i in range(n - 2):
                g = toks[i] + " " + toks[i + 1] + " " + toks[i + 2]
                tcounts[g] = tcounts.get(g, 0) + 1
            dup = sum((c - 1) * len(g) for g, c in tcounts.items() if c > 1)
            dup3 = r6(float(dup) / nc)
        # SQL AND over possibly-NULL comparisons: False dominates NULL
        conj = [
            GOPHER_MIN_WORDS <= n <= GOPHER_MAX_WORDS,
            GOPHER_MIN_MEAN_WORD_LEN <= mean_wl <= GOPHER_MAX_MEAN_WORD_LEN,
            sym <= GOPHER_MAX_SYMBOL_RATIO,
            alpha >= GOPHER_MIN_ALPHA_FRAC,
            None if top2 is None else top2 <= GOPHER_MAX_TOP2_FRAC,
            None if dup3 is None else dup3 <= GOPHER_MAX_DUP3_FRAC,
        ]
        keep = False if any(c is False for c in conj) else (None if any(c is None for c in conj) else True)
        return n, mean_wl, alpha, sym, top2, dup3, keep

    metric_fields = [
        StructField("n_words", LongType()),
        StructField("mean_word_len", DoubleType()),
        StructField("alpha_word_frac", DoubleType()),
        StructField("symbol_word_ratio", DoubleType()),
        StructField("top_bigram_char_frac", DoubleType()),
        StructField("dup_trigram_char_frac", DoubleType()),
        StructField("keep", BooleanType()),
    ]
    out_schema = StructType(list(df.schema.fields) + metric_fields)
    metric_names = [f.name for f in metric_fields]

    def compute(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        for pdf in batches:
            rows = [
                metrics_row(t, nc)
                for t, nc in zip(pdf["text"].tolist(), pdf["n_chars"].tolist())
            ]
            out = pdf.copy()
            for i, name in enumerate(metric_names):
                # object dtype so None survives to Arrow as a NULL (a
                # float64 column would coerce None -> NaN, a VALUE)
                out[name] = pd.Series([r[i] for r in rows], dtype=object, index=pdf.index)
            yield out

    return df.mapInPandas(compute, schema=out_schema)


def lm_bigram_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-model quality scoring with a corpus-self-trained bigram LM —
    the shape of CCNet-style perplexity filtering (Wenzek et al., "CCNet",
    LREC 2020) with the model trained on the corpus itself instead of an
    external KenLM: documents whose bigrams are corpus-typical score high,
    repetitive/disfluent outliers score low.

    Per bigram occurrence (w1, w2): add-one-smoothed conditional
    probability p = (c(w1 w2) + 1) / (c(w1) + V). The document score is
    the ARITHMETIC mean of p (not mean log p): division is correctly
    rounded under IEEE so both engines compute bit-identical per-row
    values, whereas ln() differs in the last ulp between libm
    implementations (the same reason tf_idf_topk uses rational idf —
    see its docstring); the mean is rounded to 4 dp like every grouped
    float aggregate. V (vocabulary size) is a driver-computed corpus
    statistic embedded as a literal — catalog-stat posture, same as
    tf_idf's N.

    Plan shape at scale: bigram extraction is one explode; the model is
    two partial-aggregated counts (bigram, unigram); scoring is two
    equi-joins on short string keys + one per-doc aggregate — the exact
    skeleton of tf_idf_topk with a second join for the context count.

    The tokenized frame and both model aggregates are non-eager
    localCheckpoints (the url_topk_sketch pattern): the single V-count job
    materializes tokenize + the unigram model, and the scoring job reuses
    both plus one materialization of the per-doc bigram counts — tokenize
    runs exactly ONCE instead of once per consuming branch."""
    from ..tables import load_table as _lt
    from ..tables import spread

    docs = _lt(spark, sf_dir, "documents")
    # spread: bigram construction is the compute-dense step (see
    # quality_gopher); gated no-op on well-split inputs
    toks = (
        spread(docs.select("doc_id", "text"))
        .select("doc_id", F.expr(TOKS).alias("toks"))
        .transform(checkpoint, eager=False)
    )
    docbig = (
        toks.filter(F.expr("size(toks) >= 2"))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(toks) - 2),"
                    " i -> named_struct('w1', toks[i], 'w2', toks[i + 1]))"
                )
            ).alias("b"),
        )
        .select("doc_id", "b.w1", F.expr("concat_ws(' ', b.w1, b.w2)").alias("bigram"))
        .groupBy("doc_id", "w1", "bigram")
        .agg(F.count(F.lit(1)).alias("n_occ"))
        .transform(checkpoint, eager=False)
    )
    uni = (
        toks.select(F.explode("toks").alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("c_uni"))
        .transform(checkpoint, eager=False)
    )
    # the one eager pass: materializes toks + uni and reads V off the
    # materialized unigram aggregate (no separate re-aggregation job)
    vocab_v = uni.count()
    big = docbig.groupBy("bigram").agg(F.sum("n_occ").alias("c_big"))
    scored = (
        docbig.join(big, "bigram")
        .join(uni.withColumnRenamed("token", "w1"), "w1")
        .groupBy("doc_id")
        .agg(
            F.sum("n_occ").cast("long").alias("n_bigrams"),
            F.round(
                F.sum(
                    F.expr(
                        f"n_occ * (CAST(c_big AS DOUBLE) + 1.0D) / (CAST(c_uni AS DOUBLE) + {vocab_v}.0D)"
                    )
                )
                / F.sum("n_occ"),
                4,
            ).alias("mean_cond_prob"),
        )
    )
    return (
        docs.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            F.coalesce("mean_cond_prob", F.lit(0.0)).alias("mean_cond_prob"),
        )
    )


# Host extraction for URL-shaped tokens: optional scheme, optional www.,
# host = everything up to the first /, ?, #, or : (port/path/query dropped).
# RE2-compatible (no backrefs/lookaround) so Spark (Java regex) and DuckDB
# (RE2) match identically.
URL_HOST_RE = r"^(?:[a-z][a-z0-9+.-]*://)?(?:www\.)?([^/?#:]+)"

# Domain blocklist for the curation anti-join. On a web corpus this is the
# spam/adult/SEO-farm list every pipeline carries (C4 ships one; RefinedWeb
# §3.1 filters by URL against a 4.6M-domain blocklist). The fixture tokens
# are word-shaped URL stand-ins, so the stand-in blocklist is the highest-
# frequency boilerplate "hosts" — the same role the real list plays.
BLOCKED_HOSTS = ("the", "a", "of", "and", "to")


def url_host_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL/domain-level curation over the flagship token domain: normalize
    each token as a URL (lowercase; strip scheme, www., port/path/query via
    URL_HOST_RE), aggregate per host, drop blocklisted hosts, report the
    top-100 hosts by URL count. The reference's fixtures make every token a
    literal URL (test_test.go.bak:111-118 generates https://xxx.com), so
    this is the reference's count surface upgraded to the domain-level
    reputation pass of a web-corpus pipeline.

    Plan shape at scale: map-side regexp projection → one partial-
    aggregated groupBy(host) → broadcast anti-join against the (tiny)
    blocklist → TakeOrderedAndProject. The blocklist join keys on the
    post-aggregation host table (∝ distinct hosts, not token occurrences)."""
    from .core import tokenized

    toks = tokenized(spark, sf_dir).select(F.lower("token").alias("token"))
    hosts = toks.select(
        "token",
        F.coalesce(
            F.nullif(F.regexp_extract("token", URL_HOST_RE, 1), F.lit("")), F.col("token")
        ).alias("host"),
    )
    stats = hosts.groupBy("host").agg(
        F.count(F.lit(1)).alias("n_urls"),
        F.countDistinct("token").alias("n_distinct_urls"),
    )
    from ..tables import local_rows_df

    blocked = local_rows_df(spark, [(h,) for h in BLOCKED_HOSTS], "host string")
    return (
        stats.join(F.broadcast(blocked), "host", "left_anti")
        .orderBy(F.col("n_urls").desc(), F.col("host").asc())
        .limit(100)
    )


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprint: md5 over whitespace-normalized lowercase text +
    length — the join key for cross-snapshot exact dedup at scale."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.md5(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")).alias("fingerprint"),
        F.length("text").cast("long").alias("text_len"),
    )


HASH_DIMS = 16


def text_hashing_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature extraction via the hashing trick: token occurrence counts
    folded into HASH_DIMS buckets by the md5-derived 32-bit token hash —
    the deterministic, vocabulary-free vectorizer used to featurize text at
    corpus scale (one explode + one pivot-style aggregate, no vocabulary
    broadcast, no Python). Emitted as f0..f15 columns (not an array) so the
    DuckDB oracle compares plain integer columns."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.expr(TOKS)).alias("t")
    )
    dim = tok.withColumn(
        "dim", F.expr("pmod(CAST(conv(substring(md5(t), 1, 8), 16, 10) AS BIGINT), %d)" % HASH_DIMS)
    )
    counts = dim.groupBy("doc_id").agg(
        *[
            F.sum(F.when(F.col("dim") == d, 1).otherwise(0)).cast("long").alias(f"f{d}")
            for d in range(HASH_DIMS)
        ]
    )
    # docs whose text has no tokens would drop out of the aggregate
    return (
        docs.select("doc_id")
        .join(counts, "doc_id", "left")
        .na.fill(0, [f"f{d}" for d in range(HASH_DIMS)])
    )


def bigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram language-model statistics: top-50 token bigrams by count —
    the flagship count over a derived 2-gram key (explode of a windowed
    zip, partial agg, TakeOrdered)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.withColumn("toks", F.expr(TOKS))
    bigrams = toks.select(
        F.explode(
            F.expr(
                "CASE WHEN size(toks) < 2 THEN array() "
                "ELSE transform(sequence(0, size(toks) - 2), i -> concat_ws(' ', toks[i], toks[i+1])) END"
            )
        ).alias("bigram")
    )
    return (
        bigrams.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("bigram").asc())
        .limit(50)
    )


def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capstone composition — a realistic corpus-curation pass as ONE
    Catalyst plan: quality gate (≥20 tokens and mean word length ≥2) →
    exact dedup on normalized fingerprint (keep min doc_id) → tokenize the
    survivors → top-50 tokens. Four pipeline stages, two shuffles total
    (dedup group + count group); the filters fuse into the scan projection.
    The oracle replays the identical pipeline in SQL."""
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        "text",
        F.expr(f"CAST(size({TOKS}) AS BIGINT)").alias("n_tokens"),
        F.expr(
            f"CAST(aggregate({TOKS}, 0L, (acc, t) -> acc + length(t)) AS DOUBLE)"
            f" / size({TOKS})"
        ).alias("mwl"),
        F.md5(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")).alias("fp"),
    ).filter((F.col("n_tokens") >= 20) & (F.col("mwl") >= 2.0))
    keepers = scored.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    survivors = keepers.join(scored.select("doc_id", "text"), "doc_id")
    return (
        survivors.select(F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("token").asc())
        .limit(50)
    )


# ---------------------------------------------------------------------------
# fastText-style hashed linear quality classifier.
#
# Real pipelines (CCNet, RedPajama, FineWeb) gate documents with a linear
# classifier over hashed word/bigram features — inference is a per-document
# dot product, embarrassingly parallel. The weights here are derived
# deterministically from the feature hash itself (a fixed "model" both
# engines can reproduce); swapping in trained weights is a broadcast-join
# of a (hash → weight) table and changes nothing about the plan shape.
#
# Exactness design: weights are INTEGERS (hash32 − 2³¹ ∈ [−2³¹, 2³¹)), the
# per-document score numerator is an exact BIGINT sum (order-independent),
# and only ONE final division produces the double — so Spark and DuckDB
# agree bit-for-bit with no rounding heroics, and the keep decision
# (numerator > 0) is pure integer arithmetic.
# ---------------------------------------------------------------------------

_QW_UNI = (
    "(CAST(conv(substring(md5(concat('qw:', t)), 1, 8), 16, 10) AS BIGINT)"
    " - 2147483648L)"
)


def classifier_sum_w_expr(toks_col: str = "toks") -> str:
    """Exact-integer classifier numerator Σw over unigram+bigram hashed
    features of a token-array column — shared by the standalone scorer and
    the training_export capstone (and mirrored in SQL by the registry)."""
    uni = f"aggregate({toks_col}, 0L, (acc, t) -> acc + {_QW_UNI})"
    bi = (
        f"aggregate(sequence(0, size({toks_col}) - 2), 0L, (acc, i) -> acc + "
        f"(CAST(conv(substring(md5(concat('qw2:', {toks_col}[i], ' ', {toks_col}[i + 1])), 1, 8), 16, 10) AS BIGINT)"
        " - 2147483648L))"
    )
    return f"CAST({uni} + CASE WHEN size({toks_col}) < 2 THEN 0L ELSE {bi} END AS BIGINT)"


def quality_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed bag-of-words + bigram linear classifier score per document —
    the fastText-inference shape (CCNet / RedPajama quality gate). Unigram
    and bigram features hash to signed integer weights; the document logit
    is their mean. Whole plan is a single map-side projection: per-row
    in-order folds over the token array, NO explode and NO shuffle — at
    100 TB this is a pure scan-bound pass that fuses into whatever filter
    consumes `keep`.

    score = Σw / (n_feats·2³¹) ∈ ~[−1, 1]; Σw is an exact BIGINT so both
    engines compute the identical double in one division.
    Reference parity: the reference has no classifier stage (its pipeline
    ends at count/sort, src/main/main.go:22-49); this is north-star surface.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.expr(TOKS_SAFE).alias("toks"))
    return toks.select(
        "doc_id",
        F.expr("CAST(size(toks) AS BIGINT)").alias("n_toks"),
        F.expr(classifier_sum_w_expr("toks")).alias("sum_w"),
    ).select(
        "doc_id",
        "n_toks",
        F.expr(
            "CASE WHEN n_toks = 0 THEN CAST(0.0 AS DOUBLE) "
            "ELSE CAST(sum_w AS DOUBLE) / (CAST((n_toks + GREATEST(n_toks - 1, 0)) AS DOUBLE) * 2147483648.0D) END"
        ).alias("score"),
        F.expr("sum_w > 0").alias("keep"),
    )


# BM25 query terms: fixed probe queries over the corpus vocabulary. The
# per-term top-k is what a retrieval-quality audit of a corpus snapshot
# looks at ("which documents dominate common queries").
BM25_TERMS = ("spark", "join", "filter")
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP = 5


def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-term BM25 document ranking: top-BM25_TOP documents for each probe
    term by the Okapi saturation score
    tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)).
    The global idf factor is a per-term CONSTANT, so per-term ranking is
    independent of it — dropping it keeps the arithmetic pure rational
    (+,·,÷ in a fixed order), which Spark and DuckDB evaluate
    bit-identically (same reason tf_idf_topk uses rational idf: libm ln()
    differs in the last ulp across engines).

    Plan shape at scale: the term filter is applied BEFORE the shuffle
    (map-side `token IN (...)` on the exploded scan), so the aggregate
    shuffles only matching (doc, term) pairs — a vanishing fraction of the
    corpus; dl rides along as a grouping column from the same scan (no
    second pass, no join); avgdl is two driver-side integers. Final window
    partitions by term (|terms| groups of ≤ matched docs each) and a
    rank ≤ k cut."""
    from ..functions.vector import stable_round

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.expr(TOKS_SAFE).alias("toks"))
    stats = toks.select(
        F.sum(F.expr("CAST(size(toks) AS BIGINT)")).alias("sum_dl"),
        F.count(F.lit(1)).alias("n_docs"),
    ).collect()[0]
    # one exact-integer division → the identical double in both engines
    avgdl = stats["sum_dl"] / stats["n_docs"]
    terms_list = ", ".join(f"'{t}'" for t in BM25_TERMS)
    tf = (
        toks.select(
            "doc_id",
            F.expr("CAST(size(toks) AS BIGINT)").alias("dl"),
            F.explode("toks").alias("term"),
        )
        .filter(F.expr(f"term IN ({terms_list})"))
        .groupBy("term", "doc_id", "dl")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    score = (
        f"(CAST(tf AS DOUBLE) * {BM25_K1 + 1.0!r}D) / "
        f"(CAST(tf AS DOUBLE) + {BM25_K1!r}D * "
        f"({1.0 - BM25_B!r}D + {BM25_B!r}D * CAST(dl AS DOUBLE) / {avgdl!r}D))"
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("term").orderBy(F.col("score").desc(), F.col("doc_id").asc())
    return (
        tf.withColumn("score", F.expr(stable_round(score, 6)))
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= BM25_TOP)
        .select("term", "doc_id", "tf", "dl", "score", "rank")
    )


def langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID evaluation: confusion matrix of the stopword-argmax
    heuristic against the labeled lang column — the shipped-measurement
    discipline (ann_recall's pattern) applied to lang-ID: the classifier
    and its accuracy report live in the same engine pass. One equi-join
    on doc_id (AQE broadcasts the smaller side) + a tiny groupBy."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    guesses = lang_id_heuristic(spark, sf_dir).select("doc_id", "lang_guess")
    return (
        docs.join(guesses, "doc_id")
        .groupBy("lang", "lang_guess")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# deterministic per-occurrence variant selector (md5 idiom — cross-engine)
_URL_VARIANT = (
    "pmod(CAST(conv(substring(md5(concat(CAST(doc_id AS STRING), ':', CAST(pos AS STRING))),"
    " 1, 8), 16, 10) AS BIGINT), 4)"
)


def url_normalize_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization dedup — the crawl-frontier/dedup pass that
    merges scheme/www/tracking-param/trailing-slash variants of the same
    resource before counting or fetching. The fixture's token stream is
    decorated into four deterministic raw variants per occurrence
    (https://, http://www., bare + trailing slash, uppercase-scheme +
    utm param — chosen by a content-independent md5 of (doc_id, pos), the
    engine's seeded-RNG stand-in), then normalized back by the
    lowercase → strip-scheme → strip-www → strip-utm → strip-slash chain;
    groups whose variants actually merged are reported.

    Everything is map-side regexp work until one partial-aggregated
    groupBy on the normalized key — at 100 TB the normalization cost is
    the scan itself, and the aggregate carries only distinct canonical
    URLs."""
    docs = load_table(spark, sf_dir, "documents")
    occ = docs.select(
        "doc_id", F.posexplode(F.expr(TOKS_SAFE)).alias("pos", "tok")
    )
    raw = occ.select(
        F.expr(
            f"""
            CASE {_URL_VARIANT}
                WHEN 0 THEN concat('https://', tok, '.com/a')
                WHEN 1 THEN concat('http://www.', tok, '.com/a')
                WHEN 2 THEN concat(tok, '.com/a/')
                ELSE concat('HTTPS://', tok, '.com/a?utm_source=x')
            END
            """
        ).alias("url")
    )
    norm = raw.select(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(
                    F.regexp_replace(
                        F.lower(F.col("url")), r"^[a-z][a-z0-9+.-]*://", ""
                    ),
                    r"^www\.",
                    "",
                ),
                r"[?&]utm_[^&]*",
                "",
            ),
            r"/$",
            "",
        ).alias("norm_url"),
        F.col("url").alias("raw_url"),
    )
    return (
        norm.groupBy("norm_url")
        .agg(
            F.countDistinct("raw_url").cast("long").alias("n_variants"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .filter(F.col("n_variants") >= 2)
    )


# --------------------------------------------------------------------------
# Character-entropy quality filter (round 6)
# --------------------------------------------------------------------------

ENTROPY_LOG_Q = 1 << 20  # fixed-point scale for the quantized log2 table


def _log2_table(max_k: int) -> list[int]:
    """round(log2(k)·2²⁰) for k = 1..max_k, computed once driver-side and
    embedded as a LITERAL in both engines. Raw log2() differs between the
    JVM and libm in the last ulp (measured: 498 of 2000 small integers),
    which no output rounding reliably hides — a shared quantized lookup
    makes the entropy integer-exact cross-engine instead (the same
    catalog-stat-literal posture as tf_idf_topk's n_docs)."""
    import math

    return [round(math.log2(k) * ENTROPY_LOG_Q) for k in range(1, max_k + 1)]


def quality_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character-level Shannon entropy — the classic junk
    filter (mojibake, base64 blobs, and key-mash have entropy far from a
    natural-language band; CCNet/RefinedWeb-style pipelines cut on it).

    H = log2(n) − (1/n)·Σ_c cnt_c·log2(cnt_c), evaluated with the
    quantized-log trick: numerator n·L[n] − Σ cnt·L[cnt] is pure BIGINT
    arithmetic over the shared L table (so partial-aggregation order
    cannot perturb it), and only the final division is floating point
    (per-row deterministic, stable_round). Accurate to ~1e-6 bits — a
    DEFINED statistic both engines compute bit-identically.

    Plan shape at 100 TB: one explode + two hash aggregates, all keyed on
    doc_id (the second agg reuses the first's partitioning); the L table
    is a tiny literal in the expression tree, not a join."""
    from ..functions.vector import stable_round
    from ..tables import spread

    docs = spread(load_table(spark, sf_dir, "documents"))
    max_n = docs.agg(F.max(F.length(F.coalesce("text", F.lit(""))))).collect()[0][0] or 1
    table = _log2_table(int(max_n))
    lit = f"array({', '.join(str(v) + 'L' for v in table)})"
    counts = (
        docs.select(
            "doc_id", F.explode(F.split(F.coalesce("text", F.lit("")), "")).alias("ch")
        )
        .filter(F.col("ch") != "")
        .groupBy("doc_id", "ch")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        counts.groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_chars_counted"),
            F.count(F.lit(1)).cast("long").alias("n_distinct_chars"),
            F.sum(F.expr(f"cnt * element_at({lit}, CAST(cnt AS INT))")).alias("_s"),
        )
        .select(
            "doc_id",
            "n_chars_counted",
            "n_distinct_chars",
            F.expr(
                stable_round(
                    f"CAST(n_chars_counted * element_at({lit}, CAST(n_chars_counted AS INT)) - _s AS DOUBLE)"
                    f" / (CAST(n_chars_counted AS DOUBLE) * {ENTROPY_LOG_Q}.0D)",
                    6,
                )
            ).alias("entropy"),
        )
    )


def quality_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """zlib compressibility as a quality signal — boilerplate, key-mash and
    template spam compress far better than natural prose, so production
    curation stacks score compressed_size/raw_size per document alongside
    entropy and the rule batteries (the signal family popularized by
    web-corpus quality filtering). DEFLATE isn't expressible in SQL, so
    the driver check is rows-only by design; determinism still holds
    (zlib level 6 output is a pure function of the input bytes) and
    property tests pin the bounds and the repetitive≪diverse ordering.

    Plan shape at 100 TB: embarrassingly parallel mapInPandas (Arrow
    batches in, one compress per doc, no shuffle); the ratio division is
    JVM-side so the Python stage ships only two small ints per doc."""
    from collections.abc import Iterator as _It

    import pandas as _pd

    from ..functions.vector import stable_round
    from ..tables import spread

    def comp(batches: _It[_pd.DataFrame]) -> _It[_pd.DataFrame]:
        import zlib as _zlib

        for pdf in batches:
            data = pdf["text"].fillna("").map(lambda t: t.encode("utf-8"))
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": data.map(len).astype("int64"),
                    "n_compressed": data.map(lambda b: len(_zlib.compress(b, 6))).astype("int64"),
                }
            )

    docs = spread(load_table(spark, sf_dir, "documents")).select("doc_id", "text")
    sized = docs.mapInPandas(comp, schema="doc_id long, n_bytes long, n_compressed long")
    return sized.select(
        "doc_id",
        "n_bytes",
        "n_compressed",
        F.expr(
            stable_round(
                "CASE WHEN n_bytes = 0 THEN CAST(NULL AS DOUBLE) "
                "ELSE CAST(n_compressed AS DOUBLE) / n_bytes END",
                6,
            )
        ).alias("ratio"),
    )


LM_SB_ALPHA = "0.4D"  # stupid-backoff discount (Brants et al. 2007)
LM_SB_TRAIN_DECILES = 5  # md5-decile < 5 trains the model; >= 5 is scored


def lm_trigram_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out language-model scoring with a trigram "stupid backoff"
    model (Brants et al., "Large Language Models in Machine Translation",
    EMNLP 2007 — the score web-scale LMs actually use, no normalization,
    no discount tuning): the model trains on the md5-decile<5 half of the
    corpus and scores the OTHER half, so unseen n-grams genuinely occur
    and every backoff tier is exercised — the CCNet posture (score with a
    model trained elsewhere) one rung up from lm_bigram_quality's
    self-trained bigrams.

    Per trigram occurrence (w1 w2 w3):
        S = c3(w1w2w3)/c2(w1w2)          if the full trigram was seen
          = 0.4 · c2(w2w3)/c1(w2)        else if the (w2,w3) bigram was
          = 0.4² · c1(w3)/N              else (0 for OOV w3)
    All tiers are single divisions of corpus counts — pure rational
    arithmetic both engines evaluate bit-identically (the tf_idf_topk
    rule: no logs). The per-doc mean is a grouped double sum → round(4)
    like every grouped float aggregate; the tier hit counts are exact
    BIGINTs. N is read off the materialized unigram aggregate
    (catalog-stat literal posture).

    Plan shape at 100 TB: one tokenize (non-eager localCheckpoint, shared
    by the model and scoring branches), three partial-aggregated model
    counts (tri/bi/uni), then scoring = per-doc trigram aggregate joined
    to the three model tables on short string keys (bi joined twice:
    context and backoff) + one per-doc aggregate. Every join key is
    post-aggregation (∝ distinct n-grams, not occurrences)."""
    from .pipeline import _DECILE
    from ..tables import load_table as _lt
    from ..tables import spread

    docs = _lt(spark, sf_dir, "documents").select("doc_id", "text")
    toks = (
        spread(docs)
        .select("doc_id", F.expr(_DECILE).alias("decile"), F.expr(TOKS_SAFE).alias("toks"))
        .transform(checkpoint, eager=False)
    )
    train = toks.filter(F.col("decile") < LM_SB_TRAIN_DECILES)
    score = toks.filter(F.col("decile") >= LM_SB_TRAIN_DECILES)

    tr_uni = (
        train.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c1"))
        .transform(checkpoint, eager=False)
    )
    n_tokens = tr_uni.agg(F.sum("c1")).collect()[0][0] or 1
    tr_bi = (
        train.filter(F.expr("size(toks) >= 2"))
        .select(
            F.explode(
                F.expr("transform(sequence(0, size(toks) - 2), i -> concat_ws(' ', toks[i], toks[i + 1]))")
            ).alias("big")
        )
        .groupBy("big")
        .agg(F.count(F.lit(1)).alias("c2"))
        .transform(checkpoint, eager=False)
    )
    tr_tri = (
        train.filter(F.expr("size(toks) >= 3"))
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(toks) - 3),"
                    " i -> concat_ws(' ', toks[i], toks[i + 1], toks[i + 2]))"
                )
            ).alias("tri")
        )
        .groupBy("tri")
        .agg(F.count(F.lit(1)).alias("c3"))
    )

    occ = (
        score.filter(F.expr("size(toks) >= 3"))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(toks) - 3),"
                    " i -> named_struct('w1', toks[i], 'w2', toks[i + 1], 'w3', toks[i + 2]))"
                )
            ).alias("t"),
        )
        .select(
            "doc_id",
            F.expr("concat_ws(' ', t.w1, t.w2, t.w3)").alias("tri"),
            F.expr("concat_ws(' ', t.w1, t.w2)").alias("big12"),
            F.expr("concat_ws(' ', t.w2, t.w3)").alias("big23"),
            F.col("t.w2").alias("w2"),
            F.col("t.w3").alias("w3"),
        )
        .groupBy("doc_id", "tri", "big12", "big23", "w2", "w3")
        .agg(F.count(F.lit(1)).alias("n_occ"))
    )
    b12 = tr_bi.select(F.col("big").alias("big12"), F.col("c2").alias("c2_ctx"))
    b23 = tr_bi.select(F.col("big").alias("big23"), F.col("c2").alias("c2_back"))
    u2 = tr_uni.select(F.col("w").alias("w2"), F.col("c1").alias("c1_w2"))
    u3 = tr_uni.select(F.col("w").alias("w3"), F.col("c1").alias("c1_w3"))
    p = (
        "CASE "
        "WHEN c3 IS NOT NULL THEN CAST(c3 AS DOUBLE) / c2_ctx "
        f"WHEN c2_back IS NOT NULL THEN {LM_SB_ALPHA} * CAST(c2_back AS DOUBLE) / c1_w2 "
        f"ELSE {LM_SB_ALPHA} * {LM_SB_ALPHA} * CAST(coalesce(c1_w3, 0) AS DOUBLE) / {n_tokens}.0D "
        "END"
    )
    return (
        occ.join(tr_tri, "tri", "left")
        .join(b12, "big12", "left")
        .join(b23, "big23", "left")
        .join(u2, "w2", "left")
        .join(u3, "w3", "left")
        .groupBy("doc_id")
        .agg(
            F.sum("n_occ").cast("long").alias("n_trigrams"),
            F.sum(F.expr("CASE WHEN c3 IS NOT NULL THEN n_occ ELSE 0 END")).cast("long").alias("n_tier3"),
            F.sum(
                F.expr("CASE WHEN c3 IS NULL AND c2_back IS NOT NULL THEN n_occ ELSE 0 END")
            ).cast("long").alias("n_tier2"),
            F.round(F.sum(F.expr(f"n_occ * ({p})")) / F.sum("n_occ"), 4).alias("sb_score"),
        )
    )


LIFT_MIN_COUNT = 5  # collocation support floor
LIFT_TOP_K = 50


def bigram_lift_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: top-LIFT_TOP_K token bigrams by LIFT — the
    PMI-without-the-log form lift(ab) = P(ab)/(P(a)P(b)) =
    c_ab·N²/(M·c_a·c_b). The log is the cross-engine-unsafe part of PMI
    (libm drift, see quality_char_entropy); the RANKING is identical
    without it, so the score is computed as an exact scaled rational:
    lift_micro = ⌊c_ab·10⁶·N² / (M·c_a·c_b)⌋ over DECIMAL(38,0)
    accumulators (BIGINT `div` overflows silently past 9.2e18 — measured),
    giving bit-equal ranking in both engines at any corpus size.

    Shape: unigram agg + bigram agg (each one partial-aggregated shuffle),
    two equi-joins to attach c_a/c_b, TakeOrderedAndProject for the top-K.
    N and M are two driver scalars (bounded collect). The token frame is
    checkpointed once and feeds all four consumers (the recompute-fanout
    rule)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.expr(TOKS_SAFE).alias("toks")).transform(checkpoint, eager=False)
    unis = (
        toks.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c_w"))
        .transform(checkpoint, eager=False)  # reused: N scalar + two joins
    )
    bigs = (
        toks.filter(F.expr("size(toks) >= 2"))
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(toks) - 2),"
                    " i -> named_struct('a', toks[i], 'b', toks[i + 1]))"
                )
            ).alias("p")
        )
        .groupBy("p.a", "p.b")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .transform(checkpoint, eager=False)  # reused: M scalar + ranking
    )
    n_uni = int(unis.agg(F.sum("c_w")).collect()[0][0] or 1)
    m_big = int(bigs.agg(F.sum("c_ab")).collect()[0][0] or 1)
    ca = unis.select(F.col("w").alias("a"), F.col("c_w").alias("c_a"))
    cb = unis.select(F.col("w").alias("b"), F.col("c_w").alias("c_b"))
    scored = (
        bigs.filter(F.col("c_ab") >= LIFT_MIN_COUNT)
        .join(ca, "a")
        .join(cb, "b")
        .withColumn(
            "_num", F.expr(f"CAST(c_ab AS DECIMAL(38,0)) * 1000000 * {n_uni} * {n_uni}")
        )
        .withColumn("_den", F.expr(f"CAST({m_big} AS DECIMAL(38,0)) * c_a * c_b"))
        .withColumn(
            # exact floor division: subtract the remainder first so the
            # decimal divide is exact — a plain DECIMAL/DECIMAL quotient
            # rounds HALF_UP to scale 6 BEFORE floor(), which flips the
            # floor for fractional parts >= 0.9999995 vs DuckDB's true
            # integer `//` (ADVICE r06)
            "lift_micro",
            F.expr("CAST((_num - pmod(_num, _den)) / _den AS DECIMAL(38,0))"),
        )
        .drop("_num", "_den")
    )
    return (
        scored.select(
            F.concat_ws(" ", "a", "b").alias("bigram"),
            "c_ab",
            "c_a",
            "c_b",
            "lift_micro",
            (F.col("lift_micro").cast("double") / 1e6).alias("lift"),
        )
        .orderBy(F.col("lift_micro").desc(), F.col("bigram").asc())
        .limit(LIFT_TOP_K)
        .drop("lift_micro")
    )


def quality_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document (Flesch 1948, the published
    readability formula every text-quality stack carries): 206.835 −
    1.015·(words/sentences) − 84.6·(syllables/words), with sentences =
    runs of [.!?] and syllables = vowel-group runs per word — the standard
    heuristic approximations. Pure map: regex counts + one rational per
    row, no shuffle, whole-stage codegen. Degenerate docs (no words / no
    sentences) yield NULL scores via nullif (ANSI-safe)."""
    from ..functions.vector import stable_round

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        F.expr(TOKS_SAFE).alias("toks"),
        F.expr(
            "CAST(size(regexp_extract_all(coalesce(text, ''), '[.!?]+', 0)) AS BIGINT)"
        ).alias("n_sentences"),
    ).select(
        "doc_id",
        F.expr("CAST(size(toks) AS BIGINT)").alias("n_words"),
        "n_sentences",
        F.expr(
            "aggregate(toks, 0L, (acc, t) ->"
            " acc + size(regexp_extract_all(lower(t), '[aeiouy]+', 0)))"
        ).alias("n_syllables"),
    )
    flesch = (
        "206.835D - 1.015D * (CAST(n_words AS DOUBLE) / nullif(n_sentences, 0))"
        " - 84.6D * (CAST(n_syllables AS DOUBLE) / nullif(n_words, 0))"
    )
    return base.withColumn("flesch", F.expr(stable_round(flesch, 4)))


RAKE_TOP = 25
# language-agnostic break set: the union of all per-language stopword lists
RAKE_STOPS = tuple(sorted({w for ws in STOPWORDS.values() for w in ws}))


def text_keyphrase_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al. 2010): candidate phrases are
    maximal stopword-free token runs; word score = degree/freq where
    degree sums the lengths of phrases containing the word; phrase score
    sums its member word scores. Top-RAKE_TOP corpus-wide phrases — the
    unsupervised keyword surface of a curation stack.

    Shapes: phrase segmentation is one window pass on doc_id (phrase_id =
    running stopword count); word stats are a partial-aggregated groupBy
    on the word; scores attach back by equi-join. Phrase score is an
    IN-ORDER left fold over the phrase's word scores (array_sort by word
    position, then aggregate) — 0.0+a+b+... associates identically in
    both engines, where an unordered SUM over doubles would not."""
    from pyspark.sql.window import Window

    from ..functions.vector import stable_round

    stops = ", ".join(f"'{w}'" for w in RAKE_STOPS)
    docs = load_table(spark, sf_dir, "documents")
    tk = docs.select(
        "doc_id", F.posexplode(F.expr(TOKS_SAFE)).alias("pos", "tok")
    ).select(
        "doc_id",
        "pos",
        F.lower("tok").alias("tok"),
        F.expr(f"CAST(lower(tok) IN ({stops}) AS INT)").alias("is_stop"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    seg = tk.withColumn("phrase_id", F.sum("is_stop").over(w)).filter(
        F.col("is_stop") == 0
    )
    phrases = seg.groupBy("doc_id", "phrase_id").agg(
        F.expr(
            "concat_ws(' ', transform(array_sort(collect_list(struct(pos, tok))),"
            " s -> s.tok))"
        ).alias("phrase"),
        F.count(F.lit(1)).cast("long").alias("plen"),
    )
    wordstats = (
        phrases.select(F.explode(F.split("phrase", " ")).alias("word"), "plen")
        .groupBy("word")
        .agg(
            F.count(F.lit(1)).cast("long").alias("freq"),
            F.sum("plen").alias("degree"),
        )
        .withColumn("wscore", F.expr("CAST(degree AS DOUBLE) / freq"))
    )
    occ = phrases.groupBy("phrase").agg(F.count(F.lit(1)).cast("long").alias("n_occurrences"))
    pw = occ.select(
        "phrase",
        "n_occurrences",
        F.posexplode(F.split("phrase", " ")).alias("wpos", "word"),
    )
    scored = (
        pw.join(wordstats.select("word", "wscore"), "word")
        .groupBy("phrase", "n_occurrences")
        .agg(
            F.expr(
                "aggregate(transform(array_sort(collect_list(struct(wpos, wscore))),"
                " s -> s.wscore), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
            ).alias("score_raw")
        )
    )
    return (
        scored.select(
            "phrase",
            F.expr("CAST(size(split(phrase, ' ')) AS BIGINT)").alias("n_words"),
            "n_occurrences",
            F.expr(stable_round("score_raw", 6)).alias("rake_score"),
        )
        .orderBy(F.col("rake_score").desc(), F.col("phrase").asc())
        .limit(RAKE_TOP)
    )


def token_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of the corpus token-frequency distribution — the
    standard inequality summary of a Zipfian vocabulary (how concentrated
    the token mass is; a near-1 Gini says a handful of tokens dominate,
    which feeds vocab min-count and stop-list decisions alongside
    token_freq_histogram's count-of-counts view).

    With frequencies sorted ascending, G = (2·Σ i·cᵢ − (n+1)·Σcᵢ) /
    (n·Σcᵢ) — every term an exact BIGINT until the single final division
    (floor-micro, stable both engines). Rank ties broken (count, token)
    for determinism; the result is tie-permutation-invariant because equal
    counts contribute the same Σ i·c over any ordering of their block.

    Plan shape at 100 TB: token count is the flagship partial-aggregated
    shuffle; the rank window is over the DISTINCT VOCABULARY (thousands of
    rows at any corpus size — vocab-bound, not corpus-bound), so the
    unpartitioned sort is domain-bounded like skyline_docs'."""
    from pyspark.sql.window import Window

    from ..functions.vector import stable_round
    from ..tables import spread

    docs = spread(load_table(spark, sf_dir, "documents"))
    counts = (
        docs.select(F.explode(F.expr(TOKS_SAFE)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    rw = Window.orderBy(F.col("c").asc(), F.col("w").asc())
    return (
        counts.withColumn("i", F.row_number().over(rw))
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("c").alias("total_count"),
            F.sum(F.expr("CAST(i AS BIGINT) * c")).alias("_s"),
        )
        .select(
            "n_tokens",
            "total_count",
            F.expr(
                stable_round(
                    "CAST(2 * _s - (n_tokens + 1) * total_count AS DOUBLE)"
                    " / (CAST(n_tokens AS DOUBLE) * total_count)",
                    6,
                )
            ).alias("gini"),
        )
    )


def source_token_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token diversity via the Simpson index (Simpson, Nature
    1949): D = 1 − Σpᵢ², with 1/Σpᵢ² the effective vocabulary size — the
    corpus-mix health check (a source whose effective vocab collapses is
    template spam) that, unlike Shannon entropy, needs NO logarithm:
    Σcᵢ²/N² is exact integer arithmetic at any corpus size, so the metric
    is bit-stable cross-engine with a single floor-micro division at the
    end (the quantized-log-table trick quality_char_entropy uses caps at
    its table size; this one never caps).

    Plan shape at 100 TB: one (source, token) partial-aggregated count,
    then a source-keyed aggregate — both shuffles on short keys; Σc² runs
    in DECIMAL(38,0) so hot tokens cannot overflow."""
    from ..functions.vector import stable_round
    from ..tables import spread

    docs = spread(load_table(spark, sf_dir, "documents"))
    counts = (
        docs.select(
            F.coalesce("source", F.lit("unknown")).alias("source"),
            F.explode(F.expr(TOKS_SAFE)).alias("w"),
        )
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        counts.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_distinct_tokens"),
            F.sum("c").alias("n_tokens"),
            F.sum(F.expr("CAST(c AS DECIMAL(38,0)) * c")).alias("_s2"),
        )
        .select(
            "source",
            "n_distinct_tokens",
            "n_tokens",
            F.expr(
                stable_round(
                    "1.0D - CAST(_s2 AS DOUBLE)"
                    " / (CAST(n_tokens AS DOUBLE) * CAST(n_tokens AS DOUBLE))",
                    6,
                )
            ).alias("simpson"),
            F.expr(
                stable_round(
                    "(CAST(n_tokens AS DOUBLE) * CAST(n_tokens AS DOUBLE))"
                    " / CAST(_s2 AS DOUBLE)",
                    6,
                )
            ).alias("effective_vocab"),
        )
    )


def dup_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Do duplicates skew low-quality? The curation sanity check that
    joins the exact-dup labeling against the quality scorer and compares
    the two populations — if boilerplate dups score HIGH the quality
    gate is mis-tuned (the interaction every dedup-then-filter pipeline
    should monitor, cf. the dedup/quality ordering discussions in the
    RefinedWeb/FineWeb pipeline reports).

    Output: one row per is_dup bucket with doc count and mean quality.
    The mean is exact: quality is already a floor-micro-rounded double,
    so ⌊q·10⁶+0.5⌋ recovers an exact integer; bucket means are integer
    floor divisions (one final /1e6 to value units). NULL-quality docs
    (token-less) are counted but excluded from the mean.

    Plan shape: fingerprint groupBy (flagship shape) + doc_id equi-join
    against the scorer's map-side projection + a 2-group aggregate."""
    from ..functions.vector import stable_round

    q = quality_score(spark, sf_dir).select("doc_id", "quality")
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "fp", F.md5(F.regexp_replace(F.lower(F.coalesce("text", F.lit(""))), r"\s+", " "))
    )
    sizes = docs.groupBy("fp").agg(F.count(F.lit(1)).alias("n_fp"))
    labeled = (
        docs.select("doc_id", "fp")
        .join(sizes, "fp")
        .select("doc_id", F.expr("n_fp > 1").alias("is_dup"))
    )
    return (
        labeled.join(q, "doc_id")
        .withColumn("qm", F.expr("CAST(floor(quality * 1e6 + 0.5) AS BIGINT)"))
        .groupBy("is_dup")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count("qm").alias("n_scored"),
            F.expr(
                stable_round(
                    "CAST((sum(qm) - pmod(sum(qm), count(qm))) div count(qm) AS DOUBLE)"
                    " / 1e6",
                    6,
                )
            ).alias("mean_quality"),
        )
    )


# --------------------------------------------------------------------------
# Statistical-law fits: Zipf (rank-frequency) and Heaps (vocabulary growth).
# Shared exact-integer OLS core: points arrive as micro-quantized BIGINT
# (ln·1e6) so every sum is exact integer arithmetic in both engines and the
# fit coefficients are bit-stable cross-engine (the floating-point work is
# three final divisions over identical exact operands).
# --------------------------------------------------------------------------

ZIPF_TOPK = 1000  # fit window: top-K tokens by frequency (constant, bounded)
HEAPS_BUCKETS = 64  # vocabulary-growth checkpoints (constant, bounded)
LOG_MICRO = 1_000_000  # fixed-point scale for micro-quantized natural logs


def _ln_micro_table(max_k: int) -> list[int]:
    """round(ln(k)·1e6) for k = 1..max_k, computed once driver-side and
    embedded as a LITERAL array in both engines — same catalog-literal
    posture as _log2_table (JVM and libm ln() can differ in the last ulp;
    a shared table removes the risk entirely where the domain is a small
    constant range, here Zipf ranks 1..ZIPF_TOPK)."""
    import math

    return [round(math.log(k) * LOG_MICRO) for k in range(1, max_k + 1)]


def _ln_micro_expr(col: str) -> str:
    """Engine-evaluated micro-quantized natural log for UNBOUNDED positive
    integer columns (token counts, cumulative totals), where a lookup table
    cannot be sized. floor(ln(x)·1e6 + 0.5) flips only if the two engines'
    ln() differ AND the value sits within ~1e-9 of a half-integer —
    probability ~2e-9 per row (same accepted-risk posture as
    mix_temperature's pow(); the sums built FROM these BIGINTs are then
    exact, so accumulation order cannot widen the exposure)."""
    return f"CAST(floor(ln(CAST({col} AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)"


def _ols_fit(pts: DataFrame) -> DataFrame:
    """OLS of y on x over exact micro-quantized BIGINT points (columns
    ``x``, ``y``): one row out — n_points, slope, intercept (y-units, i.e.
    natural-log space), r2. Sums are BIGINT-exact; the cross terms
    (n·Σxy − Σx·Σy …) run in DECIMAL(38,0) (HUGEINT on the oracle side) so
    nothing overflows before the final double divisions, which consume
    identical exact integers in both engines. Degenerate spreads (zero
    x-variance or y-variance) yield NULL slope/r2 rather than ±inf.

    Plan shape at 100 TB: a single partial-aggregated global aggregate
    over an already-bounded point set (ZIPF_TOPK or HEAPS_BUCKETS rows) —
    no shuffle beyond the one that built the points."""
    from ..functions.vector import stable_round

    a = pts.agg(
        F.count(F.lit(1)).cast("long").alias("n_points"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * x")).alias("sxx"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * y")).alias("sxy"),
        F.sum(F.expr("CAST(y AS DECIMAL(38,0)) * y")).alias("syy"),
    )
    cov = "(CAST(n_points AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy)"
    varx = "(CAST(n_points AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx)"
    vary = "(CAST(n_points AS DECIMAL(38,0)) * syy - CAST(sy AS DECIMAL(38,0)) * sy)"
    icpt_num = "(CAST(sy AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sxy)"
    return a.select(
        "n_points",
        F.expr(
            f"CASE WHEN {varx} = 0 THEN NULL ELSE "
            + stable_round(f"CAST({cov} AS DOUBLE) / CAST({varx} AS DOUBLE)", 6)
            + " END"
        ).alias("slope"),
        F.expr(
            f"CASE WHEN {varx} = 0 THEN NULL ELSE "
            + stable_round(
                f"CAST({icpt_num} AS DOUBLE) / CAST({varx} AS DOUBLE) / 1e6", 6
            )
            + " END"
        ).alias("intercept"),
        F.expr(
            f"CASE WHEN {varx} = 0 OR {vary} = 0 THEN NULL ELSE "
            + stable_round(
                f"CAST({cov} AS DOUBLE) * CAST({cov} AS DOUBLE)"
                f" / (CAST({varx} AS DOUBLE) * CAST({vary} AS DOUBLE))",
                6,
            )
            + " END"
        ).alias("r2"),
    )


def token_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit of the corpus rank-frequency curve: OLS of ln(count)
    on ln(rank) over the top-ZIPF_TOPK tokens — slope ≈ −1 is the healthy
    natural-language signature; a much flatter or steeper slope flags
    template spam or truncated vocabularies (the corpus-level cousin of
    token_gini's inequality summary). One row: n_points, slope, intercept,
    r2.

    Exactness split: ln(rank) comes from a driver-embedded literal table
    (ranks are the constant domain 1..ZIPF_TOPK — zero libm exposure);
    ln(count) is engine-evaluated micro-quantized (_ln_micro_expr, counts
    are unbounded). All OLS sums are then exact integers.

    Plan shape at 100 TB: the flagship partial-aggregated token count,
    then ONE vocab-bounded TopK (rank window over distinct tokens — the
    token_gini posture) sliced to a constant 1000 rows before the
    single-row fit aggregate."""
    from pyspark.sql.window import Window

    from ..tables import spread

    docs = spread(load_table(spark, sf_dir, "documents"))
    counts = (
        docs.select(F.explode(F.expr(TOKS_SAFE)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    lt = f"array({', '.join(str(v) + 'L' for v in _ln_micro_table(ZIPF_TOPK))})"
    rw = Window.orderBy(F.col("c").desc(), F.col("w").asc())
    pts = (
        counts.withColumn("rnk", F.row_number().over(rw))
        .filter(F.col("rnk") <= ZIPF_TOPK)
        .select(
            F.expr(f"element_at({lt}, CAST(rnk AS INT))").alias("x"),
            F.expr(_ln_micro_expr("c")).alias("y"),
        )
    )
    return _ols_fit(pts)


def vocab_heaps_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit of vocabulary growth V(N) = K·N^β: OLS of
    ln(cumulative distinct vocabulary) on ln(cumulative token count) over
    HEAPS_BUCKETS corpus checkpoints — β far from the ~0.5 natural-text
    band flags synthetic/templated corpora (sub-linear vocabulary growth
    is the law; duplicated boilerplate bends it down, random noise bends
    it up). One row: n_points, slope (β), intercept (ln K), r2.

    Checkpointing WITHOUT a global sort: documents map to one of
    HEAPS_BUCKETS buckets by pure arithmetic on doc_id against
    driver-collected min/max (two scalar aggregates — the
    quality_char_entropy catalog-literal posture), so no corpus-wide
    row_number is ever needed. Each token's FIRST bucket is min(bucket);
    per-bucket new-vocabulary and token-occurrence counts then cumsum over
    ≤64 rows (bounded window). Logs are engine-evaluated micro-quantized
    (_ln_micro_expr) and the fit is the exact-integer _ols_fit.

    Plan shape at 100 TB: one (token → min bucket) partial-aggregated
    shuffle (vocab-bounded output), one (bucket → count) aggregate (64
    rows), a 64-row full-outer merge + bounded window, one-row fit."""
    from pyspark.sql.window import Window

    from ..tables import spread

    docs = spread(load_table(spark, sf_dir, "documents"))
    lo, hi = (
        docs.agg(
            F.min(F.coalesce(F.col("doc_id"), F.lit(0))),
            F.max(F.coalesce(F.col("doc_id"), F.lit(0))),
        ).collect()[0]
        or (0, 0)
    )
    lo = int(lo if lo is not None else 0)
    span = max(int(hi if hi is not None else 0) - lo + 1, 1)
    # explicit floor: CAST(double AS INT) truncates in Spark but ROUNDS in
    # DuckDB — floor() is the one cross-engine-unambiguous bucket edge
    bucket = (
        f"CAST(floor((CAST(coalesce(doc_id, 0) AS BIGINT) - {lo}L) * {HEAPS_BUCKETS}L"
        f" / {span}L) AS INT)"
    )
    toks = docs.select(
        F.expr(bucket).alias("b"), F.explode(F.expr(TOKS_SAFE)).alias("w")
    )
    per_bucket = toks.groupBy("b").agg(F.count(F.lit(1)).alias("n_toks"))
    first_seen = (
        toks.groupBy("w")
        .agg(F.min("b").alias("fb"))
        .groupBy("fb")
        .agg(F.count(F.lit(1)).alias("new_v"))
        .withColumnRenamed("fb", "b")
    )
    merged = per_bucket.join(first_seen, "b", "full_outer").select(
        F.col("b"),
        F.coalesce("n_toks", F.lit(0)).alias("n_toks"),
        F.coalesce("new_v", F.lit(0)).alias("new_v"),
    )
    cw = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    pts = (
        merged.withColumn("cum_n", F.sum("n_toks").over(cw))
        .withColumn("cum_v", F.sum("new_v").over(cw))
        .filter((F.col("cum_n") > 0) & (F.col("cum_v") > 0))
        .select(
            F.expr(_ln_micro_expr("cum_n")).alias("x"),
            F.expr(_ln_micro_expr("cum_v")).alias("y"),
        )
    )
    return _ols_fit(pts)


# Gopher-style within-document repetition gates (Rae et al. 2021, table A1
# spirit): fraction of n-gram OCCURRENCES that are repeats of an earlier
# in-doc n-gram, plus the share of the single most frequent bigram.
REP_DUP2_MAX = 0.20
REP_DUP3_MAX = 0.18
REP_TOP2_MAX = 0.18
# the top-bigram-share rule only means anything on docs with enough bigram
# mass (a 4-token doc has top2_share >= 1/3 by construction); below this
# occurrence floor the rule abstains, mirroring Gopher's length-gated rules
REP_MIN_BIGRAMS = 16


def quality_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition gate: per doc, the duplicate-bigram and
    duplicate-trigram occurrence fractions (1 − distinct/total) and the
    most-frequent-bigram share, with a keep flag under the Gopher-style
    thresholds — the quality signal that catches boilerplate loops and
    degenerate generations that corpus-LEVEL dedup never sees (it compares
    a document against ITSELF, complementing quality_gopher's length/
    stopword rules and dedup_*'s cross-doc passes).

    All ratios are exact single divisions of per-doc BIGINT counts
    (stable_round), so the oracle agrees bit-for-bit; docs too short for an
    n-gram read as 0 repetition and keep=true.

    Plan shape at 100 TB: one explode of tagged 2-/3-grams →
    (doc_id, n, gram) partial-aggregated count → (doc_id) aggregate —
    both shuffles keyed on doc_id-led keys (the second reuses the first's
    partitioning) — then one doc_id equi-join back to the corpus row set
    to keep gram-free docs. No windows, no driver state."""
    from ..functions.vector import stable_round
    from ..tables import spread

    docs = spread(load_table(spark, sf_dir, "documents"))
    ngrams = (
        "CASE WHEN size(toks) >= {n} THEN transform(sequence(0, size(toks) - {n}),"
        " i -> named_struct('n', {n}, 'g', array_join(slice(toks, i + 1, {n}), ' ')))"
        " ELSE array() END"
    )
    grams = docs.select(
        "doc_id", F.expr(TOKS_SAFE).alias("toks")
    ).select(
        "doc_id",
        F.explode(
            F.expr(f"concat({ngrams.format(n=2)}, {ngrams.format(n=3)})")
        ).alias("gr"),
    )
    per_doc = (
        grams.groupBy("doc_id", F.col("gr.n").alias("n"), F.col("gr.g").alias("g"))
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum(F.expr("IF(n = 2, c, 0L)")).alias("t2"),
            F.sum(F.expr("IF(n = 2, 1L, 0L)")).alias("d2"),
            F.max(F.expr("IF(n = 2, c, 0L)")).alias("m2"),
            F.sum(F.expr("IF(n = 3, c, 0L)")).alias("t3"),
            F.sum(F.expr("IF(n = 3, 1L, 0L)")).alias("d3"),
        )
    )
    frac = "CAST({num} AS DOUBLE) / CAST({den} AS DOUBLE)"
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "t2",
            F.expr(
                "CASE WHEN coalesce(t2, 0L) = 0 THEN 0.0D ELSE "
                + stable_round(frac.format(num="t2 - d2", den="t2"), 6)
                + " END"
            ).alias("dup2_frac"),
            F.expr(
                "CASE WHEN coalesce(t3, 0L) = 0 THEN 0.0D ELSE "
                + stable_round(frac.format(num="t3 - d3", den="t3"), 6)
                + " END"
            ).alias("dup3_frac"),
            F.expr(
                "CASE WHEN coalesce(t2, 0L) = 0 THEN 0.0D ELSE "
                + stable_round(frac.format(num="m2", den="t2"), 6)
                + " END"
            ).alias("top2_share"),
        )
        .withColumn(
            "keep",
            (F.col("dup2_frac") <= F.lit(REP_DUP2_MAX))
            & (F.col("dup3_frac") <= F.lit(REP_DUP3_MAX))
            & (
                (F.col("top2_share") <= F.lit(REP_TOP2_MAX))
                | (F.coalesce(F.col("t2"), F.lit(0)) < F.lit(REP_MIN_BIGRAMS))
            ),
        )
        .drop("t2")
    )


# relative perplexity ceiling: keep docs within NUM/DEN of the corpus-mean
# perplexity (a fixed absolute ceiling is meaningless for a self-trained LM —
# the absolute scale moves with vocabulary size; CCNet likewise thresholds on
# corpus-relative quantiles). 5/4 = 125 % of the mean.
PPL_REL_NUM = 5
PPL_REL_DEN = 4


def lm_perplexity_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity filter (Wenzek et al., LREC 2020) under the
    corpus-self-trained add-one bigram LM: per doc, token-level perplexity
    exp(−(1/n)·Σ ln p(w2|w1)) and a keep flag at PPL_REL_NUM/PPL_REL_DEN of
    the corpus-mean perplexity — the log-space complement of
    lm_bigram_quality's arithmetic-mean score (perplexity is what the
    published pipelines actually threshold on; the gate is corpus-RELATIVE
    because a self-trained LM's absolute scale moves with vocabulary size).
    The gate predicate is pure integer arithmetic: perplexities are exact
    1e-4 multiples after stable_round, so DEN·n·pplᵢ ≤ NUM·Σppl compares
    exact integers in both engines (no float mean, no accumulation order).
    The products run in DECIMAL(38,0) (HUGEINT oracle-side): pplq is
    vocab-scale × 1e4 and n_scored is corpus-scale, so the BIGINT product
    overflows int64 at the 100 TB posture — Spark (non-ANSI) would wrap
    silently while DuckDB raises. 38 digits hold ~1e10 · 1e11 · DEN with
    17 digits to spare.

    Cross-engine exactness: each DISTINCT (doc, bigram)'s log-probability
    is micro-quantized per row (_ln_micro-style: p = (c_big+1)/(c_uni+V)
    is one correctly-rounded IEEE division, ln the accepted-risk last-ulp
    op), then Σ n_occ·lp is EXACT integer arithmetic — accumulation order
    cannot move the sum, unlike a float Σ log. The final exp/stable_round
    consumes identical exact integers in both engines. V is read off the
    materialized unigram model (catalog-stat literal, tf_idf posture).

    Plan shape at 100 TB: identical to lm_bigram_quality — one explode,
    two partial-aggregated model counts, two short-key equi-joins, one
    per-doc aggregate; the gate is a projection."""
    from ..functions.vector import stable_round
    from ..tables import load_table as _lt
    from ..tables import spread

    docs = _lt(spark, sf_dir, "documents")
    toks = (
        spread(docs.select("doc_id", "text"))
        .select("doc_id", F.expr(TOKS).alias("toks"))
        .transform(checkpoint, eager=False)
    )
    docbig = (
        toks.filter(F.expr("size(toks) >= 2"))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(toks) - 2),"
                    " i -> named_struct('w1', toks[i], 'w2', toks[i + 1]))"
                )
            ).alias("b"),
        )
        .select("doc_id", "b.w1", F.expr("concat_ws(' ', b.w1, b.w2)").alias("bigram"))
        .groupBy("doc_id", "w1", "bigram")
        .agg(F.count(F.lit(1)).alias("n_occ"))
        .transform(checkpoint, eager=False)
    )
    uni = (
        toks.select(F.explode("toks").alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("c_uni"))
        .transform(checkpoint, eager=False)
    )
    vocab_v = uni.count()
    big = docbig.groupBy("bigram").agg(F.sum("n_occ").alias("c_big"))
    lp = (
        "CAST(floor(ln((CAST(c_big AS DOUBLE) + 1.0D)"
        f" / (CAST(c_uni AS DOUBLE) + {vocab_v}.0D)) * 1e6 + 0.5) AS BIGINT)"
    )
    scored = (
        docbig.join(big, "bigram")
        .join(uni.withColumnRenamed("token", "w1"), "w1")
        .groupBy("doc_id")
        .agg(
            F.sum("n_occ").cast("long").alias("n_bigrams"),
            F.sum(F.expr(f"n_occ * {lp}")).alias("_slp"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            F.expr(
                stable_round(
                    "exp(-CAST(_slp AS DOUBLE) / (CAST(n_bigrams AS DOUBLE) * 1e6))", 4
                )
            ).alias("perplexity"),
        )
    )
    from ..tables import scalar_join

    corpus = scored.agg(
        F.count(F.lit(1)).cast("long").alias("_n_scored"),
        F.sum(F.expr("CAST(floor(perplexity * 1e4 + 0.5) AS BIGINT)")).alias("_sum_pplq"),
    )
    return (
        scalar_join(docs.select("doc_id").join(scored, "doc_id", "left"), corpus)
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            "perplexity",
            F.expr(
                f"coalesce(CAST({PPL_REL_DEN} AS DECIMAL(38,0))"
                f" * CAST(floor(perplexity * 1e4 + 0.5) AS DECIMAL(38,0))"
                f" * _n_scored <= CAST({PPL_REL_NUM} AS DECIMAL(38,0))"
                f" * _sum_pplq, true)"
            ).alias("keep"),
        )
    )


def token_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus information-theory summary: unigram entropy H(W) and the
    bigram-chain entropy rate H(W₂|W₁) in nats, plus their ratio — the
    redundancy diagnostic (entropy rate far below unigram entropy means
    the corpus is locally predictable: templates, boilerplate, generated
    loops) complementing quality_char_entropy's per-doc character view.

    H(W₂|W₁) = (1/N)·Σ c(w1,w2)·(ln c_ctx(w1) − ln c(w1,w2)) over distinct
    bigrams, with c_ctx the per-context successor total — every ln is
    micro-quantized per DISTINCT n-gram row, the weighted sum runs in
    DECIMAL(38,0) (HUGEINT oracle-side) so it is exact at any corpus size,
    and only the final division is floating point.

    Plan shape at 100 TB: bigram count (flagship shuffle), context count =
    re-aggregate of the bigram model by w1 (model-sized), one short-key
    equi-join of the two, single-row final aggregate."""
    from ..functions.vector import stable_round
    from ..tables import spread

    docs = spread(load_table(spark, sf_dir, "documents"))
    toks = docs.select(F.expr(TOKS_SAFE).alias("toks")).transform(checkpoint, eager=False)
    big = (
        toks.filter(F.expr("size(toks) >= 2"))
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(toks) - 2),"
                    " i -> named_struct('w1', toks[i], 'bigram',"
                    " concat_ws(' ', toks[i], toks[i + 1])))"
                )
            ).alias("b")
        )
        .groupBy("b.w1", "b.bigram")
        .agg(F.count(F.lit(1)).alias("c_big"))
        .transform(checkpoint, eager=False)
    )
    ctx = big.groupBy("w1").agg(F.sum("c_big").alias("c_ctx"))
    lnm = "CAST(floor(ln(CAST({c} AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)"
    bterm = big.join(ctx, "w1").agg(
        F.sum("c_big").alias("n_bigrams"),
        F.sum(
            F.expr(
                f"CAST(c_big AS DECIMAL(38,0)) * ({lnm.format(c='c_ctx')} - {lnm.format(c='c_big')})"
            )
        ).alias("_hb"),
    )
    unig = (
        toks.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # H(W) = ln N − (1/N)·Σ c·ln c: Σ c·L(c) is the exact integer part;
    # L(N) is applied to the SCALAR total in the final projection (the
    # quality_char_entropy identity, sans table cap)
    uterm = unig.agg(
        F.sum("c").alias("n_tokens"),
        F.sum(F.expr(f"CAST(c AS DECIMAL(38,0)) * {lnm.format(c='c')}")).alias("_sclnc"),
    )
    from ..tables import scalar_join

    both = scalar_join(bterm, uterm)
    h_uni = (
        f"CAST(CAST(n_tokens AS DECIMAL(38,0)) * {lnm.format(c='n_tokens')}"
        " - _sclnc AS DOUBLE) / (CAST(n_tokens AS DOUBLE) * 1e6)"
    )
    h_rate = "CAST(_hb AS DOUBLE) / (CAST(n_bigrams AS DOUBLE) * 1e6)"
    return both.select(
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_bigrams").cast("long").alias("n_bigrams"),
        F.expr(
            f"CASE WHEN n_tokens > 0 THEN {stable_round(h_uni, 6)} ELSE NULL END"
        ).alias("unigram_entropy"),
        F.expr(
            f"CASE WHEN n_bigrams > 0 THEN {stable_round(h_rate, 6)} ELSE NULL END"
        ).alias("entropy_rate"),
        F.expr(
            f"CASE WHEN n_tokens > 0 AND n_bigrams > 0 AND ({h_uni}) > 0 THEN "
            + stable_round(f"({h_rate}) / ({h_uni})", 6)
            + " ELSE NULL END"
        ).alias("redundancy_ratio"),
    )
