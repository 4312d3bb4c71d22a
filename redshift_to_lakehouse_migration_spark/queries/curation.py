"""Corpus curation: benchmark-contamination detection.

Before training, every serious LLM data pipeline checks the corpus against
held-out evaluation sets: a document sharing word n-grams with a benchmark
document must be flagged (and usually dropped). This module implements the
standard n-gram-overlap decontamination check as a pure DataFrame plan.

Scale shape: the benchmark side is small by construction (eval sets are
thousands of docs, the corpus is billions), so the gram join broadcasts the
benchmark grams — corpus-side work is one scan + explode + map-side join +
one hash aggregate keyed by doc_id. No corpus×corpus pair ever forms.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import bind
from ..llm.bloom import bloom_filter_grams, build_gram_bloom, with_bloom_bits
from ..llm.dedup import norm_text
from ..tables import SPREAD_TEXT_MIN_BYTES_PER_CORE, load, spread

# Word n-gram width for the contamination check (13 is the published
# GPT-3/PaLM convention; 5 keeps overlap observable on the tiny test corpus).
NGRAM_N = 5

# Synthetic benchmark membership: every 97th document stands in for the
# held-out eval set (deterministic, engine-portable).
BENCH_MOD = 97


def _gram_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document array of distinct word NGRAM_N-grams (map-side only:
    normalize → split → sliding window → array_distinct, no explode).

    Tokenization is the trim-LAST norm (``llm.dedup.norm_text``) split on
    the literal single space: one regex rewrite of the corpus bytes plus
    a trivial split, and no phantom empty edge tokens when text carries
    leading/trailing non-space whitespace (Spark's ``trim`` strips only
    spaces, so the old trim-first forms kept a trailing newline as a
    trailing empty token). The DuckDB oracle mirrors the same order;
    the engine-level whitespace envelope stays pinned in
    tests/test_text_parity.py.

    Size-adaptive spread (r12): the caller localCheckpoints this table,
    so the gram build runs ONCE — repartitioning a SMALL corpus ahead of
    a single narrow pass costs more than it saves (measured ABBA at
    local[32]: contamination_check 1.44 → 1.04 s at 0.59 MB where bare
    wins, 3.39 → 2.73 s at ~3 MB where spread wins). min_bytes takes the
    measured branch at each scale; no-op at cluster scale."""
    d = spread(load(spark, sf_dir, "documents"), spark,
               min_bytes_per_core=SPREAD_TEXT_MIN_BYTES_PER_CORE)
    toks = F.split(norm_text(F.col("text")), " ")
    # bind: tokens as a lambda VARIABLE, not a lambda capture — captures
    # re-evaluate the split+regex per gram index (functions.bind)
    grams = bind(toks, lambda t: F.transform(
        F.sequence(F.lit(1), F.size(t) - (NGRAM_N - 1)),
        lambda i: F.concat_ws(" ", F.slice(t, i, NGRAM_N)),
    ))
    return (
        d.filter(F.size(toks) >= NGRAM_N)
        .select("doc_id", "lang", F.array_distinct(grams).alias("grams"))
    )


def contamination_check(spark: SparkSession, sf_dir: str,
                        bloom_fpp: float | None = None) -> DataFrame:
    """Per-document benchmark contamination: distinct grams, grams shared
    with the benchmark set, and the contaminated flag.

    Plan shape: per-doc gram totals are ``size(grams)`` — computed map-side
    with NO explode or shuffle; the only exploded path is the corpus→
    benchmark gram join (benchmark side broadcast — eval sets are tiny
    next to the corpus), aggregated once by doc_id. The corpus text is
    scanned twice (totals + hits), which at 100 TB beats shuffling an
    exploded gram stream three times.

    ``bloom_fpp``: optionally pre-filter each corpus gram ARRAY before
    the explode with a broadcast Bloom filter over the benchmark grams
    (recall-preserving, hence result-identical; llm/bloom.py,
    tests/test_bloom.py). Default OFF — measured at sf0.1 AND sf1.0,
    the filter is neutral-to-negative here (r6: 2.9s vs 1.9s at sf0.1,
    7.5s vs 7.6s at sf1.0) because this corpus's benchmark gram set is
    tiny (31-word vocabulary -> ~29k distinct grams at sf1.0) and the
    broadcast hash join already drops non-matching grams map-side at
    about the cost of a bloom probe, while the build adds ~1s of fixed
    bench-side work. The filter's real regime is a decontamination
    list too large to broadcast (~>100 MB hash table: full benchmark
    suites + web-overlap lists at 100 TB) where the exact join
    degrades to shuffling every exploded corpus gram; the bloom bits
    stay ~30x smaller than the list and keep the join input to
    candidates only — measured 2.1x on a 2M-gram list vs 40M corpus
    gram rows in tools/bloom_crossover_probe.py."""
    # The gram table is consumed THREE times (benchmark branch + hits
    # explode + totals), so without the checkpoint the scan→normalize→
    # split→sliding-window subtree runs ~2x over the full corpus per
    # action (the benchmark branch prunes to 1/97th of docs first).
    # Measured at sf0.1: 1.15 s → 1.04 s median; the saving is one full
    # corpus gram-build pass, which grows with corpus bytes. Same
    # non-replicated-blocks trade as the shingle checkpoints
    # (llm/dedup.py): at cluster scale, a parquet-materialized gram
    # table (materialize_minhash-style) is the replicated path.
    base = _gram_arrays(spark, sf_dir).localCheckpoint(eager=False)
    is_bench = F.col("doc_id") % BENCH_MOD == 0
    bench_grams = (base.filter(is_bench)
                   .select(F.explode("grams").alias("gram")).distinct())
    corpus = base.filter(~is_bench)
    hits_src, grams_col = corpus, F.col("grams")
    if bloom_fpp is not None:
        # Materialize the (small) benchmark gram set ONCE: the bloom
        # build's two actions and the exact join all read the compact
        # checkpoint instead of re-deriving grams from the corpus scan
        # 3x (measured: the recomputation, not the explode, was the
        # bloom path's overhead at bench scale).
        bench_grams = bench_grams.localCheckpoint(eager=True)
        bloom = build_gram_bloom(bench_grams, fpp=bloom_fpp)
        hits_src = with_bloom_bits(corpus, spark, bloom)
        grams_col = bloom_filter_grams(grams_col, bloom)
    hits = (
        hits_src.select("doc_id", F.explode(grams_col).alias("gram"))
        .join(F.broadcast(bench_grams), "gram")
        .groupBy("doc_id")
        .agg(F.count("*").alias("shared_grams"))
    )
    totals = corpus.select(
        "doc_id", "lang", F.size("grams").cast("long").alias("n_grams"))
    return (
        totals.join(hits, "doc_id", "left")
        .select(
            "doc_id", "lang", "n_grams",
            F.coalesce(F.col("shared_grams"), F.lit(0).cast("long"))
            .alias("shared_grams"),
            (F.coalesce(F.col("shared_grams"), F.lit(0)) > 0)
            .alias("contaminated"),
        )
        .orderBy("doc_id")
    )


QUERIES = {"contamination_check": contamination_check}

_GRAMS = f"""
    SELECT doc_id, lang,
           unnest(list_distinct(list_transform(
               generate_series(1, len(t) - {NGRAM_N - 1}),
               i -> array_to_string(t[i:i+{NGRAM_N - 1}], ' ')))) AS gram
    FROM (
        SELECT doc_id, lang,
               string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'), ' '), ' ') AS t
        FROM documents
    )
    WHERE len(t) >= {NGRAM_N}
"""

ORACLES = {
    "contamination_check": f"""
        WITH grams AS ({_GRAMS}),
        bench AS (
            SELECT DISTINCT gram FROM grams WHERE doc_id % {BENCH_MOD} = 0
        ),
        corpus AS (
            SELECT * FROM grams WHERE doc_id % {BENCH_MOD} <> 0
        ),
        hits AS (
            SELECT c.doc_id, COUNT(*) AS shared_grams
            FROM corpus c JOIN bench b ON c.gram = b.gram
            GROUP BY c.doc_id
        ),
        totals AS (
            SELECT doc_id, lang, COUNT(*) AS n_grams
            FROM corpus GROUP BY doc_id, lang
        )
        SELECT t.doc_id, t.lang, t.n_grams,
               COALESCE(h.shared_grams, 0) AS shared_grams,
               COALESCE(h.shared_grams, 0) > 0 AS contaminated
        FROM totals t LEFT JOIN hits h ON t.doc_id = h.doc_id
        ORDER BY t.doc_id
    """,
}
