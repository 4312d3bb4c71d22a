"""Deduplication operators over arbitrary (id, text) DataFrames.

Scale design (100 TB):
- exact: one hash-groupBy shuffle on a 128-bit content hash.
- n-gram Jaccard: pairwise work is confined to blocks (caller-chosen key);
  never a global cross join.
- MinHash-LSH: signatures via wide min-aggregates (one shuffle, no row
  multiplication), banded bucket join for candidates (shuffle on band key),
  exact Jaccard verify restricted to candidates.
- SimHash: token-bit voting → 64-bit signatures; near-pair search via
  banded equality join + bit_count hamming filter.

All hashing is md5-derived → deterministic across runs, partitionings, and
cluster sizes.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

MERSENNE = (1 << 31) - 1

# A band bucket larger than this switches from all-pairs to a star around
# the bucket's min-doc representative. A degenerate band key — thousands of
# near-identical boilerplate docs, which a web-scale corpus always contains
# — would otherwise emit B² candidate rows on ONE shuffle partition; AQE
# skew-split mitigates but does not bound it. The star keeps every member
# connected to the representative (what downstream clustering needs) at
# B−1 pairs, and the exact verify still scores each pair.
DEFAULT_BUCKET_CAP = 512

# Shingles seen in more than this many docs within a block carry no
# discriminating signal (boilerplate) but quadratic join cost; they are
# dropped from BOTH the pair join and the per-doc size denominators, so
# Jaccard stays internally consistent. Mirrored in the DuckDB oracles.
DEFAULT_SHINGLE_DF_CAP = 1024


def norm_text(text: str | Column) -> Column:
    """Lowercase + whitespace-collapse + trim LAST (the dedup normalizer).

    The trim runs AFTER the collapse: Spark's (and DuckDB's) ``trim``
    strips only ASCII spaces, so trimming first left a trailing
    newline/tab behind as a trailing space — "hello world" and
    "hello world\\n" got different content hashes, silently defeating
    exact dedup and prefix-block assignment for the most common text
    variation there is. Collapsing first turns every edge run into a
    space that the trim then removes; the DuckDB oracle twin mirrors
    the same order.

    Cross-engine parity envelope (pinned in tests/test_text_parity.py):
    identical to the DuckDB oracle twin for text whose separators are
    {space, tab, newline, CR, FF} and whose letters case-fold 1:1 —
    which covers the whole driver corpus. Known divergences outside it:
    Java ``\\s`` includes \\x0B where RE2's does not, and Java lowercases
    İ (U+0130) to i+combining-dot where utf8proc yields plain i."""
    c = F.col(text) if isinstance(text, str) else text
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def ws_token_count(text: str | Column) -> Column:
    """Whitespace token count with trim-last semantics (see
    :func:`norm_text` — no case change): collapse runs to single spaces,
    trim, split on the single space. Counting ``split(trim(x), '\\s+')``
    instead would hand a phantom empty token to any doc with a trailing
    newline. Empty/whitespace-only text counts 1 (``split('') = ['']``)
    identically in both engines; callers exclude it with their emptiness
    filters."""
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.split(F.trim(F.regexp_replace(c, r"\s+", " ")), " "))


def shingles(docs: DataFrame, id_col: str, norm_col: str,
             k: int = 3) -> DataFrame:
    """id → distinct k-token shingles (distributed explode).

    The token array is bound as a lambda VARIABLE (``functions.bind``) —
    a captured ``__toks`` column risks being inlined back into the
    lambda by projection collapsing, where it would re-split the whole
    document per shingle index (quadratic in document size)."""
    from ..functions import bind
    sh = bind(F.split(norm_col, " "), lambda t: F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(t) - (k - 1), F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(t, i, k))))
    return docs.select(F.col(id_col).alias("doc_id"),
                       F.explode(F.array_distinct(sh)).alias("shingle"))


def shingle_hash(shingle: str | Column = "shingle") -> Column:
    """md5 hex → 60-bit integer, reduced mod 2^31−1 (universal-hash domain)."""
    return (F.conv(F.substring(F.md5(shingle), 1, 15), 16, 10).cast("long")
            % MERSENNE)


def make_permutations(n_perm: int, seed: int = 42) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    return [(rng.randrange(1, MERSENNE), rng.randrange(0, MERSENNE))
            for _ in range(n_perm)]


def exact_duplicates(docs: DataFrame, id_col: str,
                     text_col: str) -> DataFrame:
    """Exact dedup groups: content hash → keeper id + member count."""
    return (
        docs.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col).alias("doc_id"),
                F.md5(norm_text(text_col)).alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("keeper_doc_id"),
             F.count("*").alias("member_count"),
             F.max("doc_id").alias("max_doc_id"))
        .withColumn("has_duplicates", F.col("member_count") > 1)
    )


def capped_shingle_blocks(sh: DataFrame, blocks: DataFrame,
                          shingle_df_cap: int = DEFAULT_SHINGLE_DF_CAP,
                          ) -> DataFrame:
    """(doc_id, shingle, block) with the boilerplate DF cap applied.

    Shingles with within-block document frequency above ``shingle_df_cap``
    are excluded from the pair join AND the size denominators: a shingle
    shared by d docs costs d² join rows on one partition, and past the cap
    it is boilerplate with no discriminating power (identical docs are the
    exact-dup fast path's job, not Jaccard's). One extra window pass over
    the shingle shuffle — linear state, no new shuffle key.

    This is the table to MATERIALIZE at scale: :func:`jaccard_pairs_from_
    capped` consumes it three times (pair join ×2, size denominators), so
    writing it to parquet once replaces three corpus re-shingles with three
    reads of a compact signature table."""
    sh = sh.join(blocks, "doc_id")
    w_df = Window.partitionBy("block", "shingle")
    return (sh.withColumn("__df", F.count(F.lit(1)).over(w_df))
            .filter(F.col("__df") <= shingle_df_cap).drop("__df"))


def jaccard_pairs_from_capped(sh: DataFrame, threshold: float) -> DataFrame:
    """Pairwise Jaccard from a pre-capped (doc_id, shingle, block) table
    (see :func:`capped_shingle_blocks`). Returns pairs ≥ threshold."""
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    a, b = sh.alias("a"), sh.alias("b")
    pairs = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.block") == F.col("b.block"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_id_1"),
                 F.col("b.doc_id").alias("doc_id_2"))
        .agg(F.count("*").alias("shared_shingles"))
    )
    s1 = sizes.select(F.col("doc_id").alias("doc_id_1"),
                      F.col("n_shingles").alias("n_shingles_1"))
    s2 = sizes.select(F.col("doc_id").alias("doc_id_2"),
                      F.col("n_shingles").alias("n_shingles_2"))
    jac = (F.col("shared_shingles")
           / (F.col("n_shingles_1") + F.col("n_shingles_2")
              - F.col("shared_shingles")))
    return (
        pairs.join(s1, "doc_id_1").join(s2, "doc_id_2")
        .select("doc_id_1", "doc_id_2", "shared_shingles",
                "n_shingles_1", "n_shingles_2", jac.alias("jaccard"))
        .filter(jac >= threshold)
    )


def jaccard_pairs(sh: DataFrame, blocks: DataFrame, threshold: float,
                  shingle_df_cap: int = DEFAULT_SHINGLE_DF_CAP) -> DataFrame:
    """Pairwise Jaccard within blocks, inline. ``sh``: (doc_id, shingle);
    ``blocks``: (doc_id, block). Returns pairs ≥ threshold. Composition of
    :func:`capped_shingle_blocks` + :func:`jaccard_pairs_from_capped`; at
    cluster scale, materialize the capped table to PARQUET between the two
    instead (see :func:`capped_shingle_blocks`).

    The capped table is localCheckpointed in-plan:
    :func:`jaccard_pairs_from_capped` consumes it THREE times (both
    pair-join sides + the size denominators), so without it the whole
    scan→normalize→shingle→window subtree runs 3-4× per action (measured
    at sf0.1: 1.60 s → 1.34 s median with the checkpoint; plan Exchanges
    42 → 15). Same non-replicated-block caveat as
    :func:`capped_band_candidates`."""
    capped = capped_shingle_blocks(sh, blocks, shingle_df_cap)
    return jaccard_pairs_from_capped(capped.localCheckpoint(eager=False),
                                     threshold)


def minhash_band_keys(sh: DataFrame, perms: list[tuple[int, int]],
                      band_rows: int) -> DataFrame:
    """(doc_id, sig_hash, band_id, band_key) via wide min-aggregate
    signatures — one shuffle, no per-permutation row multiplication.
    ``sig_hash`` is a hash of the FULL signature (all bands concatenated);
    :func:`capped_band_candidates` uses it as the per-group star key so
    identical-signature docs in an oversized bucket pair directly."""
    n_perm = len(perms)
    n_bands = n_perm // band_rows
    sig = (
        sh.withColumn("h", shingle_hash())
        .groupBy("doc_id")
        .agg(*[F.min((F.lit(a) * F.col("h") + F.lit(b)) % MERSENNE)
               .alias(f"s{i}") for i, (a, b) in enumerate(perms)])
    )
    band_cols = [
        F.md5(F.concat_ws(",", *[
            f"s{i}" for i in range(j * band_rows, (j + 1) * band_rows)]))
        .alias(f"band_{j}")
        for j in range(n_bands)
    ]
    wide = sig.select("doc_id", *band_cols)
    sig_hash = F.md5(F.concat_ws(
        ",", *[f"band_{j}" for j in range(n_bands)])).alias("sig_hash")
    stack_args = ", ".join(f"{j}, band_{j}" for j in range(n_bands))
    return wide.select("doc_id", sig_hash, *[
        f"band_{j}" for j in range(n_bands)
    ]).selectExpr(
        "doc_id", "sig_hash",
        f"stack({n_bands}, {stack_args}) AS (band_id, band_key)")


def capped_band_candidates(bands: DataFrame, bucket_cap: int | None,
                           payload: tuple[str, ...] = (),
                           group_col: str | None = None,
                           distinct: bool = True,
                           broadcast_sizes: bool = False,
                           materialize: bool = True) -> DataFrame:
    """Candidate pairs from a banded signature table, with bounded
    per-bucket fan-out. ``bands``: (doc_id, band_id, band_key, *payload).

    ``bucket_cap=None`` disables the cap entirely: plain all-pairs
    self-join on the band key with NO size aggregate and NO oversized
    branches in the plan — exact bucket semantics at the smallest plan.
    That is the right mode when results must match an uncapped
    all-pairs oracle, or when the input is known boilerplate-free; the
    capped default is the 100 TB scale path.

    Buckets of ≤ ``bucket_cap`` docs self-join all-pairs as usual. An
    OVERSIZED bucket (degenerate band key: boilerplate near-identical docs
    en masse) emits stars instead of all-pairs, so its candidate count is
    B−1, not B(B−1)/2. Bucket sizes and representative ids come from a
    SLIM aggregate over (doc_id, keys) only — payload columns (embeddings!)
    never enter aggregation state; representative payloads are fetched by
    joining the (normally empty) oversized side back to ``bands``.

    Star topology — and the recall contract it buys:

    - With ``group_col`` (a full-signature hash column present in
      ``bands``): one star per signature group around the group's min-doc
      representative, plus a star of group representatives around the
      bucket's min-doc representative. Same B−1 total, but members with
      IDENTICAL signatures are paired directly, so a mixed bucket (a band
      collision joining several distinct boilerplate families) still
      verifies each family internally even when the cross-family
      (bucket-rep, group-rep) pairs fail the exact verify.
    - Without ``group_col``: a single star around the bucket's min-doc
      representative. "Every member stays reachable" then holds only for
      HOMOGENEOUS buckets — in a mixed bucket, members whose pair with the
      representative fails the verify lose their intra-family edges.

    Residual (documented) recall loss in both modes: similar-but-not-
    identical members of a mixed oversized bucket are only reachable
    through representative pairs; if those fail the verify, that family's
    near-dups in THIS bucket are dropped (other bands can still recover
    them). This is the deliberate price of bounding a degenerate bucket to
    B−1 candidates.

    ``payload`` columns ride along as ``<col>_1``/``<col>_2`` (star
    representatives contribute the ``_1`` side). ``distinct=False`` skips
    the cross-band pair dedup — correct whenever each doc appears in at
    most one bucket per band_id (e.g. single-band sign-LSH), saving a
    shuffle of the candidate payload.

    ``broadcast_sizes=True`` broadcasts the per-bucket size table into the
    annotation join (no shuffle of the band table) — correct ONLY when the
    key space is bounded (sign-LSH: ≤ 2^planes buckets); MinHash band keys
    scale with the corpus and must keep the shuffle join.
    ``materialize=False`` skips the band-table localCheckpoint — right when
    the upstream subtree is a cheap projection or already a parquet scan
    (re-reading compact files beats holding checkpoint blocks); keep the
    default for expensive signatures (MinHash wide min-agg), which
    otherwise recompute per plan branch. Caveat of the default:
    localCheckpoint blocks are NOT replicated, so losing an executor
    mid-job fails the job (it restarts from the source) instead of
    recomputing the lost blocks — parquet-backed inputs with
    ``materialize=False`` avoid that failure mode entirely.
    """
    keys = ["band_id", "band_key"]
    if materialize:
        # The band table feeds 3+ plan branches (size aggregate, both
        # sides of the small self-join, the oversized side); materialize
        # it ONCE to executor-local storage so branches read cached blocks
        # instead of recomputing signatures per branch — the in-plan
        # equivalent of `materialize_minhash`'s parquet table.
        bands = bands.localCheckpoint(eager=False)
    if bucket_cap is None:
        # Uncapped: the self-join IS the candidate set. No size table,
        # no annotation join, no (empty) oversized branches to plan.
        cand = (
            bands.alias("x").join(
                bands.alias("y"),
                (F.col("x.band_id") == F.col("y.band_id"))
                & (F.col("x.band_key") == F.col("y.band_key"))
                & (F.col("x.doc_id") < F.col("y.doc_id")))
            .select(F.col("x.doc_id").alias("doc_id_1"),
                    F.col("y.doc_id").alias("doc_id_2"),
                    *[F.col(f"x.{c}").alias(f"{c}_1") for c in payload],
                    *[F.col(f"y.{c}").alias(f"{c}_2") for c in payload])
        )
        return cand.distinct() if distinct else cand
    slim_cols = ["doc_id", *keys] + (
        [group_col] if group_col and group_col not in keys else [])
    slim = bands.select(*slim_cols)
    # One row per bucket: size + min-doc representative id. Ids only — a
    # hash aggregate with two long-ish state slots per bucket.
    sizes = slim.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("__bn"),
        F.min("doc_id").alias("__rep_id"))
    ann = bands.join(F.broadcast(sizes) if broadcast_sizes else sizes, keys)
    small = ann.filter(F.col("__bn") <= bucket_cap)
    # The y side stays UNFILTERED raw bands: both members of a candidate
    # pair share a bucket, so the x-side size filter already decides the
    # pair — one fewer size-join branch in the plan.
    cand_small = (
        small.alias("x").join(
            bands.alias("y"),
            (F.col("x.band_id") == F.col("y.band_id"))
            & (F.col("x.band_key") == F.col("y.band_key"))
            & (F.col("x.doc_id") < F.col("y.doc_id")))
        .select(F.col("x.doc_id").alias("doc_id_1"),
                F.col("y.doc_id").alias("doc_id_2"),
                *[F.col(f"x.{c}").alias(f"{c}_1") for c in payload],
                *[F.col(f"y.{c}").alias(f"{c}_2") for c in payload])
    )
    big = ann.filter(F.col("__bn") > bucket_cap)

    def rep_payload(rows: DataFrame, extra_keys: list[str]) -> DataFrame:
        """Representative rows keyed for payload_1 lookup."""
        return rows.select(
            *keys, *extra_keys,
            *[F.col(c).alias(f"{c}_1") for c in payload])

    if group_col is None:
        reps = rep_payload(big.filter(F.col("doc_id") == F.col("__rep_id")),
                           [])
        cand_big = (
            big.filter(F.col("doc_id") > F.col("__rep_id"))
            .join(reps, keys)
            .select(F.col("__rep_id").alias("doc_id_1"),
                    F.col("doc_id").alias("doc_id_2"),
                    *[f"{c}_1" for c in payload],
                    *[F.col(c).alias(f"{c}_2") for c in payload])
        )
    else:
        # Per-group representative ids — again ids only, and only for
        # oversized buckets (an empty aggregate in the common case).
        gsizes = (slim.join(sizes.filter(F.col("__bn") > bucket_cap)
                            .select(*keys), keys)
                  .groupBy(*keys, group_col)
                  .agg(F.min("doc_id").alias("__grep_id")))
        bigg = big.join(gsizes, [*keys, group_col])
        grep_rows = bigg.filter(F.col("doc_id") == F.col("__grep_id"))
        members = (
            bigg.filter(F.col("doc_id") > F.col("__grep_id"))
            .join(rep_payload(grep_rows, [group_col]),
                  [*keys, group_col])
            .select(F.col("__grep_id").alias("doc_id_1"),
                    F.col("doc_id").alias("doc_id_2"),
                    *[f"{c}_1" for c in payload],
                    *[F.col(c).alias(f"{c}_2") for c in payload])
        )
        group_reps = (
            grep_rows.filter(F.col("doc_id") > F.col("__rep_id"))
            .join(rep_payload(big.filter(F.col("doc_id")
                                         == F.col("__rep_id")), []),
                  keys)
            .select(F.col("__rep_id").alias("doc_id_1"),
                    F.col("doc_id").alias("doc_id_2"),
                    *[f"{c}_1" for c in payload],
                    *[F.col(c).alias(f"{c}_2") for c in payload])
        )
        cand_big = members.unionByName(group_reps)
    cand = cand_small.unionByName(cand_big)
    return cand.distinct() if distinct else cand


def _lsh_candidate_verify(sh: DataFrame, bands: DataFrame, threshold: float,
                          bucket_cap: int | None = DEFAULT_BUCKET_CAP,
                          materialize: bool = True) -> DataFrame:
    """Shared LSH tail: banded candidate self-join (bucket-capped) →
    exact-Jaccard verify restricted to candidates. ``sh``:
    (doc_id, shingle); ``bands``: (doc_id, band_id, band_key[, sig_hash]).
    sig_hash (absent in band tables materialized before it existed) turns
    oversized-bucket stars into per-signature-group stars.
    ``materialize=False`` when ``bands`` is already parquet-backed."""
    group = "sig_hash" if "sig_hash" in bands.columns else None
    cand = capped_band_candidates(bands, bucket_cap, group_col=group,
                                  materialize=materialize)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    shared = (
        cand.join(sh.alias("s1"), F.col("doc_id_1") == F.col("s1.doc_id"))
        .join(sh.alias("s2"),
              (F.col("doc_id_2") == F.col("s2.doc_id"))
              & (F.col("s1.shingle") == F.col("s2.shingle")))
        .groupBy("doc_id_1", "doc_id_2")
        .agg(F.count("*").alias("shared"))
    )
    n1 = sizes.select(F.col("doc_id").alias("doc_id_1"),
                      F.col("n").alias("n1"))
    n2 = sizes.select(F.col("doc_id").alias("doc_id_2"),
                      F.col("n").alias("n2"))
    jac = F.col("shared") / (F.col("n1") + F.col("n2") - F.col("shared"))
    return (
        cand.join(shared, ["doc_id_1", "doc_id_2"], "left")
        .join(n1, "doc_id_1").join(n2, "doc_id_2")
        .select("doc_id_1", "doc_id_2",
                F.coalesce("shared", F.lit(0)).alias("shared_shingles"),
                F.coalesce(jac, F.lit(0.0)).alias("jaccard"))
        .filter(F.coalesce(jac, F.lit(0.0)) >= threshold)
        # no orderBy here: this is the scale path, and a corpus-wide sort
        # of the pair set exists only for presentation — downstream
        # consumers (components, keeper filters) re-shuffle by key anyway;
        # the driver-facing query wrappers sort for deterministic output
    )


def _normed_docs(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    return (
        docs.filter(F.col(text_col).isNotNull()
                    & (F.col(text_col).rlike(r"\S")))
        .select(F.col(id_col).alias("doc_id"),
                norm_text(text_col).alias("norm"))
    )


def minhash_lsh_pairs(docs: DataFrame, id_col: str, text_col: str,
                      n_perm: int = 32, band_rows: int = 4,
                      threshold: float = 0.5, k: int = 3,
                      seed: int = 42) -> DataFrame:
    """Near-dup pairs, inline: shingle → band → candidates → verify in one
    plan. The shingle table is localCheckpointed: the verify stage joins
    it twice and the size denominators read it once more on top of the
    signature build — 4 evaluations of the scan→normalize→shingle explode
    per action without the checkpoint (re-measured r11: 2.36 s → 2.23 s
    median at sf0.1, and the effect compounds at larger SFs where the
    corpus re-scan dominates). At cluster scale, use
    :func:`materialize_minhash` + :func:`minhash_pairs_from_tables`
    instead — one corpus scan total, parquet-backed (replicated) tables."""
    sh = shingles(_normed_docs(docs, id_col, text_col), "doc_id", "norm",
                  k=k).localCheckpoint(eager=False)
    bands = minhash_band_keys(sh, make_permutations(n_perm, seed), band_rows)
    return _lsh_candidate_verify(sh, bands, threshold)


def materialize_minhash(docs: DataFrame, id_col: str, text_col: str,
                        out_dir: str, n_perm: int = 32, band_rows: int = 4,
                        k: int = 3, seed: int = 42) -> dict[str, str]:
    """Scale path, step 1: scan the corpus ONCE, write the shingle set to
    parquet, then derive band keys from the *written* shingles (no second
    corpus scan) and write those too. At 100 TB this replaces the inline
    path's 3–4 corpus re-scans with one scan + two small signature tables
    that downstream dedup (and future incremental batches) join against.
    Returns the table paths."""
    spark = docs.sparkSession
    sh_path = f"{out_dir}/minhash_shingles"
    band_path = f"{out_dir}/minhash_bands"
    sh = shingles(_normed_docs(docs, id_col, text_col), "doc_id", "norm", k=k)
    sh.write.mode("overwrite").parquet(sh_path)
    sh_t = spark.read.parquet(sh_path)
    bands = minhash_band_keys(sh_t, make_permutations(n_perm, seed),
                              band_rows)
    bands.write.mode("overwrite").parquet(band_path)
    return {"shingles": sh_path, "bands": band_path}


def minhash_pairs_from_tables(spark, paths: dict[str, str],
                              threshold: float = 0.5) -> DataFrame:
    """Scale path, step 2: near-dup pairs from materialized signature
    tables — identical pair set to :func:`minhash_lsh_pairs` (asserted in
    test_dedup.py), but every consumer reads the compact parquet tables
    instead of re-shingling the corpus. ``materialize=False``: the band
    table is already a compact parquet scan, so a localCheckpoint would
    only duplicate it into non-replicated executor storage (and an
    executor loss would then fail the job instead of re-reading files)."""
    sh = spark.read.parquet(paths["shingles"])
    bands = spark.read.parquet(paths["bands"])
    return _lsh_candidate_verify(sh, bands, threshold, materialize=False)


def simhash_signatures(docs: DataFrame, id_col: str,
                       text_col: str) -> DataFrame:
    """60-bit SimHash per document via token bit voting, plus 15-bit band
    keys for hamming-neighbor blocking.

    Votes are computed as ONE wide aggregate (60 sum columns, the same
    shape as the MinHash wide min-agg): per token occurrence, bit i of the
    token hash contributes +1/−1 to vote i. Frequency weighting is implicit
    — summing ±1 per occurrence equals summing w·(±1) per distinct token —
    so there is no (doc, token) pre-aggregation and, critically, no
    60-rows-per-token explode (round 1's top dedup cost driver). Exactly
    one shuffle (partial+final hash agg on doc_id); signatures are
    bit-identical to the exploding formulation (test_dedup.py asserts so).
    """
    normed = (
        docs.filter(F.col(text_col).isNotNull()
                    & (F.col(text_col).rlike(r"\S")))
        .select(F.col(id_col).alias("doc_id"),
                norm_text(text_col).alias("norm"))
    )
    toks = (
        normed.select("doc_id", F.explode(F.split("norm", " ")).alias("tok"))
        .withColumn(
            "h", F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10)
                  .cast("long"))
    )
    # votes carried as plain bit-sums + one count: vote_i = 2·sum(bit_i)−n,
    # so "vote_i > 0" ⟺ "2·sum(bit_i) > n" — integer-identical signatures
    # (asserted vs the ±1 formulation, r11) with 60 fewer multiply/subtract
    # expressions per token OCCURRENCE in the aggregate update path, the
    # row-count-proportional part of the whole SimHash pass (guide §1.2
    # step 2).
    votes = toks.groupBy("doc_id").agg(
        *[F.sum(F.expr(f"CAST(shiftright(h, {i}) & 1 AS INT)"))
          .alias(f"b{i}") for i in range(60)],
        F.count(F.lit(1)).alias("__n"))
    sig = F.expr(" + ".join(
        f"IF(2 * b{i} > __n, shiftleft(CAST(1 AS BIGINT), {i}), "
        "CAST(0 AS BIGINT))"
        for i in range(60)))
    return (
        votes.select("doc_id", sig.alias("simhash"))
        .select("doc_id", "simhash",
                (F.col("simhash") % 32768).alias("band_0"),
                (F.shiftright("simhash", 15) % 32768).alias("band_1"),
                (F.shiftright("simhash", 30) % 32768).alias("band_2"),
                (F.shiftright("simhash", 45) % 32768).alias("band_3"))
    )


def simhash_near_pairs(signatures: DataFrame, max_hamming: int = 3,
                       bucket_cap: int = DEFAULT_BUCKET_CAP) -> DataFrame:
    """Hamming-near pairs via banded equality join: any shared band →
    candidate; bit_count(xor) filter verifies. The band count is DERIVED
    from ``max_hamming`` (``max_hamming + 1`` bands over the 60 signature
    bits), so the pigeonhole guarantee — a pair within the distance bound
    shares at least one unchanged band — holds for EVERY accepted
    ``max_hamming``, not just the 4-band/distance-3 special case (a fixed
    4-band split silently dropped distance-4..6 pairs whose differing
    bits spread across all four bands). ``max_hamming=3`` reproduces the
    classic 4×15-bit split bit-for-bit. Full recall applies to buckets
    within ``bucket_cap``; oversized buckets (mass-duplicated
    boilerplate) degrade to star-to-representative candidates via
    :func:`capped_band_candidates`, bounding the fan-out.

    Bands are unpivoted with ``stack`` so candidate generation is ONE
    equality self-join on (band_id, band_key) instead of per-band joins
    unioned — one shuffle, and the signature input is scanned twice."""
    n_bands = max_hamming + 1
    if not 1 <= n_bands <= 60:
        raise ValueError(f"max_hamming must be in [0, 59]: {max_hamming}")
    width = 60 // n_bands
    parts = []
    for i in range(n_bands):
        shift = i * width
        w = width if i < n_bands - 1 else 60 - shift
        parts.append(f"{i}, CAST(shiftright(simhash, {shift}) "
                     f"& {(1 << w) - 1} AS BIGINT)")
    bands = signatures.selectExpr(
        "doc_id", "simhash",
        f"stack({n_bands}, {', '.join(parts)}) AS (band_id, band_key)")
    cand = capped_band_candidates(bands, bucket_cap, payload=("simhash",),
                                  group_col="simhash")
    dist = F.bit_count(F.col("simhash_1").bitwiseXOR(F.col("simhash_2")))
    return (
        cand.filter(dist <= max_hamming)
        .select("doc_id_1", "doc_id_2", dist.alias("hamming_distance"))
    )
