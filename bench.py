"""Benchmark harness: runs the engine's registered queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
and prints ONE JSON line:
  {"metric": ..., "value": total_sec, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ...}

Each query executes fully via the no-op sink (count() would let Spark skip
column materialization; noop forces the whole plan) after a shared-session
warmup query to amortize JVM startup out of per-query numbers.

Every entry (queries AND the two end-to-end pipelines) runs
$SPARK_GRAFT_BENCH_REPS times (default 3) and reports the per-entry
MEDIAN — single-shot numbers on a shared VM carry ±40% noise, and medians
are the defensible round-over-round comparison unit.  Entries whose
first-pass median lands under 1 s re-run to a median of 7: the sub-second
tier is where cross-round host noise has repeatedly mimicked regressions
(r4–r6 verdicts each did host forensics on byte-identical entries), and
extra reps there are nearly free.

Self-attribution (VERDICT r6 #2): a pinned synthetic canary — 10M-row
JVM-side hash/group/sort that never touches the engine or the data dir —
runs first and last, and its timings ship in the JSON (`canary_s`).  Any
cross-round comparison can divide per-entry medians by the canary ratio
to separate "the code got slower" from "the host got slower"; a
first-vs-last canary gap also exposes in-run drift (thermal/neighbor
load) that per-entry medians alone can't show.

Two-artifact emission (r8): the recorder that turns this stdout into
BENCH_r{N}.json keeps only the LAST 2000 characters (`tail`) and a
`parsed` field that has been None since r2 because the full-registry
JSON line outgrew that window — r7's artifact silently lost the ~40
alphabetically-first query medians, and adding the 100-entry
`entry_started_s` map would have pushed the canary trio and EVERY query
median out of the r8 artifact.  So: the COMPLETE result (all medians,
start offsets, per-entry rep spreads) is written to
`BENCH_FULL_LATEST.json` next to this script, and stdout carries a
compact line (hard-capped < 1900 chars by `_emit`, so the recorder's
tail holds the WHOLE line and `parsed` round-trips) with the canary
trio, totals, and the slowest `TOP_N` entries' medians + offsets —
the subset every round's verdict actually discusses.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from redshift_to_lakehouse_migration_spark.queries import ORACLES, QUERIES
from redshift_to_lakehouse_migration_spark.session import get_spark


def _median(xs: list[float]) -> float:
    s = sorted(xs)
    n = len(s)
    mid = s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2
    return round(mid, 3)


def _codegen_compiles(spark) -> int:
    """Generated classes compiled so far in this JVM (Spark's
    ``CodegenMetrics``); a class served from the codegen cache adds
    none."""
    return (spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
            .METRIC_COMPILATION_TIME().getCount())


FULL_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "BENCH_FULL_LATEST.json")
# stdout budget: the BENCH recorder stores tail = stdout[-2000:]; the line
# must fit WHOLE in that window or the recorder's `parsed` is None and the
# artifact keeps only whatever key order left in the last 2000 chars
# (r2–r7 all lost data this way).  1900 leaves headroom for a trailing
# newline and any recorder-side framing.
LINE_BUDGET = 1900
TOP_N = 12


def _emit(full: dict) -> str:
    """Write the complete result to ``FULL_PATH`` and return the compact
    stdout line (< LINE_BUDGET chars, guaranteed by construction: the
    slowest-entry subset shrinks until the line fits).

    The compact line keeps the recorder-critical scalars LAST in key
    order, so even a future recorder with a smaller tail window keeps
    `value` and the canary trio; the bulky per-entry maps list only the
    ``TOP_N`` slowest entries (medians + start offsets) — the headline
    set each verdict reads — with `queries_omitted` counting the rest
    and `full` naming the artifact that has everything."""
    with open(FULL_PATH, "w") as f:
        json.dump(full, f, indent=1)
        f.write("\n")
    ranked = sorted(full["queries"], key=lambda n: -full["queries"][n])
    top_n = TOP_N
    while True:
        top = ranked[:top_n]
        line = json.dumps({
            "metric": full["metric"],
            "unit": full["unit"],
            "sf": full["sf"],
            "n_queries": full["n_queries"],
            "reps": full["reps"],
            "notes": full["notes"],
            "queries": {n: full["queries"][n] for n in top},
            "entry_started_s": {n: full["entry_started_s"][n]
                                for n in top
                                if n in full["entry_started_s"]},
            "queries_omitted": len(full["queries"]) - len(top),
            "full": os.path.basename(FULL_PATH),
            "subsec_entries": full["subsec_entries"],
            "subsec_spread_median": full["subsec_spread_median"],
            "subsec_spread_max": full["subsec_spread_max"],
            # registry_n/oracle_n (VERDICT r11 #7): a shrunken registry or
            # oracle set is machine-detectable from the one-line JSON —
            # "queries dropped = 0" no longer requires reading the full
            # artifact (the stdout `queries` map lists only TOP_N slowest,
            # which churns every round)
            "registry_n": full["registry_n"],
            "oracle_n": full["oracle_n"],
            "canary_last_started_s": full["canary_last_started_s"],
            "canary_first_s": full["canary_first_s"],
            "canary_last_s": full["canary_last_s"],
            "canary_s": full["canary_s"],
            "value": full["value"],
        })
        if len(line) < LINE_BUDGET:
            return line
        if top_n == 0:
            # even with zero entries the fixed metadata + notes exceed
            # the budget — truncating notes keeps the recorder contract
            # (ADVICE r8: silently returning an over-budget line would
            # reintroduce the r2-r7 tail truncation this exists to fix)
            overshoot = len(line) - (LINE_BUDGET - 1)
            notes = full["notes"]
            # <= overshoot + 3, not <= overshoot: the replacement appends
            # a 3-char ellipsis, so a notes length within 3 of the
            # overshoot would make the slice index negative and GROW the
            # notes each iteration — an infinite loop instead of the
            # loud failure (ADVICE r9)
            if len(notes) <= overshoot + 3:
                raise RuntimeError(
                    f"bench line over LINE_BUDGET ({len(line)} >= "
                    f"{LINE_BUDGET}) with zero query entries and the notes "
                    f"({len(notes)} chars) too short to absorb the "
                    f"{overshoot}-char overshoot — shrink the fixed "
                    "metadata")
            full = dict(full, notes=notes[:len(notes) - overshoot - 3]
                        + "...")
            top_n = 0
            continue
        top_n -= 1


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # strict sf-label parse: a dir like .../sf0.1_v2 or /data/run1 must
    # not record a garbage scale factor that later pairs timings across
    # scales — fall back to the honest directory basename
    import re
    _m = re.search(r"sf([0-9]*\.?[0-9]+)$", sf_dir.rstrip("/"))
    sf = _m.group(1) if _m else os.path.basename(sf_dir.rstrip("/"))
    try:
        _sf_num = float(sf)
    except ValueError:
        _sf_num = None
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
    spark = get_spark("bench")

    # JVM/codegen/FileSystem warmup — not timed (standard bench practice:
    # the first parquet scan pays one-time Hadoop FS + codegen init that
    # would otherwise land on whichever query sorts first)
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    from redshift_to_lakehouse_migration_spark.tables import load
    load(spark, sf_dir, "lineitem").selectExpr("count(*)").collect()

    def canary() -> float:
        """Pinned host-speed workload: NEVER change this (its whole value
        is byte-identical work across rounds).  10M rows, a multiplicative
        hash into 2^20 groups, hash aggregate, sort of the 1M groups —
        JVM-side only, no files, no engine code, ~1-2 s on the reference
        host."""
        t0 = time.perf_counter()
        (spark.range(10_000_000)
         .selectExpr("(id * 2654435761) % 1048576 AS k", "id % 9973 AS v")
         .groupBy("k").sum("v")
         .orderBy("k")
         .write.format("noop").mode("overwrite").save())
        return round(time.perf_counter() - t0, 3)

    canary()  # untimed: the first canary pays groupBy/sort codegen init
    # (measured 6.4 s vs 2.8 s steady-state) — timing it would fold JIT
    # warmup into the host-speed signal
    run_start = time.perf_counter()
    canary_first = canary()

    def run_once(name: str) -> float:
        t0 = time.perf_counter()
        df = QUERIES[name](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    import gc

    timings: dict[str, float] = {}
    spreads: dict[str, float] = {}
    # per-entry start offset from the first timed canary (VERDICT r7 #4):
    # the r6/r7 "regressions" were end-of-run entries on a drifting host,
    # attributed only by alphabetical inference; with each entry's start
    # offset in the artifact, canary drift maps onto entries mechanically
    started: dict[str, float] = {}
    # generated classes compiled during each entry's reps: after the
    # first rep a warm codegen cache should compile (almost) nothing
    compiles: dict[str, int] = {}
    subsec_reps = max(reps, 7)
    for name in sorted(QUERIES):
        started[name] = round(time.perf_counter() - run_start, 1)
        c0 = _codegen_compiles(spark)
        runs = [run_once(name) for _ in range(reps)]
        if _median(runs) < 1.0:
            # sub-second tier: extend to a median of 7 — these entries'
            # cross-round deltas have repeatedly been host noise, and
            # 4 extra sub-second runs cost ~2 s each entry
            runs += [run_once(name) for _ in range(subsec_reps - len(runs))]
        compiles[name] = _codegen_compiles(spark) - c0
        med = _median(runs)
        timings[name] = med
        spreads[name] = round((max(runs) - min(runs)) / med, 3) if med else 0.0
        # Release dropped DataFrame refs promptly so the ContextCleaner
        # unpersists localCheckpoint/cache blocks between entries —
        # otherwise earlier queries' cached blocks add GC pressure to
        # every later entry's timing.
        gc.collect()

    # End-to-end medallion pipeline (BASELINE.md bench plan): generate the
    # reference's default scale (10k policies, seed 42 —
    # sample_data/generate_sample_data.py:274) and run bronze→silver→gold
    # through the DAG runner, publishing bronze + partitioned fact_claims.
    import shutil
    import tempfile

    from redshift_to_lakehouse_migration_spark import datagen
    from redshift_to_lakehouse_migration_spark.medallion.flow import (
        build_medallion_pipeline,
    )

    tmp = tempfile.mkdtemp(prefix="medallion_bench_")
    pipeline_runs = []
    try:
        datagen.generate(f"{tmp}/raw", n_policies=10_000, seed=42)
        started["medallion_pipeline_10k"] = round(
            time.perf_counter() - run_start, 1)
        c0 = _codegen_compiles(spark)
        for rep in range(reps):
            t0 = time.perf_counter()
            pipe = build_medallion_pipeline(spark, f"{tmp}/raw",
                                            f"{tmp}/warehouse_{rep}",
                                            "2024-06-01")
            outputs, _ = pipe.run(max_workers=4)
            for df in outputs.values():  # execute every unmaterialized node
                df.write.format("noop").mode("overwrite").save()
            pipeline_runs.append(time.perf_counter() - t0)
        compiles["medallion_pipeline_10k"] = _codegen_compiles(spark) - c0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    pipeline_sec = _median(pipeline_runs)

    # End-to-end corpus-prep pipeline (the LLM-side medallion): gate →
    # exact dedup → near-dup clustering → decontaminate → sample → pack,
    # each stage materialized to parquet like a restartable production run.
    from redshift_to_lakehouse_migration_spark.llm.pipeline import run_corpus_pipeline
    from redshift_to_lakehouse_migration_spark.tables import load as _load
    from redshift_to_lakehouse_migration_spark.tables import spread as _spread

    corpus_runs = []
    docs = _spread(_load(spark, sf_dir, "documents"), spark)
    started["corpus_prep_pipeline"] = round(
        time.perf_counter() - run_start, 1)
    c0 = _codegen_compiles(spark)
    for rep in range(reps):
        tmp2 = tempfile.mkdtemp(prefix="corpus_bench_")
        try:
            t0 = time.perf_counter()
            run_corpus_pipeline(spark, docs, tmp2).write \
                .format("noop").mode("overwrite").save()
            corpus_runs.append(time.perf_counter() - t0)
        finally:
            shutil.rmtree(tmp2, ignore_errors=True)
    corpus_sec = _median(corpus_runs)
    compiles["corpus_prep_pipeline"] = _codegen_compiles(spark) - c0

    canary_last = canary()

    total = round(sum(timings.values()) + pipeline_sec + corpus_sec, 3)
    sub = {n: s for n, s in spreads.items() if timings[n] < 1.0}
    full = {
        "metric": "engine_query_suite_plus_pipeline_wall_sec",
        "value": total,
        "unit": "sec",
        "queries": {**timings, "medallion_pipeline_10k": pipeline_sec,
                    "corpus_prep_pipeline": corpus_sec},
        # float() is the authority on parseability — an isdigit-style
        # guard admits strings float() rejects ('0.1.2' from a basename
        # fallback) and would crash the final print AFTER the whole run
        "sf": _sf_num if _sf_num is not None else sf,
        "n_queries": len(timings),
        "reps": reps,
        # registered query count + oracle count at bench time — additions-
        # only (VERDICT r11 #7); ORACLES import is at module top
        "registry_n": len(QUERIES),
        "oracle_n": len(ORACLES),
        # host-speed canary: identical synthetic work every round — to
        # compare BENCH_rN vs BENCH_rM, normalize per-entry medians by
        # canary_s(N)/canary_s(M) before reading any delta as a
        # code-attributable change; first-vs-last gap = in-run drift
        "canary_s": _median([canary_first, canary_last]),
        "canary_first_s": canary_first,
        "canary_last_s": canary_last,
        # start offset of each entry (sec after the first timed canary
        # began) — join against canary_first/last to place any apparent
        # regression on the in-run drift curve without forensics
        "entry_started_s": started,
        "canary_last_started_s": round(
            time.perf_counter() - run_start - canary_last, 1),
        # spread = (max-min)/median across an entry's reps; the full
        # per-entry map lives only in BENCH_FULL_LATEST.json
        "spreads": spreads,
        "subsec_entries": len(sub),
        "subsec_spread_median": _median(list(sub.values())) if sub else 0.0,
        "subsec_spread_max": max(sub.values()) if sub else 0.0,
        # generated classes compiled over each entry's reps (full
        # artifact only, like spreads)
        "codegen_compiles": compiles,
        "notes": (f"per-entry MEDIANS over {reps} runs (7 when sub-second)"
                  "; total covers every registered query plus TWO "
                  "materializing pipelines (medallion 10k, corpus prep); "
                  "stdout lists only the slowest entries so the recorder's "
                  "2000-char tail keeps the whole line — ALL medians/"
                  "offsets/spreads are in the `full` artifact; "
                  "canary-normalize cross-round deltas "
                  "(tools/bench_compare.py)"),
    }
    print(_emit(full))
    spark.stop()


if __name__ == "__main__":
    main()
