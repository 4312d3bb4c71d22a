"""The benchmark's workloads: seeded inputs, operations and output checks.

An operation is one call into a layer (``build``) plus the final noop
write that executes what the call returned (``execute``), the unit
``bench.py`` times. Operations are registry queries or one of the two
materializing pipelines. Every workload runs a fixed list of operations;
the seed changes the generated inputs and the order of operations in
each pass, never the list, so two seeds run the same work on different
data.

Output checks run in the untimed warm-up pass, which executes each
operation once in its checking form (``warm_check``). The DuckDB side of
every check depends only on the inputs, so it is computed on a
background thread while the JVM starts.
"""

from __future__ import annotations

import contextlib
import importlib
import io
import os
import sys
import threading
import time
from pathlib import Path

import duckdb
import pyarrow.parquet as pq

from redshift_to_lakehouse_migration_spark import datagen
from redshift_to_lakehouse_migration_spark import schemas as S
from redshift_to_lakehouse_migration_spark.llm.pipeline import (
    STAGES,
    run_corpus_pipeline,
)
from redshift_to_lakehouse_migration_spark.medallion import bronze
from redshift_to_lakehouse_migration_spark.medallion.flow import (
    build_medallion_pipeline,
)
from redshift_to_lakehouse_migration_spark.queries import ORACLES, QUERIES
from redshift_to_lakehouse_migration_spark.tables import TABLES, load, spread

import gen_scale_data
from metrics import CORPUS_ARTIFACTS, QUERY_MODULES


def _import_check_correctness():
    """``tools/check_correctness.py`` parses ``sys.argv`` when imported;
    hide the benchmark's own arguments from it."""
    argv, sys.argv = sys.argv, sys.argv[:1]
    try:
        return importlib.import_module("check_correctness")
    finally:
        sys.argv = argv


_cc = _import_check_correctness()

MEDALLION, CORPUS = "medallion_pipeline", "corpus_pipeline"
MODULE_OF = {
    **{name: m
       for m in QUERY_MODULES
       for name in importlib.import_module(
           f"redshift_to_lakehouse_migration_spark.queries.{m}").QUERIES},
    MEDALLION: "medallion.flow",
    CORPUS: "llm.pipeline",
}

# Fixed operation lists, sized so that the cold warm-up pass and one
# timed pass fit a run, and so that the median operation sits in a
# cluster of similar ones. Together they hold every registry module but
# corpus (whose one query, corpus_funnel, runs the corpus pipeline's
# operators and is its output check), and every operator library a
# registry query reaches: rollup and aggspec (events_daily_from_hourly),
# skew (events_salted_type_totals), asof (events_asof_purchase),
# rangejoin (events_error_after_click), masking
# (masked_dim_customer_view); llm dedup (dedup_exact, corpus_pipeline),
# components and pipeline (corpus_pipeline), similarity and pq
# (knn_ivfpq_refined). The heaviest operations come first, so that the
# concurrent warm-up starts them first.
WAREHOUSE_OPS = (
    MEDALLION, "masked_dim_customer_view", "events_salted_type_totals",
    "events_daily_from_hourly", "q3_shipping_priority", "dim_customer",
    "events_daily_unique_users_hll", "order_rank_in_segment",
    "events_sessionized", "events_asof_purchase",
    "customer_running_revenue", "events_sliding_windows",
    "price_percentiles_approx", "fact_orders", "user_daily_activity",
    "events_error_after_click", "stg_orders",
)
LLM_OPS = (
    CORPUS, "knn_ivfpq_refined", "contamination_check", "media_decode_stub",
    "knn_bruteforce", "lang_id", "embedding_stats", "text_stats",
    "dedup_exact", "pack_sequences", "token_count_bpe", "sample_stratified",
    "binary_metadata",
)

RAW_TABLES = {"policies": S.RAW_POLICIES, "claims": S.RAW_CLAIMS,
              "premiums": S.RAW_PREMIUMS, "properties": S.RAW_PROPERTIES}
# medallion nodes by the group their time is reported under
MEDALLION_NODES = {
    "bronze": {f"bronze_{t}" for t in RAW_TABLES},
    "silver": {f"silver_{t}" for t in RAW_TABLES},
    "gold": {"premium_summary", "dim_policy", "dim_property",
             "dim_coverage", "fact_premiums"},
    "fact_claims": {"fact_claims"},
}
AS_OF = "2024-06-01"


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def keep_fracs(funnel_rows) -> dict[str, float]:
    """Documents kept by each filtering stage of a funnel result
    ``(stage_id, stage, docs, tokens)``, as a fraction of its input."""
    docs = {r[1]: r[2] for r in funnel_rows}
    return {s: docs[s] / docs[prev] for prev, s in zip(STAGES, STAGES[1:])}


def _duck(table_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{table_dir}/{t}.parquet'")
    return con


def _digest(rows, cols) -> tuple:
    return len(rows), sorted(cols), _cc.value_hash(rows, cols)


class Workload:
    """Registry queries over tables from ``tools/gen_scale_data.py`` and,
    when listed, the medallion pipeline over raw CSVs from
    ``datagen.generate`` and the corpus pipeline over the documents."""

    def __init__(self, sf: float, tables: tuple[str, ...],
                 ops: tuple[str, ...], n_policies: int = 0):
        self.sf, self.tables, self.ops = sf, tables, ops
        self.n_policies = n_policies
        self.funnel_rows = None
        self._con = None
        # warm-up checks run on several threads; DuckDB connections are
        # not thread-safe
        self._lock = threading.Lock()

    def generate(self, root: Path, seed: int) -> dict:
        """Write the seeded inputs and start computing the expected
        results; returns the input rows and bytes."""
        self.dir = str(root / "tables")
        with contextlib.redirect_stdout(io.StringIO()):
            gen_scale_data.main(self.sf, self.dir, seed=seed)
        files = [Path(f"{self.dir}/{t}.parquet") for t in self.tables]
        rows = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
        if MEDALLION in self.ops:
            self.raw = root / "raw"
            rows += sum(datagen.generate(str(self.raw), self.n_policies,
                                         seed=seed).values())
            files += sorted(self.raw.iterdir())
        self._expected: dict[str, tuple] = {}
        self._oracle_error: BaseException | None = None
        self._oracles = threading.Thread(target=self._compute_oracles,
                                         daemon=True)
        self._oracles.start()
        return {"sf": self.sf, "n_policies": self.n_policies, "rows": rows,
                "bytes": sum(f.stat().st_size for f in files)}

    def _compute_oracles(self) -> None:
        names = [op for op in self.ops if op in ORACLES]
        if CORPUS in self.ops:
            names.append("corpus_funnel")
        try:
            con = _duck(self.dir)
            con.execute("SET threads = 2")
            for op in names:
                rel = con.sql(ORACLES[op])
                self._expected[op] = _digest(rel.fetchall(), rel.columns)
            con.close()
        except BaseException as e:  # re-raised by verify
            self._oracle_error = e

    def open(self, spark) -> None:
        """The tables layer: open every input and resolve its schema."""
        for t in self.tables:
            load(spark, self.dir, t).schema
        if MEDALLION in self.ops:
            for t, schema in RAW_TABLES.items():
                bronze.read_csv(spark, str(self.raw / f"raw_{t}.csv"),
                                schema).schema

    def build(self, spark, op: str, out: Path, tracer=None,
              span: int | None = None):
        """Call the layer; a pipeline records its nodes or stages as
        duration-only children of ``span`` when given a tracer."""
        if op == MEDALLION:
            pipe = build_medallion_pipeline(spark, self.raw, out, AS_OF)
            handle, runs = pipe.run(max_workers=4)
            parts = [(r.name, "node", r.seconds) for r in runs]
        elif op == CORPUS:
            timings: dict[str, float] = {}
            docs = spread(load(spark, self.dir, "documents"), spark)
            handle = run_corpus_pipeline(spark, docs, str(out),
                                         timings=timings)
            parts = [(k, "stage", s) for k, s in timings.items()]
        else:
            return QUERIES[op](spark, self.dir)
        if tracer is not None:
            for name, kind, seconds in parts:
                tracer.add(name, kind, span, seconds)
        return handle

    def execute(self, handle) -> None:
        for df in (handle.values() if isinstance(handle, dict)
                   else [handle]):
            _noop(df)

    def warm_check(self, spark, op: str, out: Path):
        """Run ``op`` once in checking form. A query collects its rows in
        place of the noop write; a pipeline runs as timed and is checked
        by what it published. Returns (engine seconds, problem or None)."""
        t0 = time.perf_counter()
        handle = self.build(spark, op, out)
        if op in (MEDALLION, CORPUS):
            self.execute(handle)
        if op != MEDALLION:
            rows = [tuple(r) for r in handle.collect()]
        engine_s = time.perf_counter() - t0
        with self._lock:
            if op == MEDALLION:
                return engine_s, self._check_medallion(out)
            if op == CORPUS:
                self.funnel_rows = rows
            # the corpus pipeline's stage stats must equal the
            # corpus_funnel result
            return engine_s, self.verify(
                "corpus_funnel" if op == CORPUS else op, rows,
                handle.columns)

    @property
    def con(self):
        if self._con is None:
            self._con = _duck(self.dir)
        return self._con

    def close(self) -> None:
        if getattr(self, "_oracles", None) is not None:
            self._oracles.join()
        if self._con is not None:
            self._con.close()

    def verify(self, op: str, rows, cols) -> str | None:
        """Compare ``op``'s rows with its DuckDB twin: row count, sorted
        column names and the order-insensitive typed hash of
        ``tools/check_correctness.py``. Without a twin, apply the
        operation's value invariant."""
        if op not in ORACLES:
            return INVARIANTS[op](self.con, [dict(zip(cols, r))
                                             for r in rows])
        self._oracles.join()
        if self._oracle_error is not None:
            raise self._oracle_error
        got, want = _digest(rows, cols), self._expected[op]
        if got[0] != want[0]:
            return f"row count {got[0]} vs DuckDB {want[0]}"
        if got[1] != want[1]:
            return f"columns {got[1]} vs DuckDB {want[1]}"
        if got[2] != want[2]:
            return "value hash differs from DuckDB"
        return None

    def _check_medallion(self, out: Path) -> str | None:
        """Published row counts against DuckDB over the raw CSVs: each
        bronze table keeps every CSV row, and fact_claims holds one row
        per valid claim whose policy survives silver."""
        def csv(t):
            return (f"read_csv('{self.raw}/raw_{t}.csv', header=true, "
                    "all_varchar=true, delim=',', quote='\"')")

        def count(sql):
            return self.con.execute(sql).fetchone()[0]
        for t in RAW_TABLES:
            got = count(f"SELECT count(*) FROM read_parquet("
                        f"'{out}/bronze_{t}/*.parquet')")
            want = count(f"SELECT count(*) FROM {csv(t)}")
            if got != want:
                return f"bronze_{t} has {got} rows, raw CSV {want}"
        got = count(f"SELECT count(*) FROM read_parquet("
                    f"'{out}/fact_claims/*/*.parquet')")
        want = count(
            f"SELECT count(*) FROM {csv('claims')} c JOIN ("
            f"SELECT trim(policy_id) AS pid FROM {csv('policies')} "
            "WHERE policy_id IS NOT NULL AND trim(policy_id) <> '' "
            "AND effective_date IS NOT NULL) p "
            "ON trim(c.policy_id) = p.pid "
            "WHERE c.claim_id IS NOT NULL "
            "AND try_cast(c.claim_amount AS DOUBLE) >= 0")
        if got != want:
            return f"fact_claims has {got} rows, DuckDB twin {want}"
        return None

    def layer_metrics(self, tracer, op_spans: list[int]) -> dict:
        """Shares of each pipeline run's wall time spent in its node
        groups and corpus stages (nodes run 4-wide, so shares may sum
        past 1)."""
        out = {}
        for i in op_spans:
            op = tracer.spans[i]
            if op.name not in (MEDALLION, CORPUS):
                continue
            build, execute = tracer.children(i)[:2]
            kids = [tracer.spans[j] for j in tracer.children(build)]
            if op.name == MEDALLION:
                for group, names in MEDALLION_NODES.items():
                    out[f"medallion.{group}.share"] = sum(
                        k.seconds for k in kids if k.name in names
                    ) / op.seconds
                out["medallion.outputs.share"] = (
                    tracer.spans[execute].seconds / op.seconds)
            else:
                secs = {k.name: k.seconds for k in kids}
                for a in CORPUS_ARTIFACTS:
                    out[f"corpus.{a}.share"] = secs[a] / op.seconds
        return out


def _knn_ids_exist(duck, rows) -> str | None:
    """Every query is a probe vector (vec_id % 50 = 0) and every
    neighbor_id is a vector of the corpus."""
    ids = {r[0] for r in duck.execute("SELECT vec_id FROM embeddings")
           .fetchall()}
    if not rows:
        return "no neighbors"
    if any(r["neighbor_id"] not in ids for r in rows):
        return "neighbor_id not in the corpus"
    if any(r["query_id"] not in ids or r["query_id"] % 50 for r in rows):
        return "query_id is not a probe vector"
    return None


def _percentiles_in_window(duck, rows) -> str | None:
    """Each sketch quantile lies inside DuckDB's exact quantiles at
    p +- 0.005, 50 times the sketch's rank-error bound."""
    eps = 0.005
    flags = {f for (f,) in duck.execute(
        "SELECT DISTINCT l_returnflag FROM lineitem").fetchall()}
    if flags != {r["return_flag"] for r in rows}:
        return "return flags differ from DuckDB"
    for r in rows:
        for col, p, attr in (("l_quantity", 0.5, "median_qty"),
                             ("l_extendedprice", 0.25, "price_q1"),
                             ("l_extendedprice", 0.75, "price_q3"),
                             ("l_extendedprice", 0.95, "price_p95")):
            lo, hi = duck.execute(
                f"SELECT quantile_cont({col}, {p - eps}), "
                f"quantile_cont({col}, {p + eps}) FROM lineitem "
                "WHERE l_returnflag = ?", [r["return_flag"]]).fetchone()
            if not lo - 1e-9 <= float(r[attr]) <= hi + 1e-9:
                return f"{attr}@{r['return_flag']} outside [{lo}, {hi}]"
    return None


# 3 standard errors of the sketch's default lgConfigK=12 (1.04 / 64)
HLL_REL_TOL = 0.05


def _hll_within_bound(duck, rows) -> str | None:
    """Daily and monthly event counts are exact; each approximate distinct
    user count is within ``HLL_REL_TOL`` of DuckDB's exact count."""
    exact = duck.execute(
        "SELECT date_trunc('day', ts)::TIMESTAMP AS d, count(*) AS n, "
        "count(DISTINCT user_id) AS u FROM events GROUP BY 1 UNION ALL "
        "SELECT date_trunc('month', ts)::TIMESTAMP, count(*), "
        "count(DISTINCT user_id) FROM events GROUP BY 1 "
        "ORDER BY d, n").fetchall()
    got = sorted((r["day"], r["n_events"], r["approx_users"]) for r in rows)
    if [(d, n) for d, n, _ in got] != [(d, n) for d, n, _ in exact]:
        return "day/event counts differ from DuckDB"
    for (d, _, approx), (_, _, u) in zip(got, exact):
        if abs(approx - u) > HLL_REL_TOL * u:
            return f"approx_users {approx} vs exact {u} on {d}"
    return None


# Value invariants of the listed operations that have no DuckDB twin.
INVARIANTS = {
    "knn_ivfpq_refined": _knn_ids_exist,
    "price_percentiles_approx": _percentiles_in_window,
    "events_daily_unique_users_hll": _hll_within_bound,
}

WORKLOADS = {
    "warehouse_queries": lambda: Workload(
        0.01, ("customer", "orders", "lineitem", "part", "supplier",
               "nation", "region", "events"), WAREHOUSE_OPS,
        n_policies=10_000),
    "llm_curation": lambda: Workload(
        0.01, ("documents", "embeddings"), LLM_OPS),
}
