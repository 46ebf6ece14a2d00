"""The benchmark's workloads: inputs made from the seed, one unit of
work through the engine's public entry points, and a check of every
unit's output against a reference computed outside the engine (DuckDB
or pandas over the same staged files).

A *unit* is one ``runner.run_job`` (corpus_validation), one
``train_test_validation`` suite run (traintest_contended) or one pass of
the dedup pipeline (corpus_dedup).
"""

from __future__ import annotations

import contextlib
import hashlib
import multiprocessing
from multiprocessing import resource_tracker
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_SCHEMA = pa.schema([
    ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
])
GEN_PROCESSES = 4


def _nullspan(*_a, **_k):
    return contextlib.nullcontext()


def _span(tracer):
    return tracer.span if tracer is not None else _nullspan


# ---------------------------------------------------------------------------
# input staging
# ---------------------------------------------------------------------------

def _write_corpus_slice(args) -> None:
    """One file of the seeded corpus: rows [lo, hi) of an n-row corpus —
    exactly partition i of ``corpus.generate_corpus_distributed`` (both
    call ``rows_for_indices`` on the same index range)."""
    lo, hi, n_rows, seed, path = args
    from deepchecks_spark.corpus.generator import rows_for_indices

    pdf = rows_for_indices(range(lo, hi), n_rows, seed=seed)
    pdf["warc_ts"] = pd.to_datetime(pdf["warc_ts"]).dt.tz_localize("UTC")
    pq.write_table(pa.Table.from_pandas(pdf, schema=CORPUS_SCHEMA,
                                        preserve_index=False), path)


def generate_corpus_files(out_dir: str, n_rows: int, seed: int, n_files: int) -> None:
    """Seeded corpus as ``n_files`` parquet files, generated in a small
    spawn pool before any Spark session exists (so staging never warms
    the JVM that the cold unit is measured on)."""
    bounds = [(i * n_rows // n_files, (i + 1) * n_rows // n_files) for i in range(n_files)]
    jobs = [(lo, hi, n_rows, seed, os.path.join(out_dir, f"part-{i:05d}.parquet"))
            for i, (lo, hi) in enumerate(bounds)]
    pool = multiprocessing.get_context("spawn").Pool(min(GEN_PROCESSES, n_files))
    try:
        pool.map(_write_corpus_slice, jobs)
    finally:
        pool.close()
        pool.join()
        # the pool started multiprocessing's resource tracker process;
        # end it and wait for it rather than let it outlive the run
        stop = getattr(resource_tracker._resource_tracker, "_stop", None)
        if stop is not None:
            stop()


def stage(work_dir: str, key: str, build) -> str:
    """Directory holding the inputs for ``key`` (workload, seed, rows),
    built once by ``build(tmp_dir)`` and reused by later runs."""
    final = os.path.join(work_dir, "inputs", key)
    if os.path.exists(os.path.join(final, "_READY")):
        return final
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    open(os.path.join(tmp, "_READY"), "w").close()
    shutil.rmtree(final, ignore_errors=True)
    os.rename(tmp, final)
    return final


def _duck():
    import duckdb

    return duckdb.connect()


def _digest(rows) -> str:
    h = hashlib.sha256()
    for r in sorted(map(repr, rows)):
        h.update(r.encode())
    return h.hexdigest()[:16]


class Workload:
    name = ""
    clients = 1
    rows_per_unit = 0
    # rounds (one unit per client) the timed loop runs even past
    # --seconds, so on a slow host the median still rests on two units
    min_units = 1

    def __init__(self, work_dir: str, seed: int):
        self.work_dir, self.seed = work_dir, seed
        self.reference = None   # set by the first successful check
        self.facts: dict = {}

    def stage_inputs(self) -> None:
        raise NotImplementedError

    def open(self, spark) -> None:
        self.spark = spark

    def unit(self, tracer=None):
        raise NotImplementedError

    def check(self, out) -> str | None:
        """None when the unit's output is correct, else the reason."""
        raise NotImplementedError

    def breakdown_targets(self) -> list:
        """(owner, attribute, span name, layer) for each engine function
        the traced run's breakdown unit wraps in a span."""
        return []


# ---------------------------------------------------------------------------
# corpus_validation
# ---------------------------------------------------------------------------

# the runner functions run_job calls for cat_features=["lang"]
RUNNER_FUNCTIONS = (
    "flagged_string_values", "violation_rows", "partition_verdicts",
    "mixed_nulls_partition_rows", "duplicates_partition_rows",
    "drift_partition_rows", "metrics_rows",
)


class CorpusValidation(Workload):
    name = "corpus_validation"
    rows_per_unit = 50_000
    min_units = 2
    n_files = 8

    def stage_inputs(self):
        self.input = stage(
            self.work_dir, f"corpus-seed{self.seed}-rows{self.rows_per_unit}",
            lambda d: generate_corpus_files(d, self.rows_per_unit, self.seed,
                                            self.n_files))
        self.out_dir = os.path.join(self.work_dir, "out", self.name)
        shutil.rmtree(self.out_dir, ignore_errors=True)
        con = _duck()
        src = f"read_parquet('{self.input}/*.parquet')"
        cols = ["url", "warc_ts", "html", "text", "lang"]
        row = con.sql(
            f"SELECT count(*), count(*) - count(DISTINCT url), "
            + ", ".join(f"count(*) - count({c})" for c in cols) + f" FROM {src}").fetchone()
        self.expect_rows, self.expect_dup_urls = row[0], row[1]
        self.expect_nulls = dict(zip(cols, row[2:]))
        self.facts.update(input_rows=row[0], input_files=self.n_files,
                          duplicate_urls=row[1])

    def unit(self, tracer=None):
        from deepchecks_spark.runner import run_job

        with _span(tracer)("runner.run_job", "runner") as sp:
            manifest = run_job(self.spark, self.input, self.out_dir,
                               cat_features=["lang"], resume=False)
            if sp is not None:
                sp["attrs"]["stage_seconds"] = manifest.get("stage_seconds")
        return manifest

    def check(self, manifest):
        con = _duck()
        out = self.out_dir

        def table(name):
            return f"read_parquet('{out}/{name}/*.parquet')"

        metrics = con.sql(
            f'SELECT partition_id, "column", stat, value_double FROM {table("metrics")}'
        ).fetchall()
        n_rows = {pid: v for pid, c, s, v in metrics if c == "*" and s == "n_rows"}
        if sum(n_rows.values()) != self.expect_rows:
            return f"row count {sum(n_rows.values())} != duckdb {self.expect_rows}"
        for col, want in self.expect_nulls.items():
            got = sum(v for _p, c, s, v in metrics if c == col and s == "null_count")
            if got != want:
                return f"null count of {col} {got} != duckdb {want}"
        pv = con.sql(f"SELECT * FROM {table('partition_verdicts')}").fetchall()
        # run_job reports duplicates per partition only; within-partition
        # duplicate urls are a subset of the table's, so their sum is
        # bounded by the DuckDB count (and zero when it is zero)
        dup_rows = 0.0
        for pid, check, _cond, _cat, details in pv:
            if check == "Data Duplicates":
                pct = float(details.split()[1].rstrip("%"))
                dup_rows += n_rows.get(pid, 0) * pct / 100.0
        if dup_rows > self.expect_dup_urls + len(n_rows):
            return f"partition duplicate urls {dup_rows:.0f} > duckdb {self.expect_dup_urls}"
        if self.expect_dup_urls == 0 and dup_rows > 0:
            return "partition duplicates reported on a duplicate-free input"
        verdicts = con.sql(f"SELECT * FROM {table('verdicts')}").fetchall()
        digests = (_digest(verdicts), _digest(pv))
        if self.reference is None:
            self.reference = digests
        elif digests != self.reference:
            return f"verdict digests {digests} != first unit's {self.reference}"
        return None

    def breakdown_targets(self):
        import deepchecks_spark.core.context as context
        import deepchecks_spark.stats as stats
        from deepchecks_spark import runner
        from deepchecks_spark.core.suite import Suite

        return ([(runner, f, f"io.{f}", "io") for f in ("read_table", "write_table")]
                + [(runner, f, f"runner.{f}", "runner") for f in RUNNER_FUNCTIONS]
                + [(runner, "compute_column_stats_by_partition",
                    "stats.compute_column_stats_by_partition", "stats"),
                   (stats, "compute_column_stats", "stats.compute_column_stats", "stats"),
                   (context, "compute_column_stats", "stats.compute_column_stats", "stats"),
                   (Suite, "run", "core.Suite.run", "core")])


# ---------------------------------------------------------------------------
# traintest_contended
# ---------------------------------------------------------------------------

PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
CHECK_LAYER = {
    "FeatureDrift": "drift", "LabelDrift": "drift",
    "MultivariateDrift": "ml", "FeatureLabelCorrelationChange": "ml",
}


def generate_orders(path: str, n_rows: int, seed: int) -> None:
    """TPC-H-shaped ``orders`` (the sf0.1 schema), one parquet file with
    one row group."""
    rng = np.random.default_rng([seed, 7])
    days = rng.integers(0, 2405, n_rows)
    pdf = pd.DataFrame({
        "o_orderkey": np.arange(n_rows, dtype=np.int64),
        "o_custkey": rng.integers(0, max(n_rows // 10, 1), n_rows),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_rows, p=[0.49, 0.49, 0.02]),
        "o_totalprice": np.round(rng.gamma(2.0, 70_000.0, n_rows), 2),
        "o_orderdate": (pd.Timestamp("1992-01-01", tz="UTC")
                        + pd.to_timedelta(days, unit="D")),
        "o_orderpriority": rng.choice(PRIORITIES, n_rows),
    })
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path,
                   coerce_timestamps="us", row_group_size=n_rows)


class TrainTestContended(Workload):
    name = "traintest_contended"
    clients = 2
    rows_per_unit = 5_000

    def stage_inputs(self):
        d = stage(self.work_dir, f"orders-seed{self.seed}-rows{self.rows_per_unit}",
                  lambda t: generate_orders(os.path.join(t, "orders.parquet"),
                                            self.rows_per_unit, self.seed))
        self.input = os.path.join(d, "orders.parquet")
        self.facts.update(input_rows=self.rows_per_unit, input_files=1)

    def _datasets(self):
        from pyspark.sql import functions as F

        from deepchecks_spark.dataset import Dataset

        df = self.spark.read.parquet(self.input)
        bucket = F.pmod(F.xxhash64(F.col("o_orderkey"), F.lit(self.seed)), F.lit(10))

        def mk(part):
            return Dataset(part, label="o_orderpriority", index_name="o_orderkey",
                           datetime_name="o_orderdate", cat_features=["o_orderstatus"])

        return mk(df.filter(bucket < 7)), mk(df.filter(bucket >= 7))

    def unit(self, tracer=None):
        from deepchecks_spark.suites import train_test_validation

        train, test = self._datasets()
        with _span(tracer)("core.Suite.run", "core"):
            return train_test_validation(label=True).run(train, test)

    def check(self, result):
        from deepchecks_spark.core.result import CheckFailure

        failures = [r for r in result.results if isinstance(r, CheckFailure)]
        if failures:
            return f"CheckFailure in {failures[0].header}: {failures[0].exception!r}"
        cats = [(r.header, tuple(c.category.value for c in r.conditions_results))
                for r in result.results]
        if self.reference is None:
            self.reference = cats
        elif cats != self.reference:
            return f"condition categories {cats} != first unit's {self.reference}"
        return None

    def breakdown_targets(self):
        import deepchecks_spark.core.context as context
        from deepchecks_spark.suites import train_test_validation

        classes = {type(c) for c in train_test_validation(label=True).checks}
        return [(context.Context, "persist", "core.Context.persist", "core"),
                (context, "compute_column_stats", "stats.compute_column_stats",
                 "stats")] + [
            (cls, "compute", f"checks.{cls.__name__}.compute",
             CHECK_LAYER.get(cls.__name__, "checks"))
            for cls in sorted(classes, key=lambda c: c.__name__)]


# ---------------------------------------------------------------------------
# corpus_dedup
# ---------------------------------------------------------------------------

def generate_docs(path: str, n_rows: int, seed: int) -> None:
    from deepchecks_spark.corpus.generator import generate_corpus_pandas

    pdf = generate_corpus_pandas(n_rows, seed=seed)
    pdf.insert(0, "doc_id", np.arange(n_rows, dtype=np.int64))
    pq.write_table(pa.Table.from_pandas(pdf[["doc_id", "url", "text", "lang"]],
                                        preserve_index=False), path,
                   row_group_size=n_rows)


class CorpusDedup(Workload):
    name = "corpus_dedup"
    rows_per_unit = 1_000
    batch_from = 800  # doc_ids >= this form the incoming batch

    def stage_inputs(self):
        d = stage(self.work_dir, f"docs-seed{self.seed}-rows{self.rows_per_unit}",
                  lambda t: generate_docs(os.path.join(t, "docs.parquet"),
                                          self.rows_per_unit, self.seed))
        self.input = os.path.join(d, "docs.parquet")
        con = _duck()
        src = f"read_parquet('{self.input}')"
        self.expect_exact = con.sql(
            f"SELECT count(*) FILTER (WHERE c > 1), coalesce(sum(c - 1) FILTER (WHERE c > 1), 0) "
            f"FROM (SELECT text, count(*) AS c FROM {src} GROUP BY text)").fetchone()
        self.expect_fresh = con.sql(
            f"SELECT count(DISTINCT text) FROM {src} WHERE doc_id >= {self.batch_from} "
            f"AND text NOT IN (SELECT text FROM {src} WHERE doc_id < {self.batch_from})"
        ).fetchone()[0]
        self.facts.update(input_rows=self.rows_per_unit, input_files=1)

    def open(self, spark):
        super().open(spark)
        self.docs = spark.read.parquet(self.input)

    def unit(self, tracer=None):
        from pyspark.sql import functions as F

        from deepchecks_spark.pipeline.dedup import (
            deduplicate_by_pairs, exact_duplicate_stats, incremental_dedup_bloom,
            minhash_near_duplicates, repeated_span_stats, simhash)

        docs, span = self.docs, _span(tracer)
        out = {}
        with span("pipeline.exact_duplicate_stats", "pipeline"):
            ex = exact_duplicate_stats(docs, ["text"])
            out["exact"] = (ex["n_dup_groups"], ex["n_dup_rows"])
        with span("pipeline.minhash_near_duplicates", "pipeline"):
            pairs = minhash_near_duplicates(docs, "doc_id", "text", threshold=0.5)
            pairs.persist()
            out["pairs"] = pairs.count()
        try:
            with span("pipeline.deduplicate_by_pairs", "pipeline"):
                out["kept"] = deduplicate_by_pairs(docs, pairs, "doc_id").count()
        finally:
            pairs.unpersist()
        with span("pipeline.simhash", "pipeline"):
            out["simhash_distinct"] = simhash(docs, "doc_id", "text").agg(
                F.countDistinct("simhash")).first()[0]
        with span("pipeline.repeated_span_stats", "pipeline"):
            out["dup_tokens"] = repeated_span_stats(
                docs, "doc_id", "text", window_words=10).agg(
                F.sum("dup_tokens")).first()[0]
        # the Bloom-prefiltered incremental dedup is the dedup path that
        # crosses the Python-UDF boundary (mapInPandas + pandas_udf)
        with span("pipeline.incremental_dedup_bloom", "pipeline"):
            batch = docs.filter(F.col("doc_id") >= self.batch_from)
            seen = docs.filter(F.col("doc_id") < self.batch_from)
            out["fresh"] = incremental_dedup_bloom(batch, seen, "doc_id", "text").count()
        return out

    def check(self, out):
        if out["exact"] != tuple(self.expect_exact):
            return f"exact duplicate stats {out['exact']} != duckdb {tuple(self.expect_exact)}"
        if out["fresh"] != self.expect_fresh:
            return f"bloom dedup kept {out['fresh']} != duckdb {self.expect_fresh}"
        if out["kept"] > self.rows_per_unit - out["exact"][1]:
            return f"kept {out['kept']} docs, more than the exact-distinct count"
        if self.reference is None:
            self.reference = out
        elif out != self.reference:
            return f"pipeline output {out} != first unit's {self.reference}"
        return None


WORKLOADS = {w.name: w for w in (CorpusValidation, TrainTestContended, CorpusDedup)}
