"""The three workloads.  Each one generates its seeded input, computes the
reference results its checks compare against, and then runs timed passes
through the program's public entry points:

- ``extract_mixed``: ``read_transcripts`` → ``extract_transcripts`` → an
  aggregate sink, over the generator's default payload mix;
- ``resume_text``: ``io.checkpoint.run_extraction`` over text payloads
  against an output table that already holds most of the keys;
- ``corpus_dedup``: a fixed sequence of ``plans.shell`` registry queries
  over a documents + embeddings corpus, each checked against its DuckDB
  ``oracle_sql``.

A pass returns what the program produced; ``check`` compares it with the
reference outside the timed section and returns the mismatches.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import time
from concurrent.futures import ProcessPoolExecutor

import numpy as np

import inputs
from env import WORK, parallelism

from rapidocr_spark.config import DEFAULT_CONFIG

# the CLI's kernel settings (scripts/run_extraction.py defaults)
CFG = DEFAULT_CONFIG.replace(det_limit_side_len=32)
N_BUCKETS = 32  # run_extraction / CLI --buckets default
SAMPLE = 48     # turns compared row by row


def eager(payloads: list[str]) -> list[dict]:
    from rapidocr_spark.kernels.oracle import extract_turn

    return [extract_turn(p, CFG) for p in payloads]


def eager_pool(payloads: list[str], pool: ProcessPoolExecutor) -> list[dict]:
    parts = inputs.chunks(payloads, 4 * parallelism())
    return [r for part in pool.map(eager, parts) for r in part]


def _span_tuple(s) -> tuple:
    d = s.asDict() if hasattr(s, "asDict") else s
    cs = d.get("char_scores")
    return (
        tuple(tuple(p) for p in d["box"]), d["text"], d["score"],
        None if cs is None else tuple(cs),
    )


def row_view(r: dict) -> tuple:
    """The comparable part of one extraction result (eager dict or Spark
    row as dict)."""
    spans = r["spans"]
    return (
        None if spans is None else tuple(_span_tuple(s) for s in spans),
        r["extracted_text"], int(r["n_boxes"]), int(r["n_chars"]), r["error"],
    )


def totals(results: list[dict]) -> tuple[int, int, int, int]:
    return (
        len(results),
        sum(r["n_boxes"] for r in results),
        sum(r["n_chars"] for r in results),
        sum(r["error"] is not None for r in results),
    )


class Workload:
    name = ""
    unit = "turns"

    def __init__(self, seed: int, scale: float):
        self.seed, self.scale = seed, scale
        self.dir = os.path.join(WORK, self.name)
        self.switches: dict[str, str] = {}

    def size(self, n: int) -> int:
        return max(1, int(round(n * self.scale)))

    # set-up: generate(pool) before the session exists, prepare(spark) after
    def generate(self, pool: ProcessPoolExecutor) -> None:
        """Write the seeded input (the same files for the same seed)."""
        raise NotImplementedError

    def reference(self, pool: ProcessPoolExecutor) -> None:
        """Compute the results the checks compare against (once per run,
        outside set-up time)."""
        raise NotImplementedError

    def prepare(self, spark) -> None:
        pass

    def observe(self, spark) -> None:
        """Record (untimed) which side of each input-dependent switch the
        workload takes, in ``switches``."""

    def run_pass(self, spark, tag: str):
        raise NotImplementedError

    def check(self, spark, result) -> list[str]:
        raise NotImplementedError

    def reset(self) -> None:
        pass

    def final_checks(self, spark) -> list[str]:
        """Extra untimed checks run once per invocation (row samples)."""
        return []

    def corrupt(self, result):
        """A deliberately wrong copy of ``result`` (smoke test only)."""
        raise NotImplementedError

    def units(self) -> int:
        raise NotImplementedError

    # ---- traced mode
    def probe(self, spark) -> None:
        """Untimed readings taken before each traced pass, under a job
        group of their own."""

    def traced_pass(self, spark, tag: str):
        """A pass with spans around the layer calls the workload makes."""
        return self.run_pass(spark, tag)

    def replay_sample(self, n: int) -> list[str]:
        """A seeded sample of the heavy-route payloads of the input."""
        return []

    def layer_spans(self) -> dict[str, float]:
        """checkpoint.* and dedup.* readings (zero where the workload
        does not touch the layer)."""
        out = {k: 0 for k in ("checkpoint.keys_s", "checkpoint.files_written",
                              "checkpoint.write_mb", "checkpoint.write_amp",
                              "checkpoint.skip_ratio")}
        out.update({f"dedup.{q}_s": 0 for q in DEDUP_QUERIES})
        out.update({k: 0 for k in ("dedup.exchanges", "dedup.shuffle_write_mb",
                                   "dedup.spill_mb", "dedup.python_total_s")})
        return out

    def _heavy_sample(self, df, n: int) -> list[str]:
        heavy = df[~df["text"].str.startswith("plain:")]["text"].tolist()
        rng = np.random.default_rng([self.seed, 17])
        return [heavy[i] for i in sorted(rng.choice(len(heavy), min(n, len(heavy)), replace=False))]


# ---------------------------------------------------------------------------


class ExtractMixed(Workload):
    name = "extract_mixed"
    N_TURNS = 1200

    def generate(self, pool):
        os.makedirs(self.dir, exist_ok=True)
        df = inputs.transcripts(self.seed, self.size(self.N_TURNS), tuple(c for c, _ in inputs.CLASSES),
                                "mixed", pool, parallelism())
        self.path = os.path.join(self.dir, "transcripts.parquet")
        inputs.write_transcripts(df, self.path)
        self.df = df

    def reference(self, pool):
        df = self.df
        results = eager_pool(df["text"].tolist(), pool)
        self.expected = totals(results)
        rng = np.random.default_rng([self.seed, 11])
        idx = sorted(rng.choice(len(df), min(SAMPLE, len(df)), replace=False).tolist())
        self.sample = {
            (df["conv_id"][i], int(df["turn_idx"][i])): row_view(results[i]) for i in idx
        }

    def _frame(self, spark):
        from rapidocr_spark.sources.reader import read_transcripts

        return read_transcripts(spark, self.path)

    def observe(self, spark):
        parts = self._frame(spark).rdd.getNumPartitions()
        cores = spark.sparkContext.defaultParallelism
        self.switches["salt_auto"] = (
            f"salted ({parts} input partition(s) < {cores} cores)" if parts < cores
            else f"not salted ({parts} input partitions >= {cores} cores)"
        )

    def run_pass(self, spark, tag):
        from pyspark.sql import functions as F

        from rapidocr_spark.operators.extract import extract_transcripts

        out = extract_transcripts(self._frame(spark), CFG)
        r = out.agg(
            F.count(F.lit(1)), F.sum("n_boxes"), F.sum("n_chars"), F.count("error")
        ).collect()[0]
        return tuple(int(x or 0) for x in r)

    def check(self, spark, result):
        if tuple(result) != self.expected:
            return [f"sink (turns, boxes, chars, errors) {tuple(result)} != eager {self.expected}"]
        return []

    def final_checks(self, spark):
        from pyspark.sql import functions as F

        from rapidocr_spark.operators.extract import extract_transcripts

        keys = spark.createDataFrame(list(self.sample), "conv_id string, turn_idx int")
        rows = (
            extract_transcripts(self._frame(spark).join(F.broadcast(keys), ["conv_id", "turn_idx"]), CFG)
            .collect()
        )
        got = {(r["conv_id"], r["turn_idx"]): row_view(r.asDict()) for r in rows}
        bad = [f"row {k} differs from eager extract_turn" for k in self.sample if got.get(k) != self.sample[k]]
        if len(rows) != len(self.sample):
            bad.append(f"sample returned {len(rows)} rows for {len(self.sample)} keys")
        return bad

    def corrupt(self, result):
        return (result[0], result[1] + 1, result[2], result[3])

    def replay_sample(self, n):
        return self._heavy_sample(self.df, n)

    def units(self):
        return len(self.df)


# ---------------------------------------------------------------------------


class ResumeText(Workload):
    name = "resume_text"
    N_TURNS = 4000
    COMMITTED = 0.75

    def generate(self, pool):
        os.makedirs(self.dir, exist_ok=True)
        df = inputs.transcripts(self.seed, self.size(self.N_TURNS), inputs.TEXT_CLASSES, "text",
                                pool, parallelism())
        rng = np.random.default_rng([self.seed, 13])
        committed = rng.random(len(df)) < self.COMMITTED
        self.path = os.path.join(self.dir, "transcripts.parquet")
        self.committed_path = os.path.join(self.dir, "committed.parquet")
        inputs.write_transcripts(df, self.path)
        inputs.write_transcripts(df[committed].reset_index(drop=True), self.committed_path)
        self.todo = int((~committed).sum())
        self.todo_bytes = int(df["text"][~committed].str.len().sum())
        self.df = df
        self.all_keys = sorted(zip(df["conv_id"], df["turn_idx"].astype(int)))
        self.committed = committed
        self.out = os.path.join(self.dir, "out")

    def reference(self, pool):
        df = self.df
        rng = np.random.default_rng([self.seed, 19])
        todo_idx = np.flatnonzero(~self.committed)
        pick = sorted(rng.choice(todo_idx, min(SAMPLE, len(todo_idx)), replace=False).tolist())
        ref = eager_pool(df["text"].iloc[pick].tolist(), pool)
        self.sample = {
            (df["conv_id"][i], int(df["turn_idx"][i])): row_view(r) for i, r in zip(pick, ref)
        }

    def _frame(self, spark, path):
        from rapidocr_spark.sources.reader import read_transcripts

        return read_transcripts(spark, path)

    def prepare(self, spark):
        from rapidocr_spark.io.checkpoint import run_extraction

        shutil.rmtree(self.out, ignore_errors=True)
        run_extraction(spark, self._frame(spark, self.committed_path), self.out, CFG,
                       n_buckets=N_BUCKETS, run_id="committed")
        self.pristine = self._files()

    def observe(self, spark):
        from rapidocr_spark.io.checkpoint import KEY_COLS, committed_keys

        todo = self._frame(spark, self.path).join(
            committed_keys(spark, self.out), on=list(KEY_COLS), how="left_anti"
        )
        parts = todo.rdd.getNumPartitions()
        cores = spark.sparkContext.defaultParallelism
        self.switches["salt_auto"] = (
            f"salted ({parts} to-do partition(s) < {cores} cores)" if parts < cores
            else f"not salted ({parts} to-do partitions >= {cores} cores)"
        )

    def _files(self) -> set[str]:
        out = set()
        for d, _, fs in os.walk(self.out):
            out.update(os.path.join(d, f) for f in fs)
        return out

    def reset(self):
        """Restore the output table to its committed state."""
        for f in self._files() - self.pristine:
            os.remove(f)
        for d, sub, fs in sorted(os.walk(self.out), reverse=True):
            if not sub and not fs and d != self.out:
                os.rmdir(d)

    def run_pass(self, spark, tag):
        from rapidocr_spark.io.checkpoint import run_extraction

        return run_extraction(spark, self._frame(spark, self.path), self.out, CFG,
                              n_buckets=N_BUCKETS, run_id=tag)

    def check(self, spark, result):
        bad = []
        if result["turns"] != self.todo:
            bad.append(f"metrics turns {result['turns']} != to-do {self.todo}")
        path = os.path.join(self.out, "_metrics", f"{result['run_id']}.json")
        with open(path) as f:
            if json.load(f) != result:
                bad.append("metrics JSON differs from the returned metrics")
        keys = sorted(
            (r[0], r[1]) for r in spark.read.parquet(self.out).select("conv_id", "turn_idx").collect()
        )
        if keys != self.all_keys:
            extra = len(keys) - len(set(keys))
            bad.append(f"output keys: {len(keys)} rows, {extra} duplicated, expected {len(self.all_keys)} once each")
        return bad + self._sample_check(spark, result["run_id"])

    def _sample_check(self, spark, run_id):
        """The sampled to-do turns, as this run wrote them, against eager
        extract_turn."""
        from pyspark.sql import functions as F

        keys = spark.createDataFrame(list(self.sample), "conv_id string, turn_idx int")
        rows = (
            spark.read.parquet(self.out)
            .where(F.col("run_id") == run_id)
            .join(F.broadcast(keys), ["conv_id", "turn_idx"])
            .collect()
        )
        got = {(r["conv_id"], r["turn_idx"]): row_view(r.asDict()) for r in rows}
        return [f"row {k} differs from eager extract_turn" for k in self.sample if got.get(k) != self.sample[k]]

    def corrupt(self, result):
        return {**result, "turns": result["turns"] - 1}

    def replay_sample(self, n):
        return self._heavy_sample(self.df, n)

    def probe(self, spark):
        from rapidocr_spark.io.checkpoint import committed_keys

        t = time.perf_counter()
        committed_keys(spark, self.out).write.format("noop").mode("overwrite").save()
        self.keys_s = time.perf_counter() - t

    def traced_pass(self, spark, tag):
        res = self.run_pass(spark, tag)
        new = [f for f in self._files() - self.pristine
               if f.endswith(".parquet") and "/_metrics/" not in f]
        self.written = (len(new), sum(os.path.getsize(f) for f in new))
        return res

    def layer_spans(self):
        out = super().layer_spans()
        out["checkpoint.keys_s"] = self.keys_s
        out["checkpoint.files_written"] = self.written[0]
        out["checkpoint.write_mb"] = self.written[1] / 2**20
        out["checkpoint.write_amp"] = self.written[1] / self.todo_bytes
        out["checkpoint.skip_ratio"] = (len(self.df) - self.todo) / len(self.df)
        return out

    def units(self):
        return len(self.df)


# ---------------------------------------------------------------------------

# one query per functions module: the shingle pair stage twice (dedup),
# the chained-aggregate projection (similarity) and a text query.  The
# other registry queries of the dedup family (lsh_candidate_pairs,
# dedup_substring_coverage, dedup_embedding_cosine) would more than double
# a pass and its DuckDB reference.
DEDUP_QUERIES = (
    "dedup_ngram_jaccard", "dedup_containment", "ann_bucket_sizes", "doc_url_normalize",
)


def _canon(v):
    if v is None:
        return None
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if hasattr(v, "item"):
        return _canon(v.item())
    return v


def canon_rows(cols: list[str], rows) -> list[tuple]:
    """Rows as tuples in sorted-column order, sorted: an order-free form."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted((tuple(_canon(r[i]) for i in order) for r in rows), key=repr)


class CorpusDedup(Workload):
    name = "corpus_dedup"
    unit = "docs"
    N_DOCS = 1000
    N_EMB = 400

    def generate(self, pool):
        os.makedirs(self.dir, exist_ok=True)
        self.n_docs, self.n_emb = self.size(self.N_DOCS), self.size(self.N_EMB)
        inputs.corpus(self.seed, self.n_docs, self.n_emb, self.dir)

    def reference(self, pool):
        import duckdb

        from rapidocr_spark.plans.shell import oracle_sql

        con = duckdb.connect()
        con.execute("SET threads TO %d" % parallelism())
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.dir}/{t}.parquet')")
        sql = oracle_sql()
        self.expected = {}
        for q in DEDUP_QUERIES:
            cur = con.execute(sql[q])
            cols = [d[0] for d in cur.description]
            self.expected[q] = (sorted(cols), canon_rows(cols, cur.fetchall()))
        con.close()

    def observe(self, spark):
        from rapidocr_spark.functions.similarity import ASSIGN_KERNEL_MIN_K
        from rapidocr_spark.io.spread import _row_groups

        cores = spark.sparkContext.defaultParallelism
        rgs = {t: _row_groups(f"{self.dir}/{t}.parquet") for t in ("documents", "embeddings")}
        spread = all(0 < rg < cores for rg in rgs.values())
        self.switches["io_spread"] = (
            f"repartitions (row groups {rgs} < {cores} cores)" if spread
            else f"no-op or mixed (row groups {rgs}, {cores} cores)"
        )
        self.switches["assign_kernel_min_k"] = (
            f"not reached (no query of the sequence assigns IVF cells; K >= {ASSIGN_KERNEL_MIN_K} picks the numpy kernel)"
        )

    def run_pass(self, spark, tag):
        from rapidocr_spark.plans.shell import queries

        qs = queries()
        out = {}
        for q in DEDUP_QUERIES:
            df = qs[q](spark, self.dir)
            out[q] = (df.columns, df.collect())
        return out

    def check(self, spark, result):
        bad = []
        for q in DEDUP_QUERIES:
            cols, rows = result[q]
            want_cols, want = self.expected[q]
            if sorted(cols) != want_cols:
                bad.append(f"{q}: columns {sorted(cols)} != oracle {want_cols}")
            else:
                got = canon_rows(cols, rows)
                if got != want:
                    extra, missing = sorted(set(got) - set(want)), sorted(set(want) - set(got))
                    bad.append(
                        f"{q}: {len(got)} rows vs {len(want)} from the DuckDB oracle; "
                        f"first extra {extra[:1]}, first missing {missing[:1]}"
                    )
        return bad

    def corrupt(self, result):
        q = DEDUP_QUERIES[-1]  # one row per document, never empty
        cols, rows = result[q]
        return {**result, q: (cols, rows[1:])}

    def traced_pass(self, spark, tag):
        from rapidocr_spark.plans.shell import queries

        from tracing import count_exchanges

        qs = queries()
        out, self.spans, self.exchanges = {}, {}, 0
        for q in DEDUP_QUERIES:
            t = time.perf_counter()
            df = qs[q](spark, self.dir)
            out[q] = (df.columns, df.collect())
            self.spans[q] = time.perf_counter() - t
            self.exchanges += count_exchanges(df)
        return out

    def layer_spans(self):
        out = super().layer_spans()
        out.update({f"dedup.{q}_s": v for q, v in self.spans.items()})
        return out

    def units(self):
        return self.n_docs


WORKLOADS = {w.name: w for w in (ExtractMixed, ResumeText, CorpusDedup)}
