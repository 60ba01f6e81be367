"""The three benchmark workloads. Each one prepares its inputs from the
seed (untimed), runs timed passes through a tracer (see harness.py), and
checks every pass's outputs against the planted truth or an oracle.

A pass is one closed-loop client: the main thread issues each call,
waits for its action to finish, then issues the next."""

from __future__ import annotations

import collections
import datetime as dt
import decimal
import hashlib
import os
import random
import time

import gen

# sizes per scale; "tiny" is for the smoke test
SIZES = {
    "telemetry_pipeline": {"full": dict(devices=24, dates=4, rows_per_part=600),
                           "tiny": dict(devices=2, dates=2, rows_per_part=600)},
    "corpus_curation": {"full": dict(docs=1600, eval_docs=40),
                        "tiny": dict(docs=800, eval_docs=20)},
    "analytic_queries": {"full": dict(lineitems=30_000, events=15_000),
                         "tiny": dict(lineitems=4_000, events=3_000)},
}


def timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


class Telemetry:
    """silver_transform -> build_features -> partitioned Parquet export ->
    read back -> cpd_pipeline, over raw telemetry with planted shifts."""

    name = "telemetry_pipeline"
    ops_per_pass = 2  # the export write and the CPD result

    def prepare(self, spark, work, seed, scale):
        self.spark = spark
        self.truth = gen.telemetry(os.path.join(work, "bronze"), seed,
                                   **SIZES[self.name][scale])
        self.input_rows = self.export_rows = self.truth.rows
        self.export = os.path.join(work, "features")

    def run_pass(self, t):
        from pyspark.sql import functions as F

        from datamine_v2_0_spark.pipeline.cpd import cpd_pipeline
        from datamine_v2_0_spark.pipeline.features import build_features
        from datamine_v2_0_spark.pipeline.silver import silver_transform
        from datamine_v2_0_spark.sources import parquet_io as pio

        raw = t.call("sources.parquet_io", pio.read_parquet_pruned,
                     self.spark, self.truth.path)
        silver = t.call("pipeline.silver", silver_transform, raw,
                        ingested_at=F.to_timestamp(F.lit("2025-09-04 00:00:00")))
        t.touch("pipeline.silver", silver)
        feats = t.call("pipeline.features", build_features, silver)
        t.touch("pipeline.features", feats)
        t.act("sources.parquet_io", lambda: pio.write_parquet_partitioned(
            feats.drop("current_position"), self.export, ["device_date"]))
        back = t.call("sources.parquet_io", pio.read_parquet_pruned,
                      self.spark, self.export)
        cand = t.call("pipeline.cpd", cpd_pipeline, back, "device_date",
                      "timestamp", ["load_weight"], "raw_event_hash_id",
                      duration="5 seconds", penalty=2e7, min_size=10)
        return t.act("pipeline.cpd", cand.collect)

    def latencies(self, out) -> list[float]:
        return []

    def warm(self, t) -> float:
        """One untimed pass over the full inputs. The JVM compiles Spark's
        code as it first runs, and at first that costs more CPU than the
        pass itself: a cold pass took 2-3 times as long as the next one."""
        return timed(lambda: self.run_pass(t))

    def recall(self, rows) -> float:
        """Planted level shifts with a detected change point within one
        5 s bucket."""
        found = collections.defaultdict(list)
        for r in rows:  # naive UTC datetimes: run.py pins TZ=UTC
            found[r["partition_key"]].append(
                (r["bucket_ts"] - dt.datetime(1970, 1, 1)).total_seconds())
        hit = total = 0
        for key, shifts in self.truth.change_points.items():
            for s in shifts:
                total += 1
                hit += any(abs(f - s) <= 5 for f in found.get(key, ()))
        return hit / total

    def check_pass(self, rows) -> tuple[int, float]:
        r = self.recall(rows)
        return (0 if r == 1.0 else 1), r

    def check_final(self, passes: int) -> tuple[int, float | None, dict]:
        """On the last export: row-count conservation and the survivor count,
        one directory per device-date, and a sample of hash ids recomputed
        with hashlib."""
        from pyspark.sql import functions as F

        df = self.spark.read.parquet(self.export)
        n, n_ids = df.agg(F.count(F.lit(1)),
                          F.countDistinct("raw_event_hash_id")).first()
        parts = [d for d in os.listdir(self.export) if d.startswith("device_date=")]
        want = {gen.event_hash(dev, us): dev for dev, us in self.truth.hash_sample}
        got = {r[0]: r[1] for r in df.filter(F.col("raw_event_hash_id").isin(
            list(want))).select("raw_event_hash_id", "device_id").collect()}
        info = {"raw_rows": self.truth.rows, "expected_survivors": self.truth.survivors,
                "exported_rows": n, "distinct_hash_ids": n_ids,
                "partitions": len(parts), "hash_sample": len(want),
                "hash_sample_found": sum(got.get(h) == d for h, d in want.items())}
        ok = (n == n_ids == self.truth.survivors
              and len(parts) == self.truth.partitions and got == want)
        # every pass overwrote the export with the same deterministic rows
        return (0 if ok else passes), None, info


class Curation:
    """curate_corpus -> minhash_near_dup_pairs -> dedup_groups -> bm25_topk
    over a corpus with planted gate failures, copies, near-duplicates and
    eval-set contamination."""

    name = "corpus_curation"
    ops_per_pass = 3  # curated survivors, duplicate groups, retrieval hits

    def prepare(self, spark, work, seed, scale):
        self.spark = spark
        self.truth = gen.corpus(
            os.path.join(work, "corpus"), os.path.join(work, "eval.parquet"),
            seed, **SIZES[self.name][scale])
        self.input_rows = self.truth.docs
        self.pairs = None

    def run_pass(self, t):
        from datamine_v2_0_spark.operators import dedup as dd
        from datamine_v2_0_spark.operators.retrieval import bm25_topk
        from datamine_v2_0_spark.pipeline.curation import curate_corpus
        from datamine_v2_0_spark.sources import parquet_io as pio

        docs = t.call("sources.parquet_io", pio.read_parquet_pruned,
                      self.spark, self.truth.path)
        ev = t.call("sources.parquet_io", pio.read_parquet_pruned,
                    self.spark, self.truth.eval_path)
        cur = t.call("pipeline.curation", curate_corpus, docs,
                     ev.withColumnRenamed("qid", "doc_id"), "text", "doc_id",
                     min_words=10, min_stopwords=1)
        survivors = t.act("pipeline.curation", cur.collect)
        pairs = t.call("operators.dedup", dd.minhash_near_dup_pairs, docs,
                       "text", "doc_id")
        t.count("operators.dedup", "candidate_pairs",
                lambda: dd.minhash_lsh_candidates(docs, "text", "doc_id", 64, 16, 3))
        t.count("operators.dedup", "verified_pairs", lambda: pairs)
        groups = t.call("operators.dedup", dd.dedup_groups, docs, "doc_id", pairs)
        grouped = t.act("operators.dedup", groups.collect)
        hits = t.call("operators.retrieval", bm25_topk, docs, ev, "text",
                      "doc_id", "text", "qid", k=5)
        top = t.act("operators.retrieval", hits.collect)
        self.pairs = pairs
        return survivors, grouped, top

    def latencies(self, out) -> list[float]:
        return []

    def warm(self, t) -> float:
        """One untimed pass (see Telemetry.warm)."""
        return timed(lambda: self.run_pass(t))

    def check_pass(self, out) -> tuple[int, float]:
        survivors, grouped, top = out
        failed = int({r["doc_id"] for r in survivors} != self.truth.survivors
                     or len(survivors) != len(self.truth.survivors))
        group = {r["doc_id"]: r["group_id"] for r in grouped}
        near = sum(group.get(a) is not None and group.get(a) == group.get(b)
                   for a, b in self.truth.near_pairs)
        recall = near / len(self.truth.near_pairs)
        exact_ok = all(len({group.get(i) for i in g}) == 1
                       for g in self.truth.exact_groups)
        failed += int(len(grouped) != self.truth.docs or len(group) != self.truth.docs
                      or not exact_ok or recall < 1.0)
        best = {r["query_id"]: r["doc_id"] for r in top if r["rank"] == 1}
        failed += int(best != self.truth.contaminated)
        return failed, recall

    def check_final(self, passes: int) -> tuple[int, float | None, dict]:
        groups = self.truth.exact_groups
        plan = self.pairs._jdf.queryExecution().analyzed().toString()
        return 0, None, {
            "docs": self.truth.docs,
            "expected_survivors": len(self.truth.survivors),
            "exact_copy_share": sum(len(g) - 1 for g in groups) / self.truth.docs,
            "largest_duplicate_group": max(len(g) for g in groups),
            "near_duplicate_pairs": len(self.truth.near_pairs),
            "contaminated": len(self.truth.contaminated),
            "near_dup_plan": "collapsed" if "__rep" in plan else "direct",
        }


# The non-dedup, non-text headline queries of bench.py.
QUERY_NAMES = (
    "agg_grouped_stats", "agg_tumbling", "agg_percentiles", "win_rolling",
    "win_blocks", "win_sessionize", "join_equi_revenue", "join_asof",
    "join_overlap", "join_asof_merge", "join_range_bin",
    "join_interval_priority", "filt_project_range", "scalar_hash_id",
    "ts_gapfill", "evt_funnel",
)


def _norm(v) -> str:
    if v is None:
        return "\\N"
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if v != v:
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(round(v, 9))
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def result_lines(rows, columns) -> list[str]:
    """Order-insensitive canonical rows: columns sorted by name, values
    normalized so Spark and DuckDB renderings compare equal."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted("|".join(_norm(r[i]) for i in order) for r in rows)


def digest(lines) -> str:
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode() + b"\n")
    return h.hexdigest()


class Analytic:
    """The engine's relational and time-series contract queries, issued in
    a seed-shuffled order to a noop sink."""

    name = "analytic_queries"
    ops_per_pass = len(QUERY_NAMES)

    def prepare(self, spark, work, seed, scale):
        import duckdb

        from datamine_v2_0_spark.contract import QUERIES

        self.spark, self.dir = spark, os.path.join(work, "tables")
        os.makedirs(self.dir)
        rows = gen.analytic_tables(self.dir, seed, **SIZES[self.name][scale])
        self.input_rows = self.export_rows = sum(rows.values())
        self.queries = {n: QUERIES[n] for n in QUERY_NAMES}
        self.rng = random.Random(seed)
        con = duckdb.connect()
        for t in rows:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{self.dir}/{t}.parquet')")
        self.oracle = {}
        for n, (_, sql) in self.queries.items():
            res = con.execute(sql)
            self.oracle[n] = result_lines(res.fetchall(),
                                          [d[0] for d in res.description])
        con.close()

    def run_pass(self, t) -> list[tuple[str, float]]:
        """Returns (query, latency) in issue order."""
        latency = []
        order = list(QUERY_NAMES)
        self.rng.shuffle(order)
        for n in order:
            fn = self.queries[n][0]
            layer = "queries." + fn.__module__.rsplit(".", 1)[1]
            t0 = time.perf_counter()
            with t.op(n):
                df = t.call(layer, fn, self.spark, self.dir)
                t.act(layer, lambda: df.write.format("noop").mode("overwrite").save())
            latency.append((n, time.perf_counter() - t0))
        return latency

    def latencies(self, out) -> list[float]:
        return [x for _, x in out]

    def check_pass(self, out) -> tuple[int, float | None]:
        return 0, None  # a noop sink has no output; see verify()

    def warm(self, t) -> float:
        """Collect every query once, before the timed window, and compare
        it with its DuckDB oracle; this is also the warm-up pass (see
        Telemetry.warm). Recall is the share of oracle rows the engine
        reproduced."""
        return timed(self.verify)

    def verify(self):
        bad, matched, total = [], 0, 0
        for n, (fn, _) in self.queries.items():
            df = fn(self.spark, self.dir)
            got = result_lines([tuple(r) for r in df.collect()], df.columns)
            want = self.oracle[n]
            total += len(want)
            matched += sum((collections.Counter(got)
                            & collections.Counter(want)).values())
            if digest(got) != digest(want):
                bad.append(n)
        self.bad, self.recall = bad, matched / max(total, 1)
        self.checks = {"failed_queries": bad, "oracle_rows": total}

    def check_final(self, passes: int) -> tuple[int, float | None, dict]:
        # each pass ran every query once, and a query's result is
        # deterministic: a wrong result failed in every pass
        return passes * len(self.bad), self.recall, self.checks


class Pipelines:
    """A Telemetry pass, then a Curation pass: the two batch pipelines.
    They share one workload, and so one JVM start and one run, because a
    cold first pass costs each of them more than a timed one, and a run
    of its own for each leaves no time for more than that one timed pass
    on this benchmark's time budget."""

    name = "pipelines"

    def __init__(self):
        self.telemetry, self.corpus = Telemetry(), Curation()
        self.ops_per_pass = self.telemetry.ops_per_pass + self.corpus.ops_per_pass

    def prepare(self, spark, work, seed, scale):
        self.telemetry.prepare(spark, work, seed, scale)
        self.corpus.prepare(spark, work, seed, scale)
        self.input_rows = self.telemetry.input_rows + self.corpus.input_rows
        self.export_rows = self.telemetry.export_rows

    def warm(self, t) -> float:
        return self.telemetry.warm(t) + self.corpus.warm(t)

    def run_pass(self, t):
        return self.telemetry.run_pass(t), self.corpus.run_pass(t)

    def latencies(self, out) -> list[float]:
        return []

    def check_pass(self, out) -> tuple[int, float]:
        f1, r1 = self.telemetry.check_pass(out[0])
        f2, r2 = self.corpus.check_pass(out[1])
        return f1 + f2, min(r1, r2)

    def check_final(self, passes: int) -> tuple[int, float | None, dict]:
        f, _, telemetry = self.telemetry.check_final(passes)
        _, _, corpus = self.corpus.check_final(passes)
        return f, None, {"telemetry": telemetry, "corpus": corpus}


WORKLOADS = {w.name: w for w in (Pipelines, Analytic)}
