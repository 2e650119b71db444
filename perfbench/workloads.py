"""The benchmark's workloads.

Each workload writes its inputs from the seed, computes every expected
result from the registered DuckDB oracles before Spark starts, and runs
its operations one after another from a single closed-loop client (the
next operation starts when the previous one has returned).

* ``history_ingest`` - the write path: time-ordered 6-hour micro-batches go
  through ``IncrementalHistoricalPipeline.process_batch`` (the call
  foreachBatch makes), each followed by the ``freshness_alarm`` read-back.
  A seeded share of rows arrives one batch late.  The only workload in
  ``sources`` and ``streaming``.
* ``corpus_curation`` - LLM curation stages built from the registry, each
  in its own ``pin_scope()`` and collected.  The only workload in ``llm``
  and the one that exercises ``plans`` builds, including driver-side work
  inside ``build``.

Together they run every layer: ``session``, ``tables``, ``plans``,
``operators``, ``persist``, ``sources``, ``streaming`` and ``llm``.  The
stage set is a subset of the registry, one or two stages per family (text,
dedup, similarity, curation), so that the warm-up passes and the measured
passes fit the run budget.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pandas as pd

import inputs

# Expected rows are compared with the oracle harness's canonical form.
from tests.oracle_harness import canonicalize
from data_engineering_project_utn_spark import plans
from data_engineering_project_utn_spark.operators.workload import freshness_alarm
from data_engineering_project_utn_spark.plans import events_shared
from data_engineering_project_utn_spark.streaming.pipeline import (
    IncrementalHistoricalPipeline,
)

# stage family = the plans module that registers it
_FAMILY = {
    "llm_text_plans": "text",
    "llm_dedup_plans": "dedup",
    "llm_similarity_plans": "similarity",
    "llm_curation_plans": "curation",
}


def query(name: str) -> plans.Query:
    """The registered query ``name``; a missing name stops the run."""
    try:
        return plans.get_query(name)
    except KeyError:
        raise SystemExit(f"perfbench: query {name!r} is not registered") from None


def duck(data_dir: str, tables: tuple[str, ...], tmp: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{tmp}'")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def reset_snapshot(spark) -> None:
    """Drop everything the previous pass cached."""
    spark.catalog.clearCache()
    events_shared._OUTPUT_TABLE_CACHE.clear()


class CorpusCuration:
    """One pass builds and collects each stage in a fixed order; the seed
    changes the corpus, not the order, so every run measures the same
    stage mix."""

    name = "corpus_curation"
    tables = ("documents", "embeddings")
    # an odd number of stages of distinct cost: the median operation then
    # falls inside one stage's samples (llm_knn_join) whatever the number of
    # passes, not between two stages
    names = (
        "llm_quality_scores",
        "llm_minhash_neardup",
        "llm_knn_join",
        "llm_knn_cosine",
        "llm_curation_gate",
    )
    # both tables are cut to the same share of the sf0.1 test tables' row
    # counts (shape.json), so that the warm-up and several measured passes
    # fit a run
    SCALE = 0.1

    def __init__(self):
        self.queries = {n: query(n) for n in self.names}
        self.expected: dict[str, list] = {}
        self.docs = round(inputs.shape("documents")["rows"] * self.SCALE)
        self.vecs = round(inputs.shape("embeddings")["rows"] * self.SCALE)
        # documents + embeddings consumed per pass, spread over its stages
        self.rows_per_op = (self.docs + self.vecs) / len(self.names)

    def make_inputs(self, rng: np.random.Generator, data_dir: str) -> None:
        inputs.documents(rng, self.docs, f"{data_dir}/documents.parquet")
        inputs.embeddings(rng, self.vecs, f"{data_dir}/embeddings.parquet")

    def compute_expected(self, data_dir: str, tmp: str) -> None:
        con = duck(data_dir, self.tables, tmp)
        for n, q in self.queries.items():
            self.expected[n] = canonicalize(con.execute(q.oracle).df())
        con.close()

    def prepare(self, run) -> None:
        pass

    def cycle(self, run) -> None:
        for n, q in self.queries.items():
            family = _FAMILY[q.build.__module__.rsplit(".", 1)[1]]
            run.op(n, family, self.rows_per_op, lambda q=q: self._stage(run, q), n)

    @staticmethod
    def _stage(run, q):
        with run.tracer.span("plans.build"):
            df = q.build(run.spark, run.data_dir)
        with run.tracer.span("plans.action"):
            return df.toPandas()

    def end_cycle(self, run) -> None:
        reset_snapshot(run.spark)

    def check_cycle(self, run) -> bool:
        return True


class HistoryIngest:
    name = "history_ingest"
    tables = ("events",)
    # the reference's 6-hour hop at the sf0.1 events table's arrival rate
    # (shape.json: ~833 events a batch); a pass replays the first BATCHES
    # hops, so every pass stays in the early-history regime
    BATCHES = 5
    BATCH_HOURS = 6

    def __init__(self):
        self.alarm = query("ri_freshness_alarm")
        self.output = query("ri_output_freshness")
        self.passes = 0

    def make_inputs(self, rng: np.random.Generator, data_dir: str) -> None:
        n = int(self.BATCHES * self.BATCH_HOURS * inputs.shape("events")["rows_per_hour"])
        ev = inputs.events(rng, n, f"{data_dir}/events.parquet")
        window = ((ev["ts"] - inputs.t0()) // np.timedelta64(self.BATCH_HOURS, "h")).to_numpy()
        late = (rng.random(n) < rng.uniform(0.05, 0.15)) & (window < self.BATCHES - 1)
        arrival = window + late
        self.batch_rows = np.bincount(arrival, minlength=self.BATCHES).tolist()
        pd.DataFrame({"event_id": ev["event_id"], "batch": arrival.astype(np.int64)}).to_parquet(
            f"{data_dir}/arrivals.parquet", index=False
        )

    def compute_expected(self, data_dir: str, tmp: str) -> None:
        con = duck(data_dir, (), tmp)
        con.execute(f"CREATE VIEW arrivals AS SELECT * FROM read_parquet('{data_dir}/arrivals.parquet')")
        self.expected = {}
        for k in range(self.BATCHES):
            con.execute(
                "CREATE OR REPLACE VIEW events AS SELECT e.* FROM "
                f"read_parquet('{data_dir}/events.parquet') e JOIN arrivals a USING (event_id) "
                f"WHERE a.batch <= {k}"
            )
            self.expected[k] = canonicalize(con.execute(self.alarm.oracle).df())
        self.expected["output"] = canonicalize(con.execute(self.output.oracle).df())
        con.execute(
            f"CREATE OR REPLACE VIEW events AS SELECT * FROM read_parquet('{data_dir}/events.parquet')"
        )
        touched, total = con.execute(
            events_shared.FLAT_CTE
            + """, per_batch AS (
                SELECT a.batch, COUNT(DISTINCT f.instance_id) AS n
                FROM flat f JOIN arrivals a ON f.query_id = a.event_id GROUP BY a.batch)
            SELECT SUM(n), (SELECT COUNT(DISTINCT instance_id) FROM flat) * COUNT(*) FROM per_batch"""
        ).fetchone()
        self.instances_touched_share = touched / total
        con.close()

    def prepare(self, run) -> None:
        """Split the flat replay into one parquet directory per batch - the
        files a file-stream source would hand to foreachBatch."""
        spark = run.spark
        self.batches_dir = f"{run.work}/batches"
        flat = events_shared.events_as_flat(spark, run.data_dir)
        arr = spark.read.parquet(f"{run.data_dir}/arrivals.parquet")
        flat.join(arr, flat["query_id"] == arr["event_id"]).drop("event_id").write.partitionBy(
            "batch"
        ).parquet(self.batches_dir)

    def cycle(self, run) -> None:
        base = f"{run.work}/ingest/pass{self.passes}"
        self.passes += 1
        self.pipe = IncrementalHistoricalPipeline(run.spark, f"{base}/acc", f"{base}/out")
        for k in range(self.BATCHES):
            batch_df = run.spark.read.parquet(f"{self.batches_dir}/batch={k}")
            run.op(
                f"batch{k}", "ingest", self.batch_rows[k],
                lambda k=k, b=batch_df: self._batch(run, b, k), k,
            )

    def _batch(self, run, batch_df, k):
        with run.tracer.span("streaming.process_batch"):
            self.pipe.process_batch(batch_df, k)
        run.after_batch(self.pipe)
        with run.tracer.span("streaming.read_output"):
            out = self.pipe.read_output()
        with run.tracer.span("operators.freshness_alarm"):
            alarm = freshness_alarm(out)
        with run.tracer.span("spark.action"):
            return alarm.toPandas()

    def end_cycle(self, run) -> None:
        reset_snapshot(run.spark)

    def check_cycle(self, run) -> bool:
        """The pass's final output table equals the full-replay oracle."""
        return canonicalize(self.pipe.read_output().toPandas()) == self.expected["output"]


WORKLOADS = {w.name: w for w in (HistoryIngest, CorpusCuration)}


def data_files(root: str) -> dict[str, int]:
    """Parquet data files under ``root`` -> mtime (ns)."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                out[p] = os.stat(p).st_mtime_ns
    return out
