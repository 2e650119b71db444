"""Redset-native operator tests on the dirty-data fixtures (FIXTURES.md) —
the paths the driver tables can't exercise (cleaning, CSV-list explode,
sentinels, interval semantics on the true FLATTENED_SCHEMA)."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from data_engineering_project_utn_spark.operators import clean as cl
from data_engineering_project_utn_spark.operators import ema as ema_ops
from data_engineering_project_utn_spark.operators import flatten as fl
from data_engineering_project_utn_spark.operators import histogram as hist_ops
from data_engineering_project_utn_spark.operators import intervals as iv_ops
from data_engineering_project_utn_spark.operators import live as live_ops
from data_engineering_project_utn_spark.operators import workload as wl_ops
from data_engineering_project_utn_spark.schema import REDSET_SCHEMA
from tests.fixtures import flat_rows, redset_raw_rows


@pytest.fixture(scope="module")
def raw_df(spark):
    return spark.createDataFrame(redset_raw_rows())


@pytest.fixture(scope="module")
def flat_df(spark):
    pdf = flat_rows()
    return spark.createDataFrame(pdf)


# ---------------------------------------------------------------------------
# Cleaning (F13-F16, §1.4)
# ---------------------------------------------------------------------------


class TestClean:
    def test_schema_coercion(self, raw_df):
        """Names+types match the canonical schema; the cleaned output is
        allowed to be stricter on nullability (defaults fill every null)."""
        cleaned = cl.clean_redset(raw_df)
        got = [(f.name, f.dataType) for f in cleaned.schema.fields]
        want = [(f.name, f.dataType) for f in REDSET_SCHEMA.fields]
        assert got == want

    def test_null_string_to_default(self, raw_df):
        cleaned = cl.clean_redset(raw_df).toPandas()
        # "NULL" instance ids → -1 default (id columns)
        assert (cleaned["instance_id"] == -1).any()
        assert cleaned["instance_id"].notna().all()
        # "NULL" compile durations → 0 default
        assert cleaned["compile_duration_ms"].notna().all()

    def test_bad_timestamp_to_epoch(self, raw_df):
        cleaned = cl.clean_redset(raw_df).toPandas()
        epoch = pd.Timestamp("1970-01-01")
        assert (cleaned["arrival_timestamp"] == epoch).any()  # coerced rows
        assert cleaned["arrival_timestamp"].notna().all()

    def test_bool_fill_false(self, raw_df):
        cleaned = cl.clean_redset(raw_df).toPandas()
        assert cleaned["was_aborted"].isin([True, False]).all()

    def test_drop_bad_timestamps(self, raw_df):
        cleaned = cl.clean_redset(raw_df)
        kept = cl.drop_bad_timestamps(cleaned)
        assert kept.count() < cleaned.count()
        assert kept.filter(F.col("arrival_timestamp") == "1970-01-01").count() == 0

    def test_drop_empty_lists_matches_pandas_reference(self, spark, raw_df):
        """AND-of-non-empty: the reference applies two sequential filters,
        each dropping rows whose list is '[]'/'<NA>'
        (`Historical_data_cleaning.py:59-60`) — a row survives only if BOTH
        lists are non-empty."""
        kept = cl.clean_redset(raw_df, drop_empty_lists=True).toPandas()
        assert len(kept) > 0
        assert (~kept["read_table_ids"].isin(["[]", ""])).all()
        assert (~kept["write_table_ids"].isin(["[]", ""])).all()

        # row-count parity with the reference's pandas filters applied to
        # the cleaned frame (where ''/'<NA>'/'NULL' already became '[]')
        base = cl.clean_redset(raw_df).toPandas()
        ref = base[~base["read_table_ids"].isin(["[]", "<NA>"])]
        ref = ref[~ref["write_table_ids"].isin(["[]", "<NA>"])]
        assert len(kept) == len(ref)
        assert len(kept) < len(base)  # the fixture has empty-list rows


# ---------------------------------------------------------------------------
# Flatten / explode (F10, §1.2)
# ---------------------------------------------------------------------------


class TestFlatten:
    def test_explode_matches_pandas_reference(self, spark, raw_df):
        """Row-for-row parity with the reference's split+explode+coerce
        (`Dashboard_Live_Final.py:680-689`)."""
        cleaned = cl.clean_redset(raw_df)
        flat = fl.flatten_table_ids(cleaned).toPandas()

        pdf = cleaned.toPandas()
        pdf["read_table_ids"] = pdf["read_table_ids"].astype(str).str.replace(
            r"[\[\]\s]", "", regex=True
        ).str.split(",")
        exploded = pdf.explode("read_table_ids", ignore_index=True)
        expected = pd.to_numeric(exploded["read_table_ids"], errors="coerce").astype(
            "Int64"
        )
        got = flat["read_table_id"].astype("Int64")
        assert len(got) == len(expected)
        assert got.fillna(-1).tolist() == expected.fillna(-1).tolist()

    def test_bad_tokens_null(self, spark):
        df = spark.createDataFrame(
            pd.DataFrame(
                {
                    "instance_id": [1],
                    "query_id": [1],
                    "arrival_timestamp": [pd.Timestamp("2024-03-01")],
                    "query_type": ["select"],
                    "read_table_ids": ["a,b,42"],
                    "write_table_ids": ["7"],
                }
            )
        )
        flat = fl.flatten_table_ids(df).toPandas()
        vals = flat["read_table_id"].tolist()
        assert len(vals) == 3
        assert pd.isna(vals[0]) and pd.isna(vals[1]) and vals[2] == 42

    def test_sentinel_filter(self, flat_df):
        filtered = flat_df.filter(F.col("read_table_id") != 999999)
        assert filtered.filter(F.col("read_table_id") == 999999).count() == 0


# ---------------------------------------------------------------------------
# Interval core on the true flattened schema (J1/J2→lead, J4, F1)
# ---------------------------------------------------------------------------


def _duckdb_con_with_flat():
    con = duckdb.connect()
    con.register("flat_pdf", flat_rows())
    con.execute("CREATE TABLE flat AS SELECT * FROM flat_pdf")
    return con


class TestIntervals:
    def test_lead_semantics_vs_duckdb(self, flat_df):
        got = (
            iv_ops.ingestion_intervals(flat_df)
            .toPandas()
            .sort_values(["instance_id", "write_table_id", "current_timestamp"])
            .reset_index(drop=True)
        )
        con = _duckdb_con_with_flat()
        exp = con.execute(
            """
            WITH ev AS (
                SELECT DISTINCT instance_id, query_id, write_table_id, arrival_timestamp
                FROM flat WHERE query_type IN ('insert','copy')
            )
            SELECT instance_id, query_id, write_table_id,
                   arrival_timestamp AS current_timestamp,
                   LEAD(arrival_timestamp) OVER (
                       PARTITION BY instance_id, write_table_id
                       ORDER BY arrival_timestamp, query_id) AS next_timestamp
            FROM ev
            ORDER BY instance_id, write_table_id, current_timestamp
            """
        ).df().reset_index(drop=True)
        assert got["query_id"].tolist() == exp["query_id"].tolist()
        assert got["next_timestamp"].fillna(pd.Timestamp(0)).tolist() == exp[
            "next_timestamp"
        ].fillna(pd.Timestamp(0)).tolist()

    def test_salted_intervals_equal_unsalted(self, flat_df):
        """The skew-salted window (bucket split + boundary repair) must be
        exactly equivalent to the plain lead() window."""
        key = ["instance_id", "write_table_id", "current_timestamp", "query_id"]
        plain = (
            iv_ops.ingestion_intervals(flat_df)
            .toPandas()
            .sort_values(key)
            .reset_index(drop=True)
        )
        for interval in ("1 hour", "30 minutes", "7 days"):
            salted = (
                iv_ops.ingestion_intervals_salted(flat_df, salt_interval=interval)
                .toPandas()
                .sort_values(key)
                .reset_index(drop=True)
            )
            assert plain[key].equals(salted[key]), interval
            assert plain["next_timestamp"].fillna(pd.Timestamp(0)).equals(
                salted["next_timestamp"].fillna(pd.Timestamp(0))
            ), interval

    def test_output_table_invariants(self, flat_df):
        """FIXTURES.md F4 invariants."""
        out = iv_ops.output_table(flat_df)
        pdf = out.toPandas()

        # ingestion rows appear exactly once per distinct flat ingestion row
        ing = pdf[pdf.query_type.isin(["insert", "copy"])]
        flat_pdf = flat_rows().drop_duplicates()
        n_ing_flat = len(flat_pdf[flat_pdf.query_type.isin(["insert", "copy"])])
        assert len(ing.drop_duplicates()) == n_ing_flat

        # freshness deltas non-negative where defined
        non_ing = pdf[~pdf.query_type.isin(["insert", "copy"])]
        assert (non_ing["time_since_last_ingest_ms"].dropna() >= 0).all()
        assert (non_ing["time_to_next_ingest_ms"].dropna() >= 0).all()

        # read-only table 99 has no bracketing ingestion → absent
        assert not (non_ing["read_table_id"] == 99).any()
        # sentinel reads likewise unmatched
        assert not (non_ing["read_table_id"] == 999999).any()

    def test_output_table_matches_bracket_join_semantics(self, flat_df):
        """The as-of merge must equal the literal bracket join with
        half-open intervals [cur, nxt).  The reference's BETWEEN is
        inclusive on both ends, which *duplicates* a query arriving exactly
        at an ingestion timestamp into both intervals (the fixture's +60-min
        select); we deliberately assign it to the newer interval only
        (SURVEY.md §7.2 documented divergence)."""
        out = iv_ops.output_table(flat_df).toPandas()
        con = _duckdb_con_with_flat()
        exp = con.execute(
            """
            WITH iv AS (
                SELECT instance_id, query_id, write_table_id,
                       arrival_timestamp AS cur,
                       LEAD(arrival_timestamp) OVER (
                           PARTITION BY instance_id, write_table_id
                           ORDER BY arrival_timestamp, query_id) AS nxt
                FROM (SELECT DISTINCT instance_id, query_id, write_table_id, arrival_timestamp
                      FROM flat WHERE query_type IN ('insert','copy'))
            )
            SELECT DISTINCT o.instance_id, o.query_id, o.query_type,
                   o.write_table_id, o.read_table_id, o.arrival_timestamp,
                   i.cur AS last_write_table_insert, i.nxt AS next_write_table_insert
            FROM flat o JOIN iv i
              ON o.instance_id = i.instance_id
             AND ((o.query_type = 'select' AND o.read_table_id = i.write_table_id)
                  OR (o.query_type <> 'select' AND o.write_table_id = i.write_table_id))
             AND o.arrival_timestamp >= i.cur
             AND (i.nxt IS NULL OR o.arrival_timestamp < i.nxt)
            WHERE o.query_type NOT IN ('insert','copy')
            """
        ).df()
        got = out[~out.query_type.isin(["insert", "copy"])]
        key = ["instance_id", "query_id", "last_write_table_insert"]
        got_k = got[key].sort_values(key).reset_index(drop=True)
        exp_k = exp[key].sort_values(key).reset_index(drop=True)
        # boundary rows (select exactly at an ingestion ts) may legitimately
        # differ; the fixture has selects at +5-min offsets vs +60-min
        # ingestions, so there are no ties and sets must match exactly.
        assert got_k.values.tolist() == exp_k.values.tolist()


# ---------------------------------------------------------------------------
# Workload / freshness / histogram on the fixture
# ---------------------------------------------------------------------------


class TestWorkloadAndHistogram:
    def test_workload_null_vs_zero(self, flat_df):
        out = iv_ops.output_table(flat_df)
        wl = wl_ops.tables_workload_count(out).toPandas()
        # write-only table 77: never matched (no ingestion interval) → absent;
        # tables 10/20 have both sides
        both = wl[(wl.table_id == 10) | (wl.table_id == 20)]
        assert both["select_count"].notna().all()
        assert both["transform_count"].notna().all()

    def test_analytical_classifier(self, flat_df):
        out = iv_ops.output_table(flat_df)
        wl = wl_ops.tables_workload_count(out)
        analytical = wl_ops.analytical_tables(wl).toPandas()
        # 12 selects vs 2 transforms per (instance, table) → share ≈ 0.857
        assert set(analytical["table_id"]) == {10, 20}
        assert (analytical["percentage_select_queries"] > 0.8).all()

    def test_decile_histogram_sums(self, flat_df):
        out = iv_ops.output_table(flat_df)
        wl = wl_ops.tables_workload_count(out)
        analytical = wl_ops.analytical_tables(wl)
        rel = hist_ops.relative_to_next(out, analytical).filter(
            F.col("relative_to_next").isNotNull()
        )
        n_rel = rel.count()
        hist = hist_ops.decile_histogram(rel).toPandas()
        assert hist["count"].sum() == n_rel
        assert set(hist["bin"]) <= set(range(1, 11))
        # relative position in [0, 1]
        rel_pdf = rel.toPandas()
        assert ((rel_pdf.relative_to_next >= 0) & (rel_pdf.relative_to_next <= 1)).all()

    def test_distributed_strategy_identical(self, flat_df):
        """decile_histogram(distributed=True) must equal the window-NTILE
        strategy exactly on the fixture."""
        out = iv_ops.output_table(flat_df)
        wl = wl_ops.tables_workload_count(out)
        analytical = wl_ops.analytical_tables(wl)
        rel = hist_ops.relative_to_next(out, analytical).filter(
            F.col("relative_to_next").isNotNull()
        )
        key = ["instance_id", "read_table_id", "bin"]
        a = (
            hist_ops.decile_histogram(rel, distributed=False)
            .toPandas()
            .sort_values(key)
            .reset_index(drop=True)
        )
        b = (
            hist_ops.decile_histogram(rel, distributed=True)
            .toPandas()
            .sort_values(key)
            .reset_index(drop=True)
        )
        assert a.equals(b)

    def test_percent_rank_decile_close_to_ntile(self, flat_df):
        out = iv_ops.output_table(flat_df)
        wl = wl_ops.tables_workload_count(out)
        analytical = wl_ops.analytical_tables(wl)
        rel = hist_ops.relative_to_next(out, analytical).filter(
            F.col("relative_to_next").isNotNull()
        )
        a = hist_ops.decile_histogram(rel).toPandas()
        b = hist_ops.decile_by_percent_rank(rel).toPandas()
        # same total mass and same bin support
        assert a["count"].sum() == b["count"].sum()


# ---------------------------------------------------------------------------
# EMA — batch fold vs Python reference recurrence
# ---------------------------------------------------------------------------


class TestEMA:
    def test_ema_matches_python_fold(self, spark):
        pdf = pd.DataFrame(
            {
                "k": ["a"] * 50 + ["b"] * 30,
                "ts": list(range(50)) + list(range(30)),
                "v": [float((i * 37) % 100) for i in range(50)]
                + [float((i * 13) % 50) for i in range(30)],
            }
        )
        df = spark.createDataFrame(pdf)
        got = {
            r["k"]: r["ema"]
            for r in ema_ops.ema_by_key(df, ["k"], "ts", "v", alpha=0.02).collect()
        }
        for k, grp in pdf.groupby("k"):
            ema = None
            for x in grp.sort_values("ts")["v"]:
                ema = x if ema is None else 0.02 * x + 0.98 * ema
            assert abs(got[k] - ema) < 1e-9, k

    def test_ema_null_values_skipped_not_reseeded(self, spark):
        """A null mid-series must carry the accumulator through, not reset
        it: the next non-null continues the fold with full history."""
        pdf = pd.DataFrame(
            {
                "k": ["a"] * 5,
                "ts": range(5),
                "v": [10.0, 20.0, None, 30.0, 40.0],
            }
        )
        df = spark.createDataFrame(pdf)
        got = ema_ops.ema_by_key(df, ["k"], "ts", "v", alpha=0.5).collect()[0]["ema"]
        ema = None
        for x in [10.0, 20.0, 30.0, 40.0]:  # nulls skipped
            ema = x if ema is None else 0.5 * x + 0.5 * ema
        assert abs(got - ema) < 1e-12

        # all-null series → null EMA, not a crash
        pdf2 = pd.DataFrame({"k": ["a"] * 3, "ts": range(3), "v": [None] * 3})
        df2 = spark.createDataFrame(pdf2, schema="k string, ts long, v double")
        assert ema_ops.ema_by_key(df2, ["k"], "ts", "v", 0.5).collect()[0]["ema"] is None

    def test_ema_scan_parallel_vs_sequential(self, spark):
        """Parallel segmented-scan EMA ≈ sequential fold (exact affine
        composition; fp regrouping bounded at ~1e-10 relative)."""
        pdf = pd.DataFrame(
            {
                "ts": range(5000),
                "v": [float((i * 37) % 1000) / 7.0 for i in range(5000)],
            }
        )
        df = spark.createDataFrame(pdf)
        got = ema_ops.ema_scan(df, "ts", "v", alpha=0.02, num_partitions=8)
        ema = None
        for x in pdf.sort_values("ts")["v"]:
            ema = x if ema is None else 0.02 * x + 0.98 * ema
        assert got is not None
        assert abs(got - ema) / abs(ema) < 1e-10

    def test_ema_scan_by_key_matches_python_fold(self, spark):
        """Per-key segmented scan ≈ per-key sequential Python fold for every
        key, with each key's series spanning many segments (the hot-key
        layout ema_by_key can't bound) — null values skipped, not reseeded."""
        rows = []
        for k in ("a", "b", "c"):
            n = {"a": 4000, "b": 700, "c": 1}[k]
            for i in range(n):
                v = None if (k == "b" and i % 7 == 3) else float((i * 37) % 997) / 3.0
                rows.append((k, i, v))
        pdf = pd.DataFrame(rows, columns=["k", "ts", "v"])
        df = spark.createDataFrame(pdf).repartition(16)
        got = {
            r["k"]: (r["ema"], r["n_obs"])
            for r in ema_ops.ema_scan_by_key(
                df, ["k"], "ts", "v", alpha=0.02, num_segments=8
            ).collect()
        }
        assert set(got) == {"a", "b", "c"}
        for k, grp in pdf.groupby("k"):
            ema = None
            for x in grp.sort_values("ts")["v"]:
                if x is None or x != x:  # skip nulls/NaN like the fold
                    continue
                ema = x if ema is None else 0.02 * x + 0.98 * ema
            assert abs(got[k][0] - ema) / max(1.0, abs(ema)) < 1e-10, k
            assert got[k][1] == len(grp)

    def test_ema_scan_by_key_segments_actually_split(self, spark):
        """The segmented path must put one key's rows into >1 segment group
        (state per task strictly below rows-per-key), and still agree with
        ema_by_key — the property that makes it the hot-key path."""
        pdf = pd.DataFrame(
            {"k": ["hot"] * 3000, "ts": range(3000), "v": [float(i % 71) for i in range(3000)]}
        )
        df = spark.createDataFrame(pdf).repartition(8)
        # count distinct (key, segment) groups via the same bucketing
        o = F.col("ts").cast("double")
        spans = df.groupBy("k").agg(F.min(o).alias("_mn"), F.max(o).alias("_mx"))
        seg = F.least(
            F.lit(7),
            F.floor((o - F.col("_mn")) / ((F.col("_mx") - F.col("_mn")) / F.lit(8.0))),
        )
        n_segs = (
            df.join(spans, "k").select(seg.alias("s")).distinct().count()
        )
        assert n_segs > 1
        scan = ema_ops.ema_scan_by_key(
            df, ["k"], "ts", "v", alpha=0.02, num_segments=8
        ).collect()[0]
        seq = ema_ops.ema_by_key(df, ["k"], "ts", "v", alpha=0.02).collect()[0]
        assert abs(scan["ema"] - seq["ema"]) / max(1.0, abs(seq["ema"])) < 1e-10
        assert scan["n_obs"] == seq["n_obs"]

    def test_stress_index_fields(self, spark):
        pdf = pd.DataFrame(
            {
                "arrival_timestamp": pd.date_range("2024-03-01", periods=40, freq="s"),
                "execution_duration_ms": [float(100 + i) for i in range(40)],
                "mbytes_spilled": [0.0] * 35 + [500.0] * 5,
            }
        )
        out = ema_ops.stress_index(spark.createDataFrame(pdf)).collect()[0]
        assert out["n_obs"] == 40
        # spill burst at the end lifts the short EMA above the long one
        assert out["ema_short"] > out["ema_long"]


# ---------------------------------------------------------------------------
# Live aggregates on cleaned fixture
# ---------------------------------------------------------------------------


class TestLiveOps:
    def test_counters_consistent(self, raw_df):
        cleaned = cl.clean_redset(raw_df)
        c = live_ops.query_counters(cleaned).collect()[0]
        assert c["total_queries"] == cleaned.count()
        assert c["successful_queries"] + c["aborted_queries"] == c["total_queries"]

    def test_leaderboard_rank_order(self, raw_df):
        cleaned = cl.clean_redset(raw_df)
        lb = live_ops.leaderboard_compile_time(cleaned, k=10).toPandas()
        assert len(lb) == 10
        assert lb["rank"].tolist() == list(range(1, 11))
        assert lb["compile_duration_ms"].is_monotonic_decreasing
        assert lb["compile_time_display"].str.match(r"^\d+:\d{2}$").all()

    def test_instance_categories(self, spark):
        pdf = pd.DataFrame(
            {
                "instance_id": [1] * 2 + [2] * 4 + [3] * 7,
                "cluster_id": list(range(2)) + list(range(4)) + list(range(7)),
            }
        )
        cats = {
            r["instance_id"]: r["category"]
            for r in live_ops.instance_categories(spark.createDataFrame(pdf)).collect()
        }
        assert cats == {1: "Local", 2: "Regional", 3: "Global"}


class TestProfile:
    def test_profile_counts_nulls_and_extremes(self, spark):
        """One-pass profiler: null accounting is exact, extremes appear only
        for engine-canonical types (int/string), approx mode stays within
        HLL tolerance."""
        from data_engineering_project_utn_spark.operators.profile import (
            profile_columns,
        )

        pdf = pd.DataFrame(
            {
                "a": [1, 2, 2, None],
                "s": ["x", "y", None, "y"],
                "d": [1.5, None, 2.5, 3.5],
            }
        )
        df = spark.createDataFrame(pdf).select(
            F.col("a").cast("bigint").alias("a"), "s", "d"
        )
        prof = {r["column"]: r for r in profile_columns(df).collect()}
        assert prof["a"]["n_rows"] == 4 and prof["a"]["n_null"] == 1
        assert prof["a"]["n_distinct"] == 2
        assert (prof["a"]["min_value"], prof["a"]["max_value"]) == ("1", "2")
        assert (prof["s"]["min_value"], prof["s"]["max_value"]) == ("x", "y")
        assert prof["d"]["min_value"] is None  # double extremes omitted
        approx = {
            r["column"]: r["n_distinct"]
            for r in profile_columns(df, exact_distinct=False).collect()
        }
        assert abs(approx["a"] - 2) <= 1
