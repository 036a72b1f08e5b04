"""Plan audits: the scale properties the engine is designed around must be
visible in the physical plans of the headline queries — filters pushed to
the scan, dimension joins broadcast, sub-quadratic near-dup joins, no
O(n²) window frames."""

import os

import pytest

from solarboat_data_pipeline_spark import driver_queries as dq
from solarboat_data_pipeline_spark.plans import audit
from solarboat_data_pipeline_spark.plans.audit import read_schemas

from tests.conftest import DATA_DIR, TESTDATA_ROOT

SF_DIR = f"{TESTDATA_ROOT}/sf0.001"


@pytest.fixture(scope="module")
def qs():
    return dq.queries()


def test_scan_pushdown_reaches_parquet(spark, qs):
    a = audit(qs["s2_scan_pushdown"](spark, SF_DIR))
    # predicate pushed to the scan
    assert any("l_quantity" in f for f in a.pushed_filters), a.pushed_filters
    assert any("l_shipdate" in f for f in a.pushed_filters), a.pushed_filters
    # column pruning: only the 5 referenced lineitem columns (3 projected +
    # 2 filter-only) are read, not the table's 16
    schemas = read_schemas(a.plan)
    assert schemas and all(s.count(":") <= 5 for s in schemas), schemas


def test_dimension_join_broadcasts(spark, qs):
    a = audit(qs["j1_left_join_enrich"](spark, SF_DIR))
    assert a.broadcast_join
    assert "SortMergeJoin" not in a.plan


def test_lsh_join_is_not_quadratic(spark, qs):
    a = audit(qs["dd_lsh_pairs"](spark, SF_DIR))
    # the band join must be an equi-join (hash/sort-merge), never a
    # cartesian or nested-loop product
    assert not a.cartesian_join


def test_asof_and_interpolate_avoid_unbounded_following(spark, qs):
    for name in ("j3_asof_linear", "j4_asof_backward", "w3_interpolate_bounded"):
        a = audit(qs[name](spark, SF_DIR))
        assert not a.unbounded_following, name


def test_q1_single_shuffle_agg(spark, qs):
    a = audit(qs["q1_pricing_summary"](spark, SF_DIR), execute=True)
    # partial agg map-side + one exchange on the grouping keys
    assert a.shuffles == 1, a.plan
    assert a.codegen_stages >= 1


def test_exact_dedup_single_shuffle(spark, qs):
    a = audit(qs["dd_exact"](spark, SF_DIR))
    assert a.shuffles == 1, a.plan


def test_embedding_and_simhash_pair_joins_are_bucketed(spark, qs):
    # candidate generation must join on bucket equality, never produce the
    # all-pairs nested-loop the exact baselines use; same contract for the
    # chunk-bucketed interval join (Spark's native plan for a raw range
    # predicate IS the nested loop)
    for name in ("dd_embedding_lsh", "dd_simhash_pairs", "j6_interval_join"):
        a = audit(qs[name](spark, SF_DIR))
        assert not a.cartesian_join, name


def test_token_budget_sample_single_shuffle(spark, qs):
    # hash-order prefix per stratum: one exchange on the stratum key
    a = audit(qs["samp_token_budget"](spark, SF_DIR))
    assert a.shuffles <= 1, a.plan
    assert not a.unbounded_following


# mapInPandas (ArrowEvalPython/MapInPandas) is the sanctioned Python path;
# BatchEvalPython would mean a row-at-a-time UDF leaked into a hot path
NO_PYTHON_QUERIES = [
    "s1_candump_parse",
    "p10_binary_decode",
    "q1_pricing_summary",
    "j3_asof_linear",
    "j3_asof_linear_scaled",
    "w3_interpolate_scaled",
    "w2_lagk_scaled",
    "dd_lsh_pairs",
    "dd_embedding_lsh",
    "dd_simhash_pairs",
    "j6_interval_join",
    "sim_cosine_topk",
    "txt_quality",
    "txt_decontaminate",
    "samp_token_budget",
    "pipeline_curation",
]


@pytest.mark.parametrize("name", NO_PYTHON_QUERIES)
def test_hot_paths_have_no_rowwise_python(spark, qs, name):
    a = audit(qs[name](spark, SF_DIR))
    assert "BatchEvalPython" not in a.plan, name


def test_parse_path_stays_in_codegen(spark, qs):
    a = audit(qs["s1_candump_parse"](spark, SF_DIR), execute=True)
    assert a.codegen_stages >= 1, a.plan


def test_unify_stages_broadcast_without_window_or_shuffle(spark):
    """Both unify stages enrich a materialised grid through a broadcast
    lookup: the grid is never shuffled, sorted or windowed."""
    from pyspark.sql import functions as F

    from solarboat_data_pipeline_spark.pipeline import (
        unify_forecast_stage,
        unify_gps_stage,
    )

    t0 = 1_700_000_000 * 1_000_000

    def at(step_us, n, col):
        return spark.range(n).select(
            F.timestamp_micros(F.lit(t0) + F.col("id") * step_us).alias("timestamp"),
            (F.col("id") * 1.5).alias(col),
        )

    grid = at(100_000, 2_000, "v").localCheckpoint()
    out = unify_gps_stage(
        unify_forecast_stage(grid, at(30_000_000, 8, "dni"), 0.1),
        at(1_300_000, 160, "lat"),
    )
    a = audit(out)
    assert a.shuffles == 0, a.plan
    assert a.broadcast_join
    assert not a.cartesian_join
    assert "Window" not in a.plan, a.plan


def test_parse_stage_scans_the_text_once(spark):
    """parse_stage materialises the extracted frames while it is built;
    the returned plan reads that table, not the candump text again."""
    from solarboat_data_pipeline_spark.catalog import CanCatalog
    from solarboat_data_pipeline_spark.pipeline import parse_stage

    catalog = CanCatalog.load(os.path.join(DATA_DIR, "mini_can_ids.json"))
    a = audit(parse_stage(spark, os.path.join(DATA_DIR, "sample.candump"), catalog))
    assert "Scan text" not in a.plan, a.plan


def test_decode_wide_literal_geometry_folds(spark):
    """decode_wide calls the one field decoder with literal geometry, and
    constant folding specializes it: the optimized plan keeps one CASE
    per wide column (its topic-key test) and compares no field width."""
    import datetime
    import re

    from solarboat_data_pipeline_spark.catalog import CanCatalog
    from solarboat_data_pipeline_spark.operators.parse import decode_wide

    catalog = CanCatalog.load(os.path.join(DATA_DIR, "mini_can_ids.json"))
    frames = spark.createDataFrame(
        [(datetime.datetime(2023, 1, 1), "fa0102", 0xFA, 0x08, 3)],
        "timestamp timestamp, payload_hex string, signature int, "
        "topic_id int, payload_len int",
    )
    plan = decode_wide(frames, catalog)._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("CASE WHEN") == len(catalog.wide_columns()), plan
    assert not re.search(r"= (?:16|8)\b", plan), plan
