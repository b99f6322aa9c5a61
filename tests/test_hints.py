"""Size-gated broadcast hints (hints.py) + the harmonize re-key posture.

VERDICT r4 task 1: the flagship must never FORCE a broadcast of a frame
whose cardinality grows with the data (re-key sid/pid maps, distinct-inchi
smiles mapping). The gate attaches a hint only under the session's
autoBroadcastJoinThreshold; the 'bucket' strategy avoids broadcast builds
entirely. These tests drive both paths on the real harmonize plan and
assert on the analyzed plan's hint nodes."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from chemharmony_spark.functions.chem import inchi_to_smiles, with_derived_column_deduped
from chemharmony_spark.hints import (
    broadcast_threshold_bytes,
    parse_byte_conf,
    plan_size_bytes,
    size_gated_broadcast,
)
from chemharmony_spark.plans.harmonize import harmonize

SOURCES = ["srcA", "srcB", "srcC"]


def _broadcast_hint_count(df) -> int:
    """ResolvedHint nodes in the analyzed plan (hints are erased from the
    optimized plan's serialization, so analyzed is where they're visible)."""
    return str(df._jdf.queryExecution().analyzed().toString()).count("ResolvedHint")


@pytest.fixture()
def tiny_threshold(spark):
    """Run a block with broadcasts effectively impossible (threshold=-1),
    restoring the session conf afterwards."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_parse_byte_conf_units():
    assert parse_byte_conf("10485760") == 10 * 1024 * 1024
    assert parse_byte_conf("10MB") == 10 * 1024 * 1024
    assert parse_byte_conf("512k") == 512 * 1024
    assert parse_byte_conf("1g") == 1 << 30
    assert parse_byte_conf("-1") == -1


def test_gate_hints_small_frames_and_skips_large(spark):
    small = spark.range(10)
    assert _broadcast_hint_count(size_gated_broadcast(small).alias("s")) == 1
    # a 1-byte gate can never be cleared -> no hint
    assert _broadcast_hint_count(size_gated_broadcast(small, max_bytes=1).alias("s")) == 0
    # disabled threshold (-1) -> no hint regardless of size
    assert _broadcast_hint_count(size_gated_broadcast(small, max_bytes=-1).alias("s")) == 0
    assert plan_size_bytes(small) > 0
    assert broadcast_threshold_bytes(spark) != 0


def test_harmonize_auto_rekey_never_forces_broadcast(spark, staging_fixture, tiny_threshold):
    """With the threshold disabled (the 'map too big' stand-in — the gate
    compares against the same conf a multi-GB map would fail), the auto
    strategy must leave the re-key joins AND the smiles mapping unhinted:
    zero ResolvedHint nodes anywhere in the activities plan."""
    res = harmonize(spark, staging_fixture, SOURCES, check_invariants=False)
    assert _broadcast_hint_count(res.activities) == 0
    # and the plan still computes the same brick
    assert res.activities.count() == 6


def test_harmonize_auto_rekey_hints_small_maps(spark, staging_fixture):
    """Under the normal threshold the fixture maps are tiny -> the gate
    attaches hints (3: sid map, pid map, smiles mapping)."""
    res = harmonize(spark, staging_fixture, SOURCES, check_invariants=False)
    assert _broadcast_hint_count(res.activities) == 3


def test_harmonize_bucket_strategy_matches_auto(spark, staging_fixture, tiny_threshold):
    """The pre-bucket path: no broadcast hint in the analyzed plan, no
    BroadcastHashJoin for the re-key joins in the physical plan (they run
    as shuffle-hash), and the brick is row-identical to the auto path.
    Cache cleared first and the plan read PRE-execution: a cached subtree
    left by another test otherwise substitutes into the plan
    (TableCacheQueryStage) and hides the join operators."""
    spark.catalog.clearCache()
    bucket = harmonize(spark, staging_fixture, SOURCES, check_invariants=False,
                       rekey_strategy="bucket")
    assert "broadcast" not in str(
        bucket.activities._jdf.queryExecution().analyzed().toString()
    ).lower()
    physical = bucket.activities._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in physical
    rows_b = sorted(map(tuple, bucket.activities.collect()))
    auto = harmonize(spark, staging_fixture, SOURCES, check_invariants=False)
    assert rows_b == sorted(map(tuple, auto.activities.collect()))


def test_harmonize_rejects_unknown_strategy(spark, staging_fixture):
    # 'bucket2' (the materializing strategy) was deleted; it is unknown now
    for strategy in ("cartesian", "bucket2"):
        with pytest.raises(ValueError, match="rekey_strategy"):
            harmonize(spark, staging_fixture, SOURCES, rekey_strategy=strategy)


def test_gate_declines_unknown_stats(spark):
    """Frames with no size statistics (LogicalRDD from createDataFrame)
    read as defaultSizeInBytes (huge) -> the gate conservatively declines
    and leaves the decision to AQE."""
    df = spark.createDataFrame([("a",), ("b",)], ["k"])
    assert _broadcast_hint_count(size_gated_broadcast(df).alias("s")) == 0


def test_derived_column_dedup_gate_modes(spark):
    # range-backed (known stats) so the default size gate can clear
    df = spark.range(3).select(
        F.when(F.col("id") < 2, F.concat(F.lit("InChI=1S/"), F.col("id")))
        .alias("inchi")
    )
    gated = with_derived_column_deduped(df, "inchi", "smiles", inchi_to_smiles("inchi"))
    forced = with_derived_column_deduped(
        df, "inchi", "smiles", inchi_to_smiles("inchi"), broadcast=True
    )
    never = with_derived_column_deduped(
        df, "inchi", "smiles", inchi_to_smiles("inchi"), broadcast=False
    )
    # tiny mapping: gate and forced both hint; False never does
    assert _broadcast_hint_count(gated) == 1
    assert _broadcast_hint_count(forced) == 1
    assert _broadcast_hint_count(never) == 0
    out = {r.inchi: r.smiles for r in gated.collect()}
    assert out["InChI=1S/0"] is not None and out[None] is None


def test_spread_scan_probe_gated_on_narrow_plans(spark, tmp_path):
    """r10 (r9 advice): under AQE, .rdd on a shuffle-containing frame
    materializes query stages (runs jobs) at DataFrame-build time, so
    spread_scan must only probe narrow scan-shaped inputs. The gate must
    pass every shape the in-tree call sites feed it (scan, projection,
    filter, generate) and reject shuffle-bearing shapes (aggregate,
    join, repartition) — where spread_scan returns the frame unchanged."""
    from pyspark.sql import functions as F

    from chemharmony_spark.hints import _narrow_scan_shape, spread_scan

    spark.range(10).selectExpr("id", "id % 3 AS k").write.mode(
        "overwrite").parquet(str(tmp_path / "t.parquet"))
    scan = spark.read.parquet(str(tmp_path / "t.parquet"))
    assert _narrow_scan_shape(scan)
    assert _narrow_scan_shape(scan.select("id"))
    assert _narrow_scan_shape(scan.where("id > 2").select(
        F.explode(F.array("id", "k")).alias("v")))
    agg = scan.groupBy("k").count()
    join = scan.join(scan.selectExpr("id AS id2"), scan.id == F.col("id2"))
    rep = scan.repartition(4)
    for wide in (agg, join, rep):
        assert not _narrow_scan_shape(wide)
        # gate off -> identity, and building it ran no probe job
        assert spread_scan(wide) is wide
