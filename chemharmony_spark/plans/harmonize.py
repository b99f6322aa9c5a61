"""The flagship query: staging -> harmonized brick (SURVEY.md §3.3).

Re-expression of reference 80_harmonize.py as one lazy Spark plan per output
table, with explicit materialization points where the reference checkpoints
to scratch parquet (80:42-43,57-58,76-77) — those breaks are load-bearing:
they truncate lineage before the re-key joins and let the dim frames be
reused by three consumers without recomputation.

Dataflow (per 80_harmonize.py):
  1. glob-scan per-source properties + provenance      (80:33-35)
  2. distinct -> canonicalize JSON -> pid=md5(data)    (80:37,39-40)
  3. same for substances -> sid=md5(data)              (80:48-58)
  4. activities: glob-scan, distinct, binary_value     (80:63-68)
  5. smiles from inchi via deduped UDF + join back     (80:71-73)
  6. re-key activities on (source, local sid/pid)      (80:76-78)
  7. aid = md5(sid||pid||inchi||value), distinct       (80:81-84)
  8. invariant checks, raising InvariantError          (80:96-105)

Scale design: the two re-key joins shuffle activities on (source, sid) then
(source, pid). The id maps are dimension-sized relative to activities
(1e6/1e3 vs 1e7+ rows) but their cardinality GROWS WITH THE DATA
(substances >1e6 at reference production scale, 80_harmonize.py:96 —
multi-GB at 100×), so the broadcast is size-gated, never forced:
``rekey_strategy='auto'`` attaches a hint only when Catalyst's plan
estimate clears autoBroadcastJoinThreshold (hints.size_gated_broadcast),
else leaves the join unhinted for AQE to pick from runtime statistics;
``rekey_strategy='bucket'`` is the explicit 100×-scale path — shuffle-hash
joins with the map as build side, no sort, no broadcast build at all. At
rest, writing staging bucketed by (source, sid) (writers.write_parquet
bucket_by) removes even the map-side exchange — proven zero-Exchange on
the exact composite-key re-key shape in
tests/test_bucketing.py::test_harmonize_rekey_shape_cobucketed_composite_key.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from chemharmony_spark.functions.chem import inchi_to_smiles, with_derived_column_deduped
from chemharmony_spark.functions.ids import surrogate_aid
from chemharmony_spark.hints import size_gated_broadcast
from chemharmony_spark.functions.json_payload import canonicalize_json_udf
from chemharmony_spark.sources.readers import read_staging_glob


class InvariantError(AssertionError):
    """A harmonize data-quality gate failed (row floor, provenance, pid/data
    bijection, referential integrity). Raised explicitly so ``python -O``
    cannot strip the gate; subclasses AssertionError for callers that
    already catch that."""


@dataclass
class HarmonizeResult:
    substances: DataFrame
    properties: DataFrame
    activities: DataFrame

    def unpersist(self) -> None:
        """Release the caches taken out for the invariant suite. Frames stay
        usable (recompute-on-reference)."""
        for frame in (self.substances, self.properties, self.activities):
            frame.unpersist()


def _harmonize_dim(spark: SparkSession, glob: str, sources: list[str],
                   local_id: str, global_id: str,
                   table: str | None = None) -> DataFrame:
    """Steps 1-3 for one dim table: provenance, distinct, canonical md5 id.

    ``table``: read a catalog table (which already carries its ``source``
    column — the bucketed-staging path) instead of the provenance glob."""
    if table is not None:
        dim = spark.table(table).select(local_id, "data", "source")
    else:
        dim = read_staging_glob(spark, glob, sources).select(local_id, "data", "source")
    dim = dim.distinct()
    dim = dim.withColumn("data", canonicalize_json_udf("data"))
    return dim.withColumn(global_id, F.md5(F.col("data")))


def harmonize(
    spark: SparkSession,
    staging_root: str,
    sources: list[str],
    scratch_dir: str | None = None,
    derive_smiles: bool = True,
    check_invariants: bool = True,
    min_rows: tuple[int, int, int] = (0, 0, 0),
    rekey_strategy: str = "auto",
    staging_tables: dict[str, str] | None = None,
) -> HarmonizeResult:
    """Run the harmonize plan; returns the three brick DataFrames (lazy,
    unless ``scratch_dir`` is given — then dims are checkpointed like the
    reference's cache/harmonize, 80_harmonize.py:20,42-43,76-77).

    ``min_rows``: (substances, properties, activities) floors — the
    reference's production values are (1e6, 1e3, 1e7) (80:96-98).

    ``rekey_strategy``: how the (source, sid/pid) -> global-id re-key joins
    execute. ``'auto'`` (default): size-gated broadcast hint — attached only
    when Catalyst estimates the map under autoBroadcastJoinThreshold, else
    unhinted (AQE decides from runtime stats). ``'bucket'``: the pre-bucket
    path for corpora whose id maps outgrow broadcast — shuffle-hash joins
    with the map as build side (no sort, no broadcast build); pair with
    staging written bucketed by (source, sid) to drop the map-side exchange.

    ``staging_tables``: {'substances': name, 'properties': name,
    'activities': name} catalog tables to read INSTEAD of the provenance
    glob — the at-rest completion of ``rekey_strategy='bucket'``. Each
    table must already carry its ``source`` column (the glob derives it
    from the path; a saved table stores it). Write activities bucketed by
    (source, sid) (writers.write_parquet bucket_by) and the sid re-key
    join reads the fact side with ZERO exchanges — the bucketed scan's
    output partitioning satisfies the join's required distribution
    (proven end-to-end in tests/test_bucketing.py).

    With ``check_invariants`` every data-quality gate that fails raises
    :class:`InvariantError`.
    """
    if rekey_strategy not in ("auto", "bucket"):
        raise ValueError(
            f"rekey_strategy must be 'auto' or 'bucket', got {rekey_strategy!r}"
        )
    if staging_tables:
        unknown = set(staging_tables) - {"substances", "properties", "activities"}
        if unknown:
            # a typo'd key would otherwise silently fall back to the glob
            # path for that table — losing the bucketed zero-exchange
            # property with no error
            raise ValueError(
                f"staging_tables has unknown keys {sorted(unknown)}; "
                "expected a subset of {'substances', 'properties', 'activities'}"
            )
    tables = staging_tables or {}
    props = _harmonize_dim(
        spark, f"{staging_root}/*/properties.parquet", sources, "pid", "newpid",
        table=tables.get("properties"),
    )
    subs = _harmonize_dim(
        spark, f"{staging_root}/*/substances.parquet", sources, "sid", "newsid",
        table=tables.get("substances"),
    )

    if scratch_dir:  # checkpoint: truncate lineage before fan-out reuse
        props.write.mode("overwrite").parquet(f"{scratch_dir}/properties")
        subs.write.mode("overwrite").parquet(f"{scratch_dir}/substances")
        props = spark.read.parquet(f"{scratch_dir}/properties")
        subs = spark.read.parquet(f"{scratch_dir}/substances")

    if "activities" in tables:
        acts_raw = spark.table(tables["activities"])
    else:
        acts_raw = read_staging_glob(
            spark, f"{staging_root}/*/activities.parquet", sources
        )
    null_prov_future = None
    if check_invariants:
        # must be checked on the raw scan, BEFORE the inner re-key joins: a
        # staged file whose path matches no declared source yields NULL
        # provenance here, and the joins would silently drop those rows (the
        # reference's post-hoc check at 80:100-101 has this blind spot; we
        # close it). Submitted from a driver thread so this map-side count
        # overlaps the main job's scan instead of gating it — the check
        # fires before anything is returned, so a violation still aborts.
        from concurrent.futures import ThreadPoolExecutor

        _null_pool = ThreadPoolExecutor(max_workers=1)
        null_prov_future = _null_pool.submit(
            lambda: acts_raw.where(F.col("source").isNull()).count()
        )
        _null_pool.shutdown(wait=False)
    # the reference distincts immediately after the scan (80:67); the final
    # distinct after aid derivation subsumes it (all derivations are
    # deterministic row-functions), so this skips that extra full shuffle
    # (-2 s at sf0.1). binary_value is derived AFTER the final dedup
    # shuffle (see below, r10) — deriving it here carried 4 redundant
    # bytes/row through both re-key joins and the distinct exchange.

    # re-key: local (source, sid/pid) -> global md5 ids (80:76-78).
    sid_map = subs.select("source", F.col("sid").alias("__localsid"), "newsid").distinct()
    pid_map = props.select("source", F.col("pid").alias("__localpid"), "newpid").distinct()
    if rekey_strategy == "bucket":
        # pre-bucket path: both joins are shuffle-hash with the map as the
        # build side — no sort of the fact table, no broadcast build, works
        # at any map cardinality. Staging written bucketed by (source, sid)
        # removes the map-side exchange entirely.
        sid_map, pid_map = sid_map.hint("shuffle_hash"), pid_map.hint("shuffle_hash")
    else:  # 'auto': hint only if Catalyst's estimate clears the threshold
        sid_map = size_gated_broadcast(sid_map)
        pid_map = size_gated_broadcast(pid_map)
    acts = (
        acts_raw.withColumnRenamed("sid", "__localsid")
        .withColumnRenamed("pid", "__localpid")
        .join(sid_map, on=["source", "__localsid"], how="inner")
        .drop("__localsid")
        .join(pid_map, on=["source", "__localpid"], how="inner")
        .drop("__localpid")
        .withColumnRenamed("newsid", "sid")
        .withColumnRenamed("newpid", "pid")
    )

    keep = ["sid", "pid", "source", "inchi", "value", "binary_value"]
    narrow = ["sid", "pid", "source", "inchi", "value"]
    if "numvalue" in acts.columns:
        keep.append("numvalue")
        narrow.append("numvalue")
    # the dedup shuffle runs on the narrow columns only: aid is derived
    # AFTER distinct (md5 of a subset of the distinct key — deterministic,
    # so distinct-then-derive ≡ the reference's derive-then-distinct,
    # 80:83-84), binary_value is derived AFTER distinct too (r10: a pure
    # function of value, which IS in the distinct key, so the groups are
    # unchanged — this drops it from the re-key joins and this exchange;
    # guide §2.3 "narrower types"), and smiles joins AFTER distinct (pure
    # function of inchi, so it can't split groups). Keeps ~60 bytes/row of derived strings out of the
    # biggest exchange, and the smiles broadcast build no longer gates
    # the shuffle map stage.
    acts = (
        acts.select(*narrow)
        .distinct()
        .withColumn(
            "binary_value",
            F.when(F.col("value") == "positive", 1).otherwise(0),
        )
        .select(*keep)  # contract column order (binary_value before numvalue)
        .withColumn("aid", surrogate_aid())  # 80:83
    )
    if derive_smiles:  # 80:71-73: dedup-before-UDF then join back
        # universe=raw scan: inchi survives rekey+distinct unchanged, so
        # the broadcast mapping harvests distinct inchis from the cheap
        # scan instead of re-executing the whole join/distinct pipeline
        acts = with_derived_column_deduped(
            acts, "inchi", "smiles", inchi_to_smiles("inchi"),
            universe=acts_raw,
        )
        # contract column order (smiles before aid, matching the reference
        # envelope; README.md:17-25)
        cols = [c for c in acts.columns if c not in ("aid", "smiles")]
        acts = acts.select(*cols, "smiles", "aid")

    substances = subs.select(F.col("newsid").alias("sid"), "source", "data").distinct()
    properties = props.select(F.col("newpid").alias("pid"), "source", "data").distinct()

    if check_invariants:
        # the invariant suite runs ~8 actions over these frames; persist so
        # each plan executes once (the reference gets the same effect by
        # writing the brick to parquet before asserting, 80:86-105).
        # Registry-routed: release_caches() after the caller consumes the
        # result frees them (recompute-on-reference keeps this safe).
        from chemharmony_spark.cache import registered_persist

        for frame in (substances, properties, acts):
            registered_persist(frame)
        _assert_invariants(substances, properties, acts, sources, min_rows)
        n_null = null_prov_future.result()
        if n_null != 0:
            raise InvariantError(
                f"{n_null} staged activity rows have unresolvable provenance "
                f"(staging dir not in declared sources {sources})"
            )

    return HarmonizeResult(substances=substances, properties=properties,
                           activities=acts)


def _assert_invariants(substances, properties, activities, sources, min_rows):
    """Reference asserts 80_harmonize.py:96-105 + tests.py:17-56 invariants.

    Consolidated into four Spark actions (one agg per dim, one over
    activities, one for referential integrity), submitted CONCURRENTLY from
    driver threads: the actions are independent reads of persisted frames,
    so the scheduler interleaves their small stages across the executor
    cores and wall time collapses toward the slowest action instead of the
    sum (measured ~2x on the invariant suite at sf0.1; same effect on a
    real cluster, where per-job overhead is even higher).
    """
    from concurrent.futures import ThreadPoolExecutor

    # the dim source check matters most on the staging_tables path: a
    # catalog table STORES its source column (the glob derives it from
    # declared dirs), so an undeclared/NULL value would otherwise flow
    # silently into the output bricks — only activities were checked
    # through r6. Same one-pass agg, no extra action.
    def _bad_src():
        return F.sum(
            F.when(
                F.col("source").isNull()
                | ~F.col("source").isin(list(sources)), 1
            ).otherwise(0)
        ).alias("bad_src")

    def _s():
        return substances.agg(
            F.count(F.lit(1)).alias("n"), _bad_src()
        ).collect()[0]

    def _p():
        return properties.agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("pid").alias("n_pid"),
            F.countDistinct("pid", "data").alias("n_pd"),
            _bad_src(),
        ).collect()[0]

    def _a():
        # every source ∈ declared list (80:100-101); NULL = staged file
        # whose path matched no declared source — equally fatal
        return activities.agg(
            F.count(F.lit(1)).alias("n"), _bad_src()
        ).collect()[0]

    def _ri():
        # referential integrity in one pass: left-join both dims, count misses
        return (
            activities.select("sid", "pid")
            .join(substances.select("sid").distinct().withColumn("__s", F.lit(1)),
                  "sid", "left")
            .join(properties.select("pid").distinct().withColumn("__p", F.lit(1)),
                  "pid", "left")
            .agg(
                F.sum(F.when(F.col("__s").isNull(), 1).otherwise(0)).alias("orphan_s"),
                F.sum(F.when(F.col("__p").isNull(), 1).otherwise(0)).alias("orphan_p"),
            )
            .collect()[0]
        )

    with ThreadPoolExecutor(max_workers=4) as pool:
        fs, fp, fa, fri = (pool.submit(f) for f in (_s, _p, _a, _ri))
        s, p, a, ri = fs.result(), fp.result(), fa.result(), fri.result()
    checks = [
        (s.n > min_rows[0], f"substances {s.n} <= floor {min_rows[0]}"),
        (p.n > min_rows[1], f"properties {p.n} <= floor {min_rows[1]}"),
        (a.n > min_rows[2], f"activities {a.n} <= floor {min_rows[2]}"),
        (a.bad_src == 0,
         f"{a.bad_src} activities with undeclared/unresolvable sources"),
        (s.bad_src == 0,
         f"{s.bad_src} substances with undeclared/unresolvable sources"),
        (p.bad_src == 0,
         f"{p.bad_src} properties with undeclared/unresolvable sources"),
        # pid <-> data bijection: one canonical payload per pid (80:104-105)
        (p.n_pid == p.n_pd, "pid collision: same pid maps to different data"),
        (ri.orphan_s == 0, f"{ri.orphan_s} activities with unknown sid"),
        (ri.orphan_p == 0, f"{ri.orphan_p} activities with unknown pid"),
    ]
    for ok, msg in checks:
        if not ok:
            raise InvariantError(msg)
