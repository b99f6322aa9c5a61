"""Tests of the benchmark itself (not of the program).

    python3 -m pytest perfbench/tests -q

The Spark tests start one small local session; the rest are pure Python.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
REPO = os.path.dirname(BENCH)
sys.path.insert(0, REPO)

from perfbench import host, mix, run, staging, tables, trace  # noqa: E402


# ------------------------------------------------------------ generators

@pytest.mark.parametrize("dups", [False, True])
def test_staging_is_byte_identical_per_seed(tmp_path, dups):
    a, b, c = (str(tmp_path / x) for x in "abc")
    pa_ = staging.generate(a, 5, 4000, dups)
    pb_ = staging.generate(b, 5, 4000, dups)
    staging.generate(c, 6, 4000, dups)
    assert staging.digest(a) == staging.digest(b)
    assert staging.digest(a) != staging.digest(c)
    assert pa_ == pb_


def _canonical(s: str) -> str:
    """Independent re-statement of the payload contract: sorted keys, floats
    at 4 decimals, null / "" / [] / {} members dropped."""
    def walk(v):
        if isinstance(v, dict):
            out = {}
            for k in sorted(v):
                w = walk(v[k])
                if w is None or w == "" or w == [] or w == {}:
                    continue
                out[k] = w
            return out
        if isinstance(v, list):
            return [walk(x) for x in v if x is not None]
        if isinstance(v, float):
            return round(v, 4)
        return v
    return json.dumps(walk(json.loads(s)), sort_keys=True, separators=(",", ":"))


@pytest.mark.parametrize("dups", [False, True])
def test_staging_predictions_match_the_files(tmp_path, dups):
    """Recount the brick from the staged files with a local canonicalizer."""
    root = str(tmp_path / "stg")
    pred = staging.generate(root, 9, 6000, dups)
    subs_all, props_all, aid_all = set(), set(), set()
    canon_rows = 0
    for src in staging.SOURCES:
        dims = {}
        for name, col in (("substances", "sid"), ("properties", "pid")):
            t = pq.read_table(f"{root}/{src}/{name}.parquet").to_pylist()
            canon_rows += len({(r[col], r["data"]) for r in t})
            by_local = {}
            for r in t:
                by_local.setdefault(r[col], set()).add(_canonical(r["data"]))
            assert all(len(v) == 1 for v in by_local.values()), "local id fans out"
            dims[col] = {k: v.pop() for k, v in by_local.items()}
        want = pred["per_source"][src]
        assert len(set(dims["sid"].values())) == want["substances"]
        assert len(set(dims["pid"].values())) == want["properties"]
        acts = pq.read_table(f"{root}/{src}/activities.parquet").to_pylist()
        triples = {(dims["sid"][a["sid"]], dims["pid"][a["pid"]], a["inchi"], a["value"])
                   for a in acts}
        assert len(triples) == want["activities"]
        assert len(acts) == want["staged_activities"]
        subs_all |= set(dims["sid"].values())
        props_all |= set(dims["pid"].values())
        aid_all |= triples
    assert len(subs_all) == pred["distinct_sid"]
    assert len(props_all) == pred["distinct_pid"]
    assert len(aid_all) == pred["distinct_aid"]
    assert canon_rows == pred["json_payload_udf_rows"]
    # the cross-source payloads that must collapse to one id exist
    assert pred["distinct_sid"] < pred["totals"]["substances"]
    if dups:
        assert pred["totals"]["activities"] < pred["staged_activities"] / 3
    else:
        assert pred["totals"]["activities"] > 0.95 * pred["staged_activities"]


def test_mix_tables_are_byte_identical(tmp_path):
    tables.write(str(tmp_path / "a"), sf=0.001)
    tables.write(str(tmp_path / "b"), sf=0.001)
    assert staging.digest(str(tmp_path / "a")) == staging.digest(str(tmp_path / "b"))
    assert sorted(os.listdir(tmp_path / "a")) == sorted(f"{t}.parquet" for t in tables.TABLES)


def test_mix_documents_have_the_repo_data_near_duplicate_density():
    """One document in twenty is another with " dup" appended; none repeat
    exactly (the dedup and similarity queries depend on this)."""
    docs = tables.build(sf=0.001)["documents"].to_pydict()
    near = [t for t in docs["text"] if t.split()[-1] == "dup"]
    assert len(near) == len(docs["text"]) // 20
    assert all(t[:-len(" dup")] in docs["text"] for t in near)
    assert len(set(docs["text"])) == len(docs["text"])
    assert docs["n_chars"] == [len(t) for t in docs["text"]]


def test_fingerprints_cover_the_mix():
    fp = mix.load_fingerprints()
    assert sorted(fp["queries"]) == sorted(mix.HEADLINE)
    assert fp["data_seed"] == tables.DATA_SEED and fp["sf"] == tables.SF


# ------------------------------------------------------------ statistics

def test_tail_percentile_needs_ten_samples_beyond():
    assert host.tail_percentile([3.0, 1.0, 2.0]) == (50.0, 2.0, 3)
    xs = [float(i) for i in range(1, 12)]                 # 11 samples
    assert host.tail_percentile(xs) == (100.0 / 11, 1.0, 11)
    xs = [float(i) for i in range(1, 26)]                 # 25 samples
    pct, value, n = host.tail_percentile(list(reversed(xs)))
    assert (pct, value, n) == (60.0, 15.0, 25)
    assert sum(x > value for x in xs) == 10
    xs = [float(i) for i in range(100)]
    assert host.tail_percentile(xs) == (90.0, 89.0, 100)


def test_parse_metric_units():
    assert trace.parse_metric("1,000") == 1000
    assert trace.parse_metric("8.5 KiB") == 8.5 * 1024
    assert trace.parse_metric("1.3 s") == 1300
    assert trace.parse_metric("25 ms") == 25
    assert trace.parse_metric(
        "total (min, med, max (stageId: taskId))\n12.1 KiB (1.0 B, 2.0 B, 3.0 B "
        "(stage 1.0: task 6))") == 12.1 * 1024
    assert trace.parse_metric(None) == 0.0


def test_assign_charges_innermost_span():
    spans = [trace.Span("outer", "plans.build", 1, 0.0, 10.0),
             trace.Span("inner", "plans.action", 1, 2.0, 4.0)]
    execs = [trace.Execution(1, 3.0, 1), trace.Execution(2, 5.0, 1),
             trace.Execution(3, 11.0, 1)]
    by = trace.assign(spans, execs)
    assert [e.id for e in by[1]] == [1]
    assert [e.id for e in by[0]] == [2]
    assert [e.id for e in by[-1]] == [3]


# ------------------------------------------------------------ the command

def test_command_fails_without_the_program(tmp_path):
    """In a directory holding only the benchmark, it exits non-zero and
    prints no result."""
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("_work", "_results", "__pycache__"))
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "query_mix",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


def test_benchmark_json_matches_the_command():
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert spec["command"] == ["python3", "perfbench/run.py"]
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER


# ------------------------------------------------------------ with Spark

@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("work"))
    run._prepare_env(work)
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    box: dict = {}
    run._start_session(work, box)
    if "error" in box:
        raise box["error"]
    yield box["spark"]
    run._stop_session(box["spark"])


@pytest.mark.parametrize("dups", [False, True])
def test_brick_matches_generator_prediction(spark, tmp_path, dups):
    stg, out = str(tmp_path / "stg"), str(tmp_path / "brick")
    pred = staging.generate(stg, 3, 3000, dups)
    run._build_once(spark, stg, out, trace.Tracer(False), lambda: None)
    got = run._read_brick(out)
    assert run._check_brick(got, pred) == []
    run._build_once(spark, stg, out, trace.Tracer(False), lambda: None)
    assert run._read_brick(out)["fingerprint"] == got["fingerprint"]


def test_status_reader_keys_on_a_tiny_query(spark, tmp_path):
    from pyspark.sql import functions as F

    path = str(tmp_path / "t.parquet")
    spark.range(0, 1000).withColumn("k", F.col("id") % 7).write.parquet(path)
    reader = trace.StatusReader(spark)
    reader.skip_existing()
    tracer = trace.Tracer(True)
    tracer.pass_id = 1
    t0 = host.time.perf_counter()
    with tracer.span("tiny.build", "plans.build"):
        df = spark.read.parquet(path)
        small = spark.range(0, 7).withColumnRenamed("id", "k")
        df = df.join(F.broadcast(small), "k").groupBy("k").count()
    with tracer.span("tiny.count", "plans.action"):
        assert df.count() == 7
    wall = host.time.perf_counter() - t0
    execs = reader.read_new()
    assert len(execs) >= 1
    tot = trace.totals(execs)
    assert tot["scan_rows"] == 1000 and tot["files_read"] >= 1
    assert tot["broadcast_joins"] >= 1 and tot["executor_run_ms"] > 0
    assert tot["stages"] >= 1 and tot["jobs"] >= 1
    layers = run._pass_layers(tracer.spans, execs, wall, host.nproc())
    assert {k for k in layers if not k.startswith("_")} <= set(run.PER_LAYER)
    assert layers["plans.action_s"] > 0 and layers["spark.sql_executions"] >= 1
    assert reader.read_new() == []
