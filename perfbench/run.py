"""The repo benchmark: one command, one workload, one seed.

    python3 perfbench/run.py --workload brick_build --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The benchmark generates its inputs from
``--seed`` under ``perfbench/_work`` while the package's ``get_spark`` starts
the session, runs warm-up passes whose outputs are verified (two builds, or
one concurrent round of the mix), and then times closed-loop passes (one
client issuing the next call only after the previous one returned) until
``--seconds`` of pass time have accrued, always at least one pass (three
builds). Every timed pass's outputs are checked too, and nothing is retried
or replaced. The last stdout line is the result JSON; the line before it
holds the run's host record, input sizes, pass times, per-operation
latencies and sample counts.

Workloads
  brick_build       seeded staging -> harmonize() -> the three brick tables
                    written with write_parquet(partition_by=["source"]);
                    near-unique rows, so the brick is about the input size
  brick_build_dups  same generator and staged size; sources re-publish a
                    small pool, so the brick is a fraction of the input
  query_mix         the 25 headline queries over generated tables, each
                    action a count(); the seed sets each pass's order. The
                    warm-up runs them concurrently, with full results hashed

``--trace 0`` prints the end-to-end metrics (``END_TO_END``). ``--trace 1``
records spans around every package call, reads Spark's SQL status store
after each pass and prints the per-layer metrics (``PER_LAYER``); spans and
the per-query breakdown are written to ``perfbench/_results``.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import json
import os
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
RESULTS = os.path.join(HERE, "_results")
sys.path.insert(0, REPO)

from perfbench import host, mix, staging, tables, trace  # noqa: E402

DRIVER_MEMORY = "4g"          # pinned: get_spark would default to 24g
BUILD_ACTIVITIES = 100_000    # staged activity rows per build workload
WARMUP_BUILDS = 2             # after one warm-up build the next still ran ~20%
                              # slow while the JIT compiled
MIN_BUILD_PASSES = 3          # so that a median exists
WORKLOADS = ("brick_build", "brick_build_dups", "query_mix")

END_TO_END = {
    "setup_s": "s", "pass_s": "s", "rows_per_s": "1/s", "success_rate": "share",
}
PER_LAYER = {
    "session.get_spark_s": "s", "host.load_avg_1m": "load",
    "host.calibration_s": "s", "host.peak_rss_mb": "MB",
    "ops.p50_s": "s", "ops.tail_s": "s",
    "trace.pass_s": "s", "trace.read_s": "s",
    "plans.build_s": "s", "plans.action_s": "s",
    "plans.eager_sql_executions": "count", "plans.out_rows_per_in_row": "share",
    "cache.release_caches_s": "s", "cache.persisted_mem_bytes": "bytes",
    "cache.persisted_disk_bytes": "bytes",
    "spark.sql_executions": "count", "spark.jobs": "count",
    "spark.stages": "count", "spark.tasks": "count",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
    "spark.jvm_gc_s": "s", "spark.core_busy_share": "share",
    "spark.shuffle_write_bytes": "bytes", "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.broadcast_bytes": "bytes",
    "spark.broadcast_collect_s": "s", "spark.broadcast_joins": "count",
    "spark.sort_merge_joins": "count", "spark.shuffled_hash_joins": "count",
    "sources.readers.scan_rows": "count", "sources.readers.scan_bytes": "bytes",
    "sources.readers.files_read": "count",
    "sources.writers.rows_written": "count",
    "sources.writers.bytes_written": "bytes",
    "sources.writers.files_written": "count",
    "sources.writers.bytes_per_staged_byte": "share",
    "functions.json_payload.udf_rows": "count",
    "functions.chem.udf_rows": "count",
    "functions.chem.udf_rows_per_activity": "share",
    "functions.python_udf_rows": "count", "functions.python_udf_busy_share": "share",
}


def _program_present() -> bool:
    return (os.path.isdir(os.path.join(REPO, "chemharmony_spark"))
            and os.path.isfile(os.path.join(REPO, "__spark_entry__.py"))
            and os.path.isfile(os.path.join(REPO, "tools", "check_oracle.py")))


def _prepare_env(work: str) -> None:
    """Pin the session's size and keep every file it writes under ``work``."""
    os.environ["SPARK_GRAFT_CPUS"] = str(host.nproc())
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # the short-lived launcher JVM spark-submit starts before the driver
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"


def _start_session(work: str, box: dict) -> None:
    """get_spark(), timed; run in a thread while the inputs are generated."""
    try:
        from chemharmony_spark.session import get_spark

        t0 = time.perf_counter()
        box["spark"] = get_spark(app_name="perfbench", extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
        })
        box["get_spark_s"] = time.perf_counter() - t0
    except BaseException as e:  # re-raised by the main thread
        box["error"] = e


def _stop_session(spark) -> None:
    """Stop Spark, then the JVM and its Python workers, and wait for them."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    children = host._descendants(os.getpid())
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.time() + 30
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in children):
        time.sleep(0.1)


# --------------------------------------------------------------------- builds

def _build_once(spark, stg: str, out: str, tracer: trace.Tracer, probe) -> float:
    """One brick build as ``cmd_harmonize`` runs it; returns its wall time
    (harmonize() call until the last table is written)."""
    from chemharmony_spark.cache import release_caches
    from chemharmony_spark.plans.harmonize import harmonize
    from chemharmony_spark.sources.writers import write_parquet

    shutil.rmtree(out, ignore_errors=True)
    t0 = time.perf_counter()
    with tracer.span("harmonize", "plans.build"):
        res = harmonize(spark, stg, staging.SOURCES)
    probe()
    for name in ("substances", "properties", "activities"):
        with tracer.span(f"write_parquet.{name}", "plans.action"):
            write_parquet(getattr(res, name), f"{out}/{name}.parquet",
                          partition_by=["source"])
    wall = time.perf_counter() - t0
    with tracer.span("release_caches", "cache"):
        res.unpersist()
        release_caches()
    return wall


def _read_brick(out: str) -> dict:
    """Row counts per table and source, distinct ids, and an order-insensitive
    fingerprint (row count + sum of 64-bit row hashes) per table. Read with
    pyarrow and pandas rather than the Spark session under test, so the
    check adds no Spark jobs to the traced executions."""
    import pandas as pd
    import pyarrow.dataset as ds

    got = {"per_source": {}, "fingerprint": {}}
    for name, key in (("substances", "sid"), ("properties", "pid"),
                      ("activities", "aid")):
        pdf = ds.dataset(f"{out}/{name}.parquet", format="parquet",
                         partitioning="hive").to_table().to_pandas()
        for src, n in pdf["source"].value_counts().items():
            got["per_source"].setdefault(src, {})[name] = int(n)
        rows = pd.util.hash_pandas_object(pdf[sorted(pdf.columns)], index=False)
        got["fingerprint"][name] = [len(pdf), str(sum(rows.tolist()))]
        got[f"distinct_{key}"] = int(pdf[key].nunique())
    return got


def _check_brick(got: dict, pred: dict) -> list[str]:
    bad = []
    for src, want in pred["per_source"].items():
        for t in ("substances", "properties", "activities"):
            n = got["per_source"].get(src, {}).get(t, 0)
            if n != want[t]:
                bad.append(f"{t}[{src}] {n} != predicted {want[t]}")
    extra = set(got["per_source"]) - set(pred["per_source"])
    if extra:
        bad.append(f"unexpected sources {sorted(extra)}")
    for key in ("distinct_sid", "distinct_pid", "distinct_aid"):
        if got[key] != pred[key]:
            bad.append(f"{key} {got[key]} != predicted {pred[key]}")
    return bad


def _verify_brick(got: dict, pred: dict, warm: dict) -> list[str]:
    bad = _check_brick(got, pred)
    if got["fingerprint"] != warm["fingerprint"]:
        bad.append("brick fingerprint differs from the first warm-up pass")
    return bad


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(dp, f))
               for dp, _, fs in os.walk(path) for f in fs
               if not f.startswith(("_", ".")))


def run_build(spark, args, work: str, tracer, reader, res: dict, pred: dict) -> None:
    stg, out = os.path.join(work, "inputs"), os.path.join(work, "brick")
    staged_bytes = staging.staged_bytes(stg)
    res["info"].update(staged_activities=pred["staged_activities"],
                       staged_bytes=staged_bytes, prediction=pred["totals"],
                       json_payload_udf_rows_needed=pred["json_payload_udf_rows"])

    t0, warm, bad = time.perf_counter(), None, []
    for _ in range(WARMUP_BUILDS):
        _build_once(spark, stg, out, trace.Tracer(False), lambda: None)
        got = _read_brick(out)
        warm = warm or got
        problems = _verify_brick(got, pred, warm)
        res["failed_ops"] += bool(problems)
        bad += problems
    res["setup_s"] = res["inputs_ready_s"] + time.perf_counter() - t0
    res["checks"]["warmup"] = bad or "ok"
    res["attempted"] += WARMUP_BUILDS
    _check_fingerprint(args, warm["fingerprint"], res)
    brick_bytes = _dir_bytes(out)

    res["calibration_s"] = host.calibrate(spark)
    if reader:
        reader.skip_existing()
    walls, measured, n_pass = [], 0.0, 0
    cpu0 = host.cpu_jiffies()
    sampler = _rss_sampler(tracer)
    with sampler:
        while measured < args.seconds or n_pass < MIN_BUILD_PASSES:
            n_pass += 1
            host.settle_io()
            tracer.pass_id += 1
            res["attempted"] += 1
            try:
                wall = _build_once(spark, stg, out, tracer,
                                   lambda: _probe_persisted(spark, tracer, res))
                got = _read_brick(out)
            except Exception as e:  # counted, never retried or replaced
                res["failed_ops"] += 1
                res["checks"].setdefault("errors", []).append(repr(e)[:300])
                measured += 1.0
                continue
            bad = _verify_brick(got, pred, warm)
            if bad:
                res["failed_ops"] += 1
                res["checks"].setdefault("errors", []).extend(bad)
            walls.append(wall)
            measured += wall
            if reader:
                t_read = time.perf_counter()
                res["executions"].append(reader.read_new())
                res["read_s"].append(time.perf_counter() - t_read)
    _noise(res, cpu0)
    res["peak_mem_mb"] = getattr(sampler, "peak", 0) / 2**20
    res["walls"] = walls
    res["op_samples"] = walls
    res["input_rows"] = pred["staged_activities"]
    res["layer_extra"] = {
        "plans.out_rows_per_in_row":
            pred["totals"]["activities"] / pred["staged_activities"],
        "sources.writers.bytes_per_staged_byte": brick_bytes / staged_bytes,
    }


def _rss_sampler(tracer: trace.Tracer):
    """Peak memory is a per-layer metric: sample it in traced runs only, as
    the sampler thread takes CPU from the timed passes."""
    return host.PeakRss() if tracer.enabled else contextlib.nullcontext()


def _noise(res: dict, cpu0: tuple[int, int]) -> None:
    """Host noise over the timed passes, recorded for every run."""
    steal, total = (b - a for a, b in zip(cpu0, host.cpu_jiffies()))
    res["load_avg_1m"] = host.load_avg_1m()
    res["info"].update(calibration_s=res["calibration_s"],
                       load_avg_1m=res["load_avg_1m"],
                       cpu_steal_share=steal / max(1, total))


def _probe_persisted(spark, tracer, res: dict) -> None:
    """Traced runs only: keep the peak of the bytes held by persisted frames,
    sampled while a pass's caches are still filled."""
    if tracer.enabled:
        mem, disk = trace.persisted_bytes(spark)
        peak = res["persisted"]
        peak[0], peak[1] = max(peak[0], mem), max(peak[1], disk)


def _check_fingerprint(args, fp: dict, res: dict) -> None:
    """Compare the brick fingerprint with the one an earlier run of the same
    workload, seed and size recorded in this checkout (recorded if none)."""
    os.makedirs(RESULTS, exist_ok=True)
    path = os.path.join(RESULTS, "brick_fingerprints.json")
    known = {}
    if os.path.exists(path):
        with open(path) as f:
            known = json.load(f)
    key = f"{args.workload}:{args.seed}:{BUILD_ACTIVITIES}"
    if key in known:
        ok = known[key] == fp
        res["checks"]["fingerprint_vs_earlier_run"] = ok
        if not ok:
            res["failed_ops"] += 1
    else:
        known[key] = fp
        tmp = f"{path}.{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(known, f, indent=1, sort_keys=True)
        os.replace(tmp, path)
        res["checks"]["fingerprint_vs_earlier_run"] = "recorded"


# ------------------------------------------------------------------ query mix

def run_mix(spark, args, work: str, tracer, reader, res: dict, n_rows: int) -> None:
    from concurrent.futures import ThreadPoolExecutor

    import numpy as np

    import __spark_entry__ as entry
    from chemharmony_spark.cache import release_caches

    data = os.path.join(work, "inputs")
    expected = mix.load_fingerprints()["queries"]
    qs = entry.queries()

    def full_result(name: str) -> dict:
        try:
            return mix.fingerprint(qs[name](spark, data).toPandas())
        except Exception as e:
            return {"error": repr(e)[:300]}

    # warm-up: every query once with its full result hashed, on one thread
    # per core. The entry module prepares the session when the first query
    # is built, which is not safe to race, so one query is built alone
    # first. This is set-up only: the timed passes below are one client.
    t0 = time.perf_counter()
    qs[mix.HEADLINE[0]](spark, data)
    with ThreadPoolExecutor(max_workers=host.nproc()) as pool:
        got = dict(zip(mix.HEADLINE, pool.map(full_result, mix.HEADLINE)))
    release_caches()
    gc.collect()
    res["setup_s"] = res["inputs_ready_s"] + time.perf_counter() - t0
    res["attempted"] += len(mix.HEADLINE)
    bad = [f"{name}: {g.get('rows', g.get('error'))} rows, hash "
           f"{g.get('hash', '')[:12]} != oracle fingerprint"
           for name, g in got.items() if g != expected.get(name)]
    res["checks"]["warmup"] = bad or "ok"
    res["failed_ops"] += len(bad)

    res["calibration_s"] = host.calibrate(spark)
    if reader:
        reader.skip_existing()
    rng = np.random.default_rng(args.seed)
    walls, lat, per_query, result_rows = [], [], {}, 0
    cpu0 = host.cpu_jiffies()
    sampler = _rss_sampler(tracer)
    with sampler:
        while sum(walls) < args.seconds or not walls:
            tracer.pass_id += 1
            wall = 0.0
            for i in rng.permutation(len(mix.HEADLINE)):
                name = mix.HEADLINE[i]
                res["attempted"] += 1
                t_q, n = time.perf_counter(), None
                try:
                    with tracer.span(f"{name}.build", "plans.build"):
                        df = qs[name](spark, data)
                    t_b = time.perf_counter()
                    with tracer.span(f"{name}.count", "plans.action"):
                        n = df.count()
                    t_end = time.perf_counter()
                    _probe_persisted(spark, tracer, res)
                except Exception as e:  # counted, never retried or replaced
                    res["failed_ops"] += 1
                    res["checks"].setdefault("errors", []).append(f"{name}: {e!r}"[:300])
                with tracer.span("release_caches", "cache"):
                    release_caches()
                # the pass wall covers each query through its release_caches();
                # it leaves out only the benchmark's own gc.collect() below
                wall += time.perf_counter() - t_q
                gc.collect()
                if n is None:
                    continue
                if n != expected[name]["rows"]:
                    res["failed_ops"] += 1
                    res["checks"].setdefault("errors", []).append(
                        f"{name}: count {n} != {expected[name]['rows']}")
                lat.append(t_end - t_q)
                per_query.setdefault(name, []).append((t_b - t_q, t_end - t_b))
                result_rows += n
            walls.append(wall)
            if reader:
                t_read = time.perf_counter()
                res["executions"].append(reader.read_new())
                res["read_s"].append(time.perf_counter() - t_read)
    _noise(res, cpu0)
    res["peak_mem_mb"] = getattr(sampler, "peak", 0) / 2**20
    res["walls"] = walls
    res["op_samples"] = lat
    res["input_rows"] = n_rows
    res["per_query"] = {
        k: {"build_s": statistics.median(b for b, _ in v),
            "action_s": statistics.median(a for _, a in v)}
        for k, v in per_query.items()}
    res["layer_extra"] = {"result_rows_per_pass": result_rows / len(walls)}


# -------------------------------------------------------------------- metrics

def _pass_layers(spans, execs, wall: float, cores: int) -> dict:
    by_span = trace.assign(spans, execs)
    tot = trace.totals(execs)
    out = {
        "plans.build_s": sum(s.end - s.start for s in spans if s.layer == "plans.build"),
        "plans.action_s": sum(s.end - s.start for s in spans if s.layer == "plans.action"),
        "cache.release_caches_s": sum(s.end - s.start for s in spans if s.layer == "cache"),
        "plans.eager_sql_executions": float(sum(
            len(by_span.get(i, [])) for i, s in enumerate(spans) if s.layer == "plans.build")),
        "spark.sql_executions": tot["sql_executions"], "spark.jobs": tot["jobs"],
        "spark.stages": tot.get("stages", 0.0), "spark.tasks": tot.get("tasks", 0.0),
        "spark.executor_run_s": tot.get("executor_run_ms", 0.0) / 1e3,
        "spark.executor_cpu_s": tot.get("executor_cpu_ms", 0.0) / 1e3,
        "spark.jvm_gc_s": tot.get("jvm_gc_ms", 0.0) / 1e3,
        "spark.core_busy_share": tot.get("executor_run_ms", 0.0) / 1e3 / (wall * cores),
        "spark.shuffle_write_bytes": tot.get("shuffle_write_bytes", 0.0),
        "spark.shuffle_read_bytes": tot.get("shuffle_read_bytes", 0.0),
        "spark.spill_bytes": tot.get("spill_bytes", 0.0),
        "spark.broadcast_bytes": tot.get("broadcast_bytes", 0.0),
        "spark.broadcast_collect_s": tot.get("broadcast_collect_ms", 0.0) / 1e3,
        "spark.broadcast_joins": tot.get("broadcast_joins", 0.0),
        "spark.sort_merge_joins": tot.get("sort_merge_joins", 0.0),
        "spark.shuffled_hash_joins": tot.get("shuffled_hash_joins", 0.0),
        "sources.readers.scan_rows": tot.get("scan_rows", 0.0),
        "sources.readers.scan_bytes": tot.get("scan_bytes", 0.0),
        "sources.readers.files_read": tot.get("files_read", 0.0),
        "sources.writers.rows_written": tot.get("rows_written", 0.0),
        "sources.writers.bytes_written": tot.get("bytes_written", 0.0),
        "sources.writers.files_written": tot.get("files_written", 0.0),
        "functions.json_payload.udf_rows": tot.get("udf_rows.json_payload", 0.0),
        "functions.chem.udf_rows": tot.get("udf_rows.chem", 0.0),
        "functions.python_udf_rows": float(sum(v for k, v in tot.items()
                                               if k.startswith("udf_rows."))),
        "functions.python_udf_busy_share": (tot.get("python_udf_ms", 0.0)
                                            / max(1.0, tot.get("executor_run_ms", 0.0))),
        # detail kept for the trace file only
        "_task_commit_s": tot.get("task_commit_ms", 0.0) / 1e3,
        "_job_commit_s": tot.get("job_commit_ms", 0.0) / 1e3,
    }
    return out


def per_layer(args, res: dict, tracer: trace.Tracer) -> tuple[dict, dict]:
    cores = host.nproc()
    passes = []
    for p, (wall, execs) in enumerate(zip(res["walls"], res["executions"]), start=1):
        spans = [s for s in tracer.spans if s.pass_id == p]
        passes.append(_pass_layers(spans, execs, wall, cores))
    med = {k: statistics.median(d[k] for d in passes) for k in passes[0]}
    extra = res["layer_extra"]
    med.update({k: v for k, v in extra.items() if k in PER_LAYER})
    if args.workload == "query_mix":
        med["plans.out_rows_per_in_row"] = (
                extra["result_rows_per_pass"] / max(1.0, med["sources.readers.scan_rows"]))
        med["sources.writers.bytes_per_staged_byte"] = 0.0
        med["functions.chem.udf_rows_per_activity"] = 0.0
    else:
        med["functions.chem.udf_rows_per_activity"] = (
            med["functions.chem.udf_rows"] / res["input_rows"])
    p50, tail = _op_latency(res)
    med.update({
        "ops.p50_s": p50, "ops.tail_s": tail,
        "session.get_spark_s": res["get_spark_s"],
        "host.load_avg_1m": res["load_avg_1m"],
        "host.calibration_s": res["calibration_s"],
        "host.peak_rss_mb": res["peak_mem_mb"],
        "trace.pass_s": statistics.median(res["walls"]),
        "trace.read_s": statistics.median(res["read_s"]),
        "cache.persisted_mem_bytes": res["persisted"][0],
        "cache.persisted_disk_bytes": res["persisted"][1],
    })
    detail = {
        "passes": passes,
        "spans": [s.__dict__ for s in tracer.spans],
        "queries": {f"queries.{k}": v for k, v in res.get("per_query", {}).items()},
        "eager_sql_executions_by_span": _eager_by_name(tracer, res),
    }
    return {k: med[k] for k in PER_LAYER}, detail


def _eager_by_name(tracer, res) -> dict:
    """SQL executions fired inside each plan-building call, per name."""
    out: dict[str, list[int]] = {}
    for p, execs in enumerate(res["executions"], start=1):
        spans = [s for s in tracer.spans if s.pass_id == p]
        by_span = trace.assign(spans, execs)
        for i, s in enumerate(spans):
            if s.layer == "plans.build":
                out.setdefault(s.name, []).append(len(by_span.get(i, [])))
    return out


def _op_latency(res: dict) -> tuple[float, float]:
    """Median and tail latency of one operation (a query on the mix, a
    build on the builds), also recorded on the info line of every run.
    Per-layer, not end-to-end: over ten seeds of one timed mix pass their
    spread was 0.28, above any bound the benchmark may set."""
    pct, tail, n = host.tail_percentile(res["op_samples"])
    p50 = statistics.median(res["op_samples"])
    res["info"].update(op_samples=n, op_p50_s=p50, op_tail_s=tail,
                       op_tail_percentile=pct)
    return p50, tail


def end_to_end(res: dict) -> dict:
    pass_s = statistics.median(res["walls"])
    _op_latency(res)
    res["info"].update(pass_walls=res["walls"])
    return {
        "setup_s": res["setup_s"],
        "pass_s": pass_s,
        "rows_per_s": res["input_rows"] / pass_s,
        "success_rate": 1.0 - res["failed_ops"] / max(1, res["attempted"]),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not _program_present():
        print(f"perfbench: the program (chemharmony_spark/, __spark_entry__.py, "
              f"tools/check_oracle.py) is not in {REPO}", file=sys.stderr)
        return 2

    work = os.path.join(WORK, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    res = {"attempted": 0, "failed_ops": 0, "checks": {}, "executions": [],
           "persisted": [0.0, 0.0],
           "read_s": [], "info": {"workload": args.workload, "seed": args.seed,
                                  "trace": args.trace}}
    _prepare_env(work)
    if args.workload == "query_mix":
        make = tables.write
    else:
        dups = args.workload == "brick_build_dups"
        make = lambda d: staging.generate(d, args.seed, BUILD_ACTIVITIES, dups)  # noqa: E731
    box: dict = {}
    spark = None
    try:
        t0 = time.perf_counter()
        starter = threading.Thread(target=_start_session, args=(work, box))
        starter.start()
        made = make(os.path.join(work, "inputs"))
        gen_s = time.perf_counter() - t0
        starter.join()
        spark = box.get("spark")
        if "error" in box:
            raise box["error"]
        res["inputs_ready_s"] = time.perf_counter() - t0
        res["get_spark_s"] = box["get_spark_s"]
        res["info"].update(generate_s=gen_s)
        res["info"]["host"] = host.record(spark)
        tracer = trace.Tracer(bool(args.trace))
        reader = trace.StatusReader(spark) if args.trace else None
        run = run_mix if args.workload == "query_mix" else run_build
        run(spark, args, work, tracer, reader, res, made)
        if args.trace:
            metrics, detail = per_layer(args, res, tracer)
            os.makedirs(RESULTS, exist_ok=True)
            with open(os.path.join(
                    RESULTS, f"trace-{args.workload}-seed{args.seed}-{os.getpid()}.json"),
                    "w") as f:
                json.dump({"info": res["info"], "metrics": metrics, **detail}, f,
                          indent=1, default=str)
            units = PER_LAYER
        else:
            metrics, units = end_to_end(res), END_TO_END
    finally:
        if spark is not None:
            _stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    checks_ok = all(v in (True, "ok", "recorded") for k, v in res["checks"].items()
                    if k != "errors")
    res["info"]["checks"] = res["checks"]
    print(json.dumps(res["info"], default=str))
    print(json.dumps({
        "correct": checks_ok and res["failed_ops"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed_ops"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
