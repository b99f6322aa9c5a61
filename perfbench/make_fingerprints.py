"""Record the query mix's expected results, verified against the DuckDB oracle.

    python3 perfbench/make_fingerprints.py

Writes the mix tables (fixed data seed), runs every headline query on Spark
and its ``oracle_sql()`` on DuckDB over the same files, and writes
``perfbench/fingerprints.json`` with each query's row count, columns and
value hash. A query is recorded only if Spark and the oracle agree; the
script exits non-zero otherwise. Run it again only when the table generator
or the query definitions change.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, REPO)

from perfbench import mix, tables  # noqa: E402


def main() -> int:
    import duckdb

    import __spark_entry__ as entry
    from chemharmony_spark.cache import release_caches
    from chemharmony_spark.session import get_spark

    data = os.path.join(HERE, "_work", "fingerprint_tables")
    shutil.rmtree(data, ignore_errors=True)
    tables.write(data)
    spark = get_spark(app_name="perfbench-fingerprints",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    qs, oracles = entry.queries(), entry.oracle_sql()
    con = duckdb.connect()
    for t in tables.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data}/{t}.parquet')")
    out, bad = {}, []
    for name in mix.HEADLINE:
        got = mix.fingerprint(qs[name](spark, data).toPandas())
        release_caches()
        if name not in oracles:
            bad.append(f"{name}: no oracle")
            continue
        want = mix.fingerprint(con.sql(oracles[name]).df())
        if got != want:
            bad.append(f"{name}: spark {got['rows']} rows {got['hash'][:12]} "
                       f"!= oracle {want['rows']} rows {want['hash'][:12]}")
            continue
        out[name] = got
        print(f"ok  {name}: {got['rows']} rows", flush=True)
    spark.stop()
    shutil.rmtree(data, ignore_errors=True)
    for line in bad:
        print("BAD", line)
    if bad:
        return 1
    with open(mix.FINGERPRINTS, "w") as f:
        json.dump({"data_seed": tables.DATA_SEED, "sf": tables.SF,
                   "oracle": "duckdb " + duckdb.__version__,
                   "queries": out}, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
