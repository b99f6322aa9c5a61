"""Dump .explain("formatted") for every bench entry into plans/<tag>/.

Usage: python tools/dump_plans.py <tag> [suffix] [name ...]
       python tools/dump_plans.py --compare <dir> <suffix_a> <suffix_b>

Writes plans/<tag>/<query>_<suffix>.txt (suffix defaults to "before") for
each headline bench query plus the two harmonize entries. Plan capture is
driver-side only — nothing executes — so the dump is safe to run alongside
other work and the committed files let a reviewer audit plan-shape claims
(Exchange count, join strategy, PushedFilters, Python eval nodes) without
running Spark.

``--compare`` checks that every <name>_<suffix_a>.txt in <dir> has the same
plan as its <name>_<suffix_b>.txt once expression and plan ids (which
differ from session to session) are blanked; it prints one line per pair
and exits 1 if any pair differs or is missing.

The harmonize plans are captured with check_invariants=False: the invariant
suite's persists would otherwise wrap the analytic plan in
InMemoryRelation nodes and hide the compute shape being audited (the
benched path runs the same analytic plan underneath those caches).
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def formatted_plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


_IDS = re.compile(r"(#|plan_id=)\d+")


def strip_ids(plan: str) -> str:
    """``plan`` with expression ids (``sid#99``) and plan ids blanked."""
    return _IDS.sub(r"\1", plan)


def compare(plan_dir: str, suffix_a: str, suffix_b: str) -> int:
    root = Path(plan_dir)
    tail = f"_{suffix_a}.txt"
    differ = 0
    for a in sorted(root.glob(f"*{tail}")):
        name = a.name[: -len(tail)]
        b = root / f"{name}_{suffix_b}.txt"
        if not b.exists():
            verdict = "missing"
        elif strip_ids(a.read_text()) == strip_ids(b.read_text()):
            verdict = "identical"
        else:
            verdict = "different"
        differ += verdict != "identical"
        print(f"{name}: {verdict}")
    return 1 if differ else 0


def main() -> None:
    if sys.argv[1:2] == ["--compare"]:
        sys.exit(compare(*sys.argv[2:5]))
    tag = sys.argv[1] if len(sys.argv) > 1 else "r09"
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    only = set(sys.argv[3:])

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0

    import bench
    import __spark_entry__ as entrymod
    from chemharmony_spark.plans.harmonize import harmonize
    from chemharmony_spark.session import get_spark

    spark = get_spark(app_name=f"dump-plans-{tag}")
    qs = entrymod.queries()
    outdir = REPO / "plans" / tag
    outdir.mkdir(parents=True, exist_ok=True)

    names = list(bench.HEADLINE)
    # r10: explicitly-requested NON-headline queries dump too (any
    # queries() entry), so plan evidence for touched operators outside
    # the bench list (e.g. q53_grouped_topk) lands in plans/<tag>/
    names += sorted(n for n in only if n in qs and n not in names)
    for name in names:
        if only and name not in only:
            continue
        df = qs[name](spark, sf_dir)
        (outdir / f"{name}_{suffix}.txt").write_text(formatted_plan(df))
        print(f"wrote {name}_{suffix}.txt")

    staging_root = f"/tmp/chemharmony_bench_staging_sf{sf}"
    hm = {"harmonize_e2e", "harmonize_e2e_bucket"}
    if only:
        hm &= only
    if hm and os.path.isdir(f"{staging_root}/src1"):
        sources = ["src0", "src1"]
        if "harmonize_e2e" in hm:
            res = harmonize(spark, staging_root, sources,
                            check_invariants=False)
            (outdir / f"harmonize_e2e_{suffix}.txt").write_text(
                formatted_plan(res.activities))
            print(f"wrote harmonize_e2e_{suffix}.txt")
        if "harmonize_e2e_bucket" in hm:
            tables = bench._prepare_bucketed_staging(
                spark, staging_root, sources, sf)
            res = harmonize(spark, staging_root, sources,
                            check_invariants=False,
                            rekey_strategy="bucket", staging_tables=tables)
            (outdir / f"harmonize_e2e_bucket_{suffix}.txt").write_text(
                formatted_plan(res.activities))
            print(f"wrote harmonize_e2e_bucket_{suffix}.txt")
    elif hm:
        print(f"staging {staging_root} missing; run bench once to build it "
              "— harmonize plans skipped")


if __name__ == "__main__":
    main()
