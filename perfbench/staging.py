"""Seeded synthetic staging for the brick-build workloads.

Writes ``<root>/<source>/{substances,properties,activities}.parquet`` in the
layout ``harmonize()`` reads, using numpy and pyarrow only, so the program
under test receives nothing but generated files. The same seed and size give
byte-identical files.

Every staged row is drawn from an *entity*: a substance or property with one
canonical JSON payload. A staged payload is a raw variant of it: keys in a
random order, floats carrying more than four decimals that round back to the
canonical value, and extra null / "" / [] members that canonicalization
drops. Because the generator knows which entity every row came from, it
predicts the brick's row counts per table and per source, and the number of
distinct content ids, without running the program:

* substances (properties) per source: distinct entities the source staged;
* distinct sid (pid): distinct entities over all sources, so a payload that
  several sources publish collapses to one md5 id;
* activities per source: distinct (substance, property, value) entity
  triples in the source (inchi is a function of the substance);
* distinct aid: distinct triples over all sources (aid has no source part).

``dups=False`` stages near-unique rows (output ~ input). ``dups=True``
re-publishes a small entity pool from every source, under several local ids
and raw variants, and draws activities with replacement from a small pool of
triples, so the brick is a fraction of the staged rows.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SOURCES = ["pubchem_syn", "chembl_syn", "toxcast_syn", "bindingdb_syn"]
VALUES = np.array(["positive", "negative", "inconclusive"])
# staged substances and properties per staged activity: the reference's
# production floors are 1e7 activities, 1e6 substances and 1e3 properties
SUBSTANCES_PER_ACTIVITY = 1e-1
PROPERTIES_PER_ACTIVITY = 1e-4
MIN_PROPERTIES = 32
ROW_GROUP = 65536


def _payload(rng, kind: str, ent: int, mass: float) -> str:
    """One raw staged variant of entity ``ent``'s canonical payload."""
    jitter = float(rng.uniform(-3e-5, 3e-5))
    fields = {
        "name": f"{kind}-{ent}",
        "mass": mass + jitter,                      # rounds back to ``mass``
        "class": f"c{ent % 17}",
        "tags": [f"t{ent % 5}", f"t{ent % 7}"],
        "extra": {"charge": ent % 3 - 1, "score": mass / 7.0,
                  "note": "", "refs": []},
    }
    for empty_key, empty in (("comment", None), ("alias", ""), ("links", [])):
        if rng.random() < 0.5:
            fields[empty_key] = empty
    keys = list(fields)
    rng.shuffle(keys)
    extra = fields["extra"]
    ekeys = list(extra)
    rng.shuffle(ekeys)
    fields["extra"] = {k: extra[k] for k in ekeys}
    return json.dumps({k: fields[k] for k in keys})


def _masses(rng, n: int) -> np.ndarray:
    """Canonical masses: exact 4-decimal values (never whole numbers)."""
    return (rng.integers(1_000_000, 9_000_000, n) * 10 + 1) / 1e5


def _inchi(ent: np.ndarray) -> pa.Array:
    """InChI per substance entity; every 50th entity has none (null)."""
    body = pc.binary_join_element_wise(
        "InChI=1S/C", pa.array(ent % 40 + 1).cast(pa.string()),
        "H", pa.array(ent % 61 + 2).cast(pa.string()),
        "/e", pa.array(ent).cast(pa.string()), "")
    return pc.if_else(pa.array(ent % 50 == 0), pa.nulls(len(ent), pa.string()), body)


def _ids(prefix: str, idx: np.ndarray) -> pa.Array:
    return pc.binary_join_element_wise(prefix, pa.array(idx).cast(pa.string()), "")


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, row_group_size=ROW_GROUP, compression="snappy")


class _Dim:
    """One dim table's staged rows for one source, plus what they predict."""

    def __init__(self, local_of_ent: dict[int, list[int]], rows: list[tuple]):
        self.local_of_ent = local_of_ent     # entity -> local ids in this source
        self.rows = rows                     # (local id, entity, raw payload)


def _stage_dim(rng, kind: str, ents: np.ndarray, masses: np.ndarray,
               extra_ids: float, copies_mean: float) -> _Dim:
    """Stage ``ents`` for one source: each entity gets one local id (plus a
    second with probability ``extra_ids``), and each local id is staged
    1 + Poisson(copies_mean) times as raw variants."""
    local_of_ent: dict[int, list[int]] = {}
    rows: list[tuple] = []
    order = rng.permutation(len(ents))
    n_local = 0
    for i in order:
        ent = int(ents[i])
        n_ids = 2 if rng.random() < extra_ids else 1
        local_of_ent[ent] = list(range(n_local, n_local + n_ids))
        n_local += n_ids
        for lid in local_of_ent[ent]:
            for _ in range(1 + int(rng.poisson(copies_mean)) if copies_mean else 1):
                rows.append((lid, ent, _payload(rng, kind, ent, float(masses[ent]))))
    return _Dim(local_of_ent, rows)


def generate(root: str, seed: int, activities: int, dups: bool) -> dict:
    """Write the staging area under ``root``; return the predicted brick."""
    rng = np.random.default_rng([seed, int(dups)])
    n_src = len(SOURCES)
    n_sub_staged = int(activities * SUBSTANCES_PER_ACTIVITY)
    n_prop_staged = max(MIN_PROPERTIES, int(activities * PROPERTIES_PER_ACTIVITY))
    if dups:
        # a small pool every source re-publishes: 80% of it per source,
        # 30% of entities under two local ids, ~2.5 raw copies per id
        n_sub_ent = max(8, n_sub_staged // 8)
        n_prop_ent = max(4, n_prop_staged // 8)
        sub_sets = [rng.choice(n_sub_ent, int(0.8 * n_sub_ent), replace=False)
                    for _ in range(n_src)]
        prop_sets = [np.arange(n_prop_ent) for _ in range(n_src)]
        extra_ids, copies = 0.3, 1.5
    else:
        # disjoint per-source blocks; each source also re-publishes 10% of
        # its neighbour's block (the cross-source payloads that collapse to
        # one md5 id); 1% of local ids are staged twice as raw variants
        n_sub_ent = int(n_sub_staged / 1.1)
        n_prop_ent = max(MIN_PROPERTIES, int(n_prop_staged / 1.1))
        sub_blocks = np.array_split(np.arange(n_sub_ent), n_src)
        prop_blocks = np.array_split(np.arange(n_prop_ent), n_src)

        def with_overlap(blocks, i):
            nxt = blocks[(i + 1) % n_src]
            k = max(1, len(nxt) // 10)
            return np.concatenate([blocks[i], rng.choice(nxt, k, replace=False)])

        sub_sets = [with_overlap(sub_blocks, i) for i in range(n_src)]
        prop_sets = [with_overlap(prop_blocks, i) for i in range(n_src)]
        extra_ids, copies = 0.0, 0.0
    sub_mass, prop_mass = _masses(rng, n_sub_ent), _masses(rng, n_prop_ent)

    n_vals = len(VALUES)
    pool = None
    if dups:  # entity triples every source draws from, with replacement
        n_pool = max(16, activities // 16)
        pool = np.stack([rng.integers(0, n_sub_ent, n_pool),
                         rng.integers(0, n_prop_ent, n_pool),
                         rng.integers(0, n_vals, n_pool)], axis=1)

    pred = {"sources": SOURCES, "staged_activities": 0, "per_source": {}}
    all_subs, all_props, all_triples = set(), set(), set()
    raw_dim_rows = {"substances": 0, "properties": 0}
    for si, src in enumerate(SOURCES):
        d = os.path.join(root, src)
        os.makedirs(d, exist_ok=True)
        subs = _stage_dim(rng, "substance", sub_sets[si], sub_mass, extra_ids,
                          copies if dups else 0.0)
        props = _stage_dim(rng, "property", prop_sets[si], prop_mass, extra_ids,
                           copies if dups else 0.0)
        if not dups:  # 1% of local ids staged a second time, as another variant
            for dim, kind, masses in ((subs, "substance", sub_mass),
                                      (props, "property", prop_mass)):
                for j in rng.choice(len(dim.rows), max(1, len(dim.rows) // 100),
                                    replace=False):
                    lid, ent, _ = dim.rows[j]
                    dim.rows.append((lid, ent, _payload(rng, kind, ent,
                                                        float(masses[ent]))))
        n_act = activities // n_src
        sub_ents = np.fromiter(subs.local_of_ent, dtype=np.int64)
        prop_ents = np.fromiter(props.local_of_ent, dtype=np.int64)
        if dups:
            ok = np.isin(pool[:, 0], sub_ents) & np.isin(pool[:, 1], prop_ents)
            mine = pool[ok]
            triples = mine[rng.integers(0, len(mine), n_act)]
        else:  # distinct triples, then 1% exact re-stagings
            space = len(sub_ents) * len(prop_ents) * n_vals
            n_unique = n_act - n_act // 100
            code = rng.choice(space, n_unique, replace=False)
            triples = np.stack([sub_ents[code // (len(prop_ents) * n_vals)],
                                prop_ents[(code // n_vals) % len(prop_ents)],
                                code % n_vals], axis=1)
            triples = np.concatenate(
                [triples, triples[rng.integers(0, n_unique, n_act - n_unique)]])
        # entity -> local id: a uniformly chosen one of the source's ids
        def local(ids_of, ents, n_ent):
            first = np.full(n_ent, -1, dtype=np.int64)
            last = np.full(n_ent, -1, dtype=np.int64)
            for e, ids in ids_of.items():
                first[e], last[e] = ids[0], ids[-1]
            return np.where(rng.random(len(ents)) < 0.5, last[ents], first[ents])

        sid_local = local(subs.local_of_ent, triples[:, 0], n_sub_ent)
        pid_local = local(props.local_of_ent, triples[:, 1], n_prop_ent)
        acts = pa.table({
            "aid": _ids(f"{src}-a", np.arange(n_act)),
            "sid": _ids("S", sid_local),
            "pid": _ids("P", pid_local),
            "inchi": _inchi(triples[:, 0]),
            "value": pa.array(VALUES[triples[:, 2]]),
        })
        for name, dim, col in (("substances", subs, "sid"),
                               ("properties", props, "pid")):
            prefix = "S" if col == "sid" else "P"
            _write(pa.table({col: [f"{prefix}{r[0]}" for r in dim.rows],
                             "data": [r[2] for r in dim.rows]}),
                   os.path.join(d, f"{name}.parquet"))
            raw_dim_rows[name] += len({(r[0], r[2]) for r in dim.rows})
        _write(acts, os.path.join(d, "activities.parquet"))

        src_triples = {tuple(t) for t in triples.tolist()}
        pred["per_source"][src] = {
            "substances": len(subs.local_of_ent),
            "properties": len(props.local_of_ent),
            "activities": len(src_triples),
            "staged_activities": n_act,
        }
        pred["staged_activities"] += n_act
        all_subs.update(subs.local_of_ent)
        all_props.update(props.local_of_ent)
        all_triples |= src_triples
    pred["totals"] = {
        t: sum(p[t] for p in pred["per_source"].values())
        for t in ("substances", "properties", "activities")
    }
    pred["distinct_sid"] = len(all_subs)
    pred["distinct_pid"] = len(all_props)
    pred["distinct_aid"] = len(all_triples)
    # the canonicalize UDF needs one call per distinct staged (source, local
    # id, raw payload) row
    pred["json_payload_udf_rows"] = raw_dim_rows["substances"] + raw_dim_rows["properties"]
    return pred


def digest(root: str) -> str:
    """sha256 over every staged file's relative path and bytes."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for name in sorted(filenames):
            path = os.path.join(dirpath, name)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def staged_bytes(root: str) -> int:
    return sum(os.path.getsize(os.path.join(dp, f))
               for dp, _, fs in os.walk(root) for f in fs)
