"""Seeded input generators for the three benchmark workloads.

Every input the engine sees during a benchmark run is written here, from
the workload seed alone: the same seed gives byte-identical inputs.

- tensor_events: detector-like events in the flatten+shape layout, one
  spacepoint table and one voxel table, plus the lookup plan.
- corpus_clean: an LLM-text corpus with the sf0.1 test `documents` table's
  schema, vocabulary, lengths, planted near-duplicate share, language and
  source mix, grown by GenScale's token-keyed copy rule.
- olap_mix: the TPC-H-shaped star schema at sf0.1 (fixed content; the
  workload seed only permutes the query order).
"""
import json
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- tensor_events
# Detector box at 1 cm voxels (x, y + 117, z).
BOX = (256, 234, 1036)
N_EVENTS = 48
TRACKS_PER_EVENT = (14, 22)       # inclusive range, dealt to the events
TRACK_LEN = (8, 16)               # voxels per track, dealt to the tracks
NOISE_PER_EVENT = (40, 80)        # isolated true voxels (singleton instances)
GHOST_FRAC = 0.25                 # ghost voxels, as a share of true voxels
N_FILES = 4                       # raw input files per table
N_BY_KEY = 82                     # keyed lookups per pass
N_BY_INDEX = 33                   # index lookups per pass
N_SLICES = 4                      # partitionSlice workers


def _neighbors(c):
    x, y, z = c
    return ((x - 1, y, z), (x + 1, y, z), (x, y - 1, z), (x, y + 1, z),
            (x, y, z - 1), (x, y, z + 1))


def _inside(c):
    return all(0 <= c[i] < BOX[i] for i in range(3))


def _track(rng, length):
    """A straight-ish 6-connected track: each step moves one voxel along
    one axis, with the axis drawn in proportion to a random direction and
    the sign fixed per axis. The walk is monotone, so no two non-adjacent
    steps touch and the track's graph diameter is exactly length - 1."""
    d = rng.normal(size=3)
    d /= np.linalg.norm(d)
    sign = np.where(d >= 0, 1, -1)
    p = np.abs(d) / np.abs(d).sum()
    axes = rng.choice(3, size=length - 1, p=p)
    start = np.array([rng.integers(40, BOX[i] - 40) for i in range(3)])
    cells = [tuple(int(v) for v in start)]
    cur = start.copy()
    for a in axes:
        cur[a] += sign[a]
        cells.append(tuple(int(v) for v in cur))
    return cells


def _place(rng, occupied, cells_fn, tries=200):
    """Place a cell group that neither overlaps nor touches `occupied`."""
    for _ in range(tries):
        cells = cells_fn()
        if not all(_inside(c) for c in cells):
            continue
        if any(c in occupied or any(n in occupied for n in _neighbors(c))
               for c in cells):
            continue
        return cells
    raise RuntimeError("could not place a track without contact")


def tensor_events(seed, out_dir):
    """Write the raw spacepoint and voxel tables and the lookup plan;
    return what the checks compare against (events with their voxels, the
    spacepoint rows by key, the sorted keys, the plan)."""
    rng = np.random.default_rng([seed, 0x7e50])
    os.makedirs(out_dir, exist_ok=True)
    # The seed deals fixed multisets of track counts, track lengths and
    # noise counts to the events: every seed has the same totals (so the
    # same work), in a different arrangement.
    n_tracks_of = rng.permutation(np.resize(np.arange(TRACKS_PER_EVENT[0],
                                                      TRACKS_PER_EVENT[1] + 1), N_EVENTS))
    lengths_all = rng.permutation(np.resize(np.arange(TRACK_LEN[0], TRACK_LEN[1] + 1),
                                            int(n_tracks_of.sum())))
    noise_of = rng.permutation(np.resize(np.arange(NOISE_PER_EVENT[0],
                                                   NOISE_PER_EVENT[1] + 1), N_EVENTS))
    events = []
    used_keys = set()
    while len(events) < N_EVENTS:
        key = (int(rng.integers(5000, 5004)), int(rng.integers(0, 50)),
               int(rng.integers(0, 100000)))
        if key in used_keys:
            continue
        used_keys.add(key)
        i = len(events)
        first = int(n_tracks_of[:i].sum())
        lengths = [int(x) for x in lengths_all[first:first + int(n_tracks_of[i])]]
        occupied = set()
        vox = {}            # cell -> (ghost flag, ssnet, instance)
        for t, ln in enumerate(lengths):
            cells = _place(rng, occupied, lambda: _track(rng, ln))
            cls = int(rng.integers(0, 7))
            for c in cells:
                occupied.add(c)
                # one voxel in eight carries a minority ssnet label
                lab = cls if rng.random() >= 0.125 else int(rng.integers(0, 7))
                vox[c] = (1, lab, t + 1)
        for _ in range(int(noise_of[i])):
            cells = _place(rng, occupied, lambda: [tuple(
                int(rng.integers(0, BOX[i])) for i in range(3))])
            occupied.add(cells[0])
            vox[cells[0]] = (1, int(rng.integers(0, 7)), 0)
        n_true = len(vox)
        n_ghost = int(round(GHOST_FRAC * n_true))
        while n_ghost > 0:
            c = tuple(int(rng.integers(0, BOX[i])) for i in range(3))
            if c in vox:
                continue
            # ghosts may touch anything: they never enter the flood fill
            vox[c] = (0, int(rng.integers(0, 7)), 0)
            n_ghost -= 1
        cells = list(vox)
        order = rng.permutation(len(cells))
        cells = [cells[i] for i in order]
        events.append({"key": key, "cells": cells, "vox": vox})

    sp_rows, vx_rows = [], []
    payload = 0
    for ev in events:
        run, subrun, event = ev["key"]
        coords = np.array(ev["cells"], dtype=np.int64)
        m = len(coords)
        lab = np.array([ev["vox"][c][0] for c in ev["cells"]], dtype=np.int64)
        ss = np.array([ev["vox"][c][1] for c in ev["cells"]], dtype=np.int64)
        inst = np.array([ev["vox"][c][2] for c in ev["cells"]], dtype=np.int64)
        feat = rng.random((m, 3), dtype=np.float32)
        vx_rows.append({
            "run": run, "subrun": subrun, "event": event,
            "voxcoord": coords.ravel(), "voxcoord_shape": [m, 3],
            "voxfeat": feat.ravel(), "voxfeat_shape": [m, 3],
            "voxlabel": lab, "voxlabel_shape": [m],
            "voxssnet": ss, "voxssnet_shape": [m],
            "voxinstance": inst, "voxinstance_shape": [m]})
        payload += m * (3 * 8 + 3 * 4 + 8 + 8 + 8)
        # spacepoints: 1-3 per true voxel inside the voxel, plus ghosts
        true_idx = np.nonzero(lab == 1)[0]
        reps = rng.permutation(np.resize([1, 2, 3], len(true_idx)))
        src = np.repeat(true_idx, reps)
        n_sp_true = len(src)
        n_sp_ghost = int(0.3 * n_sp_true)
        pos = coords[src].astype(np.float64) + rng.uniform(0.05, 0.95, (n_sp_true, 3))
        gpos = rng.uniform(0.0, 1.0, (n_sp_ghost, 3)) * np.array(BOX)
        xyz = np.concatenate([pos, gpos])
        xyz[:, 1] -= 117.0
        charge = rng.uniform(0.0, 200.0, (len(xyz), 1))
        sp = np.concatenate([xyz, charge], axis=1).astype(np.float32)
        n = len(sp)
        perm = rng.permutation(n)
        sp = sp[perm]
        truet = np.concatenate([np.ones(n_sp_true, np.int64),
                                np.zeros(n_sp_ghost, np.int64)])[perm]
        seg = np.concatenate([ss[src], rng.integers(0, 7, n_sp_ghost)])[perm]
        spi = np.concatenate([inst[src], np.zeros(n_sp_ghost, np.int64)])[perm]
        sp_rows.append({
            "run": run, "subrun": subrun, "event": event,
            "spacepoint_t": sp.ravel(), "spacepoint_t_shape": [n, 4],
            "truetriplet_t": truet, "truetriplet_t_shape": [n],
            "segment_t": seg.astype(np.int64), "segment_t_shape": [n],
            "instance_t": spi, "instance_t_shape": [n]})
        payload += n * (4 * 4 + 8 + 8 + 8)

    for name, rows in (("spacepoints", sp_rows), ("voxels", vx_rows)):
        d = os.path.join(out_dir, name)
        os.makedirs(d, exist_ok=True)
        for f in range(N_FILES):
            part = rows[f::N_FILES]
            cols = {k: [r[k] for r in part] for k in part[0]}
            table = pa.table({k: (pa.array(v, type=pa.int64()) if k in ("run", "subrun", "event")
                                  else pa.array([np.asarray(x) for x in v],
                                                type=pa.list_(pa.float32() if k in ("spacepoint_t", "voxfeat")
                                                              else pa.int64())))
                              for k, v in cols.items()})
            pq.write_table(table, os.path.join(d, f"part-{f:02d}.parquet"))

    keys = sorted(ev["key"] for ev in events)
    by_key = [list(keys[int(i)]) for i in rng.integers(0, len(keys), N_BY_KEY)]
    by_index = [int(i) for i in rng.integers(0, len(keys), N_BY_INDEX)]
    plan = {"by_key": by_key, "by_index": by_index, "slices": N_SLICES,
            "sample_seed": int(rng.integers(0, 1 << 30)),
            "n_events": len(events), "payload_bytes": payload}
    with open(os.path.join(out_dir, "plan.json"), "w") as f:
        json.dump(plan, f)
    return {"events": events, "sp_rows": {tuple(r[k] for k in ("run", "subrun", "event")): r
                                          for r in sp_rows},
            "keys": keys, "plan": plan}


# ---------------------------------------------------------------- corpus_clean
# The shape of the sf0.1 test `documents` table (5,000 rows), as measured
# from it: every token is drawn uniformly from these 30 words; a document
# has 10-99 tokens, uniformly; 250 documents (5%) are near-duplicates, the
# text of another document plus the token 'dup'; `lang` is en 41%, zh, es,
# fr 15% each and de 14%; `source` is src<i mod 20>.
VOCAB = ("a agg batch big column customer data fast filter group hash join key line "
         "merge order part query row scan slow small sort spark stream table the "
         "value vector window").split()
DOC_TOKENS = (10, 99)             # inclusive
NEAR_DUP_SHARE = 0.05             # documents replaced by '<other doc> dup'
LANGS = (("en", 0.41), ("zh", 0.15), ("es", 0.15), ("fr", 0.15), ("de", 0.14))
BASE_DOCS = 500
COPIES = 2


def corpus(seed, out_dir):
    """`documents` for corpus_clean: BASE_DOCS documents drawn with the
    sf0.1 corpus's shape (above), grown to COPIES copies by GenScale's
    token-keyed rule: in copy c > 0 every token whose crc32 is even gains
    the suffix 'x<c>', so each copy keeps the base's near-duplicate
    structure while cross-copy Jaccard collapses. With a 30-word
    vocabulary most long documents share most words, so chance overlap,
    not only the planted share, sets the LSH bucket sizes, as it does on
    sf0.1."""
    rng = np.random.default_rng([seed, 0xc0de])
    docs = []
    for _ in range(BASE_DOCS):
        n = int(rng.integers(DOC_TOKENS[0], DOC_TOKENS[1] + 1))
        docs.append([VOCAB[i] for i in rng.integers(0, len(VOCAB), n)])
    for i in rng.choice(BASE_DOCS, size=int(NEAR_DUP_SHARE * BASE_DOCS), replace=False):
        docs[int(i)] = docs[int(rng.integers(0, BASE_DOCS))] + ["dup"]
    langs = rng.choice([l for l, _ in LANGS], size=BASE_DOCS, p=[p for _, p in LANGS])

    def mutate(t, c):
        return t + f"x{c}" if c > 0 and zlib.crc32(t.encode()) % 2 == 0 else t

    texts = [" ".join(mutate(t, c) for t in d) for c in range(COPIES) for d in docs]
    n = len(texts)
    table = pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([str(x) for x in langs] * COPIES),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(table, os.path.join(out_dir, "documents.parquet"),
                   row_group_size=n)
    with open(os.path.join(out_dir, "plan.json"), "w") as f:
        json.dump({"n_docs": n}, f)
    return {"n_docs": n}


# ---------------------------------------------------------------- olap_mix
TPCH_SEED = 42
SF = 0.1


def _ts(rng, n, lo, hi):
    """Whole-day timestamps uniform in [lo, hi] (numpy datetime64 days)."""
    lo, hi = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    days = rng.integers(0, int((hi - lo).astype(int)) + 1, n)
    return (lo + days.astype("timedelta64[D]")).astype("datetime64[us]")


def tpch(out_dir):
    """The sf0.1 star schema with the sf0.1 test data's row counts, key
    spaces and value domains (uniform independent draws, as there).
    Content is fixed (seed 42); the olap_mix seed never changes it."""
    rng = np.random.default_rng([TPCH_SEED, 0x7bc4])
    os.makedirs(out_dir, exist_ok=True)
    nc, ns, np_, no, nl = (int(15000 * SF * 10), int(1000 * SF * 10),
                           int(20000 * SF * 10), int(150000 * SF * 10),
                           int(600000 * SF * 10))

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def write(name, cols):
        t = pa.table(cols)
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, t.num_rows))

    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    write("region", {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                     "r_name": pa.array(regions)})
    write("nation", {"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                     "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                     "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    write("customer", {
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
        "c_acctbal": pa.array(money(-999.99, 9999.99, nc)),
        "c_mktsegment": pa.array(segs[rng.integers(0, 5, nc)])})
    write("supplier", {
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
        "s_acctbal": pa.array(money(-999.99, 9999.99, ns))})
    adj = np.array("blue cold hot large new old red small".split())
    noun = np.array("anvil bolt gear gizmo plate ring rod widget".split())
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    write("part", {
        "p_partkey": pa.array(np.arange(np_, dtype=np.int64)),
        "p_name": pa.array(np.char.add(np.char.add(adj[rng.integers(0, 8, np_)], " "),
                                       noun[rng.integers(0, 8, np_)])),
        "p_brand": pa.array(np.char.add("Brand#", rng.integers(1, 26, np_).astype(str))),
        "p_type": pa.array(types[rng.integers(0, 6, np_)]),
        "p_size": pa.array(rng.integers(1, 51, np_).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(np_) % 1000) * 0.1, 2))})
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    write("orders", {
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nc, no).astype(np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, no)]),
        "o_totalprice": pa.array(money(1000.0, 500000.0, no)),
        "o_orderdate": pa.array(_ts(rng, no, "1995-01-01", "2001-08-01")),
        "o_orderpriority": pa.array(prios[rng.integers(0, 5, no)])})
    write("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, no, nl).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, np_, nl).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, ns, nl).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(money(900.0, 105000.0, nl)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, nl)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, nl)]),
        "l_shipdate": pa.array(_ts(rng, nl, "1995-01-02", "2001-11-04"))})
    return {"lineitem_rows": nl}
