"""tensor_events output checks, against the generator's own arrays.

- every keyed and index lookup (and every sample) returns exactly the row
  that was written for its event;
- the partition slices are disjoint, contiguous in key order and cover
  every event;
- instanceTableCC's instances partition each event's non-ghost voxels
  exactly as a 6-neighbour union-find computed here does;
- instanceTable groups the non-ghost voxels by their given instance label;
- instance sizes sum to the non-ghost voxel count, and voxelize bins every
  true spacepoint into its voxel.
"""
import os
from collections import defaultdict

import numpy as np
import pyarrow.parquet as pq

KEY = ("run", "subrun", "event")


def _rows(path):
    if not os.path.isdir(path):
        return []
    return pq.read_table(path).to_pylist()


def _same_row(got, want):
    for k, v in want.items():
        g = got.get(k)
        if isinstance(v, np.ndarray) or isinstance(v, list):
            a = np.asarray(v)
            b = np.asarray(g if g is not None else [], dtype=a.dtype)
            if a.shape != b.shape or not np.array_equal(a, b):
                return f"column {k} differs"
        elif g != v:
            return f"column {k}: {g!r} != {v!r}"
    return None


def _lookup_check(name, rows, requests, want_key, sp_rows):
    """rows carry __seq = position in `requests`; each must be present."""
    by_seq = {r["__seq"]: r for r in rows}
    bad = []
    for i, req in enumerate(requests):
        r = by_seq.get(i)
        if r is None:
            bad.append(f"#{i} {req}: no row")
            continue
        key = tuple(r[k] for k in KEY)
        if key != want_key(req):
            bad.append(f"#{i} {req}: got event {key}")
            continue
        diff = _same_row(r, sp_rows[key])
        if diff:
            bad.append(f"#{i} {req}: {diff}")
    return (name, not bad, f"{len(requests)} lookups" + (f"; {bad[:3]}" if bad else ""))


def _union_find(cells):
    parent = {c: c for c in cells}

    def find(c):
        while parent[c] != c:
            parent[c] = parent[parent[c]]
            c = parent[c]
        return c
    for (x, y, z) in cells:
        for n in ((x + 1, y, z), (x, y + 1, z), (x, y, z + 1)):
            if n in parent:
                a, b = find((x, y, z)), find(n)
                if a != b:
                    parent[max(a, b)] = min(a, b)
    groups = defaultdict(set)
    for c in cells:
        groups[find(c)].add(c)
    return {frozenset(g) for g in groups.values()}


def _instance_sets(rows):
    """(run, subrun, event) -> {instance id -> set of integer voxel cells}."""
    out = defaultdict(dict)
    for r in rows:
        pts = np.asarray(r["instvoxcoord"], dtype=np.float64).reshape(-1, 3)
        cells = {(int(round(x)), int(round(y + 117.0)), int(round(z))) for x, y, z in pts}
        out[tuple(r[k] for k in KEY)][r["instance"]] = cells
    return out


def run(out_dir, truth):
    res = []
    plan = truth["plan"]
    keys = truth["keys"]
    sp_rows = truth["sp_rows"]
    res.append(_lookup_check("api.EventReader.byKey", _rows(f"{out_dir}/by_key"),
                             [tuple(k) for k in plan["by_key"]], lambda k: k, sp_rows))
    res.append(_lookup_check("api.EventReader.byIndex", _rows(f"{out_dir}/by_index"),
                             plan["by_index"], lambda i: keys[i], sp_rows))
    samples = _rows(f"{out_dir}/sample")
    bad = [r["__seq"] for r in samples
           if tuple(r[k] for k in KEY) not in sp_rows
           or _same_row(r, sp_rows[tuple(r[k] for k in KEY)])]
    res.append(("api.EventReader.sample", bool(samples) and not bad,
                f"{len(samples)} samples" + (f"; bad {bad}" if bad else "")))

    slices = defaultdict(list)
    for r in _rows(f"{out_dir}/slices"):
        slices[r["__seq"]].append(tuple(r[k] for k in KEY))
    n = plan["slices"]
    per = -(-len(keys) // n)
    want = {w: keys[w * per:(w + 1) * per] for w in range(n)}
    bad = [w for w in range(n) if sorted(slices.get(w, [])) != want[w]]
    res.append(("api.EventReader.slice", not bad, f"{n} slices" + (f"; bad {bad}" if bad else "")))

    # ground truth from the generated voxels alone
    true_cells = {ev["key"]: [c for c in ev["cells"] if ev["vox"][c][0] == 1]
                  for ev in truth["events"]}
    n_true = sum(len(v) for v in true_cells.values())

    cc = _instance_sets(_rows(f"{out_dir}/instanceTableCC"))
    bad = []
    for key, cells in true_cells.items():
        got = {frozenset(s) for s in cc.get(key, {}).values()}
        if got != _union_find(cells):
            bad.append(key)
    size = sum(len(s) for ev in cc.values() for s in ev.values())
    res.append(("etl.EventPipelines.instanceTableCC", not bad and size == n_true,
                f"{sum(len(v) for v in cc.values())} instances, {size} of {n_true} voxels"
                + (f"; partition differs in {len(bad)} events" if bad else "")))

    given = _instance_sets(_rows(f"{out_dir}/instanceTable"))
    bad = []
    for ev in truth["events"]:
        want = defaultdict(set)
        for c in ev["cells"]:
            flag, _, inst = ev["vox"][c]
            if flag == 1:
                want[inst].add(c)
        if given.get(ev["key"], {}) != dict(want):
            bad.append(ev["key"])
    size = sum(len(s) for ev in given.values() for s in ev.values())
    res.append(("etl.EventPipelines.instanceTable", not bad and size == n_true,
                f"{size} of {n_true} voxels" + (f"; groups differ in {len(bad)} events" if bad else "")))

    vox = _rows(f"{out_dir}/voxelize")
    want_pts = 0
    want_cells = set()
    for key, r in sp_rows.items():
        sp = np.asarray(r["spacepoint_t"]).reshape(-1, 4)
        t = np.asarray(r["truetriplet_t"]) == 1
        want_pts += int(t.sum())
        cells = np.floor(sp[t, :3].astype(np.float64) + [0.0, 117.0, 0.0]).astype(int)
        want_cells |= {key + tuple(c) for c in cells}
    got_cells = {tuple(r[k] for k in KEY) + (r["vx"], r["vy"], r["vz"]) for r in vox}
    got_pts = sum(r["npts"] for r in vox)
    res.append(("etl.EventPipelines.voxelize", got_cells == want_cells and got_pts == want_pts,
                f"{len(got_cells)} voxels of {len(want_cells)}, {got_pts} points of {want_pts}"))
    return res
