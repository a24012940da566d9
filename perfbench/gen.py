"""Seeded input generators for the three workloads.

Every input is a pure function of (workload, seed): the same seed writes the
same bytes. The seed varies row order, key assignment and offsets, which features a
rewrite touches, the split point between a table's two files and every
drawn value; the proportions and counts below (skew, mixes, fractions,
duplication factor) are fixed so that seeds are comparable.
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- etl_sync
MAPS = 12                 # fetch units per sync (one partition each)
FEATURES = 2400           # non-folder features over all maps
MAP_SKEW = 1.1            # features-per-map weight of the r-th map: 1/(r+1)^1.1
FOLDERS_PER_MAP = (3, 7)  # drawn per map, upper bound exclusive
GEOMETRY_MIX = {"Point": 0.50, "LineString": 0.28, "MultiPolygon": 0.14, None: 0.08}
UPDATE_FRACTION = 0.05    # share of all features rewritten before each sync
FULL_EVERY = 5            # every 5th sync is a full-state since=-500 pull
T0 = 1_700_000_000_000    # base `updated` stamps (epoch ms)
T1 = 1_800_000_000_000    # rewrite stamps: T1 + 1000 * sync


def sync_cursor(s):
    """The `since` cursor of sync s: -500 is the reference's full pull."""
    return -500 if s % FULL_EVERY == 0 else T1 + 1000 * s


def _position(rng, n):
    # 4 or 5 components (CalTopo emits [lon, lat, alt, t, ...]); values are
    # multiples of 1/1024 so every engine prints and parses them exactly
    lon = rng.integers(-180 * 1024, 180 * 1024) / 1024
    lat = rng.integers(-85 * 1024, 85 * 1024) / 1024
    pts = []
    for _ in range(n):
        p = [lon, lat, float(rng.integers(0, 4000)), float(T0 + rng.integers(0, 10**6))]
        if rng.random() < 0.2:
            p.append(float(rng.integers(0, 100)))
        pts.append(p)
        lon += rng.integers(1, 64) / 1024
        lat += rng.integers(1, 64) / 1024
    return pts


def _geometry(rng, kind):
    if kind is None:
        return None
    if kind == "Point":
        return {"type": "Point", "coordinates": _position(rng, 1)[0]}
    if kind == "LineString":
        return {"type": "LineString", "coordinates": _position(rng, int(rng.integers(2, 12)))}
    polys = []
    for _ in range(int(rng.integers(2, 5))):
        rings = []
        for _ in range(int(rng.integers(1, 3))):
            ring = _position(rng, int(rng.integers(4, 12)))
            rings.append(ring + [ring[0]])
        polys.append(rings)
    return {"type": "MultiPolygon", "coordinates": polys}


def _feature(rng, fid, m, idx, folders):
    kinds = list(GEOMETRY_MIX)
    kind = kinds[rng.choice(len(kinds), p=list(GEOMETRY_MIX.values()))]
    r = rng.random()
    folder = (rng.choice(folders) if r < 0.70 else None if r < 0.80
              else "" if r < 0.85 else f"dangling-{m}-{idx}")
    p = {
        "class": "Marker" if kind == "Point" else "Shape",
        "title": f"feature {m}-{idx}",
        "description": [None, "", f"notes on {m}-{idx}"][int(rng.choice(3, p=[0.15, 0.1, 0.75]))],
        "creator": "caltopo",
        "marker_symbol": "point" if kind == "Point" else None,
        "marker_color": [None, "", "FF0000", "00FF00", "0000FF"][int(rng.integers(0, 5))],
        "marker_size": str(int(rng.integers(1, 5))) if rng.random() < 0.3 else None,
        "stroke": "#FF8800" if rng.random() < 0.3 else None,
        "stroke_opacity": float(rng.integers(0, 11)) / 10 if rng.random() < 0.7 else None,
        "stroke_width": float(rng.integers(1, 6)) if rng.random() < 0.8 else None,
        "pattern": "solid" if rng.random() < 0.1 else None,
        "fill": "#00AAFF" if rng.random() < 0.3 else None,
        "fill_opacity": 0.5 if rng.random() < 0.2 else None,
        "folder_id": folder,
        "visible": bool(rng.random() < 0.5),
        "label_visible": bool(rng.random() < 0.3),
    }
    if rng.random() < 0.98:  # a few features carry no stamp: full pulls only
        p["updated"] = T0 + idx
    return {"type": "Feature", "id": fid, "properties": p,
            "geometry": _geometry(rng, kind)}


def _shift(coords):
    if isinstance(coords[0], list):
        return [_shift(c) for c in coords]
    return [coords[0] + 1 / 1024] + coords[1:]


def caltopo(out, seed, syncs):
    """corpus.tsv (map, id, feature JSON), deltas.tsv (sync, map, id,
    rewritten feature JSON) and syncs.tsv (sync, since) for `syncs` syncs.
    """
    rng = np.random.default_rng([seed, 1])
    weights = 1 / np.arange(1, MAPS + 1) ** MAP_SKEW
    sizes = np.maximum(1, np.round(FEATURES * weights / weights.sum())).astype(int)
    rng.shuffle(sizes)
    base = int(rng.integers(0, 10**6)) * 100  # seeded key offset
    state = {}  # id -> (map, feature)
    idx = 0
    for m, n in enumerate(sizes):
        folders = [f"F{base + m * 100 + j}" for j in range(int(rng.integers(*FOLDERS_PER_MAP)))]
        for j, fid in enumerate(folders):
            state[fid] = (m, {"type": "Feature", "id": fid, "geometry": None, "properties": {
                "class": "Folder", "title": f"Folder {m}-{j}", "creator": "caltopo",
                "updated": T0 + idx}})
            idx += 1
        for _ in range(n):
            fid = f"P{base + idx}"
            state[fid] = (m, _feature(rng, fid, m, idx, folders))
            idx += 1
    order = list(state)
    with open(os.path.join(out, "corpus.tsv"), "w") as f:
        for fid in order:
            m, feat = state[fid]
            f.write(f"{m}\t{fid}\t{json.dumps(feat, separators=(',', ':'))}\n")
    with open(os.path.join(out, "deltas.tsv"), "w") as f:
        for s in range(1, syncs):
            for k in rng.choice(len(order), int(len(order) * UPDATE_FRACTION), replace=False):
                fid = order[k]
                m, feat = state[fid]
                feat = json.loads(json.dumps(feat))
                p = feat["properties"]
                p["updated"] = T1 + 1000 * s
                p["title"] = f"{p['title'].split(' @')[0]} @{s}"
                if p["class"] != "Folder":
                    p["marker_color"] = [None, "", "FF0000", "00FF00"][int(rng.integers(0, 4))]
                if feat["geometry"]:
                    feat["geometry"]["coordinates"] = _shift(feat["geometry"]["coordinates"])
                state[fid] = (m, feat)
                f.write(f"{s}\t{m}\t{fid}\t{json.dumps(feat, separators=(',', ':'))}\n")
    with open(os.path.join(out, "syncs.tsv"), "w") as f:
        for s in range(syncs):
            f.write(f"{s}\t{sync_cursor(s)}\n")
    return {"maps": MAPS, "features": len(order), "map_sizes": sorted(sizes.tolist())}


# ------------------------------------------------------ llm_prep, sql_analytics
WORDS = ("spark window merge table column vector stream value data small join filter "
         "big group hash customer sort order slow line part fast row the agg key query "
         "a scan batch").split()
LANGS = (["en", "zh", "de", "fr", "es"], [0.41, 0.15, 0.14, 0.15, 0.15])
NEAR_DUP = 0.05   # duplication factor: 5% of documents are an earlier text + " dup"
EXACT_DUP = 0.01  # and 1% repeat an earlier text exactly
DUP_WINDOW = 100  # a copy's id is at most this far above its original's
SIZES = {
    "sql_analytics": dict(customer=1500, supplier=100, part=2000, orders=15000,
                          events=10000, documents=200, embeddings=200),
    "llm_prep": dict(customer=150, supplier=10, part=200, orders=1500,
                     events=1000, documents=200, embeddings=250),
}
DAY_US = 86_400_000_000
UTC = dt.timezone.utc
EPOCH_1995 = int(dt.datetime(1995, 1, 1, tzinfo=UTC).timestamp()) * 10**6


def _write(out, name, table, rng):
    """One table as a directory of two parquet files; the seed picks the split."""
    d = os.path.join(out, f"{name}.parquet")
    os.makedirs(d)
    n = table.num_rows
    cut = int(n * rng.uniform(0.35, 0.65)) if n > 1 else n
    for k, (lo, hi) in enumerate([(0, cut), (cut, n)]):
        pq.write_table(table.slice(lo, hi - lo), os.path.join(d, f"part-{k:05d}.parquet"))
    return n


def _money(rng, lo, hi, n):
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100, 2)


def _keys(rng, n):
    """Seeded key assignment: a permutation of 0..n-1 in shuffled row order."""
    return rng.permutation(n).astype(np.int64)


def _docs(rng, n):
    """Word-soup documents with a fixed duplicate structure: NEAR_DUP * n of
    them repeat an original text plus " dup" and EXACT_DUP * n repeat one
    exactly, each within DUP_WINDOW ids of its original (inside the dedup
    queries' 200-id candidate window). Ids are consecutive from a seeded
    offset; rows are written in seeded order.
    """
    copies = rng.choice(np.arange(DUP_WINDOW, n), round((NEAR_DUP + EXACT_DUP) * n),
                        replace=False)
    exact = set(copies[:max(1, round(EXACT_DUP * n))].tolist())
    copies = set(copies.tolist())
    texts = []
    for i in range(n):
        if i in copies:
            src = i - int(rng.integers(1, DUP_WINDOW + 1))
            while src in copies:
                src -= 1
            texts.append(texts[src] + ("" if i in exact else " dup"))
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(8, 97)))))
    ids = int(rng.integers(0, 1000)) * 1000 + np.arange(n, dtype=np.int64)
    order = rng.permutation(n)
    return pa.table({
        "doc_id": ids[order],
        "text": [texts[i] for i in order],
        "lang": rng.choice(LANGS[0], n, p=LANGS[1]),
        "source": [f"src{k % 20}" for k in ids[order]],
        "n_chars": np.array([len(texts[i]) for i in order], dtype=np.int64),
    })


def tables(out, seed, workload):
    """The ten engine tables at the workload's sizes, as parquet directories."""
    z = SIZES[workload]
    rng = np.random.default_rng([seed, 2])
    ts = pa.timestamp("us")
    rows = {}
    rows["region"] = _write(out, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}), rng)
    rows["nation"] = _write(out, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}), rng)
    nc, ns, np_, no = z["customer"], z["supplier"], z["part"], z["orders"]
    rows["customer"] = _write(out, "customer", pa.table({
        "c_custkey": (k := _keys(rng, nc)),
        "c_name": [f"Customer#{i:09d}" for i in k],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING",
                                    "FURNITURE"], nc)}), rng)
    rows["supplier"] = _write(out, "supplier", pa.table({
        "s_suppkey": (k := _keys(rng, ns)),
        "s_name": [f"Supplier#{i:09d}" for i in k],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns)}), rng)
    adj = "blue old small new large hot cold red".split()
    noun = "widget gizmo ring gear bolt plate rod anvil".split()
    k = _keys(rng, np_)
    rows["part"] = _write(out, "part", pa.table({
        "p_partkey": k,
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, np_), rng.integers(0, 8, np_))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, np_)],
        "p_type": rng.choice(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"], np_),
        "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
        "p_retailprice": np.round(900 + (k % 1000) / 10, 1)}), rng)
    ok = _keys(rng, no)
    odate = EPOCH_1995 + rng.integers(0, 2404, no) * DAY_US
    rows["orders"] = _write(out, "orders", pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": _money(rng, 1000, 500000, no),
        "o_orderdate": pa.array(odate, ts),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                       "5-LOW"], no)}), rng)
    lines = rng.integers(1, 8, no)
    nl = int(lines.sum())
    l_ok = np.repeat(ok, lines)
    l_no = np.concatenate([np.arange(1, c + 1) for c in lines]).astype(np.int32)
    perm = rng.permutation(nl)
    qty = rng.integers(1, 51, nl).astype(float)
    rows["lineitem"] = _write(out, "lineitem", pa.table({
        "l_orderkey": l_ok[perm],
        "l_partkey": rng.integers(0, np_, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": pa.array(l_no[perm], pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * _money(rng, 900, 2100, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100,
        "l_tax": rng.integers(0, 9, nl) / 100,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["O", "F"], nl),
        "l_shipdate": pa.array(EPOCH_1995 + rng.integers(1, 2499, nl) * DAY_US, ts)}), rng)
    ne = z["events"]
    # unique, increasing microsecond stamps over 30 days, in shuffled row order
    gaps = rng.integers(1, 2 * 30 * DAY_US // ne, ne)
    ets = int(dt.datetime(2024, 1, 1, tzinfo=UTC).timestamp()) * 10**6 + np.cumsum(gaps)
    perm = rng.permutation(ne)
    rows["events"] = _write(out, "events", pa.table({
        "event_id": np.arange(ne, dtype=np.int64)[perm],
        "ts": pa.array(ets[perm], ts),
        "user_id": rng.integers(0, max(15, ne // 66), ne).astype(np.int64),
        "event_type": rng.choice(["signup", "click", "error", "view", "purchase"], ne),
        "value": np.round(rng.exponential(60, ne), 2),
        "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, ne)]}), rng)
    rows["documents"] = _write(out, "documents", _docs(rng, z["documents"]), rng)
    nv = z["embeddings"]
    v = rng.standard_normal((nv, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    rows["embeddings"] = _write(out, "embeddings", pa.table({
        "vec_id": _keys(rng, nv),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32())}), rng)
    return rows
