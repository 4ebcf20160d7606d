"""Seeded input generator for the benchmark.

Writes the corpus tables the workloads read (the ten tables of the
repository's corpus, with their names, column types and value domains),
the Wistia-shaped raw payloads of the nightly pipeline (derived from
generated `events` and `part` rows), and the advance pools of the store
workload. The same seed always gives the same bytes of input data; another
seed gives the same table sizes.
"""

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = [
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row",
    "the", "agg", "key", "query", "a", "scan", "batch"]
PART_ADJ = ["red", "new", "hot", "small", "cold", "large", "old", "blue"]
PART_NOUN = ["bolt", "anvil", "ring", "rod", "plate", "gear", "widget", "gizmo"]
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]

DAYS = 30
EPOCH_2024_US = 1704067200 * 1_000_000  # 2024-01-01T00:00:00Z in micros
DAY_US = 86_400 * 1_000_000
ORDER_DAY0 = 9131  # 1995-01-01 in days since the epoch
N_MEDIA = 40
FILES_PER_RUN = 3
MAX_NIGHTS = 10  # raw payloads are written for the first MAX_NIGHTS days
ADVANCE_BATCH = 20
ADVANCE_BATCHES = 21
ADVANCE_ID_BASE = 1_000_000


def sizes(sf):
    """Row counts per table at scale factor `sf` (those of the repository's
    sf0.001/sf0.01/sf0.1 corpora)."""
    return {
        "part": int(200_000 * sf), "events": int(1_000_000 * sf),
        "users": int(15_000 * sf), "customer": int(150_000 * sf),
        "supplier": int(10_000 * sf), "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "documents": 500 if sf <= 0.01 else int(50_000 * sf),
        "embeddings": 500 if sf <= 0.01 else int(20_000 * sf),
    }


def _rngs(seed, names):
    kids = np.random.SeedSequence(seed).spawn(len(names))
    return {n: np.random.Generator(np.random.PCG64(k)) for n, k in zip(names, kids)}


def _ts(us):
    return pa.array(us.astype("int64"), type=pa.int64()).cast(pa.timestamp("us"))


def _doc_texts(rng, n, first_id):
    """Random-vocabulary documents; 5% are near-duplicates ("<other> dup")."""
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    out, pos = [], 0
    for ln in lens:
        out.append(" ".join(VOCAB[w] for w in words[pos:pos + ln]))
        pos += ln
    dup = rng.random(n) < 0.05
    src = rng.integers(0, n, n)
    for i in np.nonzero(dup)[0]:
        out[i] = out[src[i]] + " dup"
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    lang = rng.choice(len(LANGS), n, p=LANG_P)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(out, pa.string()),
        "lang": pa.array([LANGS[i] for i in lang], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in ids], pa.string()),
        "n_chars": pa.array([len(t) for t in out], pa.int64()),
    })


def _embeddings(rng, n, first_id):
    v = rng.standard_normal((n, 64)).astype(np.float64)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.astype(np.float32).ravel(), pa.float32())
    return pa.table({
        "vec_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, 64 * n + 1, 64, dtype=np.int32)), flat),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def _days(days):
    return pa.array(days.astype("int64") * DAY_US, pa.int64()).cast(pa.timestamp("us"))


def _money(g, lo, hi, m):
    return pa.array(np.round(g.uniform(lo, hi, m), 2))


def corpus(seed, sf, tables):
    """The corpus tables named in `tables` (any of TABLES), as pyarrow
    tables. Every column is drawn independently and uniformly over the value
    domain the repository's corpus has, and keys reference existing rows."""
    n = sizes(sf)
    r = _rngs(seed, TABLES)
    out = {}
    if "region" in tables:
        out["region"] = pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(REGIONS)})
    if "nation" in tables:
        out["nation"] = pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    if "customer" in tables:
        g, m = r["customer"], n["customer"]
        out["customer"] = pa.table({
            "c_custkey": pa.array(np.arange(m, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(m)]),
            "c_nationkey": pa.array(g.integers(0, 25, m).astype(np.int32)),
            "c_acctbal": _money(g, -999.99, 9999.99, m),
            "c_mktsegment": pa.array([SEGMENTS[i] for i in g.integers(0, 5, m)])})
    if "supplier" in tables:
        g, m = r["supplier"], n["supplier"]
        out["supplier"] = pa.table({
            "s_suppkey": pa.array(np.arange(m, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(m)]),
            "s_nationkey": pa.array(g.integers(0, 25, m).astype(np.int32)),
            "s_acctbal": _money(g, -999.99, 9999.99, m)})
    if "orders" in tables:
        g, m = r["orders"], n["orders"]
        out["orders"] = pa.table({
            "o_orderkey": pa.array(np.arange(m, dtype=np.int64)),
            "o_custkey": pa.array(g.integers(0, n["customer"], m)),
            "o_orderstatus": pa.array([("F", "O", "P")[i] for i in g.integers(0, 3, m)]),
            "o_totalprice": _money(g, 1000.0, 500000.0, m),
            "o_orderdate": _days(ORDER_DAY0 + g.integers(0, 2404, m)),
            "o_orderpriority": pa.array([PRIORITIES[i] for i in g.integers(0, 5, m)])})
    if "lineitem" in tables:
        g, m = r["lineitem"], n["lineitem"]
        out["lineitem"] = pa.table({
            "l_orderkey": pa.array(g.integers(0, n["orders"], m)),
            "l_partkey": pa.array(g.integers(0, n["part"], m)),
            "l_suppkey": pa.array(g.integers(0, n["supplier"], m)),
            "l_linenumber": pa.array(g.integers(1, 8, m).astype(np.int32)),
            "l_quantity": pa.array(g.integers(1, 51, m).astype(np.float64)),
            "l_extendedprice": _money(g, 900.0, 105000.0, m),
            "l_discount": pa.array(g.integers(0, 11, m) / 100.0),
            "l_tax": pa.array(g.integers(0, 9, m) / 100.0),
            "l_returnflag": pa.array([("A", "N", "R")[i] for i in g.integers(0, 3, m)]),
            "l_linestatus": pa.array([("F", "O")[i] for i in g.integers(0, 2, m)]),
            "l_shipdate": _days(ORDER_DAY0 + 1 + g.integers(0, 2499, m))})
    if "part" in tables:
        g, m = r["part"], n["part"]
        adj, noun = g.integers(0, 8, m), g.integers(0, 8, m)
        out["part"] = pa.table({
            "p_partkey": pa.array(np.arange(m, dtype=np.int64)),
            "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)]),
            "p_brand": pa.array([f"Brand#{i}" for i in g.integers(1, 26, m)]),
            "p_type": pa.array([PART_TYPES[i] for i in g.integers(0, 6, m)]),
            "p_size": pa.array(g.integers(1, 51, m).astype(np.int32)),
            "p_retailprice": pa.array(np.round(900.0 + (np.arange(m) % 1000) * 0.1, 1))})
    if "events" in tables:
        out["events"] = _events(r["events"], n)
    if "documents" in tables:
        out["documents"] = _doc_texts(r["documents"], n["documents"], 0)
    if "embeddings" in tables:
        out["embeddings"] = _embeddings(r["embeddings"], n["embeddings"], 0)
    return out


def _events(g, n):
    m = n["events"]
    # the same number of events every day (the first m % DAYS days get one more)
    day = np.sort(np.arange(m) % DAYS)
    ts = np.sort(EPOCH_2024_US + day * DAY_US + g.integers(0, DAY_US, m))
    return pa.table({
        "event_id": pa.array(np.arange(m, dtype=np.int64)),
        "ts": _ts(ts),
        "user_id": pa.array(g.integers(0, max(n["users"], 1), m)),
        "event_type": pa.array([EVENT_TYPES[i] for i in g.integers(0, 5, m)]),
        "value": pa.array(np.round(g.exponential(50.0, m), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in g.integers(0, 100, m)])})


def _iso(us):
    s = np.datetime_as_string(np.datetime64(int(us), "us"), unit="ms")
    return s + "Z"


def wistia(seed, sf, out_dir):
    """Wistia-shaped raw payloads, one run per corpus day (first MAX_NIGHTS).

    Medias derive from the first 40 parts. Each corpus event becomes one raw
    Wistia event; the seed picks the user -> visitor key and user -> media
    mapping and which of the run's files each event lands in.
    """
    c = corpus(seed, sf, ["events", "part"])
    ev, part = c["events"], c["part"]
    g = _rngs(seed, ["wistia"])["wistia"]
    users = sizes(sf)["users"]
    visitor = [f"v{x:012x}" for x in g.integers(0, 1 << 48, users)]
    user_media = g.integers(0, N_MEDIA, users)
    hashed = [f"m{x:09x}" for x in g.integers(0, 1 << 36, N_MEDIA)]
    names = part.column("p_name").to_pylist()[:N_MEDIA]
    sizes_ = part.column("p_size").to_pylist()[:N_MEDIA]
    tags = ["", " FB", " YT", ""]
    medias = []
    for i in range(N_MEDIA):
        medias.append({
            "id": 5_000_000 + i, "name": f"{names[i]}{tags[i % 4]} #{i}",
            "type": "Video", "archived": False,
            "created": "2023-12-01T00:00:00.000Z",
            "updated": "2023-12-15T00:00:00.000Z",
            "duration": float(30 + 10 * sizes_[i]), "hashed_id": hashed[i],
            "project": {"id": 700 + i % 3, "name": f"project {i % 3}",
                        "hashed_id": f"p{i % 3}"}})
    ts = ev.column("ts").cast(pa.int64()).to_numpy()
    uid = ev.column("user_id").to_numpy()
    eid = ev.column("event_id").to_numpy()
    etype = ev.column("event_type").to_pylist()
    val = ev.column("value").to_numpy()
    shift = g.integers(0, 3, len(eid))
    fidx = g.permutation(len(eid)) % FILES_PER_RUN  # equal-sized files
    day = (ts - EPOCH_2024_US) // DAY_US
    keep = day < MAX_NIGHTS
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "media.json"), "w") as f:
        for m in medias:
            f.write(json.dumps(m) + "\n")
    files = {}
    try:
        for i in np.nonzero(keep)[0]:
            key = (int(day[i]), int(fidx[i]))
            if key not in files:
                d = os.path.join(out_dir, "events", f"night={key[0]:02d}")
                os.makedirs(d, exist_ok=True)
                files[key] = open(os.path.join(d, f"part-{key[1]}.json"), "w")
            u = int(uid[i])
            rec = {
                "received_at": _iso(ts[i]),
                "event_key": f"{eid[i]}_{u:05d}",
                "ip": f"10.{u % 250}.{(u // 250) % 250}.{eid[i] % 250}",
                "country": ("US", "DE", "FR", "BR", "IN")[u % 5],
                "region": f"r{u % 7}", "city": f"c{u % 11}",
                "percent_viewed": round(min(1.0, float(val[i]) / 250.0), 4),
                "visitor_key": visitor[u],
                "user_agent_details": {
                    "browser": ("Firefox", "Chrome", "Safari")[u % 3],
                    "browser_version": str(100 + u % 20),
                    "platform": ("linux", "mac", "windows", "ios")[u % 4],
                    "mobile": u % 4 == 3},
                "media_id": hashed[(int(user_media[u]) + int(shift[i])) % N_MEDIA],
                "name": "play" if etype[i] == "view" else None}
            files[key].write(json.dumps(rec) + "\n")
    finally:
        for f in files.values():
            f.close()
    return {"nights": int(day[keep].max()) + 1 if keep.any() else 0,
            "medias": hashed, "events": int(keep.sum())}


# Layout of the store advance pools: ADVANCE_BATCHES batches of
# ADVANCE_BATCH new ids each, from ADVANCE_ID_BASE on. The harness reads it
# from the manifest.
POOL = {"batch": ADVANCE_BATCH, "batches": ADVANCE_BATCHES, "id_base": ADVANCE_ID_BASE}


def store_pools(seed, sf):
    """New documents and vectors for the store advances (ids above the corpus)."""
    g = _rngs(seed, ["pool_docs", "pool_vecs"])
    n = ADVANCE_BATCH * ADVANCE_BATCHES
    return (_doc_texts(g["pool_docs"], n, ADVANCE_ID_BASE),
            _embeddings(g["pool_vecs"], n, ADVANCE_ID_BASE))


WORKLOAD_TABLES = {
    "store_serving": ["documents", "embeddings"],
    "wistia_nights": [],
    "query_registry": TABLES,
}


def write(workload, seed, sf, out_dir):
    """Generate every input of `workload` under `out_dir`; returns a manifest."""
    os.makedirs(out_dir, exist_ok=True)
    manifest = {"workload": workload, "seed": seed, "sf": sf, "tables": {}}
    for name, t in corpus(seed, sf, WORKLOAD_TABLES[workload]).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        manifest["tables"][name] = t.num_rows
    if workload == "store_serving":
        docs, vecs = store_pools(seed, sf)
        pq.write_table(docs, os.path.join(out_dir, "advance_docs.parquet"))
        os.makedirs(os.path.join(out_dir, "advance_pool"), exist_ok=True)
        pq.write_table(vecs, os.path.join(out_dir, "advance_pool", "embeddings.parquet"))
        manifest["tables"]["advance_docs"] = docs.num_rows
        manifest["tables"]["advance_vecs"] = vecs.num_rows
        manifest["pool"] = POOL
    if workload == "wistia_nights":
        manifest["wistia"] = wistia(seed, sf, os.path.join(out_dir, "wistia"))
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    return manifest
