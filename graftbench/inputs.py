"""Seeded input generators for the benchmark.

Two kinds of input, both a pure function of the seed:

* ``write_tables`` writes the ten parquet tables every registry query reads
  (``region nation customer supplier part orders lineitem events documents
  embeddings``), with the schemas and value distributions of the repo's
  reference test data, at a chosen scale factor.
* ``write_osm`` writes one ``.osm`` XML document with nodes, ways (ordered
  ``nd`` refs), relations (typed members), tags with problem-character keys,
  colon keys and abbreviated ``addr:street`` values, and a fixed share of
  invalid elements. It returns the row counts and integer checksums the
  Spark ETL (``OsmShape.shapeAll`` + ``corrupt``) must reproduce.
"""
import os
import random
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]

DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(values_us):
    return pa.array(values_us, pa.timestamp("us"))


def table_data(seed, sf):
    """Column dicts of every table, deterministic in (seed, sf)."""
    rng = np.random.default_rng([seed, int(round(sf * 1_000_000))])
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord, n_li = int(200_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_users = int(1_000_000 * sf), max(100, int(15_000 * sf))
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    t = {}
    t["region"] = {"r_regionkey": pa.array(range(5), pa.int32()),
                   "r_name": REGIONS}
    t["nation"] = {"n_nationkey": pa.array(range(25), pa.int32()),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}
    t["customer"] = {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]}
    t["supplier"] = {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)}
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.array(names)[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)}
    t["orders"] = {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, 2404, n_ord) * DAY_US),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]}
    t["lineitem"] = {
        "l_orderkey": rng.integers(0, n_ord, n_li, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n_li, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n_li, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n_li),
        "l_discount": np.round(rng.integers(0, 11, n_li) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) * 0.01, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(EPOCH_1995 + (1 + rng.integers(0, 2499, n_li)) * DAY_US)}
    t["events"] = {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(EPOCH_2024 + np.sort(rng.integers(0, 30 * DAY_US, n_ev))),
        "user_id": rng.integers(0, n_users, n_ev, dtype=np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}
    texts = []
    lens = rng.integers(10, 101, n_doc)
    dup_of = rng.integers(0, n_doc, n_doc)
    is_dup = rng.random(n_doc) < 0.05
    for i in range(n_doc):
        if is_dup[i] and dup_of[i] < i:
            texts.append(texts[dup_of[i]] + " dup")
        else:
            texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), lens[i])]))
    t["documents"] = {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)}
    v = rng.standard_normal((n_emb, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb, dtype=np.int32)}
    return t


def write_tables(out_dir, seed, sf):
    """Write every table as ``<out_dir>/<name>.parquet``; returns the total
    bytes and each table's row count."""
    os.makedirs(out_dir, exist_ok=True)
    total, rows = 0, {}
    for name, cols in table_data(seed, sf).items():
        path = f"{out_dir}/{name}.parquet"
        t = pa.table(cols)
        pq.write_table(t, path)
        total += os.path.getsize(path)
        rows[name] = t.num_rows
    return total, rows


# ---------------------------------------------------------------- OSM

STREETS = ["Main", "Oak", "Elm", "Maple", "Cedar", "Pine", "Lake", "Hill",
           "Park", "Washington", "Church", "Mill"]
# abbreviated suffix -> canonical; the benchmark passes this mapping to
# OsmShape.shapeAll, and the generator applies it to compute the checksums
STREET_MAPPING = {"St": "Street", "St.": "Street", "Ave": "Avenue",
                  "Ave.": "Avenue", "Rd": "Road", "Rd.": "Road",
                  "Blvd": "Boulevard", "Dr": "Drive"}
STREET_SUFFIXES = list(STREET_MAPPING) + ["Street", "Avenue", "Road", "Court"]
PLAIN_KEYS = ["amenity", "name", "highway", "building", "source", "cuisine",
              "religion", "shop", "landuse", "natural"]
COLON_KEYS = ["addr:city", "addr:postcode", "addr:housenumber",
              "gnis:feature_id", "tiger:county", "name:en"]
PROBLEM_KEYS = ["name with space", "fax#", "a=b", "addr.street", "k&v", "note?"]
VALUES = ["yes", "residential", "restaurant", "pizza", "christian",
          "Tom & Jerry's", "<none>", "survey", "primary", "park"]
USERS = [f"mapper{i}" for i in range(200)]
PROBLEM = re.compile(r"""[=+/&<>;'"?%#$@,. \t\r\n]""")
INVALID_SHARE = 0.02


def _esc(s):
    return (s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
            .replace('"', "&quot;").replace("'", "&apos;"))


def _shaped_tag(k, v):
    """(key, value, type) the Spark shaper emits for one tag, or None when
    the key carries a problem character and is dropped."""
    if PROBLEM.search(k):
        return None
    ktype, key = k.split(":", 1) if ":" in k else ("regular", k)
    if ktype == "addr" and key == "street":
        last = re.search(r"(\S+)$", v)
        if last and last.group(1) in STREET_MAPPING:
            v = re.sub(r"(\S+)$", "", v) + STREET_MAPPING[last.group(1)]
    return key, v, ktype


class _Sums:
    def __init__(self, *names):
        self.v = {n: 0 for n in ("rows",) + names}

    def add(self, **kv):
        self.v["rows"] += 1
        for k, x in kv.items():
            self.v[k] += x


def write_osm(path, seed, n_nodes):
    """Write one .osm document; returns (bytes, element counts, expected
    per-output row counts and integer checksums)."""
    r = random.Random(seed)
    n_ways, n_rels = n_nodes // 5, n_nodes // 40
    exp = {"nodes": _Sums("id", "uid", "changeset"),
           "nodes_tags": _Sums("id", "value_len", "key_len"),
           "ways": _Sums("id", "uid", "changeset"),
           "ways_tags": _Sums("id", "value_len", "key_len"),
           "ways_nodes": _Sums("id", "node_id", "position"),
           "corrupt": _Sums("id")}
    counts = {"node": 0, "way": 0, "relation": 0, "tag": 0, "nd": 0,
              "member": 0, "invalid": 0}
    out = ['<?xml version="1.0" encoding="UTF-8"?>\n',
           '<osm version="0.6" generator="graftbench">\n',
           '  <bounds minlat="-90" minlon="-180" maxlat="90" maxlon="180"/>\n']

    def tags():
        ts = []
        for _ in range(r.choice((1, 1, 2, 3, 4))):
            x = r.random()
            if x < 0.25:
                k = "addr:street"
                v = f"{r.randrange(1, 999)} {r.choice(STREETS)} {r.choice(STREET_SUFFIXES)}"
            elif x < 0.45:
                k, v = r.choice(COLON_KEYS), str(r.randrange(10000, 99999))
            elif x < 0.52:
                k, v = r.choice(PROBLEM_KEYS), r.choice(VALUES)
            else:
                k, v = r.choice(PLAIN_KEYS), r.choice(VALUES)
            ts.append((k, v))
        return ts

    def attrs(eid, valid):
        """Element attributes; an invalid element gets a non-numeric uid or
        an unparsable timestamp."""
        uid = r.randrange(1, 5000)
        cs = r.randrange(1, 10_000_000)
        stamp = (f"20{r.randrange(10, 24)}-{r.randrange(1, 13):02d}-"
                 f"{r.randrange(1, 29):02d}T{r.randrange(24):02d}:"
                 f"{r.randrange(60):02d}:{r.randrange(60):02d}Z")
        uid_s = str(uid)
        if not valid:
            if r.random() < 0.5:
                uid_s = "x" + uid_s
            else:
                stamp = "yesterday"
        s = (f'id="{eid}" user="{r.choice(USERS)}" uid="{uid_s}" version="{r.randrange(1, 9)}" '
             f'changeset="{cs}" timestamp="{stamp}"')
        return s, uid, cs

    def emit_tags(eid, ts, table, valid):
        for k, v in ts:
            out.append(f'    <tag k="{_esc(k)}" v="{_esc(v)}"/>\n')
            counts["tag"] += 1
            shaped = _shaped_tag(k, v) if valid else None
            if shaped:
                exp[table].add(id=eid, value_len=len(shaped[1]), key_len=len(shaped[0]))

    for i in range(n_nodes):
        eid = 1_000_000 + i
        ok = r.random() >= INVALID_SHARE
        lat, lon = r.uniform(-89.9, 89.9), r.uniform(-179.9, 179.9)
        # half the invalid nodes have bad attributes, half a latitude past 90
        bad_geo = not ok and r.random() < 0.5
        a, uid, cs = attrs(eid, ok or bad_geo)
        if bad_geo:
            lat = 90.0 + r.uniform(0.5, 9.5)
        ts = tags() if r.random() < 0.35 else []
        head = f'  <node {a} lat="{lat:.7f}" lon="{lon:.7f}"'
        counts["node"] += 1
        if ok:
            exp["nodes"].add(id=eid, uid=uid, changeset=cs)
        else:
            counts["invalid"] += 1
            exp["corrupt"].add(id=eid)
        if ts:
            out.append(head + ">\n")
            emit_tags(eid, ts, "nodes_tags", ok)
            out.append("  </node>\n")
        else:
            out.append(head + "/>\n")
    for j in range(n_ways):
        eid = 5_000_000 + j
        ok = r.random() >= INVALID_SHARE
        a, uid, cs = attrs(eid, ok)
        counts["way"] += 1
        out.append(f"  <way {a}>\n")
        start = r.randrange(n_nodes)
        for pos in range(r.randrange(2, 16)):
            ref = 1_000_000 + (start + pos) % n_nodes
            out.append(f'    <nd ref="{ref}"/>\n')
            counts["nd"] += 1
            if ok:
                exp["ways_nodes"].add(id=eid, node_id=ref, position=pos)
        emit_tags(eid, tags(), "ways_tags", ok)
        out.append("  </way>\n")
        if ok:
            exp["ways"].add(id=eid, uid=uid, changeset=cs)
        else:
            counts["invalid"] += 1
            exp["corrupt"].add(id=eid)
    for j in range(n_rels):
        eid = 9_000_000 + j
        ok = r.random() >= INVALID_SHARE
        a, _, _ = attrs(eid, ok)
        counts["relation"] += 1
        out.append(f"  <relation {a}>\n")
        for _ in range(r.randrange(2, 8)):
            if r.random() < 0.6:
                mt, ref = "way", 5_000_000 + r.randrange(n_ways)
            else:
                mt, ref = "node", 1_000_000 + r.randrange(n_nodes)
            role = r.choice(("outer", "inner", "", "stop", "platform"))
            out.append(f'    <member type="{mt}" ref="{ref}" role="{role}"/>\n')
            counts["member"] += 1
        for k, v in tags():
            out.append(f'    <tag k="{_esc(k)}" v="{_esc(v)}"/>\n')
            counts["tag"] += 1
        out.append("  </relation>\n")
        if not ok:
            counts["invalid"] += 1
            exp["corrupt"].add(id=eid)
    out.append("</osm>\n")
    data = "".join(out).encode("utf-8")
    with open(path, "wb") as f:
        f.write(data)
    return len(data), counts, {k: s.v for k, s in exp.items()}
