"""Seeded input generators for the benchmark.

Everything here runs before any clock starts. The same seed gives the
same bytes.

* ``cdc_inputs``: a source snapshot (parquet, columns ``id``/``doc``) plus
  JSON-lines oplog files in the engine's file-adapter layout, and the
  last-writer-wins model of what the engine must end up holding.
* ``query_tables``: the ten harness tables the query suite reads
  (TPC-H-ish star schema, ``events``, ``documents``, ``embeddings``),
  each one parquet file written as a single row group like the fixtures.
"""
import hashlib
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

NS_DB, NS_COLL = "bench", "items"
NS = f"{NS_DB}.{NS_COLL}"
# source path -> sink field; "tag" is only ever $unset, never $set, so a
# batch that folds $set-then-$unset of one field cannot occur
MAPPING = {"name": "name", "qty": "qty", "tag": "tag", "meta.x": "mx", "meta.y": "my"}
TS0 = 1_700_000_000
# Oplog traffic of the CDC backlog: the share of each kind of event and
# the skew of the keys that updates and deletes hit. These are assumptions,
# not measurements of a real oplog: updates dominate so that the fold,
# deep-merge and last-writer-wins work of each trigger is the bulk of it;
# inserts and deletes keep the key space turning over; the fallback share
# keeps the source-snapshot lookup on every trigger's path. $set takes the
# rest (1 - the four shares below = 0.60).
# update of a deleted key, so the engine re-reads the snapshot doc; when no
# deleted key is old enough yet, the draw becomes an insert
FALLBACK_UPDATE_SHARE = 0.04
INSERT_SHARE = 0.18
DELETE_SHARE = 0.10
UNSET_SHARE = 0.08
# a live key is drawn at index floor(n * u ** SKEW_POWER), u uniform on [0, 1):
# with 3 the first 10% of the live list takes 46% of the updates and deletes
SKEW_POWER = 3
WORDS = ["alpha", "beta", "gamma", "delta", "omega", "kappa", "sigma", "tau"]


def config(trigger_ms, read_capacity):
    """Reference-format engine config: one task, file adapters, bulk leg."""
    return {
        "mongodb": {"url": "mongodb://localhost/bench"},
        "elasticsearch": {"options": {"host": "localhost:9200", "bulkDir": "bulk"}},
        "controls": {"elasticsearchBulkInterval": trigger_ms,
                     "mongodbReadCapacity": read_capacity},
        "tasks": [{
            "from": {"phase": "scan"},
            "extract": {"db": NS_DB, "collection": NS_COLL},
            "transform": {"mapping": MAPPING},
            "load": {"index": NS_COLL, "type": "_doc", "body": {"properties": {
                "name": {"type": "keyword"}, "qty": {"type": "long"},
                "tag": {"type": "keyword"}, "mx": {"type": "long"},
                "my": {"type": "keyword"}}}},
        }],
    }


def task_dir_name():
    return f"{NS}___{NS_COLL}._doc"


def canon(doc):
    return json.dumps(doc, sort_keys=True, separators=(",", ":"))


def state_digest(pairs):
    """Key count plus an order-independent hash of (id, canonical doc)."""
    h, n = 0, 0
    for key, doc in pairs:
        d = hashlib.md5((key + "\x00" + canon(doc)).encode()).digest()
        h = (h + int.from_bytes(d[:8], "little")) % (1 << 64)
        n += 1
    return {"count": n, "hash": f"{h:016x}"}


class CdcModel:
    """Emits oplog events and keeps the sink state they must produce.

    The engine folds each micro-batch (insert+update collapse, update
    bodies deep-merge, delete after insert annihilates) before the LWW
    merge. The generator only emits sequences whose folded result equals
    their one-at-a-time result whatever the batch boundaries, so the
    model needs no knowledge of triggers:
    * inserts always use fresh ids;
    * ``tag`` is only ever unset;
    * an update of a deleted key (the source-snapshot fallback: the engine
      re-reads the snapshot doc) comes at least ``gap`` files after the
      delete, and ``gap`` exceeds the files one trigger can admit; the key
      is never touched again afterwards.
    """

    def __init__(self, rng, prefix, n_snapshot, gap):
        self.rng, self.prefix, self.gap = rng, prefix, gap
        self.next_id = 0
        self.source = {}  # snapshot id -> sink-shaped doc the fallback yields
        self.state = {}   # id -> sink-shaped doc
        self.live, self.pos = [], {}
        self.dead = []    # (file index of the delete, id)
        self.seq = 0
        self.snapshot_rows = []
        for _ in range(n_snapshot):
            key = self._new_id()
            src = self._source_doc(key)
            self.snapshot_rows.append((key, json.dumps(src, separators=(",", ":"))))
            self.source[key] = self._mapped(src)
            self._put(key, self._mapped(src))

    def _new_id(self):
        key = f"{self.prefix}{self.next_id:016x}"
        self.next_id += 1
        return key

    def _source_doc(self, key):
        r = self.rng
        return {"_id": key, "name": f"{r.choice(WORDS)}-{r.randrange(10000)}",
                "qty": r.randrange(1000), "tag": r.choice(WORDS),
                "meta": {"x": r.randrange(100000), "y": r.choice(WORDS)},
                "extra": "x" * r.randrange(8, 40)}

    @staticmethod
    def _mapped(src):
        out = {"_id": src["_id"]}
        for path, dst in MAPPING.items():
            v = src
            for seg in path.split("."):
                v = v.get(seg) if isinstance(v, dict) else None
            if v is not None:
                out[dst] = v
        return out

    def _put(self, key, doc):
        if key not in self.pos:
            self.pos[key] = len(self.live)
            self.live.append(key)
        self.state[key] = doc

    def _drop(self, key):
        i = self.pos.pop(key)
        last = self.live.pop()
        if last != key:
            self.live[i] = last
            self.pos[last] = i
        del self.state[key]

    def _skewed_live(self):
        return self.live[int(len(self.live) * self.rng.random() ** SKEW_POWER)]

    def _event(self, op, key, doc):
        self.seq += 1
        return json.dumps({"ts": (TS0 + self.seq) << 32, "op": op, "ns": NS,
                           "id": key, "doc": doc}, separators=(",", ":"))

    def events(self, n, file_index):
        r, out = self.rng, []
        fallback = FALLBACK_UPDATE_SHARE
        insert = fallback + INSERT_SHARE
        delete = insert + DELETE_SHARE
        unset = delete + UNSET_SHARE
        for _ in range(n):
            x = r.random()
            if x < fallback and self.dead and self.dead[0][0] + self.gap <= file_index:
                _, key = self.dead.pop(0)
                out.append(self._event("u", key, {"$set": {"qty": r.randrange(1000)}}))
                if key in self.source:  # resurrected, but kept off the live list
                    self.state[key] = dict(self.source[key])
            elif x < insert or len(self.live) < 100:
                key = self._new_id()
                src = self._source_doc(key)
                out.append(self._event("i", key, src))
                self._put(key, self._mapped(src))
            elif x < delete:
                key = self._skewed_live()
                out.append(self._event("d", key, {"_id": key}))
                self._drop(key)
                self.dead.append((file_index, key))
            elif x < unset:
                key = self._skewed_live()
                out.append(self._event("u", key, {"$unset": {"tag": 1}}))
                self.state[key] = {k: v for k, v in self.state[key].items() if k != "tag"}
            else:
                key = self._skewed_live()
                sets, doc = {}, dict(self.state[key])
                if r.random() < 0.7:
                    sets["qty"] = doc["qty"] = r.randrange(1000)
                if r.random() < 0.4:
                    sets["name"] = doc["name"] = f"{r.choice(WORDS)}-{r.randrange(10000)}"
                if r.random() < 0.3 or not sets:
                    sets["meta.x"] = doc["mx"] = r.randrange(100000)
                out.append(self._event("u", key, {"$set": sets}))
                self.state[key] = doc
        return out

    def digest(self):
        return state_digest(self.state.items())


def write_snapshot(rows, path):
    os.makedirs(path, exist_ok=True)
    t = pa.table({"id": [k for k, _ in rows], "doc": [d for _, d in rows]})
    pq.write_table(t, os.path.join(path, "part-00000.parquet"))


def write_lines(path, lines):
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")


def cdc_inputs(seed, out, snapshot, files, events_per_file, gap):
    """Snapshot + ``files`` oplog files under ``out/<task>/``; returns the
    model digest after all files."""
    model = CdcModel(random.Random(seed), f"{seed % 2**32:08x}", snapshot, gap)
    task = os.path.join(out, task_dir_name())
    write_snapshot(model.snapshot_rows, os.path.join(task, "snapshot"))
    oplog = os.path.join(task, "oplog")
    os.makedirs(oplog, exist_ok=True)
    for i in range(files):
        write_lines(os.path.join(oplog, f"oplog-{i:06d}.jsonl"), model.events(events_per_file, i))
    return {**model.digest(), "snapshot_docs": snapshot,
            "events": files * events_per_file}


# ---------------------------------------------------------------- tables

def _tbl(out, name, cols):
    t = pa.table(cols)
    pq.write_table(t, os.path.join(out, f"{name}.parquet"), row_group_size=max(1, t.num_rows))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, span_days, n):
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, span_days, n).astype("timedelta64[D]")).astype("datetime64[us]")


def query_tables(seed, out, sf, tpch_sf):
    """The TPC-H tables at ``tpch_sf``, ``events``, ``documents`` and
    ``embeddings`` at ``sf``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    i32, i64 = pa.int32(), pa.int64()
    _tbl(out, "region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _tbl(out, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    nc, ns, npart = int(150000 * tpch_sf), int(10000 * tpch_sf), int(200000 * tpch_sf)
    no, nl = int(1500000 * tpch_sf), int(6000000 * tpch_sf)
    _tbl(out, "customer", {
        "c_custkey": pa.array(np.arange(nc), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                    "MACHINERY"], nc)})
    _tbl(out, "supplier", {
        "s_suppkey": pa.array(np.arange(ns), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns)})
    adj = ["large", "hot", "blue", "old", "red", "cold", "new", "small"]
    noun = ["ring", "bolt", "plate", "gear", "rod", "widget", "gizmo", "anvil"]
    _tbl(out, "part", {
        "p_partkey": pa.array(np.arange(npart), i64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": rng.choice(["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"], npart),
        "p_size": pa.array(rng.integers(1, 51, npart), i32),
        "p_retailprice": np.round(900 + (np.arange(npart) % 1000) * 0.1, 2)})
    _tbl(out, "orders", {
        "o_orderkey": pa.array(np.arange(no), i64),
        "o_custkey": pa.array(rng.integers(0, nc, no), i64),
        "o_orderstatus": rng.choice(["O", "F", "P"], no),
        "o_totalprice": _money(rng, 1000, 500000, no),
        "o_orderdate": _days(rng, "1995-01-01", 2404, no),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                       "5-LOW"], no)})
    _tbl(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, no, nl), i64),
        "l_partkey": pa.array(rng.integers(0, npart, nl), i64),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 100000, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["O", "F"], nl),
        "l_shipdate": _days(rng, "1995-01-02", 2498, nl)})
    ne = int(1000000 * sf)
    secs = np.sort(rng.uniform(0, 30 * 86400, ne))
    _tbl(out, "events", {
        "event_id": pa.array(np.arange(ne), i64),
        "ts": (np.datetime64("2024-01-01T00:00:00", "us")
               + (secs * 1e6).astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, 1500, ne), i64),
        "event_type": rng.choice(["view", "click", "purchase", "signup", "error"], ne),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    vocab = ["spark", "window", "merge", "table", "column", "vector", "stream", "value",
             "data", "small", "join", "filter", "big", "group", "hash", "customer", "sort",
             "order", "slow", "line", "part", "fast", "row", "the", "agg", "key", "query",
             "a", "scan", "batch"]
    nd = int(50000 * sf)
    texts = []
    for i in range(nd):
        x = rng.random()
        if i > 10 and x < 0.05:    # near duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and x < 0.052:  # exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(rng.choice(vocab, int(rng.integers(10, 101)))))
    _tbl(out, "documents", {
        "doc_id": pa.array(np.arange(nd), i64),
        "text": texts,
        "lang": rng.choice(["en", "zh", "es", "fr", "de"], nd, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], i64)})
    nv, dim = int(20000 * sf), 64
    vec = rng.standard_normal((nv, dim)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    _tbl(out, "embeddings", {
        "vec_id": pa.array(np.arange(nv), i64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), i32)})
