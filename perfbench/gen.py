"""Seeded input generator: derives one workload's tables from the sf0.1
fixtures by keyed sampling.

Every table keeps a fixed row count for a given size spec; the seed only
changes which rows are kept. Sampling ranks rows by a seeded 64-bit hash
of their key, so the output is a pure function of (fixtures, spec, seed):

- lineitem: a seeded set of parts, and 10 of each one's line items.
  Sampling by part keeps each part shared by many documents, so the
  match chain forms candidate pairs as it does at sf0.1. Only parts with
  two line items from one supplier are sampled, and those line items are
  kept first, so every part also yields a pair matched by both entity
  types: the weight-training queries never get an empty input.
- part, orders, customer, supplier: every row the kept line items (or
  orders) reference, then seeded filler up to an exact count.
- documents: seeded near-duplicate clusters, kept whole, so the sample
  keeps the dedup structure of sf0.1 (about a tenth of the documents
  have a near-duplicate).
- events, embeddings: a seeded subset of rows.
- region, nation: copied whole.

Rows keep their fixture order. The fixtures are only read.
"""
import hashlib
import json
import os
import re
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]
VERSION = 4
# Line items kept per sampled part: a fixed fan-out keeps the match
# chain's candidate pairs (about parts × C(10, 2)) the same for every seed.
LINES_PER_PART = 10
# The engine's candidate generation drops an entity found in 1/20 or more
# of all documents (EntityMatching's safe mode). Each kept line item is
# its own document here, so a part's share is 1 / (sampled parts).
MIN_PARTS = 21
_M64 = np.uint64(0xFFFFFFFFFFFFFFFF)


def _mix(x):
    """splitmix64 finaliser over a uint64 array (wrapping arithmetic)."""
    with np.errstate(over="ignore"):
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return (x ^ (x >> np.uint64(31))) & _M64


def key_hash(keys, seed, salt):
    """Seeded hash of integer keys; equal keys hash equal within a table."""
    s = int.from_bytes(hashlib.sha256(f"{seed}:{salt}".encode()).digest()[:8],
                       "little")
    k = np.asarray(keys, dtype=np.int64).astype(np.uint64)
    with np.errstate(over="ignore"):
        return _mix(k ^ np.uint64(s))


def top_rows(table, order_keys, n):
    """The n rows that sort first by `order_keys` (last key is primary,
    as np.lexsort), returned in fixture order."""
    idx = np.lexsort(order_keys)[:n]
    return table.take(pa.array(np.sort(idx)))


def counts(spec, src_counts):
    """Exact output row count of every table for a size spec."""
    n_parts = round(spec["lineitem"] * src_counts["part"])
    if n_parts < MIN_PARTS:
        raise ValueError(f"{n_parts} parts: below {MIN_PARTS}, safe mode would "
                         "drop every part and the match chain would be empty")
    n_lines = LINES_PER_PART * n_parts
    # part sampling scatters the kept line items over nearly as many
    # orders as there are lines, so the referencing tables get one row
    # per referencing row: every reference resolves
    return {
        "region": src_counts["region"],
        "nation": src_counts["nation"],
        "part": n_parts,
        "lineitem": n_lines,
        "orders": min(src_counts["orders"], n_lines),
        "customer": min(src_counts["customer"], n_lines),
        "supplier": min(src_counts["supplier"], n_lines),
        "events": round(spec["events"] * src_counts["events"]),
        "documents": round(spec["documents"] * src_counts["documents"]),
        "embeddings": round(spec["embeddings"] * src_counts["embeddings"]),
    }


def doc_clusters(texts):
    """A near-duplicate cluster key per document: the least hash of its
    word 5-shingles (one-permutation MinHash), so two documents share it
    with probability equal to their shingle Jaccard similarity."""
    keys = np.empty(len(texts), dtype=np.uint64)
    for i, text in enumerate(texts):
        toks = [w for w in re.split(r"[^a-z0-9]+", text.lower()) if w]
        shingles = {" ".join(toks[j:j + 5]) for j in range(max(1, len(toks) - 4))}
        keys[i] = min(int.from_bytes(hashlib.blake2b(sh.encode(), digest_size=8)
                                     .digest(), "little") for sh in shingles)
    return keys.view(np.int64)


def _col(t, name):
    return t.column(name).to_numpy()


def _referenced_first(table, key, referenced, seed, n):
    keys = _col(table, key)
    miss = ~np.isin(keys, referenced)
    return top_rows(table, (key_hash(keys, seed, key), miss), n)


def sample(src, spec, seed):
    """Sampled tables as {name: pyarrow.Table}."""
    t = {name: pq.read_table(os.path.join(src, f"{name}.parquet"))
         for name in TABLES}
    n = counts(spec, {k: v.num_rows for k, v in t.items()})
    out = {"region": t["region"], "nation": t["nation"]}
    li = t["lineitem"]
    pk = _col(li, "l_partkey")
    # a line item "shares" when another line of its part has the same
    # supplier: the engine's part-supplier entity then pairs them too
    _, inv, cnt = np.unique(pk * 100000 + _col(li, "l_suppkey"),
                            return_inverse=True, return_counts=True)
    shared = cnt[inv] >= 2
    keys, sizes = np.unique(pk, return_counts=True)
    eligible = keys[(sizes >= LINES_PER_PART) & np.isin(keys, pk[shared])]
    parts = eligible[np.argsort(key_hash(eligible, seed, "part"), kind="stable")
                     [:n["part"]]]
    rows = np.flatnonzero(np.isin(pk, parts))
    line_h = key_hash(_col(li, "l_orderkey")[rows] * 8 + _col(li, "l_linenumber")[rows],
                      seed, "line")
    # by part, sharing lines first, then by line hash
    rows = rows[np.lexsort((line_h, ~shared[rows], pk[rows]))]
    first = np.searchsorted(pk[rows], pk[rows], side="left")
    rank = np.arange(len(rows)) - first
    out["lineitem"] = li.take(pa.array(np.sort(rows[rank < LINES_PER_PART])))
    out["part"] = _referenced_first(
        t["part"], "p_partkey", _col(out["lineitem"], "l_partkey"), seed, n["part"])
    out["orders"] = _referenced_first(
        t["orders"], "o_orderkey", _col(out["lineitem"], "l_orderkey"),
        seed, n["orders"])
    out["customer"] = _referenced_first(
        t["customer"], "c_custkey", _col(out["orders"], "o_custkey"),
        seed, n["customer"])
    out["supplier"] = _referenced_first(
        t["supplier"], "s_suppkey", _col(out["lineitem"], "l_suppkey"),
        seed, n["supplier"])
    docs = t["documents"]
    cluster_h = key_hash(doc_clusters(docs.column("text").to_pylist()), seed,
                         "documents")
    out["documents"] = top_rows(docs, (_col(docs, "doc_id"), cluster_h),
                                n["documents"])
    for name, key in (("events", "event_id"), ("embeddings", "vec_id")):
        h = key_hash(_col(t[name], key), seed, name)
        out[name] = top_rows(t[name], (h,), n[name])
    return out


def source_fingerprint(src):
    """Identity of the fixture files (name, size, mtime)."""
    h = hashlib.sha256()
    for name in TABLES:
        st = os.stat(os.path.join(src, f"{name}.parquet"))
        h.update(f"{name}:{st.st_size}:{st.st_mtime_ns};".encode())
    return h.hexdigest()[:16]


def generate(src, dst, spec, seed):
    """Write the sampled tables to `dst` (reused when its manifest
    matches) and return the manifest: row counts and bytes per table."""
    want = {"version": VERSION, "seed": seed, "spec": spec,
            "source": source_fingerprint(src)}
    mpath = os.path.join(dst, "manifest.json")
    if os.path.exists(mpath):
        with open(mpath) as f:
            have = json.load(f)
        if all(have.get(k) == v for k, v in want.items()):
            return have
    tmp = dst + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    tables = {}
    for name, table in sample(src, spec, seed).items():
        path = os.path.join(tmp, f"{name}.parquet")
        pq.write_table(table, path)
        tables[name] = {"rows": table.num_rows,
                        "bytes": os.path.getsize(path)}
    manifest = dict(want, tables=tables)
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    shutil.rmtree(dst, ignore_errors=True)
    os.rename(tmp, dst)
    return manifest
