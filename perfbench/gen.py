"""Seeded input generators for the graft benchmark.

Every workload's input is a pure function of (workload, seed): the same
seed gives byte-identical files.  The engine only ever sees the files
written here.  Each generator returns the input's deciding properties,
which the benchmark prints during set-up.

Usage: python3 perfbench/gen.py <workload> <seed> <out_dir>
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Input sizes.  They are fixed per workload, and the round counts of the
# BSP loops are fixed too (the BFS graph's depth by construction, the
# R-MAT graph's connected-components and k-core rounds by redrawing), so
# the seed changes which vertices connect but not how much work a pass
# does.
FLAGSHIP = dict(vertices=10_000, edges=70_000, branching=10)
# k is KCore's k in the graph workload; cc_rounds and kcore_rounds are
# the rounds the engine's loops print, the last one finding no change.
# 4 and 4 is the likeliest pair: about half of all draws have it.
RMAT = dict(scale=11, edges=20_000, a=0.57, b=0.19, c=0.19,
            k=8, cc_rounds=4, kcore_rounds=4)
ANALYTICS = dict(documents=800, near_dup_share=0.1, embeddings=600, dims=64,
                 clusters=10, events=12_000, users=150, lineitems=40_000)

VOCAB = ("row the query stream fast spark line small customer group value "
         "hash batch sort data big filter dup key agg scan slow table part a "
         "merge window order column join vector").split()
LANGS = ["en", "zh", "de", "fr", "es"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]


def _rng(seed, *stream):
    # one independent stream per input, so adding an input never shifts
    # the others
    return np.random.Generator(np.random.PCG64([seed, *stream]))


def _write_edges_text(path, src, dst):
    with open(path, "w") as f:
        f.write("".join(f"{u} {v}\n" for u, v in zip(src.tolist(), dst.tolist())))


def _undirected_unique(src, dst):
    """Drop self-loops and repeated undirected pairs, keep the first
    orientation seen."""
    keep = src != dst
    src, dst = src[keep], dst[keep]
    lo, hi = np.minimum(src, dst), np.maximum(src, dst)
    _, first = np.unique(lo * (1 << 32) + hi, return_index=True)
    first.sort()
    return src[first], dst[first]


def _bfs_ecc(n_ids, src, dst, source):
    """Eccentricity of `source` over the undirected edge list."""
    adj = [[] for _ in range(n_ids)]
    for u, v in zip(src.tolist(), dst.tolist()):
        adj[u].append(v)
        adj[v].append(u)
    dist = {source: 0}
    frontier = [source]
    while frontier:
        nxt = []
        for u in frontier:
            for v in adj[u]:
                if v not in dist:
                    dist[v] = dist[u] + 1
                    nxt.append(v)
        frontier = nxt
    return max(dist.values()), len(dist)


def _layered_ids(rng, sizes):
    """Vertex ids by level: the source is id 0 and alone in level 0, every
    other id is a random permutation of 1..n-1."""
    n = sum(sizes)
    perm = np.concatenate([[0], rng.permutation(np.arange(1, n))])
    out, at = [], 0
    for s in sizes:
        out.append(perm[at:at + s])
        at += s
    return out


def _layered_graph(rng, levels, chords):
    """A tree whose every vertex has a parent one level up, plus `chords`
    (level, count) edges inside a level or to the next one; so BFS from
    id 0 reaches level i at distance exactly i."""
    src, dst = [], []
    for i in range(1, len(levels)):
        src.append(levels[i])
        dst.append(rng.choice(levels[i - 1], size=len(levels[i])))
    for i, n in chords:
        here = levels[i]
        nxt = levels[min(i + 1, len(levels) - 1)]
        src.append(rng.choice(here, size=n))
        dst.append(rng.choice(np.concatenate([here, nxt]), size=n))
    src, dst = _undirected_unique(np.concatenate(src), np.concatenate(dst))
    order = rng.permutation(len(src))
    return src[order], dst[order]


def flagship_levels():
    """Level sizes: 1, then growing by `branching` until all vertices."""
    n, b = FLAGSHIP["vertices"], FLAGSHIP["branching"]
    sizes, left = [1], n - 1
    while left > 0:
        sizes.append(min(sizes[-1] * b, left))
        left -= sizes[-1]
    return sizes


def bfs_flagship(seed, out):
    """A shallow random tree plus chords between random vertices of the
    same or adjacent levels."""
    rng = _rng(seed, 1)
    sizes = flagship_levels()
    n = sum(sizes)
    weights = np.array(sizes[1:], dtype=float)
    per_level = rng.multinomial(FLAGSHIP["edges"] - (n - 1), weights / weights.sum())
    src, dst = _layered_graph(rng, _layered_ids(rng, sizes),
                              [(i + 1, int(c)) for i, c in enumerate(per_level)])
    path = os.path.join(out, "edges.txt")
    _write_edges_text(path, src, dst)
    ecc, reached = _bfs_ecc(n, src, dst, 0)
    return dict(vertices=n, edges=int(len(src)), text_bytes=os.path.getsize(path),
                ecc_source=ecc, reached=reached)


def _rmat_edges(rng):
    """R-MAT (Chakrabarti et al. 2004): each edge picks one quadrant per
    bit of the id with probabilities a, b, c, 1-a-b-c."""
    scale, m = RMAT["scale"], RMAT["edges"]
    a, b, c = RMAT["a"], RMAT["b"], RMAT["c"]
    src = np.zeros(m, dtype=np.int64)
    dst = np.zeros(m, dtype=np.int64)
    for bit in range(scale):
        r = rng.random(m)
        src |= ((r >= a + b)).astype(np.int64) << bit
        dst |= (((r >= a) & (r < a + b)) | (r >= a + b + c)).astype(np.int64) << bit
    return src, dst


def cc_rounds(src, dst, n_ids):
    """Rounds of the engine's min-label propagation over the symmetric
    edge list, counting the last round, which changes no label."""
    label = np.arange(n_ids, dtype=np.int64)
    present = np.zeros(n_ids, dtype=bool)
    present[src] = True
    rounds = 0
    while True:
        rounds += 1
        nxt = label.copy()
        np.minimum.at(nxt, dst, label[src])
        if nxt[present].sum() == label[present].sum():
            return rounds
        label = nxt


def kcore_rounds(src, dst, k):
    """Rounds of the engine's k-core peel over the symmetric edge list,
    counting the last round, which removes no edge."""
    rounds, last = 0, -1
    while True:
        rounds += 1
        keep = np.bincount(src, minlength=int(max(src.max(), dst.max())) + 1) >= k
        alive = keep[src] & keep[dst]
        src, dst = src[alive], dst[alive]
        if len(src) == last:
            return rounds
        last = len(src)


def rmat_graph(seed, out):
    """An R-MAT edge table as parquet.  Draws repeat, each from its own
    stream, until connected components and the k-core peel take the
    rounds RMAT names, so every seed runs the same loops."""
    n_ids = 1 << RMAT["scale"]
    for draw in range(1000):
        src, dst = _rmat_edges(_rng(seed, 3, draw))
        s2, d2 = _undirected_unique(src, dst)
        sym_src, sym_dst = np.concatenate([s2, d2]), np.concatenate([d2, s2])
        if (cc_rounds(sym_src, sym_dst, n_ids) == RMAT["cc_rounds"]
                and kcore_rounds(sym_src, sym_dst, RMAT["k"]) == RMAT["kcore_rounds"]):
            break
    else:
        raise RuntimeError(f"no R-MAT draw with the pinned round counts for seed {seed}")
    path = os.path.join(out, "edges.parquet")
    pq.write_table(pa.table({"src": src, "dst": dst}), path)
    # degree in the simple undirected graph the workload runs on
    deg = np.bincount(sym_src, minlength=n_ids)
    return dict(vertices=int((deg > 0).sum()), edges=len(src), simple_edges=int(len(s2)),
                edges_parquet_bytes=os.path.getsize(path), max_degree=int(deg.max()),
                cc_rounds=RMAT["cc_rounds"], kcore_rounds=RMAT["kcore_rounds"], draws=draw + 1)


def _words(rng, n):
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n))


def query_tables(seed, out):
    """Tables shaped like the engine's fixture schema: documents (with
    planted near-duplicates), embeddings (clustered unit vectors),
    events and lineitem."""
    p = ANALYTICS
    rng = _rng(seed, 4)
    texts = []
    for i in range(p["documents"]):
        if i > 10 and rng.random() < p["near_dup_share"]:
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(1 + int(rng.integers(0, 2))):
                words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(words))
        else:
            texts.append(_words(rng, int(rng.integers(8, 90))))
    docs = pa.table({
        "doc_id": np.arange(len(texts), dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), len(texts))],
        "source": [f"src{i}" for i in rng.integers(0, 20, len(texts))],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    rng = _rng(seed, 5)
    centres = rng.normal(size=(p["clusters"], p["dims"]))
    labels = rng.integers(0, p["clusters"], p["embeddings"])
    vecs = centres[labels] + rng.normal(scale=0.8, size=(p["embeddings"], p["dims"]))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table({
        "vec_id": np.arange(p["embeddings"], dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": labels.astype(np.int32)})

    rng = _rng(seed, 6)
    n = p["events"]
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    gaps = rng.integers(1, 400_000_000, n)  # up to 400 s apart, in us
    events = pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(t0 + np.cumsum(gaps).astype("timedelta64[us]"),
                       type=pa.timestamp("us")),
        "user_id": rng.integers(0, p["users"], n).astype(np.int64),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n)],
        "value": np.round(rng.integers(1, 49_003, n) / 100.0, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})

    rng = _rng(seed, 7)
    n = p["lineitems"]
    qty = rng.integers(1, 51, n).astype(np.float64)
    d0 = np.datetime64("1995-01-02T00:00:00", "us")
    lineitem = pa.table({
        "l_orderkey": np.sort(rng.integers(0, n // 4, n)).astype(np.int64),
        "l_partkey": rng.integers(0, 2000, n).astype(np.int64),
        "l_suppkey": rng.integers(0, 100, n).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.integers(90_000, 210_000, n) / 100.0, 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n)],
        "l_linestatus": [("O", "F")[i] for i in rng.integers(0, 2, n)],
        "l_shipdate": pa.array(d0 + (rng.integers(0, 2500, n) * 86_400_000_000)
                               .astype("timedelta64[us]"), type=pa.timestamp("us"))})

    tables = [("documents", docs), ("embeddings", emb), ("events", events),
              ("lineitem", lineitem)]
    for name, table in tables:
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))
    return dict(documents=docs.num_rows, embeddings=emb.num_rows,
                events=events.num_rows, lineitems=lineitem.num_rows,
                tables_parquet_bytes=sum(os.path.getsize(os.path.join(out, f"{n}.parquet"))
                                         for n, _ in tables))


# The inputs of each workload; their files share one directory.
WORKLOADS = {"bfs_flagship": [bfs_flagship], "graph_and_sql": [rmat_graph, query_tables]}


def generate(workload, seed, out):
    os.makedirs(out, exist_ok=True)
    props = {}
    for part in WORKLOADS[workload]:
        props.update(part(seed, out))
    return props


if __name__ == "__main__":
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])))
