"""Seeded input generators for the graft benchmark.

Every input graft sees is made here from the workload seed: the TPC-H
shaped tables behind the graph workloads, the analytics call
parameters, the Cypher statement stream (with the DuckDB statements that
replay its writes), the curation corpus with planted duplicates, the
embeddings and the stream's event files. The same seed gives
byte-identical files; numpy's PCG64 stream and pyarrow's parquet writer
are both deterministic.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
COLORS = ["almond", "antique", "aquamarine", "azure", "beige", "bisque",
          "black", "blanched", "blue", "blush", "brown", "burlywood",
          "chartreuse", "chiffon", "chocolate", "coral", "cornflower",
          "cream", "cyan", "dark", "deep", "dim", "dodger", "drab"]
TYPES = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
MATERIALS = ["TIN", "NICKEL", "BRASS", "STEEL", "COPPER"]

# Stopword profiles: the same lists graft.functions.TextOps uses for
# language id, so the planted language decides the classifier's answer.
PROFILES = [("en", ["the", "a", "of", "and", "is"]),
            ("fr", ["le", "la", "et", "les", "des"]),
            ("de", ["der", "die", "und", "das", "ist"]),
            ("es", ["el", "la", "los", "que", "es"])]


def rng_for(seed, stream):
    """An independent generator per (seed, input) pair."""
    return np.random.default_rng([seed, stream])


def write(table, path):
    pq.write_table(table, path, compression="snappy")


# ---------------------------------------------------------------- tpch

def tpch_sizes(sf):
    return dict(customer=int(150000 * sf), supplier=int(10000 * sf),
                part=int(200000 * sf), orders=int(1500000 * sf))


def gen_tpch(seed, sf, out):
    """TPC-H shaped tables with the columns graft.sources.TpchGraph reads.
    Row counts depend on sf only; keys, links and attributes on the
    seed. Returns the arrays later generators derive parameters from."""
    os.makedirs(out, exist_ok=True)
    n = tpch_sizes(sf)
    r = rng_for(seed, 1)
    write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                    "r_name": REGIONS}), f"{out}/region.parquet")
    n_region = (np.arange(25) + int(r.integers(0, 5))) % 5
    write(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                    "n_name": [f"NATION_{k}" for k in range(25)],
                    "n_regionkey": pa.array(n_region, pa.int32())}),
          f"{out}/nation.parquet")
    c_nation = r.integers(0, 25, n["customer"]).astype(np.int32)
    c_seg = r.integers(0, 5, n["customer"])
    write(pa.table({
        "c_custkey": pa.array(np.arange(1, n["customer"] + 1), pa.int64()),
        "c_name": [f"Customer#{k:09d}" for k in range(1, n["customer"] + 1)],
        "c_nationkey": pa.array(c_nation, pa.int32()),
        "c_acctbal": np.round(r.uniform(-999, 9999, n["customer"]), 2),
        "c_mktsegment": [SEGMENTS[i] for i in c_seg]}),
        f"{out}/customer.parquet")
    s_nation = r.integers(0, 25, n["supplier"]).astype(np.int32)
    write(pa.table({
        "s_suppkey": pa.array(np.arange(1, n["supplier"] + 1), pa.int64()),
        "s_name": [f"Supplier#{k:09d}" for k in range(1, n["supplier"] + 1)],
        "s_nationkey": pa.array(s_nation, pa.int32()),
        "s_acctbal": np.round(r.uniform(-999, 9999, n["supplier"]), 2)}),
        f"{out}/supplier.parquet")
    c1 = r.integers(0, len(COLORS), n["part"])
    c2 = r.integers(0, len(COLORS), n["part"])
    brand = r.integers(1, 6, (n["part"], 2))
    ty = r.integers(0, len(TYPES), n["part"])
    mat = r.integers(0, len(MATERIALS), n["part"])
    write(pa.table({
        "p_partkey": pa.array(np.arange(1, n["part"] + 1), pa.int64()),
        "p_name": [f"{COLORS[a]} {COLORS[b]}" for a, b in zip(c1, c2)],
        "p_brand": [f"Brand#{a}{b}" for a, b in brand],
        "p_type": [f"{TYPES[a]} {MATERIALS[b]}" for a, b in zip(ty, mat)],
        "p_size": pa.array(r.integers(1, 51, n["part"]), pa.int32()),
        "p_retailprice": np.round(r.uniform(900, 2000, n["part"]), 2)}),
        f"{out}/part.parquet")
    o_cust = r.integers(1, n["customer"] + 1, n["orders"])
    status = np.array(["F", "O", "P"])[r.integers(0, 3, n["orders"])]
    prio = r.integers(0, 5, n["orders"])
    write(pa.table({
        "o_orderkey": pa.array(np.arange(1, n["orders"] + 1), pa.int64()),
        "o_custkey": pa.array(o_cust, pa.int64()),
        "o_orderstatus": status.tolist(),
        "o_totalprice": np.round(r.uniform(800, 500000, n["orders"]), 2),
        "o_orderpriority": [PRIORITIES[i] for i in prio]}),
        f"{out}/orders.parquet")
    lines = r.integers(1, 8, n["orders"])
    l_order = np.repeat(np.arange(1, n["orders"] + 1), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    l_line = (np.arange(len(l_order)) - starts + 1).astype(np.int32)
    l_part = r.integers(1, n["part"] + 1, len(l_order))
    write(pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(l_part, pa.int64()),
        "l_suppkey": pa.array(r.integers(1, n["supplier"] + 1, len(l_order)),
                              pa.int64()),
        "l_linenumber": pa.array(l_line, pa.int32()),
        "l_quantity": r.integers(1, 51, len(l_order)).astype(np.float64)}),
        f"{out}/lineitem.parquet")
    return dict(n=n, c_nation=c_nation, n_region=n_region)


# ----------------------------------------------------------- analytics

def gen_analytics(seed, out, sf):
    """Tables plus the seeded call parameters of the analytics batch."""
    t = gen_tpch(seed, sf, out)
    r = rng_for(seed, 2)
    n = t["n"]
    params = {
        "sf": sf,
        "pagerank_iters": 3,
        # about 90% of the co-purchase graph's vertices survive at sf0.005
        "kcore_k": 80,
        "link_pred_k": 50,
        "label_prop_rounds": 2,
        "ppr_iters": 3,
        # seeded sources and pairs; ids are those of the TpchGraph
        # projection ("c:<key>") or of the co-purchase graph (part keys)
        "sssp_sources": [int(x) for x in r.integers(1, n["customer"] + 1, 2)],
        "ppr_customer": int(r.integers(1, n["customer"] + 1)),
        "bfs_sources": [f"c:{x}" for x in
                        r.integers(1, n["customer"] + 1, 2)],
        "bfs_depth": 2,
        "sp_pairs": [[f"c:{a}", f"c:{b}"] for a, b in
                     r.integers(1, n["customer"] + 1, (4, 2))],
        "sp_depth": 3,
        "hyperball_hops": 2,
    }
    with open(f"{out}/params.json", "w") as f:
        json.dump(params, f, sort_keys=True)
    return params


# ----------------------------------------------------------- cypher-rw

# One pass of statements, the same templates in the same order for every
# pass and seed (the seed picks every parameter): eleven reads and five
# writes. Each pass starts from the base graph, creates one bnode and
# works on it, so a pass only refers to vertices it created itself.
# Every write is followed by a read that sees its result: SET by a
# lookup of that customer's segment, DETACH DELETE by a lookup of the
# deleted bnode and a count of its TAGGED edges (both now empty).
PASS_TEMPLATES = ["id_lookup", "filter_order_limit", "one_hop",
                  "create_vertex", "two_hop_distinct", "create_edge",
                  "tag_count", "optional_agg", "set_prop", "seg_lookup",
                  "shortest_path", "merge", "bnode_lookup", "detach_delete",
                  "bnode_lookup_after_delete", "tag_count_after_delete"]
WRITE_TEMPLATES = {"create_vertex", "create_edge", "set_prop", "merge",
                   "detach_delete"}
# reads that repeat another read's statement shape at a later point of
# the pass; the checker answers them as that shape
READ_SHAPE = {"seg_lookup": "id_lookup",
              "bnode_lookup_after_delete": "bnode_lookup",
              "tag_count_after_delete": "tag_count"}


def gen_cypher(seed, out, sf, passes):
    """The sf graph's tables plus `passes` passes of PASS_TEMPLATES.
    Writes only touch the pass's `bnode`, TAGGED edges to it and
    customer segments; each write also carries the DuckDB statements
    that replay it for the output check."""
    t = gen_tpch(seed, sf, out)
    r = rng_for(seed, 3)
    n_cust = t["n"]["customer"]
    c_region = t["n_region"][t["c_nation"]]

    def cust():
        return int(r.integers(1, n_cust + 1))

    def statement(kind, k, tagged, state):
        kind = READ_SHAPE.get(kind, kind)
        if kind == "id_lookup":
            # the first lookup of a pass picks a customer; the later one
            # reads back the customer whose segment the pass SET
            c = state.pop("set_c", None) or cust()
            return (f"MATCH (c:customer) WHERE id(c) = 'c:{c}' "
                    "RETURN id(c) AS id, c.name AS name, c.mktsegment AS seg",
                    dict(c=c))
        if kind == "filter_order_limit":
            seg, lo = SEGMENTS[int(r.integers(0, 5))], cust()
            return (f"MATCH (c:customer) WHERE c.mktsegment = '{seg}' AND "
                    f"c.name > 'Customer#{lo:09d}' "
                    "RETURN c.name AS name ORDER BY name LIMIT 10",
                    dict(seg=seg, lo=lo))
        if kind == "one_hop":
            c = cust()
            return (f"MATCH (c:customer)-[:PLACED]->(o:order) "
                    f"WHERE id(c) = 'c:{c}' "
                    "RETURN id(o) AS oid, o.status AS status ORDER BY oid",
                    dict(c=c))
        if kind == "two_hop_distinct":
            c = cust()
            return (f"MATCH (c:customer)-[:PLACED]->(o:order)"
                    f"-[:CONTAINS]->(p:part) WHERE id(c) = 'c:{c}' "
                    "RETURN DISTINCT id(p) AS pid ORDER BY pid", dict(c=c))
        if kind == "tag_count":
            return (f"MATCH (c:customer) WHERE id(c) = 'c:{tagged}' "
                    "OPTIONAL MATCH (c)-[:TAGGED]->(b:bnode) "
                    "RETURN id(c) AS id, count(b.bk) AS n_tags",
                    dict(c=tagged))
        if kind == "optional_agg":
            nk, seg = int(r.integers(0, 25)), SEGMENTS[int(r.integers(0, 5))]
            return (f"MATCH (n:nation) WHERE id(n) = 'n:{nk}' "
                    "OPTIONAL MATCH (c:customer)-[:IN_NATION]->(n) "
                    f"WHERE c.mktsegment = '{seg}' "
                    "RETURN n.name AS name, count(id(c)) AS n_cust",
                    dict(nk=nk, seg=seg))
        if kind == "shortest_path":
            # customers of one region in different nations: a path of
            # length 4 through the region always exists, so every seed
            # searches to the same depth
            a = cust()
            same = np.nonzero((c_region == c_region[a - 1]) &
                              (t["c_nation"] != t["c_nation"][a - 1]))[0]
            b = int(same[r.integers(0, len(same))]) + 1
            return (f"MATCH (a:customer), (b:customer) WHERE id(a) = 'c:{a}' "
                    f"AND id(b) = 'c:{b}' "
                    "MATCH p = shortestPath((a)-[*..4]-(b)) "
                    "RETURN toInteger(length(p)) AS len", dict(a=a, b=b))
        if kind == "bnode_lookup":
            return (f"MATCH (b:bnode) WHERE b.bk = '{k}' "
                    "RETURN b.bk AS bk, b.w AS w", dict(bk=k))
        if kind == "create_vertex":
            w = int(r.integers(0, 10))
            return (f"CREATE (:bnode {{bk: '{k}', w: '{w}'}})",
                    [f"INSERT INTO bnode VALUES ('{k}', '{w}')"])
        if kind == "create_edge":
            return (f"MATCH (c:customer), (b:bnode) WHERE id(c) = "
                    f"'c:{tagged}' AND b.bk = '{k}' CREATE (c)-[:TAGGED]->(b)",
                    [f"INSERT INTO tagged VALUES ('c:{tagged}', '{k}')"])
        if kind == "set_prop":
            c, seg = cust(), SEGMENTS[int(r.integers(0, 5))]
            state["set_c"] = c
            return (f"MATCH (c:customer) WHERE id(c) = 'c:{c}' "
                    f"SET c.mktsegment = '{seg}'",
                    [f"DELETE FROM seg WHERE id = 'c:{c}'",
                     f"INSERT INTO seg VALUES ('c:{c}', '{seg}')"])
        if kind == "merge":
            return (f"MERGE (b:bnode {{bk: '{k}'}}) "
                    "ON CREATE SET b.w = 'new' ON MATCH SET b.w = 'seen'",
                    [f"UPDATE bnode SET w = 'seen' WHERE bk = '{k}'"])
        if kind == "detach_delete":
            return (f"MATCH (b:bnode {{bk: '{k}'}}) DETACH DELETE b",
                    [f"DELETE FROM tagged WHERE bk = '{k}'",
                     f"DELETE FROM bnode WHERE bk = '{k}'"])
        raise ValueError(kind)

    stmts = []
    for p in range(1, passes + 1):
        k, tagged, state = f"b{p}", cust(), {}
        for kind in PASS_TEMPLATES:
            cy, extra = statement(kind, k, tagged, state)
            s = {"i": len(stmts), "pass": p, "template": kind, "cypher": cy}
            if kind in WRITE_TEMPLATES:
                s.update(kind="write", sql=extra)
            else:
                s.update(kind="read", args=extra)
            stmts.append(s)
    with open(f"{out}/statements.jsonl", "w") as f:
        for s in stmts:
            f.write(json.dumps(s, sort_keys=True) + "\n")
    return stmts


# ------------------------------------------------------------ curation

def gen_curation(seed, out, n_docs, n_vecs, n_queries, dim=64):
    """Corpus with planted exact copies (5%) and near-duplicate clusters
    (10% of documents are 1-2 word edits of a base document), plus
    clustered embeddings and seeded query ids. The planted truth is
    written next to the inputs; graft never reads it."""
    os.makedirs(out, exist_ok=True)
    r = rng_for(seed, 4)
    vocab = np.array([
        "".join(chr(97 + c) for c in r.integers(0, 26, r.integers(3, 9)))
        for _ in range(6000)])
    lang = r.integers(0, len(PROFILES), n_docs)
    lens = r.integers(60, 120, n_docs)
    words = [vocab[r.integers(0, len(vocab), ln)] for ln in lens]
    for d in range(n_docs):
        # stopwords of the planted language at 12% of positions
        sw = PROFILES[lang[d]][1]
        pos = np.nonzero(r.random(lens[d]) < 0.12)[0]
        words[d][pos] = np.array(sw)[r.integers(0, len(sw), len(pos))]
    kind = np.zeros(n_docs, dtype=np.int8)    # 0 base, 1 exact, 2 near
    origin = np.arange(n_docs)
    role = r.random(n_docs)
    for d in range(1, n_docs):
        if role[d] < 0.15:
            src = int(r.integers(max(0, d - 2000), d))
            src = int(origin[src]) if kind[src] else src
            origin[d] = src
            lang[d] = lang[src]
            if role[d] < 0.05:
                kind[d] = 1
                words[d] = words[src].copy()
            else:
                kind[d] = 2
                w = words[src].copy()
                for p in r.integers(0, len(w), int(r.integers(1, 3))):
                    w[p] = vocab[int(r.integers(0, len(vocab)))]
                words[d] = w
    texts = []
    for d in range(n_docs):
        t = " ".join(words[d])
        if kind[d] == 1 and role[d] < 0.025:
            t = t.upper()       # same text after normalization
        texts.append(t)
    ids = np.arange(1, n_docs + 1)
    write(pa.table({"doc_id": pa.array(ids, pa.int64()), "text": texts}),
          f"{out}/documents.parquet")
    np.savez(f"{out}/truth.npz", kind=kind, origin=origin + 1)
    # embeddings: 32 gaussian clusters on the unit sphere
    centers = r.normal(size=(32, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    member = r.integers(0, 32, n_vecs)
    vecs = (centers[member] + 0.35 * r.normal(size=(n_vecs, dim))
            / np.sqrt(dim)).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(vecs.reshape(-1)), dim)
    write(pa.table({"vec_id": pa.array(np.arange(1, n_vecs + 1), pa.int64()),
                    "embedding": emb.cast(pa.list_(pa.float32()))}),
          f"{out}/embeddings.parquet")
    queries = np.sort(r.choice(np.arange(1, n_vecs + 1), n_queries,
                               replace=False))
    with open(f"{out}/params.json", "w") as f:
        json.dump({"queries": [int(q) for q in queries], "k": 10,
                   "shingle_n": 3, "perms": 64, "bands": 16,
                   "jaccard": 0.8, "ivf_nlist": 16, "ivf_nprobe": 4},
                  f, sort_keys=True)


# -------------------------------------------------------------- stream

EVENT_TYPES = ["view", "click", "purchase", "search", "cart"]


def gen_stream(seed, out, n_events, n_users, n_files):
    """A time-ordered event log cut into `n_files` parquet files whose
    names and modification times follow event time, so the file source
    reads them in order and no event is ever late."""
    src = f"{out}/events"
    os.makedirs(src, exist_ok=True)
    r = rng_for(seed, 5)
    # 6 hours of events in per-user bursts (1-7 events about a minute
    # apart), so sessions span several events and users recur
    t0 = 1_700_000_000_000_000
    sizes = r.integers(1, 8, n_events)
    sizes = sizes[:np.searchsorted(np.cumsum(sizes), n_events) + 1]
    sizes[-1] -= sizes.sum() - n_events
    starts = np.repeat(r.integers(0, 6 * 3600 * 10**6, len(sizes)), sizes)
    offsets = r.exponential(60e6, n_events).astype(np.int64)
    cum = np.cumsum(offsets)
    burst = np.cumsum(sizes) - sizes          # index of each burst's start
    within = cum - np.repeat(cum[burst] - offsets[burst], sizes)
    ts_raw = t0 + starts + within
    users_raw = np.repeat(r.integers(1, n_users + 1, len(sizes)), sizes)
    order = np.lexsort((np.arange(n_events), ts_raw))
    ts, users = ts_raw[order], users_raw[order]
    etype = r.choice(len(EVENT_TYPES), n_events, p=[.5, .25, .05, .15, .05])
    value = np.round(r.uniform(0, 100, n_events), 2)
    edges = np.linspace(0, n_events, n_files + 1).astype(int)
    for f in range(n_files):
        lo, hi = edges[f], edges[f + 1]
        tab = pa.table({
            "event_id": pa.array(np.arange(lo + 1, hi + 1), pa.int64()),
            "ts": pa.array(ts[lo:hi], pa.timestamp("us")),
            "user_id": pa.array(users[lo:hi], pa.int64()),
            "event_type": [EVENT_TYPES[i] for i in etype[lo:hi]],
            "value": value[lo:hi],
            "props": ["{}"] * (hi - lo)})
        path = f"{src}/part-{f:04d}.parquet"
        write(tab, path)
        # modification times in event-time order, one second apart
        os.utime(path, (1_700_000_000 + f, 1_700_000_000 + f))
    with open(f"{out}/params.json", "w") as fh:
        json.dump({"files": n_files, "max_files_per_trigger": 2,
                   "gap_seconds": 300, "window_seconds": 600,
                   "events": n_events}, fh, sort_keys=True)
