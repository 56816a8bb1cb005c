"""Output checks that do not go through graft: DuckDB over the same
parquet for the Cypher reads and the stream, the planted truth plus
brute-force Jaccard and cosine for curation. Each check returns a list
of (name, ok, detail); a failed check counts as a wrong result."""
import json
import math
import os
import re

import duckdb
import numpy as np
import pyarrow.parquet as pq

from gen import PROFILES, READ_SHAPE


def _con(inp):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem"):
        p = os.path.join(inp, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


# ----------------------------------------------------------- cypher-rw

def _canon(rows):
    return [[None if v is None else str(v) for v in r] for r in rows]


def _shortest(con, a, b, depth):
    """Hop length of the shortest undirected path a..b, or None."""
    seen, frontier = {a}, [a]
    for d in range(1, depth + 1):
        if not frontier:
            return None
        con.execute("CREATE OR REPLACE TEMP TABLE f AS "
                    "SELECT unnest(?::VARCHAR[]) AS id", [frontier])
        nxt = {r[0] for r in con.execute(
            "SELECT DISTINCT e.dst FROM ue e JOIN f ON e.src = f.id")
            .fetchall()} - seen
        if b in nxt:
            return d
        seen |= nxt
        frontier = sorted(nxt)
    return None


def expected_read(con, st):
    a, t = st["args"], READ_SHAPE.get(st["template"], st["template"])
    seg = ("coalesce((SELECT s.seg FROM seg s WHERE s.id = "
           "'c:' || c_custkey), c_mktsegment)")
    if t == "id_lookup":
        q = (f"SELECT 'c:' || c_custkey, c_name, {seg} FROM customer "
             f"WHERE c_custkey = {a['c']}")
    elif t == "filter_order_limit":
        q = (f"SELECT c_name FROM customer WHERE {seg} = '{a['seg']}' AND "
             f"c_name > 'Customer#{a['lo']:09d}' ORDER BY c_name LIMIT 10")
    elif t == "one_hop":
        q = (f"SELECT 'o:' || o_orderkey AS k, o_orderstatus FROM orders "
             f"WHERE o_custkey = {a['c']} ORDER BY k")
    elif t == "two_hop_distinct":
        q = (f"SELECT DISTINCT 'p:' || l_partkey AS k FROM orders JOIN "
             f"lineitem ON l_orderkey = o_orderkey WHERE o_custkey = {a['c']} "
             "ORDER BY k")
    elif t == "optional_agg":
        q = (f"SELECT n_name, (SELECT count(*) FROM customer WHERE "
             f"c_nationkey = {a['nk']} AND {seg} = '{a['seg']}') FROM nation "
             f"WHERE n_nationkey = {a['nk']}")
    elif t == "shortest_path":
        d = _shortest(con, f"c:{a['a']}", f"c:{a['b']}", 4)
        return [] if d is None else [[str(d)]]
    elif t == "tag_count":
        q = (f"SELECT 'c:{a['c']}', count(*) FROM tagged "
             f"WHERE cid = 'c:{a['c']}'")
    elif t == "bnode_lookup":
        q = f"SELECT bk, w FROM bnode WHERE bk = '{a['bk']}'"
    else:
        raise ValueError(t)
    return _canon(con.execute(q).fetchall())


def cypher_db(inp):
    """DuckDB over the base tables, plus empty tables for the
    generator's record of its own writes."""
    con = _con(inp)
    con.execute("CREATE TABLE bnode (bk VARCHAR, w VARCHAR)")
    con.execute("CREATE TABLE tagged (cid VARCHAR, bk VARCHAR)")
    con.execute("CREATE TABLE seg (id VARCHAR, seg VARCHAR)")
    # the undirected graph shortestPath walks: TpchGraph's edges plus the
    # TAGGED edges the stream creates (bnode ids are 'bn:<bk>' here)
    con.execute("""CREATE VIEW de AS
        SELECT 'c:' || c_custkey AS src, 'n:' || c_nationkey AS dst FROM customer
        UNION ALL SELECT 's:' || s_suppkey, 'n:' || s_nationkey FROM supplier
        UNION ALL SELECT 'n:' || n_nationkey, 'r:' || n_regionkey FROM nation
        UNION ALL SELECT 'c:' || o_custkey, 'o:' || o_orderkey FROM orders
        UNION ALL SELECT 'o:' || l_orderkey, 'p:' || l_partkey FROM lineitem
        UNION ALL SELECT cid, 'bn:' || bk FROM tagged""")
    con.execute("CREATE VIEW ue AS SELECT src, dst FROM de "
                "UNION ALL SELECT dst, src FROM de")
    return con


def replay(inp, passes):
    """Replay the statements of passes 1..`passes` in DuckDB, each pass
    from the base tables, applying each write's recorded SQL. Yields
    every read with its expected rows."""
    con = cypher_db(inp)
    with open(os.path.join(inp, "statements.jsonl")) as f:
        stmts = [json.loads(line) for line in f]
    current = None
    for st in stmts:
        if st["pass"] > passes:
            break
        if st["pass"] != current:
            current = st["pass"]
            for t in ("bnode", "tagged", "seg"):
                con.execute(f"DELETE FROM {t}")
        if st["kind"] == "write":
            for q in st["sql"]:
                con.execute(q)
        else:
            yield st, expected_read(con, st)


def check_cypher(inp, out, passes):
    """Compare every read the run returned with its replayed answer."""
    got = {}
    path = os.path.join(out, "reads.jsonl")
    if os.path.exists(path):
        with open(path) as f:
            for line in f:
                r = json.loads(line)
                got[r["i"]] = r["rows"]
    bad, n_reads = [], 0
    for st, want in replay(inp, passes):
        n_reads += 1
        if st["i"] in got and _canon(got[st["i"]]) != want:
            bad.append((st["i"], st["template"], want[:3], got[st["i"]][:3]))
    return [("cypher_reads", not bad,
             f"{len(bad)} of {n_reads} reads differ" +
             (f"; first: {bad[0]}" if bad else ""))], len(bad)


# -------------------------------------------------------------- stream

def _table(out, name):
    p = os.path.join(out, name)
    return pq.read_table(p).to_pylist() if os.path.exists(p) else None


def check_stream(inp, out, params):
    con = duckdb.connect()
    src = os.path.join(inp, "events")
    files = sorted(os.listdir(src))
    f = params["max_files_per_trigger"]
    # the watermark every data batch had seen by the last batch: the
    # newest event of the files before the last trigger's files
    last_batch_start = ((len(files) - 1) // f) * f
    wm = con.execute(
        "SELECT epoch_us(max(ts)) FROM read_parquet(?)",
        [[os.path.join(src, x) for x in files[:last_batch_start]]]
    ).fetchone()[0]
    con.execute(f"CREATE VIEW ev AS SELECT * FROM read_parquet('{src}/*.parquet')")
    gap = params["gap_seconds"]
    sessions = con.execute(f"""
        WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM ev),
        f AS (SELECT *, CASE WHEN lag(us) OVER w IS NULL OR
                  us // 1000000 - lag(us) OVER w // 1000000 > {gap}
                  THEN 1 ELSE 0 END AS new
              FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        g AS (SELECT *, sum(new) OVER (PARTITION BY user_id ORDER BY us,
                  event_id ROWS UNBOUNDED PRECEDING) AS sid FROM f),
        s AS (SELECT user_id, sid, min(us) AS s_us, max(us) AS e_us,
                  count(*) AS n FROM g GROUP BY 1, 2)
        SELECT user_id, s_us, e_us, n,
          sid = max(sid) OVER (PARTITION BY user_id) AS last FROM s""").fetchall()
    want_all = {(u, s, e, n) for u, s, e, n, _ in sessions}
    # closed by a later event, or timed out below the watermark
    must = {(u, s, e, n) for u, s, e, n, last in sessions
            if not last or (e // 1000 + gap * 1000 + 1) * 1000 + 1_000_000 < wm}
    res = []
    got = _table(out, "sessions")
    if got is None:
        res.append(("stream_sessions", False, "no output"))
    else:
        def us(t):
            return int(t.timestamp() * 1_000_000) if hasattr(t, "timestamp") \
                else int(t)
        g = [(r["user_id"], us(r["session_start"]), us(r["session_end"]),
              r["n_events"]) for r in got]
        gs = set(g)
        wrong = gs - want_all
        missing = must - gs
        res.append(("stream_sessions",
                    not wrong and not missing and len(gs) == len(g),
                    f"{len(g)} emitted, {len(wrong)} wrong, "
                    f"{len(missing)} missing, {len(g) - len(gs)} duplicated"))
    w = params["window_seconds"]
    pairs = {tuple(r) for r in con.execute(f"""
        SELECT c.event_id, v.event_id FROM ev c JOIN ev v
          ON c.user_id = v.user_id AND c.event_type = 'click'
         AND v.event_type = 'view' AND v.ts <= c.ts
         AND v.ts >= c.ts - INTERVAL {w} SECOND""").fetchall()}
    clicks = dict(con.execute("SELECT event_id, epoch_us(ts) FROM ev "
                              "WHERE event_type = 'click'").fetchall())
    matched = {c for c, _ in pairs}
    got = _table(out, "click_view")
    if got is None:
        res.append(("stream_click_view", False, "no output"))
    else:
        inner = [(r["click_id"], r["view_id"]) for r in got
                 if r["view_id"] is not None]
        outer = [r["click_id"] for r in got if r["view_id"] is None]
        bad_outer = [c for c in outer if c in matched or c not in clicks]
        # an unmatched click is evicted once the watermark (1 h delay)
        # passes it; require those well below the last batch's watermark
        must_outer = {c for c, t in clicks.items() if c not in matched
                      and t + (3600 + w + 60) * 1_000_000 < wm}
        ok = (set(inner) == pairs and len(inner) == len(pairs) and
              not bad_outer and len(set(outer)) == len(outer) and
              must_outer <= set(outer))
        res.append(("stream_click_view", ok,
                    f"{len(inner)} pairs (want {len(pairs)}), {len(outer)} "
                    f"unmatched, {len(bad_outer)} wrong, "
                    f"{len(must_outer - set(outer))} missing"))
    return res


# ------------------------------------------------------------ curation

def normalize(t):
    return re.sub(r"[ \t\n\x0b\f\r]+", " ", t).strip(" ").lower()


def shingles(t, n):
    w = normalize(t).split(" ")
    if len(w) < n:
        return {" ".join(w)}
    return {" ".join(w[i:i + n]) for i in range(len(w) - n + 1)}


def jaccard4(a, b):
    inter = len(a & b)
    return math.floor(inter / (len(a) + len(b) - inter) * 10000) / 10000


def language(t):
    padded = " " + normalize(t) + " "
    best, score = None, -1
    for lang, words in PROFILES:
        s = sum(padded.count(f" {w} ") for w in words)
        if s > score:
            best, score = lang, s
    return best


def check_curation(inp, out, params):
    res = []
    docs = pq.read_table(os.path.join(inp, "documents.parquet")).to_pydict()
    text = dict(zip(docs["doc_id"], docs["text"]))
    q = _table(out, "quality")
    if q is None:
        return [("curation", False, "no quality output")], {}
    want_q = {}
    for d, t in text.items():
        n_tok = len(t.strip(" ").split())
        if n_tok >= 65:
            letters = len(re.sub(r"\s+", "", t.strip(" ")))
            want_q[d] = (len(t), n_tok,
                         math.floor(letters * 100.0 / n_tok) / 100,
                         language(t))
    got_q = {r["doc_id"]: (r["n_chars"], r["n_tokens"], r["mean_word_len"],
                           r["lang"]) for r in q}
    res.append(("curation_quality", got_q == want_q,
                f"{len(got_q)} kept (want {len(want_q)}), "
                f"{sum(1 for d in want_q if got_q.get(d) != want_q[d])} differ"))
    canon = {}
    for d in sorted(want_q):
        canon.setdefault(normalize(text[d]), d)
    want_ex = {d: canon[normalize(text[d])] for d in want_q}
    got_ex = {r["doc_id"]: r["canonical_id"] for r in _table(out, "exact") or []}
    res.append(("curation_exact", got_ex == want_ex,
                f"{sum(1 for d in want_ex if got_ex.get(d) != want_ex[d])} "
                "canonical ids differ"))
    kept = sorted(d for d in want_ex if want_ex[d] == d)
    n = params["shingle_n"]
    sh = {d: shingles(text[d], n) for d in kept}
    cands = {(r["id1"], r["id2"]) for r in _table(out, "candidates") or []}
    ver = {(r["id1"], r["id2"]): r["jaccard"]
           for r in _table(out, "verified") or []}
    want_ver = {}
    for a, b in cands:
        j = jaccard4(sh[a], sh[b])
        if j >= params["jaccard"]:
            want_ver[(a, b)] = j
    ok_ver = (set(ver) == set(want_ver) and all(
        abs(ver[p] - want_ver[p]) < 1e-9 for p in want_ver))
    res.append(("curation_jaccard", ok_ver,
                f"{len(ver)} verified of {len(cands)} candidates "
                f"(want {len(want_ver)})"))
    # planted near-duplicate pairs the LSH should surface
    truth = np.load(os.path.join(inp, "truth.npz"))
    kept_set = set(kept)
    planted = [(min(d, o), max(d, o)) for d, o in
               zip(range(1, len(truth["kind"]) + 1), truth["origin"])
               if truth["kind"][d - 1] == 2 and d in kept_set
               and int(o) in kept_set]
    planted = [p for p in planted if jaccard4(sh[p[0]], sh[p[1]]) >=
               params["jaccard"]]
    recall = (sum(1 for p in planted if p in ver) / len(planted)
              if planted else 1.0)
    res.append(("curation_planted_recall", recall >= 0.95,
                f"{recall:.4f} of {len(planted)} planted pairs found"))
    # clusters: components of the verified pairs, keep the longest text
    parent = {d: d for d in kept}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in ver:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    members = {}
    for d in kept:
        members.setdefault(find(d), []).append(d)
    want_kb = {}
    for root, ms in members.items():
        best = min(ms, key=lambda d: (-len(text[d]), d))
        for d in ms:
            want_kb[d] = (min(ms), int(d == best))
    got_kb = {r["doc_id"]: (r["cluster_id"], r["keep"])
              for r in _table(out, "keep_best") or []}
    res.append(("curation_keep_best", got_kb == want_kb,
                f"{sum(1 for d in want_kb if got_kb.get(d) != want_kb[d])} "
                f"of {len(want_kb)} rows differ"))
    # brute-force cosine
    emb = pq.read_table(os.path.join(inp, "embeddings.parquet")).to_pydict()
    ids = np.array(emb["vec_id"])
    v = np.array(emb["embedding"], dtype=np.float32).astype(np.float64)
    unit = v / np.linalg.norm(v, axis=1, keepdims=True)
    k = params["k"]
    pos = {int(i): j for j, i in enumerate(ids)}
    exact_sets, ok_cos, ok_ivf, recall_sum = {}, True, True, 0.0
    topk = {}
    for r in _table(out, "cosine_topk") or []:
        topk.setdefault(r["query_id"], []).append(r)
    ivf = {}
    for r in _table(out, "ivf_topk") or []:
        ivf.setdefault(r["query_id"], []).append(r)
    def well_formed(qid, rows):
        """Ranks 1..n over distinct known neighbours other than the
        query, with exact scores that never increase with rank."""
        nbrs = [r["neighbor_id"] for r in rows]
        return ([r["rank"] for r in rows] == list(range(1, len(rows) + 1))
                and len(set(nbrs)) == len(nbrs) and
                all(x in pos and x != qid for x in nbrs) and
                all(abs(r["score"] - sims[pos[r["neighbor_id"]]]) < 2e-6
                    for r in rows) and
                all(a["score"] >= b["score"] for a, b in zip(rows, rows[1:])))
    for qid in params["queries"]:
        sims = unit @ unit[pos[qid]]
        sims[pos[qid]] = -np.inf
        order = np.lexsort((ids, -np.round(sims, 6)))[:k]
        kth = sims[order[-1]]
        # k well-formed rows, each at least as close as the exact k-th:
        # the exact top-k up to ties at the k-th score
        rows = sorted(topk.get(qid, []), key=lambda r: r["rank"])
        ok_cos &= (len(rows) == k and well_formed(qid, rows) and
                   all(sims[pos[r["neighbor_id"]]] >= kth - 2e-6
                       for r in rows))
        exact_sets[qid] = {int(ids[j]) for j in order}
        # IVF may miss true neighbours (its recall is a metric), but the
        # probed lists hold far more than k vectors, so it returns k
        irows = sorted(ivf.get(qid, []), key=lambda r: r["rank"])
        ok_ivf &= len(irows) == k and well_formed(qid, irows)
        recall_sum += len({r["neighbor_id"] for r in irows} &
                          exact_sets[qid]) / k
    res.append(("curation_cosine_topk", ok_cos, f"{len(topk)} queries"))
    res.append(("curation_ivf_scores", ok_ivf, f"{len(ivf)} queries"))
    extra = {"functions.lsh_candidates": len(cands),
             "functions.lsh_verified": len(ver),
             "functions.lsh_precision": len(ver) / len(cands) if cands else 0,
             "functions.ann_recall": recall_sum / len(params["queries"])}
    return res, extra
