"""Tests of the benchmark's own code: seeded inputs, the percentile rule,
span self times and the output checkers.

    python3 -m unittest discover -s graftbench/tests
"""
import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402
from stats import percentile, reparent_jobs, self_times  # noqa: E402


def tree_hash(d):
    h = hashlib.sha256()
    for root, _, files in sorted(os.walk(d)):
        for f in sorted(files):
            p = os.path.join(root, f)
            h.update(os.path.relpath(p, d).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


SMALL = {
    "analytics": lambda s, o: gen.gen_analytics(s, o, 0.001),
    "cypher-rw": lambda s, o: gen.gen_cypher(s, o, 0.001, 3),
    "curation": lambda s, o: gen.gen_curation(s, o, 300, 200, 4),
    "stream": lambda s, o: gen.gen_stream(s, o, 2000, 50, 4),
}


class Tmp(unittest.TestCase):
    def setUp(self):
        self.dir = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.dir)

    def path(self, *p):
        return os.path.join(self.dir, *p)


class SeededInputs(Tmp):
    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        for name, make in SMALL.items():
            with self.subTest(workload=name):
                make(5, self.path(name, "a"))
                make(5, self.path(name, "b"))
                make(6, self.path(name, "c"))
                a, b, c = (tree_hash(self.path(name, x)) for x in "abc")
                self.assertEqual(a, b)
                self.assertNotEqual(a, c)

    def test_statement_stream_is_seeded_and_mixed(self):
        s1 = gen.gen_cypher(3, self.path("x"), 0.001, 4)
        s2 = gen.gen_cypher(3, self.path("y"), 0.001, 4)
        s3 = gen.gen_cypher(4, self.path("z"), 0.001, 4)
        self.assertEqual(s1, s2)
        self.assertNotEqual([s["cypher"] for s in s1],
                            [s["cypher"] for s in s3])
        self.assertEqual([s["template"] for s in s1],
                         gen.PASS_TEMPLATES * 4)
        reads = sum(t not in gen.WRITE_TEMPLATES for t in gen.PASS_TEMPLATES)
        self.assertEqual(sum(s["kind"] == "read" for s in s1), 4 * reads)
        # about 70% reads, and every SET and DETACH DELETE is read back
        self.assertEqual((reads, len(gen.PASS_TEMPLATES)), (11, 16))
        t = gen.PASS_TEMPLATES
        self.assertEqual(t[t.index("set_prop") + 1], "seg_lookup")
        self.assertEqual(t[t.index("detach_delete") + 1:],
                         ["bnode_lookup_after_delete", "tag_count_after_delete"])
        by_i = {s["i"]: s for s in s1}
        for s in s1:
            if s["template"] == "seg_lookup":
                self.assertEqual(by_i[s["i"] - 1]["template"], "set_prop")
                self.assertIn(f"id(c) = 'c:{s['args']['c']}'",
                              by_i[s["i"] - 1]["cypher"])


class Percentile(unittest.TestCase):
    def test_at_least_ten_samples_beyond(self):
        rng = np.random.default_rng(0)
        for n in range(11, 400):
            xs = list(rng.exponential(size=n))
            v, used = percentile(xs, 90)
            rank = round(used * n / 100)
            self.assertGreaterEqual(n - rank, 10)
            self.assertEqual(v, sorted(xs)[rank - 1])
            self.assertLessEqual(used, 90 + 100 / n)
            if n >= 100:
                self.assertGreaterEqual(used, 90)

    def test_too_few_samples(self):
        self.assertEqual(percentile(list(range(10)), 90), (None, None))

    def test_median_without_tail(self):
        self.assertEqual(percentile([3, 1, 2], 50, min_tail=0)[0], 2)


def span(i, parent, name, start, end, op=1):
    return dict(id=i, parent=parent, op=op, name=name, start=start, end=end)


class SelfTime(unittest.TestCase):
    def test_children_subtracted_once(self):
        spans = [span(1, 0, "op", 0, 100), span(2, 1, "cypher.parse", 0, 10),
                 span(3, 1, "cypher.compile", 10, 40),
                 # overlapping children count once, clipped to the parent
                 span(4, 3, "spark.job", 20, 30), span(5, 3, "spark.job", 25, 50)]
        st = self_times(spans)
        self.assertEqual(st, {1: 60, 2: 10, 3: 10, 4: 10, 5: 25})

    def test_jobs_move_under_innermost_span(self):
        spans = [span(1, 0, "op", 0, 100), span(2, 1, "spark.plan", 10, 20),
                 span(3, 1, "spark.job", 12, 18), span(4, 1, "spark.job", 50, 60),
                 span(5, 0, "spark.job", 12, 18, op=2)]
        spans = reparent_jobs(spans)
        self.assertEqual([s["parent"] for s in spans], [0, 1, 2, 1, 0])
        st = self_times(spans)
        self.assertEqual(st[1] + st[2] + st[3] + st[4], 100)


class CypherChecker(Tmp):
    def test_rejects_a_perturbed_read(self):
        inp, out = self.path("in"), self.path("out")
        gen.gen_cypher(9, inp, 0.001, 3)
        os.makedirs(out)
        # the right answers, from the same replay the checker runs
        rows = {st["i"]: want for st, want in check.replay(inp, 3)}

        def write(rs):
            with open(os.path.join(out, "reads.jsonl"), "w") as f:
                for i, r in rs.items():
                    f.write(json.dumps({"i": i, "rows": r}) + "\n")
        write(rows)
        res, bad = check.check_cypher(inp, out, 3)
        self.assertTrue(res[0][1], res)
        i = next(i for i, r in rows.items() if r)
        rows[i] = [r[:-1] + ["x"] for r in rows[i]]
        write(rows)
        res, bad = check.check_cypher(inp, out, 3)
        self.assertFalse(res[0][1])
        self.assertEqual(bad, 1)


class StreamChecker(Tmp):
    def test_rejects_a_perturbed_session_and_pair(self):
        inp, out = self.path("in"), self.path("out")
        gen.gen_stream(2, inp, 3000, 40, 4)
        with open(os.path.join(inp, "params.json")) as f:
            params = json.load(f)
        con = check.duckdb.connect()
        con.execute(f"CREATE VIEW ev AS SELECT * FROM "
                    f"read_parquet('{inp}/events/*.parquet')")
        gap = params["gap_seconds"]
        sessions = con.execute(f"""
            WITH f AS (SELECT user_id, ts, event_id,
                CASE WHEN lag(ts) OVER w IS NULL OR epoch(ts)::BIGINT -
                  epoch(lag(ts) OVER w)::BIGINT > {gap} THEN 1 ELSE 0 END AS new
                FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            g AS (SELECT *, sum(new) OVER (PARTITION BY user_id ORDER BY ts,
                event_id ROWS UNBOUNDED PRECEDING) AS sid FROM f)
            SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
                count(*) AS n_events FROM g GROUP BY user_id, sid""").arrow()
        w = params["window_seconds"]
        pairs = con.execute(f"""
            SELECT c.event_id AS click_id, v.event_id AS view_id
            FROM ev c LEFT JOIN ev v ON c.user_id = v.user_id
             AND v.event_type = 'view' AND v.ts <= c.ts
             AND v.ts >= c.ts - INTERVAL {w} SECOND
            WHERE c.event_type = 'click'""").arrow()

        def put(name, table):
            os.makedirs(os.path.join(out, name), exist_ok=True)
            pq.write_table(table, os.path.join(out, name, "part.parquet"))
        put("sessions", sessions)
        put("click_view", pairs)
        self.assertTrue(all(ok for _, ok, _ in
                            check.check_stream(inp, out, params)))
        n = sessions.column("n_events").to_pylist()
        put("sessions", sessions.set_column(
            3, "n_events", pa.array([n[0] + 1] + n[1:], pa.int64())))
        v = pairs.column("view_id").to_pylist()
        i = next(k for k, x in enumerate(v) if x is not None)
        put("click_view", pairs.set_column(
            1, "view_id", pa.array(v[:i] + [v[i] + 1] + v[i + 1:],
                                   pa.int64())))
        self.assertEqual([ok for _, ok, _ in
                          check.check_stream(inp, out, params)],
                         [False, False])


class CurationChecker(Tmp):
    def test_rejects_perturbed_results(self):
        inp, out = self.path("in"), self.path("out")
        gen.gen_curation(4, inp, 400, 300, 4)
        with open(os.path.join(inp, "params.json")) as f:
            p = json.load(f)
        docs = pq.read_table(os.path.join(inp, "documents.parquet")).to_pydict()
        text = dict(zip(docs["doc_id"], docs["text"]))
        q = {"doc_id": [], "n_chars": [], "n_tokens": [],
             "mean_word_len": [], "lang": []}
        for d, t in text.items():
            n_tok = len(t.split())
            if n_tok >= 65:
                letters = len("".join(t.split()))
                for k, v in zip(q, (d, len(t), n_tok,
                                    int(letters * 100 / n_tok) / 100,
                                    check.language(t))):
                    q[k].append(v)
        canon = {}
        for d in q["doc_id"]:
            canon.setdefault(check.normalize(text[d]), d)
        exact = {d: canon[check.normalize(text[d])] for d in q["doc_id"]}
        kept = [d for d in q["doc_id"] if exact[d] == d]
        sh = {d: check.shingles(text[d], 3) for d in kept}
        cands = [(a, b) for a in kept for b in kept if a < b and
                 len(sh[a] & sh[b]) > 0.5 * len(sh[a])]
        ver = [(a, b, check.jaccard4(sh[a], sh[b])) for a, b in cands
               if check.jaccard4(sh[a], sh[b]) >= 0.8]
        parent = {d: d for d in kept}

        def find(x):
            while parent[x] != x:
                x = parent[x]
            return x
        for a, b, _ in ver:
            ra, rb = find(a), find(b)
            parent[max(ra, rb)] = min(ra, rb)
        groups = {}
        for d in kept:
            groups.setdefault(find(d), []).append(d)
        kb = {"doc_id": [], "cluster_id": [], "quality": [], "keep": []}
        for ms in groups.values():
            best = min(ms, key=lambda d: (-len(text[d]), d))
            for d in ms:
                for k, v in zip(kb, (d, min(ms), len(text[d]),
                                     int(d == best))):
                    kb[k].append(v)
        emb = pq.read_table(os.path.join(inp, "embeddings.parquet")).to_pydict()
        ids = np.array(emb["vec_id"])
        v = np.array(emb["embedding"], dtype=np.float64)
        unit = v / np.linalg.norm(v, axis=1, keepdims=True)
        top = {"query_id": [], "neighbor_id": [], "score": [], "rank": []}
        for qid in p["queries"]:
            s = unit @ unit[ids == qid][0]
            s[ids == qid] = -np.inf
            for r, j in enumerate(np.lexsort((ids, -np.round(s, 6)))[:p["k"]]):
                for k, x in zip(top, (qid, int(ids[j]), round(float(s[j]), 6),
                                      r + 1)):
                    top[k].append(x)

        def put(name, cols):
            os.makedirs(os.path.join(out, name), exist_ok=True)
            pq.write_table(pa.table(cols), os.path.join(out, name, "p.parquet"))
        put("quality", q)
        put("exact", {"doc_id": list(exact), "canonical_id": list(exact.values())})
        put("candidates", {"id1": [a for a, _ in cands],
                           "id2": [b for _, b in cands]})
        put("verified", {"id1": [a for a, _, _ in ver],
                         "id2": [b for _, b, _ in ver],
                         "jaccard": [j for _, _, j in ver]})
        put("keep_best", kb)
        put("cosine_topk", top)
        put("ivf_topk", top)
        res, extra = check.check_curation(inp, out, p)
        self.assertTrue(all(ok for _, ok, _ in res), res)
        self.assertEqual(extra["functions.ann_recall"], 1.0)
        first = {k: v[:1] for k, v in top.items()}
        dup = {k: v[:1] + v[:1] + v[2:] for k, v in top.items()}
        dup["rank"] = top["rank"]
        perturbed = [
            ("curation_quality", "quality", {**q, "lang": ["xx"] +
                                             q["lang"][1:]}),
            ("curation_keep_best", "keep_best", {
                **kb, "keep": [1 - kb["keep"][0]] + kb["keep"][1:]}),
            ("curation_cosine_topk", "cosine_topk", {
                **top, "score": [top["score"][0] + 0.01] + top["score"][1:]}),
            # the rank-1 neighbour again at rank 2, with its true score
            ("curation_cosine_topk", "cosine_topk", dup),
            ("curation_ivf_scores", "ivf_topk", dup),
            ("curation_ivf_scores", "ivf_topk",
             {k: v[:0] for k, v in top.items()}),
            ("curation_ivf_scores", "ivf_topk", first),
        ]
        for i, (name, table, cols) in enumerate(perturbed):
            with self.subTest(check=name, case=i):
                put(table, cols)
                res, _ = check.check_curation(inp, out, p)
                self.assertFalse(dict((n, ok) for n, ok, _ in res)[name])
                put("quality", q)
                put("keep_best", kb)
                put("cosine_topk", top)
                put("ivf_topk", top)


class ScalaCheckers(unittest.TestCase):
    def test_each_graph_checker_rejects_a_perturbed_result(self):
        cp = build.build()
        r = subprocess.run(["java", "-Xmx512m", "-cp", cp,
                            "graftbench.SelfTest"], capture_output=True,
                           text=True)
        self.assertEqual(r.returncode, 0, r.stdout + r.stderr)
        self.assertEqual(r.stdout.count("ok "), 11, r.stdout)


if __name__ == "__main__":
    unittest.main()
