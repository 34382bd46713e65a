"""`search`: a closed loop of TQL search requests from one client.

Requests are ANN top-k by cosine, L2 and dot product (query vectors are
corpus rows plus seeded noise), ANN top-k behind a WHERE pre-filter,
BM25 top-k over seeded term sets, and plain TQL filter / aggregate. A
seeded share of requests repeats an earlier request verbatim. The ANN
and BM25 indexes are registered in the engine's catalogs during set-up.
"""
import sys

import numpy as np
import pyarrow.parquet as pq

import checks
import gen

SF = 0.1
# The request mix is an assumption, not taken from a measured workload:
# neither the reference nor this repository holds a query log, so every
# request class the workload covers gets an equal share. A deck holds one
# slot of each class, dealt in a seeded order, and a round is ROUND_DECKS
# decks; the timed loop runs whole rounds, so runs of different seeds do
# the same mix of work. Within a round the ANN slots take cosine, L2 and
# dot once each, and the TQL slots take filter and aggregate as evenly as
# they can, in seeded orders.
DECK = ["ann", "ann_filtered", "bm25", "tql"]
# One request of every round (1 in 12) repeats an earlier request of its
# class verbatim: the smallest share that puts a repeat in every round.
ROUND_DECKS = 3
ANN_KINDS = {"ann_cos", "ann_l2", "ann_dot", "ann_filtered"}
VARIANTS = {"ann": ["ann_cos", "ann_l2", "ann_dot"], "tql": ["tql_filter", "tql_agg"]}
# recall@10 floors under the engine's own figures when this benchmark
# was first measured (run means 0.68-0.88, median 0.8; single answers
# 0.3-1.0; see RESULTS.md). An ANN answer that holds none of the
# exact top 10 fails, and every ANN answer of a run whose mean recall is
# under RUN_RECALL_FLOOR fails, so a change cannot buy latency with recall.
REQUEST_RECALL_FLOOR = 0.1
RUN_RECALL_FLOOR = 0.5


def vec_literal(v):
    return "ARRAY[" + ", ".join(repr(float(x)) for x in v) + "]"


class Search:
    name = "search"
    families = False
    round_ops = ROUND_DECKS * len(DECK)

    def __init__(self, ctx):
        self.ctx = ctx
        self.data = ctx.corpus(SF)
        self.emb = np.stack(pq.read_table(f"{self.data}/embeddings.parquet")
                            .column("embedding").to_numpy(zero_copy_only=False)).astype(np.float32)
        self.labels = pq.read_table(f"{self.data}/embeddings.parquet").column("label").to_numpy()
        self.requests = self.make_requests(np.random.default_rng(ctx.seed + 1), 40)
        rng = np.random.default_rng(ctx.seed + 2)
        self.warmup_requests = [self.fresh(k, rng) for k in DECK]

    # ---------------------------------------------------------- inputs
    def make_requests(self, rng, rounds):
        """`rounds` rounds of requests; in the last deck of every round
        one slot, at a seeded position, repeats an earlier request of its
        class verbatim."""
        out, by_kind = [], {}
        for _ in range(rounds):
            repeat_at = int(rng.integers(0, len(DECK)))
            variants = {k: list(rng.permutation(v * -(-ROUND_DECKS // len(v))))
                        for k, v in VARIANTS.items()}
            for d in range(ROUND_DECKS):
                for pos, k in enumerate(rng.permutation(DECK)):
                    if d == ROUND_DECKS - 1 and pos == repeat_at:
                        req = by_kind[k][int(rng.integers(0, len(by_kind[k])))]
                    else:
                        req = self.make_request(str(variants[k][d]) if k in variants else k, rng)
                        by_kind.setdefault(k, []).append(req)
                    out.append(req)
        return out

    def fresh(self, k, rng):
        v = VARIANTS.get(k, [k])
        return self.make_request(str(v[int(rng.integers(0, len(v)))]), rng)

    def make_request(self, k, rng):
        if k in ANN_KINDS:
            base = self.emb[int(rng.integers(0, len(self.emb)))]
            q = (base + rng.normal(0, 0.05, base.shape)).astype(np.float32)
            lit = vec_literal(q)
            if k == "ann_cos":
                tql = (f"SELECT vec_id, ROUND(COSINE_SIMILARITY(embedding, {lit}), 6) AS score "
                       "FROM embeddings ORDER BY score DESC, vec_id LIMIT 10")
                return (k, tql, {"q": q, "metric": "cos", "label": None})
            if k == "ann_l2":
                tql = (f"SELECT vec_id, ROUND(L2_NORM(embedding - {lit}), 6) AS dist "
                       "FROM embeddings ORDER BY dist ASC, vec_id LIMIT 10")
                return (k, tql, {"q": q, "metric": "l2", "label": None})
            if k == "ann_dot":
                tql = (f"SELECT vec_id, ROUND(DOT(embedding, {lit}), 6) AS ip "
                       "FROM embeddings ORDER BY ip DESC, vec_id LIMIT 10")
                return (k, tql, {"q": q, "metric": "dot", "label": None})
            label = int(rng.integers(0, 10))
            tql = (f"SELECT vec_id, ROUND(COSINE_SIMILARITY(embedding, {lit}), 6) AS score "
                   f"FROM embeddings WHERE label == {label} ORDER BY score DESC, vec_id LIMIT 10")
            return (k, tql, {"q": q, "metric": "cos", "label": label})
        if k == "bm25":
            terms = list(rng.choice(gen.VOCAB, int(rng.integers(1, 4)), replace=False))
            tql = (f"SELECT doc_id, ROUND(BM25_SIMILARITY(text, '{' '.join(terms)}'), 6) AS bm25 "
                   "FROM documents ORDER BY bm25 DESC, doc_id LIMIT 10")
            return (k, tql, {"terms": terms})
        if k == "tql_filter":
            qty = int(rng.integers(30, 49))
            lo = round(float(rng.integers(0, 6)) / 100, 2)
            hi = round(lo + 0.03, 2)
            where = f"l_quantity > {qty} AND l_discount BETWEEN {lo} AND {hi}"
            tql = ("SELECT l_orderkey, l_linenumber, ROUND(l_quantity * l_extendedprice, 2) AS gross "
                   f"FROM lineitem WHERE {where} ORDER BY gross DESC, l_orderkey, l_linenumber LIMIT 25")
            sql = ("SELECT l_orderkey, l_linenumber, round(l_quantity * l_extendedprice, 2) AS gross "
                   f"FROM lineitem WHERE {where} ORDER BY gross DESC, l_orderkey, l_linenumber LIMIT 25")
            return (k, tql, {"sql": sql})
        n = int(rng.integers(100, 500))
        lang = str(rng.choice(gen.LANGS))
        tql = ("SELECT source, lang, ROUND(SUM(n_chars), 1) AS total_chars, "
               "ROUND(AVG(n_chars), 4) AS avg_chars FROM documents "
               f"WHERE n_chars > {n} AND lang != '{lang}' GROUP BY source, lang ORDER BY source, lang")
        sql = ("SELECT source, lang, round(sum(n_chars) * 1.0, 1) AS total_chars, "
               "round(avg(n_chars), 4) AS avg_chars FROM documents "
               f"WHERE n_chars > {n} AND lang != '{lang}' GROUP BY source, lang ORDER BY source, lang")
        return ("tql_agg", tql, {"sql": sql})

    # ---------------------------------------------------------- set-up
    def setup(self, rep):
        """Build the ANN and BM25 artifacts into a fresh private cache and
        register them with the dialect's routing catalogs."""
        ctx, J = self.ctx, self.ctx.J
        d = ctx.copy_corpus(self.data, f"search-rep{rep}")
        store = J.jvm.graft.operators.IndexStore
        with ctx.tracer.span("artifact:ann") as s_ann:
            ann = store.ann(J.jss, d, 16)
        with ctx.tracer.span("artifact:bm25") as s_bm:
            bm = store.bm25(J.jss, d)
        cat = J.obj("graft.operators.AnnIndex$Catalog")
        cat.register("embeddings", "embedding", "vec_id", ann, getattr(cat, "register$default$5")())
        J.obj("graft.operators.Bm25$Catalog").register("documents", "text", "doc_id", bm)
        return {"ann": s_ann.ms, "bm25": s_bm.ms}

    # ---------------------------------------------------------- timed loop
    def warmup(self):
        """One untimed deck of requests the timed loop never repeats: a
        serving process answers requests warm, and a cold first request
        of a seeded kind moved the figures between seeds."""
        J = self.ctx.J
        for _, tql, _ in self.warmup_requests:
            self.ctx.tql.query(J.jss, self.data, tql, J.nil).collectAsList()

    def run_op(self, i, tracer):
        J = self.ctx.J
        k, tql, _ = self.requests[i % len(self.requests)]
        with tracer.span("op:" + k, op=f"op{i}") as op:
            with tracer.span("compile"):
                jdf = self.ctx.tql.query(J.jss, self.data, tql, J.nil)
            with tracer.span("action"):
                jrows = jdf.collectAsList()
        with self.ctx.untimed():
            rows = J.rows(jrows)
        return op.ms, rows

    # ---------------------------------------------------------- checks
    def exact(self, spec):
        q = spec["q"].astype(np.float64)
        e = self.emb.astype(np.float64)
        ids = np.arange(len(e)) if spec["label"] is None else np.nonzero(self.labels == spec["label"])[0]
        e = e[ids]
        if spec["metric"] == "cos":
            s = -(e @ q) / (np.linalg.norm(e, axis=1) * np.linalg.norm(q))
        elif spec["metric"] == "dot":
            s = -(e @ q)
        else:
            s = np.linalg.norm(e - q, axis=1)
        # the engine orders by the ROUNDED score, then id
        return ids[np.lexsort((ids, np.round(s, 6)))[:10]]

    def check(self, results):
        """Per-request verdicts plus recall@10 of the ANN requests.

        ANN answers: every returned score must equal the exact score of
        that id, and recall@10 against the exact top 10 (itself checked
        against the engine's linear path on a sample) must clear the
        request and run floors. BM25 and plain TQL answers must equal
        the DuckDB oracle's."""
        ctx, J = self.ctx, self.ctx.J
        con = checks.duck(self.data)
        bad, recalls, seen, linear_done = {}, {}, {}, False
        for i, rows in results.items():
            k, tql, spec = self.requests[i % len(self.requests)]
            if tql in seen:
                ok = seen[tql] == rows
                bad[i] = None if ok else f"{k}: repeated request answered differently"
                continue
            seen[tql] = rows
            if k in ANN_KINDS:
                ids = self.exact(spec)
                got = [r[0] for r in rows]
                recalls[i] = len(set(got) & set(ids.tolist())) / 10.0
                err = self.check_scores(spec, rows)
                if err is None and recalls[i] < REQUEST_RECALL_FLOOR:
                    err = f"{k}: recall@10 {recalls[i]:.1f} under the floor {REQUEST_RECALL_FLOOR}"
                if err is None and not linear_done:
                    lin = ctx.tql.queryWithOptions(J.jss, self.data, tql,
                                                   J.obj("graft.dialect.Tql$Options").linearOnly(),
                                                   J.nil).get().collectAsList()
                    lin_ids = [r[0] for r in J.rows(lin)]
                    linear_done = True
                    if lin_ids != ids.tolist():
                        err = f"{k}: linear path {lin_ids} != exact {ids.tolist()}"
                bad[i] = err
            elif k == "bm25":
                sql = J.jvm.graft.operators.Bm25.oracleSql(J.seq(spec["terms"]), 6, 10)
                bad[i] = checks.compare(rows, con.sql(sql).fetchall(), k)
            else:
                bad[i] = checks.compare(rows, con.sql(spec["sql"]).fetchall(), k)
        recall = sum(recalls.values()) / len(recalls) if recalls else 0.0
        print(f"[perfbench] recall@10 per ANN request: "
              f"{' '.join(f'{r:.1f}' for r in recalls.values())}; mean {recall:.3f}",
              file=sys.stderr)
        if recall < RUN_RECALL_FLOOR:
            for i in recalls:
                bad[i] = bad[i] or f"run recall@10 {recall:.3f} under the floor {RUN_RECALL_FLOOR}"
        return bad, {"search.recall_at_10": recall}

    def check_scores(self, spec, rows):
        if len(rows) != 10:
            return f"{len(rows)} rows"
        e = self.emb.astype(np.float64)
        q = spec["q"].astype(np.float64)
        for vid, score in rows:
            v = e[vid]
            if spec["label"] is not None and self.labels[vid] != spec["label"]:
                return f"id {vid} violates the WHERE filter"
            if spec["metric"] == "cos":
                want = v @ q / (np.linalg.norm(v) * np.linalg.norm(q))
            elif spec["metric"] == "dot":
                want = v @ q
            else:
                want = np.linalg.norm(v - q)
            if abs(round(float(want), 6) - score) > 2e-6:
                return f"id {vid} score {score} != exact {want:.6f}"
        return None
