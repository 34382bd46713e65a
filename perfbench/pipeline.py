"""`pipeline`: back-to-back multi-job batch operations.

Each batch runs one operation of every family, in a fixed order.
Registered queries are built through `graft.SparkEntry.queries` (the
construct span) and collected (the action span); their results are
checked against the DuckDB oracle SQL from `SparkEntry.oracleSql`. The
`versioned_write` family appends to a versioned root with owned indexes
(see writes.py).

The seed draws the corpus and the written batches, not the members or
their order: members drawn per seed differed by up to 1.5x in cost, and
the first operation of a cold batch pays most of the JIT warm-up, so
both draws moved the batch's figures between seeds by more than the
bounds allow.
"""
import os

import checks
import writes

SF = 0.01
FAMILIES = {
    "graph": "q_graph_pagerank",
    "dedup": "q_dedup_simhash",
    "robust_stats": "q_robust_mad",
    "tpch": "q9_product_profit",
    "versioned_write": "append",
}


class Pipeline:
    name = "pipeline"
    families = True

    def __init__(self, ctx):
        self.ctx = ctx
        self.data = ctx.corpus(SF)
        self.batch = list(FAMILIES.items())
        self.builders = ctx.J.jvm.graft.SparkEntry.queries()
        self.table = writes.VersionedTable(ctx, self.data, ctx.seed + 3)
        self.round_ops = len(self.batch)  # the timed loop runs whole batches

    def setup(self, rep):
        ctx, J = self.ctx, self.ctx.J
        d = ctx.copy_corpus(self.data, f"pipeline-rep{rep}")
        with ctx.tracer.span("artifact:purchase_graph") as s_g:
            J.jvm.graft.operators.IndexStore.purchaseGraph(J.jss, d)
        if rep == self.ctx.setup_reps - 1:
            self.data = d
        return {"purchase_graph": s_g.ms, **self.table.setup(rep)}

    def family(self, i):
        return self.batch[i % len(self.batch)][0]

    def run_op(self, i, tracer):
        J = self.ctx.J
        fam, q = self.batch[i % len(self.batch)]
        if fam == "versioned_write":
            return self.table.run_op(i, tracer)
        with tracer.span("op:" + q, op=f"op{i}") as op:
            with tracer.span("construct"):
                jdf = self.builders.apply(q).apply(J.jss, self.data)
            with tracer.span("action"):
                jrows = jdf.collectAsList()
        return op.ms, (q, jrows, jdf.schema())

    def check(self, results):
        """Write each distinct answer as parquet through Spark and compare
        it with the oracle SQL in DuckDB, as the repository's gate does."""
        ctx, J = self.ctx, self.ctx.J
        oracle = J.jvm.graft.SparkEntry.oracleSql()
        store = J.jvm.graft.operators.IndexStore
        con = checks.duck(self.data)
        bad, verdict = {}, {}
        for i, res in results.items():
            if not isinstance(res, tuple):  # a versioned write: verified when it ran
                bad[i] = res
                continue
            q, jrows, schema = res
            if q not in verdict:
                out = os.path.join(ctx.run_dir, "answers", q)
                J.jss.createDataFrame(jrows, schema).coalesce(1).write().parquet(out)
                got = con.sql(f"SELECT * FROM read_parquet('{out}/*.parquet')")
                gcols = [c.lower() for c in got.columns]
                want = con.sql(store.resolveArtifactTokens(oracle.apply(q), self.data))
                wcols = [c.lower() for c in want.columns]
                if sorted(gcols) != sorted(wcols):
                    verdict[q] = f"{q}: columns {gcols} vs oracle {wcols}"
                else:
                    g = [tuple(r[gcols.index(c)] for c in sorted(gcols)) for r in got.fetchall()]
                    w = [tuple(r[wcols.index(c)] for c in sorted(wcols)) for r in want.fetchall()]
                    verdict[q] = checks.compare(g, w, q)
            bad[i] = verdict[q]
        final, extra = self.table.finish()
        if final:
            bad[max(results)] = final
        return bad, extra
