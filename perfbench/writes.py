"""Versioned writes with owned-index maintenance: the `versioned_write`
family of the `pipeline` workload.

Set-up creates a versioned root (`Snapshots.create`) from rows derived
from the corpus' documents and embeddings and builds its clustered ANN
and BM25 indexes (`Snapshots.createIndex`). One operation appends a
seeded batch, which the owned indexes absorb, and then reads the root
through TQL (`FROM "<root>"`, an ANN or BM25 top-k) in the same timed
operation. Every batch carries new ids, perturbed vectors and a marker
token of its own, so the read can show it saw the commit. After the
timed loop, outside it, an insert-only `mergeInto` whose source repeats
live ids and an `optimize` run once each, and the root's final id set is
checked against the batches.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen

BASE_ROWS = 1000
BATCH_ROWS = 400
FIRST_NEW_ID = 1_000_000


def dir_bytes(path):
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


class VersionedTable:
    def __init__(self, ctx, data, seed):
        self.ctx = ctx
        docs = pq.read_table(f"{data}/documents.parquet")
        self.text = docs.column("text").to_pylist()
        self.lang = docs.column("lang").to_pylist()
        self.emb = np.stack(pq.read_table(f"{data}/embeddings.parquet")
                            .column("embedding").to_numpy(zero_copy_only=False)).astype(np.float32)
        self.rng = np.random.default_rng(seed)
        self.inputs = os.path.join(ctx.run_dir, "write-input")
        os.makedirs(self.inputs, exist_ok=True)
        self.base_path, _ = self.write_rows("base", np.arange(BASE_ROWS), None)
        self.input_bytes = os.path.getsize(self.base_path)
        self.live = set(range(BASE_ROWS))
        self.next_id = FIRST_NEW_ID
        self.n_batches = 0
        self.commits = []
        self.S = ctx.J.obj("graft.sources.Snapshots")

    def write_rows(self, name, ids, marker):
        """One input batch as parquet; returns (path, {id: vector})."""
        rng = self.rng
        src = rng.integers(0, len(self.text), len(ids)) if marker else ids % len(self.text)
        vec = self.emb[rng.integers(0, len(self.emb), len(ids)) if marker else ids % len(self.emb)]
        if marker:
            vec = vec + rng.normal(0, 0.05, vec.shape).astype(np.float32)
            vec /= np.linalg.norm(vec, axis=1, keepdims=True)
        path = os.path.join(self.inputs, f"{name}.parquet")
        pq.write_table(pa.table({
            "id": pa.array(ids, pa.int64()),
            "text": [self.text[s] + (f" {marker}" if marker else "") for s in src],
            "lang": [self.lang[s] for s in src],
            "embedding": gen.vector_column(vec)}), path)
        return path, dict(zip(ids.tolist(), vec))

    def read_input(self, path):
        return self.ctx.J.jss.read().parquet(self.ctx.J.seq([path]))

    def none(self):
        return self.ctx.J.obj("scala.None")

    def setup(self, rep):
        ctx, J, S = self.ctx, self.ctx.J, self.S
        root = os.path.join(ctx.run_dir, f"root{rep}")
        with ctx.tracer.span("create"):
            S.create(J.jss, root, self.read_input(self.base_path))
        with ctx.tracer.span("create_index:clustered") as s_c:
            S.createIndex(J.jss, root, "embedding", "clustered", "id", J.nil)
        with ctx.tracer.span("create_index:bm25") as s_b:
            S.createIndex(J.jss, root, "text", "bm25", "id", J.nil)
        self.root = root
        return {"create_index.clustered": s_c.ms, "create_index.bm25": s_b.ms}

    def batch(self, kind):
        """Inputs for one commit: (parquet path, new ids, {id: vector}, marker)."""
        b = self.n_batches
        self.n_batches += 1
        marker = f"mk{self.ctx.seed}x{b}"
        new = np.arange(self.next_id, self.next_id + BATCH_ROWS)
        self.next_id += BATCH_ROWS
        if kind == "merge":
            # half the source rows repeat live ids, which an insert-only merge skips
            old = self.rng.choice(sorted(self.live), BATCH_ROWS // 2, replace=False)
            new = new[:BATCH_ROWS // 2]
            path, vecs = self.write_rows(f"b{b}", np.concatenate([new, old]), marker)
        else:
            path, vecs = self.write_rows(f"b{b}", new, marker)
        self.input_bytes += os.path.getsize(path)
        return path, set(new.tolist()), vecs, marker

    def run_op(self, i, tracer):
        """Append one batch and read it back through TQL. Writing the
        batch file, sizing the root and reading the answer back stay
        outside the loop's timer."""
        ctx, J, S, root = self.ctx, self.ctx.J, self.S, self.root
        with ctx.untimed():
            path, new, vecs, marker = self.batch("append")
            probe = min(new)
            ann = self.rng.random() < 0.5
            if ann:
                lit = ", ".join(repr(float(x)) for x in vecs[probe])
                tql = (f"SELECT id, ROUND(COSINE_SIMILARITY(embedding, ARRAY[{lit}]), 6) AS score "
                       f'FROM "{root}" ORDER BY score DESC, id LIMIT 10')
            else:
                tql = (f"SELECT id, ROUND(BM25_SIMILARITY(text, '{marker}'), 6) AS s "
                       f'FROM "{root}" ORDER BY s DESC, id LIMIT 10')
            before = dir_bytes(root)
        with tracer.span("op:write_append", op=f"op{i}") as op:
            with tracer.span("append") as commit:
                S.append(J.jss, root, self.read_input(path), "main", False)
            with tracer.span("read") as read:
                with tracer.span("compile"):
                    jdf = ctx.tql.query(J.jss, ctx.data_dir, tql, J.nil)
                with tracer.span("action"):
                    jrows = jdf.collectAsList()
        with ctx.untimed():
            self.live |= new
            if tracer.enabled:
                with tracer.span("open"):
                    S.open(J.jss, root, self.none(), "main")
            ids = [r[0] for r in J.rows(jrows)]
            if ann:
                bad = None if ids and ids[0] == probe else \
                    f"ANN read after append misses row {probe}: got {ids[:3]}"
            else:
                bad = None if len(ids) == min(10, len(new)) and set(ids) <= new else \
                    f"BM25 read after append misses the batch marker {marker}"
            self.commits.append({"commit_ms": commit.ms, "read_ms": read.ms, "rows": len(new),
                                 "bytes": dir_bytes(root) - before})
        return op.ms, bad

    def finish(self):
        """Merge one more batch, optimize the root, then check its final
        id set; returns (verdict or None, per-layer extras)."""
        J, S, root = self.ctx.J, self.S, self.root
        path, new, _, _ = self.batch("merge")
        with self.ctx.tracer.span("merge"):
            S.mergeInto(J.jss, root, self.read_input(path), J.seq(["id"]), "main", True)
        self.live |= new
        with self.ctx.tracer.span("optimize"):
            S.optimize(J.jss, root, 128 << 20, "main")
        out = os.path.join(self.ctx.run_dir, "answers", "final-ids")
        (S.open(J.jss, root, self.none(), "main").select(J.seq([J.col("id")]))
         .coalesce(1).write().parquet(out))
        got = pq.read_table(out).column("id").to_pylist()
        bad = None
        if len(got) != len(set(got)):
            bad = "final table holds duplicate ids"
        elif set(got) != self.live:
            bad = f"final id set differs from the batches by {len(set(got) ^ self.live)} ids"
        c = self.commits
        extra = {"sources.bytes_written": float(np.mean([x["bytes"] for x in c])) if c else 0.0,
                 "writes.space_amp": dir_bytes(root) / self.input_bytes}
        if c:
            extra.update({
                "writes.commit_p50_ms": float(np.median([x["commit_ms"] for x in c])),
                "writes.read_p50_ms": float(np.median([x["read_ms"] for x in c])),
                "writes.rows_per_s": sum(x["rows"] for x in c) / (sum(x["commit_ms"] for x in c) / 1000)})
        return bad, extra
