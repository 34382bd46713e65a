"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload search|pipeline \
        --seed N --seconds S --trace 0|1

Run from the repository root. The engine is compiled from `src/main/scala`
into `.bench_build/` on first use. The run generates its inputs from the
seed, sets the workload up three times (setup_s is the median), runs the
timed loop for at least S seconds in whole rounds, checks every answer
outside the timed interval,
and prints the workload's metrics by name, with the result's JSON
object as the last line. `--trace 1` also turns on the Spark event log
and a job group per harness span, and reports the per-layer split.
"""
import argparse
import contextlib
import json
import math
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave nothing behind in the benchmark's own directory

import engine  # noqa: E402
import gen  # noqa: E402
import spans  # noqa: E402
from pipeline import FAMILIES  # noqa: E402

T0 = time.time()
CORES = 4
SETUP_REPS = 3
# gated end-to-end metrics (BENCHMARK.json `end_to_end`)
E2E = {"setup_s": "s", "geomean_ms": "ms", "ops_per_s": "1/s"}
# printed with them but not gated: with 5 to 10 operations a run, the
# median and p90 move with the seeded order of cold first operations, and
# live heap moves with the seed's inputs; traced runs report them as traced.*
REPORTED = {**E2E, "p50_ms": "ms", "p90_ms": "ms", "heap_live_mb": "MB"}
PER_LAYER = dict(
    [("dialect.compile_ms", "ms"), ("dialect.compile_jobs", "count"),
     ("queries.construct_ms", "ms"), ("queries.construct_jobs", "count"),
     ("exec.action_ms", "ms"), ("exec.outside_jobs_ms", "ms"), ("exec.in_jobs_ms", "ms"),
     ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count")] +
    [(f"exec.{k}.{f}", "count") for f in FAMILIES for k in ("jobs", "stages", "tasks")] +
    [("exec.task_run_ms", "ms"), ("exec.task_deser_ms", "ms"), ("exec.task_gc_ms", "ms"),
     ("exec.stage_skew", "ratio"), ("exec.shuffle_fetch_wait_ms", "ms"),
     ("exec.shuffle_write_bytes", "bytes"), ("exec.shuffle_write_ms", "ms"),
     ("exec.spill_bytes", "bytes"),
     ("sources.append_ms", "ms"), ("sources.merge_ms", "ms"),
     ("sources.optimize_ms", "ms"), ("sources.bytes_written", "bytes"),
     ("sources.create_index_ms.clustered", "ms"), ("sources.create_index_ms.bm25", "ms"),
     ("sources.open_ms", "ms"),
     ("operators.artifact_build_ms.ann", "ms"), ("operators.artifact_build_ms.bm25", "ms"),
     ("operators.artifact_build_ms.purchase_graph", "ms"),
     ("spark.persisted_rdds_end", "count"), ("spark.storage_mb_end", "MB"),
     ("spark.session_start_s", "s"), ("jvm.gc_ms", "ms"), ("jvm.jit_ms", "ms"),
     ("host.sentinel_ms", "ms"),
     ("search.recall_at_10", "ratio"), ("pipeline.wall_s", "s"),
     ("writes.commit_p50_ms", "ms"), ("writes.read_p50_ms", "ms"),
     ("writes.rows_per_s", "1/s"), ("writes.index_build_s", "s"), ("writes.space_amp", "ratio")] +
    [(f"traced.{k}", u) for k, u in REPORTED.items()])


class Ctx:
    def __init__(self, args, run_dir, spark):
        self.seed, self.run_dir = args.seed, run_dir
        self.J = engine.Jvm(spark)
        self.tracer = spans.Tracer(self.J, bool(args.trace))
        self.tql = self.J.obj("graft.dialect.Tql")
        self.setup_reps = SETUP_REPS
        self.data_dir = None
        self.untimed_s = 0.0

    @contextlib.contextmanager
    def untimed(self):
        """Harness work (copying inputs, writing batch files, measuring
        directories, converting answers) that the set-up and loop timers
        leave out."""
        t = time.time()
        try:
            yield
        finally:
            self.untimed_s += time.time() - t

    def corpus(self, sf):
        """The seed's corpus at scale `sf` (generated once per run)."""
        d = os.path.join(self.run_dir, f"data-sf{sf}")
        if not os.path.isdir(d):
            gen.write(d, self.seed, sf)
        self.data_dir = d
        return d

    def copy_corpus(self, src, name):
        """A byte-identical copy under a new path: IndexStore keys its
        artifact cache by data path, so each copy builds from scratch."""
        d = os.path.join(self.run_dir, name)
        with self.untimed():
            shutil.copytree(src, d)
        return d


def log(msg):
    print(f"[perfbench +{time.time() - T0:.1f}s] {msg}", file=sys.stderr)


def host_sentinel_ms():
    """A fixed CPU-only task on the host; diagnoses machine speed, never gates."""
    import numpy as np
    x = np.random.default_rng(0).random(1_000_000)
    ts = []
    for _ in range(5):
        t = time.perf_counter()
        np.sort(x)
        ts.append((time.perf_counter() - t) * 1000)
    return statistics.median(ts)


def quantile(xs, q):
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[int(q * 100) - 1]


def workload_class(name):
    from pipeline import Pipeline
    from search import Search
    classes = {"search": Search, "pipeline": Pipeline}
    if name not in classes:
        raise SystemExit(f"perfbench: unknown workload {name!r}")
    return classes[name]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    cls = workload_class(args.workload)

    root = os.getcwd()
    build_dir = os.path.join(root, ".bench_build")
    classes = engine.build(root, build_dir)
    run_dir = os.path.join(build_dir, "runs", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["GRAFT_INDEX_CACHE"] = os.path.join(run_dir, "index-cache")
    os.environ["GRAFT_STATS_CACHE"] = os.path.join(run_dir, "stats-cache")
    os.chdir(run_dir)  # the engine's relative target/ paths land in the run dir
    event_log = os.path.join(run_dir, "events") if args.trace else None

    sentinel = host_sentinel_ms()
    t = time.time()
    spark = engine.session(classes, run_dir, CORES, event_log)
    session_s = time.time() - t
    log(f"session started in {session_s:.1f}s")
    try:
        result = run(args, cls, Ctx(args, run_dir, spark), sentinel, session_s, event_log)
    finally:
        stop(spark)
    if args.trace:
        traces = os.path.join(build_dir, "traces")
        os.makedirs(traces, exist_ok=True)
        shutil.copy(os.path.join(run_dir, "spans.json"),
                    os.path.join(traces, f"{args.workload}-s{args.seed}.spans.json"))
    os.chdir(root)
    shutil.rmtree(run_dir, ignore_errors=True)
    log("stopped")
    print(json.dumps(result))


def stop(spark):
    """Stop Spark and wait for the gateway JVM to exit."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None) if gw else None
    if gw:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def run(args, cls, ctx, sentinel, session_s, event_log):
    J, tracer = ctx.J, ctx.tracer
    w = cls(ctx)
    log("inputs generated")

    setup_s, artifacts = [], {}
    for rep in range(SETUP_REPS):
        t, u = time.time(), ctx.untimed_s
        for k, v in w.setup(rep).items():
            artifacts.setdefault(k, []).append(v)
        setup_s.append(time.time() - t - (ctx.untimed_s - u))
    log(f"set-up {', '.join(f'{x:.1f}s' for x in setup_s)}")
    if hasattr(w, "warmup"):
        w.warmup()
        log("warmed up")

    gc0, jit0 = J.gc_ms(), J.jit_ms()
    results, lat, errors, ops = {}, [], {}, {}
    t0, u0 = time.time(), ctx.untimed_s
    i = 0
    while True:
        try:
            ms, res = w.run_op(i, tracer)
            results[i] = res
            lat.append(ms)
            log(f"op{i} {tracer.last_op} {ms:.0f} ms")
        except Exception as e:  # an operation that throws counts as failed
            errors[i] = f"op{i}: {str(e).splitlines()[0][:300]}"
        ops[f"op{i}"] = w.family(i) if w.families else None
        i += 1
        if time.time() - t0 >= args.seconds and i % w.round_ops == 0:
            break
    loop_s = time.time() - t0 - (ctx.untimed_s - u0)
    heap = J.heap_live_mb()
    gc_ms, jit_ms = J.gc_ms() - gc0, J.jit_ms() - jit0
    n_rdds, storage_mb = J.persisted()

    t = time.time()
    try:
        bad, extra = w.check(results)
    except Exception as e:
        bad, extra = {k: f"check failed: {str(e).splitlines()[0][:300]}" for k in results}, {}
    log(f"checks {time.time() - t:.1f}s")
    failures = dict(errors)
    failures.update({k: v for k, v in bad.items() if v})
    for k in sorted(failures):
        print(f"FAILED op{k} ({w.name}): {failures[k]}", file=sys.stderr)

    lat = lat or [float("nan")]
    e2e = {
        "setup_s": statistics.median(setup_s),
        "p50_ms": statistics.median(lat),
        "p90_ms": quantile(lat, 0.9),
        "geomean_ms": math.exp(sum(math.log(x) for x in lat) / len(lat)),
        "ops_per_s": len(results) / loop_s,
        "heap_live_mb": heap,
    }
    attempted = i
    table = dict(extra)
    table["fail_ratio"] = len(failures) / attempted
    if w.name == "search":
        table.update({"search.p50_ms": e2e["p50_ms"], "search.p90_ms": e2e["p90_ms"],
                      "search.qps": e2e["ops_per_s"]})
    elif w.name == "pipeline":
        table.update({"pipeline.wall_s": loop_s * len(w.batch) / attempted,
                      "pipeline.geomean_s": e2e["geomean_ms"] / 1000})
        idx = [a + b for a, b in zip(artifacts["create_index.clustered"],
                                     artifacts["create_index.bm25"])]
        table["writes.index_build_s"] = statistics.median(idx) / 1000
    print(f"# {w.name}: seed {args.seed}, {attempted} operations, {len(failures)} failed, "
          f"{loop_s:.1f}s timed, local[{CORES}]")
    for k, v in list(e2e.items()) + sorted(table.items()):
        print(f"{k:28s} {v:14.4f} {REPORTED.get(k, PER_LAYER.get(k, ''))}")

    if args.trace:
        metrics = per_layer(ctx, ops, artifacts, e2e, table, event_log,
                            extra={"spark.persisted_rdds_end": n_rdds,
                                   "spark.storage_mb_end": storage_mb,
                                   "spark.session_start_s": session_s,
                                   "jvm.gc_ms": gc_ms, "jvm.jit_ms": jit_ms,
                                   "host.sentinel_ms": sentinel})
        units = PER_LAYER
    else:
        metrics, units = {k: e2e[k] for k in E2E}, E2E
    return {"correct": not failures, "attempted": attempted, "failed": len(failures),
            "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()}}


def per_layer(ctx, ops, artifacts, e2e, table, event_log, extra):
    """Per-layer metrics from the harness spans and the Spark event log
    (flushed by stopping the session first)."""
    ctx.J.spark.stop()
    ctx.tracer.dump(os.path.join(ctx.run_dir, "spans.json"))
    jobs, stages = spans.read_event_log(event_log)
    out = {k: 0.0 for k in PER_LAYER}
    out.update(spans.per_layer(ctx.tracer.spans, jobs, stages, ops))
    for k in ("append", "merge", "optimize", "open"):
        ms = [s.ms for s in ctx.tracer.spans if s.name == k]
        out[f"sources.{k}_ms"] = spans.mean(ms)
    for k, v in artifacts.items():
        key = (f"sources.{k.replace('create_index.', 'create_index_ms.')}"
               if k.startswith("create_index") else f"operators.artifact_build_ms.{k}")
        out[key] = statistics.median(v)
    out.update(extra)
    out.update({k: v for k, v in table.items() if k in PER_LAYER})
    out.update({f"traced.{k}": v for k, v in e2e.items()})
    return out


if __name__ == "__main__":
    main()
