"""Harness spans and the per-layer split derived from them.

A span is one call from the benchmark into an engine layer: name, start,
end, parent span and the timed operation it belongs to. In a traced run
every span sets its own Spark job group, so each job in the Spark event
log is attributed to exactly one span. Spans stay in memory and are
written out once, when the run ends.
"""
import json
import os
import statistics
import time


class Span:
    __slots__ = ("sid", "name", "op", "parent", "start", "end", "tracer", "prev")

    def __init__(self, tracer, sid, name, op, parent):
        self.tracer, self.sid, self.name, self.op, self.parent = tracer, sid, name, op, parent

    def __enter__(self):
        t = self.tracer
        self.prev = t.current
        t.current = self
        if t.enabled:
            t.jvm.job_group(self.sid)
        self.start = time.time()
        return self

    def __exit__(self, *exc):
        self.end = time.time()
        t = self.tracer
        t.current = self.prev
        if self.op is not None and self.prev is None:
            t.last_op = self.name
        if t.enabled:
            t.jvm.job_group(self.prev.sid if self.prev else None)
            t.spans.append(self)
        return False

    @property
    def ms(self):
        return (self.end - self.start) * 1000.0


class Tracer:
    def __init__(self, jvm, enabled):
        self.jvm, self.enabled = jvm, enabled
        self.spans, self.current, self.n, self.last_op = [], None, 0, None

    def span(self, name, op=None):
        """`op` names the timed operation; children inherit the parent's."""
        self.n += 1
        parent = self.current
        if op is None and parent is not None:
            op = parent.op
        return Span(self, f"pb{self.n}", name, op, parent.sid if parent else None)

    def dump(self, path):
        with open(path, "w") as f:
            json.dump([{"id": s.sid, "name": s.name, "op": s.op, "parent": s.parent,
                        "start_ms": s.start * 1000.0, "end_ms": s.end * 1000.0}
                       for s in self.spans], f)


def read_event_log(log_dir):
    """Jobs (by id) and stages (by id) with task-level sums from the
    Spark event log written by the traced run."""
    jobs, stages = {}, {}
    files = sorted(os.path.join(d, f) for d, _, fs in os.walk(log_dir) for f in fs
                   if not f.startswith("."))
    for fn in files:
        with open(fn) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = {
                        "group": props.get("spark.jobGroup.id"),
                        "start": ev["Submission Time"], "end": None,
                        "stages": ev.get("Stage IDs", [])}
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    st = stages.setdefault(ev["Stage ID"], {"durs": [], "run": 0, "deser": 0,
                                                            "gc": 0, "fetch_wait": 0,
                                                            "shuffle_write": 0, "shuffle_write_ns": 0,
                                                            "spill": 0})
                    info = ev.get("Task Info") or {}
                    st["durs"].append(info.get("Finish Time", 0) - info.get("Launch Time", 0))
                    m = ev.get("Task Metrics") or {}
                    st["run"] += m.get("Executor Run Time", 0)
                    st["deser"] += m.get("Executor Deserialize Time", 0)
                    st["gc"] += m.get("JVM GC Time", 0)
                    st["fetch_wait"] += (m.get("Shuffle Read Metrics") or {}).get("Fetch Wait Time", 0)
                    sw = m.get("Shuffle Write Metrics") or {}
                    st["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
                    st["shuffle_write_ns"] += sw.get("Shuffle Write Time", 0)
                    st["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return jobs, stages


def union_ms(intervals, lo, hi):
    """Length of the union of [a, b] intervals clipped to [lo, hi]."""
    iv = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in iv:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(spans, jobs, stages, ops):
    """Per-layer metrics over the timed operations `ops` ({op id: family}).

    Every engine call the harness makes is a span; `kind` is the span name
    up to the first ':' (compile, construct, action, append, ...)."""
    by_group = {}
    for jid, j in jobs.items():
        if j["group"]:
            by_group.setdefault(j["group"], []).append(j)
    timed = [s for s in spans if s.op in ops]

    def jobs_of(ss):
        return [j for s in ss for j in by_group.get(s.sid, [])]

    def kind(s):
        return s.name.split(":")[0]

    out = {}
    for name, k in (("dialect.compile", "compile"), ("queries.construct", "construct")):
        ss = [s for s in timed if kind(s) == k]
        out[name + "_ms"] = mean([s.ms for s in ss])
        out[name + "_jobs"] = len(jobs_of(ss)) / len(ss) if ss else 0.0
    acts = [s for s in timed if kind(s) == "action"]
    in_jobs = []
    for s in acts:
        ivs = [(j["start"], j["end"] or s.end * 1000) for j in by_group.get(s.sid, [])]
        in_jobs.append(union_ms(ivs, s.start * 1000, s.end * 1000))
    out["exec.action_ms"] = mean([s.ms for s in acts])
    out["exec.in_jobs_ms"] = mean(in_jobs)
    out["exec.outside_jobs_ms"] = mean([s.ms - i for s, i in zip(acts, in_jobs)])

    n_ops = max(1, len(ops))
    op_jobs = jobs_of(timed)
    op_stages = [stages[sid] for j in op_jobs for sid in j["stages"] if sid in stages]
    out["exec.jobs"] = len(op_jobs) / n_ops
    out["exec.stages"] = len(op_stages) / n_ops
    out["exec.tasks"] = sum(len(st["durs"]) for st in op_stages) / n_ops
    for key, field in (("task_run_ms", "run"), ("task_deser_ms", "deser"), ("task_gc_ms", "gc"),
                       ("shuffle_fetch_wait_ms", "fetch_wait"),
                       ("shuffle_write_bytes", "shuffle_write"), ("spill_bytes", "spill")):
        out["exec." + key] = sum(st[field] for st in op_stages) / n_ops
    # time tasks spent writing shuffle files to spark.local.dir
    out["exec.shuffle_write_ms"] = sum(st["shuffle_write_ns"] for st in op_stages) / 1e6 / n_ops
    skews = [max(st["durs"]) / max(1.0, statistics.median(st["durs"]))
             for st in op_stages if len(st["durs"]) >= 2]
    out["exec.stage_skew"] = statistics.median(skews) if skews else 1.0

    families = sorted(set(f for f in ops.values() if f))
    for fam in families:
        fam_ops = {o for o, f in ops.items() if f == fam}
        fj = jobs_of([s for s in timed if s.op in fam_ops])
        fs = [stages[sid] for j in fj for sid in j["stages"] if sid in stages]
        n = len(fam_ops)
        out[f"exec.jobs.{fam}"] = len(fj) / n
        out[f"exec.stages.{fam}"] = len(fs) / n
        out[f"exec.tasks.{fam}"] = sum(len(st["durs"]) for st in fs) / n
    return out
