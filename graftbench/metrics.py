"""Metric rules of the graft benchmark: percentiles, span self time, job
classification and the per-layer report built from a traced run."""
import math
import re
import statistics

MODULES = ["Relational", "Events", "Sketches", "Text", "Multimodal",
           "Dedup", "Graph", "Similarity", "Pipelines"]

# operator-key prefix -> the graft.ops module that builds it
PREFIX_MODULE = {"q": "Relational", "ev": "Events", "sk": "Sketches",
                 "tx": "Text", "mm": "Multimodal", "dd": "Dedup",
                 "gr": "Graph", "ss": "Similarity", "pp": "Pipelines"}

SOURCE_FILES = {"IndexArtifacts.scala", "VersionedCorpus.scala",
                "MaintenanceRunner.scala", "ManifestSink.scala",
                "Sources.scala", "SynthSource.scala"}

# span kind -> layer whose self time it counts toward
SPAN_LAYER = {"pass": "harness", "op": "harness", "build": "ops",
              "source": "sources", "action": "exec", "load": "tables"}

MB = float(1 << 20)


def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    if not values:
        raise ValueError("no samples")
    xs = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]


def op_module(name):
    m = re.match(r"([a-z]+)\d", name)
    return PREFIX_MODULE.get(m.group(1)) if m else None


def classify_site(site):
    """Class of a Spark job from its stage call site ("collect at
    Harness.scala:231"): 'tables', 'checkpoint', a graft.ops module name,
    'sources', 'action' (the benchmark's own collect) or 'other'."""
    m = re.search(r" at ([A-Za-z0-9_$]+\.scala):\d+", site or "")
    if not m:
        return "other"
    f = m.group(1)
    if f == "Tables.scala":
        return "tables"
    if f == "Checkpoints.scala":
        return "checkpoint"
    if f == "Harness.scala":
        return "action"
    if f in SOURCE_FILES:
        return "sources"
    mod = f[:-len(".scala")]
    return mod if mod in MODULES else "other"


def union_ms(intervals):
    """Total length covered by a set of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_ms(start, end, children):
    """A node's self time: its duration minus the part of its interval
    that its children cover."""
    clipped = [(max(start, s), min(end, e)) for s, e in children]
    return (end - start) - union_ms(clipped)


class Trace:
    """Span tree of one run with jobs and Catalyst phases attached to the
    span that caused them."""

    def __init__(self, spans, jobs, phases):
        self.spans = {s["id"]: s for s in spans}
        self.children = {}
        for s in spans:
            self.children.setdefault(s["parent"], []).append(s["id"])
        self.jobs_of = {}
        for j in jobs:
            if j["end"] is None:
                continue
            sid = j["span"]
            if sid is None or sid not in self.spans:
                sid = self.innermost(j["start"])
            if sid is not None:
                self.jobs_of.setdefault(sid, []).append(j)
        self.phases_of = {}
        for p in phases:
            sid = self.innermost((p["start"] + p["end"]) / 2.0)
            if sid is not None:
                self.phases_of.setdefault(sid, []).append(p)

    def innermost(self, t):
        best = None
        for s in self.spans.values():
            if s["start"] <= t <= s["end"] and (best is None or s["start"] >= best["start"]):
                best = s
        return None if best is None else best["id"]

    def walk(self, sid, skip=("check",)):
        """Span ids of the subtree rooted at sid, without skipped kinds."""
        out, stack = [], [sid]
        while stack:
            x = stack.pop()
            if self.spans[x]["kind"] in skip:
                continue
            out.append(x)
            stack.extend(self.children.get(x, []))
        return out

    def jobs_under(self, sid):
        return [j for x in self.walk(sid) for j in self.jobs_of.get(x, [])]

    def layer_self_ms(self, sid):
        """Self time per layer over the subtree at sid. Jobs count toward
        exec (tables for loader jobs), phases toward plans."""
        acc = {}

        def add(layer, v):
            acc[layer] = acc.get(layer, 0.0) + v
        for x in self.walk(sid):
            s = self.spans[x]
            kids = [(self.spans[c]["start"], self.spans[c]["end"])
                    for c in self.children.get(x, [])]
            jobs = self.jobs_of.get(x, [])
            phases = self.phases_of.get(x, [])
            kids += [(j["start"], j["end"]) for j in jobs]
            kids += [(p["start"], p["end"]) for p in phases]
            add(SPAN_LAYER.get(s["kind"], "harness"), self_ms(s["start"], s["end"], kids))
            for j in jobs:
                layer = "tables" if classify_site(j["site"]) == "tables" else "exec"
                add(layer, j["end"] - j["start"])
            for p in phases:
                add("plans", p["end"] - p["start"])
        return acc


def pass_layers(trace, pass_rec, input_bytes):
    """Per-layer metrics of one traced pass (unsuffixed names)."""
    sid = pass_rec["span"]
    wall_s = pass_rec["wall_ms"] / 1000.0
    ops = {o["name"]: o for o in pass_rec["ops"]}
    op_spans = {trace.spans[c]["name"]: c for c in trace.children.get(sid, [])
                if trace.spans[c]["kind"] == "op"}
    jobs = trace.jobs_under(sid)
    classes = [classify_site(j["site"]) for j in jobs]
    m = {}

    # tables
    loads = [x for x in trace.walk(sid) if trace.spans[x]["kind"] == "load"]
    m["tables.load_ms"] = sum(trace.spans[x]["end"] - trace.spans[x]["start"] for x in loads)
    m["tables.load_jobs"] = sum(len(trace.jobs_under(x)) for x in loads)
    m["tables.jobs"] = classes.count("tables")

    # ops (builder calls)
    builds = [x for x in trace.walk(sid) if trace.spans[x]["kind"] == "build"]
    build_jobs = [j for x in builds for j in trace.jobs_under(x)]
    m["ops.build_s"] = sum(o["build_ms"] for n, o in ops.items()
                          if op_module(n) is not None) / 1000.0
    m["ops.build_share"] = m["ops.build_s"] / wall_s if wall_s > 0 else 0.0
    m["ops.build_jobs"] = len(build_jobs)
    m["ops.checkpoint_jobs"] = classes.count("checkpoint")
    for mod in MODULES:
        m[f"ops.{mod}.build_s"] = sum(o["build_ms"] for n, o in ops.items()
                                     if op_module(n) == mod) / 1000.0
        m[f"ops.{mod}.build_jobs"] = sum(1 for j in build_jobs
                                         if classify_site(j["site"]) == mod)

    # plans (Catalyst phases of executed queries)
    phases = [p for x in trace.walk(sid) for p in trace.phases_of.get(x, [])]
    for ph in ("analysis", "optimization", "planning"):
        m[f"plans.{ph}_ms"] = sum(p["end"] - p["start"] for p in phases if p["name"] == ph)
    plan_ms = sum(p["end"] - p["start"] for p in phases)
    m["plans.share"] = plan_ms / pass_rec["wall_ms"] if pass_rec["wall_ms"] > 0 else 0.0

    # exec (scheduler and kernels)
    exec_ms = union_ms([(j["start"], j["end"]) for j in jobs])
    m["exec.s"] = exec_ms / 1000.0
    m["exec.jobs"] = len(jobs)
    m["exec.stages"] = sum(j["stages"] for j in jobs)
    m["exec.tasks"] = sum(j["tasks"] for j in jobs)
    m["exec.ms_per_job"] = exec_ms / len(jobs) if jobs else 0.0
    m["exec.task_run_s"] = sum(j["run_ms"] for j in jobs) / 1000.0
    m["exec.task_cpu_s"] = sum(j["cpu_ns"] for j in jobs) / 1e9
    m["exec.gc_s"] = sum(j["gc_ms"] for j in jobs) / 1000.0
    m["exec.busy_cores"] = m["exec.task_run_s"] / wall_s if wall_s > 0 else 0.0
    m["exec.scan_mb"] = sum(j["in_bytes"] for j in jobs) / MB
    m["exec.shuffle_read_mb"] = sum(j["shuffle_read"] for j in jobs) / MB
    m["exec.shuffle_write_mb"] = sum(j["shuffle_write"] for j in jobs) / MB
    m["exec.spill_mb"] = sum(j["spill"] for j in jobs) / MB

    # cache (CacheScope counters, SessionMemo entries, EvictionMonitor)
    hits, misses = pass_rec["cache_hits"], pass_rec["cache_misses"]
    m["cache.hits"] = hits
    m["cache.misses"] = misses
    m["cache.lookups"] = hits + misses
    m["cache.hit_ratio"] = hits / (hits + misses) if hits + misses else 0.0
    m["cache.memo_misses"] = pass_rec["memo_new"]
    m["cache.evictions"] = pass_rec["evictions"]
    m["cache.demotions"] = pass_rec["demotions"]
    m["cache.storage_peak_mb"] = pass_rec["storage_peak_bytes"] / MB

    # sources (the publish and serve ops; zero on workloads without them)
    def walls(part):
        return sum(o["build_ms"] + o["action_ms"] for n, o in ops.items() if part in n)
    m["sources.publish_s"] = walls("_publish_") / 1000.0
    m["sources.publish_jobs"] = sum(len(trace.jobs_under(x)) for n, x in op_spans.items()
                                    if "_publish_" in n)
    m["sources.serve_s"] = walls("_serve_") / 1000.0
    m["sources.bytes_written_mb"] = pass_rec["root_bytes"] / MB
    m["sources.files_written"] = pass_rec["root_files"]
    m["sources.stored_bytes_per_input_byte"] = (
        pass_rec["root_bytes"] / input_bytes if input_bytes else 0.0)

    selfs = trace.layer_self_ms(sid)
    for layer in ("tables", "ops", "plans", "exec", "sources"):
        m[f"{layer}.self_s"] = selfs.get(layer, 0.0) / 1000.0
    return m


def span_coverage(trace, pass_rec):
    """Smallest share of an op span's wall time covered by its builder
    and action spans, over the ops of a traced pass."""
    worst = 1.0
    for c in trace.children.get(pass_rec["span"], []):
        s = trace.spans[c]
        if s["kind"] != "op" or s["end"] <= s["start"]:
            continue
        kids = [(trace.spans[k]["start"], trace.spans[k]["end"])
                for k in trace.children.get(c, [])
                if trace.spans[k]["kind"] in ("build", "source", "action")]
        worst = min(worst, union_ms(kids) / (s["end"] - s["start"]))
    return worst


def median(xs):
    return statistics.median(xs) if xs else 0.0
