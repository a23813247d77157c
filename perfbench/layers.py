"""Per-layer metrics from a traced run's spans.

Span kinds, parent to child: pass -> query -> {build, action} -> job ->
stage for the closed loops, and batch -> sink -> job -> stage for the
stream. Job and stage spans come from Spark listener events and exist only
for traced queries (or batches); a stage's attributes hold its tasks'
summed metrics. A traced run traces every other query, alternating between
passes, so each pair of passes traces every query once: that pair is the
unit a closed loop's metrics sum over (the stream's traced batches form one
unit), and each metric is the median over units."""
import statistics
from collections import defaultdict

KINDS = ["pass", "query", "build", "action", "batch", "sink", "job", "stage"]
STAGE_SUMS = {
    "scheduler.tasks": "tasks",
    "executor.task_ms": "task_ms",
    "executor.cpu_ms": "cpu_ms",
    "executor.gc_ms": "gc_ms",
    "shuffle.write_bytes": "shuffle_write_bytes",
    "shuffle.read_bytes": "shuffle_read_bytes",
    "shuffle.fetch_wait_ms": "fetch_wait_ms",
    "shuffle.spill_bytes": "spill_bytes",
    "sources.scan_bytes": "scan_bytes",
    "sources.scan_rows": "scan_rows",
}
UNITS = {
    "operators.build_ms": "ms", "operators.build_jobs": "count",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "scheduler.jobs": "count", "scheduler.stages": "count", "scheduler.tasks": "count",
    "scheduler.driver_gap_ms": "ms",
    "executor.task_ms": "ms", "executor.cpu_ms": "ms", "executor.gc_ms": "ms",
    "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes",
    "shuffle.fetch_wait_ms": "ms", "shuffle.spill_bytes": "bytes",
    "sources.scan_bytes": "bytes", "sources.scan_rows": "count",
    "sources.dfcache_build_s": "s", "sources.dfcache_builds": "count",
    "sources.dfcache_bytes": "bytes", "sources.dfcache_scans_per_build": "count",
    "streaming.trigger_ms": "ms", "streaming.plan_ms": "ms", "streaming.sink_ms": "ms",
    "streaming.sink_bytes_written": "bytes", "streaming.state_bytes": "bytes",
    "streaming.batches": "count",
    **{f"self.{k}_ms": "ms" for k in KINDS},
    "trace.unattributed_share": "ratio",
    "trace.overhead_s": "s",
}


def union_ms(intervals, lo, hi):
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    total, end = 0.0, lo
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


def dur(s):
    return s["end"] - s["start"]


class Tree:
    def __init__(self, spans):
        self.spans = [s for s in spans if s["end"] is not None]
        self.by_id = {s["id"]: s for s in self.spans}
        self.children = defaultdict(list)
        for s in self.spans:
            self.children[s["parent"]].append(s)

    def descendants(self, root):
        out, todo = [], [root]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children[s["id"]])
        return out

    def self_ms(self, s):
        """Duration minus the part of it the span's children cover."""
        kids = [(c["start"], c["end"]) for c in self.children[s["id"]]]
        return dur(s) - union_ms(kids, s["start"], s["end"])

    def gap_ms(self, s):
        """Wall time of a driver span not covered by any of its stages."""
        stages = [(d["start"], d["end"]) for d in self.descendants(s) if d["kind"] == "stage"]
        return dur(s) - union_ms(stages, s["start"], s["end"])


def _traced(s):
    return s["attrs"].get("traced") == 1.0


def _sums(tree, roots, executions):
    """Layer sums over the subtrees of the traced spans `roots`."""
    sub = [d for r in roots for d in tree.descendants(r)]
    kinds = defaultdict(list)
    for s in sub:
        kinds[s["kind"]].append(s)
    m = {key: sum(s["attrs"].get(attr, 0.0) for s in kinds["stage"])
         for key, attr in STAGE_SUMS.items()}
    m["scheduler.jobs"] = len(kinds["job"])
    m["scheduler.stages"] = len(kinds["stage"])
    m["operators.build_ms"] = sum(dur(s) for s in kinds["build"])
    m["operators.build_jobs"] = sum(
        1 for j in kinds["job"] if tree.by_id.get(j["parent"], {}).get("kind") == "build")
    m["scheduler.driver_gap_ms"] = sum(
        tree.gap_ms(s) for s in kinds["build"] + kinds["action"] + kinds["sink"])
    for k in KINDS[1:]:
        m[f"self.{k}_ms"] = sum(tree.self_ms(s) for s in kinds[k])
    ids = {s["id"] for s in sub}
    m["catalyst.analysis_ms"] = sum(s["attrs"].get("analysis_ms", 0.0) for s in kinds["build"])
    m["catalyst.optimization_ms"] = m["catalyst.planning_ms"] = 0.0
    for e in executions:
        if e["span"] in ids:
            m["catalyst.analysis_ms"] += e["phases"].get("analysis", 0.0)
            m["catalyst.optimization_ms"] += e["phases"].get("optimization", 0.0)
            m["catalyst.planning_ms"] += e["phases"].get("planning", 0.0)
    m["cached_stages"] = sum(s["attrs"].get("cached_reads", 0.0) for s in kinds["stage"])
    m["streaming.sink_ms"] = sum(dur(s) for s in kinds["sink"])
    m["streaming.sink_bytes_written"] = sum(
        st["attrs"].get("output_bytes", 0.0)
        for s in kinds["sink"] for st in tree.descendants(s) if st["kind"] == "stage")
    m["streaming.batches"] = len(kinds["batch"])
    return m


def _stream(tree, raw, executions):
    batches = [s for s in tree.spans
               if s["kind"] == "batch" and s["attrs"].get("warmup") != 1.0]
    m = _sums(tree, [b for b in batches if _traced(b)], executions)
    m["self.pass_ms"] = 0.0
    # share of batch time outside the sink
    m["trace.unattributed_share"] = sum(tree.self_ms(b) for b in batches) / sum(
        dur(b) for b in batches)
    # measured file i is batch StreamWarmFiles + i; odd measured files are traced
    p = raw["passes"][0]
    lat = [c - d for d, c in zip(p["due_ms"], p["commit_ms"])]
    m["trace.overhead_s"] = (statistics.median(lat[1::2]) - statistics.median(lat[0::2])) / 1e3
    prog = raw["stream_progress"]
    m["streaming.trigger_ms"] = sum(x.get("triggerExecution", 0.0) for x in prog)
    m["streaming.plan_ms"] = sum(x.get("queryPlanning", 0.0) for x in prog)
    m["streaming.state_bytes"] = float(raw["extra"].get("state_bytes", 0))
    for k in ("sources.dfcache_build_s", "sources.dfcache_builds",
              "sources.dfcache_bytes", "sources.dfcache_scans_per_build"):
        m[k] = 0.0
    return m


def _closed_loop(tree, raw, executions):
    extra = raw["extra"]
    passes = sorted((s for s in tree.spans if s["kind"] == "pass"), key=lambda s: s["start"])
    units = []
    for i in range(0, len(passes) - 1, 2):
        pair, recs = passes[i:i + 2], raw["passes"][i:i + 2]
        queries = [q for p in pair for q in tree.children[p["id"]]]
        u = _sums(tree, [q for q in queries if _traced(q)], executions)
        u["self.pass_ms"] = sum(tree.self_ms(p) for p in pair)
        u["trace.unattributed_share"] = u["self.pass_ms"] / sum(dur(p) for p in pair)
        u["trace.overhead_s"] = (sum(dur(q) for q in queries if _traced(q)) -
                                 sum(dur(q) for q in queries if not _traced(q))) / 1e3
        # interactive builds in setup; batch_cold builds in every pass
        u["sources.dfcache_build_s"] = (extra.get("setup_dfcache_build_s", 0.0) +
                                        sum(r["dfcache_build_s"] for r in recs) / 2)
        u["sources.dfcache_builds"] = (extra.get("setup_dfcache_builds", 0) +
                                       sum(r["dfcache_builds"] for r in recs) / 2)
        u["sources.dfcache_bytes"] = max(r["dfcache_bytes"] for r in recs)
        u["sources.dfcache_scans_per_build"] = (
            u["cached_stages"] / u["sources.dfcache_builds"] if u["sources.dfcache_builds"] else 0.0)
        for k in ("streaming.trigger_ms", "streaming.plan_ms", "streaming.state_bytes"):
            u[k] = 0.0
        units.append(u)
    return {k: statistics.median(u[k] for u in units) for k in units[0]}


def per_layer(workload, raw):
    """(metrics, per-query detail), metrics as {name: (value, unit)}."""
    tree = Tree(raw["spans"])
    executions = raw["executions"]
    if workload == "stream_ingest":
        m = _stream(tree, raw, executions)
    else:
        m = _closed_loop(tree, raw, executions)
    metrics = {k: (float(m[k]), UNITS[k]) for k in UNITS}
    return metrics, _per_query(tree)


def _per_query(tree):
    """Per traced query, summed over the run: wall, build time, jobs,
    stages, task time and driver gap."""
    out = defaultdict(lambda: defaultdict(float))
    for q in tree.spans:
        if q["kind"] != "query" or not _traced(q):
            continue
        d = out[q["name"]]
        sub = tree.descendants(q)
        d["wall_ms"] += dur(q)
        d["build_ms"] += sum(dur(s) for s in sub if s["kind"] == "build")
        d["jobs"] += sum(1 for s in sub if s["kind"] == "job")
        d["stages"] += sum(1 for s in sub if s["kind"] == "stage")
        d["task_ms"] += sum(s["attrs"].get("task_ms", 0.0) for s in sub if s["kind"] == "stage")
        d["driver_gap_ms"] += sum(tree.gap_ms(s) for s in sub if s["kind"] in ("build", "action"))
    return {k: dict(v) for k, v in sorted(out.items())}
