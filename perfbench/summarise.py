"""Per-layer metrics of a traced run (see perfbench/README.md).

The JVM records, for the traced half of the run: spans (name, layer,
start, end, parent, op id), one aggregate per Spark job tagged with the
span that launched it, Catalyst phase intervals, per-op counts and the
counting store's totals. This module

* attributes every job to its span and every Catalyst phase to the
  span of the client thread that was open when it ran;
* splits each op's wall time over the layers: at every instant the
  deepest open region (span, job or phase) owns the time, so a
  region's self time is its width minus what its children cover, and
  the self times of one op sum to its span exactly;
* reports the per-op layer metrics, the ratios and trace.overhead_frac.
"""
from collections import defaultdict

LAYERS = ["bench", "api", "core", "engine", "sources", "queries", "spark", "catalyst"]
QUERIES = ["q60_tfidf_terms", "q113_bm25", "q23_lsh_pairs", "q152_simhash_pairs",
           "q188_sql_update", "q128_incremental_index", "q82_funnel",
           "q175_topk_rewrite", "q14_window"]
JOB_SUMS = {  # metric -> (job field, scale)
    "spark.task_run_s": ("run_ms", 1e-3), "spark.task_cpu_s": ("cpu_ns", 1e-9),
    "spark.sched_delay_s": ("sched_ms", 1e-3), "spark.gc_s": ("gc_ms", 1e-3),
    "spark.shuffle_write_bytes": ("shuffle_write", 1),
    "spark.shuffle_read_bytes": ("shuffle_read", 1), "spark.spill_bytes": ("spill", 1),
    "spark.input_rows": ("in_rows", 1), "spark.input_bytes": ("in_bytes", 1),
    "spark.output_rows": ("out_rows", 1), "spark.output_bytes": ("out_bytes", 1),
}
STORE_KINDS = ["read", "write", "write_dedup", "ls", "exists", "mv", "rm"]
PHASES = ["analysis", "optimization", "planning"]


class Node:
    __slots__ = ("id", "parent", "layer", "name", "start", "end", "depth")

    def __init__(self, id, parent, layer, name, start, end):
        self.id, self.parent, self.layer, self.name = id, parent, layer, name
        self.start, self.end, self.depth = start, end, 0


def self_times(nodes):
    """{node id: self ns} for one op's tree. `nodes[0]` is the root;
    each node is clipped to its parent, then every elementary interval
    goes to the deepest open node (the later-started on a tie)."""
    by_id = {n.id: n for n in nodes}
    root = nodes[0]
    for n in nodes[1:]:  # parents precede children (sorted by depth)
        p = by_id[n.parent]
        n.start, n.end = max(n.start, p.start), min(n.end, p.end)
        n.depth = p.depth + 1
    live = [n for n in nodes if n.end > n.start] or [root]
    cuts = sorted({t for n in live for t in (n.start, n.end)})
    out = defaultdict(int)
    for a, b in zip(cuts, cuts[1:]):
        owner = max((n for n in live if n.start <= a and n.end >= b),
                    key=lambda n: (n.depth, n.start), default=None)
        if owner is not None:
            out[owner.id] += b - a
    return out


def build_ops(trace):
    """{op id: [nodes]} with the root first and parents before children."""
    fields = trace["span_fields"]
    spans = [dict(zip(fields, s)) for s in trace["spans"]]
    ops = defaultdict(list)
    for s in spans:
        if s["op"]:
            ops[s["op"]].append(Node(s["id"], s["parent"], s["layer"], s["name"],
                                     s["start"], s["end"]))
    for j in trace["jobs"]:
        if j["op"] in ops:
            ops[j["op"]].append(Node(f"job{j['job']}", j["span"], "spark", "spark.job",
                                     j["start"], max(j["end"], j["start"])))
    # phases: to the deepest client-thread span open at the phase midpoint
    client = {s["id"]: s for s in spans if s["op"] and not s["thread"].startswith("Executor")}
    for stmt, phase, a, b in trace["phases"]:
        mid = (a + b) // 2
        host = max((s for s in client.values() if s["start"] <= mid <= s["end"]),
                   key=lambda s: s["start"], default=None)
        if host is not None:
            ops[host["op"]].append(Node(f"ph{stmt}.{phase}", host["id"], "catalyst",
                                        f"catalyst.{phase}", a, b))
    out = {}
    for op, nodes in ops.items():
        ids = {n.id for n in nodes}
        root = next((n for n in nodes if n.id == op), None)
        if root is None:
            continue
        for n in nodes:
            if n is not root and n.parent not in ids:
                n.parent = root.id
        # order parents before children
        ordered, seen, rest = [root], {root.id}, [n for n in nodes if n is not root]
        while rest:
            nxt = [n for n in rest if n.parent in seen]
            if not nxt:
                break
            ordered += nxt
            seen.update(n.id for n in nxt)
            rest = [n for n in rest if n.id not in seen]
        out[op] = ordered
    return out


def mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def overhead(untraced, traced):
    """Traced time over the time the untraced run's per-class means
    predict for the same ops, minus one."""
    by_cls = defaultdict(list)
    for o in untraced:
        by_cls[o["cls"]].append(o["s"])
    want = sum(mean(by_cls[o["cls"]]) for o in traced if by_cls[o["cls"]])
    have = sum(o["s"] for o in traced if by_cls[o["cls"]])
    return have / want - 1 if want else 0.0


def per_layer(report):
    trace = report["trace"]
    tops = report["traced_ops"]
    n_ops = max(1, len(tops))
    ops = build_ops(trace)
    m = {}

    layer_self = defaultdict(float)
    name_self = defaultdict(list)
    widths = defaultdict(list)
    for nodes in ops.values():
        st = self_times(nodes)
        for n in nodes:
            layer_self[n.layer] += st.get(n.id, 0) * 1e-9
            if n.layer not in ("spark", "catalyst"):
                widths[n.name].append((n.end - n.start) * 1e-9)
                name_self[n.name].append(st.get(n.id, 0) * 1e-9)
    for layer in LAYERS:
        m[f"self.{layer}_s"] = (layer_self[layer] / n_ops, "s")

    jobs = [j for j in trace["jobs"] if j["op"] in ops]
    m["spark.jobs_per_op"] = (len(jobs) / n_ops, "count")
    m["spark.stages_per_op"] = (sum(j["stages"] for j in jobs) / n_ops, "count")
    m["spark.tasks_per_op"] = (sum(j["tasks"] for j in jobs) / n_ops, "count")
    for k, (f, scale) in JOB_SUMS.items():
        unit = "s" if k.endswith("_s") else ("rows" if "rows" in k else "bytes")
        m[k] = (sum(j[f] for j in jobs) * scale / n_ops, unit)
    slots = report["info"]["cpus"] * report["traced_wall_s"]
    m["spark.slot_busy_frac"] = (sum(j["run_ms"] for j in jobs) * 1e-3 / slots, "fraction")

    ph = defaultdict(float)
    stmts = set()
    for nodes in ops.values():
        for n in nodes:
            if n.layer == "catalyst":
                ph[n.name] += (n.end - n.start) * 1e-9
                stmts.add(n.id.split(".")[0])
    for p in PHASES:
        m[f"catalyst.{p}_s"] = (ph[f"catalyst.{p}"] / n_ops, "s")
    m["catalyst.statements_per_op"] = (len(stmts) / n_ops, "count")

    store = trace["store"]
    for k in STORE_KINDS:
        m[f"core.store.{k}_n"] = (store[k]["n"] / n_ops, "count")
    m["core.store.read_bytes"] = (store["read"]["bytes"] / n_ops, "bytes")
    m["core.store.write_bytes"] = (store["write"]["bytes"] / n_ops, "bytes")
    m["core.store.busy_s"] = (sum(store[k]["ns"] for k in store) * 1e-9 / n_ops, "s")

    m["api.write_s"] = (mean(widths["api.write"]), "s")
    m["api.write_self_s"] = (mean(name_self["api.write"]), "s")
    m["api.segments_s"] = (mean(widths["api.segments"]), "s")
    m["api.frame_build_s"] = (mean(widths["api.frame_build"]), "s")
    m["api.defrag_s"] = (mean(widths["api.defrag"]), "s")
    counts = defaultdict(list)
    for _, name, v in trace["counts"]:
        counts[name].append(v)
    m["api.segments_per_read"] = (mean(counts["segments_per_read"]), "count")
    m["api.segments_in_manifest"] = (mean(counts["segments_in_manifest"]), "count")
    m["engine.reduce_build_s"] = (mean(widths["engine.reduce_build"]), "s")
    for q in QUERIES:
        m[f"queries.{q}_s"] = (mean(widths[f"queries.{q}"]), "s")

    rows = sum(o["rows"] for o in tops)
    row_bytes = report["info"].get("user_bytes_per_row", 0)
    m["ratio.rows_read_per_row_returned"] = (
        sum(j["in_rows"] for j in jobs) / rows if rows else 0.0, "ratio")
    written = sum(j["out_bytes"] for j in jobs) + store["write"]["bytes"]
    user_written = sum(o["rows"] for o in tops if o["cls"].startswith(("write", "append", "over")))
    m["ratio.bytes_written_per_user_byte"] = (
        written / (user_written * row_bytes) if user_written and row_bytes else 0.0, "ratio")
    reads = sum(1 for o in tops if o["cls"].startswith("read")) or n_ops
    m["ratio.store_reads_per_read"] = (store["read"]["n"] / reads, "ratio")
    m["ratio.dedup_hit"] = (
        store["write_dedup"]["n"] / store["write"]["n"] if store["write"]["n"] else 0.0,
        "fraction")
    m["trace.overhead_frac"] = (overhead(report["ops"], tops), "fraction")
    return m
