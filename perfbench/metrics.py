"""End-to-end metrics from the JVM's report (see perfbench/README.md).

Every workload reports the same three gated metrics; each has a
per-workload reading:

| metric     | ingest            | query            | pipeline                     |
|------------|-------------------|------------------|------------------------------|
| setup_s    | set-up time       | set-up time      | set-up time                  |
| rows_per_s | write_rows_per_s  | read_rows_per_s  | corpus rows / pass_s         |
| p50_s      | append_p50_s      | read_p50_s       | pass_s                       |

The workload's named metrics are printed beside them, one line each.
"""
import math

LARGE_WRITES = ("write_presorted", "write_unsorted", "overwrite", "defrag")
APPEND = "append_small"


def quantile(values, p):
    """Linear-interpolated p-th percentile (0 <= p <= 100)."""
    s = sorted(values)
    if not s:
        raise ValueError("no samples")
    x = (len(s) - 1) * p / 100.0
    lo = math.floor(x)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (x - lo)


def median(values):
    return quantile(values, 50)


def tail_percentile(n):
    """Highest percentile (to 0.1) with at least ten samples beyond
    it; below 20 samples no percentile of 50 or more qualifies and the
    median stands in."""
    if n < 20:
        return 50.0
    return min(99.9, math.floor(1000 * (1 - 10 / n)) / 10)


def tail(values):
    """(value, percentile, samples) of the tail of `values`."""
    p = tail_percentile(len(values))
    return quantile(values, p), p, len(values)


def error_rate(ops, checks):
    """(attempted, failed): an op fails if it threw or its result
    failed its check; a failed end-of-run check counts once more."""
    attempted = len(ops) + len(checks)
    failed = sum(1 for o in ops if not o["ok"]) + \
        sum(1 for c in checks if c["error"] is not None)
    return attempted, failed


def samples(ops, classes):
    return [o["s"] for o in ops if o["cls"] in classes]


def workload_metrics(workload, report):
    """Per-workload named metrics: {name: (value, unit, note)}."""
    ops = report["ops"]
    wall = report["timed_wall_s"]
    out = {}
    if workload == "ingest":
        rows = sum(o["rows"] for o in ops)
        out["write_rows_per_s"] = (rows / wall, "rows/s", "")
        v, p, n = tail(samples(ops, LARGE_WRITES))
        out["write_tail_s"] = (v, "s", f"p{p:g} of {n}")
        app = samples(ops, (APPEND,))
        out["append_p50_s"] = (median(app), "s", f"of {len(app)}")
        v, p, n = tail(app)
        out["append_tail_s"] = (v, "s", f"p{p:g} of {n}")
        info = report["info"]
        out["stored_bytes_per_user_byte"] = (
            info["stored_bytes"] / info["live_user_bytes"], "ratio", "")
    elif workload == "query":
        reads = [o for o in ops if o["cls"] != APPEND]
        lat = [o["s"] for o in reads]
        out["read_p50_s"] = (median(lat), "s", f"of {len(lat)}")
        v, p, n = tail(lat)
        out["read_tail_s"] = (v, "s", f"p{p:g} of {n}")
        out["read_rows_per_s"] = (sum(o["rows"] for o in reads) / sum(lat), "rows/s", "")
        app = samples(ops, (APPEND,))
        out["append_p50_s"] = (median(app), "s", f"of {len(app)}")
    elif workload == "pipeline":
        passes = report["passes"]
        for name in ("pass", "text", "dedup", "dml", "window"):
            out[f"{name}_s"] = (median([p[name] for p in passes]), "s",
                                f"median of {len(passes)} passes")
        slowest = [max(p[q] for q in report["info"]["queries"]) for p in passes]
        out["query_tail_s"] = (median(slowest), "s", "slowest query of a pass")
    return out


def gated(workload, report, corpus_rows=None):
    """(the gated end-to-end metrics, the workload's named metrics)"""
    named = workload_metrics(workload, report)
    named["peak_rss_mb"] = (report["info"]["peak_rss_mb"], "MB", "VmHWM of the JVM")
    if workload == "ingest":
        rows, p50 = named["write_rows_per_s"][0], named["append_p50_s"][0]
    elif workload == "query":
        rows, p50 = named["read_rows_per_s"][0], named["read_p50_s"][0]
    else:
        p50 = named["pass_s"][0]
        rows = corpus_rows / p50
    return {
        "setup_s": (report["setup"]["setup_s"], "s"),
        "rows_per_s": (rows, "rows/s"),
        "p50_s": (p50, "s"),
    }, named
