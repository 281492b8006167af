"""Turns one run's raw JVM output into the benchmark's metrics.

Pure functions over plain data, so tests can drive them with hand-built
samples and spans (perfbench/tests).
"""
import statistics
from collections import defaultdict

END_TO_END = ["setup_s", "peak_heap_mb", "p50_s", "tail_s", "throughput_per_s"]
MODULES = ["triplestore", "lww", "relational", "temporal", "skew", "docs",
           "vectors", "graph", "multimodal", "plans", "streaming"]
MODULE_METRICS = ["wall_s", "construct_s", "driver_s", "jobs", "tasks",
                  "task_cpu_s", "gc_s", "shuffle_mb"]
SERVE_OPS = ["search", "upsert", "merge"]
OP_METRICS = ["jobs", "plan_s", "driver_s", "task_run_s", "rows_read_per_row"]
INGEST_METRICS = ["commit.jobs", "commit.driver_s", "commit.task_cpu_s",
                  "commit.shards_rewritten", "commit.write_amp", "store.files",
                  "readback.jobs", "readback.driver_s",
                  "readback.rows_read_per_row"]
SETUP_METRICS = ["setup.session_s", "setup.store_s", "setup.layouts_s"]
LATENCY_METRICS = ["search.p50_s", "search.tail_s", "upsert.p50_s",
                   "merge.p50_s", "commit.p50_s", "readback.p50_s",
                   "ingest.rows_per_s", "check.failed_share"]
SELF_LAYERS = ["request", "construct", "plan", "execute", "job"]

PER_LAYER = ([m + "." + k for m in MODULES for k in MODULE_METRICS]
             + [o + "." + k for o in SERVE_OPS for k in OP_METRICS]
             + INGEST_METRICS + SETUP_METRICS + LATENCY_METRICS
             + ["self.%s_s" % l for l in SELF_LAYERS])

UNITS = {"setup_s": "s", "peak_heap_mb": "MB", "p50_s": "s", "tail_s": "s",
         "throughput_per_s": "1/s"}


def unit(name):
    if name in UNITS:
        return UNITS[name]
    leaf = name.rsplit(".", 1)[-1]
    if leaf.endswith("_s"):
        return "s"
    if leaf.endswith("_mb"):
        return "MB"
    if leaf in ("rows_per_s",):
        return "1/s"
    if leaf in ("write_amp", "rows_read_per_row", "failed_share"):
        return "ratio"
    return "count"


def tail(values):
    """The highest percentile with at least ten samples beyond it.

    Returns (value, percentile): the sample with exactly ten samples ranked
    after it, and its rank as a percentile. Below 20 samples that rank
    would fall under the median, so the maximum is the tail (percentile
    100)."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0
    if n < 20:
        return xs[-1], 100.0
    return xs[n - 11], 100.0 * (n - 10) / n


def median(values):
    return statistics.median(values) if values else 0.0


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(iv for iv in intervals if iv[1] > iv[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Self time of each span: its duration minus the part of its interval
    its child spans cover. `spans` are dicts with id, start, end, parent."""
    children = defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s)
    out = {}
    for s in spans:
        covered = union_length([(max(c["start"], s["start"]), min(c["end"], s["end"]))
                                for c in children[s["id"]]])
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def parent_listener_spans(spans, slack=1000):
    """Gives each job span the innermost benchmark span of its request that
    contains its start, and each task span the job (else benchmark span) of
    its request that contains its start. Listener times have millisecond
    resolution, hence `slack` microseconds of tolerance."""
    by_req = defaultdict(lambda: {"bench": [], "job": []})
    for s in spans:
        if s["name"] != "task":
            by_req[s["req"]]["job" if s["name"] == "job" else "bench"].append(s)

    def innermost(cands, t):
        best = None
        for c in cands:
            if c["start"] - slack <= t <= c["end"] + slack and (
                    best is None or c["start"] >= best["start"]):
                best = c
        return best

    for s in spans:
        if s["name"] == "job":
            p = innermost(by_req[s["req"]]["bench"], s["start"])
            s["parent"] = p["id"] if p else -1
    for s in spans:
        if s["name"] == "task":
            r = by_req[s["req"]]
            p = innermost(r["job"], s["start"]) or innermost(r["bench"], s["start"])
            s["parent"] = p["id"] if p else -1
    return spans


def task_free_time(req_span, tasks):
    """Part of a request's wall with none of its tasks running."""
    s, e = req_span["start"], req_span["end"]
    return (e - s) - union_length([(max(t["start"], s), min(t["end"], e)) for t in tasks])


def _parse_tag(tag):
    _, kind, req = tag.split("|", 2)
    return kind, req


def layer_metrics(raw):
    """Per-layer metrics of a traced run; gate requests are tagged with
    their entry's module."""
    m = {k: 0.0 for k in PER_LAYER}
    t = raw.get("trace_data") or {"counters": {}, "spans": []}
    counters = t["counters"]
    spans = [dict(id=s[0], name=s[1], start=s[2], end=s[3], parent=s[4], req=s[5])
             for s in t["spans"]]
    parent_listener_spans(spans)
    window = lambda tag: "|setup" not in tag and not tag.endswith("#setup")
    reqs = [s for s in spans if s["parent"] == 0 and s["name"] != "task"
            and s["name"] != "job" and s["req"].startswith("pb|")]
    tasks_of = defaultdict(list)
    for s in spans:
        if s["name"] == "task":
            tasks_of[s["req"]].append(s)

    def driver_s(rs):
        return sum(task_free_time(r, [x for x in tasks_of[r["req"]]
                                      if r["start"] - 1000 <= x["start"] <= r["end"]])
                   for r in rs) / 1e6

    def tags(kind, in_window=True):
        return {tag: c for tag, c in counters.items()
                if _parse_tag(tag)[0] == kind and (window(tag) or not in_window)}

    def total(cs, k):
        return sum(c[k] for c in cs.values())

    samples = raw["samples"]
    by_op = defaultdict(list)
    for op, _, lat, ok, rows in samples:
        by_op[op].append((lat, rows))

    # gate: per pass, summed over each module's entries
    passes = max(1, raw.get("extra", {}).get("passes", 1))
    for mod in MODULES:
        cs = tags(mod)
        rs = [r for r in reqs if r["name"] == mod and window(r["req"])]
        if not cs and not rs:
            continue
        ids = {r["id"] for r in rs}
        m[mod + ".wall_s"] = sum(r["end"] - r["start"] for r in rs) / 1e6 / passes
        m[mod + ".construct_s"] = sum(s["end"] - s["start"] for s in spans
                                      if s["name"] == "construct" and s["parent"] in ids) / 1e6 / passes
        m[mod + ".driver_s"] = driver_s(rs) / passes
        m[mod + ".jobs"] = total(cs, "jobs") / passes
        m[mod + ".tasks"] = total(cs, "tasks") / passes
        m[mod + ".task_cpu_s"] = total(cs, "cpu_ns") / 1e9 / passes
        m[mod + ".gc_s"] = total(cs, "gc_ms") / 1e3 / passes
        m[mod + ".shuffle_mb"] = total(cs, "shuffle_write_bytes") / 1e6 / passes

    # serve: per-op means over the measured window
    for op in SERVE_OPS:
        cs = tags(op)
        rs = [r for r in reqs if r["name"] == op and window(r["req"])]
        n = max(1, len(rs))
        rows = sum(r for _, r in by_op[op])
        m[op + ".jobs"] = total(cs, "jobs") / n
        m[op + ".plan_s"] = total(cs, "plan_ms") / 1e3 / n
        m[op + ".driver_s"] = driver_s(rs) / n
        m[op + ".task_run_s"] = total(cs, "run_ms") / 1e3 / n
        m[op + ".rows_read_per_row"] = total(cs, "records_read") / max(1, rows)

    # ingest: the stream's jobs carry one tag, so commit counts cover every
    # commit of the run, set-up's included
    extra = raw.get("extra", {})
    commits = extra.get("commits", 0)
    if commits:
        cs = tags("commit", in_window=False)
        rs = [r for r in reqs if r["name"] == "commit"]
        m["commit.jobs"] = total(cs, "jobs") / commits
        m["commit.driver_s"] = driver_s(rs) / max(1, len(rs))
        m["commit.task_cpu_s"] = total(cs, "cpu_ns") / 1e9 / commits
        m["commit.shards_rewritten"] = extra["shards_rewritten"] / commits
        m["commit.write_amp"] = total(cs, "bytes_written") / max(1, extra["update_bytes"])
        m["store.files"] = extra["store_files"]
        cs = tags("readback")
        rs = [r for r in reqs if r["name"] == "readback" and window(r["req"])]
        m["readback.jobs"] = total(cs, "jobs") / max(1, len(rs))
        m["readback.driver_s"] = driver_s(rs) / max(1, len(rs))
        m["readback.rows_read_per_row"] = total(cs, "records_read") / max(
            1, sum(r for _, r in by_op["readback"]))
        m["ingest.rows_per_s"] = sum(r for _, r in by_op["commit"]) / max(
            1e-9, sum(lat for lat, _ in by_op["commit"]))

    parts = raw["setup_parts"]
    m["setup.session_s"] = parts["session_s"]
    m["setup.store_s"] = parts["store_s"]
    m["setup.layouts_s"] = parts["layouts_s"]

    lat = {op: [l for l, _ in v] for op, v in by_op.items()}
    for op in ["search", "upsert", "merge", "commit", "readback"]:
        m[op + ".p50_s"] = median(lat.get(op, []))
    m["search.tail_s"] = tail(lat.get("search", []))[0]
    m["check.failed_share"] = raw["failed"] / max(1, raw["attempted"])

    st = self_times(spans)
    win_reqs = [r for r in reqs if window(r["req"])]
    win_ids = {r["id"] for r in win_reqs}
    root_of = {}
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        p, hops = s, 0
        while p and p["parent"] not in (0, -1) and hops < 8:
            p, hops = by_id.get(p["parent"]), hops + 1
        root_of[s["id"]] = p["id"] if p else None
    n = max(1, len(win_reqs))
    for layer in SELF_LAYERS:
        name = None if layer == "request" else layer
        m["self.%s_s" % layer] = sum(
            st[s["id"]] for s in spans
            if root_of.get(s["id"]) in win_ids
            and ((s["id"] in win_ids) if name is None else s["name"] == name)) / 1e6 / n
    return m


def end_to_end(raw):
    lats = [s[2] for s in raw["samples"]]
    return {
        "setup_s": raw["setup_parts"]["session_s"] + raw["setup_s"],
        "peak_heap_mb": raw["heap_mb"],
        "p50_s": median(lats),
        "tail_s": tail(lats)[0],
        "throughput_per_s": len(lats) / raw["window_s"],
    }


def result_line(raw, traced):
    values = layer_metrics(raw) if traced else end_to_end(raw)
    names = PER_LAYER if traced else END_TO_END
    return {
        "correct": raw["failed"] == 0 and raw["attempted"] > 0,
        "attempted": raw["attempted"],
        "failed": raw["failed"],
        "metrics": {k: {"value": values[k], "unit": unit(k)} for k in names},
    }
