"""Span arithmetic for the traced run.

A span is a dict with `id`, `parent` (an id or None), `level`, `name`,
`start_ms` and `end_ms`. The levels nest workload (one timed pass) ->
query or pipeline -> construct or exec (queries only) -> job -> stage.
"""


def covered(intervals, lo, hi):
    """Length of the union of `intervals` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def children(spans):
    out = {}
    for s in spans:
        out.setdefault(s["parent"], []).append(s)
    return out


def self_times(spans):
    """Span id -> self time (ms): its duration minus the part its children
    cover. Children are clipped to the parent, so self time is never
    negative and never counts a child twice."""
    kids = children(spans)
    out = {}
    for s in spans:
        iv = [(c["start_ms"], c["end_ms"]) for c in kids.get(s["id"], [])]
        dur = s["end_ms"] - s["start_ms"]
        out[s["id"]] = max(0.0, dur - covered(iv, s["start_ms"], s["end_ms"]))
    return out


def nesting_violations(spans, tol_ms=5.0):
    """Spans that stick out of their parent by more than `tol_ms` (Spark
    stamps jobs and stages in whole milliseconds, and pipeline spans are
    rebuilt from Runner's millisecond timings)."""
    by_id = {s["id"]: s for s in spans}
    bad = []
    for s in spans:
        p = by_id.get(s["parent"])
        if p and (s["start_ms"] < p["start_ms"] - tol_ms or s["end_ms"] > p["end_ms"] + tol_ms):
            bad.append(s["id"])
    return bad


def build(pass_rec, jobs, stages, workload):
    """The span tree of one traced pass: the pass, its operations (with
    construct/exec halves for queries), and the jobs and stages recorded
    inside it. Jobs are attributed through the query's job group or the
    `pipeline:<name>` job description; anything unattributed hangs off
    the pass."""
    lo, hi = pass_rec["start_ms"], pass_rec["end_ms"]
    root = f"pass{pass_rec['index']}"
    spans = [{"id": root, "parent": None, "level": "workload", "name": workload,
              "start_ms": lo, "end_ms": hi}]
    owner = {}
    for op in pass_rec["ops"]:
        if op.get("start_ms") is None:
            continue
        oid = f"{root}/{op['name']}"
        level = "pipeline" if workload == "migrate" else "query"
        spans.append({"id": oid, "parent": root, "level": level, "name": op["name"],
                      "start_ms": op["start_ms"], "end_ms": op["end_ms"]})
        halves = []
        if level == "query" and op.get("construct_end_ms") is not None:
            mid = op["construct_end_ms"]
            halves = [("construct", op["start_ms"], mid), ("exec", mid, op["end_ms"])]
            for half, a, b in halves:
                spans.append({"id": f"{oid}/{half}", "parent": oid, "level": half,
                              "name": f"{op['name']}.{half}", "start_ms": a, "end_ms": b})
        owner[op["name"]] = (oid, halves)
    job_parent = {}
    for j in jobs:
        if j["end_ms"] is None or j["start_ms"] < lo - 5 or j["start_ms"] > hi + 5:
            continue
        desc = j.get("description") or ""
        key = desc[len("pipeline:"):] if desc.startswith("pipeline:") else j.get("group")
        parent = root
        if key in owner:
            oid, halves = owner[key]
            parent = oid
            for half, a, b in halves:
                if a <= j["start_ms"] <= b + 5:
                    parent = f"{oid}/{half}"
                    break
        jid = f"{root}/job{j['job_id']}"
        job_parent[j["job_id"]] = jid
        spans.append({"id": jid, "parent": parent, "level": "job",
                      "name": key if key in owner else "",
                      "start_ms": j["start_ms"], "end_ms": j["end_ms"], "job_id": j["job_id"]})
    for s in stages:
        jid = job_parent.get(s["job_id"])
        if jid is None or not s["submit_ms"] or not s["complete_ms"]:
            continue
        spans.append({"id": f"{jid}/stage{s['stage_id']}.{s['attempt']}", "parent": jid,
                      "level": "stage", "name": str(s["stage_id"]),
                      "start_ms": s["submit_ms"], "end_ms": s["complete_ms"], "stage": s})
    return spans

