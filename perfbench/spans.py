"""Pure helpers of the benchmark: percentiles, micro-batch spans rebuilt
from streaming progress reports, and per-span self time."""
import json
from datetime import datetime

# the order in which a micro-batch runs the phases of `durationMs`
PHASES = ["latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
          "commitOffsets"]
PERCENTILES = [50, 75, 90, 95, 99, 99.9]


def percentile(xs, p):
    """Nearest-rank percentile `p` (0-100) of `xs`."""
    if not xs:
        raise ValueError("percentile of no samples")
    s = sorted(xs)
    k = max(1, -(-len(s) * p // 100))          # ceil(n * p / 100)
    return s[int(min(len(s), k)) - 1]


def highest_supported(n):
    """The highest of PERCENTILES with at least ten of `n` samples beyond
    it, or None when even the median has fewer."""
    ok = [p for p in PERCENTILES if round(n * (100 - p) / 100, 6) >= 10]
    return ok[-1] if ok else None


def iso_us(ts):
    """Epoch microseconds of a progress report's ISO timestamp."""
    return int(datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp() * 1_000_000)


def batch_spans(progress, names, first_id):
    """Spans for each streaming micro-batch: one per batch (trace id
    `<query id>/<batch id>`), with one child per `durationMs` phase laid
    end to end in execution order. `names` maps query id to name."""
    out = []
    nid = first_id
    for p in progress:
        d = p.get("durationMs", {})
        total = d.get("triggerExecution")
        if total is None:
            continue
        start = iso_us(p["timestamp"])
        trace = f'{p["id"]}/{p["batchId"]}'
        q = names.get(p["id"], "query")
        batch = {"id": nid, "parent": 0, "trace": trace, "name": f"stream.{q}.batch",
                 "start_us": start, "end_us": start + total * 1000}
        out.append(batch)
        nid += 1
        t = start
        for ph in PHASES:
            if ph in d:
                out.append({"id": nid, "parent": batch["id"], "trace": trace,
                            "name": f"stream.{ph}", "start_us": t,
                            "end_us": t + d[ph] * 1000})
                nid += 1
                t += d[ph] * 1000
    return out


def attach_stream_stages(spans):
    """Stage spans recorded under a micro-batch (parent -1, trace id of
    the batch) get the phase span they started in as parent, else the
    batch span."""
    by_trace = {}
    for s in spans:
        if s["parent"] >= 0 and s["trace"]:
            by_trace.setdefault(s["trace"], []).append(s)
    for s in spans:
        if s["parent"] != -1:
            continue
        cands = by_trace.get(s["trace"], [])
        inside = [c for c in cands if c["parent"] != 0 and c["start_us"] <= s["start_us"] < c["end_us"]]
        roots = [c for c in cands if c["parent"] == 0]
        s["parent"] = (inside or roots or [{"id": 0}])[0]["id"]
    return spans


def self_times(spans):
    """Self time of each span in microseconds: its duration minus the
    part of its interval that its children cover (overlapping children
    count once, parts outside the parent not at all)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start_us"], s["end_us"]))
    out = {}
    for s in spans:
        lo, hi = s["start_us"], s["end_us"]
        covered, cur = 0, lo
        for a, b in sorted(kids.get(s["id"], [])):
            a, b = max(a, cur), min(b, hi)
            if b > a:
                covered += b - a
                cur = b
        out[s["id"]] = max(0, hi - lo - covered)
    return out


def load_spans(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]
