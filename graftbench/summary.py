"""Summary arithmetic for the benchmark: percentiles, event-to-emit latency,
phase split, backlog and self time. Pure functions over plain data, so
test_summary.py can drive them with synthetic progress events and
generator logs."""
import math
import statistics
from datetime import datetime, timezone


def tail(samples, top=90, beyond=10):
    """The tail percentile to report: the highest nearest-rank percentile,
    at most `top`, with at least `beyond` samples above it. A sample too
    small for any percentile above the median to have `beyond` samples
    above it reports `top` itself, marked `short`. Returns the percentile,
    its value, the sample count and how many samples lie above it."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    rank = lambda p: max(math.ceil(p * n / 100), 1)
    p = next((p for p in range(top, 50, -1) if n - rank(p) >= beyond), top)
    return {"p": p, "value": xs[rank(p) - 1], "n": n, "above": n - rank(p),
            "short": n - rank(p) < beyond}


def iso_ms(ts):
    """Epoch ms of a progress event's ISO-8601 UTC timestamp."""
    t = datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc)
    return t.timestamp() * 1000.0


def batches(progress, query_names):
    """One record per micro-batch from raw progress events: query name,
    batch id, trigger start, commit time, durationMs phases, input rows,
    the file-source log offsets it read, watermark and state operators."""
    out = []
    for e in progress:
        p = e.get("progress")
        if not p:
            continue
        src = p["sources"][0]
        d = p.get("durationMs", {})
        start = iso_ms(p["timestamp"])
        wm = p.get("eventTime", {}).get("watermark")
        out.append({
            "query": query_names.get(p["id"], p["id"]), "batch": p["batchId"],
            "start_ms": start, "commit_ms": start + d.get("triggerExecution", 0),
            "duration": d, "rows": p.get("numInputRows", 0),
            "from": _log_offset(src.get("startOffset")), "to": _log_offset(src.get("endOffset")),
            "watermark_ms": iso_ms(wm) if wm else None,
            "state": p.get("stateOperators", [])})
    return sorted(out, key=lambda b: (b["query"], b["start_ms"]))


def _log_offset(o):
    if o is None:
        return -1
    if isinstance(o, dict):
        return int(o["logOffset"])
    return int(o)


def caught_up_ms(batch_list, restart_ms):
    """When both queries had committed everything that landed before the
    restart: the latest commit of a batch with input, per query, after it."""
    return max(max(b["commit_ms"] for b in batch_list if b["query"] == q
                   and b["start_ms"] >= restart_ms and b["rows"] > 0)
               for q in ("counts", "durations"))


def phase_of(b, marks):
    """`steady`, `catchup` or None (warm-up, stop, restarts) for a batch,
    from the phase marks: steady runs from the first steady file's due
    time to the stop command; catch-up from the drain command on."""
    if marks["steady_ms"] <= b["start_ms"] < marks["stop_ms"]:
        return "steady"
    if b["start_ms"] >= marks["drain_ms"]:
        return "catchup"
    return None


def emit_latencies(files, file_batch, batch_list, query="durations"):
    """Due-to-commit latency (ms) of each steady file: the time from the
    file's due time at the generator to the commit of the `query`
    micro-batch that read it. `file_batch` maps file name to the source
    log offset it was listed under; a batch reads offsets (from, to]."""
    qb = [b for b in batch_list if b["query"] == query and b["rows"] > 0]
    out = []
    for f in files:
        if f["phase"] != "steady":
            continue
        off = file_batch.get(f["file"])
        hit = next((b for b in qb if off is not None and b["from"] < off <= b["to"]), None)
        if hit is None:
            raise ValueError(f"steady file {f['file']} was never committed by {query}")
        out.append(hit["commit_ms"] - f["due_ms"])
    return out


def backlog_at_starts(files, file_batch, batch_list, query="durations"):
    """Files written but not yet read at each `query` batch start: written
    before the start and listed under an offset the batch has not reached."""
    out = []
    for b in batch_list:
        if b["query"] != query:
            continue
        waiting = sum(1 for f in files
                      if f["written_ms"] <= b["start_ms"] and file_batch.get(f["file"], math.inf) > b["from"])
        out.append(waiting)
    return out


def backlog_grows(backlog, slack=2):
    """True when the steady phase falls behind: every batch start in the
    last third finds more files waiting than any in the first third did,
    plus `slack`. The first steady batch is left out, since it starts while
    the phase's first files are still arriving."""
    b = backlog[1:]
    if len(b) < 3:
        return False
    third = len(b) // 3
    return min(b[-third:]) > max(b[:third]) + slack


def self_times(spans):
    """Self time (ms) summed per span name: each span's duration minus the
    part of it its children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, edge = 0.0, s["start_ms"]
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start_ms"]):
            lo, hi = max(c["start_ms"], edge), min(c["end_ms"], s["end_ms"])
            if hi > lo:
                covered += hi - lo
                edge = hi
        out[s["name"]] = out.get(s["name"], 0.0) + (s["end_ms"] - s["start_ms"]) - covered
    return out


def median(xs):
    return statistics.median(xs) if xs else 0.0
