"""Pure helpers of the benchmark: percentile selection and the join of
published files to the stream triggers that committed them."""
import json
import math
import os
import statistics


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else float("nan")


def tail_percentile(xs, beyond=10):
    """The highest whole percentile, at or above the median, that leaves
    at least `beyond` samples above it (nearest rank); the maximum when
    even the median leaves fewer. Returns (percentile, value)."""
    s = sorted(xs)
    n = len(s)
    if n < 2 * beyond:
        return 100, s[-1] if s else float("nan")
    p = 100 * (n - beyond) // n
    while n - math.ceil(n * p / 100) < beyond:
        p -= 1
    return p, s[math.ceil(n * p / 100) - 1]


def _log_entries(dirpath):
    """JSON entries of a Spark metadata log directory (`<batch>` and
    `<batch>.compact` files, each a version line then one JSON per line)."""
    if not os.path.isdir(dirpath):
        return
    for name in os.listdir(dirpath):
        if name.startswith(".") or name.endswith(".tmp"):
            continue
        with open(os.path.join(dirpath, name)) as f:
            for line in f.read().splitlines()[1:]:
                if line.startswith("{"):
                    yield name, json.loads(line)


def file_batches(checkpoint):
    """file name -> id of the query micro-batch that read it.

    The file source numbers its own log entries; a query batch's entry in
    the offset log records the last source entry it covers. Stateful
    queries also run batches without new data (to advance the watermark),
    so the two numberings drift apart: a file belongs to the first query
    batch whose offset reaches its source entry."""
    source = {}
    for _, e in _log_entries(os.path.join(checkpoint, "sources", "0")):
        name = os.path.basename(e["path"])
        source[name] = min(source.get(name, e["batchId"]), e["batchId"])
    offsets = []
    d = os.path.join(checkpoint, "offsets")
    for n in (os.listdir(d) if os.path.isdir(d) else []):
        if n.isdigit():
            with open(os.path.join(d, n)) as f:
                lines = f.read().splitlines()
            offsets.append((int(n), json.loads(lines[2])["logOffset"]))
    offsets.sort()
    out = {}
    for name, s in source.items():
        out[name] = next((b for b, reach in offsets if reach >= s), None)
    return out


def commit_times_us(checkpoint):
    """batch id -> wall time (µs) its commit log entry was written."""
    d = os.path.join(checkpoint, "commits")
    if not os.path.isdir(d):
        return {}
    return {int(n): os.stat(os.path.join(d, n)).st_mtime_ns // 1000
            for n in os.listdir(d) if n.isdigit()}


def file_latencies(checkpoint, generated):
    """file -> ms from the file's due time to the commit of the batch
    that took it, or None when no committed batch took it."""
    batches = file_batches(checkpoint)
    commits = commit_times_us(checkpoint)
    out = {}
    for g in generated:
        b = batches.get(g["file"])
        c = commits.get(b) if b is not None else None
        out[g["file"]] = None if c is None else (c - g["due_us"]) / 1000
    return out


def peak_backlog(latency_ms, generated):
    """Most files published but not yet committed at any publish instant."""
    spans = [(g["written_us"], g["due_us"] + latency_ms[g["file"]] * 1000)
             for g in generated if latency_ms.get(g["file"]) is not None]
    return max((sum(1 for w, c in spans if w <= t < c) for t, _ in spans), default=0)
