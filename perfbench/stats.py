"""Measurement helpers: percentiles and the tail-sample rule, interval
unions, span self time, and latency read from a streaming checkpoint's
`sources/` and `commits/` logs."""
import json
import math
import os

MIN_TAIL = 10  # samples that must lie beyond a reported percentile


def percentile(values, q):
    """The q-th percentile (0..100) by linear interpolation between the
    closest ranks, as numpy's default method computes it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values):
    return percentile(values, 50)


def tail_samples(n, q):
    """How many of `n` samples lie beyond the q-th percentile."""
    return int(math.floor(n * (100 - q) / 100.0 + 1e-9))


def tail_ok(n, q, min_tail=MIN_TAIL):
    """Whether the q-th percentile of `n` samples has at least `min_tail`
    samples beyond it, the rule for reporting a tail percentile."""
    return tail_samples(n, q) >= min_tail


def highest_supported_percentile(n, min_tail=MIN_TAIL):
    """The highest percentile that `n` samples support under the tail rule
    (None when there are too few samples for any tail)."""
    if n < min_tail * 2:
        return None
    return 100.0 * (1 - min_tail / n)


def union_length(intervals):
    """Total length covered by possibly overlapping [start, end] intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
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
    """Self time per layer: each span's duration minus the part of its
    interval that its child spans cover, summed by layer. Spans are dicts
    with id, parent, layer, start_ns and end_ns."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        a, b = s["start_ns"], s["end_ns"]
        covered = union_length([(max(a, c["start_ns"]), min(b, c["end_ns"]))
                                for c in children.get(s["id"], [])
                                if c["end_ns"] > a and c["start_ns"] < b])
        out[s["layer"]] = out.get(s["layer"], 0) + (b - a - covered)
    return out


def _log_entries(path):
    """JSON entries of one metadata-log file (first line is the version)."""
    with open(path) as f:
        lines = f.read().splitlines()
    return [json.loads(line) for line in lines[1:] if line.strip()]


def file_batches(checkpoint):
    """Map each input file's name to the micro-batch that consumed it, from
    the file source logs under `<checkpoint>/sources/*/` (compacted logs
    included). With several sources the file counts as consumed by the
    latest batch that read it."""
    out = {}
    root = os.path.join(checkpoint, "sources")
    for src in sorted(os.listdir(root)):
        d = os.path.join(root, src)
        for name in os.listdir(d):
            if name.startswith(".") or name.endswith(".crc") or name.endswith(".tmp"):
                continue
            for e in _log_entries(os.path.join(d, name)):
                f = os.path.basename(e["path"])
                out[f] = max(out.get(f, -1), int(e["batchId"]))
    return out


def _log_times_ns(checkpoint, log):
    d = os.path.join(checkpoint, log)
    return {int(n): os.stat(os.path.join(d, n)).st_mtime_ns
            for n in os.listdir(d) if n.isdigit()}


def commit_times_ns(checkpoint):
    """Commit time of every committed micro-batch: the mtime of its file in
    `<checkpoint>/commits/`, written once the batch's sink output is done."""
    return _log_times_ns(checkpoint, "commits")


def pending_files(checkpoint, files, due_ns):
    """For every micro-batch, how many input files were due but not yet
    consumed by an earlier batch when it was planned (its `offsets/` write)."""
    batch_of = file_batches(checkpoint)
    out = []
    for b, t in sorted(_log_times_ns(checkpoint, "offsets").items()):
        out.append(sum(1 for f, d in zip(files, due_ns)
                       if d <= t and batch_of.get(f, b) >= b))
    return out


def file_latencies_ms(checkpoint, files, due_ns):
    """For each file, its due time to the commit of the batch that consumed
    it, in ms (None for a file no committed batch consumed)."""
    batch_of = file_batches(checkpoint)
    commits = commit_times_ns(checkpoint)
    out = []
    for f, due in zip(files, due_ns):
        b = batch_of.get(f)
        out.append(None if b is None or b not in commits else (commits[b] - due) / 1e6)
    return out
