"""Pure helpers that turn recorded intervals and samples into metrics.

Times are seconds on the harness time line. An interval is a (start, end)
pair; a span is a dict with "id", "parent", "kind", "name", "t0", "t1".
"""
import statistics


def union_length(intervals):
    """Length of the union of intervals, so that jobs running concurrently
    (for example on an overlap pool) are counted once."""
    total = 0.0
    cur_s = cur_e = None
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


def clip(interval, lo, hi):
    """The part of an interval inside [lo, hi], or None."""
    s, e = max(interval[0], lo), min(interval[1], hi)
    return (s, e) if e > s else None


def busy_and_driver_only(wall, intervals):
    """(busy, driver-only) time of a window [wall0, wall1]: busy is the union
    of the job intervals clipped to the window, driver-only the rest. The
    two add up to the window's length and neither is negative."""
    lo, hi = wall
    clipped = [c for c in (clip(i, lo, hi) for i in intervals) if c]
    busy = union_length(clipped)
    return busy, max(0.0, (hi - lo) - busy)


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    covered = [c for c in (clip((ch["t0"], ch["t1"]), span["t0"], span["t1"])
                           for ch in children) if c]
    return (span["t1"] - span["t0"]) - union_length(covered)


def attribute(event_start, spans):
    """The innermost span whose interval contains event_start, or None.
    Among spans that contain the instant, the one that started last is the
    innermost (spans of one closed loop nest or do not overlap)."""
    best = None
    for s in spans:
        if s["t0"] <= event_start <= s["t1"]:
            if best is None or s["t0"] >= best["t0"]:
                best = s
    return best


def tail_index(n, beyond=10):
    """Index, in ascending order, of the highest sample with at least
    `beyond` samples above it, or None when there are too few samples."""
    i = n - 1 - beyond
    return i if i >= 0 else None


def percentile_summary(samples, beyond=10):
    """Median and tail of a sample set, with the tail's percentile and the
    sample count. The tail is the highest percentile that leaves at least
    `beyond` samples beyond it; with fewer samples it is the maximum and
    its percentile is reported as 100."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        return None
    i = tail_index(n, beyond)
    if i is None:
        tail, pct = xs[-1], 100.0
    else:
        tail, pct = xs[i], 100.0 * (i + 1) / n
    return {"p50": statistics.median(xs), "tail": tail,
            "tail_pct": round(pct, 1), "n": n}


def rate(count, seconds):
    """Items per second, or 0 when no time passed."""
    return count / seconds if seconds > 0 else 0.0


def write_amp(bytes_written, user_bytes):
    """Bytes written under the table directory per user byte submitted."""
    return bytes_written / user_bytes if user_bytes > 0 else None


def space_amp(table_bytes, compacted_bytes):
    """Table directory bytes per byte of a compacted copy of the live rows."""
    return table_bytes / compacted_bytes if compacted_bytes > 0 else None


STREAM_PHASES = ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit",
                 "commitOffsets")


def stream_layer(batches, built_s):
    """Per-layer metrics of micro-batches, from their progress records
    ("run_id", "t0", "duration_ms" per phase, "state_rows",
    "state_mem_bytes", "state_commit_ms"): the batch count, each phase's
    time summed over batches, the part of `built_s` (the time spent
    building the streaming queries, which run them) outside any batch, and
    the state stores' size after each query's last batch and their commit
    time."""
    out = {"stream.batches": len(batches)}
    for phase in STREAM_PHASES:
        out[f"stream.{phase}_s"] = sum(b["duration_ms"].get(phase, 0) for b in batches) / 1e3
    in_batches = sum(b["duration_ms"].get("triggerExecution", 0) for b in batches) / 1e3
    out["stream.outside_batch_s"] = max(0.0, built_s - in_batches) if batches else 0.0
    last = {}
    for b in sorted(batches, key=lambda b: b["t0"]):
        last[b["run_id"]] = b
    out["stream.state_rows"] = sum(b["state_rows"] for b in last.values())
    out["stream.state_mem_mb"] = sum(b["state_mem_bytes"] for b in last.values()) / 2**20
    out["stream.state_commit_s"] = sum(b["state_commit_ms"] for b in batches) / 1e3
    return out
