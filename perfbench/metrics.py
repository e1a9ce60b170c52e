"""Pure metric logic of the benchmark: percentiles with their sample-count
rule, span self time, job-to-module attribution from Spark call sites, and
the serve-mixed stale-read checker. No I/O; unit-tested in perfbench/tests.
"""
import math
import re
import statistics

# --- percentiles -----------------------------------------------------------

TAIL_SAMPLES = 10


def percentile(values, p):
    """Nearest-rank p-th percentile (0 < p <= 100) of a non-empty sample."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    k = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[k - 1]


def samples_beyond(n, p):
    """How many of n samples lie strictly beyond the nearest-rank p-th
    percentile."""
    return n - max(1, math.ceil(p / 100.0 * n))


def tail_ok(n, p):
    """A p-th percentile is reportable only with at least ten samples
    beyond it."""
    return samples_beyond(n, p) >= TAIL_SAMPLES


def quartiles(values):
    """(q1, median, q3) as statistics.quantiles(n=4) gives them; a single
    value is its own quartiles."""
    if len(values) < 2:
        return values[0], values[0], values[0]
    return tuple(statistics.quantiles(values, n=4))


# --- spans -----------------------------------------------------------------

def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
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
    """Self time of each span: its duration minus the part of its interval
    that its children cover (overlapping children are counted once; a
    child's time outside its parent is ignored). Spans are dicts with
    `id`, `parent`, `start`, `end`."""
    children = {}
    for s in spans:
        children.setdefault(s.get("parent"), []).append(s)
    out = {}
    for s in spans:
        covered = union_length(
            (max(c["start"], s["start"]), min(c["end"], s["end"]))
            for c in children.get(s["id"], [])
            if min(c["end"], s["end"]) > max(c["start"], s["start"]))
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def assign_parents(spans, candidates):
    """Give each span in `spans` the innermost candidate span whose interval
    contains its start (ties go to the latest-starting candidate)."""
    cands = sorted(candidates, key=lambda c: (c["start"], -c["end"]))
    for s in spans:
        best = None
        for c in cands:
            if c["start"] > s["start"]:
                break
            if c["end"] >= s["start"]:
                best = c
        s["parent"] = best["id"] if best else None
    return spans


# --- job attribution -------------------------------------------------------

MODULES = ("queries", "operators", "state", "streaming", "serving", "core")
_FRAME = re.compile(r"^\s*(?:at\s+)?graft\.([A-Za-z0-9_$.]+?)\(([A-Za-z0-9_]+)\.scala")


def _graft_frame(site):
    for line in site.splitlines():
        m = _FRAME.match(line)
        if m:
            parts = m.group(1).split(".")
            return (parts[0] if len(parts) > 1 and parts[0] in MODULES else "core"), m.group(2)
    return None


def attribute(call_site, sql_call_site="", in_stream=False):
    """(module, file) of a Spark job from the nearest graft frame of its
    long-form call site. A job that AQE submits from its own thread pool
    carries only that pool's stack; it is attributed by the call site of
    the thread that started its SQL execution instead. Jobs with no graft
    frame belong to `streaming` when they run inside a micro-batch
    (`in_stream`), to `queries` when they come from the benchmark's own sink
    of a query, and to `spark` otherwise. `materialize` is reported
    separately (see is_checkpoint)."""
    site = call_site
    if sql_call_site and not _graft_frame(call_site) and "perfbench." not in call_site:
        site = sql_call_site
    found = _graft_frame(site)
    if found:
        return found
    if in_stream:
        return "streaming", None
    if "perfbench." in site:
        return "queries", None
    return "spark", None


def is_checkpoint(call_site):
    """True when the job was launched by a localCheckpoint call."""
    first = call_site.splitlines()[0] if call_site else ""
    return "localCheckpoint" in first or "checkpoint" in first.lower()


# --- serve-mixed correctness -------------------------------------------------

def check_read(expected_by_version, response, v_lo, v_hi):
    """Classify one read. `expected_by_version[v]` is the correct response
    after v commits; commits finished before the read started number
    `v_lo`, commits started before it ended number `v_hi`. Returns "ok",
    "stale" (matches only a version older than v_lo) or "wrong"."""
    if any(expected_by_version[v] == response
           for v in range(v_lo, min(v_hi, len(expected_by_version) - 1) + 1)):
        return "ok"
    if any(expected_by_version[v] == response for v in range(0, v_lo)):
        return "stale"
    return "wrong"


def versions_at(commit_ends, commit_starts, start, end):
    """(v_lo, v_hi) for a read spanning [start, end]: commits finished
    before it started, and commits started before it ended."""
    v_lo = sum(1 for e in commit_ends if e <= start)
    v_hi = sum(1 for s in commit_starts if s < end)
    return v_lo, max(v_lo, v_hi)
