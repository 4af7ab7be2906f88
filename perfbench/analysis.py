"""Pure functions that turn the harness's raw record into metrics.

Nothing here starts a process or touches the file system, so the rules
(percentiles, file-to-gold attribution, family assignment, span self
time) are unit-tested in test_analysis.py.
"""

import datetime
import math
import statistics


# ---------------------------------------------------------------------------
# percentiles

def percentile(values, p):
    """Nearest-rank percentile: the smallest value with at least p % of
    the samples at or below it."""
    s = sorted(values)
    if not s:
        raise ValueError("percentile of no samples")
    rank = max(1, math.ceil(p / 100.0 * len(s)))
    return s[rank - 1]


TAIL_CANDIDATES = (99.9, 99.5, 99.0, 98.0, 95.0, 90.0, 80.0, 75.0, 50.0)


def tail_percentile(values, min_beyond=10):
    """The highest candidate percentile with at least `min_beyond`
    samples above its rank, as (p, value, samples_beyond); None when
    even the median lacks that many."""
    n = len(values)
    for p in TAIL_CANDIDATES:
        beyond = n - max(1, math.ceil(p / 100.0 * n))
        if beyond >= min_beyond:
            return p, percentile(values, p), beyond
    return None


def median(values):
    return statistics.median(values) if values else None


# ---------------------------------------------------------------------------
# streaming progress

def parse_ts_ms(ts):
    """Progress timestamps are ISO-8601 UTC with milliseconds."""
    dt = datetime.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ")
    return dt.replace(tzinfo=datetime.timezone.utc).timestamp() * 1000.0


def batch_start_ms(p):
    return parse_ts_ms(p["timestamp"])


def batch_end_ms(p):
    return batch_start_ms(p) + p["durationMs"].get("triggerExecution", 0)


def rows_out(p):
    """Rows a silver batch emitted: the dedup operator's newly stored
    rows. The parquet sink reports numOutputRows = -1, and nothing
    after the dedup drops rows."""
    ops = p.get("stateOperators") or []
    return ops[0]["numRowsUpdated"] if ops else 0


def data_batches(progress):
    """Batches that read input, in batch order (no-data batches, which
    only advance the watermark, are left out)."""
    return sorted((p for p in progress if p["numInputRows"] > 0),
                  key=lambda p: p["batchId"])


class AttributionError(Exception):
    pass


def attribute(file_rows, silver, gold, gold_commit_ms):
    """When each file's rows are all in gold.

    file_rows: rows per file, in the order the files entered bronze.
    silver, gold: progress dicts of the silver and gold queries.
    gold_commit_ms: {gold batch id: wall ms of its sink commit}.

    A file is inside silver after the first silver batch whose running
    input total covers the file's running row total. Its surviving rows
    are in gold after the first gold batch whose running input total
    covers silver's running output total at that batch. When that
    silver batch emitted nothing new, the gold batch may predate it, so
    the file completes when that silver batch ends.

    Returns one dict per file (None for a file that never reached gold)
    with `reach_ms`, the silver batch's `silver_start_ms` and
    `silver_end_ms`, and the gold batch's `gold_start_ms` (None when no
    gold batch was needed). Raises AttributionError when gold's total
    input differs from silver's total output: the run is invalid.
    """
    s_in = s_out = 0
    s_marks = []
    for p in data_batches(silver):
        s_in += p["numInputRows"]
        s_out += rows_out(p)
        s_marks.append((s_in, s_out, batch_start_ms(p), batch_end_ms(p)))
    g_in = 0
    g_marks = []
    for p in data_batches(gold):
        g_in += p["numInputRows"]
        g_marks.append((g_in, batch_start_ms(p),
                        gold_commit_ms.get(p["batchId"], batch_end_ms(p))))
    if g_in != s_out:
        raise AttributionError(
            "gold input %d != silver output %d" % (g_in, s_out))
    out = []
    total = si = gi = 0
    for rows in file_rows:
        total += rows
        while si < len(s_marks) and s_marks[si][0] < total:
            si += 1
        if si == len(s_marks):
            out.append(None)
            continue
        _, need, s_start, s_end = s_marks[si]
        before = s_marks[si - 1][1] if si > 0 else 0
        rec = {"silver_start_ms": s_start, "silver_end_ms": s_end,
               "gold_start_ms": None, "reach_ms": s_end}
        if need > before:
            while gi < len(g_marks) and g_marks[gi][0] < need:
                gi += 1
            if gi == len(g_marks):
                out.append(None)
                continue
            rec["gold_start_ms"] = g_marks[gi][1]
            rec["reach_ms"] = max(s_end, g_marks[gi][2])
        out.append(rec)
    return out


def bronze_batches(file_rows, bronze):
    """Per file, (start, end) ms of the bronze batch that read its last
    row, or None."""
    marks = []
    total = 0
    for p in data_batches(bronze):
        total += p["numInputRows"]
        marks.append((total, batch_start_ms(p), batch_end_ms(p)))
    out = []
    total = i = 0
    for rows in file_rows:
        total += rows
        while i < len(marks) and marks[i][0] < total:
            i += 1
        out.append(marks[i][1:] if i < len(marks) else None)
    return out


def batch_stats(progress):
    """Median per-phase durations and counts of one streaming layer."""
    data = data_batches(progress)

    def dur(p, *keys):
        return sum(p["durationMs"].get(k, 0) for k in keys)
    ops = [op for p in progress for op in (p.get("stateOperators") or [])]
    return {
        "batches": len(data),
        "batch_ms_p50": median([dur(p, "triggerExecution") for p in data]),
        "plan_ms_p50": median([dur(p, "queryPlanning") for p in data]),
        "offsets_ms_p50": median([dur(p, "latestOffset", "getBatch")
                                  for p in data]),
        "commit_ms_p50": median([dur(p, "walCommit", "commitOffsets")
                                 for p in data]),
        "addbatch_ms_p50": median([dur(p, "addBatch") for p in data]),
        "state_rows_max": max((op["numRowsTotal"] for op in ops), default=0),
        "state_bytes_max": max((op["memoryUsedBytes"] for op in ops),
                               default=0),
        "late_dropped": sum(op.get("numRowsDroppedByWatermark", 0)
                            for op in ops),
    }


# ---------------------------------------------------------------------------
# query families

def family_of(name, rule):
    """The family a query name belongs to under `rule` (families.json).

    Exact names win over `contains` matches, which win over prefixes;
    a name no rule matches goes to the rule's `rest` family. Raises
    ValueError when two families claim a name at the same level, so a
    rule edit cannot silently make an assignment depend on dict order.
    """
    for level in ("names", "contains", "prefixes"):
        hits = set()
        for fam, spec in rule["families"].items():
            for pat in spec.get(level, []):
                if ((level == "names" and name == pat) or
                        (level == "contains" and pat in name) or
                        (level == "prefixes" and name.startswith(pat))):
                    hits.add(fam)
        if len(hits) > 1:
            raise ValueError("%s matches families %s at level %s"
                             % (name, sorted(hits), level))
        if hits:
            return hits.pop()
    return rule["rest"]


# ---------------------------------------------------------------------------
# spans

def covered_ms(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of `intervals`."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                     if min(b, hi) > max(a, lo))
    total = 0.0
    cur_a = cur_b = None
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


def self_times(spans):
    """{span id: its duration minus the part its children cover}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start_ms"],
                                                     s["end_ms"]))
    return {s["id"]: (s["end_ms"] - s["start_ms"]) -
            covered_ms(children.get(s["id"], []), s["start_ms"], s["end_ms"])
            for s in spans}
