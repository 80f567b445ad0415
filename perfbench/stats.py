"""Turns one harness run's raw samples and spans into the benchmark's metrics.

Pure functions only; run.py does the I/O. Times in spans are epoch
milliseconds, times in call records are seconds.
"""
import math
import statistics

# Percentiles considered for the tail, highest first.
TAIL_PERCENTILES = (99.9, 99, 95, 90)
MIN_BEYOND_TAIL = 10

# Cumulative prefixes of the product path, in call order; a layer's self
# time is its prefix minus the one before it.
PREFIX_LAYERS = {
    "prefix.payloads": "wat.reader.s",
    "prefix.extract": "wat.extract.s",
    "prefix.dedup": "ops.dedup.s",
    "prefix.shuffle": None,  # sort by rand: reported with the repartition
    "prefix.repartition": "ops.shuffle.s",
    "prefix.write": "pipeline.write.s",
}

ITERATIVE_QUERIES = ("q_cluster_dedup", "q_bpe_encode")


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """(percentile, value) for the highest percentile with at least ten
    samples beyond it, or None when there are too few samples."""
    xs = sorted(xs)
    for p in TAIL_PERCENTILES:
        # nearest rank: the smallest sample with p% of all at or below it
        rank = math.ceil(round(len(xs) * p / 100, 9))
        if rank >= 1 and len(xs) - rank >= MIN_BEYOND_TAIL:
            return p, xs[rank - 1]
    return None


def union_ms(intervals, lo=float("-inf"), hi=float("inf")):
    """Length of the union of (start, end) intervals clipped to [lo, hi]."""
    clipped = sorted((max(s, lo), min(e, hi)) for s, e in intervals)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_ms(span, children):
    """A span's duration minus the part of it its children cover."""
    s, e = span["start_ms"], span["end_ms"]
    return (e - s) - union_ms([(c["start_ms"], c["end_ms"]) for c in children], s, e)


def prefix_self_s(passes):
    """Per-layer self time from cumulative prefix timings.

    `passes` holds one {prefix name: seconds} dict per traced pass, with
    prefixes in call order. Each layer gets the median over passes of its
    prefix minus the previous prefix of the same pass."""
    out = {}
    for p in passes:
        prev = 0.0
        for name, secs in p.items():
            out.setdefault(name, []).append(secs - prev)
            prev = secs
    return {name: median(v) for name, v in out.items()}


class SpanTree:
    def __init__(self, spans):
        self.spans = spans
        self.kids = {}
        for s in spans:
            self.kids.setdefault(s["parent"], []).append(s)

    def children(self, span, name=None):
        return [c for c in self.kids.get(span["id"], ())
                if name is None or c["name"] == name]

    def layer_table(self):
        """Rows of (span name, count, median ms, median self ms)."""
        by_name = {}
        for s in self.spans:
            by_name.setdefault(s["name"], []).append(s)
        rows = []
        for name in sorted(by_name):
            ss = by_name[name]
            rows.append((name, len(ss),
                         median([s["end_ms"] - s["start_ms"] for s in ss]),
                         median([self_ms(s, self.children(s)) for s in ss])))
        return rows


def by_label(calls, phase, key):
    out = {}
    for c in calls:
        if c["phase"] == phase and c["error"] is None:
            out.setdefault(c["label"], []).append(c[key])
    return out


def pass_sum(calls, phase, key, labels):
    """Sum over labels of each label's median: one pass's worth."""
    per = by_label(calls, phase, key)
    return sum(median(per.get(l, [])) for l in labels)


def outcome(calls, failed_checks):
    """(attempted, failed): every entry call counts as attempted; a call
    that threw or failed its check counts as failed, as does each output
    check made after the calls (the oracle comparisons)."""
    return len(calls), sum(c["error"] is not None for c in calls) + len(failed_checks)


def end_to_end(raw):
    """The end-to-end metrics and the sample counts behind them."""
    calls, labels, stamp = raw["calls"], raw["labels"], raw["stamp"]
    timed = by_label(calls, "timed", "wall_s")
    job_s = pass_sum(calls, "timed", "wall_s", labels)
    cores = stamp["cores"]
    metrics = {
        "setup_s": (median(raw["setup_s"]), "s"),
        "job_s": (job_s, "s"),
        "cpu_s": (pass_sum(calls, "timed", "cpu_s", labels), "s"),
        "records_per_s_core": (
            stamp["records_per_pass"] / (job_s * cores) if job_s else 0.0,
            "records/s/core"),
        "retained_heap_mb": (raw["retained_heap_mb"], "MB"),
    }
    samples = {l: len(timed.get(l, [])) for l in labels}
    tails = {l: tail(timed.get(l, [])) for l in labels}
    return metrics, samples, tails


def per_layer(raw):
    """The per-layer metrics of a traced run."""
    calls, labels, stamp = raw["calls"], raw["labels"], raw["stamp"]
    cores = stamp["cores"]
    tree = SpanTree(raw["spans"])
    roots = [s for s in raw["spans"] if s["name"] == "pass"]
    m = {}

    passes = []
    for r in roots:
        pre = [c for c in tree.children(r) if c["name"].startswith("prefix.")]
        pre.sort(key=lambda c: c["start_ms"])
        passes.append({c["name"]: (c["end_ms"] - c["start_ms"]) / 1e3 for c in pre})
    self_s = prefix_self_s(passes)
    layer_s = {}
    for prefix, metric in PREFIX_LAYERS.items():
        if metric is not None:
            layer_s[metric] = layer_s.get(metric, 0.0) + self_s.get(prefix, 0.0)
    # the sort by rand and the repartition form one layer
    layer_s["ops.shuffle.s"] += self_s.get("prefix.shuffle", 0.0)
    for name, v in layer_s.items():
        m[name] = (v, "s")

    layers = raw["layers"]
    def lmed(key):
        return median([l[key] for l in layers if key in l])
    rows_in, rows_dedup = lmed("rows.in"), lmed("rows.dedup")
    m["wat.reader.mb_per_s"] = (lmed("reader.mb_per_s"), "MB/s")
    m["wat.extract.rows"] = (rows_in if "prefix.extract" in self_s else 0.0, "rows")
    m["ops.dedup.kept_frac"] = (rows_dedup / rows_in if rows_in else 0.0, "fraction")
    m["pipeline.files_out"] = (lmed("files.out"), "count")
    m["pipeline.mb_out"] = (lmed("mb.out"), "MB")

    # Spark scheduler, per entry call, from the listener's spans
    per = {}
    for r in roots:
        for e in tree.children(r):
            if not e["name"].startswith("entry."):
                continue
            jobs = tree.children(e, "spark.job")
            stages = [s for j in jobs for s in tree.children(j, "spark.stage")]
            tasks = [t for s in stages for t in tree.children(s, "spark.task")]
            iv = [(t["start_ms"], t["end_ms"]) for t in tasks]
            wall = e["end_ms"] - e["start_ms"]
            rec = {
                "wall_s": wall / 1e3,
                "jobs": len(jobs), "stages": len(stages), "tasks": len(tasks),
                "driver_only_s": (wall - union_ms(iv, e["start_ms"], e["end_ms"])) / 1e3,
                "task_s": sum(t["end_ms"] - t["start_ms"] for t in tasks) / 1e3,
                "shuffle_write_mb": sum(t["attrs"]["shuffle_write_bytes"] for t in tasks) / 2**20,
                "spill_mb": sum(t["attrs"]["spill_bytes"] for t in tasks) / 2**20,
            }
            label = e["name"][len("entry."):]
            for k, v in rec.items():
                per.setdefault(label, {}).setdefault(k, []).append(v)

    def psum(key):
        return sum(median(per.get(l, {}).get(key, [])) for l in labels)
    traced_wall = psum("wall_s")
    m["spark.jobs"] = (psum("jobs"), "count")
    m["spark.stages"] = (psum("stages"), "count")
    m["spark.tasks"] = (psum("tasks"), "count")
    m["spark.driver_only_s"] = (psum("driver_only_s"), "s")
    m["spark.task_busy_frac"] = (
        psum("task_s") / (traced_wall * cores) if traced_wall else 0.0, "fraction")
    m["spark.shuffle_write_mb"] = (psum("shuffle_write_mb"), "MB")
    m["spark.spill_mb"] = (psum("spill_mb"), "MB")
    m["spark.gc_s"] = (pass_sum(calls, "traced", "gc_s", labels), "s")
    heap = by_label(calls, "traced", "live_heap_mb")
    m["jvm.live_heap_peak_mb"] = (max([median(heap[l]) for l in labels if l in heap] or [0.0]), "MB")

    for q in ITERATIVE_QUERIES:
        m[f"ext.{q}.s"] = (median(per.get(q, {}).get("wall_s", [])), "s")
        m[f"ext.{q}.jobs"] = (median(per.get(q, {}).get("jobs", [])), "count")

    m["trace.overhead_s"] = (pass_sum(calls, "traced", "wall_s", labels)
                             - pass_sum(calls, "timed", "wall_s", labels), "s")
    return m, tree.layer_table()
