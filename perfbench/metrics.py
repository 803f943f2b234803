"""Metric arithmetic for the lakehouse benchmark.

Everything here is a pure function of the raw run record the JVM writes
(op samples, notes, spans, Spark jobs and stages), so the rules every
later performance claim rests on can be tested without Spark
(``test_metrics.py``).
"""

import math
import statistics


def median(values):
    return statistics.median(values) if values else 0.0


def tail(values, min_beyond=10):
    """Highest whole percentile that keeps at least ``min_beyond`` samples
    above it, by nearest rank: returns ``(percentile, value)``, or None
    when fewer than ``min_beyond + 1`` samples exist."""
    n = len(values)
    if n <= min_beyond:
        return None
    p = (100 * (n - min_beyond)) // n
    rank = max(1, math.ceil(p * n / 100))
    return p, sorted(values)[rank - 1]


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, end = 0, None
    for lo, hi in sorted(intervals):
        if end is None or lo > end:
            total += hi - lo
            end = hi
        elif hi > end:
            total += hi - end
            end = hi
    return total


def clipped(intervals, lo, hi):
    return [(max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi]


class Trace:
    """Spans and Spark jobs of one traced run, joined.

    spans: [id, name, parent, trace, start_ns, end_ns]
    jobs:  [id, span, start_ms, end_ms, [stage ids], ok]
    stages: [id, attempt, tasks, run_ms, shuffle_write_bytes, spill_bytes,
             failed, [task run ms]]
    """

    def __init__(self, spans, jobs, stages):
        self.spans = {s[0]: dict(id=s[0], name=s[1], parent=s[2], trace=s[3],
                                 start=s[4], end=s[5]) for s in spans}
        self.children = {}
        for s in self.spans.values():
            self.children.setdefault(s["parent"], []).append(s)
        self.stages = stages
        stage_job = {}
        for j in jobs:
            for sid in j[4]:
                stage_job.setdefault(sid, j[0])
        self.jobs = {}
        for j in jobs:
            start, end = j[2] * 1_000_000, (j[3] if j[3] >= 0 else j[2]) * 1_000_000
            self.jobs[j[0]] = dict(id=j[0], start=start, end=end,
                                   span=self.attribute(j[1], start), stages=[])
        for st in stages:
            job = stage_job.get(st[0])
            if job in self.jobs:
                self.jobs[job]["stages"].append(st)

    def attribute(self, tagged, start_ns):
        """The span whose call launched a job: the tagged span when the job
        started inside it (job times have millisecond resolution), else the
        innermost span open at the job's start, else None."""
        slack = 1_000_000
        s = self.spans.get(tagged)
        if s is not None and s["start"] - slack <= start_ns <= s["end"] + slack:
            return tagged
        best = None
        for s in self.spans.values():
            if s["start"] <= start_ns <= s["end"]:
                if best is None or s["start"] >= best["start"]:
                    best = s
        return None if best is None else best["id"]

    def duration(self, s):
        return (s["end"] - s["start"]) / 1e9

    def self_time(self, s):
        """Duration minus the part of it covered by child spans."""
        kids = clipped([(c["start"], c["end"]) for c in self.children.get(s["id"], [])],
                       s["start"], s["end"])
        return (s["end"] - s["start"] - union_length(kids)) / 1e9

    def subtree(self, s):
        out, todo = [], [s]
        while todo:
            x = todo.pop()
            out.append(x)
            todo.extend(self.children.get(x["id"], []))
        return out

    def jobs_in(self, s):
        ids = {x["id"] for x in self.subtree(s)}
        return [j for j in self.jobs.values() if j["span"] in ids]

    def driver_only(self, s):
        """Span wall time minus the union of its jobs' run intervals."""
        iv = clipped([(j["start"], j["end"]) for j in self.jobs_in(s)], s["start"], s["end"])
        return (s["end"] - s["start"] - union_length(iv)) / 1e9

    def named(self, name):
        return [s for s in self.spans.values() if s["name"] == name]

    def tops(self, prefix):
        return [s for s in self.spans.values()
                if s["parent"] < 0 and s["name"].startswith(prefix)]

    def per_top(self, tops, name):
        """Per top-level span: summed duration of its descendants called name."""
        return [sum(self.duration(x) for x in self.subtree(t) if x["name"] == name)
                for t in tops]


def end_to_end(rec):
    """The user-visible metrics of one run (see BENCHMARK.json)."""
    ok = [s for s in rec["samples"] if s["ok"]]
    writes = [s for s in ok if s["kind"] == "write"]
    reads = [s for s in ok if s["kind"] == "read"]
    write_s = sum(s["s"] for s in writes)
    return {
        "setup_s": rec["session_s"] + median(rec["prepare_s"]) + rec["warmup_s"],
        "write_rows_per_s": sum(s["rows"] for s in writes) / write_s if write_s else 0.0,
        "write_p50_s": median([s["s"] for s in writes]),
        "read_p50_s": median([s["s"] for s in reads]),
        "storage_amplification": storage_amplification(rec),
    }


def storage_amplification(rec):
    """Median over the run's writes of the bytes under the tables' dirs
    after the write, divided by the bytes the live rows take when written
    once as fresh parquet (the run-end bytes per live row, times the live
    rows after that write)."""
    stored = rec["notes"].get("storage.bytes", [])
    live = rec["notes"].get("storage.live_rows", [])
    return median([b / max(1e-9, n * rec["fresh_bytes_per_row"])
                   for b, n in zip(stored, live)])


def tails(rec):
    """write_tail_s / read_tail_s with their percentile and sample count,
    where the sample supports them."""
    out = {}
    for kind in ("write", "read"):
        vals = [s["s"] for s in rec["samples"] if s["ok"] and s["kind"] == kind]
        t = tail(vals)
        out[f"{kind}_tail_s"] = (None if t is None else
                                 {"percentile": t[0], "value": t[1], "samples": len(vals)})
    return out


def per_layer(rec):
    """The per-layer table of one traced run."""
    t = Trace(rec["spans"], rec["jobs"], rec["stages"])
    notes = rec["notes"]
    samples = rec["samples"]
    writes = t.tops("write:")
    reads = t.tops("read:")
    write_rows = sum(s["rows"] for s in samples if s["kind"] == "write" and s["ok"])

    def med(name):
        return median([t.duration(s) for s in t.named(name)])

    merges = t.named("catalog.merge")
    mor = notes.get("pipeline.mor_versions", [])
    compacted = [i for i in range(1, len(mor)) if mor[i] < mor[i - 1]]
    # mor[0] is the sidecar count before the loop, mor[k] after batch k
    merge_by_batch = t.per_top(writes, "catalog.merge")
    plain = [m for i, m in enumerate(merge_by_batch) if i + 1 not in compacted]
    excess = sum(max(0.0, merge_by_batch[i - 1] - median(plain))
                 for i in compacted if i - 1 < len(merge_by_batch))
    maintenance = sum(t.duration(s) for s in t.named("pipeline.maintenance")) + excess

    merge_jobs = [j for s in merges for j in t.jobs_in(s)]
    task_s = sum(st[3] for j in merge_jobs for st in j["stages"]) / 1000.0

    def skew(s):
        stages = [st for j in t.jobs_in(s) for st in j["stages"]]
        if not stages:
            return 1.0
        longest = max(stages, key=lambda st: st[3])
        tasks = longest[7] or [0]
        return max(tasks) / max(1.0, median(tasks))

    privacy = [s for s in reads if s["name"][5:] in (
        "point_lookup", "range_scan", "status_counts", "view_aggregate", "k_anonymity")]
    tops = writes + reads
    stage_run_s = sum(st[3] for st in rec["stages"]) / 1000.0

    def mean(xs):
        return sum(xs) / len(xs) if xs else 0.0

    return {
        "catalog.merge_s": median([t.duration(s) for s in merges]),
        "catalog.merge_driver_s": median([t.driver_only(s) for s in merges]),
        "catalog.checkpoint_s": median([a + b for a, b in zip(
            t.per_top(writes, "catalog.checkpoint_read"),
            t.per_top(writes, "catalog.checkpoint_advance"))]),
        "catalog.analyze_s": med("catalog.analyze"),
        "catalog.mv_served_ratio": mean(notes.get("catalog.mv_served", [])),
        "catalog.mv_refresh_s": med("catalog.mv_refresh"),
        "pipeline.append_s": median(t.per_top(writes, "pipeline.append")),
        "pipeline.read_plan_s": med("pipeline.read_plan"),
        "pipeline.maintenance_s": maintenance / max(1, len(writes)),
        "pipeline.compactions": len(compacted),
        "pipeline.mor_versions_max": max(mor) if mor else 0,
        "pipeline.files_live": notes.get("pipeline.files_live", [0])[-1],
        "pipeline.bytes_written_per_row":
            sum(notes.get("pipeline.bytes_new", [])) / max(1, write_rows),
        "cdc.task_s_per_krow": task_s / max(1e-9, write_rows / 1000.0) if merges else 0.0,
        "cdc.staged_per_event": mean(notes.get("cdc.staged", [])),
        "privacy.view_read_s": median([t.duration(s) for s in privacy]),
        "ext.dedup_s": med("ext.dedup"),
        "ext.text_index_s": med("ext.text_index"),
        "ext.ann_index_s": med("ext.ann_index"),
        "ext.text_search_s": med("ext.text_search"),
        "ext.ann_search_s": med("ext.ann_search"),
        "ext.ann_recall_at_10": mean(notes.get("ext.ann_recall", [])),
        "ext.near_dup_recall": notes.get("ext.near_dup_recall", [0.0])[-1],
        "spark.jobs_per_batch": median([len(t.jobs_in(s)) for s in writes]),
        "spark.jobs_per_read": median([len(t.jobs_in(s)) for s in reads]),
        "spark.tasks_per_batch": median([sum(st[2] for j in t.jobs_in(s) for st in j["stages"])
                                         for s in writes]),
        "spark.driver_only_s": median([t.driver_only(s) for s in writes]),
        "spark.busy_ratio": stage_run_s / max(1e-9, rec["wall_s"] * rec["cores"]),
        "spark.shuffle_bytes_per_row": sum(st[4] for st in rec["stages"]) / max(1, write_rows),
        "spark.spill_bytes": sum(st[5] for st in rec["stages"]),
        "spark.stage_skew": median([skew(s) for s in writes]),
        "spark.failed_tasks": rec["failed_tasks"] + sum(
            1 for st in rec["stages"] if st[6] or st[1] > 0),
        "jvm.gc_s": rec["gc_s"],
        "jvm.heap_after_gc_mb": rec["heap_after_gc_mb"],
        "trace.top_self_share": sum(t.self_time(s) for s in tops) /
            max(1e-9, sum(t.duration(s) for s in tops)),
    }


def layer_split(rec):
    """Self time summed per span name, over every traced batch and read:
    where the wall time of the top-level spans went."""
    t = Trace(rec["spans"], rec["jobs"], rec["stages"])
    out = {}
    for s in t.spans.values():
        out[s["name"]] = out.get(s["name"], 0.0) + t.self_time(s)
    return dict(sorted(out.items(), key=lambda kv: -kv[1]))


LAYER_UNITS = {
    "catalog.merge_s": "s", "catalog.merge_driver_s": "s", "catalog.checkpoint_s": "s",
    "catalog.analyze_s": "s", "catalog.mv_served_ratio": "ratio", "catalog.mv_refresh_s": "s",
    "pipeline.append_s": "s", "pipeline.read_plan_s": "s", "pipeline.maintenance_s": "s",
    "pipeline.compactions": "count", "pipeline.mor_versions_max": "count",
    "pipeline.files_live": "count", "pipeline.bytes_written_per_row": "B/row",
    "cdc.task_s_per_krow": "s/krow", "cdc.staged_per_event": "ratio",
    "privacy.view_read_s": "s", "ext.dedup_s": "s", "ext.text_index_s": "s",
    "ext.ann_index_s": "s", "ext.text_search_s": "s", "ext.ann_search_s": "s",
    "ext.ann_recall_at_10": "ratio", "ext.near_dup_recall": "ratio",
    "spark.jobs_per_batch": "count", "spark.jobs_per_read": "count",
    "spark.tasks_per_batch": "count", "spark.driver_only_s": "s", "spark.busy_ratio": "ratio",
    "spark.shuffle_bytes_per_row": "B/row", "spark.spill_bytes": "B",
    "spark.stage_skew": "ratio", "spark.failed_tasks": "count", "jvm.gc_s": "s",
    "jvm.heap_after_gc_mb": "MiB",
    "trace.top_self_share": "ratio",
}
