"""Per-layer metrics from a traced run.

The JVM side records spans (around the benchmark's calls into each
layer), Spark jobs attributed to spans by job group, and query executions
with their planning time and file-scan metrics. This module folds them
into the per-layer metrics named in BENCHMARK.json and into a per-span
table with self times.
"""

from collections import defaultdict

import stats


class Trace:
    def __init__(self, trace):
        self.spans = trace["spans"]
        self.jobs = trace["jobs"]
        self.children = defaultdict(list)
        for s in self.spans:
            self.children[s["parent"]].append(s)
        self.jobs_of = defaultdict(list)
        for j in self.jobs:
            self.jobs_of[j["span"]].append(j)
        self.queries_of = defaultdict(list)
        for q in trace["queries"]:
            self.queries_of[q["span"]].append(q)

    def named(self, name):
        return [s for s in self.spans if s["name"] == name]

    def timed(self, name):
        """The spans of a name outside the untimed warm-up spans (`*.warm`)."""
        warm = {s["id"] for s in self.spans if s["name"].endswith(".warm")}
        return [s for s in self.named(name) if s["parent"] not in warm]

    def subtree(self, span):
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children[s["id"]])
        return out

    def sub_jobs(self, span):
        return [j for s in self.subtree(span) for j in self.jobs_of[s["id"]]]

    def sub_queries(self, span):
        return [q for s in self.subtree(span) for q in self.queries_of[s["id"]]]

    def engine(self, span):
        """Spark engine counters for a span and its children."""
        jobs = self.sub_jobs(span)
        dur = span["end_ms"] - span["start_ms"]
        busy = stats.union_length(stats.clipped(
            [(j["start_ms"], j["end_ms"]) for j in jobs], span["start_ms"], span["end_ms"]))
        return {
            "jobs": len(jobs),
            "stages": sum(j["stages"] for j in jobs),
            "tasks": sum(j["tasks"] for j in jobs),
            "task_s": sum(j["task_ms"] for j in jobs) / 1e3,
            "gc_s": sum(j["gc_ms"] for j in jobs) / 1e3,
            "shuffle_read_bytes": sum(j["shuffle_read"] for j in jobs),
            "shuffle_write_bytes": sum(j["shuffle_write"] for j in jobs),
            "spill_bytes": sum(j["spill"] for j in jobs),
            "driver_gap_s": (dur - busy) / 1e3,
            "busy_frac": busy / dur if dur > 0 else 0.0,
        }

    def table(self):
        """One row per span name: count, wall, self time and engine counters
        of the span's own jobs (not its children's).
        """
        rows = {}
        for s in self.spans:
            r = rows.setdefault(s["name"], defaultdict(float))
            r["count"] += 1
            r["wall_s"] += (s["end_ms"] - s["start_ms"]) / 1e3
            r["self_s"] += stats.self_time(s, self.children[s["id"]]) / 1e3
            own = self.jobs_of[s["id"]]
            r["jobs"] += len(own)
            r["tasks"] += sum(j["tasks"] for j in own)
            r["task_s"] += sum(j["task_ms"] for j in own) / 1e3
            r["shuffle_bytes"] += sum(j["shuffle_read"] + j["shuffle_write"] for j in own)
        return {k: dict(v) for k, v in rows.items()}


def _dur(spans):
    return sum(s["end_ms"] - s["start_ms"] for s in spans) / 1e3


def _attr(spans, key):
    return sum(s["attrs"].get(key, 0.0) for s in spans)


def _med(values):
    return stats.median(values) if values else 0.0


def _scan(queries, key, root=None):
    return sum(c[key] for q in queries for c in q["scans"] if root is None or c["path"] == root)


def per_layer(trace, run):
    """The per-layer metrics of one traced run (0 where a layer is idle),
    notes on the tails, and the per-span table.
    """
    t = Trace(trace)
    samples, values = run["samples"], run["values"]
    m = {}

    m["source.list_s"] = _dur(t.named("source.list"))
    m["source.quote_check_s"] = _dur(t.named("source.quote_check"))
    m["source.read_plan_s"] = _dur(t.named("source.read_plan"))
    m["source.files"] = _attr(t.named("source.list"), "files")
    m["source.input_bytes"] = _attr(t.named("source.list"), "input_bytes")

    m["transform.rows_valid"] = _attr(t.named("transform.accounting"), "rows_valid")
    m["transform.rows_rejected"] = _attr(t.named("transform.accounting"), "rows_rejected")
    split = t.named("transform.split")
    m["transform.split_s"] = _dur(split)
    m["transform.split_jobs"] = sum(len(t.sub_jobs(s)) for s in split)

    upserts = t.named("lake.upsert")
    # the lake's own rows read by each merge into an existing lake (day 2);
    # day 1 writes a new lake, and its re-count of that lake is no re-read
    merges = [(_scan(t.sub_queries(s), "rows", s["tags"].get("lake")), s["attrs"].get("batch_rows", 0.0))
              for s in upserts if s["attrs"].get("existed")]
    written = _attr(upserts, "bytes_written")
    m["lake.upsert_s"] = _dur(upserts)
    m["lake.existing_rows_read"] = _med([read for read, _ in merges])
    m["lake.read_amplification"] = _med([read / rows for read, rows in merges if rows])
    m["lake.bytes_written"] = written
    m["lake.files_written"] = _attr(upserts, "files_written")
    in_bytes = _attr(upserts, "input_bytes")
    m["lake.bytes_per_input_byte"] = written / in_bytes if in_bytes else 0.0
    m["lake.sync_log_s"] = _dur(t.named("lake.sync_log"))
    m["lake.stats_s"] = _dur(t.named("lake.stats"))
    reads = t.timed("api.lookup") + t.timed("api.range")
    m["lake.delta_files_pending"] = _med([s["attrs"].get("delta_files", 0.0) for s in reads])
    compacts = t.timed("api.compact")
    m["lake.compact_bytes_rewritten"] = _med([s["attrs"].get("bytes_rewritten", 0.0) for s in compacts])
    m["lake.files_after_compact"] = _med([s["attrs"].get("files_after", 0.0) for s in compacts])

    for kind in ("lookup", "range", "insert"):
        spans = t.timed("api." + kind)
        qs = [t.sub_queries(s) for s in spans]
        m[f"query.{kind}.plan_ms"] = _med([sum(q["plan_ms"] for q in x) for x in qs])
        m[f"query.{kind}.exec_ms"] = _med([sum(q["exec_ms"] for q in x) for x in qs])
        if kind != "insert":
            m[f"query.{kind}.files_read"] = _med([_scan(x, "files") for x in qs])
            m[f"query.{kind}.bytes_read"] = _med([_scan(x, "bytes") for x in qs])
            m[f"query.{kind}.rows_scanned_per_row_returned"] = _med(
                [_scan(x, "rows") / max(1.0, s["attrs"].get("rows_returned", 0.0))
                 for x, s in zip(qs, spans)])

    batches = [t.engine(s) for s in t.timed("admit.batch")]
    for key in ("jobs", "stages", "tasks", "task_s", "driver_gap_s", "busy_frac"):
        m["admit." + key] = _med([b[key] for b in batches])
    m["admit.shuffle_bytes"] = _med([b["shuffle_read_bytes"] + b["shuffle_write_bytes"] for b in batches])
    m["admit.spill_bytes"] = _med([b["spill_bytes"] for b in batches])
    m["xscale.sig_bootstrap_s"] = _med([_dur([s]) for s in t.named("xscale.sig_bootstrap")])
    m["xscale.emb_bootstrap_s"] = _med([_dur([s]) for s in t.named("xscale.emb_bootstrap")])

    top = [t.engine(s) for s in t.children[0]]
    for key in ("jobs", "tasks", "task_s", "shuffle_read_bytes", "shuffle_write_bytes", "gc_s",
                "driver_gap_s"):
        m["spark." + key] = sum(e[key] for e in top)

    # untraced figures of the same run, under the names the workloads use
    notes = {}

    def tail(name, metric):
        if not samples.get(name):
            return 0.0
        t_ = stats.tail(samples[name])
        notes[metric] = f"p{t_['pct']} of {t_['n']} samples, {t_['beyond']} beyond"
        return t_["value"]
    day1 = samples.get("day1_s", [])
    m["day1_rows_per_s"] = values.get("day1_valid_rows", 0.0) / day1[0] if day1 else 0.0
    m["day2_batch_s"] = _med(samples.get("day2_s", []))
    for kind in ("lookup", "range", "insert"):
        m[f"{kind}_p50_ms"] = _med(samples.get(kind + "_ms", []))
        m[f"{kind}_tail_ms"] = tail(kind + "_ms", f"{kind}_tail_ms")
    m["compact_s"] = _med(samples.get("maint_s", [])) if compacts else 0.0
    m["admit_batch_s"] = _med(samples.get("op_ms", [])) / 1e3 if batches else 0.0

    untraced, traced = values.get("untraced_wall_s", 0.0), values.get("traced_wall_s", 0.0)
    m["trace.overhead_s"] = traced - untraced
    m["trace.overhead_frac"] = (traced - untraced) / untraced if untraced else 0.0
    m["machine.cpu_sentinel_s"] = values.get("sentinel_cpu_s", 0.0)
    m["machine.shuffle_sentinel_s"] = values.get("sentinel_shuffle_s", 0.0)
    return m, notes, t.table()
