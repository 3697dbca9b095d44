"""Metric arithmetic for the engine benchmark.

`evaluate(record, traced)` turns the raw record a run writes (samples,
counters, correctness counts, and for a traced run spans, Spark jobs and
streaming batches) into the result line run.py prints. Times are
milliseconds on the run's own clock unless a name says otherwise.
"""

import statistics

# End-to-end figures printed with every run but not part of the result's
# metrics: their run-to-run spread on the shared 4-core box exceeded the
# largest bound the benchmark may set, on every workload that has them
# (for cpu_ms_per_op, on stream_cep); see README, "Steadiness".
REPORTED_ONLY = ("cpu_ms_per_op", "oltp_ops_per_s", "oltp_persist_ms_p50", "oltp_find_ms_p50",
                 "oltp_range_ms_p50", "oltp_agg_ms_p50", "oltp_remote_ms_p50",
                 "stream_emit_ms_p50", "stream_window_emit_ms_p50", "cep_process_ms_p50",
                 "pipeline_docs_per_s")

OLTP_KINDS = ("persist", "find", "range", "agg", "remote")

# Percentiles a tail may be reported at, highest first.
TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0)
MIN_BEYOND = 10


def percentile(values, p):
    """Linear interpolation between closest ranks (numpy's default)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def supports(n, p):
    """True when `n` samples leave at least MIN_BEYOND beyond percentile p."""
    return n * (100.0 - p) / 100.0 >= MIN_BEYOND - 1e-9


def tail_percentile(n):
    """The highest candidate percentile with at least ten samples beyond
    it, or None when even the lowest candidate is not supported."""
    for p in TAIL_CANDIDATES:
        if supports(n, p):
            return p
    return None


def union_length(intervals):
    """Total length covered by a set of [start, end] intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, start, end):
    return [(max(s, start), min(e, end)) for s, e in intervals if e > start and s < end]


def driver_floor(start, end, job_intervals):
    """Wall time of [start, end] during which none of the jobs ran."""
    return (end - start) - union_length(clip(job_intervals, start, end))


def self_time(span, children):
    """A span's duration minus the part of it its child spans cover."""
    s, e = span
    return (e - s) - union_length(clip(children, s, e))


def growth(samples):
    """p50 latency in the last tenth of a run over p50 in the first
    tenth, ordering samples by start time (at least one sample each)."""
    xs = [ms for _, ms in sorted(samples)]
    k = max(1, len(xs) // 10)
    return statistics.median(xs[-k:]) / statistics.median(xs[:k])


def window_newest_event(row):
    """The event whose arrival closed a count window: the window query
    projects the closing row's id as its first column."""
    return int(row[0])


def window_latencies(rows, due_ms, first_measured_id):
    """Emission latency of each window result: poll time minus the due
    time of its newest event (`due_ms[id - 1]`). Windows closed by events
    generated before measuring began are left out."""
    out = []
    for row in rows:
        ev = window_newest_event(row)
        if ev >= first_measured_id:
            out.append((due_ms[ev - 1], row[3] - due_ms[ev - 1]))
    return out


# ---------------------------------------------------------------- traces

class Trace:
    """Spans and jobs of a traced run, with jobs billed to spans."""

    def __init__(self, phase):
        self.spans = {s[0]: {"id": s[0], "op": s[1], "name": s[2], "parent": s[3],
                             "start": s[4], "end": s[5]} for s in phase["spans"]}
        self.children = {}
        for sp in self.spans.values():
            self.children.setdefault(sp["parent"], []).append(sp["id"])
        self.jobs = [{"id": j[0], "group": j[1], "start": j[2], "end": j[3], "stages": j[4],
                      "tasks": j[5], "run_ms": j[6], "cpu_ms": j[7], "gc_ms": j[8],
                      "shuffle_read": j[9], "shuffle_write": j[10], "spill": j[11]}
                     for j in phase["jobs"]]
        self.window = (phase["measure_start_ms"], phase["measure_end_ms"])
        self.roots = sorted((sp for sp in self.spans.values()
                             if sp["parent"] == -1 and self.measured(sp)), key=lambda sp: sp["start"])
        self.by_span = {}
        for j in self.jobs:
            sid = self._owner(j)
            if sid is not None:
                self.by_span.setdefault(sid, []).append(j)

    def _owner(self, job):
        """The span a job ran under: its job group, or, for jobs started on
        another thread (the JDBC endpoint's), the innermost span open when
        it started."""
        g = job["group"]
        if g.startswith("pb-") and int(g[3:]) in self.spans:
            return int(g[3:])
        if g.startswith("stream.") or g == "cep":
            return None
        best = None
        for sp in self.spans.values():
            if sp["start"] <= job["start"] <= sp["end"]:
                if best is None or sp["start"] >= best["start"]:
                    best = sp
        return best["id"] if best else None

    def measured(self, sp):
        return self.window[0] <= sp["start"] <= self.window[1]

    def named(self, name):
        """Spans of one name that started while the run measured."""
        return [sp for sp in self.spans.values() if sp["name"] == name and self.measured(sp)]

    def subtree(self, sid):
        out, todo = [], [sid]
        while todo:
            s = todo.pop()
            out.append(s)
            todo += self.children.get(s, [])
        return out

    def jobs_of(self, sp):
        """Jobs billed to a span or any span below it."""
        return [j for s in self.subtree(sp["id"]) for j in self.by_span.get(s, [])]

    def self_ms(self, sp):
        kids = [(self.spans[c]["start"], self.spans[c]["end"]) for c in self.children.get(sp["id"], [])]
        return self_time((sp["start"], sp["end"]), kids)

    def floor_ms(self, sp):
        return driver_floor(sp["start"], sp["end"], [(j["start"], j["end"]) for j in self.jobs_of(sp)])


def mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def span_stats(tr, name):
    sps = tr.named(name)
    jobs = [tr.jobs_of(sp) for sp in sps]
    return {
        "jobs": mean(len(js) for js in jobs),
        "tasks": mean(sum(j["tasks"] for j in js) for js in jobs),
        "shuffle_bytes": mean(sum(j["shuffle_write"] for j in js) for js in jobs),
        "floor_ms_p50": statistics.median(tr.floor_ms(sp) for sp in sps) if sps else 0.0,
        "self_s": mean(tr.self_ms(sp) for sp in sps) / 1000.0,
        "ms_p50": statistics.median(sp["end"] - sp["start"] for sp in sps) if sps else 0.0,
    }


def scheduler_metrics(tr, phase, nproc, by_window):
    """Spark scheduler load per operation. `by_window` bills every job
    started in the measured window (streaming queries run outside any
    span); otherwise jobs are billed to the operation spans."""
    ops = max(1, phase["ops"])
    if by_window:
        s, e = phase["measure_start_ms"], phase["measure_end_ms"]
        jobs = [j for j in tr.jobs if s <= j["start"] <= e]
        wall = e - s
        busy = union_length(clip([(j["start"], j["end"]) for j in jobs], s, e))
    else:
        roots = [sp for sp in tr.roots if sp["name"].startswith("op.")]
        ops = max(1, len(roots))
        jobs = [j for sp in roots for j in tr.jobs_of(sp)]
        wall = sum(sp["end"] - sp["start"] for sp in roots)
        busy = wall - sum(tr.floor_ms(sp) for sp in roots)
    wall = max(wall, 1e-9)
    return {
        "spark.jobs_per_op": (len(jobs) / ops, "count"),
        "spark.tasks_per_op": (sum(j["tasks"] for j in jobs) / ops, "count"),
        "spark.floor_frac": (1.0 - busy / wall, "frac"),
        "spark.cpu_util": (sum(j["cpu_ms"] for j in jobs) / (wall * nproc), "frac"),
        "spark.gc_ms": (sum(j["gc_ms"] for j in jobs) / ops, "ms"),
    }


# ---------------------------------------------------------------- metrics

def lat(phase, kind):
    return [ms for _, ms in phase["samples"].get(kind, [])]


def median(xs):
    """Median, or None when there are no samples."""
    xs = list(xs)
    return statistics.median(xs) if xs else None


def p50(phase, kind):
    return median(lat(phase, kind))


def stream_window_samples(phase):
    c = phase["counters"]
    return window_latencies(c["window_rows"], c["due_ms"], c["first_measured_id"])


def end_to_end(workload, phase):
    """Untraced metrics: name → (value, unit, sample count or None)."""
    attempted = max(1, phase["attempted"])
    m = {
        "setup_s": (statistics.median(phase["setup_s"]), "s", len(phase["setup_s"])),
        "ok_frac": (1.0 - phase["failed"] / attempted, "frac", attempted),
        "heap_live_mb": (phase["heap_live_mb"], "MB", None),
        "cpu_ms_per_op": (phase["cpu_ms"] / max(1, phase["ops"]), "ms", phase["ops"]),
    }
    wall_s = (phase["measure_end_ms"] - phase["measure_start_ms"]) / 1000.0
    if workload == "entity_oltp":
        m["oltp_ops_per_s"] = (phase["ops"] / wall_s, "1/s", phase["ops"])
        for kind in OLTP_KINDS:
            m[f"oltp_{kind}_ms_p50"] = (p50(phase, kind), "ms", len(lat(phase, kind)))
    elif workload == "stream_cep":
        emit = lat(phase, "emit")
        m["stream_emit_ms_p50"] = (median(emit), "ms", len(emit))
        win = [ms for _, ms in stream_window_samples(phase)]
        m["stream_window_emit_ms_p50"] = (median(win), "ms", len(win))
        m["cep_process_ms_p50"] = (p50(phase, "cep_process"), "ms", len(lat(phase, "cep_process")))
    elif workload == "corpus_pipeline":
        passes = lat(phase, "pass")
        m["pipeline_docs_per_s"] = (phase["counters"]["docs"] / (median(passes) / 1000.0)
                                    if passes else None, "1/s", len(passes))
    return m


def tails(workload, phase):
    """Tail latencies at the highest percentile the sample count supports."""
    kinds = {"entity_oltp": OLTP_KINDS,
             "stream_cep": ("emit", "cep_process", "gen_append"),
             "corpus_pipeline": ("pass",)}[workload]
    out = []
    for kind in kinds:
        xs = lat(phase, kind)
        p = tail_percentile(len(xs))
        out.append((kind, p, percentile(xs, p) if p else None, len(xs)))
    if workload == "stream_cep":
        win = [ms for _, ms in stream_window_samples(phase)]
        p = tail_percentile(len(win))
        out.append(("window_emit", p, percentile(win, p) if p else None, len(win)))
    return out


def paired_overhead(samples, kinds):
    """Mean over op kinds of (p50 traced − p50 untraced) latency, from
    samples named `kind@t` / `kind@u`. Taking the difference within a
    kind keeps the mix of kinds on each side out of the figure; kinds
    missing either side are left out."""
    diffs = []
    for kind in kinds:
        t = [ms for _, ms in samples.get(kind + "@t", [])]
        u = [ms for _, ms in samples.get(kind + "@u", [])]
        if t and u:
            diffs.append(statistics.median(t) - statistics.median(u))
    return mean(diffs)


def overhead_ms(workload, phase):
    """Tracing overhead: end-to-end time of the traced operations minus
    that of the untraced ones of the same run (a traced run traces every
    other operation)."""
    if workload == "entity_oltp":
        return paired_overhead(phase["samples"], OLTP_KINDS)
    if workload == "corpus_pipeline":
        return statistics.median(lat(phase, "pass@t")) - statistics.median(lat(phase, "pass@u"))
    traced_due = set(phase["counters"]["traced_due_ms"])
    emit = phase["samples"]["emit"]
    return (statistics.median(ms for due, ms in emit if due in traced_due)
            - statistics.median(ms for due, ms in emit if due not in traced_due))


def per_layer(workload, record, traced):
    """Traced metrics: name → (value, unit)."""
    tr = Trace(traced)
    c = traced["counters"]
    m = scheduler_metrics(tr, traced, record["nproc"], by_window=workload == "stream_cep")
    m["trace.overhead_ms"] = (overhead_ms(workload, traced), "ms")
    if workload in ("entity_oltp", "stream_cep"):
        persist = span_stats(tr, "core.persist")
        m["core.persist.jobs"] = (persist["jobs"], "count")
        m["core.persist.floor_ms"] = (persist["floor_ms_p50"], "ms")
    if workload == "entity_oltp":
        find = span_stats(tr, "core.find")
        agg = span_stats(tr, "op.agg")
        m["core.persist.growth"] = (growth(traced["samples"]["persist"]), "ratio")
        m["core.store.versions_end"] = (c["store_versions_end"], "count")
        m["core.store.files_end"] = (c["store_files_end"], "count")
        m["core.find.jobs"] = (find["jobs"], "count")
        m["core.find.floor_ms"] = (find["floor_ms_p50"], "ms")
        m["plan.execute_ms_p50"] = (span_stats(tr, "plan.execute")["ms_p50"], "ms")
        m["plan.range.files_read_frac"] = (p50(traced, "range_files_read_frac"), "frac")
        m["query.agg.jobs"] = (agg["jobs"], "count")
        m["query.agg.tasks"] = (agg["tasks"], "count")
        m["query.agg.shuffle_bytes"] = (agg["shuffle_bytes"], "B")
        m["query.agg.growth"] = (growth(traced["samples"]["agg"]), "ratio")
        m["remote.overhead_ms_p50"] = (p50(traced, "remote_overhead"), "ms")
    elif workload == "stream_cep":
        b = traced["batches"]
        s, e = traced["measure_start_ms"], traced["measure_end_ms"]

        def batches(name):
            return [x for x in b.get(name, []) if s <= x[0] <= e and x[2] > 0]
        for name, key in (("stream.select", "stream.select"), ("stream.window", "stream.window"),
                          ("cep", "cep")):
            bs = batches(key)
            m[f"{name}.batch_ms_p50"] = (statistics.median(x[1] for x in bs) if bs else 0.0, "ms")
        m["stream.select.batches"] = (len(batches("stream.select")), "count")
        win = batches("stream.window")
        m["stream.window.state_rows"] = (win[-1][3] if win else 0, "count")
        m["stream.gen.append_ms_p50"] = (p50(traced, "gen_append"), "ms")
        m["cep.delete_commits"] = (c["cep_delete_commits"], "count")
        m["cep.rows_read_per_appended"] = (sum(x[2] for x in b.get("cep", [])) / c["tasks_rows_appended"],
                                           "ratio")
        m["stream.gen.lag_ms_max"] = (c["gen_lag_ms_max"], "ms")
        m["stream.backlog_rows_end"] = (c["backlog_rows_end"], "count")
    elif workload == "corpus_pipeline":
        spill = 0
        for stage, short in (("ops.quality", "quality"), ("ops.exact_dedup", "exact_dedup"),
                             ("ops.minhash_dedup", "minhash_dedup"), ("ops.bpe_learn", "bpe_learn"),
                             ("ops.bpe_encode", "bpe_encode")):
            st = span_stats(tr, stage)
            m[f"ops.{short}_s"] = (st["self_s"], "s")
            m[f"ops.{short}.jobs"] = (st["jobs"], "count")
            spill += sum(j["spill"] for sp in tr.named(stage) for j in tr.jobs_of(sp))
        m["ops.minhash_dedup.shuffle_bytes"] = (span_stats(tr, "ops.minhash_dedup")["shuffle_bytes"], "B")
        m["ops.bpe_encode.shuffle_bytes"] = (span_stats(tr, "ops.bpe_encode")["shuffle_bytes"], "B")
        m["ops.spill_bytes"] = (spill / max(1, len(tr.named("op.pass"))), "B")
        m["ops.minhash.candidates_per_dup"] = (c["minhash_candidates"] / max(1, c["minhash_pairs"]), "ratio")
        m["ops.bpe_learn.jobs_per_merge"] = (span_stats(tr, "ops.bpe_learn")["jobs"] / c["merges"], "count")
    return m


def evaluate(record):
    """(result line dict, report lines) for one run."""
    workload = record["workload"]
    phase = record["run"]
    attempted, failed = phase["attempted"], phase["failed"]
    report = [f"FAILED {f}" for f in phase["failures"]]
    if record["trace"]:
        metrics = {k: {"value": v, "unit": u}
                   for k, (v, u) in per_layer(workload, record, phase).items()}
        for k, v in metrics.items():
            report.append(f"layer {k} = {v['value']:.6g} {v['unit']}")
    else:
        e2e = end_to_end(workload, phase)
        report.append("set-up times " + ", ".join(f"{s:.3f}" for s in phase["setup_s"]) + " s")
        metrics = {k: {"value": v, "unit": u} for k, (v, u, _) in e2e.items()
                   if k not in REPORTED_ONLY}
        for k, (v, u, n) in e2e.items():
            if v is None:
                # a metric without samples: the run measured too little
                report.append(f"FAILED {k}: no samples")
                if k not in REPORTED_ONLY:
                    metrics[k]["value"] = 0.0
                    failed += 1
                continue
            kind = "reported" if k in REPORTED_ONLY else "metric"
            report.append(f"{kind} {k} = {v:.6g} {u}" + (f" (n={n})" if n is not None else ""))
        for kind, p, v, n in tails(workload, phase):
            if n == 0:
                continue
            if p is None:
                report.append(f"tail {kind}: too few samples for a tail (n={n})")
            else:
                report.append(f"tail {kind} p{p:g} = {v:.6g} ms (n={n})")
    result = {"correct": failed == 0, "attempted": max(1, attempted), "failed": failed,
              "metrics": metrics}
    return result, report
