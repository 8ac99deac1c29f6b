"""Metric arithmetic over what one harness run recorded (`raw.json`).

Pure functions, kept apart from the runner so the tests can reach them:
percentile selection, the driver self-time residual, write attribution
by output path, and the end-to-end and per-layer summaries.
"""
import math
import re
import statistics

MB = 1024 * 1024
TAIL_PERCENTILES = (50, 75, 90, 95, 99, 99.9)
CUT_CALL_SITE = re.compile(r"checkpoint|persist|cache", re.IGNORECASE)

END_TO_END = [("op_s", "s"), ("setup_s", "s")]


def median(values):
    return statistics.median(values) if values else 0.0


def tail_percentile(samples, min_beyond=10, candidates=TAIL_PERCENTILES):
    """The highest candidate percentile with at least `min_beyond`
    samples above its nearest-rank position, as (percentile, value,
    samples beyond); None when even the lowest candidate has too few."""
    xs = sorted(samples)
    n = len(xs)
    best = None
    for p in candidates:
        rank = max(1, math.ceil(p / 100 * n))
        if n - rank >= min_beyond:
            best = (p, xs[rank - 1], n - rank)
    return best


def covered(intervals, lo, hi):
    """Length of the union of `intervals` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, end = 0.0, lo
    for a, b in clipped:
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def driver_self(span, intervals):
    """A span's time not covered by any Spark job: planning, file
    renames, catalog and sidecar work the driver does between jobs."""
    lo, hi = span
    return (hi - lo) - covered(intervals, lo, hi)


def _under(path, root):
    return bool(root) and (path == root or path.startswith(root.rstrip("/") + "/"))


def strip_scheme(path):
    return re.sub(r"^file:(//)?", "", path)


def classify_write(path, roots):
    """The layer a write belongs to, from its output path and the run's
    lake, warehouse and dump roots."""
    path = strip_scheme(path)
    if _under(path, roots.get("dump", "")) and "/_graft_run_ledger" in path:
        return "exec.ledger_write"
    if _under(path, roots.get("lake", "")):
        return "io.lake_write"
    if _under(path, roots.get("wh", "")):
        table = path[len(roots["wh"].rstrip("/")) + 1:].split("/")
        return "io.journal_write" if len(table) > 1 and "__journal" in table[1] else "merge.master_write"
    return "other"


def end_to_end(raw):
    ops = [o["wall_s"] for o in raw["ops"] if o["kind"] == "op" and o["ok"]]
    values = {"op_s": median(ops), "setup_s": median(raw["setup_s"])}
    return {k: {"value": values[k], "unit": u} for k, u in END_TO_END}


def counts(raw, checks_extra=()):
    """(attempted, failed): every op, warm-up op and set-up op, plus
    every output check."""
    ops = [o for o in raw["ops"] if o["kind"] != "prepare" or not o["ok"]]
    checks = list(raw["checks"]) + list(checks_extra)
    attempted = len(ops) + len(checks)
    failed = sum(not o["ok"] for o in ops) + sum(not c["ok"] for c in checks)
    return max(1, attempted), failed if attempted else 1


def short(query):
    return query.split("_", 1)[0]


def per_layer_names(queries):
    names = [
        ("config.parse_s", "s"), ("exec.extract_s", "s"), ("io.lake_write_s", "s"),
        ("exec.run_table_s", "s"), ("io.journal_write_s", "s"), ("merge.master_write_s", "s"),
        ("exec.ledger_write_s", "s"), ("exec.driver_self_s", "s"),
        ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
        ("spark.executor_run_s", "s"), ("spark.gc_s", "s"), ("spark.busy_frac", "ratio"),
        ("spark.shuffle_read_mb", "MB"), ("spark.shuffle_write_mb", "MB"), ("spark.spill_mb", "MB"),
        ("io.output_mb", "MB"), ("merge.keep_ratio", "ratio"), ("io.delta_landed_ratio", "ratio"),
    ]
    for q in queries:
        s = short(q)
        names += [(f"ext.{s}_s", "s"), (f"ext.{s}.jobs", "count"), (f"ext.{s}.cut_jobs", "count"),
                  (f"ext.{s}.busy_frac", "ratio"), (f"ext.{s}.shuffle_read_mb", "MB")]
    names += [("op_tail_s", "s"), ("op_tail_pct", "%"), ("op_tail_n", "count"),
              ("wh_bytes_per_row", "B"), ("wh_files", "count"), ("peak_rss_mb", "MB"),
              ("setup_cold_s", "s"), ("op_cpu_s", "s"), ("host.steal_frac", "ratio"),
              ("trace.op_s", "s"), ("log.error_lines", "count"), ("error_rate", "ratio")]
    return names


def per_layer(raw, queries, error_lines, attempted, failed):
    """Per-layer metrics of a traced run: medians over the timed ops of
    each op's span, job and write totals."""
    cores = raw["cores"]
    spans = {s["id"]: s for s in raw.get("spans", [])}
    timed = sorted({s["op"] for s in spans.values() if s["kind"] == "op"})
    roots = raw["extra"].get("roots", {})

    def op_of(span_id):
        s = spans.get(span_id)
        return s["op"] if s and s["kind"] == "op" else None

    def dur(s):
        return (s["end_ms"] - s["start_ms"]) / 1e3

    per_op = {i: {} for i in timed}

    def add(i, key, v):
        if i in per_op:
            per_op[i][key] = per_op[i].get(key, 0.0) + v

    jobs = raw.get("jobs", [])
    for j in jobs:
        i = op_of(j["span"])
        add(i, "spark.jobs", 1)
        add(i, "spark.stages", j["stages"])
        add(i, "spark.tasks", j["tasks"])
        add(i, "spark.executor_run_s", j["executor_run_ms"] / 1e3)
        add(i, "spark.gc_s", j["gc_ms"] / 1e3)
        add(i, "spark.shuffle_read_mb", j["shuffle_read_bytes"] / MB)
        add(i, "spark.shuffle_write_mb", j["shuffle_write_bytes"] / MB)
        add(i, "spark.spill_mb", j["spill_bytes"] / MB)
    job_intervals = [(j["start_ms"] / 1e3, j["end_ms"] / 1e3) for j in jobs]
    for s in spans.values():
        i = op_of(s["id"])
        if s["name"] == "op":
            add(i, "wall_s", dur(s))
        elif s["name"] in ("config.parse", "exec.extract", "exec.run_table"):
            add(i, s["name"] + "_s", dur(s))
        if s["name"] == "exec.run_table":
            add(i, "exec.driver_self_s",
                driver_self((s["start_ms"] / 1e3, s["end_ms"] / 1e3), job_intervals))
    for w in raw.get("writes", []):
        i = op_of(w["span"])
        layer = classify_write(w["path"], roots) if w["path"] else "other"
        if layer != "other":
            add(i, layer + "_s", w["duration_ms"] / 1e3)
            add(i, layer + "_rows", w["rows"])
        add(i, "io.output_mb", w["bytes"] / MB)
    cycles = raw["extra"].get("cycles", [])
    for i, m in per_op.items():
        m["spark.busy_frac"] = m.get("spark.executor_run_s", 0) / (m.get("wall_s", 0) * cores or 1)
        if m.get("io.journal_write_rows"):
            m["merge.keep_ratio"] = m.get("merge.master_write_rows", 0) / m["io.journal_write_rows"]
        if cycles and i < len(cycles) and m.get("io.lake_write_rows") is not None:
            m["io.delta_landed_ratio"] = m["io.lake_write_rows"] / cycles[i]["source_rows_ge_mark"]

    out = {}
    for name, unit in per_layer_names(queries):
        out[name] = {"value": median([m.get(name, 0.0) for m in per_op.values()]), "unit": unit}

    for q in queries:
        s = short(q)
        qspans = [sp for sp in spans.values() if sp["name"] == f"ext.{q}" and sp["kind"] == "op"]
        rows = []
        for sp in qspans:
            js = [j for j in jobs if j["span"] == sp["id"]]
            wall = dur(sp)
            rows.append({"s": wall, "jobs": len(js),
                         "cut": sum(bool(CUT_CALL_SITE.search(j["name"])) for j in js),
                         "busy": sum(j["executor_run_ms"] for j in js) / 1e3 / (wall * cores or 1),
                         "shuf": sum(j["shuffle_read_bytes"] for j in js) / MB})
        for key, metric in (("s", f"ext.{s}_s"), ("jobs", f"ext.{s}.jobs"),
                            ("cut", f"ext.{s}.cut_jobs"), ("busy", f"ext.{s}.busy_frac"),
                            ("shuf", f"ext.{s}.shuffle_read_mb")):
            out[metric]["value"] = median([r[key] for r in rows])

    ops = [o["wall_s"] for o in raw["ops"] if o["kind"] == "op" and o["ok"]]
    tail = tail_percentile(ops)
    out["op_tail_s"]["value"] = tail[1] if tail else 0.0
    out["op_tail_pct"]["value"] = tail[0] if tail else 0.0
    out["op_tail_n"]["value"] = len(ops)
    wh = raw.get("wh") or {}
    out["wh_bytes_per_row"]["value"] = wh.get("bytes", 0) / raw["rows_fed"] if raw.get("rows_fed") else 0.0
    out["wh_files"]["value"] = wh.get("files", 0)
    out["peak_rss_mb"]["value"] = raw["peak_rss_kb"] / 1024
    out["setup_cold_s"]["value"] = raw["setup_s"][0] if raw["setup_s"] else 0.0
    timed_ok = [o for o in raw["ops"] if o["kind"] == "op" and o["ok"]]
    out["op_cpu_s"]["value"] = median([o.get("cpu_s", 0.0) for o in timed_ok])
    out["host.steal_frac"]["value"] = median([o.get("steal_frac", 0.0) for o in timed_ok])
    out["trace.op_s"]["value"] = median(ops)
    out["log.error_lines"]["value"] = error_lines
    out["error_rate"]["value"] = failed / attempted
    return out
