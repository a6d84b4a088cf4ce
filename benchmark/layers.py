"""Spans and per-layer numbers from a traced harness record.

Span tree of one query (all times epoch ms):

    query
      build               op.build: DataFrame construction, table
        analysis            listing and eager memo/store writes
        memo_write
          job -> stage
        job -> stage
      optimization        QueryPlanningTracker phases
      planning
      exec                toRdd.count(): codegen, scheduling, tasks
        job -> stage

A phase span nests under `build` when it ran inside it (the final
frame is analysed while the op builds it). A span's self time is its
duration minus the part of it covered by its children, so the self
times of a query's spans add up to its wall time.
"""
from stats import median

MB = float(1 << 20)


def union_length(intervals):
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_s is None or s > cur_e:
            if cur_s is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        elif e > cur_e:
            cur_e = e
    if cur_s is not None:
        total += cur_e - cur_s
    return total


def _clip(span, lo, hi):
    span["start"] = min(max(span["start"], lo), hi)
    span["end"] = min(max(span["end"], span["start"]), hi)
    return span


def query_spans(sample, jobs, stages, writes):
    """Spans of one traced query. `jobs` are the query's jobs, `stages`
    maps stage id to its record, `writes` are the memo/store write
    executions that started during the query."""
    q = sample["q"]
    spans = []

    def add(name, start, end, parent, **extra):
        sid = f"{q}.{len(spans)}"
        lo, hi = (start, end) if parent is None else (parent["start"], parent["end"])
        spans.append(_clip(dict(id=sid, q=q, name=name, start=start, end=end,
                                parent=None if parent is None else parent["id"],
                                **extra), lo, hi))
        return spans[-1]

    root = add("query", sample["start"], sample["end"], None, key=sample["key"])
    build = add("build", sample["start"], sample["build_end"], root)
    phases = sample.get("phases", {})
    exec_start = build["end"]
    for name in ("analysis", "optimization", "planning"):
        if name in phases:
            s, e = phases[name]
            inside = s >= build["start"] - 1 and e <= build["end"] + 1
            add(name, s, e, build if inside else root)
            if not inside:
                exec_start = max(exec_start, e)
    ex = add("exec", exec_start, sample["end"], root)
    write_spans = [add("memo_write", w["start"], w.get("end", w["start"]), build)
                   for w in writes]
    for j in jobs:
        parent = ex
        if j["phase"] == "build":
            parent = next((w for w in write_spans
                           if w["start"] <= j["start"] <= w["end"]), build)
        js = add("job", j["start"], j.get("end", j["start"]), parent)
        for sid in j["stage_ids"]:
            st = stages.get(sid)
            if st is None or st["submit"] < 0:
                continue
            add("stage", st["submit"], st["complete"], js,
                task_intervals=st["task_intervals"])
    return spans


def self_times(spans):
    """Self time (ms) of each span: duration minus its children's cover.
    A stage's children are its running tasks."""
    kids = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        iv = kids.get(s["id"], [])
        if s["name"] == "stage":
            iv = [(max(a, s["start"]), min(b, s["end"]))
                  for a, b in s.get("task_intervals", [])]
            iv = [(a, b) for a, b in iv if b > a]
        out[s["id"]] = (s["end"] - s["start"]) - union_length(iv)
    return out


LAYER = [
    "ops.build_s", "sql.analysis_s", "sql.optimization_s", "sql.planning_s",
    "codegen.compiles", "codegen.compile_s", "codegen.class_bytes",
    "sched.jobs", "sched.stages", "sched.tasks", "sched.wait_s",
    "exec.task_run_s", "exec.task_cpu_s", "exec.gc_s", "exec.shuffle_write_mb",
    "exec.shuffle_read_mb", "exec.spill_mb", "exec.max_task_frac",
    "scan.files_read", "scan.bytes_read_mb", "scan.metadata_s",
    "memo.writes", "memo.write_s", "memo.bytes_written_mb", "memo.files_written",
]
SELF = ["build", "catalyst", "codegen", "sched", "task", "memo_write",
        "exec_other"]


def query_layers(sample, jobs, stages, writes):
    """Per-layer numbers and self-time split of one traced query."""
    spans = query_spans(sample, jobs, stages, writes)
    st = self_times(spans)
    ph = sample.get("phases", {})

    def phase_s(n):
        return (ph[n][1] - ph[n][0]) / 1e3 if n in ph else 0.0

    qstages = [stages[s] for j in jobs for s in j["stage_ids"] if s in stages]
    longest = max(qstages, key=lambda s: s["complete"] - s["submit"], default=None)
    cg = sample.get("codegen", {})
    scan = sample.get("scan", {})
    mf = sample.get("memo_files", {})
    wall = (sample["end"] - sample["start"]) / 1e3
    m = {
        "ops.build_s": (sample["build_end"] - sample["start"]) / 1e3,
        "sql.analysis_s": phase_s("analysis"),
        "sql.optimization_s": phase_s("optimization"),
        "sql.planning_s": phase_s("planning"),
        "codegen.compiles": cg.get("compiles", 0),
        "codegen.compile_s": cg.get("compile_ms", 0.0) / 1e3,
        "codegen.class_bytes": cg.get("class_bytes", 0.0),
        "sched.jobs": len(jobs),
        "sched.stages": len(qstages),
        "sched.tasks": sum(s["tasks"] for s in qstages),
        "sched.wait_s": sum(
            (j.get("end", j["start"]) - j["start"]) - union_length(
                [tuple(t) for s in j["stage_ids"] if s in stages
                 for t in stages[s]["task_intervals"]])
            for j in jobs) / 1e3,
        "exec.task_run_s": sum(s["run_ms"] for s in qstages) / 1e3,
        "exec.task_cpu_s": sum(s["cpu_ms"] for s in qstages) / 1e3,
        "exec.gc_s": sum(s["gc_ms"] for s in qstages) / 1e3,
        "exec.shuffle_write_mb": sum(s["shuffle_write_bytes"] for s in qstages) / MB,
        "exec.shuffle_read_mb": sum(s["shuffle_read_bytes"] for s in qstages) / MB,
        "exec.spill_mb": sum(s["spill_bytes"] for s in qstages) / MB,
        "exec.max_task_frac": (
            longest["max_task_ms"] / max(longest["complete"] - longest["submit"], 1.0)
            if longest else 0.0),
        "scan.files_read": scan.get("files", 0),
        "scan.bytes_read_mb": scan.get("bytes", 0) / MB,
        "scan.metadata_s": scan.get("metadata_ms", 0) / 1e3,
        "memo.writes": len(writes),
        "memo.write_s": sum(w.get("end", w["start"]) - w["start"] for w in writes) / 1e3,
        "memo.bytes_written_mb": (mf.get("build_bytes", 0) + mf.get("exec_bytes", 0)) / MB,
        "memo.files_written": mf.get("build_files", 0) + mf.get("exec_files", 0),
    }
    by_name = {}
    for s in spans:
        by_name[s["name"]] = by_name.get(s["name"], 0.0) + st[s["id"]] / 1e3
    codegen = min(m["codegen.compile_s"], by_name.get("exec", 0.0))
    split = {
        "build": by_name.get("build", 0.0),
        "catalyst": sum(by_name.get(n, 0.0)
                        for n in ("analysis", "optimization", "planning")),
        "codegen": codegen,
        "sched": by_name.get("job", 0.0) + by_name.get("stage", 0.0),
        "task": sum(union_length([tuple(t) for t in s["task_intervals"]])
                    for s in spans if s["name"] == "stage") / 1e3,
        "memo_write": by_name.get("memo_write", 0.0),
        "exec_other": by_name.get("exec", 0.0) - codegen,
    }
    gap = by_name.get("query", 0.0)
    return m, split, wall, gap, spans


def layer_report(record, samples):
    """Per-layer metrics of traced `samples`, keyed as in BENCHMARK.json
    without the pass prefix, plus all spans.

    Sums are per pass (total over the samples divided by the number of
    passes they span); medians are per query."""
    jobs_by_q = {}
    for j in record["jobs"]:
        jobs_by_q.setdefault(j["q"], []).append(j)
    stages = {s["id"]: s for s in record["stages"]}
    writes = record["writes"]
    n_pass = max(len({s["pass"] for s in samples}), 1)
    per_q, splits, walls, gaps, spans = [], [], [], [], []
    for s in samples:
        w = [x for x in writes if s["start"] <= x["start"] <= s["end"]]
        m, split, wall, gap, sp = query_layers(s, jobs_by_q.get(s["q"], []), stages, w)
        per_q.append(m)
        splits.append(split)
        walls.append(wall)
        gaps.append(gap)
        spans.extend(sp)
    out = {}
    for name in LAYER:
        vals = [m[name] for m in per_q]
        if name != "exec.max_task_frac":
            out[f"{name}.sum"] = sum(vals) / n_pass
        out[f"{name}.p50"] = median(vals)
    total = sum(walls) or 1.0
    for k in SELF:
        out[f"self.{k}_frac"] = sum(x[k] for x in splits) / total
    out["phase_sum_ok_frac"] = (
        sum(1 for w, g in zip(walls, gaps) if g <= 0.05 * w) / len(walls)
        if walls else 1.0)
    return out, spans
