"""Turns the JVM's raw measurement document into the benchmark's metrics.

End-to-end metrics come from untraced work only; per-layer metrics from
the traced passes (queries) or traced phases (service) of a traced run.
"""
import glob
import json
import os

from .stats import median, percentile, self_times

MB = 1048576.0
QUERY_MODULES = ["Graph", "Relational", "TpchExtra", "Multimodal"]
QUERY_LAYER = ["build_s", "build_jobs", "plan_s", "exec_s", "jobs", "stages",
               "tasks", "slot_util", "executor_cpu_s", "executor_run_s",
               "gc_s", "driver_cpu_s", "shuffle_write_mb", "shuffle_read_mb",
               "spill_mb", "input_mb"]
SERVICE_ENGINE = ["jobs", "tasks", "executor_cpu_s", "executor_run_s", "gc_s",
                  "slot_util", "input_mb"]
# MicroBatchExecution runs these in this order within one trigger
STREAM_PHASES = ["latestOffset", "walCommit", "getBatch", "queryPlanning",
                 "addBatch", "commitOffsets"]


def per_layer_names():
    names = [f"{m}.{x}" for m in QUERY_MODULES for x in QUERY_LAYER]
    names += ["streaming." + x for x in (
        "latest_offset_ms", "query_planning_ms", "wal_commit_ms",
        "commit_offsets_ms", "add_batch_ms", "trigger_ms", "batches",
        "files_per_batch")]
    names += ["convert." + x for x in (
        "jobs_per_file", "file_ms", "parse_events_ms", "rows_dropped_corrupt",
        "ages_nulled")]
    names += ["service." + x for x in SERVICE_ENGINE]
    names += ["gen.late_max_ms", "gen.backlog_end", "host.steal_ticks",
              "host.loadavg", "host.calib_ms", "trace.overhead_s"]
    return names


def host(raw):
    h = raw["host"]
    return {"host.steal_ticks": h["steal_ticks"], "host.loadavg": h["loadavg"],
            "host.calib_ms": h["calib_ms"]}


# ---------------------------------------------------------------- queries

def _dur(e):
    return e["end"] - e["start"]


def query_e2e(raw):
    execs = [e for e in raw["execs"] if not e["traced"] and not e["error"]]
    by_q = {}
    for e in execs:
        by_q.setdefault(e["name"], []).append(_dur(e))
    # one latency per query, the median of its passes: percentiles over
    # the raw executions of a few unlike queries fall in the gaps
    # between them and flip from run to run
    per_q = [median(ds) for ds in by_q.values()]
    passes = [p for p in raw["passes"] if not p["traced"]]
    s = raw["setup"]
    setup_ms = (s["session_ready"] - raw["jvm_start_ms"]) + s["warm_pass_ms"]
    return {
        "setup_s": setup_ms / 1e3,
        "wall_s": sum(per_q) / 1e3,
        "cpu_s": median([p["cpu_ns"] for p in passes]) / 1e9,
        "heap_peak_mb": raw["heap_peak_mb"],
        "op_p50_s": percentile(per_q, 50) / 1e3,
        "op_p90_s": percentile(per_q, 90) / 1e3,
    }, len(per_q)


def query_spans(raw):
    """Spans of the traced passes: query > build | plan | execute > job >
    stage. Jobs are attributed to a query by their job group and to a
    phase by their start time; stages to the first job that lists them."""
    spans, by_exec = [], {}
    for i, e in enumerate(x for x in raw["execs"] if x["traced"]):
        qid = f"q{i}"
        spans.append(dict(id=qid, parent=None, kind="query", name=e["name"],
                          start=e["start"], end=e["end"], exec=e))
        b_end = e["build_end"] if e["build_end"] > 0 else e["end"]
        p_end = e["plan_end"] if e["plan_end"] > 0 else b_end
        for kind, a, b in (("build", e["start"], b_end), ("plan", b_end, p_end),
                           ("execute", p_end, e["end"])):
            spans.append(dict(id=f"{qid}.{kind}", parent=qid, kind=kind,
                              name=e["name"], start=a, end=b))
        by_exec[f"pb|{e['name']}|{e['pass']}"] = (qid, b_end, p_end)
    eng = raw["engine"]
    owner = {}
    for j in eng.get("jobs", []):
        if j["group"] not in by_exec:
            continue
        qid, b_end, p_end = by_exec[j["group"]]
        phase = "build" if j["start"] < b_end else "plan" if j["start"] < p_end else "execute"
        end = j["end"] if j["end"] >= 0 else j["start"]
        spans.append(dict(id=f"j{j['id']}", parent=f"{qid}.{phase}", kind="job",
                          name=qid, start=j["start"], end=end, phase=phase))
        for sid in j["stages"]:
            owner.setdefault(sid, f"j{j['id']}")
    _stage_spans(spans, eng, owner)
    return spans


def _stage_spans(spans, eng, owner):
    for st in eng.get("stages", []):
        if st["id"] in owner:
            end = st["complete"] if st["complete"] >= 0 else st["submit"]
            spans.append(dict(id=f"s{st['id']}", parent=owner[st["id"]],
                              kind="stage", start=st["submit"], end=end, stage=st))


def _engine_sums(stages):
    return {
        "stages": len(stages),
        "tasks": sum(s["tasks"] for s in stages),
        "executor_run_s": sum(s["run_ms"] for s in stages) / 1e3,
        "executor_cpu_s": sum(s["cpu_ns"] for s in stages) / 1e9,
        "gc_s": sum(s["gc_ms"] for s in stages) / 1e3,
        "shuffle_write_mb": sum(s["shuffle_write"] for s in stages) / MB,
        "shuffle_read_mb": sum(s["shuffle_read"] for s in stages) / MB,
        "spill_mb": sum(s["spill"] for s in stages) / MB,
        "input_mb": sum(s["input"] for s in stages) / MB,
    }


def query_layers(raw, cores):
    """Per-query medians over the traced passes, and per-module sums."""
    spans = query_spans(raw)
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    samples = {}
    for q in (s for s in spans if s["kind"] == "query"):
        e = q["exec"]
        phase = {k["kind"]: k for k in kids[q["id"]]}
        jobs = [j for k in phase.values() for j in kids.get(k["id"], [])]
        stages = [s["stage"] for j in jobs for s in kids.get(j["id"], [])]
        m = _engine_sums(stages)
        wall = (q["end"] - q["start"]) / 1e3
        m.update({
            "build_s": (phase["build"]["end"] - phase["build"]["start"]) / 1e3,
            "plan_s": (phase["plan"]["end"] - phase["plan"]["start"]) / 1e3,
            "exec_s": (phase["execute"]["end"] - phase["execute"]["start"]) / 1e3,
            "build_jobs": sum(1 for j in jobs if j["phase"] == "build"),
            "jobs": len(jobs),
            "wall_s": wall,
            "driver_cpu_s": e["cpu_ns"] / 1e9 - m["executor_cpu_s"],
        })
        samples.setdefault(e["name"], []).append(m)
    modules = raw["modules"]
    per_query = {}
    for name, ms in samples.items():
        per_query[name] = {k: median([m[k] for m in ms]) for k in ms[0]}
        pq = per_query[name]
        pq["slot_util"] = pq["executor_run_s"] / (pq["wall_s"] * cores) if pq["wall_s"] else 0.0
    out = {}
    for mod in QUERY_MODULES:
        qs = [v for k, v in per_query.items() if modules[k] == mod]
        for x in QUERY_LAYER:
            out[f"{mod}.{x}"] = sum(q[x] for q in qs) if x != "slot_util" else 0.0
        wall = sum(q["wall_s"] for q in qs)
        if wall:
            out[f"{mod}.slot_util"] = out[f"{mod}.executor_run_s"] / (wall * cores)
    return out, per_query, spans


def query_overhead(raw):
    def pass_wall(traced):
        by_q = {}
        for e in raw["execs"]:
            if e["traced"] == traced and not e["error"]:
                by_q.setdefault(e["name"], []).append(_dur(e))
        return sum(median(v) for v in by_q.values()) / 1e3
    return pass_wall(True) - pass_wall(False)


# ---------------------------------------------------------------- service

def batch_files(ckpt):
    """{notification file name: batch id} from the file source's log."""
    out = {}
    for p in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        if os.path.basename(p).startswith("."):
            continue
        with open(p) as f:
            for line in f:
                line = line.strip()
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = e["batchId"]
    return out


def commit_times(ckpt):
    """{batch id: epoch ms at which its commit log entry was written}."""
    out = {}
    for p in glob.glob(os.path.join(ckpt, "commits", "*")):
        b = os.path.basename(p)
        if b.isdigit():
            out[int(b)] = os.stat(p).st_mtime_ns / 1e6
    return out


def drain_wall(raw, batch_of, commit, phase):
    """Seconds from the start of the first batch that took files of a
    drain phase to the commit of the last; the wait for the next trigger
    is excluded."""
    batches = {b for f, b in batch_of.items() if f.startswith(phase + "-")}
    start = {p["batch"]: p["start"] for p in raw["progress"]}
    return (max(commit[b] for b in batches) - min(start[b] for b in batches)) / 1e3


def service_e2e(raw, ckpt, gen_setup_s):
    phases = {p["name"]: p for p in raw["phases"]}
    batch_of = batch_files(ckpt)
    commit = commit_times(ckpt)
    lat = [commit[batch_of[r["file"]]] - r["due"] for r in raw["releases"]]
    setup_ms = (raw["setup"]["session_ready"] - raw["jvm_start_ms"]) + \
        (phases["warm"]["end"] - phases["warm"]["start"])
    return {
        "setup_s": gen_setup_s + setup_ms / 1e3,
        "wall_s": drain_wall(raw, batch_of, commit, "drain"),
        "cpu_s": raw["cpu_ns"] / 1e9,
        "heap_peak_mb": raw["heap_peak_mb"],
        "op_p50_s": percentile(lat, 50) / 1e3,
        "op_p90_s": percentile(lat, 90) / 1e3,
    }, len(lat)


def service_spans(raw, ckpt):
    """micro-batch > progress phases (laid end to end in execution order)
    > jobs (by time window) > stages."""
    spans = []
    windows = []
    commit = commit_times(ckpt)
    for p in raw["progress"]:
        if not p["rows"]:
            continue
        bid = f"b{p['batch']}"
        d = p["durations"]
        end = p["start"] + d.get("triggerExecution", 0)
        spans.append(dict(id=bid, parent=None, kind="micro-batch",
                          start=p["start"], end=max(end, commit.get(p["batch"], end))))
        t = p["start"]
        for ph in STREAM_PHASES:
            if ph in d:
                spans.append(dict(id=f"{bid}.{ph}", parent=bid, kind=ph,
                                  start=t, end=t + d[ph]))
                t += d[ph]
        windows.append((p["start"], end, bid))
    by_id = {s["id"]: s for s in spans}
    eng = raw["engine"]
    owner = {}
    for j in eng.get("jobs", []):
        parent = None
        for a, b, bid in windows:
            if a <= j["start"] <= b:
                add = by_id.get(f"{bid}.addBatch")
                parent = add["id"] if add and add["start"] <= j["start"] <= add["end"] else bid
                break
        end = j["end"] if j["end"] >= 0 else j["start"]
        spans.append(dict(id=f"j{j['id']}", parent=parent, kind="job",
                          start=j["start"], end=end))
        for sid in j["stages"]:
            owner.setdefault(sid, f"j{j['id']}")
    _stage_spans(spans, eng, owner)
    return spans


def service_layers(raw, ckpt, notes, cores):
    phases = {p["name"]: p for p in raw["phases"]}
    batch_of = batch_files(ckpt)
    files_in = {}
    for f, b in batch_of.items():
        files_in.setdefault(b, []).append(f)

    def phase_of(b):
        return files_in[b][0].split("-")[0] if b in files_in else None
    data = [p for p in raw["progress"] if p["rows"] and phase_of(p["batch"])]
    steady = [p for p in data if phase_of(p["batch"]) == "steady"]
    drain = [p for p in data if phase_of(p["batch"]).startswith("drain")]
    measured = steady + drain

    def med(ps, key):
        return median([p["durations"].get(key, 0) for p in ps]) if ps else 0.0
    out = {
        "streaming.latest_offset_ms": med(steady, "latestOffset"),
        "streaming.query_planning_ms": med(steady, "queryPlanning"),
        "streaming.wal_commit_ms": med(steady, "walCommit"),
        "streaming.commit_offsets_ms": med(steady, "commitOffsets"),
        "streaming.add_batch_ms": med(drain, "addBatch"),
        "streaming.trigger_ms": med(measured, "triggerExecution"),
        "streaming.batches": len(measured),
        "streaming.files_per_batch":
            sum(p["rows"] for p in measured) / len(measured) if measured else 0.0,
    }
    # traced windows: steady and drain_traced carry the engine recorder
    spans = service_spans(raw, ckpt)
    traced_batches = {p["batch"] for p in data
                      if phase_of(p["batch"]) in ("steady", "drain_traced")}
    keys = sum(len(set(k for f in files_in[b] for k in notes[f]))
               for b in traced_batches)
    jobs = [s for s in spans if s["kind"] == "job"]
    stages = [s["stage"] for s in spans if s["kind"] == "stage"]
    eng = _engine_sums(stages)
    tw = sum(phases[n]["end"] - phases[n]["start"]
             for n in ("steady", "drain_traced") if n in phases) / 1e3
    out.update({
        "convert.jobs_per_file": len(jobs) / keys if keys else 0.0,
        "service.jobs": len(jobs),
        "service.tasks": eng["tasks"],
        "service.executor_cpu_s": eng["executor_cpu_s"],
        "service.executor_run_s": eng["executor_run_s"],
        "service.gc_s": eng["gc_s"],
        "service.slot_util": eng["executor_run_s"] / (tw * cores) if tw else 0.0,
        "service.input_mb": eng["input_mb"],
    })
    pr = raw.get("probes") or {}
    out["convert.file_ms"] = median(pr["file_ms"]) if pr.get("file_ms") else 0.0
    out["convert.parse_events_ms"] = median(pr["parse_events_ms"]) if pr.get("parse_events_ms") else 0.0
    rel = raw["releases"]
    out["gen.late_max_ms"] = max((r["visible"] - r["due"] for r in rel), default=0.0)
    commit = commit_times(ckpt)
    last = max((r["visible"] for r in rel), default=0.0)
    out["gen.backlog_end"] = sum(1 for r in rel if commit[batch_of[r["file"]]] > last)
    if "drain_after" in phases:
        walls = {n: drain_wall(raw, batch_of, commit, n)
                 for n in ("drain", "drain_traced", "drain_after")}
        out["trace.overhead_s"] = walls["drain_traced"] - \
            (walls["drain"] + walls["drain_after"]) / 2
    return out, spans


def span_table(spans):
    """{kind: (count, total ms, self ms)} over a span list."""
    st = self_times(spans)
    table = {}
    for s in spans:
        c, tot, slf = table.get(s["kind"], (0, 0.0, 0.0))
        table[s["kind"]] = (c + 1, tot + (s["end"] - s["start"]), slf + st[s["id"]])
    return table
