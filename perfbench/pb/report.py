"""Per-layer table of one traced run, written as markdown."""
import os

from . import build, metrics

# layer metric (module prefix dropped) -> (end-to-end metric it should
# move, workload on which it should move it)
MOVES = {
    "build_s": ("wall_s", "queries"),
    "build_jobs": ("wall_s", "queries"),
    "plan_s": ("wall_s", "queries"),
    "exec_s": ("wall_s", "queries"),
    "jobs": ("wall_s", "queries"),
    "stages": ("wall_s", "queries"),
    "tasks": ("wall_s", "queries"),
    "slot_util": ("wall_s", "queries"),
    "executor_cpu_s": ("cpu_s", "queries"),
    "executor_run_s": ("cpu_s", "queries"),
    "gc_s": ("cpu_s", "queries"),
    "driver_cpu_s": ("cpu_s", "queries"),
    "shuffle_write_mb": ("wall_s", "queries"),
    "shuffle_read_mb": ("wall_s", "queries"),
    "spill_mb": ("wall_s", "queries"),
    "input_mb": ("wall_s", "queries"),
    "streaming.latest_offset_ms": ("op_p50_s", "convert_service"),
    "streaming.query_planning_ms": ("op_p50_s", "convert_service"),
    "streaming.wal_commit_ms": ("op_p50_s", "convert_service"),
    "streaming.commit_offsets_ms": ("op_p50_s", "convert_service"),
    "streaming.add_batch_ms": ("wall_s", "convert_service"),
    "convert.jobs_per_file": ("wall_s, cpu_s", "convert_service"),
    "convert.file_ms": ("wall_s", "convert_service"),
    "convert.parse_events_ms": ("op_p50_s", "convert_service"),
    "service.jobs": ("cpu_s", "convert_service"),
    "service.tasks": ("cpu_s", "convert_service"),
    "service.executor_cpu_s": ("cpu_s", "convert_service"),
    "service.executor_run_s": ("cpu_s", "convert_service"),
    "service.gc_s": ("cpu_s", "convert_service"),
    "service.slot_util": ("wall_s", "convert_service"),
    "service.input_mb": ("cpu_s", "convert_service"),
}


def moves(name):
    """(end-to-end metric, workload) a layer metric should move, or None
    for counts and witnesses that explain rather than predict."""
    if name in MOVES:
        return MOVES[name]
    return MOVES.get(name.split(".", 1)[1]) if name.split(".")[0] in metrics.QUERY_MODULES else None


def _fmt(v):
    return f"{v:.4g}" if isinstance(v, float) else str(v)


def write(args, layers, e2e, per_query, spans, cores):
    out_dir = os.path.join(build.HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    base = os.path.join(out_dir, f"traced-{args.workload}-seed{args.seed}")
    lines = [f"# Traced run: {args.workload}, seed {args.seed}",
             "",
             f"{cores} cores (`local[{cores}]`), --seconds {args.seconds}. "
             "End-to-end values below come from the untraced part of this "
             "run; per-layer values from its traced part.",
             "",
             f"Tracing overhead (traced wall minus untraced wall): "
             f"**{layers['trace.overhead_s']:.3f} s**.",
             "", "## End to end", "", "| metric | value |", "|---|---|"]
    lines += [f"| {k} | {_fmt(v)} |" for k, v in e2e.items()]
    lines += ["", "## Spans", "",
              "Self time is a span's duration minus what its children cover.",
              "", "| span | count | total ms | self ms |", "|---|---|---|---|"]
    for kind, (n, tot, slf) in metrics.span_table(spans).items():
        lines.append(f"| {kind} | {n} | {tot:.1f} | {slf:.1f} |")
    lines += ["", "## Per-layer metrics", "",
              "| metric | value | should move | on workload |", "|---|---|---|---|"]
    for k, v in layers.items():
        m = moves(k)
        lines.append(f"| {k} | {_fmt(v)} | {m[0] if m else '-'} | {m[1] if m else '-'} |")
    if per_query:
        cols = ["wall_s"] + metrics.QUERY_LAYER
        lines += ["", "## Per query (median of the traced passes)", "",
                  "| query | " + " | ".join(cols) + " |",
                  "|---|" + "---|" * len(cols)]
        for q in sorted(per_query):
            lines.append(f"| {q} | " + " | ".join(_fmt(per_query[q][c]) for c in cols) + " |")
    with open(base + ".md", "w") as f:
        f.write("\n".join(lines) + "\n")
    return base + ".md"
