#!/usr/bin/env python3
"""One benchmark run: python3 perfbench/run.py --workload W --seed N
--seconds S --trace 0|1, from the repository root.

Builds the engine and the benchmark JVM program on first use, runs the
workload in one JVM, checks the outputs, and prints one JSON line as the last line of
stdout: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end metrics of BENCHMARK.json; with --trace 1 the
per-layer ones, and a per-layer table is written under perfbench/out/.
See perfbench/README.md for the workloads and the metrics.
"""
import argparse
import json
import os
import random
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from pb import build, check, corpus, metrics, report, stats  # noqa: E402

HERE = build.HERE
TESTDATA = os.environ.get("PERFBENCH_TESTDATA", os.path.expanduser("~/testdata"))

# (query, scale factor). A round-heavy Graph query (BFS runs its
# frontier rounds as eager jobs while the DataFrame is built), at sf0.01
# because the Graph DuckDB oracles do not fit at sf0.1; a TPC-H join (q3,
# Relational), a TPC-H scan-aggregate (q6, TpchExtra) and a Multimodal
# per-row decode kernel, which build without round loops, at sf0.1.
QUERIES = [("q_graph_bfs", "sf0.01"), ("q_tpch_q3", "sf0.1"),
           ("q_tpch_q6", "sf0.1"), ("q_multimodal_jpeg_decode", "sf0.1")]
# Mean steady arrivals per second: at 3, one trigger's keys convert in
# one wave on 4 workers and a batch ends inside its 1 s trigger even when
# other tenants take a third of the host's CPU, so latency does not queue.
SERVICE_RATE = 3
# 120 keys in 40 notifications: four full micro-batches at Poller=1
DRAIN_KEYS = 120
WORKLOADS = ["convert_service", "queries"]
JVM_TIMEOUT = 170


def log(msg):
    sys.stderr.write(f"[perfbench] {msg}\n")
    sys.stderr.flush()


def write_conf(path, conf):
    with open(path, "w") as f:
        for k, v in conf.items():
            f.write(f"{k}={v}\n")


def declared():
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    return ({m["name"]: m["unit"] for m in b["end_to_end"]},
            {m["name"]: m["unit"] for m in b["per_layer"]})


def run(args):
    e2e_units, layer_units = declared()
    work = os.path.join(HERE, ".work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    classpath, jvm_opts = build.ensure_built(log)
    cores = len(os.sched_getaffinity(0))
    raw_out = os.path.join(work, "raw.json")
    conf = dict(workload=args.workload, trace=args.trace, seconds=args.seconds,
                cores=cores, raw_out=raw_out)
    service = args.workload == "convert_service"
    if service:
        dirs = {k: os.path.join(work, k) for k in
                ("bucket", "notify", "stage", "ckpt", "probe")}
        for d in dirs.values():
            os.makedirs(d)
        t0 = time.perf_counter()
        plan = corpus.Plan(SERVICE_RATE, args.seconds, DRAIN_KEYS)
        schedule, manifest, notes = corpus.generate(
            args.seed, plan, dirs["bucket"], dirs["stage"], args.trace == 1)
        gen_s = time.perf_counter() - t0
        with open(os.path.join(work, "schedule.tsv"), "w") as f:
            for phase, name, off in schedule:
                f.write(f"{phase}\t{name}\t{off:.6f}\n")
        probe_keys = [k for k in manifest if manifest[k]["rows"]][-10:]
        conf.update(notify_dir=dirs["notify"], object_root=dirs["bucket"],
                    stage_dir=dirs["stage"], ckpt_dir=dirs["ckpt"],
                    probe_out=dirs["probe"], schedule=os.path.join(work, "schedule.tsv"),
                    probe_keys=",".join(probe_keys))
    else:
        order = list(QUERIES)
        random.Random(args.seed).shuffle(order)
        conf.update(queries=",".join(f"{q}@{os.path.join(TESTDATA, sf)}"
                                     for q, sf in order),
                    check_out=os.path.join(work, "check"))
    conf_path = os.path.join(work, "conf.properties")
    write_conf(conf_path, conf)
    rc = build.run_jvm(classpath, jvm_opts, conf_path, work, JVM_TIMEOUT)
    if rc != 0 or not os.path.exists(raw_out):
        raise RuntimeError(f"benchmark JVM exited {rc}; see {work}/jvm.log")
    with open(raw_out) as f:
        raw = json.load(f)

    if service:
        delivered = {k for phase, name, _ in schedule
                     if any(p["name"] == phase for p in raw["phases"])
                     for k in notes[name]}
        verdict, dropped, nulled = check.service(dirs["bucket"], manifest, delivered)
        attempted = len(verdict)
        failed = sum(1 for v in verdict.values() if v) + (1 if raw["error"] else 0)
        for k, v in verdict.items():
            if v:
                log(f"FAIL {k}: {v}")
        if raw["error"]:
            log(f"service error: {raw['error']}")
        e2e, n_lat = metrics.service_e2e(raw, dirs["ckpt"], gen_s)
    else:
        verdict = check.queries(order, TESTDATA, conf["check_out"], raw["oracles"])
        for c in raw["checks"]:
            if c["error"]:
                verdict[c["name"]] = c["error"]
        errs = [e for e in raw["execs"] if e["error"]]
        attempted = len(raw["execs"]) + len(verdict)
        failed = len(errs) + sum(1 for v in verdict.values() if v)
        for e in errs:
            log(f"FAIL {e['name']} pass {e['pass']}: {e['error']}")
        for k, v in verdict.items():
            if v:
                log(f"FAIL {k} check: {v}")
        e2e, n_lat = metrics.query_e2e(raw)
    log(f"{n_lat} latency samples, {stats.beyond(n_lat, 90)} beyond op_p90_s")
    log(f"host: {raw['host']}")

    if args.trace:
        if service:
            layers, spans = metrics.service_layers(raw, dirs["ckpt"], notes, cores)
            layers["convert.rows_dropped_corrupt"] = dropped
            layers["convert.ages_nulled"] = nulled
            per_query = {}
        else:
            layers, per_query, spans = metrics.query_layers(raw, cores)
            layers["trace.overhead_s"] = metrics.query_overhead(raw)
        layers.update(metrics.host(raw))
        out = {n: layers.get(n, 0.0) for n in layer_units}
        units = layer_units
        path = report.write(args, out, e2e, per_query, spans, cores)
        log(f"per-layer table: {os.path.relpath(path, build.ROOT)}")
    else:
        out, units = e2e, e2e_units
    missing = set(units) - set(out)
    if missing:
        raise RuntimeError(f"metrics not computed: {sorted(missing)}")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {n: {"value": out[n], "unit": units[n]} for n in units}}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    try:
        result = run(args)
    except (RuntimeError, OSError) as e:
        log(f"error: {e}")
        sys.exit(2)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
