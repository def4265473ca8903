#!/usr/bin/env python3
"""A/B the benchmark: the parent commit against the committed change.

    python3 tools/ab.py --seeds 31-40 --workloads convert_service,queries

The change is HEAD (commit it first: the tool refuses a tree with
uncommitted tracked changes) and the base is its parent, HEAD~1, checked
out in a `git clone` of this repository in a temporary directory
(`$TMPDIR`) that is removed at the end, so each side builds from its own
sources and this checkout's `.git` is left as it was. Runs
`perfbench/run.py --trace 0` for BENCHMARK.json's run_seconds, one pair
per seed (the same seed on both sides), base first on odd pairs and
change first on even ones. Each A/B starts `--out` afresh and writes
every run to it as one JSON line tagged with both commits, so an
interrupted A/B keeps its runs; `--report-only` prints the report of the
runs in that file whose commits are the current HEAD~1 and HEAD.

perfbench wipes its work directory at the next run, so after each run
the run's `raw.json` and `jvm.log` are copied to
`<out>.runs/<side>-<workload>-<seed>/`, which its JSON line names as
`evidence`: an outlier can be examined after the A/B.

The report gives, per workload and end-to-end metric of BENCHMARK.json:
each side's median and quartiles, the change/base ratio of the medians,
the pairs the change won (ties count for neither), the base's spread
(quartile distance over median), the metric's bound, and a verdict:
"gain" when the change wins at least 9/10 of the pairs, the medians
differ by more than the base's quartile distance and no larger share of
the change's operations failed, "regression" when the ratio is worse
than the bound, "unresolved" when the base's own spread is wider than
the bound and the change does not read better in every run, otherwise
"within bound". Failed operations are reported per side.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def log(msg):
    sys.stderr.write(f"[ab] {msg}\n")
    sys.stderr.flush()


def git(*args):
    return subprocess.run(["git", *args], cwd=ROOT, check=True,
                          capture_output=True, text=True).stdout.strip()


def parse_seeds(spec):
    if "-" in spec:
        lo, hi = spec.split("-")
        seeds = list(range(int(lo), int(hi) + 1))
    else:
        seeds = [int(s) for s in spec.split(",")]
    if len(set(seeds)) != len(seeds):
        sys.exit(f"a seed repeats in {spec}")
    return seeds


def run_once(side, cwd, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True)
    rec = {"side": side, "workload": workload, "seed": seed, "rc": p.returncode}
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
    if p.returncode == 0 and lines:
        res = json.loads(lines[-1])
        rec.update(correct=res["correct"], attempted=res["attempted"],
                   failed=res["failed"],
                   metrics={k: v["value"] for k, v in res["metrics"].items()})
    else:
        rec["error"] = p.stderr[-2000:]
    return rec


def keep_evidence(rec, cwd, runs_dir):
    """Copy the run's raw.json and jvm.log out of perfbench's work
    directory into its own directory under runs_dir; name it in rec."""
    dest = os.path.join(runs_dir, f"{rec['side']}-{rec['workload']}-{rec['seed']}")
    os.makedirs(dest, exist_ok=True)
    work = os.path.join(cwd, "perfbench", ".work", rec["workload"])
    for name in ("raw.json", "jvm.log"):
        if os.path.exists(os.path.join(work, name)):
            shutil.copy2(os.path.join(work, name), dest)
    rec["evidence"] = dest


def quartiles(xs):
    xs = sorted(xs)
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def report(records, declared):
    out = []
    for wl in sorted({r["workload"] for r in records}):
        runs = [r for r in records if r["workload"] == wl]
        by = {(r["side"], r["seed"]): r for r in runs if "metrics" in r}
        seeds = sorted({s for (_, s) in by if ("base", s) in by and ("change", s) in by})
        out.append(f"## {wl}: {len(seeds)} complete pairs (seeds {seeds})")
        failed_share = {}
        for side in ("base", "change"):
            ok = [r for r in runs if r["side"] == side]
            att = sum(r.get("attempted", 0) for r in ok)
            fail = sum(r.get("failed", 0) for r in ok)
            failed_share[side] = fail / att if att else 0.0
            broken = sum(1 for r in ok if "metrics" not in r)
            out.append(f"{side}: {len(ok)} runs, {broken} without a result, "
                       f"{fail}/{att} operations failed")
        no_more_failed = failed_share["change"] <= failed_share["base"]
        if not seeds:
            out.append("")
            continue
        out.append("| metric | base median [q1-q3] | change median [q1-q3] | "
                   "change/base | pairs won | base spread | bound | verdict |")
        out.append("|---|---|---|---|---|---|---|---|")
        for m in declared:
            name, lower = m["name"], m["better"] == "lower"
            b = [by[("base", s)]["metrics"][name] for s in seeds]
            c = [by[("change", s)]["metrics"][name] for s in seeds]
            bq, cq = quartiles(b), quartiles(c)
            ratio = cq[1] / bq[1] if bq[1] else float("nan")
            won = sum(1 for x, y in zip(b, c) if (y < x if lower else y > x))
            spread = (bq[2] - bq[0]) / bq[1] if bq[1] else float("nan")
            worse = (ratio - 1) if lower else (1 - ratio)
            better_all = (max(c) < min(b)) if lower else (min(c) > max(b))
            if (won >= 0.9 * len(seeds) and abs(cq[1] - bq[1]) > bq[2] - bq[0]
                    and no_more_failed):
                verdict = "gain"
            elif worse > m["bound"]:
                verdict = "regression"
            elif spread > m["bound"] and not better_all:
                verdict = "unresolved"
            else:
                verdict = "within bound"
            out.append(f"| {name} | {bq[1]:.4g} [{bq[0]:.4g}-{bq[2]:.4g}] | "
                       f"{cq[1]:.4g} [{cq[0]:.4g}-{cq[2]:.4g}] | {ratio:.3f} | "
                       f"{won}/{len(seeds)} | {spread:.1%} | {m['bound']} | {verdict} |")
        out.append("")
    return "\n".join(out)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seeds", default="1-10", help="a-b or a,b,c: one pair per seed")
    ap.add_argument("--workloads", default="convert_service,queries")
    ap.add_argument("--out", default=os.path.join(ROOT, "perfbench", "out", "ab.jsonl"))
    ap.add_argument("--report-only", action="store_true")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    commits = {"base": git("rev-parse", "HEAD~1"), "change": git("rev-parse", "HEAD")}
    if not args.report_only:
        if git("status", "--porcelain", "--untracked-files=no"):
            sys.exit("uncommitted changes: the change side is HEAD, commit it first")
        seeds = parse_seeds(args.seeds)
        os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
        open(args.out, "w").close()
        runs_dir = os.path.abspath(args.out) + ".runs"
        shutil.rmtree(runs_dir, ignore_errors=True)
        tmp = tempfile.mkdtemp(prefix="ab_base_")
        base_dir = os.path.join(tmp, "base")
        git("clone", "--quiet", "--no-checkout", ROOT, base_dir)
        subprocess.run(["git", "checkout", "--quiet", "--detach", commits["base"]],
                       cwd=base_dir, check=True)
        log(f"base {commits['base'][:12]} in {base_dir}, change {commits['change'][:12]}")
        try:
            for wl in args.workloads.split(","):
                for i, seed in enumerate(seeds):
                    order = ["base", "change"] if i % 2 == 0 else ["change", "base"]
                    for side in order:
                        cwd = base_dir if side == "base" else ROOT
                        rec = run_once(side, cwd, wl, seed, bench["run_seconds"])
                        rec.update(commits)
                        keep_evidence(rec, cwd, runs_dir)
                        m = rec.get("metrics", {})
                        log(f"{wl} seed {seed} {side}: " + (", ".join(
                            f"{k}={v:.3f}" for k, v in m.items()) or rec.get("error", "")[-300:]))
                        with open(args.out, "a") as f:
                            f.write(json.dumps(rec) + "\n")
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    with open(args.out) as f:
        records = [json.loads(ln) for ln in f if ln.strip()]
    current = [r for r in records
               if r.get("base") == commits["base"] and r.get("change") == commits["change"]]
    if len(current) < len(records):
        log(f"{len(records) - len(current)} runs in {args.out} measured other commits; left out")
    print(report(current, bench["end_to_end"]))


if __name__ == "__main__":
    main()
