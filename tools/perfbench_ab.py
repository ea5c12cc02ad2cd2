#!/usr/bin/env python3
"""Interleaved A/B of the perfbench benchmark between two commits.

    python3 tools/perfbench_ab.py PARENT CHANGE [--pairs 10] [--seed0 1]
        [--workloads ingest_churn,curation_loops] [--seconds 5]
        [--tmp DIR] [--keep] [--layers]

PARENT and CHANGE are any git revisions of this repository. Each is checked
out as a git worktree of a throwaway shared clone under a temp dir (the
repository's own worktree list and its perfbench/ directory are never
touched), so both sides run their own committed perfbench code from a fresh
directory, as the benchmark does.

For each workload, pair i (seed = seed0 + i) runs `perfbench/run.py
--trace 0` once on each side, alternating which side goes first. For each
end-to-end metric of BENCHMARK.json it then prints both sides' median and
quartiles, how many pairs each side won (ties count for neither), and the
verdict of the benchmark's gain rule:

  better      the change won >= 9/10 of the pairs AND its median beats the
              parent's by more than the parent's interquartile range
  worse       the change's median is worse than the parent's by more than
              the metric's bound
  no claim    anything else

A run that fails (no result line, or failed > 0) is reported and counted as
a loss for its side. Raw results go to <tmp>/results.jsonl.

With --layers, after the pairs each side makes one `--trace 1` run per
workload at seed0; their per-layer metrics are printed side by side, and
every count metric that should not move with timing (`*_jobs`,
`jobs_per_commit`, `util.leaked_rdds`) is flagged when the sides differ.
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


def git(*args, cwd=ROOT):
    return subprocess.run(["git", *args], cwd=cwd, check=True,
                          capture_output=True, text=True).stdout.strip()


def checkout(tmp, revs):
    """Shared clone of ROOT plus one detached worktree per side."""
    clone = os.path.join(tmp, "clone")
    git("clone", "--quiet", "--shared", "--no-checkout", ROOT, clone)
    dirs = {}
    for side, rev in revs.items():
        sha = git("rev-parse", "--verify", f"{rev}^{{commit}}")
        d = os.path.join(tmp, side)
        git("worktree", "add", "--quiet", "--detach", d, sha, cwd=clone)
        dirs[side] = (d, sha)
    return dirs


def run_one(wt, workload, seed, seconds, trace=0):
    p = subprocess.run(
        [sys.executable, os.path.join(wt, "perfbench", "run.py"),
         "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=wt, capture_output=True, text=True)
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
    if p.returncode != 0 or not lines:
        return {"error": f"exit {p.returncode}: {p.stderr.strip()[-300:]}"}
    r = json.loads(lines[-1])
    if r.get("failed", 0) > 0:
        r["error"] = f"{r['failed']} of {r.get('attempted')} ops failed"
    return r


def metric(r, name):
    """A metric's value from a result line, or None when absent or failed."""
    if "error" in r:
        return None
    m = r["metrics"].get(name)
    return m.get("value") if isinstance(m, dict) else m


def is_count(name):
    return (name.endswith("_jobs") or name.endswith("jobs_per_commit")
            or name == "util.leaked_rdds")


def layers(dirs, workloads, seed, seconds, log):
    """One traced run per side and workload; per-layer metrics side by side."""
    print("\n| workload | layer metric | parent | change | |")
    print("|---|---|---|---|---|")
    for w in workloads:
        r = {}
        for side in ("parent", "change"):
            r[side] = run_one(dirs[side][0], w, seed, seconds, trace=1)
            log.write(json.dumps({"workload": w, "seed": seed, "side": side,
                                  "trace": 1, "result": r[side]}) + "\n")
            if "error" in r[side]:
                print(f"| {w} | traced run failed | {side}: {r[side]['error']} | | |")
        names = sorted(set().union(*(x.get("metrics", {}) for x in r.values())))
        for n in names:
            vp, vc = metric(r["parent"], n), metric(r["change"], n)
            flag = "DIFFERS" if is_count(n) and vp != vc else ""
            print(f"| {w} | {n} | {vp} | {vc} | {flag} |")


def quartiles(xs):
    if len(xs) < 2:
        return (xs[0], xs[0], xs[0]) if xs else (float("nan"),) * 3
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def verdict(parent, change, better, bound, won, pairs):
    p1, pm, p3 = quartiles(parent)
    _, cm, _ = quartiles(change)
    gain = (pm - cm) if better == "lower" else (cm - pm)
    if won * 10 >= 9 * pairs and gain > (p3 - p1):
        return "better"
    if -gain > bound * abs(pm):
        return "worse"
    return "no claim"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--workloads", default="ingest_churn,curation_loops")
    ap.add_argument("--seconds", type=int, default=None,
                    help="run length (default: BENCHMARK.json run_seconds)")
    ap.add_argument("--tmp", default=None, help="parent dir for the checkouts")
    ap.add_argument("--keep", action="store_true", help="keep the checkouts")
    ap.add_argument("--layers", action="store_true",
                    help="after the pairs, one traced run per side at seed0")
    a = ap.parse_args()

    tmp = tempfile.mkdtemp(prefix="perfbench_ab_", dir=a.tmp)
    try:
        dirs = checkout(tmp, {"parent": a.parent, "change": a.change})
        with open(os.path.join(dirs["change"][0], "BENCHMARK.json")) as fh:
            bench = json.load(fh)
        seconds = a.seconds or bench.get("run_seconds", 5)
        metrics = bench["end_to_end"]
        print(f"parent {dirs['parent'][1][:12]}  change {dirs['change'][1][:12]}  "
              f"pairs={a.pairs} seconds={seconds}", flush=True)
        results = {}
        with open(os.path.join(tmp, "results.jsonl"), "w") as log:
            for w in a.workloads.split(","):
                for i in range(a.pairs):
                    seed = a.seed0 + i
                    order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
                    for side in order:
                        r = run_one(dirs[side][0], w, seed, seconds)
                        results[(w, i, side)] = r
                        log.write(json.dumps({"workload": w, "pair": i, "seed": seed,
                                              "side": side, "result": r}) + "\n")
                        log.flush()
                        status = r.get("error") or " ".join(
                            f"{m['name']}={metric(r, m['name'])}" for m in metrics)
                        print(f"  {w} pair {i} seed {seed} {side:6s} {status}", flush=True)
            if a.layers:
                layers(dirs, a.workloads.split(","), a.seed0, seconds, log)

        print()
        print("| workload | metric | parent median [Q1, Q3] | change median [Q1, Q3] "
              "| pairs won (change/parent) | verdict |")
        print("|---|---|---|---|---|---|")
        for w in a.workloads.split(","):
            failed = [(i, s) for (ww, i, s), r in results.items() if ww == w and "error" in r]
            for m in metrics:
                name, better = m["name"], m["better"]
                vals = {s: [] for s in ("parent", "change")}
                won = {s: 0 for s in ("parent", "change")}
                for i in range(a.pairs):
                    rp, rc = results[(w, i, "parent")], results[(w, i, "change")]
                    vp, vc = metric(rp, name), metric(rc, name)
                    if vp is not None:
                        vals["parent"].append(vp)
                    if vc is not None:
                        vals["change"].append(vc)
                    if vp is None or vc is None:
                        if vp is not None:
                            won["parent"] += 1
                        elif vc is not None:
                            won["change"] += 1
                        continue
                    if vp != vc:
                        change_wins = (vc < vp) if better == "lower" else (vc > vp)
                        won["change" if change_wins else "parent"] += 1
                if not vals["parent"] or not vals["change"]:
                    print(f"| {w} | {name} | - | - | - | no results |")
                    continue
                p1, pm, p3 = quartiles(vals["parent"])
                c1, cm, c3 = quartiles(vals["change"])
                v = verdict(vals["parent"], vals["change"], better, m["bound"],
                            won["change"], a.pairs)
                print(f"| {w} | {name} ({m['unit']}) | {pm:.4g} [{p1:.4g}, {p3:.4g}] "
                      f"| {cm:.4g} [{c1:.4g}, {c3:.4g}] "
                      f"| {won['change']}/{won['parent']} of {a.pairs} | {v} |")
            if failed:
                print(f"| {w} | failed runs | {len(failed)}: {failed} | | | |")
        print(f"\nraw results: {os.path.join(tmp, 'results.jsonl')}")
    finally:
        if not a.keep:
            clone = os.path.join(tmp, "clone")
            for side in ("parent", "change"):
                d = os.path.join(tmp, side)
                if os.path.isdir(d):
                    subprocess.run(["git", "worktree", "remove", "--force", d],
                                   cwd=clone, capture_output=True)
            for name in os.listdir(tmp):
                if name != "results.jsonl":
                    shutil.rmtree(os.path.join(tmp, name), ignore_errors=True)


if __name__ == "__main__":
    main()
