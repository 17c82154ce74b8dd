#!/usr/bin/env python3
"""Interleaved A/B of graftbench: a base revision (OLD) against the working
tree (NEW), run by run on the same seeds.

Usage (from the repository root):
  python3 scripts/ab_graftbench.py --base HEAD~1 --workload rag_query \
      --seeds 1-10 [--trace 0|1] [--workdir .ab_build]

OLD is `git archive <base> src graftbench BENCHMARK.json`, unpacked beside
the working tree under --workdir (into a scratch directory that is renamed
into place once the export is whole, so an interrupted export is never
reused). Every run lasts the `run_seconds` that BENCHMARK.json sets.
Each arm builds into its own CARGO_TARGET_DIR, because graftbench/build.py
deletes the class directories of other source trees in a shared build
directory. Both arms
are built before the first run. Per seed, OLD and NEW run back to back as
fresh processes; the order alternates (seed 1: OLD then NEW, seed 2: NEW
then OLD, ...), so a host that speeds up or slows down over the comparison
weighs on both arms alike.

Prints, for every metric the runs report (the end-to-end metrics of
BENCHMARK.json first; per-layer metrics that read 0 in both arms are
left out): the median per arm, the NEW/OLD ratio of medians,
each arm's IQR/median, how many pairs NEW won, and whether the medians
differ by more than OLD's interquartile range. Then the count of runs per
arm that were incorrect, had failed calls, or produced no result.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def quantile(xs, q):
    xs = sorted(xs)
    if not xs:
        return float("nan")
    pos = q * (len(xs) - 1)
    i = int(pos)
    j = min(i + 1, len(xs) - 1)
    return xs[i] + (xs[j] - xs[i]) * (pos - i)


def export(base, workdir):
    sha = subprocess.run(["git", "rev-parse", "--verify", base + "^{commit}"], cwd=ROOT,
                         check=True, capture_output=True, text=True).stdout.strip()
    tree = os.path.join(workdir, "old-" + sha[:12])
    if not os.path.isdir(tree):
        part = tree + ".part"
        shutil.rmtree(part, ignore_errors=True)
        os.makedirs(part)
        archive = subprocess.Popen(["git", "archive", sha, "src", "graftbench", "BENCHMARK.json"],
                                   cwd=ROOT, stdout=subprocess.PIPE)
        subprocess.run(["tar", "-x", "-C", part], stdin=archive.stdout, check=True)
        if archive.wait() != 0:
            raise SystemExit(f"git archive {base} failed")
        os.rename(part, tree)
    return sha, tree


def arm_env(workdir, arm):
    return dict(os.environ, CARGO_TARGET_DIR=os.path.join(workdir, "target-" + arm))


def run_one(tree, env, a, seconds, seed, log):
    cmd = [sys.executable, os.path.join("graftbench", "run.py"), "--workload", a.workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(a.trace)]
    p = subprocess.run(cmd, cwd=tree, env=env, stdout=subprocess.PIPE, stderr=log, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return None
    try:
        return json.loads(lines[-1])
    except ValueError:
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", required=True, help="git revision of the OLD arm")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="e.g. 1-10 or 1,3,5-7")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--workdir", default=os.path.join(ROOT, ".ab_build"))
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        contract = json.load(f)
    seconds = contract["run_seconds"]
    e2e = {m["name"]: m["better"] for m in contract["end_to_end"]}

    workdir = os.path.abspath(a.workdir)
    os.makedirs(workdir, exist_ok=True)
    sha, old_tree = export(a.base, workdir)
    arms = {"OLD": (old_tree, arm_env(workdir, "old")), "NEW": (ROOT, arm_env(workdir, "new"))}
    for name, (tree, env) in arms.items():
        r = subprocess.run([sys.executable, os.path.join("graftbench", "build.py")],
                           cwd=tree, env=env, stdout=subprocess.DEVNULL)
        if r.returncode != 0:
            raise SystemExit(f"{name} build failed")

    log_path = os.path.join(workdir, "runs.log")
    results = {"OLD": [], "NEW": []}
    with open(log_path, "a") as log:
        for i, seed in enumerate(seeds(a.seeds)):
            for name in (("OLD", "NEW") if i % 2 == 0 else ("NEW", "OLD")):
                log.write(f"==== {name} seed {seed}\n")
                log.flush()
                r = run_one(*arms[name], a, seconds, seed, log)
                results[name].append(r)
                ok = r is not None and r["correct"] and r["failed"] == 0
                print(f"seed {seed} {name}: {'ok' if ok else 'BAD'}", file=sys.stderr, flush=True)

    names = list(e2e) + sorted({k for r in results["NEW"] + results["OLD"] if r
                               for k in r["metrics"]} - set(e2e))
    print(f"workload {a.workload}, OLD {sha[:12]} vs NEW working tree, "
          f"seeds {a.seeds}, --seconds {seconds}, --trace {a.trace}")
    print(f"{'metric':34} {'OLD med':>10} {'NEW med':>10} {'NEW/OLD':>8} "
          f"{'OLD iqr/m':>9} {'NEW iqr/m':>9} {'NEW won':>8} {'>OLD iqr':>8}")
    for m in names:
        def vals(arm):
            return [r["metrics"][m]["value"] if r and m in r["metrics"] else None
                    for r in results[arm]]
        old, new = vals("OLD"), vals("NEW")
        o = [v for v in old if v is not None]
        n = [v for v in new if v is not None]
        if not o or not n:
            continue
        mo, mn = quantile(o, 0.5), quantile(n, 0.5)
        if mo == 0 and mn == 0 and m not in e2e:
            continue  # a layer this workload does not run
        iqr_o = quantile(o, 0.75) - quantile(o, 0.25)
        iqr_n = quantile(n, 0.75) - quantile(n, 0.25)
        better = e2e.get(m)
        pairs = [(x, y) for x, y in zip(old, new) if x is not None and y is not None]
        won = (f"{sum((y > x) if better == 'higher' else (y < x) for x, y in pairs)}/{len(pairs)}"
               if better else "")
        print(f"{m:34} {mo:10.4g} {mn:10.4g} {mn / mo if mo else float('nan'):8.3f} "
              f"{iqr_o / mo if mo else float('nan'):9.3f} {iqr_n / mn if mn else float('nan'):9.3f} "
              f"{won:>8} {('yes' if abs(mn - mo) > iqr_o else 'no') if better else '':>8}")
    for arm in ("OLD", "NEW"):
        rs = results[arm]
        print(f"{arm}: {len(rs)} runs, {sum(r is None for r in rs)} without a result, "
              f"{sum(r is not None and not r['correct'] for r in rs)} incorrect, "
              f"{sum(r is not None and r['failed'] > 0 for r in rs)} with failed calls")
    print(f"run logs: {log_path}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
