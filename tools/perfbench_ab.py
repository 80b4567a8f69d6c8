#!/usr/bin/env python3
"""Paired A/B runs of the repository benchmark: a base revision against
the working tree.

Usage, from the repository root:

    python3 tools/perfbench_ab.py --base <rev> --workload <name> --pairs <n> \\
        [--seed <n>] [--seconds 12] [--trace 0|1]

Exports <rev> with `git archive` into .bench_build/ab/<commit>/ (kept for
later comparisons against the same revision), then runs
`perfbench/run.py` once in each tree per pair, with identical arguments,
swapping which side runs first from one pair to the next. Every run is
printed as one JSON line (`"run"`: the side, its result line and the host
canaries measured around it). The summary gives, per metric, each side's
median and quartiles, the share of pairs the working tree won (ties count
for neither side), and a verdict:

  gain          over at least ten pairs, the working tree won at least 9 in
                10 and the medians differ by more than the base's
                interquartile distance;
  worse         the working tree's median is worse than the base's by more
                than the metric's bound in BENCHMARK.json;
  unresolved    not worse by the bound, but the base's own spread is wider
                than the bound and not every working-tree run beat every
                base run;
  within bound  none of the above.

Under the metric table, on the fleet workloads, a `wall_pass_ms` row gives
each side's raw wall time of the pass the harness reported, read from the
`passes (ms): ...` line the run prints on stderr. `pass_s` adds the injected
catalog wait, summed over calls, to the rest of the wall time scaled by the
host-speed probe; once calls overlap, that sum counts concurrent waits more
than once, so the raw wall time is the honest size of a concurrency gain.

It ends with the report digest each tree's harness pinned for the workload
and seed, so a changed report shows. Nothing under perfbench/ is modified.
"""
import argparse
import io
import json
import os
import re
import statistics
import subprocess
import sys
import tarfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PASSES = re.compile(r"^passes \(ms\): ([^;]*);", re.M)


def git(*args):
    return subprocess.run(["git", *args], cwd=ROOT, check=True,
                          capture_output=True).stdout


def export(rev):
    """The committed tree of `rev`, unpacked once under .bench_build/ab/."""
    sha = git("rev-parse", "--verify", rev + "^{commit}").decode().strip()
    tree = os.path.join(ROOT, ".bench_build", "ab", sha)
    marker = os.path.join(tree, ".exported")
    if not os.path.exists(marker):
        os.makedirs(tree, exist_ok=True)
        with tarfile.open(fileobj=io.BytesIO(git("archive", "--format=tar", sha))) as tar:
            tar.extractall(tree)
        open(marker, "w").close()
    return sha, tree


def wall_pass_ms(stderr):
    """The raw wall time of the pass the harness reported: the median of
    the timed passes (the upper one of two), as the harness picks it.
    None for a workload that prints no passes line."""
    m = PASSES.search(stderr)
    if not m:
        return None
    passes = sorted(float(x) for x in m.group(1).split())
    return passes[len(passes) // 2]


def run(tree, args):
    """One benchmark run in `tree`: (canary line, result line, raw wall
    time of the reported pass in ms or None)."""
    cmd = [sys.executable, os.path.join("perfbench", "run.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace)]
    proc = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or len(lines) < 2:
        sys.stderr.write(proc.stderr)
        sys.exit(f"perfbench_ab: run in {tree} failed with code {proc.returncode}")
    return json.loads(lines[-2]), json.loads(lines[-1]), wall_pass_ms(proc.stderr)


def fmt(xs, num="%.4g"):
    q1, qm, q3 = quartiles(xs)
    return f"{num} [{num}, {num}]" % (qm, q1, q3)


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def verdict(base, change, lower_better, bound):
    """Gain, worse, unresolved or within bound, by the rules in the
    module docstring; returns (verdict, pairs won by the change)."""
    def better(c, b):
        return c < b if lower_better else c > b
    wins = sum(better(c, b) for b, c in zip(base, change))
    b1, bm, b3 = quartiles(base)
    cm = statistics.median(change)
    if (len(base) >= 10 and wins >= 0.9 * len(base) and better(cm, bm)
            and abs(cm - bm) > b3 - b1):
        return "gain", wins
    if bound is None:
        return "-", wins
    worse_by = (cm - bm if lower_better else bm - cm) / abs(bm) if bm else 0.0
    if worse_by > bound:
        return "worse", wins
    all_better = all(better(c, b) for c in change for b in base)
    if bm and (b3 - b1) / abs(bm) > bound and not all_better:
        return "unresolved", wins
    return "within bound", wins


def digest(tree, args):
    """The report digest the tree's latest build pinned for the workload
    and seed, or None (the operator mix pins none)."""
    build = os.path.join(tree, ".bench_build")
    files = [os.path.join(build, d, f"{args.workload}-{args.seed}.sha256")
             for d in (os.listdir(build) if os.path.isdir(build) else [])
             if d.startswith("work-")]
    files = [f for f in files if os.path.exists(f)]
    if not files:
        return None
    with open(max(files, key=os.path.getmtime)) as fh:
        return fh.read().strip()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--base", required=True, help="revision to compare against")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    sha, base_tree = export(args.base)
    trees = {"base": base_tree, "change": ROOT}
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    contract = {m["name"]: m for m in spec["end_to_end"] + spec["per_layer"]}

    results = {"base": [], "change": []}
    hosts = {"base": [], "change": []}
    walls = {"base": [], "change": []}
    for i in range(args.pairs):
        order = ("base", "change") if i % 2 == 0 else ("change", "base")
        for side in order:
            host, res, wall = run(trees[side], args)
            results[side].append(res)
            hosts[side].append(host)
            walls[side].append(wall)
            print(json.dumps({"run": {"pair": i + 1, "side": side, "host": host,
                                      "wall_pass_ms": wall, "result": res}}), flush=True)

    print(f"\nbase {args.base} ({sha[:10]}) vs working tree: {args.workload}, "
          f"seed {args.seed}, --seconds {args.seconds}, --trace {args.trace}, "
          f"{args.pairs} pairs")
    for side in ("base", "change"):
        rs = results[side]
        print(f"{side:>6}: correct {sum(r['correct'] for r in rs)}/{len(rs)}, "
              f"failed {sum(r['failed'] for r in rs)} of {sum(r['attempted'] for r in rs)}")
    print(f"{'metric':34} {'unit':>5} {'base median [q1, q3]':>30} "
          f"{'change median [q1, q3]':>30} {'won':>6}  verdict")
    for name in results["base"][0]["metrics"]:
        m = contract.get(name, {})
        base = [r["metrics"][name]["value"] for r in results["base"]]
        change = [r["metrics"][name]["value"] for r in results["change"]]
        v, wins = verdict(base, change, m.get("better", "lower") == "lower",
                          m.get("bound") if not args.trace else None)
        print(f"{name:34} {m.get('unit', ''):>5} {fmt(base):>30} "
              f"{fmt(change):>30} {wins:>3}/{args.pairs:<2}  {v}")
    if None not in walls["base"] + walls["change"]:
        v, wins = verdict(walls["base"], walls["change"], True, None)
        print(f"{'wall_pass_ms':34} {'ms':>5} {fmt(walls['base'], '%.0f'):>30} "
              f"{fmt(walls['change'], '%.0f'):>30} {wins:>3}/{args.pairs:<2}  {v}")
    # the canaries read just before and after each run: a drift between the
    # sides' medians means the host, not the code, moved
    for key in ("canary_ms", "canary_par_ms"):
        line = []
        for side in ("base", "change"):
            q1, qm, q3 = quartiles([sum(h[key]) / 2 for h in hosts[side]])
            line.append("%s %.1f [%.1f, %.1f]" % (side, qm, q1, q3))
        print(f"canary {key}: " + ", ".join(line))
    for side in ("base", "change"):
        print(f"report digest {side}: {digest(trees[side], args) or 'none'}")


if __name__ == "__main__":
    main()
