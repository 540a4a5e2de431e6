"""Runs graftbench on two checkouts in alternating pairs and compares them.

    python3 tools/bench_pairs.py --workload dedup_corpus --pairs 10 --seed 11
    python3 tools/bench_pairs.py --workload dedup_corpus,tsdb_dashboard --parent HEAD~1

The "parent" side is a revision of this repository, exported with
`git archive` into a temporary directory (or an existing checkout given
with --parent-dir); the "change" side is a checkout directory, by default
this working tree. Pair i runs `graftbench/run.py --seed <seed + i>` on
both sides, the parent first on even pairs and the change first on odd
ones, each side building into its own .bench_build.

For every workload and end-to-end metric of BENCHMARK.json it prints each
side's median and quartiles, the pairs the change won (ties count for
neither side), and a verdict:
  gain        the change won at least 9/10 of the pairs and the medians
              differ, in the metric's better direction, by more than the
              parent's interquartile range;
  worse       the change's median is worse than the parent's by more than
              the metric's bound;
  unresolved  the parent's spread is wider than the bound, and the change
              neither is a gain nor beats every parent run;
  same        none of these.
The raw results of every run go to --out as JSON.
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


def export(rev, dest):
    """Writes the files of `rev` into `dest` with git archive."""
    archive = subprocess.Popen(["git", "-C", ROOT, "archive", rev], stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", dest], stdin=archive.stdout, check=True)
    if archive.wait() != 0:
        raise SystemExit(f"git archive {rev} failed")


def run(checkout, workload, seed, seconds):
    """One graftbench run; returns its result object, or None if it failed."""
    env = dict(os.environ, CARGO_TARGET_DIR=os.path.join(checkout, ".bench_build"))
    proc = subprocess.run(
        [sys.executable, "graftbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, env=env, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    if proc.returncode != 0 or result is None:
        print(f"  {checkout} {workload} seed {seed}: exit {proc.returncode}", file=sys.stderr)
        return None
    return result


def quartiles(xs):
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive") if len(xs) > 1 else xs * 3
    return q1, q2, q3


def verdict(metric, parent, change):
    """Compares paired runs of one metric; returns the printed row's fields."""
    lower = metric["better"] == "lower"
    better = (lambda c, p: c < p) if lower else (lambda c, p: c > p)
    wins = sum(better(c, p) for p, c in zip(parent, change))
    pq1, pmed, pq3 = quartiles(parent)
    cq1, cmed, cq3 = quartiles(change)
    iqr = pq3 - pq1
    gap = (pmed - cmed) if lower else (cmed - pmed)  # > 0: the change is better
    bound = metric["bound"] * abs(pmed)
    if wins >= 0.9 * len(parent) and gap > iqr:
        v = "gain"
    elif -gap > bound:
        v = "worse"
    elif iqr > bound and not all(better(c, p) for c in change for p in parent):
        v = "unresolved"
    else:
        v = "same"
    return pmed, pq1, pq3, cmed, cq1, cq3, wins, v


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    help="a workload name, or a comma-separated list of them")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=11, help="seed of the first pair")
    ap.add_argument("--seconds", type=int, default=16)
    ap.add_argument("--parent", default="HEAD", help="revision of the parent side")
    ap.add_argument("--parent-dir", help="an existing parent checkout (skips the export)")
    ap.add_argument("--change-dir", default=ROOT, help="the change side's checkout")
    ap.add_argument("--out", default="bench_pairs.json", help="raw results, as JSON")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        metrics = json.load(f)["end_to_end"]
    tmp = None
    parent_dir = args.parent_dir
    if parent_dir is None:
        tmp = tempfile.mkdtemp(prefix="bench-pairs-")
        parent_dir = os.path.join(tmp, "parent")
        os.makedirs(parent_dir)
        export(args.parent, parent_dir)
    sides = {"parent": os.path.abspath(parent_dir), "change": os.path.abspath(args.change_dir)}
    raw = {}
    try:
        for workload in args.workload.split(","):
            runs = raw[workload] = []
            for i in range(args.pairs):
                seed = args.seed + i
                order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
                pair = {"seed": seed, "first": order[0]}
                for side in order:
                    pair[side] = run(sides[side], workload, seed, args.seconds)
                runs.append(pair)
                print(f"{workload} pair {i + 1}/{args.pairs} (seed {seed}, {order[0]} first): " +
                      ", ".join(f"{s} op_p50_ms {pair[s]['metrics']['op_p50_ms']['value']:.1f}"
                                if pair[s] else f"{s} failed" for s in ("parent", "change")),
                      flush=True)
            with open(args.out, "w") as f:
                json.dump(raw, f, indent=1)
    finally:
        if tmp:
            shutil.rmtree(tmp, ignore_errors=True)

    for workload, runs in raw.items():
        ok = [p for p in runs if p["parent"] and p["change"]]
        failed = {s: sum(1 for p in runs if not p[s] or p[s]["failed"] or not p[s]["correct"])
                  for s in ("parent", "change")}
        print(f"\n{workload}: {len(ok)} complete pairs; runs failed or incorrect: "
              f"parent {failed['parent']}, change {failed['change']}")
        print(f"{'metric':<16}{'parent median [q1-q3]':>32}{'change median [q1-q3]':>32}"
              f"{'wins':>8}  verdict")
        for m in metrics:
            name = m["name"]
            parent = [p["parent"]["metrics"][name]["value"] for p in ok]
            change = [p["change"]["metrics"][name]["value"] for p in ok]
            if not ok:
                continue
            pmed, pq1, pq3, cmed, cq1, cq3, wins, v = verdict(m, parent, change)
            print(f"{name:<16}{f'{pmed:.4g} [{pq1:.4g}-{pq3:.4g}]':>32}"
                  f"{f'{cmed:.4g} [{cq1:.4g}-{cq3:.4g}]':>32}{f'{wins}/{len(ok)}':>8}  {v}")


if __name__ == "__main__":
    main()
