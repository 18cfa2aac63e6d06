#!/usr/bin/env python3
"""A/B the repository benchmark: a parent revision against the working tree.

    python3 tools/ab.py --workload medallion_refresh --rev HEAD --pairs 10

Run from the repository root. The parent side is the committed tree of
--rev, exported with ``git archive`` into --workdir (committed files only,
as the benchmark runs them; nothing is registered in this repository's
.git). The change side is the working tree. Each pair runs
``perfbench/run.py --trace 0`` once per side on the same fresh seed, for
the ``run_seconds`` BENCHMARK.json sets; the side that goes first
alternates from pair to pair. Each side first does one discarded run, so
the sbt build and a cold page cache land in none of the compared runs.

For each end-to-end metric of BENCHMARK.json it prints both sides' median
and quartiles, the pairs the change won (strictly better, in the metric's
direction) and whether a gain claim holds: the change wins at least 9 in
10 pairs and its median beats the parent's by more than the parent's
interquartile range. A pair with a failed run counts as run and not won.
Nothing but perfbench/run.py is invoked.
"""
import argparse
import json
import os
import random
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def export(rev, workdir):
    """The committed tree of rev under workdir/<sha>; reused if present."""
    sha = subprocess.check_output(["git", "rev-parse", "--verify", rev + "^{commit}"],
                                  cwd=ROOT, text=True).strip()
    dest = os.path.join(workdir, sha)
    if not os.path.isdir(os.path.join(dest, "perfbench")):
        os.makedirs(dest, exist_ok=True)
        archive = subprocess.Popen(["git", "archive", sha], cwd=ROOT, stdout=subprocess.PIPE)
        subprocess.check_call(["tar", "-x", "-C", dest], stdin=archive.stdout)
        archive.stdout.close()
        if archive.wait() != 0:
            sys.exit(f"ab: git archive {sha} failed")
    return sha, dest


def run(tree, workload, seed, seconds):
    """One untraced run in tree; its result line, or None when it failed."""
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=tree, capture_output=True, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-2000:])
        return None
    res = json.loads(lines[-1])
    return res if res["correct"] else None


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--rev", default="HEAD", help="the parent revision (default HEAD)")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=None,
                    help="first seed; pair i uses seed+i (default: a random base)")
    ap.add_argument("--workdir", default=None,
                    help="where the parent tree is exported (default: a new temporary dir)")
    args = ap.parse_args()

    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    seconds = spec["run_seconds"]
    workdir = args.workdir or tempfile.mkdtemp(prefix="ab-")
    sha, parent = export(args.rev, workdir)
    base = args.seed if args.seed is not None else random.SystemRandom().randrange(10**6, 10**7)
    sides = {"parent": parent, "change": ROOT}
    print(f"# ab {args.workload}: parent {sha[:12]} ({parent}) vs working tree, "
          f"{args.pairs} pairs, seeds {base}..{base + args.pairs - 1}, --seconds {seconds}",
          flush=True)
    for side, tree in sides.items():
        ok = run(tree, args.workload, base - 1, seconds) is not None
        print(f"warmup {side} seed {base - 1}: {'ok' if ok else 'FAILED'}", flush=True)

    runs = {"parent": [], "change": []}
    failed = {"parent": 0, "change": 0}
    for i in range(args.pairs):
        seed = base + i
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        got = {}
        for side in order:
            got[side] = run(sides[side], args.workload, seed, seconds)
            if got[side] is None:
                failed[side] += 1
        print(f"pair {i + 1} seed {seed} ({order[0]} first): " + "  ".join(
            f"{s} " + ("FAILED" if got[s] is None else
                       " ".join(f"{k}={v['value']:.4g}" for k, v in got[s]["metrics"].items()))
            for s in ("parent", "change")), flush=True)
        if got["parent"] is not None and got["change"] is not None:
            for side in runs:
                runs[side].append({k: v["value"] for k, v in got[side]["metrics"].items()})

    n = len(runs["parent"])
    print(f"\n{n} complete pairs; failed runs: parent {failed['parent']}, change {failed['change']}")
    if n == 0:
        sys.exit(1)
    print(f"{'metric':<22} {'parent median [q1, q3]':>30} {'change median [q1, q3]':>30} "
          f"{'delta':>8} {'wins':>6}  claim")
    for m in spec["end_to_end"]:
        name, lower = m["name"], m["better"] == "lower"
        a = [r[name] for r in runs["parent"]]
        b = [r[name] for r in runs["change"]]
        ma, mb = statistics.median(a), statistics.median(b)
        (a1, a3), (b1, b3) = quartiles(a), quartiles(b)
        wins = sum((y < x) if lower else (y > x) for x, y in zip(a, b))
        gain = (ma - mb) if lower else (mb - ma)
        claim = wins >= 0.9 * args.pairs and gain > (a3 - a1)
        delta = (mb - ma) / ma if ma else float("nan")
        print(f"{name:<22} {f'{ma:.4g} [{a1:.4g}, {a3:.4g}]':>30} "
              f"{f'{mb:.4g} [{b1:.4g}, {b3:.4g}]':>30} {delta:>+8.1%} {f'{wins}/{args.pairs}':>6}  "
              f"{'holds' if claim else 'no'}")


if __name__ == "__main__":
    main()
