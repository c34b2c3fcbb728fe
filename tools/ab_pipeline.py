#!/usr/bin/env python3
"""Paired A/B of the reader-pipeline benchmark (perfbench/run.py).

    python3 tools/ab_pipeline.py --workload ingest_small --metric ingest_eps \\
        --pairs 10 [--base HEAD] [--seed 11] [--seconds 8] [--trace 0]

Run from the root of the repository. The parent is the committed tree of
--base (default HEAD, i.e. the parent of uncommitted work; pass HEAD~1 once
the change is committed), exported with `git archive` into a temporary
directory. The change is the working tree. Each pair runs the parent and
the change once on the same seed (seeds --seed, --seed+1, ...), and the
order inside a pair alternates, so a drift of the host hits both sides
alike. Both sides build their own jar first, outside the timed runs.

Prints one line per run (with every metric of an untraced run), then for
every metric the parent's and the change's median and quartiles, and for
--metric the number of pairs the change won (the direction comes from
BENCHMARK.json). With --trace 1, --metric must be a per-layer metric. Exits non-zero if a
run fails, is not `correct`, or reports `failed` > 0.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tarfile
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def export_tree(ref, dest):
    """The committed files of `ref`, unpacked into `dest`."""
    archive = subprocess.run(["git", "-C", ROOT, "archive", "--format=tar", ref],
                             check=True, stdout=subprocess.PIPE).stdout
    tar = os.path.join(dest, "tree.tar")
    with open(tar, "wb") as f:
        f.write(archive)
    tree = os.path.join(dest, "tree")
    with tarfile.open(tar) as t:
        t.extractall(tree)
    os.remove(tar)
    return tree


def run(root, a, seed):
    """One perfbench run in `root`; its parsed last line."""
    cmd = [sys.executable, os.path.join(root, "perfbench", "run.py"), "--workload", a.workload,
           "--seed", str(seed), "--seconds", str(a.seconds), "--trace", str(a.trace)]
    r = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, stderr=subprocess.PIPE)
    lines = r.stdout.decode(errors="replace").strip().splitlines()
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stderr.decode(errors="replace")[-4000:])
        sys.exit("ab_pipeline: run failed in %s (seed %d, exit %d)" % (root, seed, r.returncode))
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    return tuple(statistics.quantiles(xs, n=4, method="inclusive"))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--metric", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--base", default="HEAD")
    ap.add_argument("--seed", type=int, default=11)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    # an untraced run reports the end-to-end metrics, a traced one the per-layer ones
    better = {m["name"]: m["better"] for m in spec["per_layer" if a.trace else "end_to_end"]}
    if a.metric not in better:
        sys.exit("ab_pipeline: %r is not a %s metric of BENCHMARK.json"
                 % (a.metric, "per-layer" if a.trace else "end-to-end"))

    scratch = tempfile.mkdtemp(prefix="ab_pipeline_")
    try:
        sides = {"parent": export_tree(a.base, scratch), "change": ROOT}
        # build both jars (and warm the caches) outside the measured pairs
        for name, root in sides.items():
            subprocess.run([sys.executable, "-c",
                            "import sys; sys.path.insert(0, %r); import run; run.build(run.spark_jars())"
                            % os.path.join(root, "perfbench")], cwd=root, check=True)
        results = {"parent": [], "change": []}
        bad = []
        for k in range(a.pairs):
            seed = a.seed + k
            order = ["parent", "change"] if k % 2 == 0 else ["change", "parent"]
            for name in order:
                res = run(sides[name], a, seed)
                results[name].append(res)
                # an untraced run has three metrics, a traced one ~110: show the claimed one
                shown = sorted(res["metrics"]) if not a.trace else [a.metric]
                print("pair %d seed %d %-6s %s correct=%s failed=%d"
                      % (k, seed, name, " ".join("%s=%.4g" % (m, res["metrics"][m]["value"])
                                                for m in shown),
                         res["correct"], res["failed"]), flush=True)
                if not res["correct"] or res["failed"] > 0:
                    bad.append((k, name))
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    for m in sorted(results["change"][0]["metrics"]):
        cols = []
        for name in ("parent", "change"):
            q1, q2, q3 = quartiles([r["metrics"][m]["value"] for r in results[name]])
            cols.append("%s median %.4g [q1 %.4g, q3 %.4g]" % (name, q2, q1, q3))
        print("%-28s %s | %s" % (m, cols[0], cols[1]))
    sign = 1 if better[a.metric] == "higher" else -1
    wins = sum(1 for p, c in zip(results["parent"], results["change"])
               if sign * (c["metrics"][a.metric]["value"] - p["metrics"][a.metric]["value"]) > 0)
    print("%s on %s: change won %d of %d pairs (%s is better)"
          % (a.metric, a.workload, wins, a.pairs, better[a.metric]))
    if bad:
        sys.exit("ab_pipeline: runs not correct or with failures: %s" % bad)


if __name__ == "__main__":
    main()
