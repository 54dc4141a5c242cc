#!/usr/bin/env python3
"""Interleaved A/B of the repository benchmark between two revisions.

    python3 tools/ab.py --base <rev> [--head <rev>] --workload <name> \
        [--seeds 101-110] [--scratch DIR]

The base revision is exported with `git archive` into <scratch>/ab-<rev>
(made once, reused by later calls); the head side is the current checkout
unless --head names a revision, which is exported the same way. Each side
first runs one unrecorded warm-up (the build, and the class-data-sharing
archive its first run dumps). Then, per seed, `perfbench/run.py` runs once
on each side for BENCHMARK.json's `run_seconds`, the order alternating
from pair to pair so that host drift falls on both sides alike.

Prints, for every end-to-end metric of BENCHMARK.json: each side's median
and interquartile range, the median of the per-pair ratios head/base, in
how many pairs head was better, and whether that is a gain (head better in
at least nine tenths of the pairs, and the medians further apart than the
base's interquartile range); then one JSON line with the same figures and
the raw runs. A run that fails or reports failed checks is counted and
shown, and its pair is left out.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile

ROOT = subprocess.run(["git", "rev-parse", "--show-toplevel"],
                      capture_output=True, text=True,
                      check=True).stdout.strip()


def log(msg):
    print(f"[ab] {msg}", file=sys.stderr, flush=True)


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def iqr(xs):
    if len(xs) < 2:
        return 0.0
    q = statistics.quantiles(xs, n=4)
    return q[2] - q[0]


def export(rev, scratch):
    """The tree of `rev`, exported once into <scratch>/ab-<short rev>."""
    sha = subprocess.run(["git", "-C", ROOT, "rev-parse", "--short", rev],
                         capture_output=True, text=True,
                         check=True).stdout.strip()
    d = os.path.join(scratch, f"ab-{sha}")
    if not os.path.isfile(os.path.join(d, "BENCHMARK.json")):
        os.makedirs(d, exist_ok=True)
        archive = subprocess.Popen(["git", "-C", ROOT, "archive", sha],
                                   stdout=subprocess.PIPE)
        subprocess.run(["tar", "-x", "-C", d], stdin=archive.stdout,
                       check=True)
        if archive.wait() != 0:
            raise SystemExit(f"git archive {rev} failed")
    return sha, d


def run(tree, workload, seed, seconds):
    """One benchmark run in `tree`: its result dict, or None on failure."""
    r = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                        workload, "--seed", str(seed), "--seconds",
                        str(seconds)], cwd=tree, capture_output=True,
                       text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        log(f"run in {tree} seed {seed} failed: {r.stderr[-2000:]}")
        return None
    return json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", required=True, help="base revision")
    ap.add_argument("--head", help="head revision (default: this checkout)")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="101-110",
                    help="seeds, e.g. 101-110 or 101,103")
    ap.add_argument("--scratch",
                    default=os.path.join(tempfile.gettempdir(), "graft-ab"),
                    help="where revisions are exported")
    a = ap.parse_args()

    base_rev, base = export(a.base, a.scratch)
    head_rev, head = (export(a.head, a.scratch) if a.head
                      else ("checkout", ROOT))
    with open(os.path.join(head, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    metrics, seconds = spec["end_to_end"], spec["run_seconds"]
    sides = {"base": base, "head": head}
    for side, tree in sides.items():
        log(f"warm-up {side} ({tree})")
        run(tree, a.workload, seeds(a.seeds)[0], seconds)

    runs = {"base": [], "head": []}
    for i, seed in enumerate(seeds(a.seeds)):
        order = ["base", "head"] if i % 2 == 0 else ["head", "base"]
        for side in order:
            res = run(sides[side], a.workload, seed, seconds)
            runs[side].append(res)
            if res:
                log(f"seed {seed} {side}: failed={res['failed']} " +
                    " ".join(f"{k}={v['value']:.4g}"
                             for k, v in res["metrics"].items()))

    pairs = [(b, h) for b, h in zip(runs["base"], runs["head"])
             if b and h and b["failed"] == 0 and h["failed"] == 0]
    failed = {s: sum(1 for r in rs if r is None or r["failed"] != 0)
              for s, rs in runs.items()}
    print(f"{a.workload}: base {base_rev} vs head {head_rev}, "
          f"{len(pairs)} clean pairs, failed runs {failed}")
    print(f"{'metric':12} {'base med (IQR)':>20} {'head med (IQR)':>20} "
          f"{'ratio med':>9}  better  gain")
    summary = {}
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        if not pairs:
            break
        bv = [b["metrics"][name]["value"] for b, _ in pairs]
        hv = [h["metrics"][name]["value"] for _, h in pairs]
        ratios = [h / b for b, h in zip(bv, hv) if b]
        better = sum(1 for b, h in zip(bv, hv) if (h < b if lower else h > b))
        bm, hm = statistics.median(bv), statistics.median(hv)
        gain = (better >= 0.9 * len(pairs)
                and abs(bm - hm) > iqr(bv) and (hm < bm) == lower)
        summary[name] = {"base_median": bm, "base_iqr": iqr(bv),
                         "head_median": hm, "head_iqr": iqr(hv),
                         "ratio_median": (statistics.median(ratios)
                                          if ratios else None),
                         "ratios": ratios, "better_pairs": better,
                         "pairs": len(pairs), "gain": gain}
        rm = f"{summary[name]['ratio_median']:.3f}" if ratios else "-"
        print(f"{name:12} {bm:10.4g} ({iqr(bv):7.3g}) {hm:10.4g} "
              f"({iqr(hv):7.3g}) {rm:>9}  {better:>2}/{len(pairs):<3} "
              f"{'yes' if gain else 'no'}")
    print(json.dumps({"workload": a.workload, "base": base_rev,
                      "head": head_rev, "seeds": seeds(a.seeds),
                      "failed_runs": failed, "metrics": summary,
                      "runs": runs}))


if __name__ == "__main__":
    main()
