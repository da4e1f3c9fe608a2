#!/usr/bin/env python3
"""Paired A/B of the repo benchmark: a base revision against this checkout.

Run from the repository root:

    python3 tools/ab.py --base HEAD~1 --workload bulk_backup --pairs 10 [--trace]

The base revision is extracted with `git archive` into
.bench_build/ab/<sha>/, which keeps its own .bench_build and so its own
build; this checkout (working tree included) is the change. Each pair
runs `python3 perfbench/run.py` once on each side with the same seed,
alternating which side runs first. The table gives, per end-to-end
metric of BENCHMARK.json: the base median and quartiles, the change
median, the share of pairs in which the change is worse and the number
it wins. Every run lasts BENCHMARK.json's run_seconds. A metric is
"better" only when there are at least ten complete pairs, the change
wins at least 90% of them and the medians differ by more than the
base's interquartile range; "worse" when those hold the other way
round; otherwise "unresolved". It is also "over bound" when the change
is worse than the base median by more than the metric's bound. With
--trace, every pair also runs a traced run on each side and the table
is followed by the per-layer medians. Pair i uses seed i. Exits 1 if any run failed or was
incorrect, or a metric is over its bound.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

RUN_TIMEOUT_S = 1200
MIN_PAIRS = 10        # complete pairs needed before a side is called better
MIN_WIN_SHARE = 0.9   # share of pairs a side must win to be called better


def git(*args):
    return subprocess.run(["git", *args], check=True, capture_output=True,
                          text=True).stdout.strip()


def base_checkout(rev):
    """Extracts `rev` once into .bench_build/ab/<sha>; returns its path."""
    sha = git("rev-parse", "--verify", f"{rev}^{{commit}}")
    path = os.path.join(".bench_build", "ab", sha[:12])
    done = os.path.join(path, ".ab_extracted")
    if not os.path.exists(done):
        os.makedirs(path, exist_ok=True)
        archive = subprocess.Popen(["git", "archive", sha],
                                   stdout=subprocess.PIPE)
        subprocess.run(["tar", "-x", "-C", path], stdin=archive.stdout,
                       check=True)
        archive.stdout.close()
        if archive.wait() != 0:
            sys.exit(f"ab: git archive {rev} failed")
        open(done, "w").close()
    if not os.path.exists(os.path.join(path, "perfbench", "run.py")):
        sys.exit(f"ab: {rev} has no perfbench/run.py")
    return os.path.abspath(path), sha


def run(side, root, workload, seed, seconds, trace):
    """One perfbench run; returns its result object, or None on failure."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds),
           "--trace", "1" if trace else "0"]
    try:
        p = subprocess.run(cmd, cwd=root, capture_output=True, text=True,
                           timeout=RUN_TIMEOUT_S)
        result = json.loads(p.stdout.rstrip("\n").split("\n")[-1])
    except (subprocess.TimeoutExpired, ValueError, IndexError) as e:
        print(f"ab: {side} seed {seed} trace {int(trace)}: no result ({e})",
              file=sys.stderr)
        return None
    if p.returncode != 0:
        print(f"ab: {side} seed {seed} trace {int(trace)}: exit "
              f"{p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
        return None
    return result


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def worse(change, base, better):
    return change > base if better == "lower" else change < base


def fmt(x):
    return f"{x:.4g}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--base", required=True, help="git revision to compare")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--trace", action="store_true",
                    help="also run traced and print per-layer medians")
    a = ap.parse_args()
    if a.pairs < 1:
        sys.exit("ab: --pairs must be at least 1")
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    seconds = spec["run_seconds"]
    base_root, sha = base_checkout(a.base)
    sides = {"base": base_root, "change": os.getcwd()}

    runs = {"base": [], "change": []}        # untraced results per pair
    traced = {"base": [], "change": []}
    failures = 0
    for i in range(a.pairs):
        seed = i + 1
        order = ("base", "change") if i % 2 == 0 else ("change", "base")
        for trace in ([False, True] if a.trace else [False]):
            got = {s: run(s, sides[s], a.workload, seed, seconds, trace)
                   for s in order}
            for s, r in got.items():
                if r is None or not r["correct"] or r["failed"]:
                    failures += 1
            (traced if trace else runs)["base"].append(got["base"])
            (traced if trace else runs)["change"].append(got["change"])
        line = " ".join(
            f"{s}={fmt(r['metrics']['op_p50_s']['value'])}"
            if r else f"{s}=FAILED"
            for s, r in ((s, runs[s][-1]) for s in order))
        print(f"ab: pair {i + 1}/{a.pairs} seed {seed} op_p50_s {line}",
              file=sys.stderr)

    ok = [i for i in range(a.pairs) if runs["base"][i] and runs["change"][i]]
    print(f"workload {a.workload}: base {a.base} ({sha[:12]}) vs this "
          f"checkout, {len(ok)} complete pairs of {a.pairs}, "
          f"seconds {seconds}, seeds 1..{a.pairs}")
    print(f"  runs failed or incorrect: {failures}")
    over = False
    if ok:
        print(f"  {'metric':<16} {'base p50':>10} {'base q1..q3':>21} "
              f"{'change p50':>10} {'delta':>8} {'worse':>6} {'wins':>5} "
              f"{'bound':>6}  verdict")
        for m in spec["end_to_end"]:
            name, better = m["name"], m["better"]
            b = [runs["base"][i]["metrics"][name]["value"] for i in ok]
            c = [runs["change"][i]["metrics"][name]["value"] for i in ok]
            bmed, cmed = statistics.median(b), statistics.median(c)
            q1, q3 = quartiles(b)
            n_worse = sum(worse(c[i], b[i], better) for i in range(len(ok)))
            n_wins = sum(worse(b[i], c[i], better) for i in range(len(ok)))
            rel = (cmed - bmed) / bmed if bmed else 0.0
            rel_worse = rel if better == "lower" else -rel
            resolved = len(ok) >= MIN_PAIRS and abs(cmed - bmed) > q3 - q1
            if resolved and n_wins >= MIN_WIN_SHARE * len(ok):
                verdict = "better"
            elif resolved and n_worse >= MIN_WIN_SHARE * len(ok):
                verdict = "worse"
            else:
                verdict = "unresolved"
            if rel_worse > m["bound"]:
                verdict += ", over bound"
                over = True
            print(f"  {name:<16} {fmt(bmed):>10} "
                  f"{fmt(q1) + '..' + fmt(q3):>21} {fmt(cmed):>10} "
                  f"{100 * rel:>+7.1f}% {n_worse / len(ok):>6.2f} "
                  f"{n_wins:>5} {m['bound']:>6}  {verdict}")
    tok = [i for i in range(len(traced["base"]))
           if traced["base"][i] and traced["change"][i]]
    if a.trace and tok:
        print(f"  per-layer medians over {len(tok)} traced pairs:")
        print(f"    {'metric':<30} {'base':>10} {'change':>10} {'delta':>8}")
        for m in spec["per_layer"]:
            name = m["name"]
            b = statistics.median(
                traced["base"][i]["metrics"][name]["value"] for i in tok)
            c = statistics.median(
                traced["change"][i]["metrics"][name]["value"] for i in tok)
            delta = f"{100 * (c / b - 1):+.1f}%" if b else "n/a"
            print(f"    {name:<30} {fmt(b):>10} {fmt(c):>10} {delta:>8} "
                  f"{m['unit']}")
    sys.exit(1 if failures or over or not ok else 0)


if __name__ == "__main__":
    main()
