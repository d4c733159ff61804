#!/usr/bin/env python3
"""Run the benchmark on two revisions in alternated pairs and judge each metric.

    python3 scripts/pair.py BASE CHANGE --workload star_sql --pairs 10 --seed 1 [--trace]

BASE and CHANGE are git revisions of this repository.  Each is exported with
``git archive`` into a work directory, so uncommitted edits are not measured;
after ``git add -A``, ``git stash create`` gives a revision of the working
tree.  The two revisions must hold the same ``perfbench/`` and
``BENCHMARK.json``, or the tool refuses to run.

Pair i runs seed S+i on both sides, and the side that runs first alternates.
The command, the run length, the end-to-end metrics and their bounds all come
from BENCHMARK.json.  For each end-to-end metric the tool prints both medians,
BASE's quartiles, CHANGE's wins (a tie counts for neither side) and a verdict:

- ``gain``: CHANGE wins at least nine tenths of the pairs, its median is
  better than BASE's by more than BASE's interquartile range, and it fails no
  larger share of operations;
- ``no-regression``: CHANGE's median is no worse than BASE's by more than the
  metric's bound, and BASE's spread is within the bound, or every CHANGE run
  beats every BASE run;
- ``regression``: CHANGE's median is worse than BASE's by more than the bound;
- ``unresolved``: BASE's interquartile range is wider than the bound, so the
  runs cannot tell either way.

Each run's ``failed/attempted`` and host steal are printed too; a run at or
above 0.30 stolen cores is flagged.  ``attempted`` differs between sides when
one side is faster: ``warm_pass_s`` and ``op_p50_s`` keep each operation's
fastest sample over as many later passes as fit in the run, so the faster
side draws more samples.  ``--trace`` adds one traced run per side, whose
single-pass ``warm.wall_s`` is free of that bias.

The exit status is 1 when a run fails, times out or prints a malformed last
line (the run is named), or when CHANGE fails a larger share of operations.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_DIR = os.path.join(ROOT, ".pair_work")
STEAL_FLAG_CORES = 0.30
RUN_TIMEOUT_S = 600  # perfbench/run.py ends a run within 180 s


class RunError(Exception):
    """A benchmark run failed or printed no well-formed result line."""


def parse_result(stdout: str, run: str) -> dict:
    """The result of one run: its last stdout line plus the host steal."""
    lines = [ln for ln in stdout.splitlines() if ln.strip()]
    if not lines:
        raise RunError(f"{run}: printed nothing")
    try:
        line = json.loads(lines[-1])
        metrics = {k: float(v["value"]) for k, v in line["metrics"].items()}
        attempted, failed = int(line["attempted"]), int(line["failed"])
    except (ValueError, TypeError, KeyError, AttributeError) as exc:
        raise RunError(f"{run}: malformed last line {lines[-1][:200]!r} ({exc!r})") from None
    steal = None
    for ln in lines:
        if ln.startswith("# host "):
            fields = dict(f.split("=", 1) for f in ln[len("# host "):].split() if "=" in f)
            steal = float(fields["steal_cores"]) if "steal_cores" in fields else None
    return {"metrics": metrics, "attempted": attempted, "failed": failed,
            "steal_cores": steal}


def quartiles(values: list) -> tuple:
    if len(values) < 2:
        return values[0], values[0], values[0]
    return tuple(statistics.quantiles(values, n=4, method="inclusive"))


def verdict(base: list, change: list, better: str, bound: float,
            fails_more: bool = False) -> dict:
    """Judge one metric from paired runs: ``base[i]`` and ``change[i]`` ran as pair i."""
    sign = 1.0 if better == "lower" else -1.0
    n = len(base)
    wins = sum(sign * (b - c) > 0 for b, c in zip(base, change))
    q1, med_b, q3 = quartiles(base)
    med_c = statistics.median(change)
    iqr = q3 - q1
    gap = sign * (med_b - med_c)  # > 0: CHANGE is better
    if not fails_more and wins * 10 >= 9 * n and gap > iqr:
        result = "gain"
    elif all(sign * (b - c) > 0 for b in base for c in change):
        result = "no-regression"
    elif iqr > bound * abs(med_b):
        result = "unresolved"
    elif -gap > bound * abs(med_b):
        result = "regression"
    else:
        result = "no-regression"
    return {"base_median": med_b, "change_median": med_c, "base_q1": q1,
            "base_q3": q3, "base_iqr": iqr, "wins": wins, "pairs": n,
            "verdict": result}


def export(rev: str, dest: str) -> None:
    os.makedirs(dest)
    archive = subprocess.run(["git", "-C", ROOT, "archive", rev],
                             check=True, capture_output=True).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)


def run_once(tree: str, bench: dict, workload: str, seed: int, trace: bool,
             run: str) -> dict:
    cmd = bench["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(bench["run_seconds"]),
                              "--trace", "1" if trace else "0"]
    try:
        proc = subprocess.run(cmd, cwd=tree, capture_output=True, text=True,
                              timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise RunError(f"{run}: no result within {RUN_TIMEOUT_S} s") from None
    if proc.returncode != 0:
        raise RunError(f"{run}: exit {proc.returncode}\n{proc.stderr[-3000:]}")
    res = parse_result(proc.stdout, run)
    if not trace:
        missing = [m["name"] for m in bench["end_to_end"] if m["name"] not in res["metrics"]]
        if missing:
            raise RunError(f"{run}: result line lacks {', '.join(missing)}")
    return res


def describe(res: dict) -> str:
    steal = res["steal_cores"]
    flag = "  STEAL" if steal is not None and steal >= STEAL_FLAG_CORES else ""
    return (f"failed/attempted={res['failed']}/{res['attempted']} "
            f"steal_cores={'?' if steal is None else steal}{flag}")


def failure_share(runs: list) -> float:
    return sum(r["failed"] for r in runs) / max(1, sum(r["attempted"] for r in runs))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("base")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--trace", action="store_true",
                    help="add one traced run per side and print its per-layer metrics")
    args = ap.parse_args(argv)
    if args.pairs < 1:
        ap.error("--pairs must be at least 1")

    same = subprocess.run(["git", "-C", ROOT, "diff", "--quiet", args.base, args.change,
                           "--", "perfbench", "BENCHMARK.json"])
    if same.returncode != 0:
        print(f"{args.base} and {args.change} differ in perfbench/ or BENCHMARK.json "
              "(or a revision is unknown); their runs would not compare", file=sys.stderr)
        return 2

    os.makedirs(WORK_DIR, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=WORK_DIR)
    try:
        trees = {}
        for side, rev in (("base", args.base), ("change", args.change)):
            trees[side] = os.path.join(work, side)
            export(rev, trees[side])
        with open(os.path.join(trees["base"], "BENCHMARK.json")) as fh:
            bench = json.load(fh)
        print(f"# {args.workload}: base={args.base} change={args.change} pairs={args.pairs} "
              f"seeds={args.seed}..{args.seed + args.pairs - 1} "
              f"run_seconds={bench['run_seconds']}", flush=True)

        runs = {"base": [], "change": []}
        for i in range(args.pairs):
            seed = args.seed + i
            order = ("base", "change") if i % 2 == 0 else ("change", "base")
            for side in order:
                name = f"pair {i + 1} {side} seed {seed}"
                res = run_once(trees[side], bench, args.workload, seed, False, name)
                runs[side].append(res)
                print(f"# {name}: {describe(res)}", flush=True)

        shares = {side: failure_share(r) for side, r in runs.items()}
        fails_more = shares["change"] > shares["base"]
        print(f"\n{'metric':<14}{'base_med':>10}{'change_med':>12}{'base_q1':>10}"
              f"{'base_q3':>10}{'base_iqr':>10}{'bound':>7}  {'wins':<7}verdict")
        for m in bench["end_to_end"]:
            v = verdict([r["metrics"][m["name"]] for r in runs["base"]],
                        [r["metrics"][m["name"]] for r in runs["change"]],
                        m["better"], m["bound"], fails_more)
            print(f"{m['name']:<14}{v['base_median']:>10.4f}{v['change_median']:>12.4f}"
                  f"{v['base_q1']:>10.4f}{v['base_q3']:>10.4f}{v['base_iqr']:>10.4f}"
                  f"{m['bound']:>7.2f}  {v['wins']}/{v['pairs']:<5}{v['verdict']}")
        print(f"failed share: base {shares['base']:.4f}, change {shares['change']:.4f}")

        if args.trace:
            traced = {}
            for side in ("base", "change"):
                name = f"traced {side} seed {args.seed}"
                traced[side] = run_once(trees[side], bench, args.workload, args.seed, True, name)
                print(f"# {name}: {describe(traced[side])}", flush=True)
            print(f"\n{'per-layer metric':<40}{'base':>14}{'change':>14}")
            for m in bench["per_layer"]:
                vals = [traced[s]["metrics"].get(m["name"]) for s in ("base", "change")]
                if any(v is not None for v in vals):
                    cells = "".join(f"{'-' if v is None else f'{v:.4g}':>14}" for v in vals)
                    print(f"{m['name']:<40}{cells}")
        if fails_more:
            print("change fails a larger share of operations than base", file=sys.stderr)
            return 1
        return 0
    except RunError as exc:
        print(f"run failed: {exc}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(WORK_DIR)
        except OSError:
            pass  # another pairing's work dir is still there


if __name__ == "__main__":
    sys.exit(main())
