#!/usr/bin/env python3
"""Compare benchmark runs: noise floor of one commit, or parent vs change.

  python3 perfbench/compare.py run --workloads W1,W2 --seeds 10 --out runs.jsonl \\
      [--parent DIR --change DIR]
      Runs the benchmark for BENCHMARK.json's run_seconds. With
      --parent/--change (two checkouts), runs alternating pairs, the same
      seed on both sides of a pair and the side that goes first
      alternating, and one traced run per side and workload on the first
      seed, right after that seed's pair (--no-trace skips those). Without
      them, runs the current checkout once per seed, with the traced run
      after the first.

  python3 perfbench/compare.py spread runs.jsonl
      Per workload and end-to-end metric: median, quartiles, and the
      interquartile range as a share of the median, against the metric's
      bound in BENCHMARK.json. Then the tracing overhead.

  python3 perfbench/compare.py report runs.jsonl
      The pair rule, per workload x end-to-end metric:
        improved   - at least 10 pairs, the change wins at least 9/10 of
                     them (ties count for neither side), and the medians
                     differ by more than the parent's interquartile range;
        regressed  - the change's median is worse than the parent's by more
                     than the metric's bound;
        unresolved - neither, and the parent's own spread is wider than the
                     bound (unless every change run beats every parent run);
        unchanged  - otherwise.
      A change with more failed operations, wrong or crashed runs than the
      parent is never "improved". Then the tracing overhead and the
      per-layer deltas of the traced runs, largest first, to show where a
      claimed saving sits.

Tracing overhead: the traced run's median latency (trace.latency_p50_s)
against latency_p50_s of the untraced run of the same seed and side.

Records are JSON lines: {"workload", "seed", "side", "pair", "trace",
"result"}; "result" is the benchmark's own result line.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")


def load_bench():
    with open(BENCH) as f:
        return json.load(f)


def run_one(checkout, workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if p.returncode != 0 or not lines:
        return None
    return json.loads(lines[-1])


def cmd_run(a):
    seconds = load_bench()["run_seconds"]
    sides = [("parent", a.parent), ("change", a.change)] if a.parent else [("head", os.path.dirname(HERE))]
    with open(a.out, "a") as out:
        def emit(rec):
            out.write(json.dumps(rec) + "\n")
            out.flush()
        for w in a.workloads.split(","):
            for k in range(a.seeds):
                seed = a.base_seed + k
                order = sides if k % 2 == 0 else sides[::-1]
                for side, path in order:
                    res = run_one(path, w, seed, seconds, 0)
                    emit({"workload": w, "seed": seed, "side": side, "pair": k, "trace": 0, "result": res})
                # right after the untraced runs of the same seed, so the
                # host's drift over the set stays out of the overhead
                for side, path in order if a.traced and k == 0 else []:
                    res = run_one(path, w, seed, seconds, 1)
                    emit({"workload": w, "seed": seed, "side": side, "pair": -1, "trace": 1, "result": res})


def read(path):
    with open(path) as f:
        return [json.loads(l) for l in f if l.strip()]


def quartiles(xs):
    if len(xs) < 2:
        return (xs[0], xs[0], xs[0]) if xs else (float("nan"),) * 3
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def values(recs, workload, metric):
    return [r["result"]["metrics"][metric]["value"] for r in recs
            if r["workload"] == workload and r.get("trace", 0) == 0 and r["result"]
            and metric in r["result"]["metrics"]]


def failures(recs, workload, side=None):
    """(crashed runs, runs with wrong output, failed operations) of one side."""
    rs = [r for r in recs if r["workload"] == workload and (side is None or r.get("side") == side)]
    crashed = sum(1 for r in rs if not r["result"])
    wrong = sum(1 for r in rs if r["result"] and not r["result"]["correct"])
    ops = sum(r["result"]["failed"] for r in rs if r["result"])
    return crashed, wrong, ops


def overheads(recs, workload):
    """Per side: traced median latency / untraced median latency - 1, same seed."""
    out = {}
    for t in recs:
        if t["workload"] != workload or t.get("trace") != 1 or not t["result"]:
            continue
        traced = t["result"]["metrics"].get("trace.latency_p50_s", {}).get("value")
        plain = [r["result"]["metrics"]["latency_p50_s"]["value"] for r in recs
                 if r["workload"] == workload and r.get("trace", 0) == 0 and r["result"]
                 and r["seed"] == t["seed"] and r.get("side") == t.get("side")]
        if traced and plain:
            out[t.get("side")] = traced / plain[0] - 1.0
    return out


def print_overheads(recs, workload):
    for side, o in sorted(overheads(recs, workload).items()):
        print(f"  tracing overhead ({side}): {o:+.1%} (traced vs untraced median latency, same seed)")


def cmd_spread(a):
    bench = load_bench()
    recs = read(a.file)
    for w in sorted({r["workload"] for r in recs}):
        crashed, wrong, ops = failures(recs, w)
        if crashed or wrong:
            print(f"{w}: {crashed} crashed run(s), {wrong} run(s) with wrong output ({ops} failed operations)")
        for m in bench["end_to_end"]:
            xs = values(recs, w, m["name"])
            if not xs:
                continue
            q1, med, q3 = quartiles(xs)
            spread = (q3 - q1) / med if med else float("nan")
            flag = "" if m["name"] == "setup_s" or spread < m["bound"] / 3 else \
                ("  > bound/3" if spread < m["bound"] else "  > BOUND")
            print(f"{w:18s} {m['name']:16s} n={len(xs):2d} median={med:12.4f} "
                  f"q1={q1:12.4f} q3={q3:12.4f} spread={spread:6.3f} bound={m['bound']}{flag}")
        print_overheads(recs, w)


def verdict(p, c, better, bound):
    pairs = list(zip(p, c))
    wins = sum(1 for x, y in pairs if (y < x if better == "lower" else y > x))
    q1, mp, q3 = quartiles(p)
    _, mc, _ = quartiles(c)
    iqr = q3 - q1
    worse = (mc - mp) / mp if better == "lower" else (mp - mc) / mp
    all_better = all((y < x if better == "lower" else y > x) for x in p for y in c)
    if len(pairs) >= 10 and wins >= 0.9 * len(pairs) and abs(mc - mp) > iqr:
        v = "improved"
    elif worse > bound:
        v = "regressed"
    elif iqr / mp > bound and not all_better:
        v = "unresolved"
    else:
        v = "unchanged"
    return v, wins, len(pairs), mp, mc, iqr


def cmd_report(a):
    bench = load_bench()
    recs = read(a.file)
    for w in sorted({r["workload"] for r in recs}):
        print(f"== {w}")
        fails = {side: failures(recs, w, side) for side in ("parent", "change")}
        for side, (crashed, wrong, ops) in fails.items():
            print(f"  {side}: {crashed} crashed run(s), {wrong} run(s) with wrong output, "
                  f"{ops} failed operation(s)")
        worse = any(c > p for c, p in zip(fails["change"], fails["parent"]))
        for m in bench["end_to_end"]:
            by_pair = {}
            for r in recs:
                if r["workload"] == w and r.get("trace", 0) == 0 and r["result"] and r.get("pair", -1) >= 0:
                    by_pair.setdefault(r["pair"], {})[r["side"]] = r["result"]["metrics"][m["name"]]["value"]
            full = [v for v in by_pair.values() if "parent" in v and "change" in v]
            if not full:
                continue
            p = [v["parent"] for v in full]
            c = [v["change"] for v in full]
            v, wins, n, mp, mc, iqr = verdict(p, c, m["better"], m["bound"])
            if v == "improved" and worse:
                v = "unresolved"  # no gain counts while the change fails more than the parent
            print(f"  {m['name']:16s} {v:10s} wins {wins}/{n}  parent median {mp:.4f} "
                  f"(IQR {iqr:.4f})  change median {mc:.4f}  ({(mc - mp) / mp:+.1%})")
        print_overheads(recs, w)
        traced = {r["side"]: r["result"]["metrics"] for r in recs
                  if r["workload"] == w and r.get("trace") == 1 and r["result"]}
        if "parent" in traced and "change" in traced:
            print("  per-layer (traced run), largest relative change first:")
            rows = []
            for k, pv in traced["parent"].items():
                cv = traced["change"].get(k, {}).get("value")
                if cv is None:
                    continue
                base = abs(pv["value"])
                rel = (cv - pv["value"]) / base if base else (0.0 if cv == 0 else float("inf"))
                rows.append((abs(rel), k, pv["value"], cv, pv["unit"], rel))
            for _, k, pv, cv, unit, rel in sorted(rows, reverse=True):
                print(f"    {k:36s} {pv:14.4f} -> {cv:14.4f} {unit:6s} {rel:+.1%}")


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--workloads", required=True)
    r.add_argument("--seeds", type=int, default=10)
    r.add_argument("--base-seed", type=int, default=1)
    r.add_argument("--parent")
    r.add_argument("--change")
    r.add_argument("--out", required=True)
    r.add_argument("--no-trace", dest="traced", action="store_false",
                   help="skip the traced run per side")
    s = sub.add_parser("spread")
    s.add_argument("file")
    p = sub.add_parser("report")
    p.add_argument("file")
    a = ap.parse_args()
    if a.cmd == "run" and bool(a.parent) != bool(a.change):
        ap.error("--parent and --change go together")
    {"run": cmd_run, "spread": cmd_spread, "report": cmd_report}[a.cmd](a)


if __name__ == "__main__":
    main()
