#!/usr/bin/env python3
"""Idle-rerun adjudication of bench regression flags (round-12 verdict
item 7: three rounds running, the driver's BENCH capture entered under
external load and flagged a load phantom that had to be adjudicated by
hand; this tool IS that adjudication, run once per round after the
driver's bench).

For every query the given BENCH_r{N}.json flagged as a regression (plus
any flag list passed with --queries), it:
  1. waits for the box to go idle (1-min loadavg below --idle, default
     1.0 — the same bar the BENCH_COMPARISON.md pairings cite),
  2. re-times ONLY those queries via `SPARK_GRAFT_BENCH_ONLY` (filtered
     runs never touch bench_history.jsonl),
  3. compares the idle time against the flagged time and the previous
     round's time with the same material-regression gate the bench uses
     (>2x AND >0.5s AND >1s abs, OR >2.5x AND >0.3s — Bench.isRegression),
  4. writes `<bench>.adjudication.json` beside the input: per query the
     flagged/idle/previous times and a verdict — "load_phantom" (the
     idle rerun no longer trips the gate) or "reproduced" (it does; a
     real regression to chase).

Usage:
  tools/adjudicate_flags.py BENCH_r13.json [--idle 1.0] [--wait 1800]
      [--queries a,b,c] [--sf /root/testdata/sf0.1]
"""
import sys, os, json, time, subprocess, re

def isRegression(cur, prev):
    # mirror of graft.Bench.isRegression (unit-tested in BenchGateSpec)
    return cur > 0 and prev > 0 and (
        (cur / prev > 2.0 and cur > 0.5 and cur - prev > 1.0) or
        (cur / prev > 2.5 and cur > 0.3))

def loadavg():
    return float(open("/proc/loadavg").read().split()[0])

def history_runs(sf):
    """Same-SF bench_history.jsonl lines of the noop harness, oldest
    first: the lines graft.Bench itself compares against (untagged lines
    were count()-timed, so an idle noop re-time is never judged against
    them). When this tool runs right after the flagged bench run (its
    intended moment), the last line IS the flagged run and the one before
    it is the previous round — the full per-query maps the truncated
    BENCH_r{N} wrapper (headline queries only) cannot provide."""
    runs = []
    try:
        for line in open("bench_history.jsonl"):
            if not line.strip():
                continue
            d = json.loads(line)
            if d.get("sf") == sf and d.get("harness") == "noop":
                runs.append(d.get("queries", {}))
    except FileNotFoundError:
        pass
    return runs

def main():
    args = sys.argv[1:]
    def opt(name, default):
        if name in args:
            i = args.index(name)
            v = args[i + 1]
            del args[i:i + 2]
            return v
        return default
    idle_bar = float(opt("--idle", "1.0"))
    wait_s = int(opt("--wait", "1800"))
    sf = opt("--sf", "/root/testdata/sf0.1")
    extra = [q for q in opt("--queries", "").split(",") if q]
    if not args:
        sys.exit(__doc__)
    bench_path = args[0]
    bench = json.load(open(bench_path))
    parsed = bench.get("parsed") or bench  # accept raw Bench stdout too
    if "regressions" not in parsed and "tail" in bench:
        # the driver's wrapper often has parsed=null (stdout truncated to
        # its last 2000 chars); recover the flag list and any visible
        # per-query times from the raw tail string instead
        tail = bench["tail"]
        m = re.search(r'"regressions":\[([^\]]*)\]', tail)
        regs = re.findall(r'"([^"]+)"', m.group(1)) if m else []
        qtimes = {}
        qm = re.search(r'"queries":\{([^}]*)\}', tail)
        if qm:
            qtimes = {k: float(v) for k, v in
                      re.findall(r'"([^"]+)":(-?[0-9.eE+]+)', qm.group(1))}
        sfm = re.search(r'"sf":"([^"]*)"', tail)
        parsed = {"regressions": regs, "queries": qtimes,
                  "sf": sfm.group(1) if sfm else sf}
    flagged = sorted(set(parsed.get("regressions", []) + extra))
    hist = history_runs(parsed.get("sf", sf))
    last = hist[-1] if hist else {}
    flagged_times = {q: parsed.get("queries", {}).get(q) or last.get(q)
                     for q in flagged}
    out_path = bench_path + ".adjudication.json"
    if not flagged:
        json.dump({"flags": {}, "note": "no regression flags to adjudicate"},
                  open(out_path, "w"), indent=1)
        print(f"no flags; wrote {out_path}")
        return

    deadline = time.time() + wait_s
    while loadavg() >= idle_bar:
        if time.time() > deadline:
            sys.exit(f"box never went idle (<{idle_bar}) within {wait_s}s; "
                     "rerun later — adjudicating under load proves nothing")
        time.sleep(30)
    entry_load = loadavg()

    env = dict(os.environ,
               SPARK_GRAFT_SF_DIR=sf,
               SPARK_GRAFT_CPUS=os.environ.get("SPARK_GRAFT_CPUS", "32"),
               SPARK_GRAFT_BENCH_ONLY=",".join(flagged))
    r = subprocess.run(["sbt", "-batch", "runMain graft.Bench"],
                       env=env, capture_output=True, text=True, timeout=3600)
    m = re.search(r'BENCH FULL ({.*})', r.stderr)
    if not m:
        sys.exit(f"could not find BENCH FULL line; sbt exit {r.returncode}\n"
                 + r.stderr[-2000:])
    idle_times = json.loads(m.group(1))["queries"]
    prev = hist[-2] if len(hist) >= 2 else {}

    report = {}
    for q in flagged:
        it, ft, pt = idle_times.get(q), flagged_times.get(q), prev.get(q)
        # SPARK_GRAFT_BENCH_ONLY is prefix-matched: the rerun may time
        # extra same-prefix queries; report only the flagged one
        verdict = ("reproduced" if pt and it and isRegression(it, pt)
                   else "load_phantom")
        report[q] = {"flagged_s": ft, "idle_s": it, "prev_round_s": pt,
                     "verdict": verdict}
    json.dump({"entry_loadavg": entry_load, "sf": sf, "flags": report},
              open(out_path, "w"), indent=1)
    print(f"wrote {out_path}")
    for q, v in report.items():
        print(f"  {q}: flagged {v['flagged_s']} -> idle {v['idle_s']} "
              f"(prev {v['prev_round_s']}) => {v['verdict']}")

if __name__ == "__main__":
    main()
