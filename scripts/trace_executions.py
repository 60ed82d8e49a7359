#!/usr/bin/env python3
"""Break a bench trace down into the SQL executions of each op.

A traced bench run (`python3 bench/run.py ... --trace 1`) writes its spans to
`.bench_build/traces/<workload>-seed<n>.jsonl`, one JSON object per line:
id, parent, op, level (op, call, query, job, stage), name, start_ms, end_ms.
This script only reads such a file. For every op it prints one row per SQL
execution (a `query` span) in start order:

  jobs     the jobs the execution ran
  busy_ms  time at least one of those jobs was running
  self_ms  execution time no job covered (planning, driver-side work)
  gap_ms   time since the previous execution of the op ended (or since
           the op started): driver work between round trips
  sites    call sites of the jobs submitted from the calling thread; AQE
           stage and broadcast jobs run from Spark's thread pools and are
           counted in `jobs` but not named

Jobs tied to no execution are listed as `(no execution)`. A closing line per
op sums executions, jobs, busy and gap time.

Usage, from the root of a checkout:

    python3 scripts/trace_executions.py .bench_build/traces/ingest_frozen-seed101.jsonl \
        [--ops 1 2] [--sites 3]
"""
import argparse
import collections
import json


def covered(intervals, lo, hi):
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    total, cur = 0.0, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur is None or s > cur[1]:
            if cur is not None:
                total += cur[1] - cur[0]
            cur = [s, e]
        else:
            cur[1] = max(cur[1], e)
    if cur is not None:
        total += cur[1] - cur[0]
    return total


def pooled(site):
    # jobs Spark submits from its own thread pools (AQE query stages,
    # broadcast builds) carry the pool's frame as their call site
    return "withThreadLocalCaptured" in site or "ThreadPoolExecutor" in site


def sites_of(jobs, children):
    """Distinct calling-thread call sites of the stages of `jobs`."""
    sites = []
    for j in jobs:
        for st in children[j["id"]]:
            site = st["name"].split(" ", 2)[-1]
            if st["level"] == "stage" and not pooled(site) and site not in sites:
                sites.append(site)
    return sites


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def summarize(spans, ops=None, max_sites=3):
    by_op = collections.defaultdict(list)
    for s in spans:
        by_op[s["op"]].append(s)
    children = collections.defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s)
    out = []
    for op in sorted(k for k in by_op if k >= 0):
        if ops and op not in ops:
            continue
        mine = by_op[op]
        head = next((s for s in mine if s["level"] == "op"), None)
        if head is None:
            continue
        queries = sorted((s for s in mine if s["level"] == "query"), key=lambda s: s["start_ms"])
        loose = [s for s in mine if s["level"] == "job"
                 and not any(p["level"] == "query" and p["id"] == s["parent"] for p in queries)]
        out.append(f"op {op} {head['name']}: {head['end_ms'] - head['start_ms']:.0f} ms")
        out.append(f"  {'execution':<18}{'jobs':>5}{'busy_ms':>9}{'self_ms':>9}{'gap_ms':>8}  sites")
        prev_end = head["start_ms"]
        tot_jobs, tot_busy, tot_gap = 0, 0.0, 0.0
        for q in queries:
            jobs = [c for c in children[q["id"]] if c["level"] == "job"]
            iv = [(j["start_ms"], j["end_ms"]) for j in jobs]
            busy = covered(iv, q["start_ms"], q["end_ms"])
            self_ms = (q["end_ms"] - q["start_ms"]) - busy
            gap = max(0.0, q["start_ms"] - prev_end)
            sites = sites_of(jobs, children)
            out.append(f"  {q['name']:<18}{len(jobs):>5}{busy:>9.0f}{self_ms:>9.0f}{gap:>8.0f}  "
                       + "; ".join(sites[:max_sites]))
            prev_end = max(prev_end, q["end_ms"])
            tot_jobs += len(jobs)
            tot_busy += busy
            tot_gap += gap
        if loose:
            iv = [(j["start_ms"], j["end_ms"]) for j in loose]
            busy = covered(iv, head["start_ms"], head["end_ms"])
            out.append(f"  {'(no execution)':<18}{len(loose):>5}{busy:>9.0f}{'':>17}  "
                       + "; ".join(sites_of(loose, children)[:max_sites]))
            tot_jobs += len(loose)
            tot_busy += busy
        tail = max(0.0, head["end_ms"] - prev_end)
        out.append(f"  total: {len(queries)} executions, {tot_jobs} jobs, busy {tot_busy:.0f} ms, "
                   f"gaps {tot_gap:.0f} ms (+{tail:.0f} ms after the last execution)")
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("trace", help="a .bench_build/traces/*.jsonl file")
    ap.add_argument("--ops", type=int, nargs="*", help="only these op ids")
    ap.add_argument("--sites", type=int, default=3, help="call sites shown per execution")
    a = ap.parse_args()
    print("\n".join(summarize(load(a.trace), set(a.ops or []), a.sites)))


if __name__ == "__main__":
    main()
