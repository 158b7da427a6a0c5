#!/usr/bin/env python3
"""Compare a Bench JSON line against the DuckDB baseline.

Usage:
  python3 tools/compare_baseline.py <stdout.log> [<stderr.log> ...]
  python3 tools/compare_baseline.py <stdout.log> <stderr.log> --live [--sf DIR] [--oracle FILE]

Bench prints the compact headline on stdout and the per-query detail
line on stderr (the driver tail-captures stdout) — pass both logs to
get per-query ratios.

Default mode reads the stored per-query table in BASELINE.md. With
--live, DuckDB is RE-MEASURED on this host right now under the identical
protocol the stored table documents (one connection + per-thread
cursors, 16-thread pool, warmup + best of 3), so host-load drift moves
both engines together instead of misreading as an engine regression —
the stored numbers have misread a 1.5x as a 1.9x before. The oracle SQL
comes from the file graft.Verify dumps (outDir/oracle_sql.json).

Prints per-query engine/baseline ratios (worst first) and the totals —
the tuning worklist for a bench round.
"""
import argparse, json, re, signal, sys, time

signal.signal(signal.SIGPIPE, signal.SIG_DFL)  # clean exit under `| head`

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def read_bench(path, extra_paths=()):
    # Bench prints the compact {"metric":"total",...} headline on stdout
    # (the driver tail-captures stdout, so it must stay alone and small)
    # and the {"metric":"per_query",...} map on stderr — pass the stderr
    # log as an extra positional file to get per-query ratios.
    total_line = detail_line = None
    for p in (path,) + tuple(extra_paths):
        for l in open(p):
            m = re.search(r'\{"metric":"total".*\}', l)
            if m:
                total_line = m.group(0)
            m = re.search(r'\{"metric":"per_query".*\}', l)
            if m:
                detail_line = m.group(0)
    if not total_line or not detail_line:
        sys.exit(f"no bench JSON lines found in {path} (+{len(extra_paths)} extra)")
    bench = json.loads(total_line)
    bench["queries"] = json.loads(detail_line)["queries"]
    return bench


def stored_baseline():
    base = {}
    for l in open("BASELINE.md"):
        m = re.match(r"\| `(\w+)` \| ([0-9.]+) \|", l)
        if m:
            base[m.group(1)] = float(m.group(2))
    return base, None


def live_baseline(sf_dir, oracle_path, threads=16, rounds=3):
    """Re-run the oracle suite in DuckDB under the BASELINE.md protocol:
    one connection, per-thread cursors, a pool of `threads` workers
    (matched to the engine headline's thread count for a like-for-like
    wall), full fetchall, one warmup pass then best-of-`rounds` —
    returns (per-query best seconds, best concurrent suite wall)."""
    from concurrent.futures import ThreadPoolExecutor
    import duckdb
    oracle = json.load(open(oracle_path))
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    def run_one(item):
        name, sql = item
        cur = con.cursor()
        t0 = time.monotonic()
        cur.execute(sql).fetchall()
        return name, time.monotonic() - t0

    items = sorted(oracle.items())
    per_query = {}
    best_wall = None
    for r in range(rounds + 1):  # round 0 is the warmup
        t0 = time.monotonic()
        with ThreadPoolExecutor(max_workers=threads) as pool:
            timings = list(pool.map(run_one, items))
        wall = time.monotonic() - t0
        if r == 0:
            continue
        best_wall = wall if best_wall is None else min(best_wall, wall)
        for name, dt in timings:
            per_query[name] = min(per_query.get(name, dt), dt)
    print(f"live DuckDB: {len(items)} queries, {threads} threads, "
          f"best-of-{rounds} concurrent wall {best_wall:.2f}s on {sf_dir}",
          file=sys.stderr)
    return per_query, best_wall


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("bench", help="bench JSON file or log containing it")
    ap.add_argument("extra", nargs="*",
                    help="additional log files (e.g. the stderr log with the per_query line)")
    ap.add_argument("--live", action="store_true",
                    help="re-measure DuckDB now instead of reading BASELINE.md")
    ap.add_argument("--sf", default="/root/testdata/sf0.1",
                    help="parquet table dir for --live (default sf0.1, the bench SF)")
    ap.add_argument("--oracle", default="/tmp/graft_verify/oracle_sql.json",
                    help="oracle_sql.json dumped by graft.Verify (for --live)")
    ap.add_argument("--prior", metavar="DETAIL_JSON",
                    help="prior round's committed bench detail (e.g. "
                         "docs/bench_detail_r12.json): flag per-query "
                         "regressions beyond --regression-factor")
    ap.add_argument("--regression-factor", type=float, default=1.5,
                    help="per-query slowdown vs --prior that counts as a "
                         "regression (default 1.5x; sub-0.15s rows are "
                         "dispatch-floor noise and exempt)")
    ap.add_argument("--plan-metrics", default="docs/plans_sf0.01.txt.metrics.jsonl",
                    help="current per-query structural plan metrics "
                         "(written by graft.Tool explain)")
    ap.add_argument("--plan-prior", metavar="METRICS_JSONL",
                    help="prior round's committed plan metrics (e.g. "
                         "docs/plan_metrics_r13.jsonl): diff structural "
                         "counts — a NEW exchange or nested-loop join "
                         "fails loudly (exit 2) even when wall-clock "
                         "noise would hide it")
    args = ap.parse_args()

    bench = read_bench(args.bench, args.extra)
    if args.live:
        # identical-protocol rule: DuckDB gets the same pool width the
        # engine's headline was measured with (16 before round 9, 24 after)
        base, live_wall = live_baseline(args.sf, args.oracle,
                                        threads=int(bench.get("threads", 16)))
    else:
        base, live_wall = stored_baseline()

    rows = []
    uncovered = []
    for q, t in bench["queries"].items():
        b = base.get(q)
        if b is None:
            uncovered.append(q)
        else:
            rows.append((t / b, q, t, b))
    rows.sort(reverse=True)
    print(f"{'ratio':>8} {'engine_s':>9} {'baseline_s':>10}  query")
    for r, q, t, b in rows:
        print(f"{r:8.1f} {t:9.3f} {b:10.3f}  {q}")
    if not rows:
        sys.exit("no queries overlap with the baseline set")
    # totals over the covered set only — an uncovered query must not
    # inflate the headline ratio
    total_engine = sum(t for _, _, t, _ in rows)
    total_base = sum(b for _, _, _, b in rows)
    print(f"\ncovered total engine {total_engine:.2f}s vs baseline {total_base:.2f}s "
          f"(ratio {total_engine/total_base:.1f}x); failed={bench.get('failed', [])}"
          + (f"; uncovered={uncovered}" if uncovered else ""))
    if live_wall is not None:
        wall = bench.get("wall_concurrent") or bench.get("value")
        print(f"HEADLINE (same-host, same-protocol): engine concurrent wall "
              f"{wall:.2f}s vs live DuckDB {live_wall:.2f}s -> "
              f"{wall / live_wall:.2f}x")

    # per-query regression gate vs the prior round's committed detail —
    # automates the pairwise diff the round-11/12 verdicts did by hand.
    # Sub-0.15s rows on BOTH sides are dispatch-floor noise, not data
    # paths, and are exempt; everything else slower than the factor is
    # listed with its delta so the round's closing notes can cite it.
    if args.prior:
        prior = json.load(open(args.prior)).get("queries", {})
        regs, news = [], []
        for q, t in bench["queries"].items():
            p = prior.get(q)
            if p is None:
                news.append(q)
            elif t > args.regression_factor * p and max(t, p) >= 0.15:
                regs.append((t / p, q, t, p))
        regs.sort(reverse=True)
        if regs:
            print(f"\nREGRESSIONS vs {args.prior} (> {args.regression_factor}x):")
            for r, q, t, p in regs:
                print(f"{r:8.2f} {t:9.3f} {p:10.3f}  {q}")
        else:
            print(f"\nno per-query regression vs {args.prior} "
                  f"(factor {args.regression_factor}, "
                  f"{len(bench['queries']) - len(news)} compared"
                  + (f", new: {sorted(news)}" if news else "") + ")")
        if regs:
            sys.exit(2)

    # structural plan regression gate (round-13 advice #10): diff the
    # per-query exchange/broadcast/window/sort/BNLJ counts against the
    # prior round's committed snapshot. Wall-clock noise moves ±30% on
    # this host, so a new Exchange can hide inside it — the structural
    # counts can't. Increases in exchanges or bnlj fail (exit 2);
    # every other change is reported for the round notes.
    if args.plan_prior:
        def load_metrics(path):
            out = {}
            for line in open(path):
                if line.strip():
                    m = json.loads(line)
                    out[m["query"]] = m
            return out
        try:
            cur = load_metrics(args.plan_metrics)
        except FileNotFoundError:
            sys.exit(f"plan gate: {args.plan_metrics} not found — run "
                     "`runMain graft.Tool explain` first (refusing a vacuous pass)")
        pri = load_metrics(args.plan_prior)
        # anti-vacuity (round-14 review): a stale/empty current metrics
        # file would compare nothing and report success — the exact
        # regression-masking this gate exists to prevent
        overlap = len(set(cur) & set(pri))
        if overlap < max(1, len(pri) // 2):
            sys.exit(f"plan gate: only {overlap}/{len(pri)} prior queries "
                     f"present in {args.plan_metrics} — stale metrics? "
                     "Re-run graft.Tool explain (refusing a vacuous pass)")
        keys = ("exchanges", "broadcasts", "windows", "sorts", "bnlj")
        bad, changed = [], []
        for q in sorted(cur):
            p = pri.get(q)
            if p is None:
                continue
            deltas = [(k, p.get(k, 0), cur[q].get(k, 0))
                      for k in keys if cur[q].get(k, 0) != p.get(k, 0)]
            if not deltas:
                continue
            desc = ", ".join(f"{k} {a}->{b}" for k, a, b in deltas)
            changed.append(f"  {q}: {desc}")
            if any(b > a for k, a, b in deltas if k in ("exchanges", "bnlj")):
                bad.append(q)
        new_qs = sorted(set(cur) - set(pri))
        if changed:
            print(f"\nPLAN-SHAPE CHANGES vs {args.plan_prior}:")
            print("\n".join(changed))
        else:
            print(f"\nno plan-shape change vs {args.plan_prior} "
                  f"({len(set(cur) & set(pri))} compared)")
        # new queries are report content either way — a round that both
        # changes a plan and adds queries must not hide the additions
        if new_qs:
            print(f"new queries (no prior plan): {new_qs}")
        if bad:
            print(f"PLAN REGRESSIONS (new exchange/BNLJ): {bad}")
            sys.exit(2)


if __name__ == "__main__":
    main()
