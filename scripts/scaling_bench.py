"""Core-count scaling bench on data big enough to parallelize
(VERDICT r10 item 7).

At the driver's sf0.1 nearly every query sits on the ~0.25-0.3 s/job
scheduling floor, so its low-core/high-core ratios are uninformative
(8c ≈ 32c on everything). This script times a SHUFFLE-HEAVY,
data-proportional subset at sf1 scale under two core counts — fresh
`local[N]` JVM per (query, cpus), 1 cold + K warm runs, steady = min
warm, the established solo protocol — and reports per-query
steady(low)/steady(high) ratios. On data that actually parallelizes,
the shuffle-heavy tier's ratio should approach the core ratio;
job-floor-bound queries stay near 1.0 by construction, which is
itself the evidence they need no more cores.

Usage:
    python scripts/make_sf1.py /root/testdata/sf0.1 /tmp/sf1 10   # once
    python scripts/scaling_bench.py [--sf-dir /tmp/sf1] [--cpus 8,32]
                                    [--warm 2] [q1 q2 ...]

Writes BENCH.scaling.json (query -> {cpus -> steady, ratio, commit,
load1}); the same host-steal caveats as steady_retime.py apply — treat
a single noisy entry as ambient until a re-run reproduces it.
"""

from __future__ import annotations

import argparse
import json
import os

from fresh_jvm import REPO_ROOT, git_head, load1, steady_record, time_query

OUT_PATH = os.path.join(REPO_ROOT, "BENCH.scaling.json")

#: default subset: data-proportional, shuffle/compute-heavy paths (the
#: BENCH.sf1.json heavy tier minus artifact-served ANN queries, whose
#: serve-only timing is deliberately layout-bound, plus the classic
#: wide-shuffle aggregates).
DEFAULT_QUERIES = [
    "salted_user_event_totals",   # two-level skew-safe aggregate
    "sessionize_events",          # per-user window over the fact table
    "dedup_cluster_sizes",        # connected components over pairs
    "minhash_lsh_near_dup",       # banded LSH mine
    "ngram_jaccard_near_dup",     # prefix-filtered pair join
    "simhash_near_dup",           # signature pass + blocked join
    "exact_median_two_pass",      # full-scan steering + selection
    "kruskal_wallis_value_by_type",  # bucketed global rank
    "padding_waste_audit",        # tokenize + two distributed ranks
    "naive_bayes_langid_confusion",  # token explode + scoring join
]

def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*", default=None)
    ap.add_argument("--sf-dir", default="/tmp/sf1")
    ap.add_argument("--cpus", default="8,32")
    ap.add_argument("--warm", type=int, default=2)
    args = ap.parse_args()
    if not os.path.isdir(args.sf_dir):
        raise SystemExit(
            f"{args.sf_dir} missing — build it first:\n"
            "  python scripts/make_sf1.py /root/testdata/sf0.1 /tmp/sf1 10"
        )
    names = args.names or DEFAULT_QUERIES
    # numeric sort: ratio_low_over_high picks first/last, so
    # "--cpus 32,8" must not silently record inverted ratios
    cpu_list = sorted(
        (c.strip() for c in args.cpus.split(",")), key=int
    )
    commit = git_head()

    book: dict = {}
    if os.path.exists(OUT_PATH):
        with open(OUT_PATH) as fh:
            book = json.load(fh)
    for name in names:
        rec = {"sf_dir": args.sf_dir, "commit": commit,
               "load1": load1(), "cpus": {}}
        # low/high back-to-back per query so both sides share ambient
        for cpus in cpu_list:
            times = time_query(name, args.sf_dir, cpus, args.warm)
            if times is None:
                continue
            rec["cpus"][cpus] = steady_record(times)
        if len(rec["cpus"]) == len(cpu_list) >= 2:
            lo, hi = cpu_list[0], cpu_list[-1]
            s_lo, s_hi = rec["cpus"][lo]["steady"], rec["cpus"][hi]["steady"]
            rec["ratio_low_over_high"] = round(s_lo / s_hi, 2) if s_hi else None
            print(f"{name}: {lo}c {s_lo:.2f}s / {hi}c {s_hi:.2f}s "
                  f"= x{rec['ratio_low_over_high']}", flush=True)
        book[name] = rec
        with open(OUT_PATH, "w") as fh:  # persist incrementally
            json.dump(book, fh, indent=1, sort_keys=True)
            fh.write("\n")
    print(f"wrote {OUT_PATH}")


if __name__ == "__main__":
    main()
