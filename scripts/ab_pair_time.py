"""Same-window A/B steady pairs: OLD tree vs NEW tree per query.

Host CPU steal swings solo steady numbers 3-4x with no load1 signal
(PERF.md), so per-change claims use back-to-back pairs — one fresh JVM
on the baseline worktree, then immediately one on the current tree —
and report the ratio, which moderate steal leaves roughly intact.

Usage:
    python scripts/ab_pair_time.py --old /tmp/r10base q1 q2 ...
    SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS as for bench.py
"""

from __future__ import annotations

import argparse
import json
import os

from fresh_jvm import load1, time_query


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--old", required=True, help="baseline worktree root")
    ap.add_argument("--warm", type=int, default=2)
    ap.add_argument("--out", default="/tmp/ab_pairs.json")
    args = ap.parse_args()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    results = {}
    for name in args.names:
        l0 = load1()
        old = time_query(name, sf_dir, cpus, args.warm, root=args.old, timeout=600)
        new = old and time_query(name, sf_dir, cpus, args.warm, timeout=600)
        if not new:
            print(f"{name}: ERR no result", flush=True)
            continue
        s_old, s_new = min(old[1:]), min(new[1:])
        ratio = s_new / s_old if s_old else float("nan")
        results[name] = {
            "old_runs": old, "new_runs": new,
            "old_steady": s_old, "new_steady": s_new,
            "ratio": round(ratio, 3), "load1_at_start": l0,
        }
        print(
            f"{name}: old {s_old:.2f}s -> new {s_new:.2f}s "
            f"(x{ratio:.2f}, cold {old[0]:.1f}->{new[0]:.1f}, load1 {l0})",
            flush=True,
        )
    with open(args.out, "w") as fh:
        json.dump(results, fh, indent=1)
    print(f"wrote {args.out}")


if __name__ == "__main__":
    main()
