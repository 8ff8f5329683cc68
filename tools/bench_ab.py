#!/usr/bin/env python3
"""Same-box focused bench A/B: old git rev (worktree) vs the working
tree, machine-stamped.

Why this exists: a wall-time claim is only evidence when both sides ran
on the same box at the same time.  The r10 CC fuse shipped a 2x
bench-scale regression behind an x100-only A/B; a focused A/B at bench
scale (sf0.1) would have shown it.  Job and stage counts, which do not
depend on the host, are gated separately by the plan golden
(``tools/explain_audit.py``); this tool measures the wall time those
counts cannot see.

Usage::

    python tools/bench_ab.py <old_rev> <entry>[,<entry>...] \
        [--module path ...] --out BENCH_AB_<name>.json

Runs ``SPARK_GRAFT_BENCH_ONLY=<entries> python bench.py`` twice —
once in a throwaway worktree at ``<old_rev>``, once in this repo —
and writes/merges the artifact with both JSON lines verbatim (host
stamps included).  Runs are SEQUENTIAL on purpose: concurrent Spark
drivers would contend for the box and poison both numbers.  Read the
stamps before believing a delta — np_gemm_ms swinging 2x+ between
sides means the box drifted mid-measurement and the pair should be
re-run (the r11 dedup A/B discarded exactly such a pair).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _bench(cwd: str, entries: str) -> dict:
    env = dict(os.environ, SPARK_GRAFT_BENCH_ONLY=entries)
    out = subprocess.run(
        [sys.executable, "bench.py"],
        cwd=cwd, env=env, capture_output=True, text=True,
    )
    if out.returncode != 0:
        raise SystemExit(
            f"bench failed in {cwd}:\n{out.stderr[-2000:]}"
        )
    for line in reversed(out.stdout.strip().splitlines()):
        line = line.strip()
        if line.startswith("{"):
            return json.loads(line)
    raise SystemExit(f"no JSON line from bench in {cwd}")


def main() -> int:
    # argparse (not hand-rolled token filtering): option VALUES must
    # never be mistaken for positionals when --module/--out precede
    # old_rev/entries (ADVICE r11)
    import argparse

    ap = argparse.ArgumentParser(
        description=__doc__,
        formatter_class=argparse.RawDescriptionHelpFormatter,
    )
    ap.add_argument("old_rev")
    ap.add_argument("entries", help="comma-separated bench entry names")
    ap.add_argument("--module", action="append", default=[], dest="modules")
    ap.add_argument(
        "--out", required=True, dest="out_path",
        help="artifact path relative to the repo; an existing one is merged",
    )
    ns = ap.parse_args()
    old_rev, entries = ns.old_rev, ns.entries
    modules = ns.modules
    out_path = os.path.join(REPO, ns.out_path)

    wt = tempfile.mkdtemp(prefix="bdq_ab_wt_")
    subprocess.run(
        ["git", "worktree", "add", "--detach", wt, old_rev],
        cwd=REPO, check=True, capture_output=True,
    )
    try:
        print(f"old side ({old_rev}) ...", flush=True)
        old = _bench(wt, entries)
        print(json.dumps(old))
        print("new side (working tree) ...", flush=True)
        new = _bench(REPO, entries)
        print(json.dumps(new))
    finally:
        subprocess.run(
            ["git", "worktree", "remove", "--force", wt],
            cwd=REPO, capture_output=True,
        )

    art = {}
    if os.path.exists(out_path):
        art = json.load(open(out_path))
    art.setdefault("modules", [])
    for m in modules:
        if m not in art["modules"]:
            art["modules"].append(m)
    art.setdefault("old_rev", old_rev)
    art.setdefault("bench_env", f"SPARK_GRAFT_BENCH_ONLY={entries}")
    # merge per-entry numbers so several A/Bs can share one artifact
    for side, run in (("old", old), ("new", new)):
        slot = art.setdefault(side, {"queries": {}, "host": {}})
        slot["queries"].update(run.get("queries", {}))
        slot["host"] = run.get("host", slot["host"])
    with open(out_path, "w") as fh:
        json.dump(art, fh, indent=1)
    print(f"wrote {out_path}")
    gemm = (
        old.get("host", {}).get("np_gemm_ms"),
        new.get("host", {}).get("np_gemm_ms"),
    )
    if all(gemm) and max(gemm) > 2 * min(gemm):
        print(
            f"WARNING: np_gemm_ms {gemm[0]} vs {gemm[1]} — host drifted "
            "2x+ between sides; re-run before trusting the delta"
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
