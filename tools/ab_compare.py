"""Paired A/B for optimization decisions on a noisy shared-tenant host.

Alternates warm_profile.py runs between two repo checkouts (A = baseline
worktree, B = candidate/HEAD) in the SAME minutes, several rounds (A,B on
even rounds, B,A on odd ones), and
reports per-query min-of-warm_min for each side plus the delta. Decisions
follow the r12 rule: keep a change only when the paired delta is a win.

Usage:
  python tools/ab_compare.py <dirA> <dirB> <rounds> q1 [q2 ...]
Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_WARM_PASSES pass
through to warm_profile.py.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile


def run_side(repo: str, names: list[str], tag: str) -> dict[str, float]:
    fd, out = tempfile.mkstemp(suffix=f"_{tag}.json")
    os.close(fd)
    try:
        subprocess.run(
            [sys.executable, os.path.join(repo, "tools", "warm_profile.py"), out]
            + names,
            cwd=repo,
            check=True,
            stdout=subprocess.DEVNULL,
            stderr=subprocess.DEVNULL,
        )
        with open(out) as f:
            rec = json.load(f)
    finally:
        os.unlink(out)
    return {n: r["warm_min"] for n, r in rec["queries"].items()}


def main() -> None:
    dir_a, dir_b, rounds = sys.argv[1], sys.argv[2], int(sys.argv[3])
    names = sys.argv[4:]
    best_a: dict[str, float] = {}
    best_b: dict[str, float] = {}
    sides = [("A", dir_a, best_a), ("B", dir_b, best_b)]
    for r in range(rounds):
        # A,B then B,A: a host that drifts faster or slower over a round
        # favours each side equally often.
        for tag, repo, best in sides if r % 2 == 0 else sides[::-1]:
            got = run_side(repo, names, tag)
            for n, v in got.items():
                best[n] = min(best.get(n, float("inf")), v)
            print(
                f"round {r} side {tag} loadavg {os.getloadavg()[0]:.1f}: "
                + " ".join(f"{n}={v:.2f}" for n, v in got.items()),
                flush=True,
            )
    print("\n== paired A/B result (min of warm_min over rounds) ==")
    for n in names:
        a, b = best_a.get(n), best_b.get(n)
        if a is None or b is None:
            print(f"{n}: missing side")
            continue
        print(f"{n:34s} A {a:7.3f}  B {b:7.3f}  delta {b - a:+7.3f}")


if __name__ == "__main__":
    main()
