#!/usr/bin/env python3
"""Interleaved same-window A/B benchmark runner (round-11 verdict item 1).

Every round so far has tried to compare a fresh HEAD bench against a
weeks-old baseline artifact measured in a DIFFERENT host window, and the
co-tenant noise (25-45% swings on identical code) has repeatedly drowned
real per-key wins.  This runner makes the comparison inside ONE window:
it alternates full bench.py invocations between the current checkout
(side A = HEAD) and a pinned git ref (side B), in ABBA order so a linear
drift in host load cancels to first order, and reports per-key minima
and per-pair ratios.  Contamination then hits both sides roughly
equally instead of accumulating into whichever side ran later.

    python ab_bench.py --ref <git-ref> --keys k1,k2 [--pairs 3]
                       [--runs 3] [--cpus-a N] [--cpus-b N]
                       [--out ab_result.json]

Side B runs in a disposable `git worktree` of the ref under /tmp; the
CURRENT bench.py is copied over the worktree's so both sides use the
same measurement harness (keys filter, medians, noop forcing) while
importing their OWN package + entry code — the thing being A/B'd is the
engine, not the harness.  `--ref HEAD` with different --cpus-a/--cpus-b
gives the same-window SCALING pair (verdict item 1c).

Each invocation is a fresh JVM (cold both sides — fair), runs only the
requested keys (SPARK_GRAFT_BENCH_KEYS), one attempt, no quiet-wait
(the interleaving IS the noise control).  This is a measurement tool:
its output is not an artifact of record and never replaces the driver's
bench contract, which is untouched.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))


def _run(cmd: list[str], cwd: str = REPO, **kw) -> subprocess.CompletedProcess:
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, **kw)


def _ensure_worktree(ref: str) -> str:
    sha = _run(["git", "rev-parse", "--short", ref]).stdout.strip()
    if not sha:
        raise SystemExit(f"ab_bench: cannot resolve ref {ref!r}")
    wt = os.path.join("/tmp", f"spark_graft_ab_{sha}")
    if not os.path.isdir(os.path.join(wt, "wpvectordb_spark")):
        shutil.rmtree(wt, ignore_errors=True)
        r = _run(["git", "worktree", "add", "--detach", "--force", wt, sha])
        if r.returncode != 0:
            raise SystemExit(f"ab_bench: worktree add failed: {r.stderr[-500:]}")
    # same harness both sides; each side imports its own package/entry
    shutil.copy2(os.path.join(REPO, "bench.py"), os.path.join(wt, "bench.py"))
    return wt


def _bench_once(side_dir: str, keys: str, cpus: str, runs: int) -> dict:
    env = dict(os.environ)
    env.update(
        {
            "SPARK_GRAFT_BENCH_KEYS": keys,
            "SPARK_GRAFT_BENCH_ATTEMPTS": "1",
            "SPARK_GRAFT_BENCH_MIN_ATTEMPTS": "1",
            "SPARK_GRAFT_BENCH_QUIET_WAIT": "0",
            "SPARK_GRAFT_BENCH_RUNS": str(runs),
            "SPARK_GRAFT_CPUS": cpus,
        }
    )
    t0 = time.monotonic()
    r = subprocess.run(
        [sys.executable, "bench.py"],
        cwd=side_dir,
        env=env,
        capture_output=True,
        text=True,
    )
    wall = round(time.monotonic() - t0, 1)
    last = None
    extras: dict = {}
    for line in r.stdout.splitlines():
        line = line.strip()
        if line.startswith("{"):
            try:
                parsed = json.loads(line)
            except ValueError:
                continue
            if parsed.get("metric") == "headline_queries_total_sec":
                last = parsed
            elif parsed.get("artifact") == "bench_attempts":
                extras = parsed.get("extras", {})
    if last is None:
        raise SystemExit(
            f"ab_bench: bench in {side_dir} produced no final line "
            f"(rc {r.returncode}):\n{r.stderr[-2000:]}"
        )
    per_key = dict(last.get("queries", {}))
    per_key.update(extras)
    return {
        "per_key": per_key,
        "canary_best": last.get("canary_best"),
        "wall_sec": wall,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--ref", required=True, help="pinned baseline git ref (side B)")
    ap.add_argument("--keys", required=True, help="comma list of bench keys")
    ap.add_argument("--pairs", type=int, default=3)
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument(
        "--cpus-a", default=os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
    )
    ap.add_argument("--cpus-b", default=None, help="default: same as --cpus-a")
    ap.add_argument("--out", default=None, help="JSON result sidecar path")
    args = ap.parse_args()
    cpus_b = args.cpus_b or args.cpus_a

    wt = _ensure_worktree(args.ref)
    sides = {"A": (REPO, args.cpus_a), "B": (wt, cpus_b)}
    samples: dict[str, list[dict]] = {"A": [], "B": []}
    order_log = []
    for p in range(args.pairs):
        # ABBA: even pairs run A first, odd pairs B first — a linear
        # host-load drift then biases each side equally often
        order = ("A", "B") if p % 2 == 0 else ("B", "A")
        for side in order:
            d, cpus = sides[side]
            res = _bench_once(d, args.keys, cpus, args.runs)
            samples[side].append(res)
            order_log.append(side)
            print(
                f"# pair {p} side {side}: "
                + ", ".join(f"{k}={v}" for k, v in sorted(res["per_key"].items()))
                + f" (canary {res['canary_best']})",
                file=sys.stderr,
            )

    keys = sorted(samples["A"][0]["per_key"])
    report = {}
    for k in keys:
        a = [s["per_key"][k] for s in samples["A"] if k in s["per_key"]]
        b = [s["per_key"][k] for s in samples["B"] if k in s["per_key"]]
        pairs_ratio = [round(y / x, 3) for x, y in zip(a, b) if x > 0]
        report[k] = {
            "head_runs": a,
            "ref_runs": b,
            "head_min": min(a),
            "ref_min": min(b),
            "speedup_min": round(min(b) / min(a), 3) if min(a) > 0 else None,
            "speedup_median_of_pairs": (
                round(statistics.median(pairs_ratio), 3) if pairs_ratio else None
            ),
        }
    out = {
        "artifact": "ab_bench",
        "ref": args.ref,
        "keys": keys,
        "pairs": args.pairs,
        "runs_per_invocation": args.runs,
        "cpus": {"A": args.cpus_a, "B": cpus_b},
        "order": order_log,
        "canary_best": {
            s: min(x["canary_best"] for x in samples[s]) for s in ("A", "B")
        },
        "per_key": report,
    }
    line = json.dumps(out)
    print(line)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(out, f, indent=1)


if __name__ == "__main__":
    main()
