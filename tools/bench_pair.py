"""Paired A/B crawl benchmark between two git refs — the noise-robust
design for THIS host, where gating failed three different ways:

- loadavg gates miss kernel-time storms entirely (storms never move it);
- child-rusage sys-fraction gates measure the python half only (the JVM
  reparents on exit and escapes RUSAGE_CHILDREN) and flag every trial;
- host /proc/stat system-share thresholds mislabel both directions
  (a 156s degraded trial at 0.054 passed; walls of 37-157s appear at
  overlapping shares) because the share depends on WHICH phase of the
  trial a storm overlapped, not just whether one happened.

So: no gates, no thresholds, no discarding. Each round runs both refs
BACK-TO-BACK (alternating order across rounds to kill order bias) so the
two walls sample nearby host states, and the estimator is the MEDIAN
within-pair wall ratio — robust to any symmetric noise process and to a
minority of asymmetric hits (a storm landing inside exactly one pair
member). Telemetry (host system share, loadavg) is still recorded per
trial for post-hoc reading, it just doesn't gate anything.

Usage:
    python tools/bench_pair.py <refA> <refB> [pairs] [outfile]
refs are git refs ('.' = current working tree), optionally suffixed with
'?KEY=V&KEY2=V2' to inject env vars for that variant only — this turns the
harness into a paired bisection tool (same tree, one knob flipped), e.g.
    python tools/bench_pair.py '.' '.?SPARK_GRAFT_SHUFFLE_PARTITIONS=32' 6 width.json
Writes BENCH/ab_pairs.json unless outfile is given. To attribute a spiked
wall to an epoch step, trace the crawl loop with perfbench/run.py --trace 1.

Env: SPARK_GRAFT_AB_PAGES (default 20000), SPARK_GRAFT_AB_CPUS (default 8).
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
N_PAGES = int(os.environ.get("SPARK_GRAFT_AB_PAGES", "20000"))
CPUS = int(os.environ.get("SPARK_GRAFT_AB_CPUS", "8"))


def _stat_jiffies() -> tuple[int, int]:
    vals = [int(x) for x in open("/proc/stat").readline().split()[1:]]
    return vals[2] + vals[5] + vals[6], sum(vals)


def _load1() -> float:
    return float(open("/proc/loadavg").read().split()[0])


def parse_variant(spec: str) -> tuple[str, dict[str, str]]:
    """'ref?K=V&K2=V2' -> (ref, {K: V, K2: V2}); plain refs pass through."""
    if "?" not in spec:
        return spec, {}
    ref, qs = spec.split("?", 1)
    return ref, dict(kv.split("=", 1) for kv in qs.split("&") if kv)


def workdir_for(ref: str) -> str:
    if ref == ".":
        return REPO
    path = f"/tmp/ab_wt_{ref.replace('/', '_')}"
    if not os.path.exists(os.path.join(path, "bench.py")):
        subprocess.run(
            ["git", "worktree", "add", "--force", path, ref],
            cwd=REPO, check=True, capture_output=True,
        )
    return path


def run_once(spec: str, ref: str, extra_env: dict[str, str], cwd: str) -> dict:
    env = dict(
        os.environ,
        SPARK_GRAFT_BENCH_MODE="crawl",
        SPARK_GRAFT_CRAWL_PAGES=str(N_PAGES),
        SPARK_GRAFT_CPUS=str(CPUS),
        SPARK_GRAFT_BENCH_MAX_LOAD="9999",  # pairs replace gating
        **extra_env,
    )
    j0, load0 = _stat_jiffies(), _load1()
    out = subprocess.run(
        [sys.executable, "bench.py"], capture_output=True, text=True,
        env=env, cwd=cwd,
    )
    lines = out.stdout.strip().splitlines()
    crawl = json.loads(lines[-1])["crawl"]
    j1 = _stat_jiffies()
    return {
        "ref": spec,
        "crawl_sec": crawl["crawl_sec"],
        "init_sec": crawl["init_sec"],
        "pages_per_sec": crawl["pages_per_sec"],
        "load_before": load0,
        "host_sys_share": round((j1[0] - j0[0]) / max(j1[1] - j0[1], 1), 3),
    }


def main() -> None:
    ref_a, ref_b = sys.argv[1], sys.argv[2]
    pairs = int(sys.argv[3]) if len(sys.argv) > 3 else 8
    outfile = sys.argv[4] if len(sys.argv) > 4 else "ab_pairs.json"
    variants = {s: parse_variant(s) for s in (ref_a, ref_b)}
    dirs = {s: workdir_for(variants[s][0]) for s in (ref_a, ref_b)}
    out_pairs: list[dict] = []
    for i in range(pairs):
        order = (ref_a, ref_b) if i % 2 == 0 else (ref_b, ref_a)
        res = {}
        for spec in order:
            ref, extra_env = variants[spec]
            res[spec] = run_once(spec, ref, extra_env, dirs[spec])
            print(
                f"pair {i} {spec}: {res[spec]['crawl_sec']}s "
                f"host_sys={res[spec]['host_sys_share']}",
                file=sys.stderr, flush=True,
            )
        out_pairs.append({
            "pair": i,
            "order": list(order),
            "trials": [res[ref_a], res[ref_b]],
            "ratio_a_over_b": round(
                res[ref_a]["crawl_sec"] / res[ref_b]["crawl_sec"], 3
            ),
        })
        time.sleep(10)
    ratios = sorted(p["ratio_a_over_b"] for p in out_pairs)
    summary = {
        "pairs": pairs,
        "pages": N_PAGES,
        "cpus": CPUS,
        "median_ratio_a_over_b": statistics.median(ratios),
        "ratios_sorted": ratios,
        "best": {
            r: min(p["trials"][j]["crawl_sec"] for p in out_pairs)
            for j, r in enumerate((ref_a, ref_b))
        },
        "median": {
            r: statistics.median(p["trials"][j]["crawl_sec"] for p in out_pairs)
            for j, r in enumerate((ref_a, ref_b))
        },
    }
    out = {"ref_a": ref_a, "ref_b": ref_b, "summary": summary, "pairs": out_pairs}
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", outfile), "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(summary, indent=1))


if __name__ == "__main__":
    main()
