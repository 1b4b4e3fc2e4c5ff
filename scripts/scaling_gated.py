"""Load-gated scaling trials (round-6 protocol, matching rounds 3-5).

The sandbox host is multi-tenant and this round it is NOISY: the
IDENTICAL 1M-row redaction job measured 1.8 s and 64.8 s minutes
apart, /proc/loadavg sat at 12-16 while zero local processes ran, and
/proc/stat accrued steal — co-tenant contention, not engine behaviour.
A raw N-vs-4N pair under that noise measures the neighbours, so the
round-5 protocol is kept and hardened:

- widths 2 vs 8 (N vs 4N) — narrow widths are far less exposed to
  bursty co-tenant steal than 8-vs-32;
- `run_once(cached=False)`: the scan stage synthesizes rows in
  whole-stage codegen (per-core arithmetic), the sandbox stand-in for
  a cluster's executor-local parquet decode;
- fresh SUBPROCESS per width (fresh JVM; no JIT/heap carryover);
- 1-min loadavg gate before each width; a trial whose gate never
  opens is skipped and said so;
- every trial is reported — the median is the headline, no
  cherry-picking.

Usage: python scripts/scaling_gated.py [n_docs] [job] [trials] [w1] [w2]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

LOAD_GATE = 1.5
GATE_TIMEOUT_S = 900
GATE_POLL_S = 20


def load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def wait_gate(tag: str) -> bool:
    t0 = time.time()
    while time.time() - t0 < GATE_TIMEOUT_S:
        l = load1()
        if l < LOAD_GATE:
            return True
        print(f"# gate {tag}: load {l:.2f} >= {LOAD_GATE}, waiting", flush=True)
        time.sleep(GATE_POLL_S)
    return False


def run_width(job: str, cpus: int, n_docs: int) -> dict | None:
    code = (
        "import sys, json; sys.path.insert(0, {r!r}); sys.path.insert(0, {s!r});\n"
        "import scaling_bench as sb\n"
        "fn = dict(pip=sb.run_once, knn=sb.run_once_knn)[{j!r}]\n"
        "kw = dict(cached=False) if {j!r} == 'pip' else dict()\n"
        "print('RESULT ' + json.dumps(fn({c}, {n}, **kw)))\n"
    ).format(r=REPO, s=os.path.join(REPO, "scripts"), j=job, c=cpus, n=n_docs)
    try:
        p = subprocess.run([sys.executable, "-c", code], capture_output=True, text=True, timeout=1800)
    except subprocess.TimeoutExpired:
        print(f"# width {cpus} subprocess exceeded 1800s (storm), sample dropped", flush=True)
        return None
    for line in p.stdout.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT "):])
    print(f"# width {cpus} subprocess failed rc={p.returncode}: {p.stderr[-500:]}", flush=True)
    return None


def run_width_best(job: str, cpus: int, n_docs: int, repeats: int, tag: str) -> dict | None:
    """Gate + run up to ``repeats`` times; keep the best (min-wall)
    sample. Identical work every time (outputs are asserted equal by
    the runners), so the minimum is the noise-robust estimator of the
    plan's cost under bursty co-tenant steal — a storm can only ADD
    time. All samples are recorded in the result."""
    samples = []
    best = None
    for i in range(repeats):
        if not wait_gate(f"{tag}/rep{i}"):
            print(f"# {tag}: gate never opened for repeat {i}", flush=True)
            break
        pre = load1()
        r = run_width(job, cpus, n_docs)
        if r is None:
            continue
        r["load_pre"] = pre
        samples.append(r["wall_sec"])
        if best is None or r["wall_sec"] < best["wall_sec"]:
            best = r
        print(f"# {tag}: rep {i} wall {r['wall_sec']}s (load_pre {pre:.2f})", flush=True)
    if best is not None:
        best["wall_samples"] = samples
    return best


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 1_600_000_000
    job = sys.argv[2] if len(sys.argv) > 2 else "pip"
    trials = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    w1 = int(sys.argv[4]) if len(sys.argv) > 4 else 2
    w2 = int(sys.argv[5]) if len(sys.argv) > 5 else 8
    repeats = int(sys.argv[6]) if len(sys.argv) > 6 else 2
    ratio = w2 / w1
    results = []
    for t in range(trials):
        pair = {}
        for cpus in (w1, w2):
            r = run_width_best(job, cpus, n_docs, repeats, f"trial{t}/w{cpus}")
            if r is None:
                pair = None
                break
            pair[cpus] = r
        if not pair:
            continue
        eff = (pair[w2]["docs_per_sec"] / pair[w1]["docs_per_sec"]) / ratio
        rec = {"trial": t, "job": job, f"w{w1}": pair[w1], f"w{w2}": pair[w2],
               "scaling_efficiency": round(eff, 3)}
        results.append(rec)
        print(json.dumps(rec), flush=True)
    if results:
        effs = sorted(r["scaling_efficiency"] for r in results)
        med = effs[len(effs) // 2] if len(effs) % 2 else round((effs[len(effs)//2 - 1] + effs[len(effs)//2]) / 2, 3)
        print(json.dumps({"job": job, "n_docs": n_docs, "widths": [w1, w2],
                          "trials_run": len(results), "efficiencies": effs,
                          "median_efficiency": med}), flush=True)


if __name__ == "__main__":
    main()
