"""The benchmark's own test: per-layer counts that must repeat exactly.

Runs every workload twice, traced, with one seed, and fails if a count
listed in EXACT differs between the two runs (or is missing), or if the
Spark jobs of any query or refresh cycle both runs made differ.

    python3 perfbench/test_exact_counts.py [--seed 7] [--seconds 5]
"""
import argparse
import json
import subprocess
import sys
from collections import Counter, defaultdict
from pathlib import Path

BENCH = Path(__file__).resolve().parent
RUN = BENCH / "run.py"
sys.dont_write_bytecode = True
sys.path.insert(0, str(BENCH))
import build  # noqa: E402

# Counts that do not depend on timing: the same seed gives the same
# inputs, the same plans and the same bytes. README.md lists them too.
# Window averages such as search_dist's `spark.jobs` are not here: how many
# queries a window holds depends on the host's speed, and not every query
# starts the same number of jobs, so they are compared query by query.
EXACT = {
    "search_local": ["spark.jobs", "search.jobs_per_query",
                     "index.docids.jobs", "index.segments.output_mb"],
    "search_dist": ["index.docids.jobs", "index.segments.output_mb"],
    "refresh": [],
}
# Spans whose Spark jobs are counted one by one, in the order they ran.
PER_REQUEST = ("query", "cycle")


def run(workload: str, seed: int, seconds: int) -> tuple:
    out = subprocess.run(
        [sys.executable, str(RUN), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "1"],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, check=True)
    metrics = json.loads(out.stdout.strip().splitlines()[-1])["metrics"]
    trace = build.out_dir() / "traces" / f"{workload}-seed{seed}.json"
    return metrics, per_request(json.loads(trace.read_text()))


def per_request(trace: dict) -> dict:
    """Span name -> Spark jobs under each span of that name, in order."""
    kids = defaultdict(list)
    for s in trace["spans"]:
        kids[s["parent"]].append(s["id"])
    own = Counter(j["span"] for j in trace["jobs"])

    def under(i: int) -> int:
        return own[i] + sum(under(k) for k in kids[i])

    return {name: [under(s["id"]) for s in trace["spans"] if s["name"] == name]
            for name in PER_REQUEST}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--seconds", type=int, default=5)
    a = ap.parse_args()
    bad = 0
    for w, names in EXACT.items():
        (m1, r1), (m2, r2) = run(w, a.seed, a.seconds), run(w, a.seed, a.seconds)
        for n in names:
            x, y = m1.get(n, {}).get("value"), m2.get(n, {}).get("value")
            ok = x is not None and x == y
            bad += not ok
            print(f"{'ok  ' if ok else 'FAIL'} {w:13s} {n:34s} {x} {y}")
        for n in PER_REQUEST:
            k = min(len(r1[n]), len(r2[n]))
            if k == 0:
                continue
            diff = [i for i in range(k) if r1[n][i] != r2[n][i]]
            bad += bool(diff)
            print(f"{'FAIL' if diff else 'ok  '} {w:13s} {'jobs per ' + n:34s} "
                  f"{k} compared, {sum(r1[n][:k])} jobs"
                  + (f", first differs at #{diff[0]}" if diff else ""))
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
