"""Same-session A/B bench: adjudicate cross-round perf suspects.

CLAUDE.md rule: bench absolute numbers drift ~10% across hours and ±12%
run-to-run on identical code — never conclude a regression from
cross-round absolute comparisons. This tool runs the SAME queries from
two checkouts (e.g. a git worktree of an old commit vs HEAD) in ONE
terminal session, alternating A/B/A/B so ambient drift hits both sides
equally. Each (side, rep) is its own Spark process (cold, like the
driver's bench); within a process each query runs `inner` times and the
min is kept; across outer reps the min-of-mins per side is compared.

Each side's process runs with its checkout as the working directory:
Python workers import the package from the driver's working directory
first, so a shared working directory would run one side's worker-side
code (every mapInPandas kernel) on both sides.

Usage:
  python tools/bench_ab.py --a ../old --b . \
      --queries knn_cosine_pq,corpus_segment_dedup --outer 3 --inner 3

Prints one JSON line: per-query {a, b, ratio_b_over_a} on the min basis.
Set up the A side with: git clone . ../old && git -C ../old checkout <commit>.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

_RUNNER = r"""
import json, os, sys, time
sys.path.insert(0, sys.argv[1])
names = sys.argv[2].split(",")
inner = int(sys.argv[3])
sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
from node_mongo2influx_spark.engine import Engine
from node_mongo2influx_spark.plans import load_registry
eng = Engine.builder(app_name="bench-ab",
                     master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
spark = eng.spark
spark.sparkContext.setLogLevel("ERROR")
reg = load_registry()
# same warmup as bench.py: session + Python/Arrow worker pool
reg["catalog_counts"].fn(spark, sf_dir).collect()
spark.range(32).repartition(32).mapInPandas(
    lambda it: it, schema="id long"
).write.format("noop").mode("overwrite").save()
out = {}
for name in names:
    runs = []
    for _ in range(inner):
        t0 = time.monotonic()
        reg[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        runs.append(time.monotonic() - t0)
    out[name] = round(min(runs), 3)
print("ABRESULT " + json.dumps(out))
"""


def _run_side(repo: str, queries: str, inner: int) -> dict[str, float]:
    repo = os.path.abspath(repo)
    proc = subprocess.run(
        [sys.executable, "-u", "-c", _RUNNER, repo, queries, str(inner)],
        cwd=repo,
        capture_output=True,
        text=True,
        timeout=900,
    )
    for line in proc.stdout.splitlines():
        if line.startswith("ABRESULT "):
            return json.loads(line[len("ABRESULT "):])
    raise RuntimeError(
        f"no ABRESULT from {repo}: rc={proc.returncode}\n"
        f"stdout tail: {proc.stdout[-1000:]}\nstderr tail: {proc.stderr[-1000:]}"
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--a", required=True, help="repo path for side A (old)")
    ap.add_argument("--b", required=True, help="repo path for side B (new)")
    ap.add_argument("--queries", required=True, help="comma-separated names")
    ap.add_argument("--outer", type=int, default=3, help="alternating rounds")
    ap.add_argument("--inner", type=int, default=3, help="reps per process")
    args = ap.parse_args()

    acc: dict[str, dict[str, list[float]]] = {}
    for rnd in range(args.outer):
        for side, repo in (("a", args.a), ("b", args.b)):
            res = _run_side(repo, args.queries, args.inner)
            for name, sec in res.items():
                acc.setdefault(name, {"a": [], "b": []})[side].append(sec)
            print(f"# round {rnd} side {side}: {res}", file=sys.stderr)

    report = {}
    for name, sides in acc.items():
        a, b = min(sides["a"]), min(sides["b"])
        report[name] = {
            "a_min": a,
            "b_min": b,
            "ratio_b_over_a": round(b / a, 3),
            "a_runs": sides["a"],
            "b_runs": sides["b"],
        }
    print(json.dumps({"ab": report, "outer": args.outer, "inner": args.inner}))


if __name__ == "__main__":
    main()
