"""Time registered queries on this checkout, or A/B it against a revision.

Usage:
    python tools/ab.py <sf_dir> [--base REV] [--pairs N] [--reps R] query [query ...]

Each run is a fresh child process with one Spark session that imports
its side's ``project_orbit_spark`` and this checkout's ``bench.measure``
(per query: clean session state, prepare hook, one untimed serve, R
timed build+collect runs, job counts). With ``--base`` the revision is
``git archive``d into a temporary directory and N pairs of children run
interleaved, alternating which side goes first, so a drift in the
machine's load lands on both sides. Without it, this checkout runs N
times. Prints, per query and side, the median and q1–q3 of the
per-run medians and the most jobs a timed run took, then in how many
pairs the change was faster.
"""

from __future__ import annotations

import argparse
import io
import json
import statistics
import subprocess
import sys
import tarfile
import tempfile
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

# argv: bench.py, tree, sf_dir, reps, query ... ; bench.py puts this
# checkout on sys.path, so the side's tree goes in front of it after
CHILD = """
import importlib.util, json, sys
bench_py, tree, sf_dir, reps, *names = sys.argv[1:]
spec = importlib.util.spec_from_file_location("bench", bench_py)
bench = importlib.util.module_from_spec(spec)
spec.loader.exec_module(bench)
sys.path.insert(0, tree)
from project_orbit_spark.session import get_spark
spark = get_spark("ab")
spark.sparkContext.setLogLevel("ERROR")
bench.warm_up(spark, sf_dir)
res = bench.measure(spark, sf_dir, names, int(reps))
print(json.dumps({n: [r["median"], r["counts"]["jobs"]] for n, r in res.items()}))
"""


def child_argv(tree: Path, sf_dir: str, reps: int, names: list[str]) -> list[str]:
    return [sys.executable, "-c", CHILD, str(REPO / "bench.py"), str(tree), sf_dir, str(reps), *names]


def run_child(tree: Path, sf_dir: str, reps: int, names: list[str]) -> dict[str, list]:
    """{query: [median_s, jobs]} from one fresh child on ``tree``. The
    child runs in ``tree``: Python workers put their cwd first on their
    path, so a UDF pickled by reference imports the same side's package."""
    out = subprocess.run(
        child_argv(tree, sf_dir, reps, names), stdout=subprocess.PIPE, text=True, check=True, cwd=tree
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def spread(xs: list[float]) -> tuple[float, float, float]:
    """(median, q1, q3)."""
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return med, q1, q3


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("sf_dir")
    ap.add_argument("--base", help="revision to compare this checkout against")
    ap.add_argument("--pairs", type=int, default=3)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("queries", nargs="+")
    a = ap.parse_args(argv)
    if a.pairs < 1 or a.reps < 1:
        ap.error("--pairs and --reps must be >= 1")
    with tempfile.TemporaryDirectory(prefix="ab-base-") as tmp:
        sides = {"change": REPO}
        if a.base:
            tar = subprocess.run(["git", "-C", str(REPO), "archive", a.base], stdout=subprocess.PIPE, check=True)
            tarfile.open(fileobj=io.BytesIO(tar.stdout)).extractall(tmp)
            sides = {"base": Path(tmp), "change": REPO}
        runs: dict[str, list[dict]] = {s: [] for s in sides}
        for i in range(a.pairs):
            for side in list(sides)[:: 1 if i % 2 == 0 else -1]:
                print(f"# pair {i + 1}/{a.pairs}: {side}", file=sys.stderr, flush=True)
                runs[side].append(run_child(sides[side], a.sf_dir, a.reps, a.queries))
    print(f"{'query':<32} {'side':<7} {'median':>8} {'q1-q3':>15} {'jobs':>5}")
    for name in a.queries:
        for side, rs in runs.items():
            med, q1, q3 = spread([r[name][0] for r in rs])
            jobs = max(r[name][1] for r in rs)
            print(f"{name:<32} {side:<7} {med:>8.3f} {f'{q1:.3f}-{q3:.3f}':>15} {jobs:>5}")
        if a.base:
            k = sum(c[name][0] < b[name][0] for b, c in zip(runs["base"], runs["change"]))
            print(f"{name:<32} change faster in {k}/{a.pairs} pairs")


if __name__ == "__main__":
    main()
