"""Per-query driver simulation: run each named query in its OWN fresh
python subprocess with a vanilla SparkSession (the CORRECTNESS harness
mode — no engine session factory, no conf inherited from a previous
query). Catches per-process issues that a shared-session parity run
masks: runtime-conf dependencies, closure pickling, cwd sensitivity.

Usage: python tools/driver_sim.py [sf_dir] [query ...]
Defaults: sf0.01, the _DRIVER_PRIORITY list and the changed-path pins
(the first-50 sample head).
"""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

_SNIPPET = """
import sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[8]")
         .config("spark.sql.shuffle.partitions", "8")
         .config("spark.ui.enabled", "false")
         .getOrCreate())
import __spark_entry__ as e
qs = e.queries()
if {name!r} in qs:
    fn = qs[{name!r}]
else:
    # explicitly-named non-driver query (driver=False): resolve through
    # the full registry so deferred/bench-only queries stay simulatable
    from project_orbit_spark.registry import get_query
    fn = get_query({name!r}).fn
rows = fn(spark, {sf_dir!r}).collect()
print("DRIVER_SIM_OK", {name!r}, len(rows))
"""


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    if len(sys.argv) > 2:
        names = sys.argv[2:]
    else:
        from project_orbit_spark.registry import (
            _DRIVER_PRIORITY,
            _DRIVER_PRIORITY_CHANGED,
        )

        names = [*_DRIVER_PRIORITY, *_DRIVER_PRIORITY_CHANGED]
    failed = []
    for name in names:
        code = _SNIPPET.format(repo=str(REPO), name=name, sf_dir=sf_dir)
        try:
            proc = subprocess.run(
                [sys.executable, "-c", code],
                capture_output=True,
                text=True,
                timeout=600,
                cwd="/tmp",
            )
        except subprocess.TimeoutExpired:
            # a hung query is a FAIL row, not a sweep-aborting traceback
            print(f"FAIL {name} (timeout 600s)", flush=True)
            failed.append(name)
            continue
        ok = f"DRIVER_SIM_OK {name}" in proc.stdout
        marker = "ok" if ok else "FAIL"
        line = [ln for ln in proc.stdout.splitlines() if "DRIVER_SIM_OK" in ln]
        print(f"{marker} {name} {line[0].split()[-1] if line else ''}", flush=True)
        if not ok:
            failed.append(name)
            tail = "\n".join(proc.stderr.splitlines()[-12:])
            print(tail, file=sys.stderr, flush=True)
    print(f"{len(names) - len(failed)} ok, {len(failed)} failed"
          + (f": {failed}" if failed else ""))
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
