"""tools/ab.py runs each side in a child that imports that side's
package and this checkout's measurement protocol. No Spark needed."""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))

import ab  # noqa: E402


def test_base_child_imports_the_package_from_the_base_tree(tmp_path):
    # a base tree whose package announces where it was imported from;
    # the child runs in this checkout, whose own package is importable
    pkg = tmp_path / "project_orbit_spark"
    pkg.mkdir()
    (pkg / "__init__.py").write_text("import sys\nprint(__file__)\nsys.exit(3)\n")
    proc = subprocess.run(
        ab.child_argv(tmp_path, "/nonexistent", 1, ["q1_pricing_summary"]),
        capture_output=True, text=True, cwd=ab.REPO, timeout=120,
    )
    assert proc.returncode == 3, proc.stderr
    assert proc.stdout.strip() == str(pkg / "__init__.py")


def test_spread_is_median_and_quartiles():
    assert ab.spread([2.0]) == (2.0, 2.0, 2.0)
    assert ab.spread([1.0, 2.0, 3.0, 4.0, 5.0]) == (3.0, 2.0, 4.0)
