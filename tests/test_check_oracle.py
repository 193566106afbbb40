"""tools/check_oracle.py must refuse query names it does not know: before
the check existed, an all-unknown name list skipped every query and still
printed "all queries match" with exit 0."""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_unknown_query_names_exit_nonzero_before_spark(tmp_path):
    env = dict(os.environ)
    # a JVM start would fail here with a different exit code, so exit 2
    # proves the names were rejected before Spark came up
    env["JAVA_HOME"] = str(tmp_path / "no-java")
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"),
         "extract_route_counts", "latest_capture_semi", "no_such_query"],
        capture_output=True, text=True, cwd=str(tmp_path), env=env,
        timeout=120,
    )
    assert proc.returncode == 2, proc.stderr[-2000:]
    assert proc.stderr.strip() == (
        "unknown query names: latest_capture_semi no_such_query")
    assert "all queries match" not in proc.stdout
