"""`tenant_roundtrip` builds its store in a temp directory that must not
outlive the process (the frame it returns is lazy, so the builder cannot
remove the directory itself)."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

_SCRIPT = textwrap.dedent(
    """
    import glob, os, sys, tempfile
    sys.path.insert(0, sys.argv[1])
    from psy_supabase_spark.queries.tenancy_queries import tenant_roundtrip
    from psy_supabase_spark.session import get_spark
    spark = get_spark("tenant-roundtrip-tmp")
    n = len(tenant_roundtrip(spark, sys.argv[2]).collect())
    live = glob.glob(os.path.join(tempfile.gettempdir(), "tenant_roundtrip_*"))
    print(n, len(live))
    """
)


def test_tenant_roundtrip_leaves_no_temp_dir(tmp_path, sf_dir):
    env = dict(os.environ, TMPDIR=str(tmp_path), SPARK_GRAFT_CPUS="1")
    out = subprocess.run(
        [sys.executable, "-c", _SCRIPT, str(REPO), sf_dir],
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    # three tenant rows, read from the one store directory while it lived
    assert out.stdout.split() == ["3", "1"]
    assert list(tmp_path.glob("tenant_roundtrip_*")) == []
