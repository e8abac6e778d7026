"""``session.get_spark`` without ``SPARK_GRAFT_CPUS``: one task slot per
usable core, whatever the machine."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

_SCRIPT = textwrap.dedent(
    """
    import sys
    sys.path.insert(0, sys.argv[1])
    from psy_supabase_spark.session import get_spark
    spark = get_spark("default-cores")
    print(spark.sparkContext.defaultParallelism)
    spark.stop()
    """
)


def test_default_master_uses_the_usable_cores(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    out = subprocess.run(
        [sys.executable, "-c", _SCRIPT, str(REPO)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    assert int(out.stdout.strip().splitlines()[-1]) == len(os.sched_getaffinity(0))
