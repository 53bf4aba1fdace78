"""Session factory: Python workers find the package wherever the driver
was launched from."""

import os
import subprocess
import sys
import textwrap
from pathlib import Path

REPO = str(Path(__file__).resolve().parent.parent)


def test_workers_import_package_from_any_cwd(tmp_path):
    """Launched from ``/`` with PYTHONPATH unset and the repo only on the
    driver's sys.path, a one-task mapInArrow job (which needs the
    ``golucene_spark.daemon`` worker module) still runs."""
    code = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from golucene_spark.session import get_spark

        spark = get_spark(master="local[1]", shuffle_partitions=1,
                          extra_conf={{"spark.ui.showConsoleProgress": "false"}})

        def one(batches):
            for b in batches:
                yield b

        print("rows", spark.range(1, numPartitions=1).mapInArrow(one, "id long").count())
        spark.stop()
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_DRIVER_MEM="1g", SPARK_LOCAL_DIRS=str(tmp_path))
    out = subprocess.run([sys.executable, "-c", code], cwd="/", env=env,
                         capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-3000:]
    assert "rows 1" in out.stdout
