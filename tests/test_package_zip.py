"""The executor zip ``conf.package_zip()`` builds lives as long as the
process that built it."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_package_zip_removed_at_exit():
    code = (
        "import os\n"
        "from deepseek_ocr_api_rs_spark.conf import package_zip\n"
        "p = package_zip()\n"
        "assert os.path.getsize(p) > 0\n"
        "print(p)\n"
    )
    env = dict(os.environ, PYTHONPATH=REPO)
    r = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, timeout=120, env=env
    )
    assert r.returncode == 0, r.stderr[-2000:]
    path = r.stdout.strip().splitlines()[-1]
    assert path.endswith(".zip")
    assert not os.path.exists(path)
