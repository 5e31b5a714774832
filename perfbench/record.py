"""Re-record ``expected.json`` (after a deliberate output change):

    python3 perfbench/record.py           # check oracles, record fingerprints
    python3 perfbench/record.py --selftest  # fingerprint and ledger self-tests

Both run in the same isolated environment as a benchmark run.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

from run import HERE, WORK, data_dir, isolated_env

if __name__ == "__main__":
    mode = "selftest" if "--selftest" in sys.argv[1:] else "record"
    run_dir = os.path.join(WORK, f"{mode}-{os.getpid()}")
    try:
        code = subprocess.call(
            [sys.executable, os.path.join(HERE, "worker.py"), mode, data_dir(),
             os.path.join(HERE, "expected.json")],
            env=isolated_env(run_dir),
            cwd=run_dir,
        )
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    sys.exit(code)
