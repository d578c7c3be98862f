"""Build the --py-files artifact: dist/mopper_spark.zip.

Usage: python scripts/make_pyfiles.py [OUT]  →  OUT (default dist/mopper_spark.zip)
Ship with:  spark-submit --py-files dist/mopper_spark.zip jobs/kg_job.py …
"""

import os
import sys
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def build(out: str | None = None) -> str:
    out = out or os.path.join(ROOT, "dist", "mopper_spark.zip")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    pkg = os.path.join(ROOT, "mopper_spark")
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as z:
        for dirpath, _dirnames, filenames in os.walk(pkg):
            if "__pycache__" in dirpath:
                continue
            for fn in filenames:
                if fn.endswith(".py"):
                    full = os.path.join(dirpath, fn)
                    z.write(full, os.path.relpath(full, ROOT))
    return out


if __name__ == "__main__":
    print(build(sys.argv[1] if len(sys.argv) > 1 else None))
