"""Build the --py-files archive for spark-submit deployment
(BASELINE.json north_star: `spark-submit --py-files engine.zip job.py`).

    python scripts/package.py [out.zip]
    spark-submit --py-files dist/ocrd_calamari_spark.zip \
        ocrd_calamari_spark/job.py --source iceberg:crawl.db.pages ...
"""

import os
import sys
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def build(out_path: str) -> str:
    os.makedirs(os.path.dirname(out_path) or ".", exist_ok=True)
    pkg = os.path.join(ROOT, "ocrd_calamari_spark")
    with zipfile.ZipFile(out_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for dirpath, _dirnames, filenames in os.walk(pkg):
            if "__pycache__" in dirpath:
                continue
            for name in sorted(filenames):
                # kernel/_segment.c rides along: executors compile it on
                # first use (kernel/native.py)
                if not name.endswith((".py", ".c")):
                    continue
                full = os.path.join(dirpath, name)
                zf.write(full, os.path.relpath(full, ROOT))
    return out_path


if __name__ == "__main__":
    out = sys.argv[1] if len(sys.argv) > 1 else os.path.join(ROOT, "dist", "ocrd_calamari_spark.zip")
    print(build(out))
