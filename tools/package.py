"""Build dist/nfx.zip for ``spark-submit --py-files`` (north rule: jobs
run via spark-submit --py-files on a multi-executor cluster). The zip is
a build output, not tracked: rebuild it from the source tree."""

from __future__ import annotations

import os
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "nuclei_feature_extraction_spark"


def main(out_dir: str = os.path.join(REPO, "dist")) -> str:
    """Write ``nfx.zip`` (every package .py file) into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    out = os.path.join(out_dir, "nfx.zip")
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, _, files in os.walk(os.path.join(REPO, PKG)):
            if "__pycache__" in root:
                continue
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    zf.write(full, os.path.relpath(full, REPO))
    print(out)
    return out


if __name__ == "__main__":
    main()
