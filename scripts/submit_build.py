#!/usr/bin/env python
"""Package ckg_spark and launch the build through ``spark-submit
--py-files`` — the cluster deployment path of the north rule, exercised
end-to-end in the sandbox against ``local[N]``.

    python scripts/submit_build.py --pages <parquet> --warehouse <dir> [--master local[8]]
"""

from __future__ import annotations

import argparse
import os
import shutil
import subprocess
import sys
import tempfile
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from ckg_spark.session import JVM_OPTIONS  # noqa: E402

DEFAULT_MASTER = f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]"


def build_zip(dest_dir: str) -> str:
    """Zip the ckg_spark package (plus its YAML catalog data file)."""
    zip_path = os.path.join(dest_dir, "ckg_spark.zip")
    pkg = os.path.join(REPO, "ckg_spark")
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as z:
        for dirpath, _dirs, files in os.walk(pkg):
            if "__pycache__" in dirpath:
                continue
            for name in files:
                if name.endswith((".py", ".yml")):
                    full = os.path.join(dirpath, name)
                    z.write(full, os.path.relpath(full, REPO))
    return zip_path


def submit(job_script: str, job_args: list[str], master: str) -> int:
    """Zip the package into a temp dir and run ``scripts/<job_script>``
    through ``spark-submit --py-files``; returns the exit code."""
    spark_submit = shutil.which("spark-submit") or os.path.join(
        os.path.dirname(sys.executable), "spark-submit"
    )
    zip_path = build_zip(tempfile.mkdtemp(prefix="ckg_submit_"))
    cmd = [
        spark_submit,
        "--master", master,
        "--conf", "spark.sql.adaptive.enabled=true",
        "--conf", "spark.sql.execution.arrow.pyspark.enabled=true",
        "--conf", f"spark.driver.defaultJavaOptions={JVM_OPTIONS}",
        "--conf", f"spark.executor.defaultJavaOptions={JVM_OPTIONS}",
        "--py-files", zip_path,
        os.path.join(REPO, "scripts", job_script),
        *job_args,
    ]
    return subprocess.run(cmd).returncode


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", required=True)
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--master", default=DEFAULT_MASTER)
    ap.add_argument("--terms-per-type", type=int, default=60)
    ap.add_argument("--export-dir", default=None)
    args = ap.parse_args()

    job_args = [
        "--pages", args.pages,
        "--warehouse", args.warehouse,
        "--terms-per-type", str(args.terms_per_type),
    ]
    if args.export_dir:
        job_args += ["--export-dir", args.export_dir]
    raise SystemExit(submit("build_job.py", job_args, args.master))


if __name__ == "__main__":
    main()
