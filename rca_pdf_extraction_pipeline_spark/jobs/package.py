"""Build the ``--py-files`` payload the job docstrings reference:

    python -m rca_pdf_extraction_pipeline_spark.jobs.package \\
        [--output rca_pkg.zip]

Zips this package (via :func:`..session.package_zip` — the same
artifact ``ship_package`` adds to a non-local session) and prints the
path; with ``--output`` the zip is copied there.  The printed path plugs straight
into ``spark-submit --py-files``."""

from __future__ import annotations

import argparse
import shutil
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="Build --py-files zip")
    ap.add_argument("--output", default=None)
    args = ap.parse_args(argv)

    from ..session import package_zip
    zip_path = package_zip()
    if zip_path is None:
        print("package already running from a zip payload", file=sys.stderr)
        return 1
    if args.output:
        shutil.copy(zip_path, args.output)
        zip_path = args.output
    print(zip_path)
    return 0


if __name__ == "__main__":
    sys.exit(main())
