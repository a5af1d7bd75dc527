#!/usr/bin/env python
"""spark-submit entry point for the flagship catalog build.

Cluster launch (the north rule's deployment shape):

    zip -r engine.zip stac_catalog_builder_spark
    spark-submit --py-files engine.zip jobs/flagship_job.py \\
        --input /root/testdata/sf0.1 --output /tmp/catalog_out \\
        [--zoom 6] [--replicate 1]

Local smoke: ``python jobs/flagship_job.py --input /root/testdata/sf0.001
--output /tmp/catalog_out``. Re-running with the same output resumes from the
checkpoint's commit table (committed partitions are anti-joined away).
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--zoom", type=int, default=6)
    ap.add_argument("--replicate", type=int, default=1)
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from stac_catalog_builder_spark.plans.flagship import build_catalog
    from stac_catalog_builder_spark.session import get_spark

    spark = get_spark(app="scb-flagship", master=args.master)
    t0 = time.time()
    result = build_catalog(
        spark, args.input, out_dir=args.output, zoom=args.zoom,
        replicate=args.replicate,
    )
    n_assigned = result["assigned"].count()
    print(
        json.dumps(
            {
                "n_assigned": n_assigned,
                "wall_sec": round(time.time() - t0, 2),
                "output": args.output,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
