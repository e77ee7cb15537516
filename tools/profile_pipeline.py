"""Stage-by-stage wall-time profile of the pages→triples pipeline.

Usage: python tools/profile_pipeline.py [n_pages] [cpus]
Prints wall seconds per incremental stage (the Arrow emit stage, then
the whole build_triples: emit + the dedup and A2 genre stage) so
regressions can be located.
"""
from __future__ import annotations

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N = int(sys.argv[1]) if len(sys.argv) > 1 else 20000
CPUS = int(sys.argv[2]) if len(sys.argv) > 2 else 32


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def main():
    from psyndex2linkeddata_spark.datagen.pages import write_pages_parquet
    from psyndex2linkeddata_spark.emit.arrow import emit_triples_arrow
    from psyndex2linkeddata_spark.plans.pipeline import build_triples
    from psyndex2linkeddata_spark.session import get_spark

    spark = get_spark(
        app_name="profile",
        master=f"local[{CPUS}]",
        extra_conf={
            "spark.sql.files.maxPartitionBytes": str(512 * 1024),
            "spark.sql.files.openCostInBytes": str(64 * 1024),
        },
    )
    d = tempfile.mkdtemp(prefix="prof_pages_")
    path = os.path.join(d, "pages.parquet")
    t0 = time.time()
    write_pages_parquet(path, N)
    print(f"datagen: {time.time()-t0:.1f}s", flush=True)
    pages = spark.read.parquet(path).repartition(CPUS * 3)

    # warm-up (construction + codegen)
    t0 = time.time()
    noop(build_triples(pages.limit(32)))
    print(f"warmup(32): {time.time()-t0:.1f}s", flush=True)

    t0 = time.time()
    noop(emit_triples_arrow(pages))
    print(f"emit: {time.time()-t0:.1f}s", flush=True)

    # the whole pipeline, warm
    t0 = time.time()
    noop(build_triples(pages))
    print(f"build_triples: {time.time()-t0:.1f}s", flush=True)
    spark.catalog.clearCache()


if __name__ == "__main__":
    main()
