"""The skosify job: Skosify-style vocabulary hygiene as a CLI, the
engine's replacement for the reference workflow's external
``skosify apa_thes.ttl -o apa_thes_skosified.ttl`` step
(other_conversions/terms_conversion/terms-conversion.ipynb).

Usage (local test):
    python -m psyndex2linkeddata_spark.jobs.skosify \
        --in vocab.ttl --out skosified.ttl [--parquet] [--max-iter 30]

`--in` accepts a Turtle file (driver-side parse — vocabularies are
dimension tables) or, with `--parquet`, a triples-schema parquet path
for vocabularies already in the warehouse. The output is a Turtle file
by default (single file, like the tool it replaces) or parquet with
`--out-parquet`.

On a cluster the same file goes through spark-submit with the package
zip on --py-files; the hygiene pass itself (plans/skos.py) is a
declarative plan — hierarchy closure, related-repair anti-join,
top-concept marking — gated byte-exact against the reference's own
checked-in skosify run (tests/test_skosify_refexec.py).
"""

from __future__ import annotations

import argparse


def main(argv=None) -> None:
    from psyndex2linkeddata_spark.plans.skos import skosify_hygiene
    from psyndex2linkeddata_spark.session import get_spark
    from psyndex2linkeddata_spark.sources.export import write_turtle
    from psyndex2linkeddata_spark.sources.turtle import read_turtle

    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--in", dest="inp", required=True,
                    help="vocabulary Turtle file (or parquet with --parquet)")
    ap.add_argument("--out", required=True, help="output path")
    ap.add_argument("--parquet", action="store_true",
                    help="read --in as triples-schema parquet")
    ap.add_argument("--out-parquet", action="store_true",
                    help="write parquet instead of Turtle")
    ap.add_argument("--max-iter", type=int, default=30,
                    help="hierarchy-closure round bound (raises if the "
                         "vocabulary is deeper)")
    args = ap.parse_args(argv)

    spark = get_spark(app_name="skosify")
    vocab = (
        spark.read.parquet(args.inp)
        if args.parquet
        else read_turtle(spark, args.inp)
    )
    repaired = skosify_hygiene(vocab, max_iter=args.max_iter)
    if args.out_parquet:
        repaired.write.mode("overwrite").parquet(args.out)
    else:
        # the Spark text sink writes a directory; the CLI contract (like
        # the skosify tool it replaces) is one plain .ttl file
        import tempfile

        from psyndex2linkeddata_spark.sources.export import move_single_part

        d = tempfile.mkdtemp(prefix="skosify_out_")
        write_turtle(repaired, d, single_file=True)
        move_single_part(d, args.out)
    n_in, n_out = vocab.count(), repaired.count()
    print(f"skosify: {n_in} -> {n_out} triples -> {args.out}")


if __name__ == "__main__":
    main()
