"""Per-query profiling for optimization passes: isolated timing and
``explain('formatted')`` plan dumps of named catalog queries.

    python3 tools/query_profile.py time [-n REPS] name [name ...]
    python3 tools/query_profile.py plans OUT_DIR SUFFIX [name ...]

``time`` repeats each named query with BOTH actions —

- ``count``: the bench's historical action (cross-round comparable);
- ``noop``:  ``write.format('noop')`` — computes every column of every
  row, immune to count-only plan pruning (the CLAUDE.md caveat that a
  bare count can optimize away row-preserving joins).

Jobs are labeled (``setJobDescription``) so the UI attributes stages.
The first repeat is cold (per session), later repeats reuse whatever
the query's own persist() intermediates cached — both numbers matter
(bench has a cold and a warm pass). Data: ``SPARK_GRAFT_SF_DIR``
(default: the sf0.1 dir beside ``tools/dump_plans.py``'s).

``plans`` writes ``OUT_DIR/<name>_<SUFFIX>.txt`` — the before/after
plan evidence for plan-shape claims. Names default to every
driver-catalog query. Streaming queries execute on construction
(readStream → deltas → batch tail), so their dumped plan is the
corpus-global tail — same caveat as tools/dump_plans.py. Data:
``SPARK_GRAFT_SF_DIR`` (default: ``tools/dump_plans.py``'s sf0.01).

``extra:<name>`` addresses EXTRA_CATALOG in both modes.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dump_plans import SF_DIR as PLANS_SF_DIR  # noqa: E402

#: timing runs at the bench scale, next to the plan-evidence data
TIME_SF_DIR = os.path.join(os.path.dirname(PLANS_SF_DIR), "sf0.1")


def _query(name: str):
    from dask_datapipeline_spark.plans.catalog import CATALOG, EXTRA_CATALOG

    if name.startswith("extra:"):
        return EXTRA_CATALOG[name.removeprefix("extra:")]
    return CATALOG[name]


def _time(reps: int, names: list[str]) -> None:
    from pyspark.sql import functions as F

    from dask_datapipeline_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", TIME_SF_DIR)
    spark = get_spark("profile_time")

    # bench-equivalent warmup: parquet footers + column reads, Python
    # worker pool, one codegen'd decimal shuffle
    import glob as _glob

    for pq in sorted(_glob.glob(os.path.join(sf_dir, "*.parquet"))):
        try:
            df = spark.read.parquet(pq)
            df.agg(
                *[F.count(c).alias(f"c{i}") for i, c in enumerate(df.columns)]
            ).collect()
        except Exception:
            pass
    n_workers = spark.sparkContext.defaultParallelism
    spark.range(n_workers, numPartitions=n_workers).mapInPandas(
        lambda it: it, "id long"
    ).count()
    spark.range(10_000).groupBy((F.col("id") % 7).alias("k")).agg(
        F.sum(F.col("id").cast("decimal(18,2)")).cast("double")
    ).count()

    for name in names:
        qd = _query(name)
        for r in range(reps):
            spark.sparkContext.setJobDescription(f"{name} count rep{r}")
            t0 = time.perf_counter()
            n = qd.fn(spark, sf_dir).count()
            t_count = time.perf_counter() - t0
            spark.sparkContext.setJobDescription(f"{name} noop rep{r}")
            t0 = time.perf_counter()
            qd.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            t_noop = time.perf_counter() - t0
            spark.sparkContext.setJobDescription(None)
            print(
                f"{name} rep{r}: count={t_count:.3f}s noop={t_noop:.3f}s"
                f" rows={n}",
                flush=True,
            )
    spark.stop()


def _plans(out_dir: str, suffix: str, names: list[str]) -> None:
    from dask_datapipeline_spark.plans.catalog import CATALOG
    from dask_datapipeline_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", PLANS_SF_DIR)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("profile_plans")
    for name in names or list(CATALOG):
        df = _query(name).fn(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
            df._jdf.queryExecution(), "formatted"
        )
        fname = name.replace("extra:", "extra_") + f"_{suffix}.txt"
        path = os.path.join(out_dir, fname)
        with open(path, "w") as f:
            f.write(plan.rstrip() + "\n")
        print(f"wrote {path}", file=sys.stderr)
    spark.stop()


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="mode", required=True)
    t = sub.add_parser("time", help="isolated count/noop timing")
    t.add_argument("-n", type=int, default=3, dest="reps", help="repeats")
    t.add_argument("names", nargs="+")
    p = sub.add_parser("plans", help="explain('formatted') dumps")
    p.add_argument("out_dir")
    p.add_argument("suffix")
    p.add_argument("names", nargs="*")
    args = ap.parse_args()
    if args.mode == "time":
        _time(args.reps, args.names)
    else:
        _plans(args.out_dir, args.suffix, args.names)


if __name__ == "__main__":
    main()
