"""Command-line entry point — the engine's analogue of the
reference's two run surfaces (`python main.py` batch ingestion and
`dbt run` transformation; SURVEY.md §3.1-3.2):

    python -m gmt_dbt_spark ingest  <src_dir> <warehouse_dir>
    python -m gmt_dbt_spark run     <models_dir> <warehouse_dir> [--sf-dir D]
    python -m gmt_dbt_spark bench
    python -m gmt_dbt_spark selfcheck [--sf-dir D] [query ...]

`ingest` discovers *.json / *.csv recursively (reference
`main.py:58-73`), sanitizes identifiers, and writes parquet staging
tables. `run` loads *.sql model files + sources.json from a
directory (reference `models/yelp/`) and materializes the DAG.
"""

from __future__ import annotations

import argparse
import os
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="gmt_dbt_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    p_ing = sub.add_parser("ingest", help="discover+sanitize+load JSON/CSV to parquet")
    p_ing.add_argument("src_dir")
    p_ing.add_argument("warehouse_dir")

    p_run = sub.add_parser("run", help="run a directory of dbt-style .sql models")
    p_run.add_argument("models_dir")
    p_run.add_argument("warehouse_dir")
    p_run.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    p_run.add_argument(
        "--stg-dir",
        default=None,
        help="directory of ingested parquet tables to register as stg_* "
        "views (defaults to warehouse_dir, so `ingest X W` then "
        "`run M W` compose)",
    )
    p_run.add_argument("--threads", type=int, default=4)

    sub.add_parser("bench", help="run the headline benchmark")

    p_chk = sub.add_parser("selfcheck", help="oracle-check registered queries")
    p_chk.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    p_chk.add_argument("queries", nargs="*")

    args = ap.parse_args(argv)

    if args.cmd == "bench":
        import runpy

        sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
        runpy.run_path(
            os.path.join(
                os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "bench.py"
            ),
            run_name="__main__",
        )
        return 0

    if args.cmd == "selfcheck":
        import subprocess

        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        return subprocess.call(
            [sys.executable, os.path.join(repo, "tools", "selfcheck.py"),
             args.sf_dir, *args.queries]
        )

    from gmt_dbt_spark.session import get_spark

    spark = get_spark("gmt_dbt_spark-cli")

    if args.cmd == "ingest":
        from gmt_dbt_spark.sources.readers import ingest_directory

        n = ingest_directory(spark, args.src_dir, args.warehouse_dir)
        print(f"ingested {n} tables into {args.warehouse_dir}")
        return 0

    if args.cmd == "run":
        from gmt_dbt_spark.catalog import TABLES, read_parquet, table
        from gmt_dbt_spark.plans.models import ModelProject, load_models_dir

        # register the warehouse tables as stg_* so sources.json can
        # point at them (the STG dataset layer, `main.py:38-55`)
        for t in TABLES:
            try:
                table(spark, args.sf_dir, t).createOrReplaceTempView(f"stg_{t}")
            except Exception:
                pass
        # ... and any parquet tables a prior `ingest` wrote (the
        # reference lifecycle is main.py ingest -> dbt run over the
        # SAME dataset; ingested tables shadow same-named sf-dir ones).
        # Model OUTPUT dirs are skipped — on a re-run a model that
        # shares a name with an ingested table must not silently read
        # its own previous output as its source — and unreadable dirs
        # are reported but don't abort the run.
        models, sources = load_models_dir(args.models_dir)
        model_names = {m.name for m in models}
        stg_dir = args.stg_dir or args.warehouse_dir
        if os.path.isdir(stg_dir):
            for name in sorted(os.listdir(stg_dir)):
                tdir = os.path.join(stg_dir, name)
                if name in model_names or not os.path.isdir(tdir):
                    continue
                if any(f.endswith(".parquet") for f in os.listdir(tdir)):
                    try:
                        read_parquet(spark, tdir).createOrReplaceTempView(
                            f"stg_{name}"
                        )
                    except Exception as exc:
                        print(f"skipping unreadable staging dir {tdir}: {exc}")
        project = ModelProject(
            spark, models, sources, warehouse_dir=args.warehouse_dir,
            threads=args.threads,
        )
        results = project.run()
        for name, df in results.items():
            print(f"model {name}: {df.count()} rows")
        return 0

    return 1


if __name__ == "__main__":
    raise SystemExit(main())
